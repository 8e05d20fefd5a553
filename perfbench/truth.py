"""Output checks that need no Spark: clustering scores and a span oracle.

Both are independent of the package: they read the program's output and
the generator's gold labels only.
"""

from __future__ import annotations

import hashlib
from collections import Counter


def digest(items) -> str:
    """Order-sensitive 128-bit digest of an iterable of reprs."""
    h = hashlib.blake2b(digest_size=16)
    for item in items:
        h.update(repr(item).encode())
    return h.hexdigest()


def contingency_scores(pred: list, gold: list) -> dict:
    """Pair precision/recall and record accuracy from cluster x entity counts.

    Closed form over the contingency table -- no pair is enumerated:
    TP = sum C(n_ce, 2), predicted pairs = sum C(n_c, 2), gold pairs =
    sum C(n_e, 2). A record is matched exactly when its cluster and its
    gold entity have the same members (n_ce == n_c == n_e).
    """
    cells = Counter(zip(pred, gold))
    csize, esize = Counter(pred), Counter(gold)
    c2 = lambda n: n * (n - 1) // 2
    tp = sum(c2(n) for n in cells.values())
    pp = sum(c2(n) for n in csize.values())
    gp = sum(c2(n) for n in esize.values())
    exact = sum(n for (c, e), n in cells.items() if n == csize[c] == esize[e])
    return {
        "pair_precision": tp / pp if pp else 1.0,
        "pair_recall": tp / gp if gp else 1.0,
        "match_accuracy": exact / len(pred) if pred else 1.0,
    }


def strip_oracle(texts: dict[int, str], span_n: int = 4) -> dict[int, str | None]:
    """Independent cross-doc duplicated-span removal over `texts`.

    A token is removed when some `span_n`-token window covering it occurs
    in at least two distinct documents (lower-cased, whitespace tokens).
    """
    toks = {d: t.lower().split() for d, t in texts.items()}
    owners: dict[tuple, set] = {}
    for d, ws in toks.items():
        for i in range(max(1, len(ws) - span_n + 1)):
            owners.setdefault(tuple(ws[i : i + span_n]), set()).add(d)
    out: dict[int, str | None] = {}
    for d, ws in toks.items():
        covered = set()
        for i in range(max(1, len(ws) - span_n + 1)):
            if len(owners[tuple(ws[i : i + span_n])]) >= 2:
                covered.update(range(i, min(len(ws), i + span_n)))
        kept = [w for i, w in enumerate(ws) if i not in covered]
        out[d] = " ".join(kept) if kept else None
    return out
