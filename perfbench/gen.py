"""Seeded workload generator for the benchmark.

Every workload input is a pure function of (workload profile, seed): the
same seed gives byte-identical inputs, another seed gives other inputs.
Generation is plain Python on the driver (no Spark job), so it costs
set-up time only and never shares code with the program under test.

Gold labels (entity ids, planted ladder answers, planted clean-pipeline
verdicts) stay in the returned objects; only the input tables are written
for the program to read.

The ER generator is tuned by traffic properties:

* ``turns`` -- input rows;
* ``copies`` -- mean rows per canonical group (exact or canonical repeats:
  case, punctuation and marker changes that keep the canonical text);
* ``variants`` -- mean distinct canonical groups per entity beyond the base;
* ``key_breaking`` -- share of entities with one variant that changes the
  phonetic blocking key (digit typo, token drop, adjacent transposition), so
  its pairs can never be scored and ``pair_recall`` can fall below 1; the
  other variants keep the key (tail edits past the key's token window);
* ``hot_share`` -- share of rows in one entity whose distinct variants all
  share one block, larger than the pipeline's block cap;
* ``sibling_share`` -- share of entities that copy another entity's key
  tokens and number but differ in the tail (hard negatives in one block).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

import pyarrow as pa

# Vocabulary: key tokens (the blocking key reads the first six tokens).
_SUBJECTS = [
    "customer", "agent", "deploy", "invoice", "cluster", "pipeline", "ticket",
    "release", "database", "metric", "schema", "payment", "vendor", "account",
    "session", "token", "backup", "replica", "shard", "gateway", "ledger",
    "carrier", "warehouse", "tenant",
]
_VERBS = [
    "restarted", "escalated", "reconciled", "migrated", "flagged", "resolved",
    "archived", "validated", "rejected", "throttled", "reindexed", "merged",
    "patched", "rotated", "drained", "audited",
]
_ADJECTIVES = [
    "billing", "kubernetes", "quarterly", "customer", "audit", "search",
    "export", "retry", "staging", "access", "usage", "shipment", "regional",
    "nightly", "primary", "legacy",
]
_OBJECTS = [
    "report", "pod", "summary", "record", "trail", "index", "job", "queue",
    "table", "policy", "dashboard", "manifest", "bucket", "snapshot",
]
_PEOPLE = [
    "smith", "garcia", "nguyen", "okafor", "tanaka", "muller", "rossi",
    "kowalski", "haddad", "johansson", "silva", "novak", "fischer", "moreau",
    "park", "dubois", "costa", "larsen", "petrov", "walsh",
]
_CLOSERS = ["reviewed", "approved", "signed off", "checked", "confirmed"]
_ROLES = ["user", "assistant", "tool"]
_TOOLS = [None, "search", "sql", "browser", "calc"]
_SYLLABLES = [
    "ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve", "zu", "gra", "pli",
    "dor", "fen", "mak", "tis", "bru", "cel", "dav", "hum", "jor", "kin",
    "lum", "nox", "quo", "rem", "sal", "tor",
]

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
INDEX_SCHEMA = pa.schema(
    [
        ("record_id", pa.string()),
        ("text", pa.string()),
        ("role", pa.string()),
        ("tool", pa.string()),
    ]
)
_TS0 = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z in microseconds


def rng_for(seed: int, workload: str) -> random.Random:
    """One independent stream per (seed, workload); str seeds hash stably."""
    return random.Random(f"perfbench:{workload}:{seed}")


def _pseudo_word(rng: random.Random, n_syl: int = 3) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(n_syl))


# ---------------------------------------------------------------- ER inputs


@dataclass(frozen=True)
class ErProfile:
    turns: int
    copies: float
    variants: float
    key_breaking: float
    hot_share: float
    sibling_share: float
    placeholder_share: float = 0.01


@dataclass
class ErInput:
    table: pa.Table                 # the transcript table the program reads
    gold: dict[str, int]            # record_id -> gold entity id
    kinds: dict[str, int] = field(default_factory=dict)  # planted row kinds


def _base_text(rng: random.Random, number: int) -> tuple[list[str], str]:
    key = [
        rng.choice(_SUBJECTS).capitalize(),
        rng.choice(_VERBS),
        "the",
        rng.choice(_ADJECTIVES),
        rng.choice(_OBJECTS),
        "after",
    ]
    tail = f"request {number} was {rng.choice(_CLOSERS)} by {rng.choice(_PEOPLE)}"
    return key, tail


def _canonical_repeat(rng: random.Random, text: str) -> str:
    """A row with the same canonical text: case, punctuation or markers."""
    kind = rng.randrange(5)
    if kind == 0:
        return text
    if kind == 1:
        return text.upper()
    if kind == 2:
        return text.lower()
    if kind == 3:
        return text.replace(" ", " – ", 1).replace("request", "‘request’", 1)
    return ("Re: " if rng.random() < 0.5 else "Fwd: ") + text


def _key_preserving(rng: random.Random, key: list[str], tail: str) -> str:
    """A new canonical text with the same blocking key: edit past the key."""
    words = tail.split()
    if rng.random() < 0.5:
        words.append(_pseudo_word(rng, 2))
    else:
        words[-1] = rng.choice(_PEOPLE)
        words.insert(len(words) - 1, rng.choice(["agent", "lead", "desk"]))
    return " ".join(key + words)


def _key_breaking(rng: random.Random, key: list[str], tail: str, kind: int) -> str:
    """A near-identical text whose blocking key differs (kind 0, 1 or 2)."""
    words = tail.split()
    if kind == 0:  # digit typo in the request number
        num = words[1]
        pos = rng.randrange(len(num))
        digit = str((int(num[pos]) + 1 + rng.randrange(8)) % 10)
        words[1] = num[:pos] + digit + num[pos + 1:]
        return " ".join(key + words)
    key = list(key)
    if kind == 1:  # token drop inside the key window
        del key[rng.randrange(1, len(key))]
        return " ".join(key + words)
    # adjacent transposition of two distinct letters in a key word
    idx = rng.choice([0, 1, 3, 4])
    w = key[idx]
    spots = [i for i in range(1, len(w) - 1) if w[i] != w[i + 1]]
    i = rng.choice(spots)
    key[idx] = w[:i] + w[i + 1] + w[i] + w[i + 2:]
    return " ".join(key + words)


class Quota:
    """Deterministic share: ``take()`` is true for exactly ``share`` of calls
    (error diffusion), so a profile's composition does not vary by seed --
    only the texts, and their order, do."""

    def __init__(self, share: float):
        self.share = share
        self.acc = 0.0

    def take(self) -> bool:
        self.acc += self.share
        if self.acc >= 1.0:
            self.acc -= 1.0
            return True
        return False

    def count(self, mean: float) -> int:
        """int(mean), plus one for the fractional share of calls."""
        return int(mean) + self.take()


def generate_er(profile: ErProfile, seed: int, name: str) -> ErInput:
    rng = rng_for(seed, name)
    n = profile.turns
    rows: list[tuple[str, str, str | None, int, str]] = []  # text, role, tool, entity, kind
    numbers = rng.sample(range(100_000, 1_000_000), k=max(16, n))
    next_num = iter(numbers)

    hot_rows = int(n * profile.hot_share)
    entity = 0
    if hot_rows:
        key, tail = _base_text(rng, next(next_num))
        seen: set[str] = set()
        while len(seen) < hot_rows:
            words = tail.split() + [_pseudo_word(rng, 3)]
            seen.add(" ".join(key + words))
        for text in sorted(seen):
            rows.append((text, "assistant", "sql", entity, "hot"))
        entity += 1

    n_placeholder = int(n * profile.placeholder_share)
    for _ in range(n_placeholder):
        rows.append((rng.choice(["", "   ", "?", "...", "-"]), rng.choice(_ROLES), None, entity, "placeholder"))
        entity += 1

    bases: list[tuple[list[str], str, str, str | None]] = []
    siblings = Quota(profile.sibling_share)
    variants = Quota(profile.variants - int(profile.variants))
    breaking = Quota(profile.key_breaking)
    copies = Quota(profile.copies - int(profile.copies))
    n_breaking = 0
    while len(rows) < n:
        if bases and siblings.take():
            key, tail, role, tool = rng.choice(bases)
            words = tail.split()
            words[3:] = [rng.choice(_CLOSERS).split()[0], "by", _pseudo_word(rng, 3)]
            tail = " ".join(words)
            kind = "sibling"
        else:
            key, tail = _base_text(rng, next(next_num))
            role = rng.choice(_ROLES)
            tool = rng.choice(_TOOLS)
            bases.append((key, tail, role, tool))
            kind = "base"
        groups = [(" ".join(key) + " " + tail, kind)]
        n_variants = variants.count(profile.variants)
        broken = n_variants > 0 and breaking.take()
        for v in range(n_variants):
            if broken and v == 0:
                n_breaking += 1
                groups.append((_key_breaking(rng, key, tail, n_breaking % 3), "key_breaking"))
            else:
                groups.append((_key_preserving(rng, key, tail), "key_preserving"))
        for text, gkind in groups:
            for c in range(max(1, copies.count(profile.copies))):
                rows.append((text if c == 0 else _canonical_repeat(rng, text), role, tool, entity, gkind if c == 0 else "repeat"))
        entity += 1
    rows = rows[:n]
    rng.shuffle(rows)

    conv, turn, roles, texts, tools, ts = [], [], [], [], [], []
    gold: dict[str, int] = {}
    kinds: dict[str, int] = {}
    for i, (text, role, tool, ent, kind) in enumerate(rows):
        c, t = f"c{i // 20:07d}", i % 20
        conv.append(c)
        turn.append(t)
        roles.append(role)
        texts.append(text)
        tools.append(tool)
        ts.append(_TS0 + i * 1_000_000)
        gold[f"{c}#{t}"] = ent
        kinds[kind] = kinds.get(kind, 0) + 1
    table = pa.table(
        [conv, turn, roles, texts, tools, ts], schema=TRANSCRIPT_SCHEMA
    )
    return ErInput(table=table, gold=gold, kinds=kinds)


# ------------------------------------------------------------ ladder inputs


@dataclass(frozen=True)
class LadderProfile:
    index_rows: int
    queries: int
    files: int
    shares: tuple[float, float, float, float]  # exact, canonical, phonetic, none


@dataclass
class LadderInput:
    index: pa.Table
    query_files: list[pa.Table]
    truth: dict[str, tuple[str, str | None]]  # query record_id -> (type, index_id)


def generate_ladder(profile: LadderProfile, seed: int, name: str) -> LadderInput:
    """A canon-unique index and query micro-batches with planted answers.

    Every index row has its own request number, so no two index rows share
    a canonical text or a phonetic key and each planted query has exactly
    one right answer: EXACT (verbatim or case change), CANONICAL (a question
    marker the canonical form strips), PHONETIC (a tail edit that keeps the
    key) or NO_MATCH (tokens and a number absent from the index).
    """
    rng = rng_for(seed, name)
    numbers = rng.sample(range(100_000, 1_000_000), k=profile.index_rows + profile.queries)
    idx_texts, idx_roles = [], []
    for k in range(profile.index_rows):
        key, tail = _base_text(rng, numbers[k])
        idx_texts.append(" ".join(key) + " " + tail)
        idx_roles.append(rng.choice(_ROLES))
    index = pa.table(
        [
            [f"i{k}" for k in range(profile.index_rows)],
            idx_texts,
            idx_roles,
            [None] * profile.index_rows,
        ],
        schema=INDEX_SCHEMA,
    )
    kinds = []
    for kind, share in zip(("EXACT", "CANONICAL", "PHONETIC", "NO_MATCH"), profile.shares):
        kinds += [kind] * round(share * profile.queries)
    kinds = (kinds + ["EXACT"] * profile.queries)[: profile.queries]
    rng.shuffle(kinds)
    truth: dict[str, tuple[str, str | None]] = {}
    rows = []
    for j, kind in enumerate(kinds):
        k = rng.randrange(profile.index_rows)
        text, role = idx_texts[k], idx_roles[k]
        if kind == "EXACT":
            q, want = (text if j % 2 else text.upper()), ("EXACT", f"i{k}")
        elif kind == "CANONICAL":
            q, want = text + " ?", ("CANONICAL", f"i{k}")
        elif kind == "PHONETIC":
            q, want = text + " " + _pseudo_word(rng, 2), ("PHONETIC", f"i{k}")
        else:
            n = numbers[profile.index_rows + j]
            q = " ".join(_pseudo_word(rng, 2) for _ in range(5)) + f" token {n}"
            want = ("NO_MATCH", None)
        conv = f"q{j:07d}"
        truth[f"{conv}#0"] = want
        rows.append((conv, 0, role, q, None, _TS0 + j * 1_000_000))
    files = []
    for f in range(profile.files):
        part = rows[f :: profile.files]
        files.append(
            pa.table([list(col) for col in zip(*part)], schema=TRANSCRIPT_SCHEMA)
        )
    return LadderInput(index=index, query_files=files, truth=truth)


# ------------------------------------------------------------- clean inputs


@dataclass(frozen=True)
class CleanProfile:
    docs: int
    exact_share: float
    near_share: float
    junk_share: float
    boiler_share: float
    words: tuple[int, int] = (30, 50)


BOILERPLATE = "click here to subscribe now today"
STOP_TAIL = "the of"


@dataclass
class CleanInput:
    table: pa.Table
    texts: dict[int, str]
    exact_pairs: list[tuple[int, int]]   # (original, verbatim copy)
    near_pairs: list[tuple[int, int]]    # (original, first-word-swapped twin)
    junk: list[int]                      # must fail the quality gates


def generate_clean(profile: CleanProfile, seed: int, name: str) -> CleanInput:
    """Word-salad documents with planted duplicates, spans and junk.

    Base documents draw from a ~22k pseudo-word vocabulary, so organic
    exact or near duplicates do not occur; every base document ends in a
    two-stopword tail so it passes the Gopher stopword gate.
    """
    rng = rng_for(seed, name)
    texts: dict[int, str] = {}
    lo, hi = profile.words
    n = profile.docs
    boiler = Quota(profile.boiler_share)
    for d in range(n):
        words = [_pseudo_word(rng, 3) for _ in range(rng.randint(lo, hi))]
        if boiler.take():
            words.append(BOILERPLATE)
        texts[d] = " ".join(words) + " " + STOP_TAIL
    originals = rng.sample(range(n), k=int(n * (profile.exact_share + profile.near_share)))
    n_exact = int(n * profile.exact_share)
    next_id = n
    exact_pairs, near_pairs = [], []
    for i, d in enumerate(originals):
        if i < n_exact:
            texts[next_id] = texts[d]
            exact_pairs.append((d, next_id))
        else:
            first, rest = texts[d].split(" ", 1)
            texts[next_id] = _pseudo_word(rng, 3) + " " + rest
            near_pairs.append((d, next_id))
        next_id += 1
    junk = []
    for _ in range(max(1, int(n * profile.junk_share))):
        kind = rng.randrange(3)
        if kind == 0:
            texts[next_id] = "a b c"
        elif kind == 1:
            texts[next_id] = " ".join(["aaaa"] * rng.randint(20, 40)) + " the of"
        else:
            texts[next_id] = " ".join(["# ..."] * rng.randint(10, 20))
        junk.append(next_id)
        next_id += 1
    ids = list(texts)
    rng.shuffle(ids)
    table = pa.table([ids, [texts[i] for i in ids]], schema=DOC_SCHEMA)
    return CleanInput(table, texts, exact_pairs, near_pairs, junk)
