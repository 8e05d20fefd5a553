"""Determinism of the workload generator and the Spark-free output checks.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import json
import os
import subprocess
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from spans import Tracer  # noqa: E402
from truth import contingency_scores, strip_oracle  # noqa: E402

ER = gen.ErProfile(turns=1_500, copies=1.25, variants=3.0, key_breaking=0.3, hot_share=0.15, sibling_share=0.02)
LADDER = gen.LadderProfile(index_rows=200, queries=80, files=4, shares=(0.4, 0.2, 0.25, 0.15))
CLEAN = gen.CleanProfile(docs=200, exact_share=0.05, near_share=0.04, junk_share=0.02, boiler_share=0.1)


def _all(seed: int):
    return (
        gen.generate_er(ER, seed, "er"),
        gen.generate_ladder(LADDER, seed, "ladder"),
        gen.generate_clean(CLEAN, seed, "clean"),
    )


def test_same_seed_same_inputs():
    a_er, a_ld, a_cl = _all(7)
    b_er, b_ld, b_cl = _all(7)
    assert a_er.table.equals(b_er.table) and a_er.gold == b_er.gold
    assert a_ld.index.equals(b_ld.index) and a_ld.truth == b_ld.truth
    assert all(x.equals(y) for x, y in zip(a_ld.query_files, b_ld.query_files))
    assert a_cl.table.equals(b_cl.table) and a_cl.near_pairs == b_cl.near_pairs


def test_different_seeds_differ():
    a_er, a_ld, a_cl = _all(7)
    b_er, b_ld, b_cl = _all(8)
    assert not a_er.table.equals(b_er.table)
    assert not a_ld.index.equals(b_ld.index)
    assert not a_cl.table.equals(b_cl.table)


def test_composition_is_fixed_by_the_profile():
    """Seeds change texts and order, not how much of each kind is planted."""
    a_er, a_ld, a_cl = _all(7)
    b_er, b_ld, b_cl = _all(8)
    assert a_er.kinds == b_er.kinds
    assert a_er.table.num_rows == ER.turns
    assert a_er.kinds["hot"] == int(ER.turns * ER.hot_share)
    assert Counter(t for t, _ in a_ld.truth.values()) == Counter(t for t, _ in b_ld.truth.values())
    assert (len(a_cl.exact_pairs), len(a_cl.near_pairs), len(a_cl.junk)) == (
        len(b_cl.exact_pairs), len(b_cl.near_pairs), len(b_cl.junk)
    )


def test_gold_labels_stay_out_of_the_inputs():
    er, ld, cl = _all(3)
    assert er.table.schema.equals(gen.TRANSCRIPT_SCHEMA)
    assert ld.index.schema.equals(gen.INDEX_SCHEMA)
    assert all(f.schema.equals(gen.TRANSCRIPT_SCHEMA) for f in ld.query_files)
    assert cl.table.schema.equals(gen.DOC_SCHEMA)
    record_ids = {f"{c}#{t}" for c, t in zip(er.table.column("conv_id").to_pylist(), er.table.column("turn_idx").to_pylist())}
    assert record_ids == er.gold.keys()


def test_ladder_index_is_canon_unique():
    _, ld, _ = _all(5)
    texts = ld.index.column("text").to_pylist()
    numbers = [t.split(" request ")[1].split()[0] for t in texts]
    assert len(set(numbers)) == len(numbers)


def test_contingency_scores_match_pair_enumeration():
    pred = [0, 0, 0, 1, 1, 2, 3, 3]
    gold = [5, 5, 6, 6, 6, 7, 7, 7]
    pairs = list(itertools.combinations(range(len(pred)), 2))
    same_p = {(i, j) for i, j in pairs if pred[i] == pred[j]}
    same_g = {(i, j) for i, j in pairs if gold[i] == gold[j]}
    got = contingency_scores(pred, gold)
    assert got["pair_precision"] == len(same_p & same_g) / len(same_p)
    assert got["pair_recall"] == len(same_p & same_g) / len(same_g)
    assert contingency_scores([1, 1, 2], [9, 9, 8])["match_accuracy"] == 1.0
    assert contingency_scores([1, 1, 1], [9, 9, 8])["match_accuracy"] == 0.0


def test_strip_oracle_removes_only_shared_spans():
    texts = {1: "a b c d e f", 2: "x a b c d y", 3: "p q r s"}
    out = strip_oracle(texts)
    assert out == {1: "e f", 2: "x y", 3: "p q r s"}


def test_nested_spans_of_one_name_count_once():
    """read_local_pandas calls read_local_arrow; both open a span."""
    tr = Tracer(lambda: 0)
    with tr.span("read_local"):
        with tr.span("read_local"):
            pass
    with tr.span("read_local"):
        pass
    outer = [s for s in tr.spans if s.parent is None]
    assert tr.total("read_local") == sum(s.seconds for s in outer)


def test_bare_directory_fails_without_a_result(tmp_path):
    """With only BENCHMARK.json and the benchmark's files, it must fail."""
    import shutil

    repo = os.path.dirname(BENCH)
    shutil.copy(os.path.join(repo, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    spec = json.loads((tmp_path / "BENCHMARK.json").read_text())
    name = spec["workloads"][0]["name"]
    proc = subprocess.run(
        spec["command"] + ["--workload", name, "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
