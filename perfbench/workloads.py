"""The benchmark's workloads over the package's public entry points.

Each workload stages its seeded input (untimed), runs the program once per
call of ``run`` (the timed region) and checks the output of that run
against its planted truth (untimed). ``layers`` turns one traced run into
the per-layer figures.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import gen
from truth import contingency_scores, digest, strip_oracle
from spans import Tracer, median, task_skew

from ala_name_matching_spark.functions.jw_vectorized import jw_batch
from ala_name_matching_spark.plans.clean_pipeline import run_clean_pipeline
from ala_name_matching_spark.plans.pipeline import cluster_summary, run_pipeline
from ala_name_matching_spark.sources.checkpoints import CheckpointManager
from ala_name_matching_spark.streaming import incremental as incremental_mod
from ala_name_matching_spark.streaming.incremental import (
    incremental_match,
    read_transcript_stream,
)

ER_PHASES = ("p1_features", "p2_canon_reps", "p4_edges", "p5_group_labels", "p6_clusters")
CLEAN_STAGES = ("c1_quality", "c2_exact", "c3_neardup", "c4_strip")

PROFILES = {
    "er_fuzzy_durable": {
        "full": gen.ErProfile(turns=12_000, copies=1.25, variants=3.0, key_breaking=0.3, hot_share=0.0333, sibling_share=0.02),
        "smoke": gen.ErProfile(turns=2_000, copies=1.25, variants=3.0, key_breaking=0.3, hot_share=0.15, sibling_share=0.02),
    },
    "ladder_stream": {
        # read_transcript_stream takes 4 files per trigger: 2 micro-batches
        "full": gen.LadderProfile(index_rows=2_000, queries=200, files=8, shares=(0.4, 0.2, 0.25, 0.15)),
        "smoke": gen.LadderProfile(index_rows=300, queries=60, files=8, shares=(0.4, 0.2, 0.25, 0.15)),
    },
    "clean_docs": {
        "full": gen.CleanProfile(docs=2_000, exact_share=0.05, near_share=0.04, junk_share=0.02, boiler_share=0.1),
        "smoke": gen.CleanProfile(docs=300, exact_share=0.05, near_share=0.04, junk_share=0.02, boiler_share=0.1),
    },
}

JW_SAMPLE_PAIRS = 20_000


def consume(df: DataFrame) -> int:
    """Materialize every output column into one JVM aggregate (no pruning)."""
    return df.select(F.xxhash64(*df.columns).alias("_h")).agg(
        F.bit_xor("_h")
    ).collect()[0][0]


def write_table(table, path: str, files: int) -> None:
    """Write `table` as a parquet directory of `files` row slices, so the
    program's scan has one task per core (a single file is one task)."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def read_staged(spark, path: str, schema) -> DataFrame:
    """The staged table as the program's input, with its schema given so
    opening it starts no schema-inference job."""
    from pyspark.sql.pandas.types import from_arrow_schema

    return spark.read.schema(from_arrow_schema(schema)).parquet(path)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class TracingCheckpointManager(CheckpointManager):
    """A CheckpointManager that records spans around its public methods.

    Program behaviour is unchanged: every method defers to the base class.
    The first top-level call naming one of ``segments`` opens that
    segment, so the pipeline's own checkpoint-store calls mark where each
    phase starts. Create it inside the span the segments belong to.
    """

    def __init__(self, spark, root, tracer: Tracer, segments: tuple[str, ...]):
        super().__init__(spark, root)
        self.tracer = tracer
        self.segments = segments
        self.scope = tracer.current()
        self.seen: set[str] = set()

    def _boundary(self, phase: str) -> None:
        top = self.tracer.current()
        at_top = top is self.scope or (top is not None and top.segment)
        if at_top and phase in self.segments and phase not in self.seen:
            self.seen.add(phase)
            self.tracer.mark(phase)

    def exists(self, phase):
        self._boundary(phase)
        return super().exists(phase)

    def materialize(self, phase, df, partition_by=None):
        self._boundary(phase)
        with self.tracer.span(f"commit:{phase}"):
            return super().materialize(phase, df, partition_by)

    def write_driver_table(self, name, pdf, n_files=8):
        with self.tracer.span(f"commit:{name}"):
            return super().write_driver_table(name, pdf, n_files)

    def read_local_pandas(self, phase, columns=None):
        with self.tracer.span("read_local"):
            return super().read_local_pandas(phase, columns)

    def read_local_arrow(self, phase, columns=None):
        with self.tracer.span("read_local"):
            return super().read_local_arrow(phase, columns)


@dataclass
class RunResult:
    output: object
    digest: object
    extra: dict = field(default_factory=dict)


class Workload:
    """Shared lifecycle: work directories, staging and per-run cleanup."""

    rows_label = "rows"

    def __init__(self, spark, work: str, seed: int, size: str, name: str):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.name = name
        self.profile = PROFILES[name][size]
        self.reference: dict[str, object] = {}
        self.files = 2 * spark.sparkContext.defaultParallelism
        self._runs = 0
        os.makedirs(work, exist_ok=True)

    def fresh_dir(self, tag: str) -> str:
        self._runs += 1
        path = os.path.join(self.work, f"{tag}-{self._runs}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def warm(self) -> bool:
        """One untimed, checked run; its output is the reference."""
        result = self.run()
        try:
            return self.check(result)[0]
        finally:
            self.cleanup(result)

    def agree(self, key: str, value) -> bool:
        """First value of `key` is the reference; later ones must equal it."""
        return self.reference.setdefault(key, value) == value

    def jw_pairs_per_s(self, texts: list[str]) -> float:
        """jw_batch throughput on seeded pairs of this workload's texts."""
        rng = gen.rng_for(self.seed, self.name + ":jw")
        a = pd.Series([rng.choice(texts).lower() for _ in range(JW_SAMPLE_PAIRS)])
        b = pd.Series([rng.choice(texts).lower() for _ in range(JW_SAMPLE_PAIRS)])
        rates = []
        for _ in range(3):
            t0 = time.perf_counter()
            jw_batch(a, b)
            rates.append(JW_SAMPLE_PAIRS / (time.perf_counter() - t0))
        return median(rates)


# ----------------------------------------------------------------------- ER


class ErWorkload(Workload):
    """run_pipeline with a CheckpointManager directory, as jobs/run_er.py
    --checkpoint-dir runs it; the in-memory lane is the cross-check."""

    rows_label = "turns"

    def stage(self) -> None:
        self.data = gen.generate_er(self.profile, self.seed, self.name)
        path = os.path.join(self.work, "transcripts.parquet")
        write_table(self.data.table, path, self.files)
        self.input = read_staged(self.spark, path, self.data.table.schema)
        self.rows = self.data.table.num_rows

    def run(self, tracer: Tracer | None = None) -> RunResult:
        root = self.fresh_dir("ckpt")
        if tracer is None:
            mgr = CheckpointManager(self.spark, root)
            t0 = time.perf_counter()
            clustered = run_pipeline(self.input, checkpoints=mgr)
            batch_s = time.perf_counter() - t0
            summary = consume(cluster_summary(clustered))
            return RunResult(clustered, summary, {"mgr": mgr, "batch_s": batch_s})
        with tracer.span("run_pipeline"):
            mgr = TracingCheckpointManager(self.spark, root, tracer, ER_PHASES)
            clustered = run_pipeline(self.input, checkpoints=mgr)
        with tracer.span("summary"):
            summary = consume(cluster_summary(clustered))
        return RunResult(clustered, summary, {"mgr": mgr})

    def _partition(self, clustered: DataFrame) -> tuple[list, list, str]:
        """(record ids, cluster labels, digest); a cluster is labelled by
        its smallest record id, so the digest compares partitions, not
        the program's label values."""
        pdf = clustered.select("record_id", "cluster_id").toPandas()
        ids = pdf["record_id"].tolist()
        pred = pdf.groupby("cluster_id")["record_id"].transform("min").tolist()
        return ids, pred, digest(sorted(zip(ids, pred)))

    def check(self, result: RunResult) -> tuple[bool, dict]:
        ids, pred, part = self._partition(result.output)
        ok = len(ids) == self.rows and set(ids) == self.data.gold.keys()
        ok = ok and self.agree("partition", part) and self.agree("summary", result.digest)
        gold = [self.data.gold.get(r, -1) for r in ids]
        quality = contingency_scores(pred, gold)
        quality["clusters"] = len(set(pred))
        return ok, quality

    def warm(self) -> bool:
        """Untimed cross-check, once per set-up: one in-memory run (no
        checkpoint directory) sets the reference partition, which every
        timed durable run must reproduce. It is also the warm-up pass."""
        ids, _, part = self._partition(run_pipeline(self.input))
        return len(ids) == self.rows and self.agree("partition", part)

    def batch_seconds(self, result: RunResult) -> list[float]:
        """The table is one batch: the run_pipeline call, through its
        last phase commit."""
        return [result.extra["batch_s"]]

    def cleanup(self, result: RunResult) -> None:
        shutil.rmtree(result.extra["mgr"].root, ignore_errors=True)

    def layers(self, tracer: Tracer, result: RunResult, quality: dict, wall: float) -> dict:
        mgr: TracingCheckpointManager = result.extra["mgr"]
        seg = {s.name: s for s in tracer.spans if s.segment}
        secs = lambda n: seg[n].seconds if n in seg else 0.0
        ctr = lambda n, k: seg[n].counters.get(k, 0) if n in seg else 0
        p3 = tracer.total("commit:p3_block_stats")
        row = mgr.read("p3_block_stats").agg(
            F.max("block_size"),
            F.sum("pairs_full"),
            F.sum(F.col("pairs_full") - F.col("pairs_retained_est")),
        ).collect()[0]
        max_block, pairs_full, dropped = (row[0] or 0), (row[1] or 0), (row[2] or 0)
        n_edges = mgr.row_count("p4_edges")
        summary = tracer.total("summary")
        covered = sum(secs(p) for p in ER_PHASES) + summary
        run = tracer.named("run")[0]
        return {
            "blocking.p1_features_s": secs("p1_features"),
            "blocking.p2_canon_reps_s": secs("p2_canon_reps"),
            "blocking.p2_shuffle_write_bytes": ctr("p2_canon_reps", "shuffle_write_bytes"),
            "blocking.p2_rows_out": mgr.row_count("p2_canon_reps"),
            "blocking.p3_block_stats_s": p3,
            "blocking.max_block_size": max_block,
            "blocking.pairs_dropped_by_cap": dropped,
            "pairs.p4_edges_s": secs("p4_edges") - p3,
            "pairs.p4_shuffle_write_bytes": ctr("p4_edges", "shuffle_write_bytes"),
            "pairs.p4_spill_bytes": ctr("p4_edges", "spill_bytes"),
            "pairs.p4_task_skew": task_skew(seg["p4_edges"].counters) if "p4_edges" in seg else 1.0,
            "pairs.accept_ratio": n_edges / pairs_full if pairs_full else 0.0,
            "functions.jw_pairs_per_s": self.jw_pairs_per_s(self.data.table.column("text").to_pylist()),
            "clustering.p5_labels_s": secs("p5_group_labels"),
            "clustering.p5_edges_in": n_edges,
            "clustering.p6_assign_s": secs("p6_clusters"),
            "clustering.clusters": quality["clusters"],
            "checkpoints.bytes_written": _dir_bytes(mgr.root),
            "checkpoints.read_local_s": tracer.total("read_local"),
            "pipeline.summary_s": summary,
            "pipeline.unattributed_s": wall - covered,
            "pipeline.jobs": run.counters["jobs"],
            "pipeline.coverage": covered / wall,
            "trace.coverage": covered / wall,
        }


# ------------------------------------------------------------------- ladder


class LadderWorkload(Workload):
    rows_label = "queries"

    def stage(self) -> None:
        self.data = gen.generate_ladder(self.profile, self.seed, self.name)
        idx = os.path.join(self.work, "index.parquet")
        write_table(self.data.index, idx, self.files)
        # the stream's source: one parquet file per planted query file
        self.in_dir = os.path.join(self.work, "queries")
        shutil.rmtree(self.in_dir, ignore_errors=True)
        os.makedirs(self.in_dir)
        for i, part in enumerate(self.data.query_files):
            pq.write_table(part, os.path.join(self.in_dir, f"part-{i:05d}.parquet"))
        self.index = read_staged(self.spark, idx, self.data.index.schema)
        self.rows = sum(t.num_rows for t in self.data.query_files)

    # warm() is the inherited one: an untimed, checked pass of the whole
    # stream. A shorter warm-up left the first timed pass partly cold, by an
    # amount that varied from run to run (METRICS.md, Warm-up).

    def _stream(self):
        base = self.fresh_dir("stream")
        out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
        query = incremental_match(
            read_transcript_stream(self.spark, self.in_dir), self.index, out, ckpt
        )
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
        return RunResult(out, None, {"base": base, "progress": query.recentProgress, "batches": progress})

    def run(self, tracer: Tracer | None = None) -> RunResult:
        if tracer is None:
            return self._stream()
        original = incremental_mod.search_ladder

        def traced_search(*args, **kw):
            with tracer.span("search_ladder"):
                return original(*args, **kw)

        incremental_mod.search_ladder = traced_search
        try:
            with tracer.span("stream"):
                return self._stream()
        finally:
            incremental_mod.search_ladder = original

    def batch_seconds(self, result: RunResult) -> list[float]:
        return [p["durationMs"]["triggerExecution"] / 1000.0 for p in result.extra["batches"]]

    def _matches(self, result: RunResult) -> dict:
        rows = self.spark.read.parquet(result.output).select(
            "query_id", "index_id", "match_type"
        ).collect()
        got = {r["query_id"]: (r["match_type"], r["index_id"]) for r in rows}
        if len(got) != len(rows):
            raise ValueError("a query was answered more than once")
        return got

    def check(self, result: RunResult) -> tuple[bool, dict]:
        got = self._matches(result)
        truth = self.data.truth
        right = sum(got.get(q) == want for q, want in truth.items())
        matched = [q for q, (_, i) in got.items() if i is not None]
        planted = [q for q, (_, i) in truth.items() if i is not None]
        correct_pairs = sum(got[q] == truth.get(q) for q in matched)
        tiers = Counter(t for t, _ in got.values())
        quality = {
            "pair_precision": correct_pairs / len(matched) if matched else 1.0,
            "pair_recall": correct_pairs / len(planted) if planted else 1.0,
            "match_accuracy": right / len(truth),
            "tiers": tiers,
        }
        ok = len(got) == len(truth) and right == len(truth)
        ok = ok and self.agree("output", digest(sorted(got.items())))
        return ok, quality

    def cleanup(self, result: RunResult) -> None:
        shutil.rmtree(result.extra["base"], ignore_errors=True)

    def layers(self, tracer: Tracer, result: RunResult, quality: dict, wall: float) -> dict:
        batches = result.extra["batches"]
        trig = [p["durationMs"]["triggerExecution"] / 1000.0 for p in batches]
        add = [p["durationMs"].get("addBatch", 0) / 1000.0 for p in batches]
        all_trig = sum(p["durationMs"]["triggerExecution"] for p in result.extra["progress"]) / 1000.0
        stream = tracer.named("stream")[0]
        tiers = quality["tiers"]
        texts = [t for f in self.data.query_files for t in f.column("text").to_pylist()]
        texts += self.data.index.column("text").to_pylist()
        return {
            "functions.jw_pairs_per_s": self.jw_pairs_per_s(texts),
            "ladder.search_s": median([s.seconds for s in tracer.named("search_ladder")]),
            "ladder.jobs_per_batch": stream.counters["jobs"] / max(1, len(batches)),
            "ladder.exact": tiers.get("EXACT", 0),
            "ladder.canonical": tiers.get("CANONICAL", 0),
            "ladder.phonetic": tiers.get("PHONETIC", 0),
            "ladder.no_match": tiers.get("NO_MATCH", 0),
            "streaming.add_batch_s": median(add),
            "streaming.overhead_s": median([t - a for t, a in zip(trig, add)]),
            "streaming.batches": len(batches),
            "trace.coverage": all_trig / wall,
        }


# -------------------------------------------------------------------- clean


class CleanWorkload(Workload):
    rows_label = "documents"

    def stage(self) -> None:
        self.warm_data = gen.generate_clean(PROFILES[self.name]["smoke"], self.seed, self.name + ":warm")
        self.data = gen.generate_clean(self.profile, self.seed, self.name)
        for tag, data in (("warm", self.warm_data), ("full", self.data)):
            path = os.path.join(self.work, f"documents-{tag}.parquet")
            write_table(data.table, path, self.files)
            setattr(self, f"{tag}_input", read_staged(self.spark, path, data.table.schema))
        self.input = self.full_input
        self.rows = self.data.table.num_rows

    def warm(self) -> bool:
        """One untimed, checked run over a small input of the smoke
        profile: it reaches the same code as a full pass at a fraction of
        its cost. The reference output is then the first timed run's."""
        full = self.data
        self.data, self.input = self.warm_data, self.warm_input
        try:
            return super().warm()
        finally:
            self.data, self.input = full, self.full_input
            self.reference.clear()

    def batch_seconds(self, result: RunResult) -> list[float]:
        """The table is one batch: the run_clean_pipeline call, through its
        last stage commit."""
        return [result.extra["batch_s"]]

    def run(self, tracer: Tracer | None = None) -> RunResult:
        root = self.fresh_dir("ckpt")
        if tracer is None:
            mgr = CheckpointManager(self.spark, root)
            t0 = time.perf_counter()
            out = run_clean_pipeline(self.input, checkpoints=mgr)
            batch_s = time.perf_counter() - t0
            return RunResult(out, consume(out["clean"]), {"mgr": mgr, "batch_s": batch_s})
        with tracer.span("run_clean_pipeline"):
            mgr = TracingCheckpointManager(self.spark, root, tracer, CLEAN_STAGES)
            # until the first stage commit, the pipeline counts its input
            tracer.mark("c0_input")
            out = run_clean_pipeline(self.input, checkpoints=mgr)
        with tracer.span("consume"):
            clean_hash = consume(out["clean"])
        return RunResult(out, clean_hash, {"mgr": mgr})

    def check(self, result: RunResult) -> tuple[bool, dict]:
        d = self.data
        rows = result.output["clean"].select("doc_id", "clean_text").collect()
        got = {r["doc_id"]: r["clean_text"] for r in rows}
        removed = set(d.texts) - set(got)
        justified = set(d.junk)
        one_left = 0
        for a, b in d.exact_pairs + d.near_pairs:
            if (a in got) != (b in got):
                one_left += 1
                justified.update({a, b} & removed)
        planted = len(d.junk) + len(d.exact_pairs) + len(d.near_pairs)
        made = len(set(d.junk) & removed) + one_left
        expected = strip_oracle({i: d.texts[i] for i in got})
        exact_kept_low = all(a in got for a, _ in d.exact_pairs)
        pair_ids = {i for p in d.exact_pairs + d.near_pairs for i in p}
        right = sum(
            1
            for i in d.texts
            if (i in got and got[i] == expected[i])
            or (i in removed and (i in d.junk or (i in pair_ids and i in justified)))
        )
        quality = {
            "pair_precision": len(removed & justified) / len(removed) if removed else 1.0,
            "pair_recall": made / planted if planted else 1.0,
            "match_accuracy": right / len(d.texts),
            "docs_out": {r["stage"]: r["docs_out"] for r in result.output["stats"].collect()},
        }
        ok = right == len(d.texts) and exact_kept_low
        ok = ok and self.agree("output", digest(sorted(got.items())))
        return ok, quality

    def cleanup(self, result: RunResult) -> None:
        shutil.rmtree(result.extra["mgr"].root, ignore_errors=True)

    def layers(self, tracer: Tracer, result: RunResult, quality: dict, wall: float) -> dict:
        seg = {s.name: s for s in tracer.spans if s.segment}
        commit = {c: tracer.total(f"commit:{c}") for c in CLEAN_STAGES}
        counts = seg["c0_input"].seconds + sum(
            seg[c].seconds - commit[c] for c in CLEAN_STAGES if c in seg
        )
        covered = sum(s.seconds for s in seg.values()) + tracer.total("consume")
        c3 = seg.get("c3_neardup")
        docs_out = quality["docs_out"]
        out = {
            "functions.jw_pairs_per_s": self.jw_pairs_per_s(list(self.data.texts.values())),
            "checkpoints.bytes_written": _dir_bytes(result.extra["mgr"].root),
            "clean.c1_quality_s": commit["c1_quality"],
            "clean.c2_exact_s": commit["c2_exact"],
            "clean.c3_neardup_s": commit["c3_neardup"],
            "clean.c4_strip_s": commit["c4_strip"],
            "clean.c3_shuffle_write_bytes": c3.counters.get("shuffle_write_bytes", 0) if c3 else 0,
            "clean.counts_s": counts,
            "clean.unattributed_s": wall - covered,
            "clean.coverage": covered / wall,
            "trace.coverage": covered / wall,
        }
        for c in CLEAN_STAGES:
            out[f"clean.{c.split('_')[0]}_docs_out"] = docs_out.get(c, 0)
        return out


def make(name: str, spark, work: str, seed: int, size: str) -> Workload:
    if name == "er_fuzzy_durable":
        return ErWorkload(spark, work, seed, size, name)
    if name == "ladder_stream":
        return LadderWorkload(spark, work, seed, size, name)
    if name == "clean_docs":
        return CleanWorkload(spark, work, seed, size, name)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("er_fuzzy_durable", "ladder_stream", "clean_docs")
