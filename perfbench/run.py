#!/usr/bin/env python3
"""Entity-resolution benchmark over the package's public entry points.

    python3 perfbench/run.py --workload er_fuzzy_durable --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --smoke        # every workload once, tiny inputs

Run from the repository root. One invocation is one process: it starts a
Spark session on ``local[<cpus>]`` (the CPUs this process may use), stages
the workload's seeded input under ``.perfbench_work/`` in the current
directory, warms up, then repeats the
workload until ``--seconds`` have passed, checking every run's output.

Workloads (see workloads.py): ``er_fuzzy_durable`` and ``ladder_stream`` are
the ones BENCHMARK.json gates; ``clean_docs`` runs the same way by name and
in ``--smoke``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; metric names and units
come from ``BENCHMARK.json`` (``end_to_end`` with ``--trace 0``,
``per_layer`` with ``--trace 1``). The lines before it name every metric
with its unit, the error rate, the set-up split and each untraced
repetition's time. Exits non-zero without a result when the package is
missing or the session cannot start. Before it exits, the Spark JVM and its
Python workers have ended.

With ``--trace 1`` untraced and traced repetitions alternate (at least
untraced, traced, untraced); the traced ones
record spans around the calls each layer receives, with Spark status-store
counters per span (spans.py). ``trace.overhead_s`` is the traced median
minus the untraced median.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

from spans import HostCpu, ProcessTreeRss, SparkCounters, Tracer, median

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
WORK_RUN = os.path.join(WORK, f"run-{os.getpid()}")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="run every workload once at tiny size")
    args = p.parse_args(argv)
    if not args.smoke and not args.workload:
        p.error("--workload is required unless --smoke is given")
    return args


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of the host's memory, at most 2 GiB (the default is 24g)."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    return f"{min(2048, total_kb // 4096)}m"


def start_spark(app: str, work: str):
    """A local session sized to this host, writing only under `work`."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # Python workers import the package by module path, so they need the
    # repository root on their path; children inherit this environment.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory()
    # JVM temp files and perf data stay out of /tmp as well
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    from ala_name_matching_spark.session import get_spark

    cpus = host_cpus()
    return get_spark(
        app,
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            # the traced run looks up every job of a run in the status store
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "50000",
        },
    )


def _stat(pid: int | str) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name: state, ppid, ...
    (index 19 is the start time, which tells a reused pid apart)."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _descendants(pid: int) -> dict[int, str]:
    """Every live process below `pid`, with its start time."""
    children: dict[int, list[tuple[int, str]]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            fields = _stat(entry)
        except OSError:
            continue  # ended while being read
        children.setdefault(int(fields[1]), []).append((int(entry), fields[19]))
    out, todo = {}, [pid]
    while todo:
        for child, start in children.get(todo.pop(), ()):
            out[child] = start
            todo.append(child)
    return out


def _alive(pid: int, start: str) -> bool:
    try:
        fields = _stat(pid)
    except OSError:
        return False
    return fields[19] == start and fields[0] != "Z"


def stop_spark(spark=None, grace_s: float = 30.0) -> None:
    """Stop the session, end the JVM and wait until it and every Python
    worker it started have exited.

    ``spark.stop()`` leaves the JVM running until it notices that this
    process is gone; the JVM exits when its stdin closes, and its Python
    workers exit when the JVM does. Idempotent: without a JVM it only
    waits for leftover child processes.
    """
    kids = _descendants(os.getpid())
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        try:
            if spark is not None:
                spark.stop()
            elif SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
        finally:
            gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    if proc.stdin is not None:
                        proc.stdin.close()
                    try:
                        proc.wait(timeout=grace_s)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
    deadline = time.monotonic() + grace_s
    while True:
        kids = {p: start for p, start in kids.items() if _alive(p, start)}
        if not kids:
            return
        if time.monotonic() > deadline:
            for p in kids:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + grace_s
        time.sleep(0.05)


def hygiene(spark) -> None:
    """Release the previous run's cached and checkpointed blocks."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    spark.catalog.clearCache()


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class Measurement:
    """The timed repetitions of one workload in this process."""

    def __init__(self, spark, wl):
        self.spark = spark
        self.wl = wl
        self.rss = ProcessTreeRss()
        self.counters = SparkCounters(spark)
        self.attempted = 0
        self.failed = 0
        self.run_s: list[float] = []
        self.traced_s: list[float] = []
        self.peak_mb: list[float] = []
        self.batch_s: list[float] = []
        self.layers: list[dict] = []
        self.quality: dict = {}
        self.steal_share = 0.0

    def once(self, traced: bool) -> None:
        hygiene(self.spark)
        self.rss.reset()
        self.attempted += 1
        tracer = Tracer(self.counters.next_job_id) if traced else None
        t0 = time.perf_counter()
        try:
            if tracer is None:
                result = self.wl.run()
            else:
                with tracer.span("run"):
                    result = self.wl.run(tracer)
        except Exception:  # a failed run is counted, reported and survived
            traceback.print_exc()
            self.failed += 1
            return
        wall = time.perf_counter() - t0
        peak = self.rss.peak_mb()
        try:
            ok, quality = self.wl.check(result)
            if tracer is not None:
                self.counters.fill(tracer)
                layers = self.wl.layers(tracer, result, quality, tracer.named("run")[0].seconds)
        except Exception:
            traceback.print_exc()
            ok = False
        finally:
            self.wl.cleanup(result)
        if not ok:
            print(f"output check failed on {self.wl.name} run {self.attempted}", file=sys.stderr)
            self.failed += 1
            return
        self.quality = quality
        if tracer is None:
            self.run_s.append(wall)
            self.peak_mb.append(peak)
            self.batch_s.extend(self.wl.batch_seconds(result))
        else:
            self.traced_s.append(tracer.named("run")[0].seconds)
            self.layers.append(layers)


def measure(spark, wl, seconds: float, traced: bool) -> Measurement:
    m = Measurement(spark, wl)
    cpu = HostCpu()
    t0 = time.perf_counter()
    while True:
        # with tracing, untraced and traced repetitions alternate, starting
        # and ending untraced, so later (warmer) repetitions favour neither
        m.once(traced=traced and m.attempted % 2 == 1)
        if time.perf_counter() - t0 >= seconds and (not traced or m.attempted >= 3):
            m.steal_share = cpu.steal_share()
            return m


def end_to_end(m: Measurement, setup_s: float) -> dict:
    run_s = median(m.run_s)
    return {
        "setup_s": setup_s,
        "run_s": run_s,
        "rows_per_s": m.wl.rows / run_s if run_s else 0.0,
        # the stream's micro-batches; a table workload's input is one batch
        "batch_p50_s": median(m.batch_s),
        "peak_rss_mb": median(m.peak_mb),
        "pair_precision": m.quality.get("pair_precision", 0.0),
        "pair_recall": m.quality.get("pair_recall", 0.0),
        "match_accuracy": m.quality.get("match_accuracy", 0.0),
    }


def per_layer(m: Measurement) -> dict:
    names = {k for layer in m.layers for k in layer}
    out = {k: median([layer.get(k, 0.0) for layer in m.layers]) for k in names}
    out["trace.run_s"] = median(m.traced_s)
    out["trace.untraced_run_s"] = median(m.run_s)
    out["trace.overhead_s"] = out["trace.run_s"] - out["trace.untraced_run_s"]
    out["host.steal_share"] = m.steal_share
    return out


def setup(spark, name: str, seed: int, size: str, session_s: float):
    """Stage the input and warm up.

    Returns (workload, setup seconds, cross-check passed). The warm-up is
    the untimed once-per-setup cross-check for the ER workload.
    """
    import workloads

    t0 = time.perf_counter()
    wl = workloads.make(name, spark, os.path.join(WORK_RUN, name), seed, size)
    wl.stage()
    ok = wl.warm()
    return wl, session_s + time.perf_counter() - t0, ok


def _unit(name: str) -> str:
    """Unit of a computed figure that BENCHMARK.json does not list."""
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    return "ratio" if name.endswith("coverage") else "count"


def report(spec_metrics: list[dict], values: dict) -> dict:
    """Print every metric with its unit; return the BENCHMARK.json ones.

    A layer this workload does not reach reports 0.
    """
    out = {}
    for spec in spec_metrics:
        value = float(values.get(spec["name"], 0.0))
        out[spec["name"]] = {"value": value, "unit": spec["unit"]}
        print(f"  {spec['name']:34s} {value:16.6f} {spec['unit']}")
    for name in sorted(set(values) - set(out)):
        print(f"  {name:34s} {float(values[name]):16.6f} {_unit(name)}")
    return out


def run_one(args, spec: dict) -> int:
    t0 = time.perf_counter()
    spark = start_spark(f"perfbench-{args.workload}", WORK_RUN)
    try:
        session_s = time.perf_counter() - t0
        wl, setup_s, cross_ok = setup(spark, args.workload, args.seed, "full", session_s)
        m = measure(spark, wl, args.seconds, traced=bool(args.trace))
        if not cross_ok:
            print(f"cross-check failed on {args.workload}", file=sys.stderr)
            m.attempted += 1
            m.failed += 1
        n_ok = len(m.run_s)
        print(
            f"{args.workload} seed={args.seed} rows={wl.rows} {wl.rows_label}, "
            f"runs={n_ok} (+{len(m.traced_s)} traced), attempted={m.attempted}, "
            f"error_rate={m.failed / m.attempted:.3f}, "
            f"cpu steal while timing={m.steal_share:.3f}"
        )
        print(f"  setup: session {session_s:.2f}s, total {setup_s:.2f}s; repetitions: "
              + " ".join(f"{s:.2f}s" for s in m.run_s))
        if args.trace:
            metrics = report(spec["per_layer"], per_layer(m))
        else:
            metrics = report(spec["end_to_end"], end_to_end(m, setup_s))
        result = {
            "correct": m.failed == 0 and n_ok > 0,
            "attempted": m.attempted,
            "failed": m.failed,
            "metrics": metrics,
        }
    finally:
        stop_spark(spark)
    print(json.dumps(result), flush=True)
    return 0


def run_smoke() -> int:
    """Every workload once at tiny size, untraced and traced, all checks."""
    import workloads

    t0 = time.perf_counter()
    spark = start_spark("perfbench-smoke", WORK_RUN)
    bad = []
    try:
        session_s = time.perf_counter() - t0
        for name in workloads.WORKLOADS:
            wl, setup_s, cross_ok = setup(spark, name, 1, "smoke", session_s)
            m = Measurement(spark, wl)
            m.once(traced=False)
            m.once(traced=True)
            cover = m.layers[0].get("trace.coverage", 0.0) if m.layers else 0.0
            ok = cross_ok and m.failed == 0 and bool(m.run_s) and bool(m.layers)
            print(
                f"{name:18s} {'ok' if ok else 'FAILED':6s} setup={setup_s:6.2f}s "
                f"run={m.run_s[0] if m.run_s else float('nan'):6.2f}s "
                f"coverage={cover:.3f} quality={ {k: round(v, 4) for k, v in m.quality.items() if isinstance(v, float)} }",
                flush=True,
            )
            if not ok:
                bad.append(name)
    finally:
        stop_spark(spark)
    print("smoke: " + ("all workloads passed" if not bad else f"FAILED {bad}"))
    return 1 if bad else 0


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ala_name_matching_spark", "__init__.py")):
        print("run from the repository root: ala_name_matching_spark/ not found", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    spec = None if args.smoke else load_spec()
    os.makedirs(WORK_RUN, exist_ok=True)
    # a TERM runs the clean-up below, which stops the JVM and its workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run_smoke() if args.smoke else run_one(args, spec)
    finally:
        stop_spark()
        shutil.rmtree(WORK_RUN, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
