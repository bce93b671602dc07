"""Repo benchmark: one workload, one seed, one line of JSON.

    python3 perfbench/run.py --workload logs_highcard --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from the seed and
cached under ``.perfbench/inputs``; temporary output, Spark local dirs
and the event log live under ``.perfbench/run`` and are wiped at the
start of every run.

``--trace 0`` times the workload's job repeatedly for ``--seconds`` and
reports the end-to-end metrics. ``--trace 1`` switches the Spark event
log on and reports the per-layer breakdown (see README.md).

The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the environment (cores, parallelism, input sizes).
"""

from __future__ import annotations

import time

_T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
PACKAGE = "cybersecurity_miw_spark"
MIN_JOBS = 2        # timed jobs per run, however short --seconds is
LAST_START_S = 150  # no timed job starts this long after process start


def cores() -> int:
    """Cores for local[n]: half of those this process may use, and at
    most 2, so that runs on bigger machines stay comparable. The other
    half is for the driver thread and the JIT compiler threads, which
    keep compiling for a whole core's worth of time during every job
    (3.5-9.5 s of compilation per job measured after ten jobs), so that
    they do not steal task time."""
    return max(1, min(2, len(os.sched_getaffinity(0)) // 2))


def start_spark(n: int, event_log: Path | None):
    """The package's session on local[n], with the benchmark's own
    local dirs; returns (spark, seconds spent in get_spark)."""
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "run" / "local")
    # few malloc arenas, so that the JVM's native memory outside the
    # heap does not vary with which threads happened to allocate
    os.environ["MALLOC_ARENA_MAX"] = "2"
    confs = {"spark.ui.showConsoleProgress": "false"}
    if event_log is not None:
        event_log.mkdir(parents=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            # no zstd codec is installed
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
        })
    # only confs the package does not set itself: the confs get_spark
    # sets come first on the spark-submit line and these would override them
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {k}={v}" for k, v in confs.items()] + ["pyspark-shell"]
    )
    from cybersecurity_miw_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench")
    took = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    par = spark.sparkContext.defaultParallelism
    if par != n:
        raise RuntimeError(f"defaultParallelism {par}, expected {n}")
    return spark, took


def peak_rss_mb(spark) -> float:
    """The JVM's peak resident set (``VmHWM``) plus this Python
    driver's own peak. The JVM is not a reaped child of this process,
    so ``RUSAGE_CHILDREN`` does not see it."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit; it exits when its
    stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Tally:
    """Jobs and batches attempted and failed, with the wall time of
    each timed job that completed."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.walls: list[float] = []

    def record(self, what: str, problems: list[str]) -> None:
        """One checked output; any problem fails it."""
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"{what}: output check failed: {problems[:3]}", file=sys.stderr)

    def run(self, wl, spark) -> float | None:
        from cybersecurity_miw_spark.cache import release_intermediates

        wl.clean()
        t = time.perf_counter()
        try:
            out = wl.job(spark)
            wall = time.perf_counter() - t
            problems = wl.check(out)
        except Exception:  # a failed job counts against the run
            traceback.print_exc()
            self.attempted += 1
            self.failed += 1
            return None
        finally:
            release_intermediates()
        self.walls.append(wall)
        self.record(f"{wl.name} job", problems)
        return wall


def timed(wl, spark, seconds: float, setup_s: float) -> tuple[Tally, dict]:
    tally = Tally()
    start = time.monotonic()
    last = 0.0
    while tally.attempted < MIN_JOBS or time.monotonic() - start < seconds:
        if time.monotonic() - _T0 + last > LAST_START_S:
            break
        last = tally.run(wl, spark) or last
    metrics = {
        "wall_s": (statistics.median(tally.walls) if tally.walls else 0.0, "s"),
        "setup_s": (setup_s, "s"),
    }
    return tally, metrics


def traced(wl, spark, get_spark_s: float, event_log: Path) -> tuple[Tally, dict]:
    from cybersecurity_miw_spark.cache import release_intermediates
    from tracing import Tracer, partial_agg_rows, read_event_log, stage_counters

    # one untraced job before the traced breakdown and one after, so
    # that their mean sits at the traced job's point of JIT warm-up
    tally = Tally()
    tally.run(wl, spark)
    tracer = Tracer(spark)
    per = wl.trace(spark, tracer, tally)
    with tracer.span("cache.release"):
        released = release_intermediates()
    tally.run(wl, spark)
    peak_mb = peak_rss_mb(spark)
    stop_spark(spark)
    tracer.write(WORK / "run" / "spans.json")

    events = read_event_log(event_log)
    full = stage_counters(events, {"full", "dedup.cc"})
    cc_jobs = stage_counters(events, {"dedup.cc"})["jobs"]
    agg_rows, agg_nodes = partial_agg_rows(events, {"full"})
    layers = per["layers"]
    plain = statistics.median(tally.walls) if tally.walls else float("nan")
    full_s = tracer.duration("full")
    # the timed job builds its plans inside its wall; the traced job
    # builds them in their own span before the forced prefixes
    traced_wall = per["plans.build_s"] + full_s
    lay = layers.get
    n_parsed = per.get("n_parsed", 0)
    m = {
        "session.get_spark_s": (get_spark_s, "s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "sources.read_s": (lay("sources.read", 0.0), "s"),
        "sources.input_mb": (full["input_mb"], "MB"),
        "sources.sink_s": (lay("sources.sink", 0.0), "s"),
        "sources.output_mb": (full["output_mb"], "MB"),
        "plans.build_s": (per["plans.build_s"], "s"),
        "plans.parse_s": (lay("plans.parse", 0.0), "s"),
        "plans.parsed_frac": (per.get("plans.parsed_frac", 0.0), "ratio"),
        "aggregate.agg_s": (lay("aggregate", 0.0), "s"),
        "aggregate.groups": (per.get("aggregate.groups", 0), "count"),
        "aggregate.partial_rows_frac": (
            agg_rows / (agg_nodes * n_parsed) if agg_nodes and n_parsed else 0.0,
            "ratio",
        ),
        "dedup.lsh_s": (lay("dedup.lsh", 0.0), "s"),
        "dedup.confirm_s": (lay("dedup.confirm", 0.0), "s"),
        "dedup.cc_s": (lay("dedup.cc", 0.0), "s"),
        "dedup.candidates": (per.get("dedup.candidates", 0), "count"),
        "dedup.confirmed": (per.get("dedup.confirmed", 0), "count"),
        "dedup.confirm_frac": (per.get("dedup.confirm_frac", 0.0), "ratio"),
        "dedup.cc_jobs": (cc_jobs, "count"),
        "cache.release_s": (tracer.duration("cache.release"), "s"),
        "cache.released": (released, "count"),
        "streaming.batch_s": (per.get("streaming.batch_s", 0.0), "s"),
        "streaming.add_batch_ms": (per.get("streaming.add_batch_ms", 0.0), "ms"),
        "streaming.commit_ms": (per.get("streaming.commit_ms", 0.0), "ms"),
        "streaming.state_rows": (per.get("streaming.state_rows", 0), "count"),
    }
    for k in ("jobs", "tasks"):
        m[f"spark.{k}"] = (full[k], "count")
    for k in ("exec_run_ms", "exec_cpu_ms", "offcpu_ms", "gc_ms",
              "max_task_ms", "median_task_ms"):
        m[f"spark.{k}"] = (full[k], "ms")
    for k in ("shuffle_write_mb", "spill_mb"):
        m[f"spark.{k}"] = (full[k], "MB")
    # measured apart from the spans: the share of the complete job's
    # wall during which a Spark job ran, and the share of its core time
    # in which a task ran; the rest is driver work and idle cores
    m["spark.job_frac"] = (full["job_ms"] / 1000 / full_s, "ratio")
    m["spark.exec_frac"] = (full["exec_run_ms"] / 1000 / (full_s * cores()), "ratio")
    # self time of each layer on the blocking path, against wall_s
    groups = {
        "sources": ("sources.read", "sources.sink"),
        "plans": ("plans.parse",),
        "aggregate": ("aggregate",),
        "dedup": ("dedup.lsh", "dedup.confirm", "dedup.cc"),
    }
    for name, parts in groups.items():
        m[f"{name}.self_frac"] = (sum(lay(p, 0.0) for p in parts) / plain, "ratio")
    m["trace.wall_s"] = (traced_wall, "s")
    m["trace.untraced_wall_s"] = (plain, "s")
    m["trace.overhead_s"] = (traced_wall - plain, "s")
    return tally, m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"{PACKAGE} not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    shutil.rmtree(WORK / "run", ignore_errors=True)
    (WORK / "run").mkdir(parents=True)
    wl = WORKLOADS[args.workload](WORK / "run")
    t = time.monotonic()
    wl.prepare(args.seed)
    gen_s = time.monotonic() - t

    n = cores()
    event_log = WORK / "run" / "eventlog" if args.trace else None
    spark, get_spark_s = start_spark(n, event_log)
    try:
        t = time.monotonic()
        wl.warm(spark)
        setup_s = time.monotonic() - _T0 - gen_s
        print(f"perfbench: inputs {gen_s:.1f} s, get_spark {get_spark_s:.1f} s, "
              f"warm-up {time.monotonic() - t:.1f} s", file=sys.stderr)
        if args.trace:
            tally, metrics = traced(wl, spark, get_spark_s, event_log)
        else:
            tally, metrics = timed(wl, spark, args.seconds, setup_s)
    finally:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            stop_spark(spark)
    print(json.dumps({"env": {
        "workload": args.workload, "seed": args.seed, "cores": n,
        "default_parallelism": n,
        "input_s": round(gen_s, 3), "jobs": len(tally.walls),
        "walls": [round(w, 4) for w in tally.walls],
    }}))
    print(json.dumps({
        "correct": tally.failed == 0 and tally.attempted > 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
