"""Outside-in tracing for the benchmark's traced run.

Three sources, none of which touches the package's own code:

* spans recorded in the benchmark's files around each call into a
  package module, kept in memory and written once at the end;
* forced prefixes of a pipeline (each prefix sent to a ``noop`` sink),
  whose successive differences give the self time of a lazy layer;
* the Spark event log, with each span's jobs tagged through
  ``setJobGroup`` so stage and task counters can be attributed to it.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """In-memory span recorder; every span also names the Spark job
    group of the jobs it launches."""

    def __init__(self, spark=None) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(name, name)
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(
                {"name": name, "parent": parent, "start": start, "end": end}
            )
            if sc is not None:
                if parent is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(parent, parent)

    def duration(self, name: str) -> float:
        """Duration of the last span called ``name``."""
        for s in reversed(self.spans):
            if s["name"] == name:
                return s["end"] - s["start"]
        raise KeyError(name)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def prefix_self_times(prefixes: list[tuple[str, float]]) -> dict[str, float]:
    """Self time per layer from forced prefixes.

    ``prefixes`` lists (layer, seconds) for successively longer
    prefixes of one pipeline — read, read+parse, read+parse+aggregate,
    and so on. A layer's self time is its prefix's time minus the
    previous prefix's, so the self times add up to the longest
    prefix. A difference may come out negative when a layer costs less
    than the run-to-run noise; it is reported as measured."""
    out: dict[str, float] = {}
    prev = 0.0
    for layer, t in prefixes:
        out[layer] = out.get(layer, 0.0) + (t - prev)
        prev = t
    return out


# ------------------------------------------------------------ event log


def read_event_log(log_dir: Path) -> list[dict]:
    """Every event of every application under ``log_dir``, in order.

    Reads Spark's rolling layout (``spark.eventLog.rolling.enabled``,
    on by default since 4.0): one ``eventlog_v2_<app>`` directory per
    application holding ``events_<n>_<app>`` parts, read in index
    order."""
    events: list[dict] = []
    for app in sorted(Path(log_dir).glob("eventlog_v2_*")):
        parts = sorted(
            app.glob("events_*"), key=lambda p: int(p.name.split("_")[1])
        )
        for part in parts:
            if part.suffix in (".zstd", ".lz4", ".snappy", ".lzf"):
                raise ValueError(
                    f"{part}: compressed event log; run with "
                    "spark.eventLog.compress=false"
                )
            with open(part) as f:
                for line in f:
                    line = line.strip()
                    if line:
                        events.append(json.loads(line))
    return events


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def group_jobs(
    events: list[dict], groups: set[str]
) -> tuple[set[int], set[int], set[int]]:
    """(job ids, stage ids, SQL execution ids) of the jobs launched
    under any of the job groups ``groups``."""
    jobs: set[int] = set()
    stages: set[int] = set()
    execs: set[int] = set()
    for e in events:
        if e.get("Event") != "SparkListenerJobStart":
            continue
        props = e.get("Properties") or {}
        if props.get("spark.jobGroup.id") not in groups:
            continue
        jobs.add(e["Job ID"])
        stages.update(e.get("Stage IDs", []))
        if "spark.sql.execution.id" in props:
            execs.add(int(props["spark.sql.execution.id"]))
    return jobs, stages, execs


def stage_counters(events: list[dict], groups: set[str]) -> dict[str, float]:
    """Executor counters summed over the tasks of the jobs in
    ``groups``, and ``job_ms``, the time during which at least one of
    those jobs was running."""
    jobs, stages, _ = group_jobs(events, groups)
    run_ms: list[float] = []
    submitted: dict[int, float] = {}
    spans: list[tuple[float, float]] = []
    cpu_ns = gc_ms = shuffle_w = spill = in_bytes = out_bytes = 0.0
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart" and e["Job ID"] in jobs:
            submitted[e["Job ID"]] = _num(e.get("Submission Time"))
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in submitted:
            spans.append((submitted[e["Job ID"]], _num(e.get("Completion Time"))))
        if kind != "SparkListenerTaskEnd" or e.get("Stage ID") not in stages:
            continue
        m = e.get("Task Metrics") or {}
        run_ms.append(_num(m.get("Executor Run Time")))
        cpu_ns += _num(m.get("Executor CPU Time"))
        gc_ms += _num(m.get("JVM GC Time"))
        spill += _num(m.get("Memory Bytes Spilled")) + _num(m.get("Disk Bytes Spilled"))
        shuffle_w += _num((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
        in_bytes += _num((m.get("Input Metrics") or {}).get("Bytes Read"))
        out_bytes += _num((m.get("Output Metrics") or {}).get("Bytes Written"))
    run = sum(run_ms)
    cpu = cpu_ns / 1e6
    mb = 1024 * 1024
    return {
        "jobs": len(jobs),
        "job_ms": busy_ms(spans),
        "tasks": len(run_ms),
        "exec_run_ms": run,
        "exec_cpu_ms": cpu,
        "offcpu_ms": run - cpu,
        "gc_ms": gc_ms,
        "shuffle_write_mb": shuffle_w / mb,
        "spill_mb": spill / mb,
        "max_task_ms": max(run_ms, default=0.0),
        "median_task_ms": statistics.median(run_ms) if run_ms else 0.0,
        "input_mb": in_bytes / mb,
        "output_mb": out_bytes / mb,
    }


def busy_ms(spans: list[tuple[float, float]]) -> float:
    """Length of the union of (start, end) intervals: the time during
    which at least one of them was running."""
    total = 0.0
    end = float("-inf")
    for a, b in sorted(spans):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


_AGG_NODES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def partial_agg_rows(events: list[dict], groups: set[str]) -> tuple[float, int]:
    """(output rows of all partial aggregates, number of partial
    aggregate nodes) in the final plans of the SQL executions of the
    jobs in ``groups``.
    Node metrics come from the plan events, their values from the
    per-task accumulator updates."""
    _, stages, execs = group_jobs(events, groups)
    plans: dict[int, dict] = {}
    for e in events:
        kind = e.get("Event", "")
        if kind.endswith("SQLExecutionStart") or kind.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            if e.get("executionId") in execs:
                plans[e["executionId"]] = e["sparkPlanInfo"]
    acc_ids: set[int] = set()
    n_nodes = 0
    for info in plans.values():
        for node in _plan_nodes(info):
            if node.get("nodeName") in _AGG_NODES and "partial_" in node.get(
                "simpleString", ""
            ):
                n_nodes += 1
                acc_ids.update(
                    m["accumulatorId"]
                    for m in node.get("metrics", [])
                    if m.get("name") == "number of output rows"
                )
    rows = 0.0
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd" or e.get("Stage ID") not in stages:
            continue
        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
            if acc.get("ID") in acc_ids:
                rows += _num(acc.get("Update"))
    return rows, n_nodes
