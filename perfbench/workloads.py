"""The benchmark's workloads: inputs, the timed job, its output check,
and the traced breakdown. Every call into the package goes through a
public function.
"""

from __future__ import annotations

import json
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

import gen
from tracing import prefix_self_times

# Input sizes; README.md gives the job times they lead to.
LOG_LINES = 80_000
CORPUS_DOCS = 3_000
STREAM_FILES = 2  # files landed one at a time in the traced logs run

HIGHCARD_FORMAT = {
    "format_name": "proxy_highcard",
    "delims": " ",
    "quotechar": '"',
    "commentchar": "#",
    "fields": [
        {"name": "time", "pos": 1, "type": "time", "key": True, "processing": "hour"},
        {"name": "cs-host", "pos": 10, "type": "string", "aggregation": "union_count"},
        {"name": "cs-username", "pos": 14, "type": "string", "key": True},
        {"name": "cs-categories", "pos": 21, "type": "string", "aggregation": "union"},
    ],
}


def _as_list(v) -> list:
    return v if isinstance(v, list) else [v]


def check_groups(groups, truth: dict[str, dict]) -> list[str]:
    """Mismatches between (group id, logs, host histogram, category
    union) tuples and the expected groups."""
    bad = []
    seen = set()
    for gid, logs, hosts, cats in groups:
        if gid in seen:
            bad.append(f"group {gid} written twice")
        seen.add(gid)
        t = truth.get(gid)
        if t is None:
            bad.append(f"unexpected group {gid}")
        elif logs != t["logs"] or hosts != t["hosts"] or cats != t["cats"]:
            bad.append(f"group {gid}: got {(logs, hosts, cats)}, want {t}")
    missing = len(truth) - len(seen & truth.keys())
    if missing:
        bad.append(f"{missing} groups missing")
    return bad


def check_highcard(lines: list[str], truth: dict[str, dict]) -> list[str]:
    """Mismatches between the JSON-lines parity output and the
    expected groups: the group set, each group's count, host
    histogram and category union."""
    groups = []
    for line in lines:
        o = json.loads(line)
        hosts = dict(zip(_as_list(o["cs-host"]), _as_list(o["cs-host_count"])))
        groups.append((o["id"], o["logs"], hosts, _as_list(o["cs-categories"])))
    return check_groups(groups, truth)


def check_snapshot(rows: list[dict], truth: dict[str, dict]) -> list[str]:
    """Mismatches between the rows of a streaming snapshot (``id``,
    ``logs``, the ``cs-host_counts`` map, the ``cs-categories`` union)
    and the expected groups. The snapshot is a plain table, so the
    union's order is not part of its contract."""
    return check_groups(
        ((r["id"], r["logs"], dict(r["cs-host_counts"]), sorted(r["cs-categories"]))
         for r in rows),
        truth,
    )


def check_clusters(rows: list[tuple[int, int]], truth: dict[int, int]) -> list[str]:
    """Mismatches between (doc_id, cluster_id) rows and the oracle."""
    got = {int(a): int(b) for a, b in rows}
    if len(got) != len(rows):
        return [f"{len(rows) - len(got)} duplicate doc ids"]
    if got == truth:
        return []
    diff = sorted(set(got.items()) ^ set(truth.items()))
    return [f"{len(diff)} (doc_id, cluster_id) rows differ, e.g. {diff[:3]}"]


def _generate(kind: str, seed: int, size: int, cache: Path) -> None:
    """Fill the input cache in a child process, so that generation does
    not count towards the benchmark's own peak memory."""
    here = Path(__file__).resolve().parent
    subprocess.run(
        [sys.executable, str(here / "gen.py"), kind, str(seed), str(size), str(cache)],
        check=True,
    )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def forced_prefixes(tracer, steps) -> tuple[dict[str, float], object]:
    """Run successively longer prefixes of one pipeline, each in its
    own span. Returns each layer's self time (prefix differences) and
    the output of the last step, the complete job, which runs in the
    ``full`` span. Cached intermediates are released after every
    prefix, so that each one recomputes from the input as the timed job
    does."""
    from cybersecurity_miw_spark.cache import release_intermediates

    timed = []
    for i, (layer, run) in enumerate(steps):
        name = "full" if i == len(steps) - 1 else f"prefix.{layer}"
        with tracer.span(name):
            out = run()
        timed.append((layer, tracer.duration(name)))
        if name != "full":
            release_intermediates()
    return prefix_self_times(timed), out


class Workload:
    """One workload. ``prepare`` fills inputs and truth; ``job`` runs
    the timed job and returns its output; ``check`` lists mismatches;
    ``trace`` runs the forced prefixes, records each output it checks
    in the tally, and returns per-layer numbers."""

    name = ""

    def __init__(self, work: Path) -> None:
        self.work = work
        self.out = work / "out"

    warm_jobs = 1

    def warm(self, spark) -> None:
        """Untimed runs of the job inside set-up, so that codegen, JIT,
        the file-listing caches and the JVM's heap sizing settle before
        timing starts."""
        from cybersecurity_miw_spark.cache import release_intermediates

        for _ in range(self.warm_jobs):
            self.job(spark)
            release_intermediates()
            self.clean()

    def clean(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)


class LogsHighcard(Workload):
    """Hour x user groups with a host histogram and a category union,
    written through the JSON-lines parity sink."""

    name = "logs_highcard"
    warm_jobs = 2

    def prepare(self, seed: int) -> None:
        cache = self.work.parent / "inputs"
        _generate("logs", seed, LOG_LINES, cache)
        self.files, self.file_truths = gen.proxy_logs(cache, seed, LOG_LINES)
        self.truth = gen.merge_truths(self.file_truths)

    def _job(self, files):
        from cybersecurity_miw_spark.job import MiwJob

        return MiwJob(HIGHCARD_FORMAT, files=files)

    def _write(self, spark, job):
        job.run(spark, output_format="json", output_path=str(self.out))
        return self.out

    def job(self, spark):
        return self._write(spark, self._job(self.files))

    def check(self, result) -> list[str]:
        lines = []
        for part in sorted(Path(result).glob("part-*")):
            with open(part) as f:
                lines.extend(ln for ln in f.read().splitlines() if ln)
        return check_highcard(lines, self.truth)

    def trace(self, spark, tracer, tally) -> dict[str, float]:
        from cybersecurity_miw_spark.sources.text import read_logs

        with tracer.span("plans.build"):
            job = self._job(self.files)
            job.enable_line_stats()
            read = read_logs(spark, self.files, job.ldef)
            parsed = job.parsed(spark)
            result = job.result(spark)
        self.clean()
        layers, out = forced_prefixes(tracer, [
            ("sources.read", lambda: _noop(read)),
            ("plans.parse", lambda: _noop(parsed)),
            ("aggregate", lambda: _noop(result)),
            ("sources.sink", lambda: self._write(spark, job)),
        ])
        stats = job.line_stats()
        tally.record("traced job", self.check(out))
        return {
            "layers": layers,
            "plans.build_s": tracer.duration("plans.build"),
            "plans.parsed_frac": stats["n_parsed"] / stats["n_input"],
            "n_parsed": stats["n_parsed"],
            "aggregate.groups": job.result(spark).count(),
            **self._stream(spark, tracer, tally),
        }

    def _stream(self, spark, tracer, tally) -> dict[str, float]:
        """Land files one at a time; each landing restarts the
        checkpointed incremental query (the -tmp_save analog) and waits
        for its snapshot, which must hold the groups of every file
        landed so far."""
        import pandas as pd

        from cybersecurity_miw_spark.plans.logdef import LogDef
        from cybersecurity_miw_spark.streaming.merge import stream_logs

        root = self.work / "stream"
        inbox = root / "in"
        inbox.mkdir(parents=True)
        ldef = LogDef.from_json(HIGHCARD_FORMAT)
        batch_s, add_ms, commit_ms, state = [], [], [], []
        for i, f in enumerate(self.files[:STREAM_FILES]):
            staged = root / f"landing-{i}"
            shutil.copy(f, staged)
            with tracer.span("streaming.batch"):
                staged.rename(inbox / f"part-{i}.log")
                q = stream_logs(spark, str(inbox), ldef, str(root / "ck"),
                                str(root / "snapshot"))
                q.awaitTermination()
            batch_s.append(tracer.duration("streaming.batch"))
            snapshot = pd.read_parquet(root / "snapshot").to_dict("records")
            tally.record(f"stream batch {i}", check_snapshot(
                snapshot, gen.merge_truths(self.file_truths[:i + 1])))
            prog = q.lastProgress or {}
            dur = prog.get("durationMs", {})
            add_ms.append(dur.get("addBatch", 0))
            commit_ms.append(dur.get("commitOffsets", 0) + dur.get("walCommit", 0))
            state.append(sum(op.get("numRowsTotal", 0)
                             for op in prog.get("stateOperators", [])))
        return {
            "streaming.batch_s": statistics.median(batch_s),
            "streaming.add_batch_ms": statistics.median(add_ms),
            "streaming.commit_ms": statistics.median(commit_ms),
            "streaming.state_rows": state[-1],
        }


class CorpusDedup(Workload):
    """MinHash LSH candidates, Jaccard confirm at 0.8, connected
    components."""

    name = "corpus_dedup"

    def prepare(self, seed: int) -> None:
        cache = self.work.parent / "inputs"
        _generate("docs", seed, CORPUS_DOCS, cache)
        self.sf_dir, self.truth = gen.corpus(cache, seed, CORPUS_DOCS)

    def _docs(self, spark):
        from cybersecurity_miw_spark.sources.tables import load_table

        return load_table(spark, self.sf_dir, "documents", widen=True)

    def _candidates(self, spark):
        from cybersecurity_miw_spark.operators import dedup

        return dedup.minhash_lsh_candidates(self._docs(spark))

    def _confirmed(self, spark):
        from pyspark.sql import functions as F

        from cybersecurity_miw_spark.operators import dedup

        docs = self._docs(spark)
        cand = dedup.minhash_lsh_candidates(docs)
        return dedup.jaccard_pairs(docs, cand).filter(F.col("jaccard") >= 0.8)

    def job(self, spark):
        from cybersecurity_miw_spark.operators import dedup

        labels = dedup.dup_clusters(self._confirmed(spark))
        return [tuple(r) for r in labels.collect()]

    def check(self, result) -> list[str]:
        return check_clusters(result, self.truth)

    def trace(self, spark, tracer, tally) -> dict[str, float]:
        from cybersecurity_miw_spark.operators import dedup

        with tracer.span("plans.build"):
            confirmed = self._confirmed(spark)
        # counted before the prefixes, which release what this caches
        n_cand = self._candidates(spark).count()
        n_conf = confirmed.count()

        # every step builds its own plan, so that the candidates are
        # cached inside the confirm step exactly as in the timed job
        def clusters():
            confirmed = self._confirmed(spark)
            with tracer.span("dedup.cc"):
                labels = dedup.dup_clusters(confirmed)
            return [tuple(r) for r in labels.collect()]

        layers, out = forced_prefixes(tracer, [
            ("sources.read", lambda: _noop(self._docs(spark))),
            ("dedup.lsh", lambda: _noop(self._candidates(spark))),
            ("dedup.confirm", lambda: _noop(self._confirmed(spark))),
            ("dedup.cc", clusters),
        ])
        tally.record("traced job", self.check(out))
        return {
            "layers": layers,
            "plans.build_s": tracer.duration("plans.build"),
            "dedup.candidates": n_cand,
            "dedup.confirmed": n_conf,
            "dedup.confirm_frac": n_conf / n_cand if n_cand else 0.0,
        }


WORKLOADS = {w.name: w for w in (LogsHighcard, CorpusDedup)}
