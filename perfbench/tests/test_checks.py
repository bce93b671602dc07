"""Generators' ground truth and the per-job output checks."""

import json
import re
from collections import Counter, defaultdict
from itertools import combinations
from pathlib import Path

import gen
import workloads

TOKEN = re.compile(r'"[^"]*"|\S+')


def _recount(files):
    """Per-group figures recounted from the written lines, the way a
    reader of the format would: tokens are blank-separated, quotes
    group a token."""
    groups = defaultdict(lambda: {"logs": 0, "hosts": Counter(), "cats": set()})
    for path in files:
        with open(path) as f:
            for line in f:
                if line.startswith("#"):
                    continue
                t = TOKEN.findall(line)
                g = groups[f"{t[1][:2]}_{t[14]}"]
                g["logs"] += 1
                g["hosts"][t[10]] += 1
                g["cats"].add(t[21].strip('"'))
    return {k: {"logs": v["logs"], "hosts": dict(v["hosts"]),
                "cats": sorted(v["cats"])} for k, v in groups.items()}


def test_log_truth_matches_a_recount_of_the_written_lines(tmp_path):
    files, truths = gen.proxy_logs(tmp_path, seed=5, n_lines=3000)
    assert len(files) == len(truths) == gen.LOG_FILES
    assert gen.merge_truths(truths) == _recount(files)
    assert gen.merge_truths(truths[:2]) == _recount(files[:2])


def test_log_generation_is_a_function_of_the_seed(tmp_path):
    a, ta = gen.proxy_logs(tmp_path / "a", seed=9, n_lines=500)
    b, tb = gen.proxy_logs(tmp_path / "b", seed=9, n_lines=500)
    _, tc = gen.proxy_logs(tmp_path / "c", seed=10, n_lines=500)
    assert [open(p).read() for p in a] == [open(p).read() for p in b]
    assert ta == tb and ta != tc


def _jaccard(x, y):
    def sh(s):
        w = s.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
    a, b = sh(x), sh(y)
    return len(a & b) / len(a | b)


def test_planted_clusters_straddle_the_jaccard_threshold():
    docs = gen._draw_docs(seed=3, n_docs=300)
    sims = [j for x, y in combinations(docs, 2) if (j := _jaccard(x, y)) > 0.3]
    assert sum(j >= 0.8 for j in sims) >= 10
    assert sum(j < 0.8 for j in sims) >= 10


def test_corpus_truth_comes_from_the_oracle(tmp_path):
    sf_dir, clusters = gen.corpus(tmp_path, seed=4, n_docs=200)
    assert (Path(sf_dir) / "documents.parquet").is_file()
    assert clusters
    members = defaultdict(list)
    for doc, cid in clusters.items():
        members[cid].append(doc)
    for cid, docs in members.items():
        assert len(docs) >= 2 and min(docs) == cid


def test_highcard_check_reads_scalar_and_array_fields():
    truth = {
        "00_u1": {"logs": 3, "hosts": {"a": 2, "b": 1}, "cats": ["X", "Y"]},
        "01_u2": {"logs": 1, "hosts": {"a": 1}, "cats": ["X"]},
    }
    lines = [
        json.dumps({"id": "00_u1", "logs": 3, "cs-host": ["a", "b"],
                    "cs-host_count": [2, 1], "cs-categories": ["X", "Y"]}),
        json.dumps({"id": "01_u2", "logs": 1, "cs-host": "a",
                    "cs-host_count": 1, "cs-categories": "X"}),
    ]
    assert workloads.check_highcard(lines, truth) == []
    assert workloads.check_highcard(lines[:1], truth) == ["1 groups missing"]
    assert workloads.check_highcard(lines + lines[1:], truth) == [
        "group 01_u2 written twice"]
    bad = lines[1].replace('"cs-host_count": 1', '"cs-host_count": 2')
    assert workloads.check_highcard([lines[0], bad], truth)


def test_snapshot_check_reads_the_host_map_and_an_unordered_union():
    truth = {"00_u1": {"logs": 3, "hosts": {"a": 2, "b": 1}, "cats": ["X", "Y"]}}
    row = {"id": "00_u1", "time": "00", "logs": 3,
           "cs-host_counts": [("a", 2), ("b", 1)], "cs-categories": ["Y", "X"]}
    assert workloads.check_snapshot([row], truth) == []
    assert workloads.check_snapshot([{**row, "logs": 2}], truth)
    assert workloads.check_snapshot([], truth) == ["1 groups missing"]


def test_cluster_check():
    truth = {1: 1, 2: 1, 5: 5, 7: 5}
    assert workloads.check_clusters([(2, 1), (1, 1), (7, 5), (5, 5)], truth) == []
    assert workloads.check_clusters([(2, 1), (1, 1), (7, 7), (5, 5)], truth)
    assert workloads.check_clusters([(1, 1), (1, 1), (2, 1), (7, 5), (5, 5)], truth)
