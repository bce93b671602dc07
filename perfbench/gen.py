"""Seeded inputs and their ground truth, cached per seed.

Two input families:

* proxy logs — Blue Coat-style access lines (``#Fields`` header,
  quoted multi-token User-Agent and category fields, skewed user and
  host draws). The generator keeps every drawn column as an array and
  derives each file's expected per-group figures with pandas as it
  writes, so the truth never passes through Spark.
* documents — a word corpus with planted near-duplicate clusters.
  Variants are mutated copies of a base document at word-mutation
  rates that straddle the 0.8 Jaccard threshold, so the confirm step
  both keeps and rejects pairs. The expected clusters come from the
  package's DuckDB oracle for ``dup_clusters_cc``.

Everything is a pure function of the seed; results are cached under
``<cache>/<kind>-<seed>-<size>/`` so repeated runs on a seed skip
generation.
"""

from __future__ import annotations

import json
import os
import pickle
import shutil
from pathlib import Path

import numpy as np
import pandas as pd

# ---------------------------------------------------------------- logs

LOG_FILES = 6
DAYS = 20
N_USERS = 4000
N_HOSTS = 1500

CATEGORIES = [
    "Advertisements", "Information Technology", "News/Media",
    "Search Engines/Portals", "Social Networking", "Web Ads/Analytics",
    "Content Servers", "Business/Economy", "Computers/Internet",
    "Streaming Media/MP3", "Entertainment", "Shopping", "Travel",
    "Reference", "Health", "Education", "Games", "Sports/Recreation",
    "Financial Services", "Suspicious",
]
USER_AGENTS = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) Chrome/120.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 13_4) Version/16.5 Safari/605.1",
    "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0",
    "Microsoft-CryptoAPI/10.0",
    "Windows-Update-Agent/10.0.10011.16384 Client-Protocol/2.50",
    "curl/8.4.0",
    "Java/17.0.9",
    "TestAgent/1.0 (X11; Linux x86_64) Engine/1.2",
]
METHODS = ["GET", "POST", "CONNECT", "HEAD"]
METHOD_P = [0.70, 0.17, 0.10, 0.03]
ACTIONS = ["TCP_NC_MISS", "TCP_HIT", "TCP_DENIED", "TCP_TUNNELED"]
FILTERS = ["OBSERVED", "DENIED", "PROXIED"]
FILTER_P = [0.80, 0.12, 0.08]
HEADER = (
    "#Fields: date time time-taken c-ip sc-status s-action sc-bytes "
    "cs-bytes cs-method cs-uri-scheme cs-host cs-uri-port cs-uri-path "
    "cs-uri-query cs-username cs-auth-group s-supplier-name "
    "rs(Content-Type) cs(Referer) cs(User-Agent) sc-filter-result "
    "cs-categories x-virus-id s-ip"
)


def _zipf_p(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _draw_logs(seed: int, n: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(seed)
    user_perm = rng.permutation(N_USERS)  # which name is hot varies by seed
    host_perm = rng.permutation(N_HOSTS)
    return {
        "day": rng.integers(0, DAYS, n),
        "sec": rng.integers(0, 86400, n),
        "taken": rng.integers(1, 5000, n),
        "user": user_perm[rng.choice(N_USERS, n, p=_zipf_p(N_USERS, 1.1))],
        "host": host_perm[rng.choice(N_HOSTS, n, p=_zipf_p(N_HOSTS, 1.0))],
        "cat": rng.choice(len(CATEGORIES), n, p=_zipf_p(len(CATEGORIES), 0.6)),
        "ua": rng.integers(0, len(USER_AGENTS), n),
        "method": rng.choice(len(METHODS), n, p=METHOD_P),
        "action": rng.integers(0, len(ACTIONS), n),
        "filter": rng.choice(len(FILTERS), n, p=FILTER_P),
        "sc_bytes": rng.integers(200, 200_000, n),
        "cs_bytes": rng.integers(100, 20_000, n),
        "status": rng.choice([200, 302, 304, 403, 407], n),
        "ip": rng.integers(1, 255, n),
    }


def _day_str(day: np.ndarray) -> np.ndarray:
    base = np.datetime64("2024-03-01")
    return np.datetime_as_string(base + day.astype("timedelta64[D]"), unit="D")


def _file_slices(n: int) -> list[slice]:
    """The lines of each log file: consecutive, near-equal chunks."""
    per = -(-n // LOG_FILES)
    return [slice(i * per, (i + 1) * per) for i in range(LOG_FILES)]


def _write_log_files(d: dict[str, np.ndarray], out: Path) -> None:
    days = _day_str(d["day"])
    sec = d["sec"]
    hh, mm, ss = sec // 3600, (sec // 60) % 60, sec % 60
    cols = zip(
        days.tolist(), hh.tolist(), mm.tolist(), ss.tolist(),
        d["taken"].tolist(), d["ip"].tolist(), d["status"].tolist(),
        d["action"].tolist(), d["sc_bytes"].tolist(), d["cs_bytes"].tolist(),
        d["method"].tolist(), d["host"].tolist(), d["user"].tolist(),
        d["ua"].tolist(), d["filter"].tolist(), d["cat"].tolist(),
    )
    lines = [
        f"{dy} {h:02d}:{m:02d}:{s:02d} {tk} 10.{ip}.0.8 {st} {ACTIONS[ac]} "
        f"{sb} {cb} {METHODS[me]} http h{ho}.example.net 80 /p/{ho % 97} "
        f"?q={tk} u{us} G{us % 7} h{ho}.example.net text/html - "
        f"\"{USER_AGENTS[ua]}\" {FILTERS[fi]} \"{CATEGORIES[ca]}\" - 203.0.113.9"
        for dy, h, m, s, tk, ip, st, ac, sb, cb, me, ho, us, ua, fi, ca in cols
    ]
    for i, part in enumerate(_file_slices(len(lines))):
        with open(out / f"proxy-{i:02d}.log", "w") as f:
            f.write(HEADER + "\n")
            f.write("\n".join(lines[part]))
            f.write("\n")


def _logs_truth(d: dict[str, np.ndarray]) -> dict[str, dict]:
    """Expected groups of the hour x user format: per group id, the
    line count, the host histogram and the sorted category union."""
    g = (d["sec"] // 3600) * N_USERS + d["user"]
    df = pd.DataFrame({"g": g, "host": d["host"], "cat": d["cat"]})
    rows: dict[str, dict] = {}
    gid = {}
    for g_, n in df.groupby("g").size().items():
        gid[g_] = f"{g_ // N_USERS:02d}_u{g_ % N_USERS}"
        rows[gid[g_]] = {"logs": int(n), "hosts": {}, "cats": []}
    for (g_, host), n in df.groupby(["g", "host"]).size().items():
        rows[gid[g_]]["hosts"][f"h{host}.example.net"] = int(n)
    for g_, cat in df.groupby(["g", "cat"]).size().index:
        rows[gid[g_]]["cats"].append(CATEGORIES[cat])
    for row in rows.values():
        row["cats"].sort()
    return rows


def merge_truths(truths: list[dict[str, dict]]) -> dict[str, dict]:
    """The expected groups of several log files read together: counts
    and host histograms add up, category unions join."""
    out: dict[str, dict] = {}
    for truth in truths:
        for gid, t in truth.items():
            o = out.setdefault(gid, {"logs": 0, "hosts": {}, "cats": []})
            o["logs"] += t["logs"]
            for host, n in t["hosts"].items():
                o["hosts"][host] = o["hosts"].get(host, 0) + n
            o["cats"] = sorted(set(o["cats"]) | set(t["cats"]))
    return out


def proxy_logs(cache: Path, seed: int, n_lines: int) -> tuple[list[str], list[dict]]:
    """(log file paths, the expected groups of each file) for ``seed``;
    generated on first use."""
    d = cache / f"logs-{seed}-{n_lines}"
    truth_file = d / "truth.pkl"
    if not truth_file.exists():
        tmp = _fresh(d)
        cols = _draw_logs(seed, n_lines)
        _write_log_files(cols, tmp)
        truths = [_logs_truth({k: v[part] for k, v in cols.items()})
                  for part in _file_slices(n_lines)]
        with open(tmp / "truth.pkl", "wb") as f:
            pickle.dump(truths, f)
        tmp.rename(d)
    with open(truth_file, "rb") as f:
        truths = pickle.load(f)
    return sorted(str(p) for p in d.glob("proxy-*.log")), truths


# ------------------------------------------------------------- corpus

VOCAB = 6000
DOC_WORDS = (60, 140)
CLUSTER_FRAC = 0.35   # share of docs that belong to a planted cluster
CLUSTER_SIZE = (2, 6)
MUTATION = (0.005, 0.09)  # per-variant word-mutation rate range


def _vocab(rng: np.random.Generator) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, VOCAB)
    words = {"".join(rng.choice(letters, k)) for k in lens}
    return sorted(words)


def _draw_docs(seed: int, n_docs: int) -> list[str]:
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    wp = _zipf_p(len(vocab), 0.8)
    docs: list[str] = []

    def fresh() -> np.ndarray:
        return rng.choice(len(vocab), rng.integers(*DOC_WORDS), p=wp)

    while len(docs) < n_docs:
        base = fresh()
        if rng.random() < CLUSTER_FRAC / (sum(CLUSTER_SIZE) / 2):
            size = int(rng.integers(CLUSTER_SIZE[0], CLUSTER_SIZE[1] + 1))
            members = [base]
            for _ in range(size - 1):
                v = base.copy()
                rate = rng.uniform(*MUTATION)
                hit = rng.random(len(v)) < rate
                v[hit] = rng.choice(len(vocab), int(hit.sum()), p=wp)
                members.append(v)
        else:
            members = [base]
        for m in members:
            docs.append(" ".join(vocab[i] for i in m))
    docs = docs[:n_docs]
    order = rng.permutation(len(docs))  # clusters do not sit in one id range
    return [docs[i] for i in order]


def _oracle_clusters(parquet: Path) -> dict[int, int]:
    """Expected (doc_id -> cluster_id) from the package's DuckDB oracle."""
    import duckdb

    from cybersecurity_miw_spark.catalog import ORACLE

    # DuckDB inlines a CTE at every reference, so the recursive closure
    # would recompute the Jaccard join on each step; materializing it
    # changes the cost, not the result
    sql = ORACLE["dup_clusters_cc"].replace(
        "dup_pairs AS (", "dup_pairs AS MATERIALIZED (", 1
    )
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{parquet}')"
        )
        rows = con.execute(sql).fetchall()
    finally:
        con.close()
    return {int(a): int(b) for a, b in rows}


def corpus(cache: Path, seed: int, n_docs: int) -> tuple[str, dict[int, int]]:
    """(directory holding ``documents.parquet``, expected clusters)
    for ``seed``."""
    d = cache / f"docs-{seed}-{n_docs}"
    truth_file = d / "clusters.json"
    if not truth_file.exists():
        tmp = _fresh(d)
        frame = pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64),
                              "text": _draw_docs(seed, n_docs)})
        # several row groups, as a writer of a bigger corpus would emit
        frame.to_parquet(tmp / "documents.parquet", index=False,
                         row_group_size=max(1, n_docs // 8))
        clusters = _oracle_clusters(tmp / "documents.parquet")
        with open(tmp / "clusters.json", "w") as f:
            json.dump(sorted(clusters.items()), f)
        tmp.rename(d)
    with open(truth_file) as f:
        clusters = {int(a): int(b) for a, b in json.load(f)}
    return str(d), clusters


def _fresh(final: Path) -> Path:
    """An empty staging directory beside ``final``; renamed into place
    once complete, so an interrupted run never leaves a half cache."""
    tmp = final.with_name(final.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    return tmp


def main(argv: list[str]) -> None:
    """``gen.py logs|docs <seed> <size> <cache dir>``: fill the cache.
    The benchmark runs this in a child process so that generation does
    not count towards its own peak memory."""
    kind, seed, size, cache = argv
    make = proxy_logs if kind == "logs" else corpus
    make(Path(cache), int(seed), int(size))


if __name__ == "__main__":
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    main(sys.argv[1:])
