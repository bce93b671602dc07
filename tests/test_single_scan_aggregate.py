"""The batch aggregation reads the parsed rows once: union_count
histograms, plain aggregates and stored content come out of one tagged
two-level aggregation (operators/aggregate.py:_tagged_aggregate).

Each case runs the batch path against a pure-Python aggregation of the
same generated lines and, where the streaming merge loop can express
the case, against ``stream_logs`` landing the lines as three files,
one trigger each (every trigger merges its summary into the stored one,
operators/aggregate.py:merge_summaries).
"""

from __future__ import annotations

import os
import random
import statistics
from collections import Counter, defaultdict

import pytest

from cybersecurity_miw_spark.job import MiwJob
from cybersecurity_miw_spark.plans.logdef import LogDef
from cybersecurity_miw_spark.streaming.merge import stream_logs

KEYS = ["alpha", "beta", "gamma", "delta"]
STATUS = ["ok", "err", "error_x", "fine"]


def _lines(seed: int = 7, n: int = 240) -> list[str]:
    """k,n,s,iu,su,v,status — v a multiple of 0.25 so sums are exact."""
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        out.append(
            ",".join(
                [
                    rng.choice(KEYS),
                    str(rng.randint(0, 5)),
                    rng.choice("wxyz"),
                    str(rng.randint(1, 4)),
                    rng.choice(["p", "q", "r", "s", "t"]),
                    str(rng.randint(0, 40) / 4),
                    rng.choice(STATUS),
                ]
            )
        )
    return out


LINES = _lines()

KEY = {"name": "k", "pos": 0, "type": "string", "key": True}
FIELDS = [
    {"name": "n", "pos": 1, "type": "int", "aggregation": "union_count"},
    {"name": "s", "pos": 2, "type": "string", "aggregation": "union_count"},
    {"name": "iu", "pos": 3, "type": "int", "aggregation": "union"},
    {"name": "su", "pos": 4, "type": "string", "aggregation": "union"},
    {"name": "c", "pos": 4, "type": "string", "aggregation": "count"},
    {"name": "v_sum", "pos": 5, "type": "float", "aggregation": "sum"},
    {"name": "v_max", "pos": 5, "type": "float", "aggregation": "max"},
    {"name": "v_mean", "pos": 5, "type": "float", "aggregation": "mean"},
    {"name": "v_var", "pos": 5, "type": "float", "aggregation": "variance"},
    {"name": "errs", "pos": 6, "type": "int", "filter": "err",
     "filter_type": "contain"},
    {"name": "err_per_log", "type": "float", "aggregation": "ratio",
     "numerator": "errs", "denominator": "logs"},
    {"name": "err_per_c", "type": "float", "aggregation": "ratio",
     "numerator": "errs", "denominator": "c"},
]


def _fmt(fields: list[dict]) -> dict:
    return {"format_name": "single_scan", "delims": ",", "fields": fields}


def _truth(lines: list[str], keyed: bool = True, limit: int | None = None):
    """id → expected output row, aggregated in plain Python."""
    groups = defaultdict(list)
    for ln in lines:
        t = ln.split(",")
        groups[t[0] if keyed else ""].append(t)
    out = {}
    for gid, rows in groups.items():
        vs = [float(t[5]) for t in rows]
        errs = sum("err" in t[6] for t in rows)
        iu = sorted(int(t[3]) for t in rows)
        su = sorted({t[4] for t in rows})
        out[gid] = {
            "logs": len(rows),
            "n_counts": dict(Counter(int(t[1]) for t in rows)),
            "s_counts": dict(Counter(t[2] for t in rows)),
            "iu": iu[:limit] if limit else iu,
            "su": su[:limit] if limit else su,
            "c_count": len(rows),
            "v_sum": sum(vs),
            "v_max": max(vs),
            "v_mean": statistics.fmean(vs),
            "v_var": statistics.variance(vs) if len(vs) > 1 else 0.0,
            "errs": errs,
            "err_per_log": errs / len(rows),
            "err_per_c": errs / len(rows),
        }
    return out


def _rows(df) -> dict:
    """Result rows keyed by ``id`` (by (file, id) in per-file mode),
    ``_file`` as a basename."""
    out = {}
    for r in df.collect():
        d = r.asDict()
        if "_file" in d:
            d["_file"] = os.path.basename(d["_file"])
            out[(d["_file"], d["id"])] = d
        else:
            out[d["id"]] = d
    return out


def _batch(spark, fmt: dict, **kw) -> dict:
    return _rows(MiwJob(fmt, **kw).result(spark))


def _streamed(spark, tmp_path, fmt: dict, lines: list[str]) -> dict:
    """The snapshot after landing ``lines`` as three files, one
    ``stream_logs`` trigger each."""
    indir, out = tmp_path / "in", str(tmp_path / "snapshot")
    indir.mkdir()
    cuts = [0, len(lines) // 3, 2 * len(lines) // 3, len(lines)]
    for i in range(3):
        part = lines[cuts[i]:cuts[i + 1]]
        (indir / f"part{i}.log").write_text("".join(ln + "\n" for ln in part))
        stream_logs(
            spark, str(indir), LogDef.from_json(fmt), str(tmp_path / "ckpt"), out
        ).awaitTermination(120)
    return _rows(spark.read.parquet(out))


def _both(spark, tmp_path, fmt: dict, lines: list[str]) -> tuple[dict, dict]:
    """(batch rows, streamed rows) for one format over ``lines``."""
    return _batch(spark, fmt, lines=lines), _streamed(spark, tmp_path, fmt, lines)


def _assert_matches(got: dict, want: dict) -> None:
    assert set(got) == set(want)
    for gid, w in want.items():
        g = got[gid]
        for col, v in w.items():
            if isinstance(v, float):
                assert g[col] == pytest.approx(v), (gid, col)
            else:
                assert g[col] == v, (gid, col)


def _assert_same(a: dict, b: dict) -> None:
    assert {g: set(r) for g, r in a.items()} == {g: set(r) for g, r in b.items()}
    _assert_matches(b, a)


def test_every_aggregation_matches_stream_and_truth(spark, tmp_path):
    batch, streamed = _both(spark, tmp_path, _fmt([KEY] + FIELDS), LINES)
    _assert_same(batch, streamed)
    _assert_matches(batch, _truth(LINES))
    # each histogram keeps its own key type
    for rows in (batch, streamed):
        assert all(isinstance(k, int) for r in rows.values() for k in r["n_counts"])
        assert all(isinstance(k, str) for r in rows.values() for k in r["s_counts"])


def test_keyless_format_is_one_global_row(spark, tmp_path):
    batch, streamed = _both(spark, tmp_path, _fmt(FIELDS), LINES)
    _assert_same(batch, streamed)
    assert list(batch) == [""]
    _assert_matches(batch, _truth(LINES, keyed=False))


def test_per_file_mode_groups_on_file(spark, tmp_path):
    parts = [LINES[:100], LINES[100:170], LINES[170:]]
    files = []
    for i, part in enumerate(parts):
        p = tmp_path / f"part{i}.log"
        p.write_text("\n".join(part) + "\n")
        files.append(str(p))
    batch = _batch(spark, _fmt([KEY] + FIELDS), files=files, merge_results=False)
    want = {
        (f"part{i}.log", gid): row
        for i, part in enumerate(parts)
        for gid, row in _truth(part).items()
    }
    _assert_matches(batch, want)


def test_union_limit_with_union_count(spark):
    batch = _batch(spark, _fmt([KEY] + FIELDS), lines=LINES, union_limit=2)
    _assert_matches(batch, _truth(LINES, limit=2))


@pytest.mark.parametrize("with_histograms", [True, False])
def test_store_content_in_the_same_aggregation(spark, with_histograms):
    fields = FIELDS if with_histograms else FIELDS[2:]
    batch = _batch(spark, _fmt([KEY] + fields), lines=LINES, store_content=True)
    want = defaultdict(list)
    for ln in LINES:
        want[ln.split(",")[0]].append(ln)
    assert {gid: sorted(r["content"]) for gid, r in batch.items()} == {
        gid: sorted(v) for gid, v in want.items()
    }


@pytest.mark.parametrize("keyed", [True, False])
def test_match_filter_empties_the_input(spark, tmp_path, keyed):
    nomatch = {"name": "m", "pos": 6, "type": "string",
               "match": {"match_str": "no-such-status"}}
    fields = ([KEY] if keyed else []) + FIELDS + [nomatch]
    batch, streamed = _both(spark, tmp_path, _fmt(fields), LINES)
    _assert_same(batch, streamed)
    if keyed:
        assert batch == {}
    else:
        # a global aggregate over no rows is still one row
        for rows in (batch, streamed):
            (row,) = rows.values()
            assert row["logs"] == 0 and row["c_count"] == 0
            assert row["n_counts"] == {} and row["s_counts"] == {}
            assert row["iu"] == [] and row["su"] == []
            assert row["v_sum"] is None and row["v_var"] == 0.0


def test_null_union_count_value(spark, tmp_path):
    """A union_count value that parses to null (a k/v field absent
    from the payload) cannot be a map key: batch and stream skip it, as
    the A8 unions skip nulls, and count the line in ``logs``."""
    fmt = _fmt([
        KEY,
        {"name": "p", "pos": 1, "type": "string", "preprocessing": "evtxcsv"},
        {"name": "user", "from_kv": "p", "type": "string",
         "aggregation": "union_count"},
    ])
    lines = ["a,p-> user=u1", "a,p-> user=u2", "a,p-> t=q", "b,p-> user=u1"]
    for got in _both(spark, tmp_path, fmt, lines):
        assert {g: (r["logs"], r["user_counts"]) for g, r in got.items()} == {
            "a": (3, {"u1": 1, "u2": 1}),
            "b": (1, {"u1": 1}),
        }

