"""End-to-end golden tests mirroring the reference's gtest suite
(reference: tests/ut-mr-parsing.cc) — each runs a tiny fixture log
through a format and asserts exact aggregate values.

Golden values are the reference's own published expectations (cited
per test); floats are float64 — where the reference computed in
float32 (ratio), the float64 oracle value is used and the divergence
documented.
"""

import pytest

from cybersecurity_miw_spark.job import MiwJob
from tests.reference_checkout import needs_reference
from tests.test_parity_output import PROXY_FORMAT

FIX = "tests/fixtures"


def _fmt(name, fields, delims=",", **kw):
    return {
        "format_name": name,
        "delims": delims,
        "quotechar": kw.pop("quotechar", '"'),
        **kw,
        "fields": fields,
    }


def test_sum(spark):
    # reference golden: v1=16, v2=17 (tests/ut-mr-parsing.cc:402-403)
    fmt = _fmt(
        "sum",
        [
            {"name": "id", "pos": 0, "type": "int", "key": True},
            {"name": "v1", "pos": 1, "type": "int", "aggregated": True, "aggregation": "sum"},
            {"name": "v2", "pos": 2, "type": "float", "aggregated": True, "aggregation": "sum"},
        ],
    )
    rows = MiwJob(fmt, files=f"{FIX}/sum.log").run(spark).collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert r["id"] == "1"
    assert r["v1"] == 16
    assert r["v2"] == pytest.approx(17.0)
    assert r["logs"] == 6


def test_variance(spark):
    # reference golden: var=1.8666666666666671 on 3,1,5,3,2,2
    # (tests/ut-mr-parsing.cc:159); float64: 1.8666666666666667
    fmt = _fmt(
        "variance",
        [
            {"name": "id", "pos": 0, "type": "int", "key": True},
            {"name": "var", "pos": 1, "type": "float", "aggregated": True, "aggregation": "variance"},
        ],
    )
    r = MiwJob(fmt, files=f"{FIX}/variance.log").run(spark).collect()[0].asDict()
    assert r["var"] == pytest.approx(1.8666666666666667)


def test_variance_mean_sum_same_pos(spark):
    # three aggregates of the same token position
    # (tests/ut-mr-parsing.cc:190-192)
    fmt = _fmt(
        "variance-mean",
        [
            {"name": "id", "pos": 0, "type": "int", "key": True},
            {"name": "variance", "pos": 1, "type": "int", "aggregated": True, "aggregation": "variance"},
            {"name": "mean", "pos": 1, "type": "int", "aggregated": True, "aggregation": "mean"},
            {"name": "sum", "pos": 1, "type": "int", "aggregated": True, "aggregation": "sum"},
        ],
    )
    r = MiwJob(fmt, files=f"{FIX}/variance.log").run(spark).collect()[0].asDict()
    assert r["variance"] == pytest.approx(1.8666666666666667)
    assert r["mean"] == pytest.approx(2.6666666666666665)
    assert r["sum"] == 16


def test_variance_single_row_group_is_zero(spark):
    # reference formula discards Bessel at n=1 → 0, not NULL
    # (miw/log_record.cc:637)
    fmt = _fmt(
        "variance",
        [
            {"name": "id", "pos": 0, "type": "int", "key": True},
            {"name": "var", "pos": 1, "type": "float", "aggregated": True, "aggregation": "variance"},
        ],
    )
    rows = MiwJob(fmt, lines=["7,4"]).run(spark).collect()
    assert rows[0]["var"] == 0.0


def test_ratio(spark):
    # sums i1=16 i2=28 f1=16 f2=28 logs=6; float64 oracle
    # 16/28 = 0.5714285714285714, 16/6 = 2.6666666666666665
    # (reference float32 artifacts documented: ut-mr-parsing.cc:432-434)
    fmt = _fmt(
        "ratio",
        [
            {"name": "id", "pos": 0, "type": "int", "key": True},
            {"name": "i1", "pos": 1, "type": "int", "aggregated": True, "aggregation": "sum"},
            {"name": "i2", "pos": 2, "type": "int", "aggregated": True, "aggregation": "sum"},
            {"name": "f1", "pos": 3, "type": "float", "aggregated": True, "aggregation": "sum"},
            {"name": "f2", "pos": 4, "type": "float", "aggregated": True, "aggregation": "sum"},
            {"name": "iratio", "type": "float", "aggregated": True, "aggregation": "ratio", "numerator": "i1", "denominator": "i2"},
            {"name": "fratio", "type": "float", "aggregated": True, "aggregation": "ratio", "numerator": "f1", "denominator": "f2"},
            {"name": "tratio", "type": "float", "aggregated": True, "aggregation": "ratio", "numerator": "f1", "denominator": "logs"},
        ],
    )
    r = MiwJob(fmt, files=f"{FIX}/ratio.log").run(spark).collect()[0].asDict()
    assert r["iratio"] == pytest.approx(0.5714285714285714)
    assert r["fratio"] == pytest.approx(0.5714285714285714)
    assert r["tratio"] == pytest.approx(2.6666666666666665)


def test_filter_contain(spark):
    # reference golden: denied_count=2, ok_count=3
    # (tests/ut-mr-parsing.cc:223-224)
    fmt = _fmt(
        "filter",
        [
            {"name": "id", "pos": 0, "type": "int", "key": True},
            {"name": "str", "pos": 1, "type": "string"},
            {"name": "denied_count", "pos": 1, "type": "int", "filter": "denied", "filter_type": "contain"},
            {"name": "ok_count", "pos": 1, "type": "int", "filter": "ok", "filter_type": "contain"},
        ],
    )
    r = MiwJob(fmt, files=f"{FIX}/string.log").run(spark).collect()[0].asDict()
    assert r["denied_count"] == 2
    assert r["ok_count"] == 3


def _match_fmt(match):
    return _fmt(
        "match",
        [
            {"name": "id", "pos": 0, "type": "string", "key": True},
            {"name": "val", "pos": 1, "type": "string"},
            {"name": "testmatch", "pos": 1, "type": "string", "match": match},
        ],
    )


def test_match_substring_and(spark):
    # "OK" ⊂ "OOKK" keeps rows 1,2; row 3 "KO" dropped
    # (tests/ut-mr-parsing.cc:258-259)
    fmt = _match_fmt({"match_str": "OK", "logic": "and"})
    rows = MiwJob(fmt, files=f"{FIX}/matching.log").run(spark).collect()
    assert sorted(r["id"] for r in rows) == ["1", "2"]
    assert all(r["val"] == "OOKK" for r in rows)


def test_match_exact(spark):
    # only val=="OK" rows survive (tests/ut-mr-parsing.cc:330)
    fmt = _match_fmt({"match_str": "OK", "logic": "and", "exact": True})
    rows = MiwJob(fmt, files=f"{FIX}/matching_exact.log").run(spark).collect()
    assert sorted(r["id"] for r in rows) == ["1", "2"]


def test_match_exact_negative(spark):
    # KO dropped; OK, OK, KO2 survive (KO2 != KO under exact)
    # (tests/ut-mr-parsing.cc:370-371)
    fmt = _match_fmt({"match_str": "KO", "logic": "and", "negative": True, "exact": True})
    rows = MiwJob(fmt, files=f"{FIX}/matching_exact.log").run(spark).collect()
    assert sorted(r["id"] for r in rows) == ["1", "2", "4"]


def test_match_file_negative(spark):
    # file-backed set {KO,NA}, negative substring → rows 2,3 dropped
    # (miw/formats/tests/match_file.json; semantics
    # miw/log_format.cc:369-397)
    fmt = _match_fmt(
        {"match_file": f"{FIX}/match_values.txt", "logic": "and", "negative": True}
    )
    rows = MiwJob(fmt, files=f"{FIX}/matching_file.log").run(spark).collect()
    assert sorted(r["id"] for r in rows) == ["1", "4"]


def test_proxy_demo_pipeline(spark):
    """The README demo (README.md:85-103): quote-aware tokenization,
    date day-bucket + time hour-bucket keys, mean/union aggregates →
    2 groups of 2 from 4 logs, keys 2012-11-30_23_NqO3SB and
    2012-11-30_23_-."""
    fmt = _fmt(
        "proxy_format",
        [
            {"name": "date", "pos": 0, "type": "date", "date_format": "%Y-%m-%d", "key": True, "processing": "day"},
            {"name": "time", "pos": 1, "type": "time", "key": True, "processing": "hour"},
            {"name": "time-taken", "pos": 2, "type": "int"},
            {"name": "c-ip", "pos": 3, "type": "string"},
            {"name": "sc-status", "pos": 4, "type": "string"},
            {"name": "s-action", "pos": 5, "type": "string"},
            {"name": "sc-bytes", "pos": 6, "type": "int", "aggregated": True, "aggregation": "mean"},
            {"name": "cs-bytes", "pos": 7, "type": "int", "aggregated": True, "aggregation": "mean"},
            {"name": "cs-method", "pos": 8, "type": "string"},
            {"name": "cs-uri-scheme", "pos": 9, "type": "string"},
            {"name": "cs-host", "pos": 10, "type": "string"},
            {"name": "cs-uri-port", "pos": 11, "type": "int"},
            {"name": "cs-uri-path", "pos": 12, "type": "string"},
            {"name": "cs-uri-query", "pos": 13, "type": "string"},
            {"name": "cs-username", "pos": 14, "type": "string", "key": True},
            {"name": "cs-auth-group", "pos": 15, "type": "string"},
            {"name": "s-supplier-name", "pos": 16, "type": "string"},
            {"name": "rs(Content-Type)", "pos": 17, "type": "string"},
            {"name": "cs(Referer)", "pos": 18, "type": "string"},
            {"name": "cs(User-Agent)", "pos": 19, "type": "string"},
            {"name": "sc-filter-result", "pos": 20, "type": "string", "aggregated": True, "aggregation": "union"},
            {"name": "cs-categories", "pos": 21, "type": "string", "aggregated": True, "aggregation": "union"},
            {"name": "x-virus-id", "pos": 22, "type": "string", "aggregated": True, "aggregation": "union"},
            {"name": "s-ip", "pos": 23, "type": "string"},
        ],
        delims=" ",
        commentchar="#",
    )
    df = MiwJob(fmt, files=f"{FIX}/web_proxy.log").run(spark)
    rows = {r["id"]: r.asDict() for r in df.collect()}
    assert set(rows) == {"2012-11-30_23_NqO3SB", "2012-11-30_23_-"}
    assert rows["2012-11-30_23_NqO3SB"]["logs"] == 2
    assert rows["2012-11-30_23_-"]["logs"] == 2
    # quote re-joining: the quoted User-Agent stays one token, so
    # sc-filter-result lands at pos 20
    assert rows["2012-11-30_23_-"]["sc-filter-result"] == ["DENIED"]
    assert rows["2012-11-30_23_NqO3SB"]["cs-categories"] == [
        "Advertisements",
        "Information Technology",
    ]
    # mean of sc-bytes for the denied group: (1000+1400)/2
    assert rows["2012-11-30_23_-"]["sc-bytes"] == pytest.approx(1200.0)


def test_appname_suffix(spark):
    # appname suffixes the composite key (miw/log_format.cc:591-592)
    fmt = _fmt(
        "sum",
        [
            {"name": "id", "pos": 0, "type": "int", "key": True},
            {"name": "v1", "pos": 1, "type": "int", "aggregated": True, "aggregation": "sum"},
        ],
    )
    rows = MiwJob(fmt, lines=["1,2", "1,3"], appname="app7").run(spark).collect()
    assert rows[0]["id"] == "1_app7"
    assert rows[0]["v1"] == 5


def test_ip4_roundtrip_validation_and_cidr(spark):
    from pyspark.sql import functions as F

    from cybersecurity_miw_spark.functions import net

    df = spark.createDataFrame(
        [
            ("0.0.0.0", 0),
            ("255.255.255.255", 4294967295),
            ("10.1.2.3", 167838211),
            ("192.168.0.1", 3232235521),
        ],
        "ip STRING, want LONG",
    )
    rows = df.select(
        "ip", "want",
        net.ip4_to_long(F.col("ip")).alias("got"),
        net.long_to_ip4(F.col("want")).alias("back"),
    ).collect()
    for r in rows:
        assert r["got"] == r["want"], r
        assert r["back"] == r["ip"], r

    bad = spark.createDataFrame(
        [("256.1.1.1",), ("1.2.3",), ("01a.2.3.4",), ("1.2.3.4.5",),
         ("",), (None,)],
        "ip STRING",
    )
    got = bad.select(net.ip4_to_long(F.col("ip")).alias("v")).collect()
    assert all(r["v"] is None for r in got)

    ips = spark.createDataFrame(
        [("10.0.0.1",), ("10.255.255.254",), ("11.0.0.0",),
         ("192.168.5.7",), ("not-an-ip",), (None,)],
        "ip STRING",
    )
    r = {
        row["ip"]: (row["in10"], row["any"])
        for row in ips.select(
            "ip",
            net.cidr_contains("10.0.0.0/8", F.col("ip")).alias("in10"),
            net.cidr_match_any(
                ["10.0.0.0/8", "192.168.0.0/16"], F.col("ip")
            ).alias("any"),
        ).collect()
    }
    assert r["10.0.0.1"] == (True, True)
    assert r["10.255.255.254"] == (True, True)
    assert r["11.0.0.0"] == (False, False)
    assert r["192.168.5.7"] == (False, True)
    assert r["not-an-ip"] == (False, False)
    assert r[None] == (False, False)

    # /0 matches everything valid; /32 only the exact host
    allr = ips.where(
        net.cidr_contains("0.0.0.0/0", F.col("ip"))
    ).count()
    assert allr == 4
    one = ips.where(
        net.cidr_contains("192.168.5.7/32", F.col("ip"))
    ).count()
    assert one == 1

    import pytest as _pytest
    for badc in ("10.0.0.0", "300.0.0.0/8", "10.0.0.0/33", "x/8"):
        with _pytest.raises(ValueError):
            net.cidr_contains(badc, F.col("ip"))


@needs_reference(PROXY_FORMAT)
def test_gzip_logs_read_transparently(spark, tmp_path):
    """Compressed log files (the production norm) flow through the
    same CLI/job path: Spark's text source decodes .gz per file —
    one task per file (gzip is unsplittable; many files = the
    parallelism), identical results to the plain file."""
    import gzip
    import shutil

    from cybersecurity_miw_spark.job import MiwJob

    plain = "tests/fixtures/web_proxy_10lines.log"
    gz = tmp_path / "web_proxy.log.gz"
    with open(plain, "rb") as fin, gzip.open(gz, "wb") as fout:
        shutil.copyfileobj(fin, fout)

    fmt = "/root/reference/miw/formats/proxy_format.json"
    rows_plain = sorted(
        map(tuple, MiwJob(format=fmt, files=plain).result(spark).collect())
    )
    rows_gz = sorted(
        map(tuple, MiwJob(format=fmt, files=str(gz)).result(spark).collect())
    )
    assert rows_plain == rows_gz and len(rows_plain) > 0


def test_session_codegen_cache_holds_a_dedup_job(spark):
    """One warm near-dedup job compiles ~120 classes: Spark's default
    cache of 100 would evict and recompile part of them every job."""
    from cybersecurity_miw_spark.session import cluster_profile

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    assert cluster_profile()["spark.sql.codegen.cache.maxEntries"] == "1000"


def test_cluster_profile_scales_with_size(spark):
    from cybersecurity_miw_spark.session import cluster_profile

    p = cluster_profile(executors=1000, cores_per_executor=4)
    assert p["spark.sql.shuffle.partitions"] == "8000"
    assert p["spark.sql.adaptive.enabled"] == "true"
    assert int(p["spark.sql.files.maxPartitionBytes"]) == 128 * 1024 * 1024
    small = cluster_profile(executors=10, cores_per_executor=8)
    assert small["spark.sql.shuffle.partitions"] == "160"


def test_ua_parsing_families_and_versions(spark):
    from pyspark.sql import functions as F

    from cybersecurity_miw_spark.functions.strings import (
        ua_browser,
        ua_browser_version,
        ua_os,
    )

    UAS = [
        ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
         "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
         "chrome", "120", "windows"),
        ("Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 (KHTML, like "
         "Gecko) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91",
         "edge", "120", "windows"),
        ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, "
         "like Gecko) Chrome/119.0.0.0 Safari/537.36 OPR/105.0.0.0",
         "opera", "105", "linux"),
        ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/"
         "605.1.15 (KHTML, like Gecko) Version/17.1 Safari/605.1.15",
         "safari", "17", "macos"),
        ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) "
         "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.0 Mobile/"
         "15E148 Safari/604.1",
         "safari", "17", "ios"),
        ("Mozilla/5.0 (X11; Ubuntu; Linux x86_64; rv:121.0) Gecko/"
         "20100101 Firefox/121.0",
         "firefox", "121", "linux"),
        ("Mozilla/5.0 (Windows NT 6.1; Trident/7.0; rv:11.0) like Gecko",
         "ie", "11", "windows"),
        ("Mozilla/4.0 (compatible; MSIE 8.0; Windows NT 6.1)",
         "ie", "8", "windows"),
        ("Mozilla/5.0 (Linux; Android 14; Pixel 8) AppleWebKit/537.36 "
         "(KHTML, like Gecko) Chrome/120.0.6099.43 Mobile Safari/537.36",
         "chrome", "120", "android"),
        ("curl/8.4.0", "bot", None, "other"),
        ("Googlebot/2.1 (+http://www.google.com/bot.html)",
         "bot", None, "other"),
        (None, "other", None, "other"),
    ]
    df = spark.createDataFrame(
        [(ua,) for ua, *_ in UAS], "ua STRING"
    ).select(
        "ua",
        ua_browser(F.col("ua")).alias("fam"),
        ua_browser_version(F.col("ua")).alias("ver"),
        ua_os(F.col("ua")).alias("os"),
    )
    got = {r["ua"]: (r["fam"], r["ver"], r["os"]) for r in df.collect()}
    for ua, fam, ver, osname in UAS:
        assert got[ua] == (fam, ver, osname), (ua, got[ua])


@needs_reference(PROXY_FORMAT)
def test_columnar_sinks_roundtrip(spark, tmp_path):
    """parquet/orc sinks preserve the typed result schema (arrays
    stay arrays) and the full row set."""
    fmt = "/root/reference/miw/formats/proxy_format.json"
    job = MiwJob(format=fmt, files="tests/fixtures/web_proxy_10lines.log")
    want = sorted(map(tuple, job.result(spark).collect()))
    for codec in ("parquet", "orc"):
        out = str(tmp_path / codec)
        job.run(spark, output_format=codec, output_path=out, ndisp=0)
        back = sorted(map(tuple, spark.read.format(codec).load(out).collect()))
        assert back == want, codec


@needs_reference(PROXY_FORMAT)
def test_cli_explain_prints_plan_without_executing(spark, capsys, tmp_path):
    from cybersecurity_miw_spark import job as jobmod

    out = str(tmp_path / "never_written")
    jobmod.main([
        "-fnames", "tests/fixtures/web_proxy_10lines.log",
        "-format_name", "/root/reference/miw/formats/proxy_format.json",
        "-explain", "-ofname", out, "-ndisp", "0",
    ])
    printed = capsys.readouterr().out
    assert "Physical Plan" in printed
    assert "Exchange" in printed or "Scan" in printed
    import os

    assert not os.path.exists(out)  # -explain must not execute the sink


def test_a5_max_a3_count_divergence_from_reference_documented(spark):
    """Parity-honesty golden: the engine implements the DOCUMENTED
    INTENT of A5 max and A3 count, which diverges from what the
    reference binary literally computes (SURVEY §2.4). This test
    computes the reference's literal buggy result beside ours on the
    variance.log fixture so anyone byte-diffing against the C++
    binary sees the divergence pinned, not hidden.

    Reference bugs (by inspection of the merge fold,
    mr_job.cc:53-71 — host is the group's FIRST record, every later
    record merges into it):

    * A5 max (log_record.cc:171-191): ``int_field ifi =
      _ld.fields(i).int_fi()`` copies the accumulator field BY VALUE
      and sets the max on the copy — the stored value never changes,
      so the emitted "max" is just the host record's own value (the
      group's first, in fold order).
    * A3 count (log_record.cc:245-249): ``set_count(f.count() + 1)``
      REPLACES the host count with incoming.count + 1 instead of
      summing; parsed records start at count=1 (log_format.cc:521),
      so any >=2-record group ends at 2 regardless of size.
    """
    values = [3, 1, 5, 3, 2, 2]  # tests/fixtures/variance.log col 1

    # --- the reference's literal fold, modeled exactly ---
    class RefRecord:
        def __init__(self, v):
            self.reap0 = v  # int_reap(0)
            self.count = 1  # log_format.cc:521

        def merge(self, other):  # log_record::merge(this=host, lr=other)
            ifi_copy = self.reap0  # by-value copy (the bug)
            ifi_copy = max(ifi_copy, other.reap0)  # mutates the copy
            del ifi_copy  # discarded — self.reap0 unchanged
            self.count = other.count + 1  # replaces, not sums

    host = RefRecord(values[0])
    for v in values[1:]:
        host.merge(RefRecord(v))
    ref_literal_max, ref_literal_count = host.reap0, host.count
    assert ref_literal_max == 3  # first value, NOT the max
    assert ref_literal_count == 2  # group size replaced by 2

    # --- our engine: the documented intent ---
    fmt = _fmt(
        "max-count",
        [
            {"name": "id", "pos": 0, "type": "int", "key": True},
            {"name": "vmax", "pos": 1, "type": "int", "aggregated": True, "aggregation": "max"},
            {"name": "v", "pos": 1, "type": "int", "aggregated": True, "aggregation": "count"},
        ],
    )
    r = MiwJob(fmt, files=f"{FIX}/variance.log").run(spark).collect()[0].asDict()
    assert r["vmax"] == max(values) == 5
    assert r["v_count"] == len(values) == 6

    # the divergence this test exists to document
    assert r["vmax"] != ref_literal_max
    assert r["v_count"] != ref_literal_count


def test_line_stats_one_pass_accounting(spark):
    """Observation-based skipped-line accounting (the reference's
    non-quiet report): n_input counts every line, n_skipped counts
    malformed + match-filtered rows, all filled by the ONE action the
    caller was running anyway."""
    fmt = _fmt(
        "stats",
        [
            {"name": "id", "pos": 0, "type": "int", "key": True},
            {"name": "v", "pos": 1, "type": "int", "aggregated": True, "aggregation": "sum"},
        ],
    )
    job = MiwJob(fmt, lines=["1,3", "1,5", "malformed", "2,7"])
    job.enable_line_stats()
    rows = job.result(spark).collect()  # the action
    assert {r["id"]: r["v"] for r in rows} == {"1": 8, "2": 7}
    st = job.line_stats()
    assert st == {"n_input": 4, "n_parsed": 3, "n_skipped": 1}


def test_line_stats_survives_repeated_result(spark):
    """result() invites repeated calls — each parsed() must mint a
    FRESH Observation pair (Spark forbids attaching one Observation to
    two DataFrames), so a second run neither raises nor returns stale
    counts."""
    fmt = _fmt(
        "stats2",
        [
            {"name": "id", "pos": 0, "type": "int", "key": True},
            {"name": "v", "pos": 1, "type": "int", "aggregated": True, "aggregation": "sum"},
        ],
    )
    job = MiwJob(fmt, lines=["1,3", "bad", "2,7"])
    job.enable_line_stats()
    job.result(spark).collect()
    assert job.line_stats() == {"n_input": 3, "n_parsed": 2, "n_skipped": 1}
    # second full run on the SAME job object: fresh observations fill
    job.result(spark).collect()
    assert job.line_stats() == {"n_input": 3, "n_parsed": 2, "n_skipped": 1}
