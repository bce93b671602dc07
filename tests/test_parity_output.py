"""Output-shape parity goldens (§2.6): the README demo
(/root/reference/README.md:99-103 — proxy_format over the 4-line
web_proxy sample, "2 keys, 4 logs") rendered through the
reference-shape JSON/CSV sinks (miw/log_record.cc:649-745).

The fixture is the reference's own public sample
(/root/reference/data/web_proxy_10lines.log) committed under
tests/fixtures. Expected values are derived from the reference
serializer's rules; deterministic stand-ins for its merge-order-
dependent outputs are documented in sources/parity.py (here visible as
time-taken = min of the group, union values sorted).
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from cybersecurity_miw_spark.job import MiwJob
from cybersecurity_miw_spark.sources import parity
from tests.reference_checkout import needs_reference

FIXTURE = str(Path(__file__).parent / "fixtures" / "web_proxy_10lines.log")
PROXY_FORMAT = "/root/reference/miw/formats/proxy_format.json"

EXPECTED_HEADER = (
    "c-ip,cs(Referer),cs(User-Agent),cs-auth-group,cs-bytes,cs-categories,"
    "cs-host,cs-method,cs-uri-path,cs-uri-port,cs-uri-query,cs-uri-scheme,"
    "cs-username,date,format_name,id,logs,rs(Content-Type),s-action,s-ip,"
    "s-supplier-name,sc-bytes,sc-filter-result,sc-status,std_date_dt,time,"
    "time-taken,x-virus-id"
)

# README demo result: 2 groups of 2 logs each, ordered id-asc at equal
# logs (miw/mr_job.h:212-225). Mean fields divided out at output
# (sc-bytes (1130+1453)/2, cs-bytes (573+657)/2 for the "-" group);
# multi-value union rendered "[a,b]"; single-value union scalar.
EXPECTED_CSV = [
    '"192.185.14.69","-","Mozilla/5.0 (Windows NT 5.1) AppleWebKit/537.11 '
    '(KHTML, like Gecko) Chrome/23.0.1271.64 Safari/537.11","-",615,"none",'
    '"solution.weborama.fr","GET","/fcgi-bin/adserv.fcgi",80,'
    '"?tag=849080&f=10&h=R&rnd=[RANDOM]","http","-","2012-11-30","proxy",'
    '"2012-11-30_23_-",2,"-","TCP_DENIED","247.146.12.194","-",1291.5,'
    '"DENIED","407","2012-11-30T23:00:00Z","23",1,"-"',
    '"192.185.14.69","-","Mozilla/5.0 (Windows NT 5.1) AppleWebKit/537.11 '
    '(KHTML, like Gecko) Chrome/23.0.1271.64 Safari/537.11",'
    '"FRtmCYpO\\v81_xK19161g_l6e",1097,'
    '"[Advertisements,Information Technology]","bs.serving-sys.com","GET",'
    '"/BurstingPipe/adServer.bs",80,"?cn=rsb&c=28","http","NqO3SB",'
    '"2012-11-30","proxy","2012-11-30_23_NqO3SB",2,"text/html",'
    '"TCP_NC_MISS","247.146.12.194","bs.serving-sys.com",2060.5,"OBSERVED",'
    '"200","2012-11-30T23:00:00Z","23",83,"-"',
]


@pytest.fixture(scope="module")
def proxy_result(spark):
    job = MiwJob(format=PROXY_FORMAT, files=FIXTURE)
    return job.result(spark), job.result_ldef


@needs_reference(PROXY_FORMAT)
def test_csv_header_alphabetical(proxy_result):
    df, ldef = proxy_result
    assert parity.csv_header(df, ldef) == EXPECTED_HEADER


@needs_reference(PROXY_FORMAT)
def test_csv_lines_reference_shape(proxy_result):
    df, ldef = proxy_result
    lines = [r[0] for r in parity.csv_lines(df, ldef).collect()]
    assert lines == EXPECTED_CSV


@needs_reference(PROXY_FORMAT)
def test_json_lines_reference_shape(proxy_result):
    df, ldef = proxy_result
    lines = [r[0] for r in parity.json_lines(df, ldef).collect()]
    assert len(lines) == 2
    recs = [json.loads(ln) for ln in lines]

    # keys byte-wise alphabetical in the serialized text (jsoncpp map)
    for ln in lines:
        keys = [k for k, _ in json.loads(
            ln, object_pairs_hook=lambda pairs: pairs)]
        assert keys == sorted(keys)

    by_id = {r["id"]: r for r in recs}
    assert set(by_id) == {"2012-11-30_23_-", "2012-11-30_23_NqO3SB"}

    dash = by_id["2012-11-30_23_-"]
    assert dash["logs"] == 2
    assert dash["sc-bytes"] == 1291.5  # mean divided at output
    assert dash["cs-bytes"] == 615.0
    assert dash["sc-filter-result"] == "DENIED"  # 1 value → scalar
    assert dash["std_date_dt"] == "2012-11-30T23:00:00Z"
    assert dash["format_name"] == "proxy"

    nqo = by_id["2012-11-30_23_NqO3SB"]
    # 2 distinct union values → array (sorted; reference: insertion)
    assert nqo["cs-categories"] == ["Advertisements", "Information Technology"]
    assert nqo["time"] == "23"


@needs_reference(PROXY_FORMAT)
def test_readme_demo_topk(proxy_result, capsys):
    """The README's console output: 2 keys, 2 logs each
    (/root/reference/README.md:99-103)."""
    from cybersecurity_miw_spark.sources import sinks

    df, ldef = proxy_result
    rows = sinks.show_top(df, ldef, k=5)
    assert [(r["id"], r["logs"]) for r in rows] == [
        ("2012-11-30_23_-", 2),
        ("2012-11-30_23_NqO3SB", 2),
    ]


def test_store_content_companion_records(spark):
    """-store_content emits the reference's companion JSON record per
    group: {"content":{"add":<lines>},"id":"<id>_content",
    "original_size":N} (miw/mr_job.cc:135-143)."""
    from cybersecurity_miw_spark.job import MiwJob
    from cybersecurity_miw_spark.sources.parity import json_lines

    fmt = {
        "format_name": "c",
        "delims": ",",
        "fields": [
            {"name": "k", "pos": 0, "type": "string", "key": True},
            {"name": "v", "pos": 1, "type": "int",
             "aggregated": True, "aggregation": "sum"},
        ],
    }
    job = MiwJob(format=fmt, lines=["a,1", "a,2", "b,5"], store_content=True)
    rows = [
        r["value"] for r in json_lines(job.result(spark), job.result_ldef).collect()
    ]
    # each row carries the main record and its companion on two lines
    lines = sorted(ln for r in rows for ln in r.split("\n"))
    assert lines == [
        '{"content":{"add":"a,1\\na,2\\n"},"id":"a_content","original_size":8}',
        '{"content":{"add":"b,5\\n"},"id":"b_content","original_size":4}',
        '{"format_name":"c","id":"a","k":"a","logs":2,'
        '"std_date_dt":"0000-00-00T00:00:00Z","v":3}',
        '{"format_name":"c","id":"b","k":"b","logs":1,'
        '"std_date_dt":"0000-00-00T00:00:00Z","v":5}',
    ]


@needs_reference(PROXY_FORMAT)
def test_compressed_flag_gzips_line_sinks_byte_exact(spark, tmp_path):
    """-compressed (the reference's stored-content snappy flag,
    log_record.cc:351-357, mapped to sink codecs): the json sink
    writes .gz parts whose DECOMPRESSED bytes equal the uncompressed
    run exactly."""
    import glob
    import gzip

    plain_dir = str(tmp_path / "plain")
    gz_dir = str(tmp_path / "gz")
    MiwJob(format=PROXY_FORMAT, files=FIXTURE).run(
        spark, output_format="json", output_path=plain_dir
    )
    MiwJob(format=PROXY_FORMAT, files=FIXTURE, compressed=True).run(
        spark, output_format="json", output_path=gz_dir
    )

    def lines_of(pattern, opener):
        out = []
        for f in sorted(glob.glob(pattern)):
            with opener(f, "rt") as fh:
                out.extend(fh.read().splitlines())
        return sorted(out)

    plain = lines_of(f"{plain_dir}/part-*.txt", open)
    gz_parts = glob.glob(f"{gz_dir}/part-*.gz")
    assert gz_parts, "compressed run must emit .gz parts"
    gz = lines_of(f"{gz_dir}/part-*.gz", gzip.open)
    assert gz == plain and len(plain) == 2
