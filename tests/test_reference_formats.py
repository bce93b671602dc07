"""Every format JSON shipped with the reference must load and compile
to a valid aggregation plan — the 'a user of the reference switches
repos and runs their formats' bar. (anon_bluecoat carries a trailing
comma: exercises the lenient jsoncpp-style parse.)
"""

from __future__ import annotations

import glob
import os

import pytest

from cybersecurity_miw_spark.plans.compiler import compile_pipeline
from cybersecurity_miw_spark.plans.logdef import LogDef
from cybersecurity_miw_spark.sources.text import from_lines
from tests.reference_checkout import needs_reference

FORMAT_GLOB = "/root/reference/miw/formats/*.json"
SKIP = {"test_json2pb.py"}

needs_reference_formats = needs_reference(os.path.dirname(FORMAT_GLOB))


def format_paths() -> list[str]:
    return sorted(glob.glob(FORMAT_GLOB))


@needs_reference_formats
@pytest.mark.parametrize(
    "path", format_paths(), ids=[os.path.basename(p) for p in format_paths()]
)
def test_format_loads_and_compiles(spark, path):
    ldef = LogDef.load(path)
    assert ldef.fields
    # a line with enough tokens that projection keeps the row; values
    # are nonsense — the point is the plan resolves and executes
    n = ldef.max_pos + 1
    line = ldef.delims[0].join(f"v{i}" for i in range(n))
    df = from_lines(spark, [line, line], ldef)
    out = compile_pipeline(df, ldef)
    rows = out.collect()
    assert len(rows) >= 0  # plan executed
    assert "id" in out.columns and "logs" in out.columns


def test_dotted_key_field_with_store_content(spark):
    """Dotted/spaced key names (firewall_checkpoint's 'H.323 message'
    style) must survive the store_content group/join path too."""
    from cybersecurity_miw_spark.job import MiwJob

    fmt = {
        "format_name": "dot",
        "delims": ",",
        "fields": [
            {"name": "H.323 msg", "pos": 0, "type": "string", "key": True},
            {"name": "v", "pos": 1, "type": "int",
             "aggregated": True, "aggregation": "sum"},
        ],
    }
    job = MiwJob(format=fmt, lines=["a,1", "a,2", "b,5"], store_content=True)
    rows = sorted(
        (r["H.323 msg"], r["v"], sorted(r["content"]))
        for r in job.result(spark).collect()
    )
    assert rows == [("a", 3, ["a,1", "a,2"]), ("b", 5, ["b,5"])]


def test_gzip_log_ingestion(spark, tmp_path):
    """Compressed logs read transparently (spark.text handles .gz) —
    the reference requires uncompressed input; at scale logs arrive
    gzipped."""
    import gzip

    from cybersecurity_miw_spark.job import MiwJob

    p = tmp_path / "logs.gz"
    with gzip.open(p, "wt") as f:
        f.write("a,1\na,2\nb,5\n")
    fmt = {
        "format_name": "gz",
        "delims": ",",
        "fields": [
            {"name": "k", "pos": 0, "type": "string", "key": True},
            {"name": "v", "pos": 1, "type": "int",
             "aggregated": True, "aggregation": "sum"},
        ],
    }
    job = MiwJob(format=fmt, files=str(p))
    rows = {r["k"]: r["v"] for r in job.result(spark).collect()}
    assert rows == {"a": 3, "b": 5}


# ---- binary .fmt protobuf loading (miw/log_format.cc:62-77) ----

FMT_DIR = "/root/reference/miw/formats"
FMT_PATHS = sorted(glob.glob(f"{FMT_DIR}/*.fmt"))

# .fmt files whose shipped binary is byte-verifiably STALE relative to
# the current JSON sibling (compiled from an older/broken source by the
# reference's own toolchain — the binary literally lacks the JSON's
# bytes, e.g. squid3's .fmt contains no "root"/"404" substrings, and
# McAfee.fmt carries format_name "paloalto"). For these we assert the
# decoder reads what is actually in the binary.
STALE_FMT = {
    "McAfee.fmt",
    "anon_bluecoat_format.fmt",
    "evtx.fmt",
    "proxy_format.fmt",
    "squid3_search_test.fmt",
}


def _clean_dict(ldef: LogDef) -> dict:
    import dataclasses

    d = dataclasses.asdict(ldef)
    d.pop("base_dir")
    return d


@needs_reference_formats
@pytest.mark.parametrize(
    "path", FMT_PATHS, ids=[os.path.basename(p) for p in FMT_PATHS]
)
def test_fmt_decodes_and_validates(path):
    """Every shipped binary .fmt decodes to a validated LogDef."""
    ldef = LogDef.load(path)
    assert ldef.fields and ldef.delims


@needs_reference_formats
@pytest.mark.parametrize(
    "path",
    [p for p in FMT_PATHS if p.rsplit("/", 1)[-1] not in STALE_FMT],
    ids=[
        os.path.basename(p)
        for p in FMT_PATHS
        if p.rsplit("/", 1)[-1] not in STALE_FMT
    ],
)
def test_fmt_identical_to_json_sibling(path):
    """Where the shipped binary is in sync with its JSON source, the
    .fmt decode is field-for-field identical to the JSON load."""
    assert _clean_dict(LogDef.load(path)) == _clean_dict(
        LogDef.load(path[: -len(".fmt")] + ".json")
    )


@needs_reference_formats
def test_fmt_stale_binaries_decode_faithfully():
    """The 5 stale binaries decode to exactly what their bytes say:
    evidence that the DIFFERENCES are reference-side compile artifacts,
    not decoder bugs."""
    mcafee = LogDef.load(f"{FMT_DIR}/McAfee.fmt")
    # compiled from a source whose format_name said "paloalto"
    assert mcafee.format_name == "paloalto"
    assert _clean_dict(mcafee)["fields"] == _clean_dict(
        LogDef.load(f"{FMT_DIR}/McAfee.json")
    )["fields"]

    # the old compiler wrote match_str per-character (last char wins):
    # the binary contains 't' where the JSON says 'root', etc.
    squid = LogDef.load(f"{FMT_DIR}/squid3_search_test.fmt")
    stubs = [f.match.match_str for f in squid.fields if f.match]
    assert stubs == ["t", "4", "T"]

    evtx = LogDef.load(f"{FMT_DIR}/evtx.fmt")
    offsets = {f.name: f.processing_offset for f in evtx.fields}
    assert offsets["time"] == 2  # JSON sibling says 10

    proxy = LogDef.load(f"{FMT_DIR}/proxy_format.fmt")
    aggs = {f.name: f.aggregation for f in proxy.fields}
    assert aggs["sc-filter-result"] == "union_count"  # JSON says union


@needs_reference_formats
def test_fmt_end_to_end_equals_json(spark):
    """A .fmt-driven job produces the same result as its JSON twin
    (evtx2, whose shipped binary is in sync)."""
    from cybersecurity_miw_spark.job import MiwJob
    from tests.test_evtx_dynamic import EVTX2_LINES

    a = MiwJob(format=f"{FMT_DIR}/evtx2.fmt", lines=EVTX2_LINES).result(spark)
    b = MiwJob(format=f"{FMT_DIR}/evtx2.json", lines=EVTX2_LINES).result(spark)
    assert a.columns == b.columns
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# ---- binary .fmt writing (miw/formats/format_json2pb.py:9-19) ----


@needs_reference_formats
@pytest.mark.parametrize(
    "path", FMT_PATHS, ids=[os.path.basename(p) for p in FMT_PATHS]
)
def test_fmt_save_load_roundtrip(path, tmp_path):
    """save_fmt is the write half of the format tooling: every shipped
    .fmt survives decode → encode → decode with identical fields."""
    from cybersecurity_miw_spark.plans.fmtproto import save_fmt

    ldef = LogDef.load(path)
    out = tmp_path / "roundtrip.fmt"
    save_fmt(ldef, out)
    assert _clean_dict(LogDef.load(out)) == _clean_dict(ldef)


@needs_reference_formats
def test_fmt_save_from_json_equals_shipped_decode(tmp_path):
    """Compiling a JSON format with save_fmt yields a binary that
    decodes identically to the JSON load — the json2pb workflow."""
    from cybersecurity_miw_spark.plans.fmtproto import save_fmt

    for path in FMT_PATHS:
        name = path.rsplit("/", 1)[-1]
        if name in STALE_FMT:
            continue  # their JSON sibling no longer matches the binary
        src = LogDef.load(path[: -len(".fmt")] + ".json")
        out = tmp_path / name
        save_fmt(src, out)
        assert _clean_dict(LogDef.load(out)) == _clean_dict(src), name


def test_fmt_save_rejects_from_kv_fields(tmp_path):
    """from_kv is a Spark-side schema extension with no proto tag; the
    writer refuses it instead of silently dropping the semantics."""
    from cybersecurity_miw_spark.plans.fmtproto import save_fmt
    from cybersecurity_miw_spark.plans.logdef import Field

    ldef = LogDef(
        format_name="kvtest",
        delims=",",
        fields=[
            Field(name="payload", type="string", preprocessing="evtxcsv"),
            Field(name="user", from_kv="payload"),
        ],
    )
    with pytest.raises(ValueError, match="from_kv"):
        save_fmt(ldef, tmp_path / "kv.fmt")


def test_fmt_save_rejects_negative_processing_offset(tmp_path):
    """proto tag 15 is uint32; a negative offset must raise instead of
    hanging the varint encoder (Python's >> never zeroes a negative)."""
    from cybersecurity_miw_spark.plans.fmtproto import save_fmt
    from cybersecurity_miw_spark.plans.logdef import Field

    ldef = LogDef(
        format_name="neg",
        delims=",",
        fields=[Field(name="t", type="string", processing_offset=-2)],
    )
    with pytest.raises(ValueError, match="processing_offset"):
        save_fmt(ldef, tmp_path / "neg.fmt")
