"""evtx dynamic k/v fields: the reference turns every payload k/v into
a first-class field usable in grouping/output
(miw/log_format.cc:570-576,606-678). Here: the REAL reference format
files (evtx.json / evtx2.json) over fixture logs must produce grouped
output whose dynamic fields are real columns, and declared ``from_kv``
fields must work as group keys.
"""

from __future__ import annotations

import json

import pytest

from cybersecurity_miw_spark.job import MiwJob
from cybersecurity_miw_spark.sources import parity
from tests.reference_checkout import needs_reference

EVTX_FORMAT = "/root/reference/miw/formats/evtx.json"
EVTX2_FORMAT = "/root/reference/miw/formats/evtx2.json"

# evtx.json: date,time(min/10),u3,u4,u5,Channel,u7,u8,Computer(key),
# Event_ID,EventData(evtxcsv),u12,u13,u14,description,u16,u17
EVTX_LINES = [
    "11/30/2012 23:05:12,23:05:12,a,b,c,Security,x,y,HOST1,4624,"
    "Event payload-> TargetUserName=alice LogonType=3,5,z,7,logon,u,v",
    "11/30/2012 23:07:40,23:07:40,a,b,c,Security,x,y,HOST1,4624,"
    "Event payload-> TargetUserName=alice LogonType=3,5,z,7,logon,u,v",
    "11/30/2012 23:14:02,23:14:02,a,b,c,Security,x,y,HOST2,4625,"
    "Event payload-> TargetUserName=bob LogonType=10,5,z,7,fail,u,v",
]

# evtx2.json: date,time(hour),timezone,MACB,source,sourcetype,type,
# user,host(key),short,desc(evtxcsv2),version,...
EVTX2_LINES = [
    "11/30/2012,23:05:12,UTC,MACB,WinEVTX,evtx,Event,alice,HOST1,short1,"
    "[EventID: 4624] [Provider: MSAuth],1,f,g,h,i,j,k,l,m",
    "11/30/2012,23:55:00,UTC,MACB,WinEVTX,evtx,Event,bob,HOST1,short2,"
    "[EventID: 4625] [Provider: MSAuth],1,f,g,h,i,j,k,l,m",
]


@needs_reference(EVTX_FORMAT)
def test_evtx_dynamic_fields_grouped(spark):
    """evtx.json end-to-end: dynamic fields appear as columns and in
    the reference-shape JSON output."""
    job = MiwJob(format=EVTX_FORMAT, lines=EVTX_LINES)
    df = job.result(spark)

    assert "TargetUserName" in df.columns
    assert "LogonType" in df.columns
    rows = {r["id"]: r for r in df.collect()}
    # keys: date_time(min bucket /10)_Computer
    assert set(rows) == {
        "2012-11-30_23:00_HOST1",
        "2012-11-30_23:10_HOST2",
    }
    h1 = rows["2012-11-30_23:00_HOST1"]
    assert h1["logs"] == 2
    assert h1["TargetUserName"] == "alice"
    assert h1["LogonType"] == "3"
    h2 = rows["2012-11-30_23:10_HOST2"]
    assert h2["TargetUserName"] == "bob"

    recs = [
        json.loads(r[0]) for r in parity.json_lines(df, job.result_ldef).collect()
    ]
    by_id = {r["id"]: r for r in recs}
    assert by_id["2012-11-30_23:00_HOST1"]["TargetUserName"] == "alice"
    # the raw map column (preprocessing field) is NOT emitted
    assert "EventData" not in by_id["2012-11-30_23:00_HOST1"]


@needs_reference(EVTX2_FORMAT)
def test_evtx2_dynamic_fields_grouped(spark):
    job = MiwJob(format=EVTX2_FORMAT, lines=EVTX2_LINES)
    df = job.result(spark)
    assert "EventID" in df.columns
    rows = {r["id"]: r for r in df.collect()}
    assert set(rows) == {"2012-11-30_23_HOST1"}
    assert rows["2012-11-30_23_HOST1"]["logs"] == 2
    # two distinct EventIDs in the group → first-value (min stand-in)
    assert rows["2012-11-30_23_HOST1"]["EventID"] == "4624"
    assert rows["2012-11-30_23_HOST1"]["Provider"] == "MSAuth"


def test_from_kv_declared_as_group_key(spark):
    """A declared from_kv field can be a group key (goes beyond the
    reference, which keeps dynamic fields non-key)."""
    fmt = {
        "format_name": "evtx_bykv",
        "delims": ",",
        "fields": [
            {"name": "event_id", "pos": 0, "type": "int"},
            {"name": "payload", "pos": 1, "type": "string",
             "preprocessing": "evtxcsv"},
            {"name": "TargetUserName", "from_kv": "payload",
             "type": "string", "key": True},
        ],
    }
    lines = [
        "1,x-> TargetUserName=alice LogonType=3",
        "2,x-> TargetUserName=alice LogonType=10",
        "3,x-> TargetUserName=bob LogonType=3",
    ]
    job = MiwJob(format=fmt, lines=lines)
    df = job.result(spark)
    counts = {r["TargetUserName"]: r["logs"] for r in df.collect()}
    assert counts == {"alice": 2, "bob": 1}


def test_from_kv_validation():
    with pytest.raises(ValueError, match="from_kv"):
        MiwJob(
            format={
                "format_name": "bad",
                "delims": ",",
                "fields": [
                    {"name": "a", "pos": 0, "type": "string"},
                    {"name": "b", "from_kv": "a", "type": "string"},
                ],
            },
            lines=["x"],
        )


def test_reserved_payload_keys_are_prefix_renamed(spark):
    """Attacker-controllable payload keys named like reserved output
    columns (logs/id/...) or internal ``_``-columns must not produce a
    duplicate-alias AnalysisException or clobber the composite id —
    they surface prefix-renamed (kv_*)."""
    fmt = {
        "format_name": "evtx_rsv",
        "delims": ",",
        "fields": [
            {"name": "k", "pos": 0, "type": "string", "key": True},
            {"name": "payload", "pos": 1, "type": "string",
             "preprocessing": "evtxcsv"},
        ],
    }
    lines = [
        "g1,x-> logs=evil id=override _file=shadow ok=fine",
        "g1,x-> logs=evil id=override _file=shadow ok=fine",
    ]
    job = MiwJob(format=fmt, lines=lines)
    df = job.result(spark)
    rows = {r["id"]: r for r in df.collect()}
    assert set(rows) == {"g1"}
    r = rows["g1"]
    assert r["logs"] == 2  # the count, not the payload value
    assert r["kv_logs"] == "evil"
    assert r["kv_id"] == "override"
    assert r["kv__file"] == "shadow"
    assert r["ok"] == "fine"


@needs_reference(EVTX_FORMAT)
def test_result_is_repeatable(spark):
    """result() must not mutate the constructor-supplied LogDef: two
    calls on one job see the same field list and schema."""
    job = MiwJob(format=EVTX_FORMAT, lines=EVTX_LINES)
    first = job.result(spark)
    n_fields = len(job.ldef.fields)
    second = job.result(spark)
    assert len(job.ldef.fields) == n_fields
    assert first.columns == second.columns
    assert len(job.result_ldef.fields) > n_fields  # extension captured


def test_sample_first_discovery_falls_back_for_rare_payloads(spark):
    """Key discovery samples first (SCALE.md: avoids a full second
    scan); whichever path runs, a key that lives on 1 of 300 lines is
    still discovered — the zero-key sample falls back to the exact
    scan, so correctness never depends on the sample."""
    fmt = {
        "format_name": "evtx_rare",
        "delims": ",",
        "fields": [
            {"name": "k", "pos": 0, "type": "string", "key": True},
            {"name": "payload", "pos": 1, "type": "string",
             "preprocessing": "evtxcsv"},
        ],
    }
    lines = [f"g{i % 3},plain" for i in range(299)]
    lines.append("g0,x-> RareKey=seen")
    job = MiwJob(format=fmt, lines=lines)
    df = job.result(spark)
    assert "RareKey" in df.columns
    # deterministic across runs (seeded sample / sorted keys)
    df2 = MiwJob(format=fmt, lines=lines).result(spark)
    assert df.columns == df2.columns
