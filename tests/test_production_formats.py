"""Realistic-line fixtures for the production formats that previously
only had load-and-compile coverage: firewall_checkpoint (97+ fields,
';' delims — SURVEY §7.4's declared stress case), paloalto, McAfee,
anon_bluecoat, domain_controller.

Modeled on the reference's parsing unit tests
(tests/ut-mr-parsing.cc:37-122): each format runs ~10 synthetic lines
shaped like real product logs through the full job and asserts group
cardinality plus hand-computed aggregates. Dates bucket with
zero-padding (documented divergence from the reference's unpadded
std::to_string rendering)."""

from __future__ import annotations

from cybersecurity_miw_spark.job import MiwJob
from tests.reference_checkout import needs_reference

FMT = "/root/reference/miw/formats"


def _line(n_fields: int, sep: str, values: dict[int, str], fill: str = "f{}") -> str:
    toks = [fill.format(i) for i in range(n_fields)]
    for i, v in values.items():
        toks[i] = v
    return sep.join(toks)


# ---- firewall_checkpoint: 98 ';' fields, keys = date(1) + user(24) ----


def _cp_line(date: str, user: str, action: str = "accept") -> str:
    return _line(
        98,
        ";",
        {
            0: "1001",
            1: date,
            2: "23:05:12",
            3: "fw01",
            5: "log",
            6: action,
            11: "10.1.2.3",
            12: "192.168.0.7",
            13: "51432",
            14: "https",
            15: "tcp",
            24: user,
        },
    )


@needs_reference(f"{FMT}/firewall_checkpoint.json")
def test_checkpoint_groups_and_first_values(spark):
    lines = (
        [_cp_line("30Nov2012", "alice", "accept")] * 4
        + [_cp_line("30Nov2012", "alice", "drop")]
        + [_cp_line("30Nov2012", "bob")] * 3
        + [_cp_line("1Dec2012", "alice")] * 2
    )
    df = MiwJob(f"{FMT}/firewall_checkpoint.json", lines=lines).result(spark)
    rows = {r["id"]: r for r in df.collect()}
    assert set(rows) == {
        "30Nov2012_alice",
        "30Nov2012_bob",
        "1Dec2012_alice",
    }
    assert rows["30Nov2012_alice"]["logs"] == 5
    assert rows["30Nov2012_bob"]["logs"] == 3
    assert rows["1Dec2012_alice"]["logs"] == 2
    # non-key, non-aggregated fields keep first-value (deterministic
    # min) semantics: "accept" < "drop"
    assert rows["30Nov2012_alice"]["action"] == "accept"
    assert rows["30Nov2012_bob"]["proto"] == "tcp"


@needs_reference(f"{FMT}/firewall_checkpoint.json")
def test_checkpoint_collapsed_delimiters_drop_short_lines(spark):
    """The reference's boost char_separator drops empty tokens, so a
    line with an empty field has 97 positions and every field beyond
    shifts — positions past the end skip the line
    (miw/log_format.cc:258-262). Same here."""
    good = _cp_line("30Nov2012", "alice")
    # empty out one middle field -> only 97 non-empty tokens
    short = good.replace(";https;", ";;", 1)
    df = MiwJob(
        f"{FMT}/firewall_checkpoint.json", lines=[good, short]
    ).result(spark)
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["logs"] == 1


# ---- paloalto: 46 ',' fields; composite key of 6 fields incl. a
#      minute-bucketed datetime ----


def _pa_line(ts: str, src: str, dst: str, sport: str, dport: str, proto: str) -> str:
    return _line(
        46,
        ",",
        {
            0: "corp",
            1: ts,
            3: "TRAFFIC",
            7: src,
            8: dst,
            11: "allow-web",
            14: "web-browsing",
            24: sport,
            25: dport,
            29: proto,
            30: "allow",
            31: "5120",
        },
    )


@needs_reference(f"{FMT}/paloalto.json")
def test_paloalto_minute_bucketed_composite_key(spark):
    lines = (
        [_pa_line("2012/11/30 23:05:12", "10.0.0.1", "8.8.8.8", "51000", "443", "tcp")] * 3
        + [_pa_line("2012/11/30 23:05:59", "10.0.0.1", "8.8.8.8", "51000", "443", "tcp")] * 2
        + [_pa_line("2012/11/30 23:06:01", "10.0.0.1", "8.8.8.8", "51000", "443", "tcp")] * 4
        + [_pa_line("2012/11/30 23:05:30", "10.0.0.2", "8.8.8.8", "51000", "443", "udp")]
    )
    df = MiwJob(f"{FMT}/paloalto.json", lines=lines).result(spark)
    rows = {r["id"]: r["logs"] for r in df.collect()}
    # key order follows field order: Receive Time, Source address,
    # Destination address, Source Port, Destination Port, IP Protocol
    assert rows == {
        "2012-11-30T23:05:00_10.0.0.1_8.8.8.8_51000_443_tcp": 5,
        "2012-11-30T23:06:00_10.0.0.1_8.8.8.8_51000_443_tcp": 4,
        "2012-11-30T23:05:00_10.0.0.2_8.8.8.8_51000_443_udp": 1,
    }


# ---- McAfee: 39 ',' fields; 6-part key incl. minute-bucketed date ----


def _mc_line(event: str, ip: str, host: str, risk: str, path: str, ts: str) -> str:
    return _line(
        39,
        ",",
        {
            0: event,
            1: ip,
            2: host,
            3: "Real-Time Scan",
            4: risk,
            5: "1",
            6: path,
            8: "Cleaned",
            11: ts,
            14: "CORP\\jdoe",
        },
    )


@needs_reference(f"{FMT}/McAfee.json")
def test_mcafee_threat_event_grouping(spark):
    ts_a = "11/30/2012 23:05:12"
    ts_b = "11/30/2012 23:07:45"
    lines = (
        [_mc_line("Infection", "10.1.1.5", "WS01", "EICAR", "C:\\tmp\\e.com", ts_a)] * 6
        + [_mc_line("Infection", "10.1.1.5", "WS01", "EICAR", "C:\\tmp\\e.com", ts_b)] * 3
        + [_mc_line("Scan", "10.1.1.9", "WS02", "Generic.Trojan", "D:\\x.exe", ts_a)]
    )
    df = MiwJob(f"{FMT}/McAfee.json", lines=lines).result(spark)
    rows = {r["id"]: r for r in df.collect()}
    assert rows[
        "Infection_10.1.1.5_WS01_EICAR_C:\\tmp\\e.com_2012-11-30T23:05:00"
    ]["logs"] == 6
    assert rows[
        "Infection_10.1.1.5_WS01_EICAR_C:\\tmp\\e.com_2012-11-30T23:07:00"
    ]["logs"] == 3
    assert rows[
        "Scan_10.1.1.9_WS02_Generic.Trojan_D:\\x.exe_2012-11-30T23:05:00"
    ]["logs"] == 1
    assert rows[
        "Infection_10.1.1.5_WS01_EICAR_C:\\tmp\\e.com_2012-11-30T23:05:00"
    ]["User Name"] == "CORP\\jdoe"


# ---- anon_bluecoat: ' ' delims, username(pos 9) key + ip union(pos 4) ----


def _bc_line(user: str, ip: str) -> str:
    return _line(
        11,
        " ",
        {
            0: "1354316712.045",
            1: "120",
            2: "10.0.0.50",
            3: "TCP_HIT/200",
            4: ip,
            5: "GET",
            6: "http://example.com/a",
            9: user,
        },
    )


@needs_reference(f"{FMT}/anon_bluecoat_format.json")
def test_bluecoat_union_of_server_ips(spark):
    lines = [
        _bc_line("alice", "93.184.216.34"),
        _bc_line("alice", "93.184.216.34"),
        _bc_line("alice", "23.55.12.9"),
        _bc_line("bob", "93.184.216.34"),
    ]
    df = MiwJob(f"{FMT}/anon_bluecoat_format.json", lines=lines).result(spark)
    rows = {r["id"]: r for r in df.collect()}
    # A8 string union: deduplicated, sorted
    assert rows["alice"]["ip_address"] == ["23.55.12.9", "93.184.216.34"]
    assert rows["alice"]["logs"] == 3
    assert rows["bob"]["ip_address"] == ["93.184.216.34"]


# ---- domain_controller: day/hour-bucketed STRING fields as keys,
#      two union_count histograms + one union ----


def _dc_line(date: str, time: str, user: str, src: str, dev: str, cat: str) -> str:
    return _line(
        20,
        ",",
        {
            0: date,
            1: time,
            2: f"{date} {time}",
            3: "WS07",
            4: "dc01.corp.local",
            5: src,
            6: "CORP",
            10: user,
            13: "3",
            15: dev,
            17: cat,
        },
    )


@needs_reference(f"{FMT}/domain_controller_format.json")
def test_domain_controller_buckets_and_histograms(spark):
    lines = (
        [_dc_line("2012-11-30", "23:05:12", "alice", "10.2.0.4", "10.9.9.1", "Logon")] * 2
        + [_dc_line("2012-11-30", "23:44:00", "alice", "10.2.0.4", "10.9.9.2", "Logoff")]
        + [_dc_line("2012-11-30", "23:50:01", "alice", "10.2.0.5", "10.9.9.1", "Logon")]
        + [_dc_line("2012-12-01", "23:10:00", "alice", "10.2.0.4", "10.9.9.1", "Logon")]
        + [_dc_line("2012-11-30", "08:15:00", "bob", "10.2.0.9", "10.9.9.1", "Logon")]
    )
    df = MiwJob(f"{FMT}/domain_controller_format.json", lines=lines).result(spark)
    rows = {r["id"]: r for r in df.collect()}
    # date is a STRING field with processing=day (declared date_format
    # %Y-%m-%d) and time a STRING field with processing=hour — the
    # reference routes on processing, not type
    # (miw/log_format.cc:401,445)
    assert set(rows) == {
        "2012-11-30_23_alice",
        "2012-12-01_23_alice",
        "2012-11-30_08_bob",
    }
    g = rows["2012-11-30_23_alice"]
    assert g["logs"] == 4
    assert g["SourceAddress_counts"] == {"10.2.0.4": 3, "10.2.0.5": 1}
    assert g["DeviceAddress_counts"] == {"10.9.9.1": 3, "10.9.9.2": 1}
    assert g["EventCategoryName"] == ["Logoff", "Logon"]
