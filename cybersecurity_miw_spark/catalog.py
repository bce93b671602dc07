"""Oracle-checked query catalog — the driver contract behind
``__spark_entry__.py``.

One entry per implemented operator family from SURVEY.md §2 plus the
LLM-data-pipeline operators. Each query is a ``(spark, sf_dir) ->
DataFrame`` callable registered together with an ANSI-SQL oracle that
DuckDB runs over the same parquet tables; the driver hash-compares the
two result sets, so every computed column is aliased identically on
both sides and floats are rounded the same way.

The miw-pipeline queries synthesize log *lines* from the ``events``
table inside the Spark plan (concat_ws), push them through the real
format-compiler pipeline (tokenize → match → project → aggregate), and
the oracle recomputes the expected result relationally — so the
tokenizer, casts, buckets and aggregations are exercised end-to-end
against an independent engine.
"""

from __future__ import annotations

from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cybersecurity_miw_spark.operators import (
    apps,
    dedup,
    packing,
    setsim,
    similarity,
    textstats,
)
from cybersecurity_miw_spark.operators.aggregate import value_histogram
from cybersecurity_miw_spark.operators.matching import semi_join_filter
from cybersecurity_miw_spark.plans.compiler import compile_pipeline, parse
from cybersecurity_miw_spark.plans.logdef import LogDef
from cybersecurity_miw_spark.sources.tables import load_events, load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


# ---------------------------------------------------------------------------
# line synthesis: events → log lines (comma-delimited, reference-style)
# token positions: 0 event_id, 1 "MM/dd/yyyy HH:mm:ss", 2 "HH:mm:ss",
# 3 user_id, 4 event_type, 5 value, 6 props
# ---------------------------------------------------------------------------


def events_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    # widen=True: every consumer runs the format-compiler parse chain
    # (tokenize → typed projection → match) above these lines — per-row
    # work expensive enough that a single-row-group scan serializing it
    # on one core dominates the query (r18 same-session A/B, control-
    # normalized: flagship 1.39 → 1.02, date_buckets 1.33 → 0.71; a
    # no-op on any real multi-split input, see ensure_parallelism)
    ev = load_table(spark, sf_dir, "events", widen=True)
    line = F.concat_ws(
        ",",
        F.col("event_id").cast("string"),
        F.date_format("ts", "MM/dd/yyyy HH:mm:ss"),
        F.date_format("ts", "HH:mm:ss"),
        F.col("user_id").cast("string"),
        F.col("event_type"),
        F.col("value").cast("string"),
        F.col("props"),
    )
    return ev.select(line.alias("value"))


def _ldef(name: str, fields: list[dict], **kw) -> LogDef:
    return LogDef.from_json({"format_name": name, "delims": ",", "fields": fields, **kw})


# ---------------------------------------------------------------------------
# flagship: full pipeline (P1 tokenize, P4 project, P7/P8 casts, P10 date
# bucket, F6 filter-contain, A1 key, A2 logs, A4 sum, A5 max, A6 mean,
# A7 variance, A10 ratio, A11 contain-sum)
# ---------------------------------------------------------------------------

# Float aggregates are emitted as scaled integers (cents etc.): the
# underlying data is 2-decimal, so sums/means/variances land within
# ~1e-6 of an integer grid once scaled, and integer outputs hash
# identically across engines. Engine-level ROUND(x, d) is avoided for
# quantities that can sit exactly on a decimal half (Spark rounds the
# shortest decimal repr HALF_UP, DuckDB rounds the binary value —
# they disagree precisely there). err_ratio stays a raw double because
# both engines compute the identical int/int division.
_FLAGSHIP_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       event_type AS etype,
       count(*) AS logs,
       CAST(round(sum(value) * 100, 0) AS BIGINT) AS value_sum_c,
       CAST(round(avg(value) * count(*) * 100, 0) AS BIGINT) AS value_mean_c,
       CAST(round(coalesce(var_samp(value), 0.0) * count(*) * (count(*) - 1) * 10000, 0) AS BIGINT) AS value_var_c,
       max(value) AS value_max,
       CAST(sum(CASE WHEN event_type LIKE '%error%' THEN 1 ELSE 0 END) AS BIGINT) AS err_hits,
       CAST(sum(CASE WHEN event_type LIKE '%error%' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS err_ratio,
       strftime(ts, '%Y-%m-%d') || '_' || event_type AS id
FROM events
GROUP BY 1, 2
"""


def flagship_ldef() -> LogDef:
    return _ldef(
        "events_summary",
        [
            {"name": "day", "pos": 1, "type": "date", "key": True,
             "processing": "day", "date_format": "%m/%d/%Y %H:%M:%S"},
            {"name": "etype", "pos": 4, "type": "string", "key": True},
            {"name": "value_sum", "pos": 5, "type": "float",
             "aggregated": True, "aggregation": "sum"},
            {"name": "value_mean", "pos": 5, "type": "float",
             "aggregated": True, "aggregation": "mean"},
            {"name": "value_var", "pos": 5, "type": "float",
             "aggregated": True, "aggregation": "variance"},
            {"name": "value_max", "pos": 5, "type": "float",
             "aggregated": True, "aggregation": "max"},
            {"name": "err_hits", "pos": 4, "type": "int",
             "filter": "error", "filter_type": "contain"},
            {"name": "err_ratio", "type": "float", "aggregated": True,
             "aggregation": "ratio", "numerator": "err_hits",
             "denominator": "logs"},
        ],
    )


@register("miw_events_summary", _FLAGSHIP_SQL)
def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship format-compiler pipeline: tokenize, typed derivation,
    match, and a 6-aggregate groupBy on (day, etype) with ratio and
    union histogram — the full reference execution chain in one
    Catalyst plan with ONE exchange."""
    out = compile_pipeline(events_lines(spark, sf_dir), flagship_ldef())
    return out.select(
        "day",
        "etype",
        "logs",
        F.round(F.col("value_sum") * 100, 0).cast("long").alias("value_sum_c"),
        F.round(F.col("value_mean") * F.col("logs") * 100, 0)
        .cast("long")
        .alias("value_mean_c"),
        F.round(
            F.col("value_var") * F.col("logs") * (F.col("logs") - 1) * 10000, 0
        )
        .cast("long")
        .alias("value_var_c"),
        "value_max",
        "err_hits",
        "err_ratio",
        "id",
    )


# ---------------------------------------------------------------------------
# P1/P4/P7/P8: tokenize + positional projection + typed casts round-trip
# ---------------------------------------------------------------------------


@register(
    "tokenize_typed_projection",
    "SELECT event_id, event_type AS etype, value FROM events",
)
def q_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ldef = _ldef(
        "typed",
        [
            {"name": "event_id", "pos": 0, "type": "int"},
            {"name": "etype", "pos": 4, "type": "string"},
            {"name": "value", "pos": 5, "type": "float"},
        ],
    )
    return parse(events_lines(spark, sf_dir), ldef)


# P7 atoi parity: leading-digit prefix on mixed tokens, 0 on garbage


@register(
    "atoi_prefix_parity",
    "SELECT event_id, user_id AS atoi_mixed, CAST(0 AS BIGINT) AS atoi_garbage "
    "FROM events",
)
def q_atoi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    lines = ev.select(
        F.concat_ws(
            ",",
            F.col("event_id").cast("string"),
            F.concat(F.col("user_id").cast("string"), F.col("event_type")),
            F.col("event_type"),
        ).alias("value")
    )
    ldef = _ldef(
        "atoi",
        [
            {"name": "event_id", "pos": 0, "type": "int"},
            {"name": "atoi_mixed", "pos": 1, "type": "int"},
            {"name": "atoi_garbage", "pos": 2, "type": "int"},
        ],
    )
    return parse(lines, ldef)


# P5/P6: double-quote strip + whitespace chomp


@register(
    "quote_strip_trim",
    "SELECT event_id, event_type AS cleaned FROM events",
)
def q_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    lines = ev.select(
        F.concat_ws(
            ",",
            F.col("event_id").cast("string"),
            F.concat(F.lit('  "'), F.col("event_type"), F.lit('"  ')),
        ).alias("value")
    )
    ldef = _ldef(
        "strip",
        [
            {"name": "event_id", "pos": 0, "type": "int"},
            {"name": "cleaned", "pos": 1, "type": "string"},
        ],
    )
    return parse(lines, ldef)


# ---------------------------------------------------------------------------
# P10: date parse + bucketing (day/month/year/hour/minute-offset)
# ---------------------------------------------------------------------------

_DATE_BUCKETS_SQL = """
SELECT event_id,
       strftime(ts, '%Y-%m-%d') AS d_day,
       strftime(ts, '%Y-%m') AS d_month,
       strftime(ts, '%Y') AS d_year,
       strftime(ts, '%Y-%m-%dT%H:00:00') AS d_hour,
       strftime(ts, '%Y-%m-%dT%H:') || lpad(((minute(ts) // 5) * 5)::VARCHAR, 2, '0') || ':00' AS d_min5
FROM events
"""


@register("date_buckets", _DATE_BUCKETS_SQL)
def q_date_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    fmt = "%m/%d/%Y %H:%M:%S"
    ldef = _ldef(
        "datebuckets",
        [
            {"name": "event_id", "pos": 0, "type": "int"},
            {"name": "d_day", "pos": 1, "type": "date", "processing": "day", "date_format": fmt},
            {"name": "d_month", "pos": 1, "type": "date", "processing": "month", "date_format": fmt},
            {"name": "d_year", "pos": 1, "type": "date", "processing": "year", "date_format": fmt},
            {"name": "d_hour", "pos": 1, "type": "date", "processing": "hour", "date_format": fmt},
            {"name": "d_min5", "pos": 1, "type": "date", "processing": "minute",
             "processing_offset": 5, "date_format": fmt},
        ],
    )
    return parse(events_lines(spark, sf_dir), ldef)


# P10 unix-epoch date format


@register(
    "unix_epoch_parse",
    "SELECT event_id, strftime(ts, '%Y-%m-%d') AS u_day, "
    "strftime(ts, '%Y-%m-%dT%H:00:00') AS u_hour FROM events",
)
def q_unix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    lines = ev.select(
        F.concat_ws(
            ",",
            F.col("event_id").cast("string"),
            F.unix_timestamp("ts").cast("string"),
        ).alias("value")
    )
    ldef = _ldef(
        "unixdate",
        [
            {"name": "event_id", "pos": 0, "type": "int"},
            {"name": "u_day", "pos": 1, "type": "date", "date_format": "unix", "processing": "day"},
            {"name": "u_hour", "pos": 1, "type": "date", "date_format": "unix", "processing": "hour"},
        ],
    )
    return parse(lines, ldef)


# P11: textual time bucketing with offsets

_TIME_BUCKETS_SQL = """
SELECT event_id,
       lpad(hour(ts)::VARCHAR, 2, '0') AS t_hour,
       strftime(ts, '%H') || ':' || lpad(((minute(ts) // 10) * 10)::VARCHAR, 2, '0') AS t_min10,
       strftime(ts, '%H:%M:') || lpad(((second(ts) // 30) * 30)::VARCHAR, 2, '0') AS t_sec30
FROM events
"""


@register("time_buckets", _TIME_BUCKETS_SQL)
def q_time_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ldef = _ldef(
        "timebuckets",
        [
            {"name": "event_id", "pos": 0, "type": "int"},
            {"name": "t_hour", "pos": 2, "type": "time", "processing": "hour"},
            {"name": "t_min10", "pos": 2, "type": "time", "processing": "minute",
             "processing_offset": 10},
            {"name": "t_sec30", "pos": 2, "type": "time", "processing": "second",
             "processing_offset": 30},
        ],
    )
    return parse(events_lines(spark, sf_dir), ldef)


# ---------------------------------------------------------------------------
# P12: URL parse + re-templating
# ---------------------------------------------------------------------------

_URL_SQL = """
SELECT event_id,
       'https://host' || (user_id % 50) || '.example.com:' || (8000 + user_id % 10) AS site,
       'host' || (user_id % 50) || '.example.com' || '/p/' || event_type AS page
FROM events
"""


@register("url_retemplate", _URL_SQL)
def q_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    url = F.concat(
        F.lit("https://host"),
        (F.col("user_id") % 50).cast("string"),
        F.lit(".example.com:"),
        (F.lit(8000) + F.col("user_id") % 10).cast("string"),
        F.lit("/p/"),
        F.col("event_type"),
        F.lit("?q="),
        F.col("event_id").cast("string"),
    )
    lines = ev.select(
        F.concat_ws(",", F.col("event_id").cast("string"), url).alias("value")
    )
    ldef = _ldef(
        "urls",
        [
            {"name": "event_id", "pos": 0, "type": "int"},
            {"name": "site", "pos": 1, "type": "url"},
            {"name": "page", "pos": 1, "type": "url", "url_format": "%host%path"},
        ],
    )
    return parse(lines, ldef)


# ---------------------------------------------------------------------------
# P13/P14: evtx k/v payload preprocessing → dynamic fields (as map rows)
# ---------------------------------------------------------------------------

_KV_SQL = """
SELECT event_id, 'user' AS kv_key, CAST(user_id AS VARCHAR) AS kv_value FROM events
UNION ALL
SELECT event_id, 'type' AS kv_key, event_type AS kv_value FROM events
"""


@register("kv_evtx_explode", _KV_SQL)
def q_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    payload = F.concat(
        F.lit("Event payload-> user="),
        F.col("user_id").cast("string"),
        F.lit(" type="),
        F.col("event_type"),
    )
    lines = ev.select(
        F.concat_ws(",", F.col("event_id").cast("string"), payload).alias("value")
    )
    ldef = _ldef(
        "evtx",
        [
            {"name": "event_id", "pos": 0, "type": "int"},
            {"name": "kv", "pos": 1, "type": "string", "preprocessing": "evtxcsv"},
        ],
    )
    rows = parse(lines, ldef)
    return rows.select(
        "event_id", F.explode("kv").alias("kv_key", "kv_value")
    )


@register("kv_evtx2_explode", _KV_SQL)
def q_kv2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    payload = F.concat(
        F.lit("[user: "),
        F.col("user_id").cast("string"),
        F.lit("] [type: "),
        F.col("event_type"),
        F.lit("]"),
    )
    lines = ev.select(
        F.concat_ws(",", F.col("event_id").cast("string"), payload).alias("value")
    )
    ldef = _ldef(
        "evtx2",
        [
            {"name": "event_id", "pos": 0, "type": "int"},
            {"name": "kv", "pos": 1, "type": "string", "preprocessing": "evtxcsv2"},
        ],
    )
    rows = parse(lines, ldef)
    return rows.select(
        "event_id", F.explode("kv").alias("kv_key", "kv_value")
    )


# P15: Microsoft-DNS wire-format name decode


@register(
    "dns_wire_decode",
    "SELECT event_id, event_type || '.com' AS target FROM events",
)
def q_dns(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    wire = F.concat(
        F.lit("("),
        F.length("event_type").cast("string"),
        F.lit(")"),
        F.col("event_type"),
        F.lit("(3)com(0)"),
    )
    lines = ev.select(
        F.concat_ws(",", F.col("event_id").cast("string"), wire).alias("value")
    )
    ldef = _ldef(
        "dns",
        [
            {"name": "event_id", "pos": 0, "type": "int"},
            {"name": "target", "pos": 1, "type": "string",
             "preprocessing": "microsoftdnslogs"},
        ],
    )
    return parse(lines, ldef)


# ---------------------------------------------------------------------------
# F1-F5: match predicates
# ---------------------------------------------------------------------------


@register(
    "match_exact_or",
    "SELECT event_id, event_type AS etype FROM events "
    "WHERE event_type IN ('error', 'signup')",
)
def q_match_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ldef = _ldef(
        "matchexact",
        [
            {"name": "event_id", "pos": 0, "type": "int"},
            {"name": "etype", "pos": 4, "type": "string"},
            {"name": "m1", "pos": 4, "type": "string",
             "match": {"match_str": "error", "exact": True, "logic": "or"}},
            {"name": "m2", "pos": 4, "type": "string",
             "match": {"match_str": "signup", "exact": True, "logic": "or"}},
        ],
    )
    return parse(events_lines(spark, sf_dir), ldef).select("event_id", "etype")


@register(
    "match_substring_or",
    "SELECT event_id, event_type AS etype FROM events "
    "WHERE event_type LIKE '%err%' OR props LIKE '%7%'",
)
def q_match_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ldef = _ldef(
        "matchsub",
        [
            {"name": "event_id", "pos": 0, "type": "int"},
            {"name": "etype", "pos": 4, "type": "string"},
            {"name": "m1", "pos": 4, "type": "string",
             "match": {"match_str": "err", "logic": "or"}},
            {"name": "m2", "pos": 6, "type": "string",
             "match": {"match_str": "7", "logic": "or"}},
        ],
    )
    return parse(events_lines(spark, sf_dir), ldef).select("event_id", "etype")


@register(
    "match_negative_exact",
    "SELECT event_id, event_type AS etype FROM events WHERE event_type <> 'click'",
)
def q_match_neg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ldef = _ldef(
        "matchneg",
        [
            {"name": "event_id", "pos": 0, "type": "int"},
            {"name": "etype", "pos": 4, "type": "string",
             "match": {"match_str": "click", "exact": True, "negative": True,
                        "logic": "and"}},
        ],
    )
    return parse(events_lines(spark, sf_dir), ldef).select("event_id", "etype")


# J1: membership as broadcast semi-join (the match_file scale path)


@register(
    "semi_join_membership",
    "SELECT event_id, user_id FROM events "
    "WHERE user_id IN (SELECT c_custkey FROM customer)",
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).select("event_id", "user_id")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    return semi_join_filter(ev, "user_id", cust)


@register(
    "anti_join_membership",
    "SELECT event_id, user_id FROM events "
    "WHERE user_id NOT IN (SELECT c_custkey FROM customer)",
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).select("event_id", "user_id")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    return semi_join_filter(ev, "user_id", cust, negative=True)


# ---------------------------------------------------------------------------
# A8 union, A9 union_count, O1/O2 ordering + top-K
# ---------------------------------------------------------------------------


@register(
    "agg_union_sorted",
    "SELECT event_type AS etype, "
    "array_to_string(list_sort(list(DISTINCT user_id)), '|') AS users "
    "FROM events GROUP BY 1",
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    return ev.groupBy(F.col("event_type").alias("etype")).agg(
        F.concat_ws(
            "|",
            F.transform(
                F.sort_array(F.collect_set("user_id")), lambda x: x.cast("string")
            ),
        ).alias("users")
    )


# numeric unions APPEND without dedup (miw/log_record.cc:63-129 —
# only the string-family _unos cache dedups); exercised through the
# real pipeline with an int union field.


@register(
    "agg_union_numeric_append",
    "SELECT event_type AS etype, "
    "array_to_string(list_sort(list(event_id % 5)), '|') AS vals "
    "FROM events GROUP BY 1",
)
def q_union_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    lines = ev.select(
        F.concat_ws(
            ",",
            F.col("event_type"),
            (F.col("event_id") % 5).cast("string"),
        ).alias("value")
    )
    ldef = _ldef(
        "union_num",
        [
            {"name": "etype", "pos": 0, "type": "string", "key": True},
            {"name": "vals", "pos": 1, "type": "int",
             "aggregated": True, "aggregation": "union"},
        ],
    )
    out = compile_pipeline(lines, ldef)
    return out.select(
        "etype",
        F.concat_ws(
            "|", F.transform(F.col("vals"), lambda x: x.cast("string"))
        ).alias("vals"),
    )


@register(
    "agg_union_count_histogram",
    "SELECT event_type AS etype, user_id AS uid, CAST(count(*) AS BIGINT) AS cnt "
    "FROM events GROUP BY 1, 2",
)
def q_union_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    hist = value_histogram(ev, ["event_type"], "user_id")
    return hist.select(
        F.col("event_type").alias("etype"),
        F.explode("user_id_counts").alias("uid", "cnt"),
    )


@register(
    "order_topk_groups",
    "SELECT CAST(user_id AS VARCHAR) AS id, count(*) AS logs FROM events "
    "GROUP BY user_id ORDER BY logs DESC, id ASC LIMIT 10",
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    grouped = ev.groupBy(F.col("user_id").cast("string").alias("id")).agg(
        F.count(F.lit(1)).alias("logs")
    )
    return grouped.orderBy(F.desc("logs"), F.asc("id")).limit(10)


# companion wc app (app/wc.cc): word count over documents


@register(
    "wc_wordcount",
    "SELECT word, CAST(count(*) AS BIGINT) AS n FROM ("
    "SELECT unnest(str_split_regex(trim(text), '\\s+')) AS word FROM documents"
    ") GROUP BY 1",
)
def q_wc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# LLM-pipeline: dedup
# ---------------------------------------------------------------------------

_FP_SQL = "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))"


@register(
    "dedup_exact_groups",
    f"SELECT {_FP_SQL} AS fingerprint, count(*) AS n_docs, "
    "min(doc_id) AS representative FROM documents GROUP BY 1",
)
def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by md5 text fingerprint — a uniform-key
    groupBy (operators/dedup.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicate_groups(docs)


@register(
    "dedup_exact_survivors",
    f"SELECT doc_id, n_chars FROM documents WHERE doc_id IN ("
    f"SELECT min(doc_id) FROM documents GROUP BY {_FP_SQL})",
)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs).select("doc_id", "n_chars")


# Dedup impact report + cross-source duplication matrix
# (operators/dedup.py:impact_report,source_overlap): the curation
# dashboard numbers. The overlap oracle is deliberately the NAIVE
# doc-level fingerprint self-join — the Spark side runs the
# count-decomposed form that never fans out inside a mega-group, and
# the green row certifies the combinatorics.

_DEDUP_IMPACT_SQL = f"""
WITH g AS (
  SELECT {_FP_SQL} AS f, count(*) AS n, sum(n_chars) AS sc,
         arg_min(n_chars, doc_id) AS rc
  FROM documents GROUP BY 1
)
SELECT CAST(sum(n) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(n) - count(*) AS BIGINT) AS n_dup_docs,
       CAST((1000000 * (sum(n) - count(*))) // sum(n) AS BIGINT)
         AS dup_ppm,
       CAST(sum(sc) - sum(rc) AS BIGINT) AS bytes_removable
FROM g
"""


@register("dedup_impact_report", _DEDUP_IMPACT_SQL)
def q_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dedup impact summary: docs/groups/removable
    docs/dup-ppm/removable bytes in one fingerprint groupBy + one
    global reduce."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.impact_report(docs)


_SOURCE_OVERLAP_SQL = f"""
WITH fp AS (SELECT doc_id, source, {_FP_SQL} AS f FROM documents)
SELECT least(a.source, b.source) AS source_a,
       greatest(a.source, b.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


@register("source_dup_overlap", _SOURCE_OVERLAP_SQL)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate-pair matrix via per-(fingerprint,
    source) count pairing — sources-per-group fan-out, never
    docs-per-group."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.source_overlap(docs)


# Canonical-form dedup groups: the aggressive normalization
# (lowercase + Latin-1 accent fold + punctuation strip + whitespace
# collapse) catches cosmetic variants plain fingerprinting misses —
# the standard pre-MinHash canonicalization. The accent map is an
# explicit translate literal on BOTH engines (textstats.ACCENT_SRC),
# so the md5 is cross-engine exact.

_CANON_NORM_SQL = (
    "trim(regexp_replace(regexp_replace("
    f"translate(lower(coalesce(text, '')), '{textstats.ACCENT_SRC}',"
    f" '{textstats.ACCENT_DST}'),"
    " '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
)

_CANON_DEDUP_SQL = f"""
SELECT md5({_CANON_NORM_SQL}) AS fingerprint,
       count(*) AS n_docs, min(doc_id) AS representative
FROM documents GROUP BY 1
"""


@register("dedup_groups_canonical", _CANON_DEDUP_SQL)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate groups under the canonical form — same uniform-key
    groupBy as dedup_exact_groups, stricter equivalence classes."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            textstats.fingerprint_aggressive(F.col("text")).alias(
                "fingerprint"
            ),
            "doc_id",
        )
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("representative"),
        )
    )


# MinHash signatures — one 32-bit md5-prefix hash per shingle, then
# 16 (a·h+b) mod P permutations (operators/dedup.py MINHASH_*); the
# oracle rebuilds the identical integer pipeline.

_SHINGLES_SQL = """
  SELECT doc_id,
         CASE WHEN len(words) >= 3
              THEN list_distinct([array_to_string(words[i+1:i+3], ' ')
                                  FOR i IN generate_series(0, len(words) - 3)])
              ELSE [array_to_string(words, ' ')] END AS sh
  FROM (SELECT doc_id, str_split_regex(lower(trim(text)), '\\s+') AS words
        FROM documents)
"""

# one expression per permutation, parameterized by the library default
# (dedup.DEFAULT_NUM_HASHES / DEFAULT_BANDS) so the oracle re-derives
# the exact operating point the operators ship with — raising the
# default re-pins every minhash oracle automatically.
_NH, _NB = dedup.DEFAULT_NUM_HASHES, dedup.DEFAULT_BANDS
_NR = _NH // _NB  # rows per band

_SIG_EXPRS = ", ".join(
    f"list_min([({dedup.MINHASH_A[i]} * h + {dedup.MINHASH_B[i]}) "
    f"% {dedup.MINHASH_P} FOR h IN hs])"
    for i in range(_NH)
)

_SIGS_CTE = f"""
shingled AS ({_SHINGLES_SQL}),
hashed AS (
  SELECT doc_id,
         [('0x' || substr(md5(s), 1, 8))::BIGINT FOR s IN sh] AS hs
  FROM shingled
),
sigs AS (SELECT doc_id, [{_SIG_EXPRS}] AS sig FROM hashed)
"""

_MINHASH_SQL = f"""
WITH {_SIGS_CTE}
SELECT doc_id, array_to_string(sig, '|') AS sig_str FROM sigs
"""


@register("minhash_signatures", _MINHASH_SQL)
def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", widen=True)
    sig = dedup.with_signature(docs, num_hashes=_NH, shingle_k=3)
    return sig.select(
        "doc_id",
        F.concat_ws(
            "|", F.transform(F.col("_sig"), lambda x: x.cast("string"))
        ).alias("sig_str"),
    )


_BANDED_CTE = f"""
banded AS (
  SELECT doc_id, b.b AS band,
         md5(array_to_string(sig[b.b*{_NR}+1:b.b*{_NR}+{_NR}], '|')) AS band_hash
  FROM sigs, (SELECT unnest(generate_series(0, {_NB - 1})) AS b) b
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
  FROM banded a JOIN banded c
    ON a.band = c.band AND a.band_hash = c.band_hash AND a.doc_id < c.doc_id
)
"""

_LSH_SQL = f"""
WITH {_SIGS_CTE}, {_BANDED_CTE}
SELECT id_a, id_b FROM cands
"""


@register("minhash_lsh_candidates", _LSH_SQL)
def q_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", widen=True)
    return dedup.minhash_lsh_candidates(
        docs, num_hashes=_NH, bands=_NB, shingle_k=3
    )


# Guarded banding: buckets wider than the cap are excluded from the
# pair self-join — the skew fence for near-dup mega-clusters
# (boilerplate templates), where one bucket otherwise emits W^2/2
# pairs. W=2 here so the guard is exercised against real data (the
# sf0.01 documents table has width-3 buckets); production W is
# O(100s).

_BANDED_GUARDED_CTE = _BANDED_CTE.replace(
    "cands AS (",
    "okb AS (\n"
    "  SELECT band, band_hash FROM banded GROUP BY 1, 2"
    " HAVING count(*) <= 2\n"
    "),\n"
    "bandedok AS (\n"
    "  SELECT banded.* FROM banded JOIN okb USING (band, band_hash)\n"
    "),\n"
    "cands AS (",
).replace("FROM banded a JOIN banded c", "FROM bandedok a JOIN bandedok c")

_LSH_GUARDED_SQL = f"""
WITH {_SIGS_CTE}, {_BANDED_GUARDED_CTE}
SELECT id_a, id_b FROM cands
"""


@register("minhash_lsh_guarded", _LSH_GUARDED_SQL)
def q_lsh_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minhash_lsh_candidates with max_bucket_width=2: a size filter
    on the grouped bucket rosters (zero extra exchanges — r18: the
    self-join form paid a count agg plus a semi-join), so pairs are
    expanded only from admitted buckets — pair output bounded by
    W^2/2 per bucket regardless of skew.
    :func:`dedup.oversized_band_buckets` surfaces what was fenced."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    return dedup.minhash_lsh_candidates(
        docs, num_hashes=_NH, bands=_NB, shingle_k=3, max_bucket_width=2
    )


# exact n-gram (3-shingle) Jaccard confirm on the LSH candidates — the
# full near-dup decision value, recomputed relationally end-to-end.

_JACCARD_SQL = f"""
WITH {_SIGS_CTE}, {_BANDED_CTE}
SELECT cands.id_a, cands.id_b,
       round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
             greatest(len(list_distinct(sa.sh || sb.sh)), 1), 6) AS jaccard
FROM cands
JOIN shingled sa ON sa.doc_id = cands.id_a
JOIN shingled sb ON sb.doc_id = cands.id_b
"""


@register("near_dup_jaccard_confirm", _JACCARD_SQL)
def q_jaccard_confirm(spark: SparkSession, sf_dir: str) -> DataFrame:
    # widen=True: the 112-hash MinHash fold + shingle sets above this
    # scan are the suite's most expensive narrow stage — on a 1-split
    # input both persisted projections materialized single-threaded
    # (r18 profile: two back-to-back 1-task stages of several seconds
    # each); the same flag q_lsh already carries
    docs = load_table(spark, sf_dir, "documents", widen=True)
    cand = dedup.minhash_lsh_candidates(docs, num_hashes=_NH, bands=_NB, shingle_k=3)
    return dedup.jaccard_pairs(docs, cand, shingle_k=3)


# Exact-threshold set-similarity join (operators/setsim.py, PPJoin
# family): the EXACT complement of the LSH path. The oracle is the
# honest ground truth — an all-pairs exact Jaccard in DuckDB,
# computed with no knowledge of the prefix-filter algorithm — so a
# green row certifies ZERO false negatives AND zero false positives
# at the threshold, which is precisely the property LSH banding
# cannot offer (SCALE.md recall table).

_SETSIM_SQL = f"""
WITH shingled AS ({_SHINGLES_SQL})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE /
             greatest(len(list_distinct(a.sh || b.sh)), 1), 6) AS jaccard
FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
WHERE 1000 * len(list_intersect(a.sh, b.sh))
      >= 500 * len(list_distinct(a.sh || b.sh))
"""


@register("setsim_exact_pairs", _SETSIM_SQL)
def q_setsim_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.5 self-join over 3-shingle sets via prefix
    filtering — rarest-first canonical order, integer-permille
    threshold arithmetic, candidate-bounded verify
    (operators/setsim.py:ppjoin_pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    return setsim.ppjoin_pairs(docs, threshold=0.5, shingle_k=3)


# Cross-corpus (R-S) exact set-similarity join: the EXACT
# decontamination primitive — every train×eval pair at Jaccard >=
# threshold with zero banding false negatives (the guarantee
# decontaminate_train_vs_eval's n-gram path and the LSH candidates
# cannot make). Same deterministic split as the incremental-store
# family: eval = doc_id % 5 == 0, train = the rest. The oracle is an
# all-pairs exact cross Jaccard with no knowledge of prefix filtering.

_SETSIM_CROSS_SQL = f"""
WITH shingled AS ({_SHINGLES_SQL})
SELECT l.doc_id AS id_l, r.doc_id AS id_r,
       round(len(list_intersect(l.sh, r.sh))::DOUBLE /
             greatest(len(list_distinct(l.sh || r.sh)), 1), 6) AS jaccard
FROM shingled l JOIN shingled r
  ON l.doc_id % 5 <> 0 AND r.doc_id % 5 = 0
WHERE 1000 * len(list_intersect(l.sh, r.sh))
      >= 500 * len(list_distinct(l.sh || r.sh))
"""


# Exact asymmetric containment join: |A∩B|/|A| >= t — the
# quote/excerpt detector symmetric Jaccard dilutes away (a small doc
# fully inside a big one has tiny Jaccard but containment 1.0). The
# oracle is the algorithm-blind all-pairs containment.

_CONTAINMENT_SQL = f"""
WITH shingled AS ({_SHINGLES_SQL})
SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE /
             greatest(len(a.sh), 1), 6) AS containment
FROM shingled a JOIN shingled b ON a.doc_id <> b.doc_id
WHERE len(a.sh) > 0
  AND 1000 * len(list_intersect(a.sh, b.sh)) >= 800 * len(a.sh)
"""


@register("containment_pairs_exact", _CONTAINMENT_SQL)
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set containment >= 0.8 (operators/setsim.py:
    containment_pairs): probe-side rarest-first prefixes vs a
    full-token container index — join keys stay rare by
    construction; verify is candidate-bounded. Emits BOTH directions
    of mutual pairs (containment is asymmetric)."""
    docs = load_table(spark, sf_dir, "documents")
    return setsim.containment_pairs(docs, threshold=0.8, shingle_k=3)


_CONTAINMENT_CROSS_SQL = f"""
WITH shingled AS ({_SHINGLES_SQL})
SELECT e.doc_id AS contained_id, t.doc_id AS container_id,
       round(len(list_intersect(e.sh, t.sh))::DOUBLE /
             greatest(len(e.sh), 1), 6) AS containment
FROM shingled e JOIN shingled t
  ON e.doc_id % 5 = 0 AND t.doc_id % 5 <> 0
WHERE len(e.sh) > 0
  AND 1000 * len(list_intersect(e.sh, t.sh)) >= 600 * len(e.sh)
"""


@register("containment_cross_decontaminate", _CONTAINMENT_CROSS_SQL)
def q_containment_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact eval-quoted-in-train decontamination
    (operators/setsim.py:containment_cross): every (eval, train) pair
    with |eval ∩ train| / |eval| >= 0.6 over 3-shingle sets — the
    excerpt-leakage case symmetric Jaccard dilutes away. Eval =
    doc_id % 5 == 0 (the decontamination family's split); union-df
    token order, eval-prefix-bounded candidate join."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    ev = docs.where(F.col("doc_id") % 5 == 0)
    return setsim.containment_cross(ev, train, threshold=0.6, shingle_k=3)


@register("setsim_cross_decontaminate", _SETSIM_CROSS_SQL)
def q_setsim_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact train-vs-eval contamination pairs (Jaccard >= 0.5 over
    3-shingles) via the R-S prefix-filter join: one union-frequency
    token order shared by both sides, rarest-first prefixes, verify
    over candidate pairs only (operators/setsim.py:ppjoin_cross)."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    ev = docs.where(F.col("doc_id") % 5 == 0)
    return setsim.ppjoin_cross(train, ev, threshold=0.5, shingle_k=3)


# Incremental EXACT set-similarity against a persisted prefix index
# (operators/setsim.py prefix_store / incremental_ppjoin_pairs): the
# setsim twin of the LSH band-store family — cross-batch exact pairs
# at batch-side cost, history participating through frozen-order
# prefix rows only. Same deterministic split as the incremental
# family (batch = doc_id % 5 == 0, history = the rest). The oracle is
# the all-pairs exact cross Jaccard, blind to prefixes, frozen
# orders, and positional filters alike.
_SETSIM_INC_SQL = f"""
WITH shingled AS ({_SHINGLES_SQL})
SELECT n.doc_id AS new_id, h.doc_id AS stored_id,
       round(len(list_intersect(n.sh, h.sh))::DOUBLE /
             greatest(len(list_distinct(n.sh || h.sh)), 1), 6) AS jaccard
FROM shingled n JOIN shingled h
  ON n.doc_id % 5 = 0 AND h.doc_id % 5 <> 0
WHERE 1000 * len(list_intersect(n.sh, h.sh))
      >= 500 * len(list_distinct(n.sh || h.sh))
"""


@register("incremental_setsim_vs_store", _SETSIM_INC_SQL)
def q_incremental_setsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs of a batch against HISTORY'S PERSISTED
    PREFIX INDEX (operators/setsim.py:incremental_ppjoin_pairs):
    frozen canonical order, prefix equi-join + size-ratio +
    positional filters, verify fetches candidate docs only — the
    zero-false-negative ingest path LSH stores cannot offer."""
    docs = load_table(spark, sf_dir, "documents")
    hist = docs.where(F.col("doc_id") % 5 != 0)
    batch = docs.where(F.col("doc_id") % 5 == 0)
    freq = setsim.token_freq_table(hist)
    store = setsim.prefix_store(hist, freq, threshold=0.5, shingle_k=3)
    return setsim.incremental_ppjoin_pairs(
        batch, hist, store, freq, threshold=0.5, shingle_k=3
    )


# Store-backed incremental containment (r12): the decontamination
# primitive run the way production runs it — train corpus FROZEN
# (full-token index persisted under a creation-time order), eval
# batches probe the store; no union re-scan, no re-order. The oracle
# is the pooled all-pairs containment cross, blind to stores and
# orders — equality IS the incremental-≡-pooled claim.
_CONTAINMENT_INC_SQL = f"""
WITH shingled AS ({{shingles}})
SELECT e.doc_id AS contained_id, t.doc_id AS container_id,
       round(len(list_intersect(e.sh, t.sh))::DOUBLE /
             greatest(len(e.sh), 1), 6) AS containment
FROM shingled e JOIN shingled t
  ON e.doc_id % 5 = 0 AND t.doc_id % 5 <> 0
WHERE len(e.sh) > 0
  AND 1000 * len(list_intersect(e.sh, t.sh)) >= 600 * len(e.sh)
"""


@register(
    "incremental_containment_vs_store",
    _CONTAINMENT_INC_SQL.format(shingles=_SHINGLES_SQL),
)
def q_incremental_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quoted-excerpt decontamination of a batch against the
    FROZEN train corpus's persisted full-token index
    (operators/setsim.py:incremental_containment_pairs): the token
    order is frozen at store creation (train-side document
    frequency), the store indexes every train token so any overlap
    witness hits the probe-prefix equi-join, and verify fetches
    candidate docs only. Same split and threshold (0.6) as
    `containment_cross_decontaminate` — the result is identical to
    the pooled path by the order-independent prefix pigeonhole."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    ev = docs.where(F.col("doc_id") % 5 == 0)
    freq = setsim.token_freq_table(train)
    store = setsim.containment_store(train, freq)
    return setsim.incremental_containment_pairs(
        ev, train, store, freq, threshold=0.6, shingle_k=3
    )


# Incremental dedup against a persisted store (operators/dedup.py
# fingerprint_store / dedup_against_store / lsh_band_store /
# incremental_lsh_candidates) — the production ingest shape: history
# is an INDEX (fingerprints / band rows), never rescanned text. The
# fixture split is deterministic: batch = doc_id % 5 == 0, history =
# the rest.

_INC_EXACT_SQL = f"""
WITH fp AS (SELECT doc_id, n_chars, {_FP_SQL} AS f FROM documents)
SELECT b.doc_id, b.n_chars
FROM fp b
WHERE b.doc_id % 5 = 0
  AND NOT EXISTS (SELECT 1 FROM fp h WHERE h.doc_id % 5 <> 0 AND h.f = b.f)
  AND b.doc_id = (SELECT min(b2.doc_id) FROM fp b2
                  WHERE b2.doc_id % 5 = 0 AND b2.f = b.f)
"""


@register("incremental_exact_ingest", _INC_EXACT_SQL)
def q_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest filter vs the persisted fingerprint index: incoming
    batch docs that are not exact duplicates of history and are their
    batch's first occurrence. One anti-join + one min-agg on the
    uniform md5 key — history text is never read."""
    docs = load_table(spark, sf_dir, "documents")
    history = docs.where(F.col("doc_id") % 5 != 0)
    batch = docs.where(F.col("doc_id") % 5 == 0)
    store = dedup.fingerprint_store(history)
    return dedup.dedup_against_store(batch, store).select("doc_id", "n_chars")


_INC_CONFIRM_SQL = f"""
WITH {_SIGS_CTE},
banded AS (
  SELECT doc_id, b.b AS band,
         md5(array_to_string(sig[b.b*{_NR}+1:b.b*{_NR}+{_NR}], '|')) AS band_hash
  FROM sigs, (SELECT unnest(generate_series(0, {_NB - 1})) AS b) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS new_id, c.doc_id AS stored_id
  FROM banded a JOIN banded c
    ON a.band = c.band AND a.band_hash = c.band_hash
  WHERE a.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
)
SELECT cand.new_id, cand.stored_id,
       round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
             greatest(len(list_distinct(sa.sh || sb.sh)), 1), 6) AS jaccard
FROM cand
JOIN shingled sa ON sa.doc_id = cand.new_id
JOIN shingled sb ON sb.doc_id = cand.stored_id
WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
            greatest(len(list_distinct(sa.sh || sb.sh)), 1), 6) >= 0.8
"""


@register("incremental_near_dups_confirmed", _INC_CONFIRM_SQL)
def q_incremental_confirm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full incremental near-dup decision: candidates from the
    persisted band index, exact Jaccard confirm computed by fetching
    text for ONLY the candidate docs (semi-join pruning both sides)
    — 100 TB of history participates through index rows plus the
    handful of surfaced documents."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    history = docs.where(F.col("doc_id") % 5 != 0)
    batch = docs.where(F.col("doc_id") % 5 == 0)
    store = dedup.lsh_band_store(history, num_hashes=_NH, bands=_NB, shingle_k=3)
    return dedup.incremental_near_dups_confirmed(
        batch, history, store, threshold=0.8,
        num_hashes=_NH, bands=_NB, shingle_k=3,
    )


_INC_LSH_SQL = f"""
WITH {_SIGS_CTE},
banded AS (
  SELECT doc_id, b.b AS band,
         md5(array_to_string(sig[b.b*{_NR}+1:b.b*{_NR}+{_NR}], '|')) AS band_hash
  FROM sigs, (SELECT unnest(generate_series(0, {_NB - 1})) AS b) b
)
SELECT DISTINCT a.doc_id AS new_id, c.doc_id AS stored_id
FROM banded a JOIN banded c
  ON a.band = c.band AND a.band_hash = c.band_hash
WHERE a.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
"""


@register("incremental_lsh_vs_store", _INC_LSH_SQL)
def q_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates of an incoming batch against the persisted
    LSH band index: batch bands are computed fresh, history
    contributes stored (doc_id, band, band_hash) rows only — the same
    hash family as the self-join path, so candidates match a pooled
    self-join restricted to batch x history pairs."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    history = docs.where(F.col("doc_id") % 5 != 0)
    batch = docs.where(F.col("doc_id") % 5 == 0)
    store = dedup.lsh_band_store(history, num_hashes=_NH, bands=_NB, shingle_k=3)
    return dedup.incremental_lsh_candidates(
        batch, store, num_hashes=_NH, bands=_NB, shingle_k=3
    )


# SimHash — the xxhash64 default has no DuckDB twin (rows-only check;
# substance covered by pytest with planted near-duplicates), but the
# md5_60 variant rebuilds the identical 60-bit fingerprint in SQL.


@register("simhash_fingerprints")
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deliberately NOT widened: same-session A/B (r18) measured the
    # widening exchange costing more than the parallelism buys here —
    # the token-hash vote fold is ~4x cheaper per row than the MinHash
    # family that does widen (normalized 0.67 unwidened vs 0.90 widened)
    docs = load_table(spark, sf_dir, "documents")
    return dedup.with_simhash(docs, out_col="simhash64")


_SIMHASH_BITS = ", ".join(
    f"sum((h >> {i}) & 1) AS b{i}" for i in range(60)
)
_SIMHASH_FP = " + ".join(
    f"CASE WHEN 2*b{i} > n THEN {1 << i} ELSE 0 END" for i in range(60)
)

_SIMHASH_MD5_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(str_split_regex(lower(trim(coalesce(text, ''))), '\\s+')) AS tok
  FROM documents
),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
g AS (SELECT doc_id, count(*) AS n, {_SIMHASH_BITS} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS simhash60 FROM g
"""


@register("simhash_md5_fingerprints", _SIMHASH_MD5_SQL)
def q_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.with_simhash(docs, out_col="simhash60", hash_fn="md5_60")


# Hamming-band candidates over the md5_60 fingerprint: docs sharing
# any of the 4 15-bit bands — the blocking step, verified end-to-end.

_SIMHASH_BAND_SQL = f"""
WITH fp AS (
  WITH toks AS (
    SELECT doc_id, unnest(str_split_regex(lower(trim(coalesce(text, ''))), '\\s+')) AS tok
    FROM documents
  ),
  h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
  g AS (SELECT doc_id, count(*) AS n, {_SIMHASH_BITS} FROM h GROUP BY doc_id)
  SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS fp FROM g
),
banded AS (
  SELECT doc_id, b.b AS band, (fp >> (b.b * 15)) & 32767 AS val
  FROM fp, (SELECT unnest(generate_series(0, 3)) AS b) b
)
SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
FROM banded a JOIN banded c
  ON a.band = c.band AND a.val = c.val AND a.doc_id < c.doc_id
"""


@register("simhash_band_candidates", _SIMHASH_BAND_SQL)
def q_simhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_dedup_candidates(docs, hash_fn="md5_60")


# Incremental SimHash vs the persisted band index (round 8): batch
# fingerprints computed fresh, history contributes stored (doc_id,
# band, val) rows only — the SimHash sibling of
# incremental_lsh_vs_store, same %5 batch/history split.

_INC_SIMHASH_SQL = f"""
WITH fp AS (
  WITH toks AS (
    SELECT doc_id, unnest(str_split_regex(lower(trim(coalesce(text, ''))), '\\s+')) AS tok
    FROM documents
  ),
  h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
  g AS (SELECT doc_id, count(*) AS n, {_SIMHASH_BITS} FROM h GROUP BY doc_id)
  SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS fp FROM g
),
banded AS (
  SELECT doc_id, b.b AS band, (fp >> (b.b * 15)) & 32767 AS val
  FROM fp, (SELECT unnest(generate_series(0, 3)) AS b) b
)
SELECT DISTINCT a.doc_id AS new_id, c.doc_id AS stored_id
FROM banded a JOIN banded c
  ON a.band = c.band AND a.val = c.val
WHERE a.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
"""


@register("incremental_simhash_vs_store", _INC_SIMHASH_SQL)
def q_incremental_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates of an incoming batch against the persisted
    SimHash band index (operators/dedup.py:simhash_band_store /
    incremental_simhash_candidates) — history participates through
    4 small int rows per doc, text never rescanned."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    history = docs.where(F.col("doc_id") % 5 != 0)
    batch = docs.where(F.col("doc_id") % 5 == 0)
    store = dedup.simhash_band_store(history, hash_fn="md5_60")
    return dedup.incremental_simhash_candidates(
        batch, store, hash_fn="md5_60"
    )


# ---------------------------------------------------------------------------
# LLM-pipeline: text analysis
# ---------------------------------------------------------------------------

from cybersecurity_miw_spark.operators import langid


def _langid_values_sql() -> tuple[str, str]:
    """(profile VALUES, per-language OOV VALUES) from the SHIPPED
    data/lang_profiles.tsv — the oracle scores with the same frozen
    integer weights the Spark operator broadcasts (the
    _psl_values_sql precedent). Grams contain only alphabet letters
    and '_' (the normalization guarantees it), so no SQL quoting
    hazards."""
    profiles = langid.load_lang_profiles()
    prof_rows = ", ".join(
        f"('{lang}', '{g}', {w})"
        for lang in sorted(profiles)
        for g, w in sorted(profiles[lang]["grams"].items())
    )
    lang_rows = ", ".join(
        f"('{lang}', {profiles[lang]['oov_micro']})"
        for lang in sorted(profiles)
    )
    return prof_rows, lang_rows


def _langid_cte_sql(docs_cte: str = "lid_docs") -> str:
    """The full DuckDB twin of langid.detect_language as a chain of
    CTE definitions ending in ``lid_out(doc_id, lang,
    lang_score_micro, lang_margin_micro)`` — script gate, alphabet
    normalization, trigram unnest, frozen-profile join, integer
    micro-nat scoring, argmax + match-fraction + ln(99)-margin
    gates. Rebuilt wholesale in SQL (no shared code with the Spark
    expressions), the catalog's twin discipline. ``docs_cte`` must
    provide (doc_id, text)."""
    c = langid.SCRIPT_CLASSES
    prof_rows, lang_rows = _langid_values_sql()
    dom = langid.DOMINANT_MICRO
    kana = langid.KANA_MICRO
    gate_rest = "\n".join(
        f"       WHEN c_{s}*1000000 >= tot*{dom} THEN '{lang}'"
        for s, lang in langid.SCRIPT_LANG.items()
    )
    return f"""
lid_low AS (
  SELECT doc_id,
         lower(substr(coalesce(text, ''), 1, {langid.CAP_CHARS})) AS lo
  FROM {docs_cte}),
lid_sc AS (
  SELECT doc_id, lo,
    len(regexp_extract_all(lo, '{c["latin"]}')) AS c_latin,
    len(regexp_extract_all(lo, '{c["cyrillic"]}')) AS c_cyrillic,
    len(regexp_extract_all(lo, '{c["han"]}')) AS c_han,
    len(regexp_extract_all(lo, '{c["hiragana"]}')) AS c_hiragana,
    len(regexp_extract_all(lo, '{c["katakana"]}')) AS c_katakana,
    len(regexp_extract_all(lo, '{c["hangul"]}')) AS c_hangul,
    len(regexp_extract_all(lo, '{c["thai"]}')) AS c_thai,
    len(regexp_extract_all(lo, '{c["greek"]}')) AS c_greek,
    len(regexp_extract_all(lo, '{c["hebrew"]}')) AS c_hebrew,
    len(regexp_extract_all(lo, '{c["devanagari"]}')) AS c_devanagari,
    len(regexp_extract_all(lo, '{c["arabic"]}')) AS c_arabic
  FROM lid_low),
lid_gate AS (
  SELECT doc_id, lo,
    CASE WHEN tot = 0 THEN 'und'
       WHEN (c_hiragana+c_katakana)*1000000 >= tot*{kana}
            AND (c_han+c_hiragana+c_katakana)*1000000 >= tot*{dom}
         THEN 'ja'
       WHEN c_han*1000000 >= tot*{dom} THEN 'zh'
{gate_rest}
    END AS g
  FROM (SELECT *,
          (c_latin+c_cyrillic+c_han+c_hiragana+c_katakana+c_hangul
           +c_thai+c_greek+c_hebrew+c_devanagari+c_arabic) AS tot
        FROM lid_sc)),
lid_base AS (
  SELECT doc_id, g,
         '_' || regexp_replace(lo, '{langid.NON_LETTER_RUN}', '_', 'g')
             || '_' AS p
  FROM lid_gate),
lid_base2 AS (SELECT doc_id, g, p, length(p) - 2 AS n FROM lid_base),
lid_gated AS (
  SELECT doc_id, g AS lang, CAST(NULL AS BIGINT) AS lang_score_micro,
         CAST(NULL AS BIGINT) AS lang_margin_micro
  FROM lid_base2 WHERE g IS NOT NULL),
lid_short AS (
  SELECT doc_id, 'und' AS lang, CAST(NULL AS BIGINT) AS lang_score_micro,
         CAST(NULL AS BIGINT) AS lang_margin_micro
  FROM lid_base2 WHERE g IS NULL AND n < {langid.MIN_GRAMS}),
lid_qual AS (
  SELECT doc_id, p, n FROM lid_base2
  WHERE g IS NULL AND n >= {langid.MIN_GRAMS}),
lid_grams AS (
  SELECT doc_id,
         unnest([substr(p, i, 3) FOR i IN generate_series(1, n)]) AS gm
  FROM lid_qual),
lid_prof(lang, gram, w_micro) AS (VALUES {prof_rows}),
lid_langs(lang, oov_micro) AS (VALUES {lang_rows}),
lid_matched AS (
  SELECT gr.doc_id, pr.lang AS lang,
         sum(pr.w_micro) AS mw, count(*) AS nm
  FROM lid_grams gr JOIN lid_prof pr ON gr.gm = pr.gram
  GROUP BY gr.doc_id, pr.lang),
lid_scored AS (
  SELECT q.doc_id AS doc_id, l.lang,
         coalesce(m.mw, 0) + (q.n - coalesce(m.nm, 0)) * l.oov_micro
           AS score,
         coalesce(m.nm, 0) AS nm, q.n AS n
  FROM lid_qual q CROSS JOIN lid_langs l
  LEFT JOIN lid_matched m ON m.doc_id = q.doc_id AND m.lang = l.lang),
lid_ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
  FROM lid_scored),
lid_tri AS (
  SELECT b.doc_id,
    CASE WHEN b.nm * 1000000 < b.n * {langid.MIN_MATCH_FRAC_MICRO}
           THEN 'und'
         WHEN b.score - s.score < {langid.MARGIN_MICRO} THEN 'und'
         ELSE b.lang END AS lang,
    b.score AS lang_score_micro,
    (b.score - s.score) AS lang_margin_micro
  FROM lid_ranked b JOIN lid_ranked s
    ON b.doc_id = s.doc_id AND s.rn = 2
  WHERE b.rn = 1),
lid_out AS (
  SELECT * FROM lid_gated
  UNION ALL SELECT * FROM lid_short
  UNION ALL SELECT * FROM lid_tri)"""


# n_tokens twin: the r17 CJK char-class fallback (textstats.
# token_count) — each Han/kana/Thai codepoint is one token, the
# whitespace count runs over the CJK-stripped text; non-CJK text
# keeps the historical size(split()) semantics bit-exactly. The
# class string is the SAME literal as textstats.CJK_CLASS (literal
# endpoints are valid in both Java regex and RE2).
_N_TOKENS_SQL = f"""
         CASE WHEN len(regexp_extract_all(text, '{textstats.CJK_CLASS}')) > 0
              THEN len(list_filter(str_split_regex(
                     trim(regexp_replace(text, '{textstats.CJK_CLASS}', ' ', 'g')),
                     '\\s+'), x -> len(x) > 0))
                   + len(regexp_extract_all(text, '{textstats.CJK_CLASS}'))
              ELSE len(str_split_regex(trim(text), '\\s+')) END"""

_PROFILE_SQL = f"""
WITH lid_docs AS (SELECT doc_id, text FROM documents),
{_langid_cte_sql()}
SELECT p.doc_id, l.lang AS lang_guess,
       p.n_tokens, p.n_subtokens, p.quality, p.fingerprint
FROM (
  SELECT doc_id, n_tokens, n_subtokens,
       floor(greatest(least(0.5 * alpha_ratio + 0.3 * len_score + 0.2 * (1.0 - punct_ratio), 1.0), 0.0) * 1000000.0 + 0.5) / 1000000.0 AS quality,
       fingerprint
  FROM (
    SELECT doc_id,
         {_N_TOKENS_SQL} AS n_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]')) AS n_subtokens,
         len(regexp_extract_all(text, '[A-Za-z]')) / greatest(length(text), 1) AS alpha_ratio,
         len(regexp_extract_all(text, '[^\\sA-Za-z0-9]')) / greatest(length(text), 1) AS punct_ratio,
         least(length(text) / 200.0, 1.0) AS len_score,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
  )
) p JOIN lid_out l ON p.doc_id = l.doc_id
"""


@register("text_profile", _PROFILE_SQL)
def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc language ID, token count, quality ratios, and
    rolling-hash fingerprint (operators/textstats.py). r17: the
    language column is the char-trigram profile classifier
    (operators/langid.py — shipped-profile scoring, full DuckDB
    twin) instead of the 4-language stopword heuristic, and
    n_tokens carries the CJK char-class fallback. Re-anchored
    in-window for both plan changes (rotation invariant)."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    t = F.col("text")
    # r19 (§2.4): the profile stats ride the langid pipeline as carry
    # columns instead of a separate scan + doc_id join-back — one
    # corpus pass, one exchange, no doc-keyed join (A/B: 0 differing
    # rows; jobs 5 -> 4 and −0.55 s wall at sf0.1; at scale the
    # removed join is two n_docs-row exchanges + sorts)
    return langid.detect_language(
        docs,
        carry={
            "n_tokens": textstats.token_count(t),
            "n_subtokens": textstats.word_token_count(t),
            "quality": textstats.quality_score(t),
            "fingerprint": textstats.fingerprint(t),
        },
    ).select(
        "doc_id", F.col("lang").alias("lang_guess"), "n_tokens",
        "n_subtokens", "quality", "fingerprint",
    )


# Token-length histogram in log2 buckets — the packing/chunking
# planner's input (sequence-length budget, truncation loss, bucket
# share). One aggregation to ~log2(max_len) rows at any corpus size.
_TOKLEN_HIST_SQL = f"""
WITH t AS (
  SELECT {_N_TOKENS_SQL} AS n_tokens
  FROM documents
)
SELECT CAST(floor(log2(n_tokens + 1)) AS BIGINT) AS bucket,
       CAST(pow(2, CAST(floor(log2(n_tokens + 1)) AS BIGINT)) AS BIGINT)
         AS bucket_min_plus1,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(count(*)::DOUBLE / (SELECT count(*) FROM t), 6) AS doc_share
FROM t GROUP BY 1
"""


@register("doc_token_length_histogram", _TOKLEN_HIST_SQL)
def q_toklen_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """log2-bucketed token-length distribution: one narrow token
    count (the shared textstats convention) + one tiny aggregation;
    the share denominator is a scalar subquery both engines fold."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    n_tok = textstats.token_count(F.col("text"))
    t = docs.select(n_tok.alias("n_tokens"))
    bucket = F.floor(F.log2(F.col("n_tokens") + 1)).cast("long")
    # the share denominator is sum(n_docs) over the grouped result
    # (every doc falls in exactly one bucket, so it equals count(*))
    # — an unpartitioned window over ~log2(max_len) rows instead of
    # the separate full-scan count() job this used to run (r18)
    from pyspark.sql.window import Window

    total = F.sum("n_docs").over(Window.partitionBy())
    return (
        t.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .select(
            "bucket",
            F.pow(F.lit(2.0), F.col("bucket")).cast("long").alias(
                "bucket_min_plus1"
            ),
            "n_docs",
            "total_tokens",
            F.round(
                F.col("n_docs") / total.cast("double"), 6
            ).alias("doc_share"),
        )
    )


# ---------------------------------------------------------------------------
# LLM-pipeline: similarity search
# ---------------------------------------------------------------------------

_COSINE_SQL = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) AS cos_sim
FROM embeddings, q
ORDER BY cos_sim DESC, vec_id ASC
LIMIT 10
"""


@register("cosine_brute_topk", _COSINE_SQL)
def q_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k vs a query vector: the exact ANN
    baseline — TakeOrdered(k), no global sort
    (operators/similarity.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return similarity.brute_force_topk(emb, list(qvec), k=10)


_PAIRWISE_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 3)
SELECT query_id, vec_id, cos_sim FROM (
  SELECT q.query_id, e.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS cos_sim,
         row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) DESC,
                    e.vec_id ASC) AS rn
  FROM embeddings e, q
  WHERE e.vec_id <> q.query_id
) WHERE rn <= 5
"""


@register("pairwise_cosine_topk", _PAIRWISE_SQL)
def q_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return similarity.pairwise_topk(emb, queries, k=5)


def _pairwise_lsh_sql() -> str:
    # oracle injects the SAME md5-derived hyperplane literals the Spark
    # side uses (see ann_lsh_topk below), so both engines compute
    # identical buckets; candidates are same-bucket pairs only, ranked
    # per query on round-6 cosine with vec_id tiebreak — exactly
    # similarity.pairwise_topk_lsh's window rank.
    return f"""
WITH b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {{bucket}} AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb
      FROM b WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, b.vec_id,
         round(list_cosine_similarity(b.v, q.qv), 6) AS cos_sim
  FROM b JOIN q ON b.bucket = q.qb AND b.vec_id <> q.query_id
)
SELECT query_id, vec_id, cos_sim FROM (
  SELECT scored.*,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, vec_id ASC) AS rn
  FROM scored
) WHERE rn <= 5
"""


@register(
    "pairwise_topk_lsh",
    None,  # filled below once _bucket_sql is defined
)
def q_pairwise_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path behind pairwise_cosine_topk's broadcast guard:
    both sides hyperplane-bucketed (8 planes over dim 64), joined on
    the bucket id — a uniform-key shuffle join, never a crossJoin —
    then window-ranked per query (operators/similarity.py
    pairwise_topk_lsh)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return similarity.pairwise_topk_lsh(emb, queries, dim=64, k=5, n_planes=8)


# LSH ANN — hyperplane components are driver-computed md5 literals
# (similarity.plane_component_value), so the oracle injects the SAME
# constants and recomputes buckets with list_dot_product.


def _bucket_sql(dim: int, n_planes: int, plane_offset: int = 0) -> str:
    terms = []
    for i, p in enumerate(range(plane_offset, plane_offset + n_planes)):
        comps = ", ".join(
            repr(similarity.plane_component_value(p, d)) for d in range(dim)
        )
        terms.append(
            f"CASE WHEN list_dot_product(v, [{comps}]) > 0 "
            f"THEN {1 << i} ELSE 0 END"
        )
    return " + ".join(terms)


_ANN_LSH_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {_bucket_sql(64, 8)} AS bucket
  FROM embeddings
),
q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0)
SELECT b.vec_id,
       round(list_cosine_similarity(b.v, q.qv), 6) AS cos_sim
FROM b, q
WHERE b.bucket = q.qb
ORDER BY cos_sim DESC, vec_id ASC
LIMIT 10
"""


ORACLE["pairwise_topk_lsh"] = _pairwise_lsh_sql().format(
    bucket=_bucket_sql(64, 8)
)


@register("ann_lsh_topk", _ANN_LSH_SQL)
def q_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return similarity.lsh_ann_topk(emb, list(qvec), dim=64, k=10, n_planes=8)


# PQ ADC top-k: integer-exact product quantization with md5-derived
# codebook literals injected into BOTH engines (trained codebooks are
# data-dependent and golden-tested separately — same split as IVF).


def _pq_sql(dim: int = 64, m: int = 4, k: int = 8) -> str:
    books = similarity.static_pq_codebooks(dim, m, k)
    sub = dim // m
    subs = ",\n         ".join(
        f"iv[{s * sub + 1}:{(s + 1) * sub}] AS sub{s}" for s in range(m)
    )
    dist_exprs = []
    for s in range(m):
        cblist = (
            "[" + ", ".join(
                "[" + ", ".join(str(c) for c in books[s][j]) + "]"
                for j in range(k)
            ) + "]"
        )
        dlist = (
            "[" + ", ".join(
                "list_sum(list_transform(list_zip(sub{s}, {cj}), "
                "z -> (z[1]-z[2])*(z[1]-z[2])))".format(
                    s=s, cj="[" + ", ".join(str(c) for c in books[s][j]) + "]"
                )
                for j in range(k)
            ) + "]"
        )
        # code = first argmin (1-based); q-side distance to that entry
        dist_exprs.append(
            "list_sum(list_transform(list_zip("
            f"qsub{s}, {cblist}[list_position({dlist}, list_min({dlist}))]"
            "), z -> (z[1]-z[2])*(z[1]-z[2])))"
        )
    qsubs = ",\n         ".join(
        f"iv[{s * sub + 1}:{(s + 1) * sub}] AS qsub{s}" for s in range(m)
    )
    total = " + ".join(dist_exprs)
    return f"""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * 1000) AS BIGINT)) AS iv
  FROM embeddings
),
rows_sub AS (
  SELECT vec_id,
         {subs}
  FROM base
),
q AS (
  SELECT {qsubs}
  FROM base WHERE vec_id = 0
)
SELECT vec_id, CAST({total} AS BIGINT) AS pq_dist
FROM rows_sub, q
ORDER BY pq_dist ASC, vec_id ASC
LIMIT 10
"""


@register("ann_pq_adc_topk", _pq_sql())
def q_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k (operators/similarity.py
    pq_encode_arrow/pq_adc_topk): vectors compress to m=4 one-byte
    codes against md5-literal integer codebooks; the scan ranks rows
    by Σ_s LUT[s][code_s]. Integer-exact end to end, so the oracle
    recomputes codes AND distances bit-identically. Encoding runs the
    Arrow/numpy production path — codes bit-identical to the
    expression encoder (tests/test_pq.py pins the equality), ~34x
    faster at sf0.1."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    books = similarity.static_pq_codebooks(64, 4, 8)
    return similarity.pq_adc_topk(emb, books, list(qvec), k=10, use_arrow=True)


# embedding-cosine near-duplicate pairs: exact baseline AND the
# LSH-bucketed scale path are oracle-checked (shared md5-literal
# hyperplanes); IVF ANN stays rows-only (iterative k-means centroids
# have no closed-form SQL).

_NEAR_DUP_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
FROM (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings) a
JOIN (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings) b
  ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.5
"""


@register("embedding_near_dup_pairs", _NEAR_DUP_SQL)
def q_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", widen=True)
    return similarity.cosine_pairs_above(emb, threshold=0.5)


_NEAR_DUP_LSH_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {_bucket_sql(64, 4)} AS bucket
  FROM embeddings
)
SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       round(list_cosine_similarity(a.v, c.v), 6) AS cos_sim
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE round(list_cosine_similarity(a.v, c.v), 6) >= 0.5
"""


@register("embedding_near_dup_lsh", _NEAR_DUP_LSH_SQL)
def q_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", widen=True)
    return similarity.cosine_near_dup_lsh(emb, threshold=0.5, dim=64, n_planes=4)


# Banded semantic LSH (r12): OR-amplification over independent plane
# families — the MinHash bands/rows trade brought to the embedding
# path, because a SINGLE family's recall decays geometrically with
# the occupancy schedule (measured: 0.53 at 6 planes for cos~0.95
# pairs; 4 bands buy it back to 0.96 — SCALE.md r12). The oracle
# unions the per-band equi-joins, band b's bucket built from planes
# [b*n, (b+1)*n) of the same md5 keyspace.
_NEAR_DUP_LSH_BANDED_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {_bucket_sql(64, 4, 0)} AS bucket0,
         {_bucket_sql(64, 4, 4)} AS bucket1,
         {_bucket_sql(64, 4, 8)} AS bucket2
  FROM embeddings
),
cand AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b
  FROM b a JOIN b c ON a.bucket0 = c.bucket0 AND a.vec_id < c.vec_id
  UNION
  SELECT a.vec_id, c.vec_id
  FROM b a JOIN b c ON a.bucket1 = c.bucket1 AND a.vec_id < c.vec_id
  UNION
  SELECT a.vec_id, c.vec_id
  FROM b a JOIN b c ON a.bucket2 = c.bucket2 AND a.vec_id < c.vec_id
)
SELECT x.id_a, x.id_b,
       round(list_cosine_similarity(ea.v, eb.v), 6) AS cos_sim
FROM cand x
JOIN b ea ON ea.vec_id = x.id_a
JOIN b eb ON eb.vec_id = x.id_b
WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.3
"""


@register("embedding_near_dup_lsh_banded", _NEAR_DUP_LSH_BANDED_SQL)
def q_near_dup_lsh_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded semantic near-dup pairs
    (operators/similarity.py:cosine_near_dup_lsh n_bands=3): three
    independent 4-plane families, candidate if ANY band's bucket
    agrees, exact cosine confirm — recall 1−(1−(1−θ/π)^p)^b at b
    bounded bucket joins, the OR-amplification that lets the
    occupancy-constant plane schedule scale WITHOUT the measured
    single-family recall decay. Threshold 0.3 (the
    incremental_semantic precedent): the hashed-text embeddings are
    weakly clustered and 0.5 leaves the oracle near-vacuous."""
    emb = load_table(spark, sf_dir, "embeddings", widen=True)
    return similarity.cosine_near_dup_lsh(
        emb, threshold=0.3, dim=64, n_planes=4, n_bands=3
    )


_INC_SEMANTIC_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {_bucket_sql(64, 4)} AS bucket
  FROM embeddings
)
SELECT n.vec_id AS new_id, s.vec_id AS stored_id,
       round(list_cosine_similarity(n.v, s.v), 6) AS cos_sim
FROM b n JOIN b s ON n.bucket = s.bucket
WHERE n.vec_id % 5 = 0 AND s.vec_id % 5 <> 0
  AND round(list_cosine_similarity(n.v, s.v), 6) >= 0.3
"""


# Banded incremental semantic (r12): the index/vector split probed
# per batch — candidates if ANY band's bucket agrees, vectors
# fetched candidate-pruned for the confirm. Same bands as
# embedding_near_dup_lsh_banded; oracle unions the per-band joins
# over the incremental family's vec_id % 5 split.
_INC_SEMANTIC_BANDED_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {_bucket_sql(64, 4, 0)} AS bucket0,
         {_bucket_sql(64, 4, 4)} AS bucket1,
         {_bucket_sql(64, 4, 8)} AS bucket2
  FROM embeddings
),
cand AS (
  SELECT n.vec_id AS new_id, s.vec_id AS stored_id
  FROM b n JOIN b s ON n.bucket0 = s.bucket0
  WHERE n.vec_id % 5 = 0 AND s.vec_id % 5 <> 0
  UNION
  SELECT n.vec_id, s.vec_id
  FROM b n JOIN b s ON n.bucket1 = s.bucket1
  WHERE n.vec_id % 5 = 0 AND s.vec_id % 5 <> 0
  UNION
  SELECT n.vec_id, s.vec_id
  FROM b n JOIN b s ON n.bucket2 = s.bucket2
  WHERE n.vec_id % 5 = 0 AND s.vec_id % 5 <> 0
)
SELECT c.new_id, c.stored_id,
       round(list_cosine_similarity(en.v, es.v), 6) AS cos_sim
FROM cand c
JOIN b en ON en.vec_id = c.new_id
JOIN b es ON es.vec_id = c.stored_id
WHERE round(list_cosine_similarity(en.v, es.v), 6) >= 0.3
"""


@register(
    "incremental_semantic_banded_vs_store", _INC_SEMANTIC_BANDED_SQL
)
def q_incremental_semantic_banded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Banded incremental semantic pairs against the persisted
    index/vector SPLIT (operators/similarity.py:
    incremental_semantic_pairs_banded): 3 independent 4-plane
    families — a candidate if ANY band agrees (the measured recall
    recovery on the incremental path) — with history vectors fetched
    candidate-pruned instead of riding every index row. Batch =
    vec_id % 5 == 0; threshold 0.3 (the family's non-vacuity
    convention)."""
    emb = load_table(spark, sf_dir, "embeddings", widen=True)
    hist = emb.where(F.col("vec_id") % 5 != 0)
    batch = emb.where(F.col("vec_id") % 5 == 0)
    idx = similarity.embedding_band_index(hist, 64, n_planes=4, n_bands=3)
    vecs = similarity.embedding_vector_store(hist)
    return similarity.incremental_semantic_pairs_banded(
        batch, idx, vecs, threshold=0.3, dim=64, n_planes=4, n_bands=3
    )


@register("incremental_semantic_vs_store", _INC_SEMANTIC_SQL)
def q_incremental_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs of an incoming batch against the
    PERSISTED embedding bucket store (operators/similarity.py:
    embedding_bucket_store / incremental_semantic_pairs) — closes the
    incremental QUADRIAD: exact, MinHash, SimHash, and semantic dedup
    all store-backed. History participates through one bucketed
    (id, bucket, vector) row per vector; bucket-pruned, never an
    all-pairs history scan. Batch = vec_id % 5 == 0 (the incremental
    family's deterministic split)."""
    emb = load_table(spark, sf_dir, "embeddings", widen=True)
    hist = emb.where(F.col("vec_id") % 5 != 0)
    batch = emb.where(F.col("vec_id") % 5 == 0)
    store = similarity.embedding_bucket_store(hist, dim=64, n_planes=4)
    # 0.3: the hashed-text embeddings are weakly clustered — 0.5
    # yields zero cross pairs at sf0.01 and the oracle would be
    # vacuous; 0.3 exercises ~44 real pairs through the same plan
    return similarity.incremental_semantic_pairs(
        batch, store, threshold=0.3, dim=64, n_planes=4
    )


_SEMANTIC_DEDUP_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {_bucket_sql(64, 4)} AS bucket
  FROM embeddings
),
rm AS (
  SELECT DISTINCT c.vec_id
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
  WHERE round(list_cosine_similarity(a.v, c.v), 6) >= 0.5
)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT vec_id FROM rm)
"""


@register("semantic_dedup_survivors", _SEMANTIC_DEDUP_SQL)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style embedding-level dedup
    (operators/similarity.py:semantic_dedup): keep-lowest-id over the
    LSH-bucketed cosine near-dup pairs — paraphrase-level duplicates
    token dedup misses. Bucket self-join on the uniform md5-plane key
    + one anti-join; never all-pairs."""
    emb = load_table(spark, sf_dir, "embeddings", widen=True)
    return similarity.semantic_dedup(
        emb, dim=64, threshold=0.5, n_planes=4
    ).select("vec_id")


_SEMANTIC_DEDUP_CELLS_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id IN (0, 1, 2, 3)),
assign AS (
  SELECT e.vec_id, e.v,
         (SELECT c.cell FROM cents c
          ORDER BY list_sum(list_transform(list_zip(c.cv, e.v),
                            z -> (z[1] - z[2]) * (z[1] - z[2]))),
                   c.cell
          LIMIT 1) AS cell
  FROM e
),
rm AS (
  SELECT DISTINCT b.vec_id
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT vec_id FROM rm)
"""


_SEMANTIC_CELLS_CLUSTERS_SQL = """
WITH RECURSIVE e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
cents AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id IN (0, 1, 2, 3)),
assign AS (
  SELECT e.vec_id, e.v,
         (SELECT c.cell FROM cents c
          ORDER BY list_sum(list_transform(list_zip(c.cv, e.v),
                            z -> (z[1] - z[2]) * (z[1] - z[2]))),
                   c.cell
          LIMIT 1) AS cell
  FROM e
),
dup_pairs AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
),
edges AS (SELECT a, b FROM dup_pairs UNION SELECT b, a FROM dup_pairs),
reach(src, dst) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.src, e2.b FROM reach r JOIN edges e2 ON r.dst = e2.a
),
reps AS (
  SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT vec_id FROM reps WHERE vec_id <> cluster_id)
"""


@register("semantic_dedup_cells_clusters", _SEMANTIC_CELLS_CLUSTERS_SQL)
def q_semantic_dedup_cells_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-atomic SemDeDup over k-means-cells blocking
    (operators/similarity.py:semantic_dedup_cells_clusters) — the
    fourth corner of the blocking × keep-rule matrix: the cells pair
    list routed through connected components, one survivor (the min
    id) per component. Same 4 seed centroids / threshold 0.4 as
    `semantic_dedup_cells_survivors`, so the two oracles differ
    exactly where chains make adjacency and closure disagree."""
    emb = load_table(spark, sf_dir, "embeddings", widen=True)
    seed_rows = (
        emb.filter(F.col("vec_id") < 4)
        .orderBy("vec_id")
        .select(F.col("embedding").cast("array<double>"))
        .collect()
    )
    cents = [list(r[0]) for r in seed_rows]
    return similarity.semantic_dedup_cells_clusters(
        emb, cents, threshold=0.4
    ).select("vec_id")


@register("semantic_dedup_cells_survivors", _SEMANTIC_DEDUP_CELLS_SQL)
def q_semantic_dedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the paper's own blocking — k-means cells
    (operators/similarity.py:semantic_dedup_cells): assign every
    vector to its nearest of 4 seed centroids (the ann_ivf_topk seed
    convention — exact data vectors a SQL twin can reference), prune
    within cells at cosine ≥ 0.4, keep-lowest-id. Trained centroids
    stay out of the oracle for the usual IEEE-sum reason; the
    operator is centroid-list-agnostic."""
    emb = load_table(spark, sf_dir, "embeddings", widen=True)
    seed_rows = (
        emb.filter(F.col("vec_id") < 4)
        .orderBy("vec_id")
        .select(F.col("embedding").cast("array<double>"))
        .collect()
    )
    cents = [list(r[0]) for r in seed_rows]
    return similarity.semantic_dedup_cells(
        emb, cents, threshold=0.4
    ).select("vec_id")


# Cluster-atomic SemDeDup (r12): the pair graph is the same
# LSH-bucketed cosine join as semantic_dedup_survivors; the oracle
# closes it with the recursive-CTE reachability fixpoint (the
# dup_clusters_cc pattern) and keeps each component's minimum id —
# exactly what dup_clusters' union-find computes.
_SEMANTIC_CLUSTERS_SQL = f"""
WITH RECURSIVE b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {_bucket_sql(64, 4)} AS bucket
  FROM embeddings
),
dup_pairs AS (
  SELECT a.vec_id AS a, c.vec_id AS b
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
  WHERE round(list_cosine_similarity(a.v, c.v), 6) >= 0.5
),
edges AS (SELECT a, b FROM dup_pairs UNION SELECT b, a FROM dup_pairs),
reach(src, dst) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
reps AS (
  SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT vec_id FROM reps WHERE vec_id <> cluster_id)
"""


@register("semantic_dedup_clusters", _SEMANTIC_CLUSTERS_SQL)
def q_semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-atomic SemDeDup
    (operators/similarity.py:semantic_dedup_clusters): the
    LSH-bucketed cosine pair list routed through connected components
    (dedup.dup_clusters, a two-level union-find) keeping each
    component's minimum id — one survivor per semantic cluster, drops
    exactly size(component)−1. Same planes/threshold as
    `semantic_dedup_survivors`, so the two oracles differ only where
    chains make adjacency and closure disagree."""
    emb = load_table(spark, sf_dir, "embeddings", widen=True)
    return similarity.semantic_dedup_clusters(
        emb, dim=64, threshold=0.5, n_planes=4
    ).select("vec_id")


_HYBRID_RRF_SQL = """
WITH w AS (
  SELECT doc_id, str_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM documents
),
d AS (SELECT doc_id, len(ws) AS dl, ws FROM w),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
tok AS (SELECT doc_id, dl, unnest(ws) AS term FROM d),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM tok WHERE term IN ('table', 'join', 'window')
  GROUP BY 1, 2, 3
),
dft AS (SELECT term, count(*) AS dft FROM tf GROUP BY 1),
terms AS (
  SELECT tf.doc_id,
         CAST(floor(
           ln(1 + (stats.n_docs - dft.dft + 0.5) / (dft.dft + 0.5))
           * (tf.tf * 2.2
              / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))
           * 1000000.0 + 0.5) AS BIGINT) AS tu
  FROM tf JOIN dft USING (term) CROSS JOIN stats
),
lex AS (
  SELECT doc_id, CAST(sum(tu) AS BIGINT) AS score_u FROM terms GROUP BY 1
  ORDER BY score_u DESC, doc_id LIMIT 50
),
lex_r AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score_u DESC, doc_id) AS lex_rank
  FROM lex
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
dense AS (
  SELECT vec_id AS doc_id,
         round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) AS cs
  FROM embeddings, q
  ORDER BY cs DESC, doc_id LIMIT 50
),
dense_r AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cs DESC, doc_id) AS dense_rank
  FROM dense
),
fused AS (
  SELECT COALESCE(l.doc_id, e.doc_id) AS doc_id,
         CAST(COALESCE(l.lex_rank, 0) AS BIGINT) AS lex_rank,
         CAST(COALESCE(e.dense_rank, 0) AS BIGINT) AS dense_rank
  FROM lex_r l FULL OUTER JOIN dense_r e ON l.doc_id = e.doc_id
)
SELECT doc_id, lex_rank, dense_rank,
       CAST(
         (CASE WHEN lex_rank > 0
               THEN floor(1000000000.0 / (60 + lex_rank)) ELSE 0 END)
         + (CASE WHEN dense_rank > 0
                 THEN floor(1000000000.0 / (60 + dense_rank)) ELSE 0 END)
       AS BIGINT) AS rrf_u
FROM fused
ORDER BY rrf_u DESC, doc_id LIMIT 20
"""


@register("hybrid_rrf_topk_docs", _HYBRID_RRF_SQL)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid BM25 + exact-cosine retrieval fused by Reciprocal Rank
    Fusion (operators/retrieval.py:hybrid_rrf_topk): pool-50 lists
    from each system, integer micro-score reciprocals, top-20. The
    fusion stage is pool-bounded — the corpus is touched only by the
    two retrieval branches. doc_id and vec_id share the id domain in
    this dataset (the documents' embedding table)."""
    from cybersecurity_miw_spark.operators import retrieval

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return retrieval.hybrid_rrf_topk(
        docs, emb, ["table", "join", "window"], list(qvec),
        k=20, pool=50,
    ).select("doc_id", "lex_rank", "dense_rank", "rrf_u")


# The ANN variant swaps the dense branch's full-corpus scan for the
# IVF probe-pruned scan (same 4 seed centroids / 2 probes / L2 folds
# as ann_ivf_topk — trained centroids stay out of oracles, their IEEE
# partition-order sums are not cross-engine stable). The lex half and
# the fusion arithmetic are byte-identical to _HYBRID_RRF_SQL.
_HYBRID_RRF_ANN_SQL = """
WITH w AS (
  SELECT doc_id, str_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM documents
),
d AS (SELECT doc_id, len(ws) AS dl, ws FROM w),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
tok AS (SELECT doc_id, dl, unnest(ws) AS term FROM d),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM tok WHERE term IN ('table', 'join', 'window')
  GROUP BY 1, 2, 3
),
dft AS (SELECT term, count(*) AS dft FROM tf GROUP BY 1),
terms AS (
  SELECT tf.doc_id,
         CAST(floor(
           ln(1 + (stats.n_docs - dft.dft + 0.5) / (dft.dft + 0.5))
           * (tf.tf * 2.2
              / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))
           * 1000000.0 + 0.5) AS BIGINT) AS tu
  FROM tf JOIN dft USING (term) CROSS JOIN stats
),
lex AS (
  SELECT doc_id, CAST(sum(tu) AS BIGINT) AS score_u FROM terms GROUP BY 1
  ORDER BY score_u DESC, doc_id LIMIT 50
),
lex_r AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score_u DESC, doc_id) AS lex_rank
  FROM lex
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id IN (0, 1, 2, 3)),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
probe AS (
  SELECT c.cell FROM cents c, q
  ORDER BY list_sum(list_transform(list_zip(c.cv, q.qv),
                                   z -> (z[1] - z[2]) * (z[1] - z[2]))),
           c.cell
  LIMIT 2
),
assign AS (
  SELECT e.vec_id, e.v,
         (SELECT c.cell FROM cents c
          ORDER BY list_sum(list_transform(list_zip(c.cv, e.v),
                                           z -> (z[1] - z[2]) * (z[1] - z[2]))),
                   c.cell
          LIMIT 1) AS cell
  FROM e
),
dense AS (
  SELECT a.vec_id AS doc_id,
         round(list_cosine_similarity(a.v, q.qv), 6) AS cs
  FROM assign a, q
  WHERE a.cell IN (SELECT cell FROM probe)
  ORDER BY cs DESC, doc_id LIMIT 50
),
dense_r AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cs DESC, doc_id) AS dense_rank
  FROM dense
),
fused AS (
  SELECT COALESCE(l.doc_id, e.doc_id) AS doc_id,
         CAST(COALESCE(l.lex_rank, 0) AS BIGINT) AS lex_rank,
         CAST(COALESCE(e.dense_rank, 0) AS BIGINT) AS dense_rank
  FROM lex_r l FULL OUTER JOIN dense_r e ON l.doc_id = e.doc_id
)
SELECT doc_id, lex_rank, dense_rank,
       CAST(
         (CASE WHEN lex_rank > 0
               THEN floor(1000000000.0 / (60 + lex_rank)) ELSE 0 END)
         + (CASE WHEN dense_rank > 0
                 THEN floor(1000000000.0 / (60 + dense_rank)) ELSE 0 END)
       AS BIGINT) AS rrf_u
FROM fused
ORDER BY rrf_u DESC, doc_id LIMIT 20
"""


@register("hybrid_rrf_ann_topk_docs", _HYBRID_RRF_ANN_SQL)
def q_hybrid_rrf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with the INDEX-PRUNED dense branch
    (operators/retrieval.py:hybrid_rrf_topk dense="ann"): BM25 pool
    as in `hybrid_rrf_topk_docs`, but the dense pool comes from IVF
    probe-pruned exact cosine (similarity.ivf_topk, 4 seed centroids,
    2 probes — the `ann_ivf_topk` geometry) instead of a full-corpus
    scan. At 100 TB this is the difference between the dense branch
    scanning the corpus and scanning ~n_probes/n_cells of it; the
    fusion arithmetic is unchanged and pool-bounded."""
    from cybersecurity_miw_spark.operators import retrieval

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    seed_rows = (
        emb.filter(F.col("vec_id") < 4)
        .orderBy("vec_id")
        .select(F.col("embedding").cast("array<double>"))
        .collect()
    )
    cents = [list(r[0]) for r in seed_rows]
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return retrieval.hybrid_rrf_topk(
        docs, emb, ["table", "join", "window"], list(qvec),
        k=20, pool=50, dense="ann", centroids=cents, n_probes=2,
    ).select("doc_id", "lex_rank", "dense_rank", "rrf_u")


# Batched BM25 (r12): one posting-disciplined corpus pass serves a
# query TABLE. The oracle inlines the same 3 term-sets as a VALUES
# CTE and recomputes df/tf/idf/micro-scores relationally — per-query
# rank by window, identical integer arithmetic to bm25_topk_docs.
_BM25_BATCH_SQL = """
WITH q AS (
  SELECT * FROM (VALUES
    (0, ['table', 'join']),
    (1, ['window', 'filter']),
    (2, ['table', 'select', 'rows'])) AS t(query_id, terms)
),
qt AS (SELECT DISTINCT query_id, unnest(terms) AS term FROM q),
w AS (
  SELECT doc_id, str_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM documents
),
d AS (SELECT doc_id, len(ws) AS dl, ws FROM w),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
tok AS (SELECT doc_id, dl, unnest(ws) AS term FROM d),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM tok WHERE term IN (SELECT term FROM qt)
  GROUP BY 1, 2, 3
),
dft AS (SELECT term, count(*) AS dft FROM tf GROUP BY 1),
terms AS (
  SELECT tf.doc_id, tf.term,
         CAST(floor(
           ln(1 + (stats.n_docs - dft.dft + 0.5) / (dft.dft + 0.5))
           * (tf.tf * 2.2
              / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))
           * 1000000.0 + 0.5) AS BIGINT) AS tu
  FROM tf JOIN dft USING (term) CROSS JOIN stats
),
scored AS (
  SELECT qt.query_id, t.doc_id, CAST(sum(t.tu) AS BIGINT) AS score_u
  FROM terms t JOIN qt USING (term)
  GROUP BY 1, 2
)
SELECT query_id, doc_id, score_u FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score_u DESC, doc_id) AS rk
  FROM scored)
WHERE rk <= 10
"""


@register("bm25_topk_batch_docs", _BM25_BATCH_SQL)
def q_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BM25 (operators/retrieval.py:bm25_topk_batch) — the
    lexical analog of `ann_ivf_topk_batch`: a 3-query table scored in
    ONE corpus pass (posting filter = semi-join against the broadcast
    term union; df/tf computed once, fanned out per query through a
    broadcast (query_id, term) join), per-query top-10 by window.
    Same int64 micro-scores as `bm25_topk_docs`."""
    from cybersecurity_miw_spark.operators import retrieval

    docs = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        [
            (0, ["table", "join"]),
            (1, ["window", "filter"]),
            (2, ["table", "select", "rows"]),
        ],
        "query_id long, terms array<string>",
    )
    return retrieval.bm25_topk_batch(docs, queries, k=10)


# Two-stage retrieve -> rerank (r12): BM25 pool + pluggable
# cross-encoder rerank. The registered "fake" scorer is
# integer-exact BY DESIGN (overlap·2³² + md5-prefix — <2⁵³ so the
# double is lossless), which is what lets a DuckDB twin exist for a
# "model" score; a real ONNX/torch scorer slots into SCORERS and is
# covered by the same plumbing (Arrow batches, per-batch local
# top-k).
_RERANK_SQL = """
WITH w AS (
  SELECT doc_id, str_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM documents
),
d AS (SELECT doc_id, len(ws) AS dl, ws FROM w),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
tok AS (SELECT doc_id, dl, unnest(ws) AS term FROM d),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM tok WHERE term IN ('table', 'join', 'window')
  GROUP BY 1, 2, 3
),
dft AS (SELECT term, count(*) AS dft FROM tf GROUP BY 1),
terms AS (
  SELECT tf.doc_id,
         CAST(floor(
           ln(1 + (stats.n_docs - dft.dft + 0.5) / (dft.dft + 0.5))
           * (tf.tf * 2.2
              / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))
           * 1000000.0 + 0.5) AS BIGINT) AS tu
  FROM tf JOIN dft USING (term) CROSS JOIN stats
),
lex AS (
  SELECT doc_id, CAST(sum(tu) AS BIGINT) AS score_u FROM terms GROUP BY 1
  ORDER BY score_u DESC, doc_id LIMIT 50
),
scored AS (
  SELECT p.doc_id, l.score_u,
         (len(list_intersect(
             list_distinct(str_split_regex(lower(trim(p.text)), '\\s+')),
             ['table', 'join', 'window'])) * 4294967296
          + ('0x' || substr(md5(p.text), 1, 8))::BIGINT)::DOUBLE
           AS rerank_score
  FROM documents p JOIN lex l ON p.doc_id = l.doc_id
)
SELECT doc_id, score_u, rerank_score
FROM scored ORDER BY rerank_score DESC, doc_id LIMIT 10
"""


@register("retrieve_rerank_topk_docs", _RERANK_SQL)
def q_retrieve_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval (operators/retrieval.py:retrieve_and_rerank):
    BM25 pool-50 in one posting-disciplined corpus pass, candidate
    text fetched by a pool-bounded semi-join, cross-encoder rerank to
    the top-10 inside mapInPandas (Arrow batches, per-batch local
    top-k). The fake scorer is integer-exact so the oracle recomputes
    it relationally; a real model scorer reuses the identical
    plumbing."""
    from cybersecurity_miw_spark.operators import retrieval

    docs = load_table(spark, sf_dir, "documents")
    return retrieval.retrieve_and_rerank(
        docs, ["table", "join", "window"], k=10, pool=50
    )


# Batched hybrid RRF (r12): bm25_topk_batch + ivf_topk_batch fused
# per query. Dense branch = the ann_ivf_topk_batch seed geometry
# (4 seed centroids, 2 probes, query vecs = embeddings 0..2); lex
# branch = the 3 VALUES term-sets above; fusion arithmetic identical
# to hybrid_rrf_topk_docs, per-query windows.
_HYBRID_BATCH_SQL = """
WITH q AS (
  SELECT * FROM (VALUES
    (0, ['table', 'join']),
    (1, ['window', 'filter']),
    (2, ['table', 'select', 'rows'])) AS t(query_id, terms)
),
qt AS (SELECT DISTINCT query_id, unnest(terms) AS term FROM q),
w AS (
  SELECT doc_id, str_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM documents
),
d AS (SELECT doc_id, len(ws) AS dl, ws FROM w),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
tok AS (SELECT doc_id, dl, unnest(ws) AS term FROM d),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM tok WHERE term IN (SELECT term FROM qt)
  GROUP BY 1, 2, 3
),
dft AS (SELECT term, count(*) AS dft FROM tf GROUP BY 1),
terms AS (
  SELECT tf.doc_id, tf.term,
         CAST(floor(
           ln(1 + (stats.n_docs - dft.dft + 0.5) / (dft.dft + 0.5))
           * (tf.tf * 2.2
              / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))
           * 1000000.0 + 0.5) AS BIGINT) AS tu
  FROM tf JOIN dft USING (term) CROSS JOIN stats
),
lex AS (
  SELECT query_id, doc_id, score_u FROM (
    SELECT s.*, row_number() OVER (
      PARTITION BY query_id ORDER BY score_u DESC, doc_id) AS rk
    FROM (
      SELECT qt.query_id, t.doc_id,
             CAST(sum(t.tu) AS BIGINT) AS score_u
      FROM terms t JOIN qt USING (term)
      GROUP BY 1, 2) s)
  WHERE rk <= 50
),
lex_r AS (
  SELECT query_id, doc_id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score_u DESC, doc_id
         ) AS lex_rank
  FROM lex
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id IN (0, 1, 2, 3)),
qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
probe AS (
  SELECT query_id, cell, qv FROM (
    SELECT q.query_id, c.cell, q.qv,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_sum(list_transform(list_zip(c.cv, q.qv),
                               z -> (z[1] - z[2]) * (z[1] - z[2]))),
                      c.cell) AS rn
    FROM cents c, qs q)
  WHERE rn <= 2
),
assign AS (
  SELECT e.vec_id, e.v,
         (SELECT c.cell FROM cents c
          ORDER BY list_sum(list_transform(list_zip(c.cv, e.v),
                            z -> (z[1] - z[2]) * (z[1] - z[2]))),
                   c.cell
          LIMIT 1) AS cell
  FROM e
),
dense AS (
  SELECT query_id, vec_id AS doc_id, cs FROM (
    SELECT p.query_id, a.vec_id,
           round(list_cosine_similarity(a.v, p.qv), 6) AS cs,
           row_number() OVER (
             PARTITION BY p.query_id
             ORDER BY round(list_cosine_similarity(a.v, p.qv), 6) DESC,
                      a.vec_id) AS rk
    FROM assign a JOIN probe p ON a.cell = p.cell)
  WHERE rk <= 50
),
dense_r AS (
  SELECT query_id, doc_id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY cs DESC, doc_id
         ) AS dense_rank
  FROM dense
),
fused AS (
  SELECT COALESCE(l.query_id, e.query_id) AS query_id,
         COALESCE(l.doc_id, e.doc_id) AS doc_id,
         CAST(COALESCE(l.lex_rank, 0) AS BIGINT) AS lex_rank,
         CAST(COALESCE(e.dense_rank, 0) AS BIGINT) AS dense_rank
  FROM lex_r l FULL OUTER JOIN dense_r e
    ON l.query_id = e.query_id AND l.doc_id = e.doc_id
),
rrf AS (
  SELECT query_id, doc_id, lex_rank, dense_rank,
         CAST(
           (CASE WHEN lex_rank > 0
                 THEN floor(1000000000.0 / (60 + lex_rank)) ELSE 0 END)
           + (CASE WHEN dense_rank > 0
                   THEN floor(1000000000.0 / (60 + dense_rank)) ELSE 0 END)
         AS BIGINT) AS rrf_u
  FROM fused
)
SELECT query_id, doc_id, lex_rank, dense_rank, rrf_u FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY rrf_u DESC, doc_id) AS rk
  FROM rrf)
WHERE rk <= 10
"""


@register("hybrid_rrf_batch_docs", _HYBRID_BATCH_SQL)
def q_hybrid_rrf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched hybrid retrieval
    (operators/retrieval.py:hybrid_rrf_topk_batch): a 3-query table
    through ONE BM25 corpus pass + ONE probe-pruned IVF index scan,
    fused per query by RRF — each branch's cost is independent of
    query count, per-query work is pool-bounded. Dense geometry =
    the `ann_ivf_topk_batch` seeds (4 centroids, 2 probes, query
    vectors = embedding rows 0..2)."""
    from cybersecurity_miw_spark.operators import retrieval

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    seed_rows = (
        emb.filter(F.col("vec_id") < 4)
        .orderBy("vec_id")
        .select(F.col("embedding").cast("array<double>"))
        .collect()
    )
    cents = [list(r[0]) for r in seed_rows]
    qvecs = {
        r["vec_id"]: list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < 3).collect()
    }
    term_sets = {
        0: ["table", "join"],
        1: ["window", "filter"],
        2: ["table", "select", "rows"],
    }
    queries = spark.createDataFrame(
        [(qid, term_sets[qid], qvecs[qid]) for qid in (0, 1, 2)],
        "query_id long, terms array<string>, query_vec array<double>",
    )
    return retrieval.hybrid_rrf_topk_batch(
        docs, emb, queries, cents, k=10, pool=50, n_probes=2
    )


# The IVF SEARCH path (assign → probe → exact rerank) is oracled with
# deterministic seed centroids (= the embedding rows vec_id 0..3, exact
# data vectors a SQL twin can reference directly). k-means-trained
# centroids stay out of the oracle on purpose: their component means are
# IEEE sums whose partition order Spark does not fix, so no cross-engine
# twin can be bit-stable — training is covered by the recall goldens in
# tests/test_llm_ops.py instead. DuckDB's list_sum folds
# sequentially like F.aggregate, so the L2 fold below is bit-identical.
_IVF_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id IN (0, 1, 2, 3)),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
probe AS (
  SELECT c.cell FROM cents c, q
  ORDER BY list_sum(list_transform(list_zip(c.cv, q.qv),
                                   z -> (z[1] - z[2]) * (z[1] - z[2]))),
           c.cell
  LIMIT 2
),
assign AS (
  SELECT e.vec_id, e.v,
         (SELECT c.cell FROM cents c
          ORDER BY list_sum(list_transform(list_zip(c.cv, e.v),
                                           z -> (z[1] - z[2]) * (z[1] - z[2]))),
                   c.cell
          LIMIT 1) AS cell
  FROM e
)
SELECT a.vec_id, round(list_cosine_similarity(a.v, q.qv), 6) AS cos_sim
FROM assign a, q
WHERE a.cell IN (SELECT cell FROM probe)
ORDER BY cos_sim DESC, a.vec_id
LIMIT 10
"""


_IVF_BATCH_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id IN (0, 1, 2, 3)),
qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
probe AS (
  SELECT query_id, cell, qv FROM (
    SELECT q.query_id, c.cell, q.qv,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_sum(list_transform(list_zip(c.cv, q.qv),
                               z -> (z[1] - z[2]) * (z[1] - z[2]))),
                      c.cell) AS rn
    FROM cents c, qs q)
  WHERE rn <= 2
),
assign AS (
  SELECT e.vec_id, e.v,
         (SELECT c.cell FROM cents c
          ORDER BY list_sum(list_transform(list_zip(c.cv, e.v),
                            z -> (z[1] - z[2]) * (z[1] - z[2]))),
                   c.cell
          LIMIT 1) AS cell
  FROM e
),
scored AS (
  SELECT p.query_id, a.vec_id,
         round(list_cosine_similarity(a.v, p.qv), 6) AS cos_sim
  FROM assign a JOIN probe p ON a.cell = p.cell
)
SELECT query_id, vec_id, cos_sim FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
  FROM scored)
WHERE rk <= 5
"""


_KNN_GRAPH_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id IN (0, 1, 2, 3)),
probe AS (
  SELECT query_id, cell, qv FROM (
    SELECT q.vec_id AS query_id, c.cell, q.v AS qv,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_sum(list_transform(list_zip(c.cv, q.v),
                               z -> (z[1] - z[2]) * (z[1] - z[2]))),
                      c.cell) AS rn
    FROM cents c, e q)
  WHERE rn <= 2
),
assign AS (
  SELECT e.vec_id, e.v,
         (SELECT c.cell FROM cents c
          ORDER BY list_sum(list_transform(list_zip(c.cv, e.v),
                            z -> (z[1] - z[2]) * (z[1] - z[2]))),
                   c.cell
          LIMIT 1) AS cell
  FROM e
),
scored AS (
  SELECT p.query_id, a.vec_id,
         round(list_cosine_similarity(a.v, p.qv), 6) AS cos_sim
  FROM assign a JOIN probe p ON a.cell = p.cell
  WHERE p.query_id <> a.vec_id
)
SELECT query_id AS src, vec_id AS dst, cos_sim FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
  FROM scored)
WHERE rk <= 3
"""


@register("knn_graph_edges", _KNN_GRAPH_SQL)
def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN graph over the whole embedding table
    (operators/similarity.py:knn_graph): every row is query AND
    candidate — ivf_topk_batch(df, df) with self-pairs excluded
    BEFORE the per-src rank, so each node gets 3 true neighbors. Same
    4 seed centroids / 2 probes / folds as `ann_ivf_topk_batch`; the
    oracle recomputes assignment, probe ranking, and per-src top-3
    relationally with the identical self-exclusion."""
    emb = load_table(spark, sf_dir, "embeddings")
    seed_rows = (
        emb.filter(F.col("vec_id") < 4)
        .orderBy("vec_id")
        .select(F.col("embedding").cast("array<double>"))
        .collect()
    )
    cents = [list(r[0]) for r in seed_rows]
    return similarity.knn_graph(emb, cents, k=3, n_probes=2)


_HARD_NEG_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id IN (0, 1, 2, 3)),
qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
pos (query_id, vec_id) AS (
  VALUES (0, 0), (0, 2), (1, 2), (1, 4), (2, 4), (2, 6)
),
probe AS (
  SELECT query_id, cell, qv FROM (
    SELECT q.query_id, c.cell, q.qv,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_sum(list_transform(list_zip(c.cv, q.qv),
                               z -> (z[1] - z[2]) * (z[1] - z[2]))),
                      c.cell) AS rn
    FROM cents c, qs q)
  WHERE rn <= 2
),
assign AS (
  SELECT e.vec_id, e.v,
         (SELECT c.cell FROM cents c
          ORDER BY list_sum(list_transform(list_zip(c.cv, e.v),
                            z -> (z[1] - z[2]) * (z[1] - z[2]))),
                   c.cell
          LIMIT 1) AS cell
  FROM e
),
scored AS (
  SELECT p.query_id, a.vec_id,
         round(list_cosine_similarity(a.v, p.qv), 6) AS cos_sim
  FROM assign a JOIN probe p ON a.cell = p.cell
  WHERE p.query_id <> a.vec_id
    AND NOT EXISTS (SELECT 1 FROM pos
                    WHERE pos.query_id = p.query_id
                      AND pos.vec_id = a.vec_id)
)
SELECT query_id, vec_id, cos_sim FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
  FROM scored)
WHERE rk <= 5
"""


@register("hard_negatives_topk", _HARD_NEG_SQL)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.py:
    mine_hard_negatives): per-query top-5 highest-cosine corpus rows
    EXCLUDING the query's known positives (a literal relevance table
    shared by both engines) and the query itself — exclusion before
    the rank, so every query gets 5 true negatives. Same seed
    geometry as `ann_ivf_topk_batch`."""
    emb = load_table(spark, sf_dir, "embeddings")
    seed_rows = (
        emb.filter(F.col("vec_id") < 4)
        .orderBy("vec_id")
        .select(F.col("embedding").cast("array<double>"))
        .collect()
    )
    cents = [list(r[0]) for r in seed_rows]
    queries = emb.filter(F.col("vec_id") < 3)
    positives = spark.createDataFrame(
        [(0, 0), (0, 2), (1, 2), (1, 4), (2, 4), (2, 6)],
        "query_id long, vec_id long",
    )
    return similarity.mine_hard_negatives(
        emb, queries, positives, cents, k=5, n_probes=2
    )


@register("ann_ivf_topk_batch", _IVF_BATCH_SQL)
def q_ann_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IVF ANN (operators/similarity.py:ivf_topk_batch): one
    pass serves a 3-query table — per-query probe cells ranked on the
    queries × centroids grid, the probe table broadcast into a single
    ``_cell`` equi-join, per-query top-5. Same 4 seed centroids and
    folds as `ann_ivf_topk`, so the oracle recomputes everything
    relationally."""
    emb = load_table(spark, sf_dir, "embeddings")
    seed_rows = (
        emb.filter(F.col("vec_id") < 4)
        .orderBy("vec_id")
        .select(F.col("embedding").cast("array<double>"))
        .collect()
    )
    cents = [list(r[0]) for r in seed_rows]
    queries = emb.filter(F.col("vec_id") < 3)
    return similarity.ivf_topk_batch(
        emb, queries, cents, k=5, n_probes=2
    )


@register("ann_ivf_topk", _IVF_SQL)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantization ANN: assign every vector to its nearest
    of 4 seed centroids (L2 argmin, tie-break lowest cell), then search
    only the 2 cells nearest the query (multi-probe,
    operators/similarity.py:ivf_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    seed_rows = (
        emb.filter(F.col("vec_id") < 4)
        .orderBy("vec_id")
        .select(F.col("embedding").cast("array<double>"))
        .collect()
    )
    cents = [list(r[0]) for r in seed_rows]
    qvec = list(emb.filter(F.col("vec_id") == 0).select("embedding").head()[0])
    return similarity.ivf_topk(emb, cents, qvec, k=10, n_probes=2)


# ---------------------------------------------------------------------------
# multimodal plumbing: binary payload metadata + mapInPandas features
# ---------------------------------------------------------------------------

_MEDIA_STATS_SQL = """
SELECT 'image' AS kind,
       count(*) AS n_media,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       CAST((sum(octet_length(encode(text))) * 200 + count(*))
            // (2 * count(*)) AS BIGINT) AS avg_bytes_x100,
       max(octet_length(encode(text))) AS max_bytes
FROM documents
"""


@register("multimodal_media_stats", _MEDIA_STATS_SQL)
def q_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar metadata aggregation over binary media rows — the scan
    prunes the payload column entirely (operators/multimodal.py).

    ``avg_bytes_x100`` is the mean scaled to an exact integer
    (round-half-up in pure int64 arithmetic: (200·total + n) div 2n)
    so the cross-engine value hash never depends on an IEEE division."""
    from cybersecurity_miw_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    agg = media.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.max("n_bytes").alias("max_bytes"),
    )
    return agg.select(
        "kind",
        "n_media",
        "total_bytes",
        F.expr(
            "CAST((total_bytes * 200 + n_media) DIV (2 * n_media) AS BIGINT)"
        ).alias("avg_bytes_x100"),
        "max_bytes",
    )


# The fake decoder reads byte (f*dim+d) mod n of the payload; document
# text is ASCII in the synthetic tables, so ord(substr(...)) rebuilds
# the identical bytes in SQL — a true oracle over the Python
# mapInPandas plumbing (batch shape, schema, frame explosion).
_FRAME_FEATURES_SQL = """
SELECT doc_id AS media_id, fr.f AS frame_no,
       round(list_sum(
         [CASE WHEN strlen(text) = 0 THEN 0.0
               ELSE ord(substr(text,
                        ((fr.f * 4 + d) % greatest(strlen(text), 1)) + 1,
                        1)) / 255.0 END
          FOR d IN generate_series(0, 3)]), 6) AS feat_sum
FROM documents, (SELECT unnest(generate_series(0, 1)) AS f) fr
"""


@register("multimodal_frame_features", _FRAME_FEATURES_SQL)
def q_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction (deterministic fake
    decoder — the real decoder drops into DECODERS); the oracle
    recomputes the byte-derived features in SQL."""
    from cybersecurity_miw_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    feats = multimodal.extract_features(media, frames=2, dim=4)
    return feats.select(
        "media_id",
        "frame_no",
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x), 6).alias(
            "feat_sum"
        ),
    )


# Chained multimodal → similarity: cosine top-10 frames nearest the
# first frame of media 0 — media bytes to ANN in one lazy plan
# (decode features via mapInPandas, score JVM-side, TakeOrdered).
# The oracle rebuilds the byte-derived features AND the cosine in
# SQL end-to-end.
_FRAME_ANN_SQL = """
WITH feats AS (
  SELECT doc_id AS media_id, fr.f AS frame_no,
         [CASE WHEN strlen(text) = 0 THEN 0.0
               ELSE ord(substr(text,
                        ((fr.f * 4 + d) % greatest(strlen(text), 1)) + 1,
                        1)) / 255.0 END
          FOR d IN generate_series(0, 3)] AS feature
  FROM documents, (SELECT unnest(generate_series(0, 1)) AS f) fr
),
q AS (SELECT feature AS qv FROM feats
      WHERE media_id = 0 AND frame_no = 0)
SELECT media_id, frame_no,
       round(list_cosine_similarity(feature, (SELECT qv FROM q)), 6)
         AS cos_sim
FROM feats
WHERE list_sum([x * x FOR x IN feature]) > 0
ORDER BY cos_sim DESC, media_id ASC, frame_no ASC
LIMIT 10
"""


@register("frame_feature_ann_topk", _FRAME_ANN_SQL)
def q_frame_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal bytes → frame features (Arrow mapInPandas, fake
    decoder) → JVM cosine → TakeOrdered(10): the media-similarity
    pipeline as ONE lazy plan, no intermediate materialization."""
    from cybersecurity_miw_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    feats = multimodal.extract_features(media, frames=2, dim=4)
    # probe vector: decode ONLY the probe document (media_id ==
    # doc_id, so the filter pushes below the mapInPandas decode to
    # the parquet scan) — the head job reads one doc, not the probe
    # document's whole partition, and the main plan keeps its single
    # decode subtree (VERDICT r7 #5). The 4-float result rides along
    # as a literal.
    qvec = (
        multimodal.extract_features(
            multimodal.documents_as_media(docs.where(F.col("doc_id") == 0)),
            frames=2,
            dim=4,
        )
        .filter(F.col("frame_no") == 0)
        .select("feature")
        .head()[0]
    )
    f = F.col("feature")
    dot = F.aggregate(
        F.zip_with(f, F.array(*[F.lit(float(x)) for x in qvec]),
                   lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n2 = F.aggregate(f, F.lit(0.0), lambda acc, x: acc + x * x)
    qn = sum(float(x) * float(x) for x in qvec) ** 0.5
    return (
        feats.where(n2 > 0)
        .select(
            "media_id",
            "frame_no",
            F.round(dot / (F.sqrt(n2) * F.lit(qn)), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("media_id"), F.asc("frame_no"))
        .limit(10)
    )


# Perceptual-hash (aHash) near-dup over opaque binary payloads — the
# non-embedding multimodal dedup family (r13). The hash is integer
# byte arithmetic end to end (sample 60 evenly-spaced bytes, threshold
# against the integer mean, pack bits), so the oracle rebuilds the
# identical 60-bit fingerprint from the ASCII document text the media
# payload was encoded from — the multimodal_frame_features recipe.

_PHASH_FP_CTE = """
WITH m AS (
  SELECT doc_id AS media_id, octet_length(encode(text)) AS n, text
  FROM documents
),
s AS (
  SELECT media_id,
         [CASE WHEN n = 0 THEN 0
               ELSE ord(substr(text, ((i * n) // 60) + 1, 1)) END
          FOR i IN generate_series(0, 59)] AS smp
  FROM m
),
t AS (SELECT media_id, smp, list_sum(smp) AS tot FROM s)
SELECT media_id,
       CAST(coalesce(list_sum(
         [CASE WHEN 60 * smp[i+1] > tot THEN (1::BIGINT << i)
               ELSE 0::BIGINT END
          FOR i IN generate_series(0, 59)]), 0) AS BIGINT) AS phash
FROM t
"""

_PHASH_FP_SQL = _PHASH_FP_CTE

_PHASH_BAND_SQL = f"""
WITH fp AS ({_PHASH_FP_CTE}),
banded AS (
  SELECT media_id, b.b AS band, (phash >> (b.b * 15)) & 32767 AS val
  FROM fp, (SELECT unnest(generate_series(0, 3)) AS b) b
)
SELECT DISTINCT a.media_id AS id_a, c.media_id AS id_b
FROM banded a JOIN banded c
  ON a.band = c.band AND a.val = c.val AND a.media_id < c.media_id
"""

_INC_PHASH_SQL = f"""
WITH fp AS ({_PHASH_FP_CTE}),
banded AS (
  SELECT media_id, b.b AS band, (phash >> (b.b * 15)) & 32767 AS val
  FROM fp, (SELECT unnest(generate_series(0, 3)) AS b) b
)
SELECT DISTINCT a.media_id AS new_id, c.media_id AS stored_id
FROM banded a JOIN banded c
  ON a.band = c.band AND a.val = c.val
WHERE a.media_id % 5 = 0 AND c.media_id % 5 <> 0
"""


@register("phash_fingerprints", _PHASH_FP_SQL)
def q_phash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit aHash perceptual fingerprint of each media payload
    (operators/multimodal.py:with_phash): 60 evenly-sampled bytes,
    bit i set when 60·sample_i exceeds the sample sum — integer-exact
    in both engines. One JVM projection per asset, no shuffle."""
    from cybersecurity_miw_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.with_phash(multimodal.documents_as_media(docs))


@register("phash_band_candidates", _PHASH_BAND_SQL)
def q_phash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup media candidates: payloads sharing any of
    the 4 15-bit Hamming bands of their aHash (multimodal.py:
    phash_dedup_candidates — any pair within Hamming distance 3
    shares a band by pigeonhole). The pair stage shuffles on the
    uniform (band, val) key, never all-pairs."""
    from cybersecurity_miw_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.phash_dedup_candidates(
        multimodal.documents_as_media(docs)
    )


@register("incremental_phash_vs_store", _INC_PHASH_SQL)
def q_incremental_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup candidates of an incoming media batch
    against the PERSISTED phash band index (multimodal.py:
    phash_band_store / incremental_phash_candidates) — history
    participates through 4 small int rows per asset, payload bytes
    never rescanned. Same %5 batch/history split as the other
    incremental-store oracles."""
    from cybersecurity_miw_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents", widen=True)
    media = multimodal.documents_as_media(docs)
    history = media.where(F.col("media_id") % 5 != 0)
    batch = media.where(F.col("media_id") % 5 == 0)
    store = multimodal.phash_band_store(history)
    return multimodal.incremental_phash_candidates(batch, store)


# ---------------------------------------------------------------------------
# P16 appname key suffix, A3 count, A12 first-value, A10 ratio over a
# count-aggregated operand, F2 AND-contains-all multi-value match,
# S16 raw-line retention, evtx from_kv dynamic grouping
# ---------------------------------------------------------------------------


@register(
    "appname_id_suffix",
    "SELECT event_type AS etype, count(*) AS logs, "
    "event_type || '_myapp' AS id FROM events GROUP BY 1",
)
def q_appname(spark: SparkSession, sf_dir: str) -> DataFrame:
    ldef = _ldef(
        "appsum",
        [{"name": "etype", "pos": 4, "type": "string", "key": True}],
        appname="myapp",
    )
    out = compile_pipeline(events_lines(spark, sf_dir), ldef)
    return out.select("etype", "logs", "id")


@register(
    "agg_count_a3",
    "SELECT event_type AS etype, count(*) AS logs, "
    "count(value) AS vcount_count, event_type AS id FROM events GROUP BY 1",
)
def q_count_a3(spark: SparkSession, sf_dir: str) -> DataFrame:
    ldef = _ldef(
        "cnt",
        [
            {"name": "etype", "pos": 4, "type": "string", "key": True},
            {"name": "vcount", "pos": 5, "type": "float",
             "aggregated": True, "aggregation": "count"},
        ],
    )
    return compile_pipeline(events_lines(spark, sf_dir), ldef).select(
        "etype", "logs", "vcount_count", "id"
    )


@register(
    "agg_first_a12",
    # the tokenizer strips '"' from every token (miw/log_format.cc:272-275)
    "SELECT event_type AS etype, min(replace(props, '\"', '')) AS uprops "
    "FROM events GROUP BY 1",
)
def q_first_a12(spark: SparkSession, sf_dir: str) -> DataFrame:
    ldef = _ldef(
        "first",
        [
            {"name": "etype", "pos": 4, "type": "string", "key": True},
            {"name": "uprops", "pos": 6, "type": "string"},
        ],
    )
    return compile_pipeline(events_lines(spark, sf_dir), ldef).select(
        "etype", "uprops"
    )


@register(
    "ratio_over_count_operand",
    "SELECT event_type AS etype, "
    "CASE WHEN count(value) = 0 THEN 0.0 ELSE "
    "CAST(sum(CASE WHEN event_type LIKE '%error%' THEN 1 ELSE 0 END) AS DOUBLE)"
    " / count(value) END AS err_rate "
    "FROM events GROUP BY 1",
)
def q_ratio_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression for ratio operands resolving a count-aggregated
    field's output alias (ADVICE r1, operators/aggregate.py:190-196)."""
    ldef = _ldef(
        "ratio_cnt",
        [
            {"name": "etype", "pos": 4, "type": "string", "key": True},
            {"name": "errs", "pos": 4, "type": "int",
             "filter": "error", "filter_type": "contain"},
            {"name": "cnt", "pos": 5, "type": "float",
             "aggregated": True, "aggregation": "count"},
            {"name": "err_rate", "type": "float", "aggregated": True,
             "aggregation": "ratio", "numerator": "errs",
             "denominator": "cnt"},
        ],
    )
    return compile_pipeline(events_lines(spark, sf_dir), ldef).select(
        "etype", "err_rate"
    )


_MATCH_RO = str(Path(__file__).resolve().parents[1] / "tests" / "fixtures" / "match_ro.txt")


@register(
    "match_and_contains_all",
    "SELECT event_id, event_type AS etype FROM events "
    "WHERE event_type LIKE '%r%' AND event_type LIKE '%o%'",
)
def q_match_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positive AND-logic multi-value substring match: the token must
    contain EVERY value of the match set (ADVICE r1 —
    functions/strings.py contains_all, miw/log_format.cc:341-353)."""
    ldef = _ldef(
        "matchall",
        [
            {"name": "event_id", "pos": 0, "type": "int"},
            {"name": "etype", "pos": 4, "type": "string",
             "match": {"match_file": _MATCH_RO, "logic": "and"}},
        ],
    )
    return parse(events_lines(spark, sf_dir), ldef).select("event_id", "etype")


@register(
    "raw_content_retention",
    "SELECT event_type AS etype, count(*) AS logs, "
    "array_to_string(list_sort(list(CAST(event_id AS VARCHAR) || ',' || "
    "event_type || ',' || props)), '|') AS content "
    "FROM events GROUP BY 1",
)
def q_store_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """-store_content raw-line retention (S16): group keeps its source
    lines (sorted for determinism; the reference keeps arrival order,
    miw/log_record.cc:304-310)."""
    ev = load_events(spark, sf_dir)
    lines = ev.select(
        F.concat_ws(
            ",", F.col("event_id").cast("string"), F.col("event_type"),
            F.col("props"),
        ).alias("value")
    )
    ldef = _ldef(
        "raw", [{"name": "etype", "pos": 1, "type": "string", "key": True}]
    )
    rows = parse(lines, ldef, keep_raw=True)
    return rows.groupBy("etype").agg(
        F.count(F.lit(1)).alias("logs"),
        F.concat_ws("|", F.sort_array(F.collect_list("_raw"))).alias("content"),
    )


@register(
    "evtx_kv_dynamic_group",
    "SELECT CAST(user_id AS VARCHAR) AS user, count(*) AS logs, "
    "CAST(user_id AS VARCHAR) AS id FROM events GROUP BY 1",
)
def q_evtx_kv_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic k/v field declared via from_kv used as the GROUP KEY
    (miw/log_format.cc:570-576 dynamic schema extension)."""
    ev = load_events(spark, sf_dir)
    payload = F.concat(
        F.lit("p-> user="),
        F.col("user_id").cast("string"),
        F.lit(" type="),
        F.col("event_type"),
    )
    lines = ev.select(
        F.concat_ws(",", F.col("event_id").cast("string"), payload).alias("value")
    )
    ldef = _ldef(
        "evtx_kv",
        [
            {"name": "event_id", "pos": 0, "type": "int"},
            {"name": "payload", "pos": 1, "type": "string",
             "preprocessing": "evtxcsv"},
            {"name": "user", "from_kv": "payload", "type": "string",
             "key": True},
        ],
    )
    return compile_pipeline(lines, ldef, expand_kv=False).select(
        "user", "logs", "id"
    )


# ---------------------------------------------------------------------------
# companion apps (§2.8): hist, linear regression, string match
# ---------------------------------------------------------------------------


@register(
    "app_hist_256",
    "SELECT CAST(least(greatest(floor(value / 2.0), 0), 255) AS INT) AS bucket, "
    "count(*) AS n FROM events GROUP BY 1",
)
def q_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """app/hist.cc equivalent: 256-bucket equi-width histogram (width
    2.0 — a power of two, so the division is exact in both engines)."""
    ev = load_events(spark, sf_dir)
    return apps.histogram(ev, "value", n_buckets=256, lo=0.0, hi=512.0)


def _wrap64(expr: str) -> str:
    """Reduce a DuckDB HUGEINT aggregate to int64 with two's-complement
    wrap-around — the semantics of Spark's non-ANSI ``sum(long)``. A
    bare CAST(... AS BIGINT) errors once the HUGEINT sum passes 2^63
    (possible for syy at sf >= 0.1); the modular form stays valid until
    the HUGEINT itself overflows (~1.7e38, unreachable here)."""
    return (
        f"CAST(((({expr}) % 18446744073709551616"
        f" + 18446744073709551616 + 9223372036854775808)"
        f" % 18446744073709551616) - 9223372036854775808 AS BIGINT)"
    )


_LINREG_SQL = f"""
SELECT n, sx, sy, sxx, syy, sxy,
       CAST(floor(slope * 1000000 + 0.5) AS BIGINT) AS slope_x1e6,
       CAST(floor((sy::DOUBLE - slope * sx::DOUBLE) / n::DOUBLE * 1000000
                  + 0.5) AS BIGINT) AS intercept_x1e6
FROM (
  SELECT n, sx, sy, sxx, syy, sxy,
         (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
           / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) AS slope
  FROM (
    SELECT count(*) AS n,
           {_wrap64("sum(x)")} AS sx, {_wrap64("sum(y)")} AS sy,
           {_wrap64("sum(x * x)")} AS sxx,
           {_wrap64("sum(y * y)")} AS syy,
           {_wrap64("sum(x * y)")} AS sxy
    FROM (SELECT user_id AS x,
                 CAST(round(value * 100, 0) AS BIGINT) AS y FROM events)
  )
)
"""


@register("app_linear_regression", _LINREG_SQL)
def q_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """app/linear_regression.cc equivalent over (user_id, value-cents):
    exact integer moment sums; slope/intercept emitted as micro-scaled
    integers (floor(x·1e6 + 0.5)) because compiler FMA contraction can
    flip the last bit of the raw double division across engines."""
    ev = load_events(spark, sf_dir).select(
        F.col("user_id").alias("x"),
        F.round(F.col("value") * 100, 0).cast("long").alias("y"),
    )
    fit = apps.linreg_fit(ev, "x", "y")
    return fit.select(
        "n",
        "sx",
        "sy",
        "sxx",
        "syy",
        "sxy",
        F.floor(F.col("slope") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("slope_x1e6"),
        F.floor(F.col("intercept") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("intercept_x1e6"),
    )


_WR_SQL = """
SELECT word,
       array_to_string(list_sort(list(doc_id * 1048576 + pos)), '|')
         AS postings,
       CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT doc_id, unnest(l) AS word, unnest(idx) AS pos
  FROM (
    SELECT doc_id, l, range(0, len(l)) AS idx
    FROM (SELECT doc_id, str_split_regex(trim(text), '\\s+') AS l
          FROM documents)
  )
)
GROUP BY word
"""


@register("app_word_reverse_index", _WR_SQL)
def q_word_reverse_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """app/wr.cc equivalent: inverted index word → sorted postings
    (doc_id·2²⁰ + token position) + occurrence count. The postings
    array is serialized to a '|'-joined string for the driver's
    value hash (pandas can't hash list cells) — same technique as
    agg_union_sorted."""
    docs = load_table(spark, sf_dir, "documents")
    wr = apps.word_reverse_index(docs)
    return wr.select(
        "word",
        F.array_join(F.col("postings").cast("array<string>"), "|").alias(
            "postings"
        ),
        "n",
    )


@register(
    "app_string_match",
    "SELECT CAST(sum(CASE WHEN text LIKE '%the%' THEN 1 ELSE 0 END) AS BIGINT)"
    " AS matches FROM documents",
)
def q_string_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return apps.string_match_count(docs, "text", "the")


_MATMUL_SQL = """
WITH m AS (
  SELECT event_id // 32 AS r, event_id % 32 AS s,
         user_id % 97 AS a, (user_id + event_id) % 89 AS b
  FROM events WHERE event_id < 1024
)
SELECT A.r AS i, B.s AS j, CAST(sum(A.a * B.b) AS BIGINT) AS c
FROM m A JOIN m B ON A.s = B.r
GROUP BY 1, 2
"""


@register("app_matrix_mult", _MATMUL_SQL)
def q_matrix_mult(spark: SparkSession, sf_dir: str) -> DataFrame:
    """app/matrix_mult.cc equivalent: C = A·B for two 32×32 int
    matrices derived deterministically from the events table (the
    reference fills its matrices with rand(); a cross-engine oracle
    needs reproducible cells, so cell (r,s) of A is user_id % 97 and
    of B is (user_id + event_id) % 89 for event_id = 32r + s). The
    plan is the distributed cell matmul of operators/apps.py —
    shuffle-join on the inner dimension, map-side partial products."""
    ev = (
        load_table(spark, sf_dir, "events", widen=False)
        .filter(F.col("event_id") < 1024)
        .select("event_id", "user_id")
    )
    a_cells = ev.select(
        F.expr("event_id div 32").alias("i"),
        (F.col("event_id") % 32).alias("k"),
        (F.col("user_id") % 97).alias("a"),
    )
    b_cells = ev.select(
        F.expr("event_id div 32").alias("k"),
        (F.col("event_id") % 32).alias("j"),
        ((F.col("user_id") + F.col("event_id")) % 89).alias("b"),
    )
    return apps.matrix_multiply(a_cells, b_cells)


@register("app_matrix_mult_blocked", _MATMUL_SQL)
def q_matrix_mult_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """app/matrix_mult2.cc equivalent: the SAME 32×32 deterministic
    matrices as app_matrix_mult, multiplied block-partitioned (L=8) —
    the tiled formulation the reference ships for cache locality,
    re-expressed as block-granular shuffle (operators/apps.py
    matrix_multiply_blocked). Same oracle SQL: blocked and cell paths
    must agree cell-for-cell on dense input."""
    ev = (
        load_table(spark, sf_dir, "events", widen=False)
        .filter(F.col("event_id") < 1024)
        .select("event_id", "user_id")
    )
    a_cells = ev.select(
        F.expr("event_id div 32").alias("i"),
        (F.col("event_id") % 32).alias("k"),
        (F.col("user_id") % 97).alias("a"),
    )
    b_cells = ev.select(
        F.expr("event_id div 32").alias("k"),
        (F.col("event_id") % 32).alias("j"),
        ((F.col("user_id") + F.col("event_id")) % 89).alias("b"),
    )
    return apps.matrix_multiply_blocked(a_cells, b_cells, block=8)


_PCA_SQL = """
WITH q AS (
  SELECT vec_id AS i,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * 1000) AS BIGINT) + 1000) AS v
  FROM embeddings WHERE vec_id < 128
),
stats AS (
  SELECT i, CAST(list_sum(v) AS BIGINT) AS rowsum,
         CAST(list_sum(v) // 64 AS BIGINT) AS mean
  FROM q
),
pairs AS (
  SELECT a.i AS row_i, b.i AS row_j,
         CAST(list_sum(list_transform(list_zip(a.v, b.v),
                                      z -> z[1] * z[2])) AS BIGINT) AS dot
  FROM q a JOIN q b ON a.i <= b.i
),
nums AS (
  SELECT p.row_i, p.row_j, sa.mean AS mean_i, sb.mean AS mean_j,
         p.dot - sb.mean * sa.rowsum - sa.mean * sb.rowsum
               + 64 * sa.mean * sb.mean AS num
  FROM pairs p
  JOIN stats sa ON p.row_i = sa.i
  JOIN stats sb ON p.row_j = sb.i
)
SELECT row_i, row_j, mean_i, mean_j,
       CAST(sign(num) AS BIGINT)
         * CAST(floor(abs(num) / ((SELECT count(*) FROM q) - 1))
                AS BIGINT) AS cov
FROM nums
"""


@register("app_pca_covariance", _PCA_SQL)
def q_pca_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """app/pca.cc equivalent: per-row integer means and the upper-
    triangle row-pair covariance matrix of a quantized int matrix
    (embeddings ×1000, shifted non-negative; rows capped at 128 the
    way the reference caps matrix_len). The reference's eigen step
    happens after the MR phase ends and is not part of the parallel
    job — the covariance matrix IS the app's distributed output."""
    emb = load_table(spark, sf_dir, "embeddings", widen=False).filter(
        F.col("vec_id") < 128
    )
    cells = emb.select(
        F.col("vec_id").alias("i"),
        F.posexplode(
            F.expr(
                "transform(cast(embedding as array<double>), "
                "x -> cast(floor(x * 1000) as bigint) + 1000)"
            )
        ).alias("k", "q"),
    )
    return apps.row_covariance(cells, n_cols=64)


_KMEANS_SQL = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * 1000) AS BIGINT) + 1000) AS v
  FROM embeddings
),
cents AS (SELECT vec_id AS cell, v AS cv FROM q WHERE vec_id IN (0, 1, 2, 3)),
assign AS (
  SELECT q.vec_id, q.v,
         (SELECT c.cell FROM cents c
          ORDER BY list_sum(list_transform(list_zip(c.cv, q.v),
                                           z -> (z[1]-z[2])*(z[1]-z[2]))),
                   c.cell
          LIMIT 1) AS cell
  FROM q
)
SELECT cell, t.dim - 1 AS dim, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(v[t.dim]) // count(*) AS BIGINT) AS mean
FROM assign CROSS JOIN range(1, 65) t(dim)
GROUP BY 1, 2
"""


@register("app_kmeans_step", _KMEANS_SQL)
def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """app/kmeans.cc single Lloyd iteration over the quantized int
    embeddings: exact integer squared-L2 assignment to the 4 seed
    centroids (rows vec_id 0–3; ties to the lowest index, matching
    the reference's strict-< scan) and the integer-division mean
    update. The full until-converged loop (kmeans.cc:268-290) is
    apps.kmeans_train_int — iterative, oracled per-step here and by
    convergence goldens in the test suite."""
    emb = load_table(spark, sf_dir, "embeddings", widen=False)
    pts = emb.select(
        "vec_id",
        F.expr(
            "transform(cast(embedding as array<double>), "
            "x -> cast(floor(x * 1000) as bigint) + 1000)"
        ).alias("q"),
    )
    seeds = (
        pts.filter(F.col("vec_id") < 4).orderBy("vec_id").select("q").collect()
    )
    cents = [list(r[0]) for r in seeds]
    return apps.kmeans_step(pts, cents)


# ---------------------------------------------------------------------------
# plain relational summary (TPC-H Q1 pricing-summary shape) — engine
# sanity + the bench's scale workload
# ---------------------------------------------------------------------------

_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       CAST(round(sum(l_extendedprice) * 100, 0) AS BIGINT) AS sum_base_price_c,
       CAST(round(sum(l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT) AS sum_disc_price_c4,
       sum(l_quantity) / count(*) AS avg_qty,
       CAST(round(sum(l_discount) * 100, 0) AS BIGINT) AS sum_disc_c,
       count(*) AS count_order
FROM lineitem
GROUP BY 1, 2
"""


@register("tpch_q1_pricing_summary", _Q1_SQL)
def q_tpch1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: one map-side-combined aggregation
    over lineitem; money measures cents-scaled to integers for the
    cross-engine hash."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.round(F.sum("l_extendedprice") * 100, 0)
        .cast("long")
        .alias("sum_base_price_c"),
        F.round(
            F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
            * 10000,
            0,
        )
        .cast("long")
        .alias("sum_disc_price_c4"),
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
        F.round(F.sum("l_discount") * 100, 0).cast("long").alias("sum_disc_c"),
        F.count(F.lit(1)).alias("count_order"),
    )


# Broadcast-hint policy for the TPC-H suite (SCALE.md r8/r9 demotion
# notes): an explicit user hint NEVER demotes — AQE does not override
# it — so hinting any sf-SCALED relation (customer 150k×sf, part
# 200k×sf, supplier 10k×sf, or any filter-derived subset of them) is
# a guaranteed OOM at a large enough scale factor. Hints are reserved
# for relations whose row count is bounded INDEPENDENT of sf
# (nation 25, region 5, 1-row scalar aggregates). maybe_broadcast
# makes that contract explicit at each call site: pass the
# scale-independent bound to hint, pass nothing for an sf-scaled
# relation and the hint is withheld — file statistics + AQE then pick
# broadcast at runtime whenever the side actually fits, and stop
# picking it when it no longer does.
#
# Audit convention (r10): every raw F.broadcast call site in the
# package carries a `# bcast-bound:` comment stating its
# sf-independent row bound (nation 25, region 5, 1-row scalar
# aggregates, #event_types domain tables, config/eval-set inputs,
# construction-bounded shortlists). `grep -rn bcast-bound` + this
# policy comment make the sweep mechanical; a raw F.broadcast WITHOUT
# a bcast-bound annotation is a review flag
# (tests/test_plan_shapes.py::test_broadcast_sites_annotated pins it).
BROADCAST_HINT_MAX_ROWS = 100_000


def maybe_broadcast(df: DataFrame, bounded_rows: int | None = None) -> DataFrame:
    """Size-gated broadcast hint: hint only when ``bounded_rows`` — a
    row bound that does NOT grow with scale factor — is given and
    under ``BROADCAST_HINT_MAX_ROWS``; otherwise return ``df``
    untouched so the optimizer owns the join-strategy decision."""
    if bounded_rows is not None and bounded_rows <= BROADCAST_HINT_MAX_ROWS:
        # bcast-bound: caller-declared sf-independent bound (gated above)
        return F.broadcast(df)
    return df


# TPC-H Q3 shape: selective dim filter -> two joins -> grouped revenue
# top-k. Exercises the join planner: the BUILDING-segment customer
# subset is still ~30k rows×sf, so it is NOT hinted (sf-scaled;
# stats/AQE broadcast it while it fits); orders⋈lineitem shuffles
# once on orderkey. Revenue scaled to an integer grid for
# cross-engine hashing.

_Q3_SQL = """
SELECT l.l_orderkey AS orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(round(sum(l.l_extendedprice * (1 - l.l_discount)) * 10000, 0)
            AS BIGINT) AS revenue_c4
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < DATE '1998-01-01'
  AND l.l_shipdate > DATE '1998-01-01'
GROUP BY 1, 2
ORDER BY revenue_c4 DESC, orderkey ASC
LIMIT 10
"""


@register("tpch_q3_shipping_priority", _Q3_SQL)
def q_tpch3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("date")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("date")
    )
    # the segment-filtered customer projection is sf-scaled (~30k×sf)
    # — no hint (maybe_broadcast policy above); orders⋈lineitem is
    # the fact-fact join and must stay a shuffle join at scale —
    # Catalyst/AQE picks broadcast for either side locally if it fits.
    sel_orders = orders.join(
        maybe_broadcast(cust.select("c_custkey")),
        orders.o_custkey == F.col("c_custkey"),
    ).select("o_orderkey", "o_orderdate")
    joined = li.join(sel_orders, li.l_orderkey == F.col("o_orderkey"))
    return (
        joined.groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
                * 10000,
                0,
            )
            .cast("long")
            .alias("revenue_c4")
        )
        .orderBy(F.desc("revenue_c4"), F.asc("orderkey"))
        .limit(10)
    )


# TPC-H Q5 shape: the deepest join chain in the suite — region →
# nation → customer → orders → lineitem → supplier with the
# local-supplier condition (s_nationkey = c_nationkey). Exercises the
# join planner end-to-end: three true dims broadcast, the
# orders⋈lineitem fact-fact join shuffles once on orderkey.
_Q5_SQL = """
SELECT n.n_name,
       CAST(round(sum(l.l_extendedprice * (1 - l.l_discount)) * 10000, 0)
            AS BIGINT) AS revenue_c4
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
              AND s.s_nationkey = c.c_nationkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= DATE '1996-01-01'
  AND o.o_orderdate < DATE '1997-01-01'
GROUP BY 1
"""


@register("tpch_q5_local_supplier_volume", _Q5_SQL)
def q_tpch5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: per-nation revenue where supplier and customer share
    a nation. region/nation/supplier broadcast (small dims); customer
    rides the broadcast chain; the one real shuffle is
    orders⋈lineitem on orderkey — the plan a 1000-executor cluster
    wants for this query."""
    r = load_table(spark, sf_dir, "region", widen=False).filter(
        F.col("r_name") == "ASIA"
    )
    n = load_table(spark, sf_dir, "nation", widen=False)
    c = load_table(spark, sf_dir, "customer", widen=False)
    s = load_table(spark, sf_dir, "supplier", widen=False)
    o = load_table(spark, sf_dir, "orders", widen=False).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    li = load_table(spark, sf_dir, "lineitem", widen=False)
    joined = (
        li.join(maybe_broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(
            # customer and supplier are NOT hinted: both sf-scaled
            # (150k/10k rows × sf) and an explicit broadcast hint
            # never demotes, so the size call belongs to file stats /
            # AQE. nation(×)region stays hinted (true small dims).
            c.join(
                maybe_broadcast(
                    # bcast-bound: region = 5 rows (sf-independent)
                    n.join(F.broadcast(r),
                           n["n_regionkey"] == r["r_regionkey"]),
                    bounded_rows=25,
                ),
                c["c_nationkey"] == F.col("n_nationkey"),
            ),
            (o["o_custkey"] == F.col("c_custkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
    )
    return joined.groupBy("n_name").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
            * 10000,
            0,
        )
        .cast("long")
        .alias("revenue_c4")
    )


# TPC-H Q18 shape: large-quantity customers — a HAVING subquery over
# the fact table feeding a 3-way join + top-k.
_Q18_SQL = """
WITH big AS (
  SELECT l_orderkey FROM lineitem
  GROUP BY 1 HAVING sum(l_quantity) > 300
)
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS totalprice_c,
       CAST(round(sum(l.l_quantity) * 100, 0) AS BIGINT) AS sum_qty_c
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN big ON big.l_orderkey = o.o_orderkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2, 3, 4, 5
ORDER BY totalprice_c DESC, o.o_orderkey
LIMIT 100
"""


@register("tpch_q18_large_volume_customer", _Q18_SQL)
def q_tpch18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: the HAVING pre-aggregate shrinks lineitem to the
    few dozen big orderkeys FIRST (semi-join pruning by broadcast of
    the tiny aggregate), then the re-join + final group — the
    two-phase shape that avoids grouping the full fact twice at
    scale."""
    li = load_table(spark, sf_dir, "lineitem", widen=False)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .where(F.col("_q") > 300)
        .select("l_orderkey")
    )
    o = load_table(spark, sf_dir, "orders", widen=False)
    c = load_table(spark, sf_dir, "customer", widen=False)
    joined = (
        # big is filter-derived FROM the fact table (grows with sf,
        # skew-sensitive on quantity) — per the maybe_broadcast policy
        # no hint: stats/AQE broadcast it at runtime while it fits.
        li.join(maybe_broadcast(big), "l_orderkey")
        .join(o, F.col("l_orderkey") == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
    )
    return (
        joined.groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("long")
            .alias("totalprice_c"),
        )
        .agg(
            F.round(F.sum("l_quantity") * 100, 0)
            .cast("long")
            .alias("sum_qty_c")
        )
        .orderBy(F.desc("totalprice_c"), F.asc("o_orderkey"))
        .limit(100)
    )


# TPC-H Q10 shape: returned-item reporting — selective fact filter
# (returnflag) + date-sliced orders + two broadcast dims, top-20 by
# lost revenue.
_Q10_SQL = """
SELECT c.c_custkey, c.c_name, n.n_name,
       CAST(round(sum(l.l_extendedprice * (1 - l.l_discount)) * 10000, 0)
            AS BIGINT) AS revenue_c4
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= DATE '1996-01-01'
  AND o.o_orderdate < DATE '1996-04-01'
  AND l.l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY revenue_c4 DESC, c.c_custkey
LIMIT 20
"""


@register("tpch_q10_returned_items", _Q10_SQL)
def q_tpch10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: the returnflag filter reaches the lineitem scan
    (PushedFilters), the quarter slice prunes orders before the
    fact-fact join, customer/nation broadcast; top-20 is
    TakeOrdered."""
    c = load_table(spark, sf_dir, "customer", widen=False)
    n = load_table(spark, sf_dir, "nation", widen=False)
    o = load_table(spark, sf_dir, "orders", widen=False).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("date"))
    )
    li = load_table(spark, sf_dir, "lineitem", widen=False).filter(
        F.col("l_returnflag") == "R"
    )
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        # bcast-bound: nation = 25 rows (sf-independent)
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
                )
                * 10000,
                0,
            )
            .cast("long")
            .alias("revenue_c4")
        )
        .orderBy(F.desc("revenue_c4"), F.asc("c_custkey"))
        .limit(20)
    )


# TPC-H Q14 shape: global conditional-aggregate ratio over a
# fact⋈dim join — one month of lineitem joined to part (broadcast),
# promo share of revenue as ONE scalar. Ratio scaled to ppm for
# hash-exact cross-engine compare; float division order is fixed by
# doing the division once, driver-free, at the end.
_Q14_SQL = """
SELECT CAST(round(100.0 * sum(CASE WHEN p.p_type LIKE 'PROMO%'
              THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
         / sum(l.l_extendedprice * (1 - l.l_discount)) * 1000000, 0)
       AS BIGINT) AS promo_revenue_ppm
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= DATE '1996-01-01'
  AND l.l_shipdate < DATE '1996-02-01'
"""


@register("tpch_q14_promo_effect", _Q14_SQL)
def q_tpch14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: month slice pushed to the lineitem scan, a single
    global aggregate with a conditional numerator — the whole query
    is one map-side-combined reduction to a scalar. part is UNFILTERED
    (the promo ratio needs every part's type) and 200k rows×sf, so it
    carries no broadcast hint (r9 demotion, SCALE.md): stats/AQE
    broadcast it while it fits and demote when it doesn't."""
    li = load_table(spark, sf_dir, "lineitem", widen=False).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("date"))
    )
    p = load_table(spark, sf_dir, "part", widen=False)
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    joined = li.join(maybe_broadcast(p), li["l_partkey"] == p["p_partkey"])
    return joined.agg(
        F.round(
            F.lit(100.0)
            * F.sum(
                F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(
                    F.lit(0)
                )
            )
            / F.sum(rev)
            * 1000000,
            0,
        )
        .cast("long")
        .alias("promo_revenue_ppm")
    )


# TPC-H Q6 shape: the forecast-revenue filter-and-sum — NO join, the
# predicate-pushdown showcase (shipdate range + discount band +
# quantity cap all reach the parquet scan). Revenue terms are exact
# int64 products (cents × discount-pct), so the global sum is
# order-independent and hash-exact.
_Q6_SQL = """
SELECT CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
               * CAST(round(l_discount * 100, 0) AS BIGINT))
       AS BIGINT) AS revenue_c4
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


@register("tpch_q6_forecast_revenue", _Q6_SQL)
def q_tpch6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: a pure scan-filter-aggregate — every predicate
    pushes to the parquet reader, the whole query is one map-side
    combined reduction to a scalar."""
    li = load_table(spark, sf_dir, "lineitem", widen=False)
    px_c = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    disc_pct = F.round(F.col("l_discount") * 100, 0).cast("long")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(px_c * disc_pct).cast("long").alias("revenue_c4"))
    )


# TPC-H Q7 shape: volume shipping between two nations — the
# dual-perspective join (supplier nation via lineitem, customer
# nation via orders) with both directions kept. Two broadcast nation
# maps, one orders⋈lineitem fact-fact shuffle.
_Q7_SQL = """
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
                * (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT)))
       AS BIGINT) AS revenue_c4
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
WHERE ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
    OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
  AND l.l_shipdate >= DATE '1996-01-01'
  AND l.l_shipdate < DATE '1998-01-01'
GROUP BY 1, 2, 3
"""


@register("tpch_q7_volume_shipping", _Q7_SQL)
def q_tpch7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: the two nation projections broadcast (bounded dims);
    supplier/customer are sf-scaled and unhinted (stats/AQE decide).
    ONE fact-fact shuffle (lineitem⋈orders on orderkey); the
    two-nation disjunction filters after the cheap joins, before the
    expensive one."""
    li = load_table(spark, sf_dir, "lineitem", widen=False).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
    )
    o = load_table(spark, sf_dir, "orders", widen=False)
    c = load_table(spark, sf_dir, "customer", widen=False)
    s = load_table(spark, sf_dir, "supplier", widen=False)
    n = load_table(spark, sf_dir, "nation", widen=False)
    ns = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    px_c = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    disc_pct = F.round(F.col("l_discount") * 100, 0).cast("long")
    joined = (
        li.join(maybe_broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(
            maybe_broadcast(ns, bounded_rows=25),
            F.col("s_nationkey") == F.col("s_nk"),
        )
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            maybe_broadcast(nc, bounded_rows=25),
            F.col("c_nationkey") == F.col("c_nk"),
        )
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return joined.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("long").alias("l_year"),
    ).agg(
        F.sum(px_c * (F.lit(100) - disc_pct)).cast("long").alias("revenue_c4")
    )


# TPC-H Q8 shape: market share — the share of one supplier-nation's
# revenue within a region's orders per year; conditional numerator
# over the full join, ONE division at the end (ppm-scaled).
_Q8_SQL = """
SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(round(
         sum(CASE WHEN ns.n_name = 'NATION_3'
             THEN CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
                  * (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT))
             ELSE 0 END)::DOUBLE
         / sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
               * (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT)))
         * 1000000, 0) AS BIGINT) AS mkt_share_ppm
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
JOIN region r   ON nc.n_regionkey = r.r_regionkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
JOIN part p     ON l.l_partkey = p.p_partkey
WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
  AND o.o_orderdate >= DATE '1996-01-01'
  AND o.o_orderdate < DATE '1998-01-01'
GROUP BY 1
"""


@register("tpch_q8_market_share", _Q8_SQL)
def q_tpch8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: nation/region broadcast (bounded); the type-filtered
    part, supplier, and customer are sf-scaled and unhinted — the
    region→nation chain plus part still prune the fact via whatever
    join strategy stats/AQE pick. One orders⋈lineitem shuffle;
    numerator/denominator in the SAME aggregation — the share
    division happens once per year row."""
    li = load_table(spark, sf_dir, "lineitem", widen=False)
    o = load_table(spark, sf_dir, "orders", widen=False).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
    )
    c = load_table(spark, sf_dir, "customer", widen=False)
    s = load_table(spark, sf_dir, "supplier", widen=False)
    n = load_table(spark, sf_dir, "nation", widen=False)
    r = load_table(spark, sf_dir, "region", widen=False).filter(
        F.col("r_name") == "ASIA"
    )
    p = load_table(spark, sf_dir, "part", widen=False).filter(
        F.col("p_type") == "PROMO"
    )
    nc = n.select("n_nationkey", "n_regionkey")
    ns = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    px_c = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    disc_pct = F.round(F.col("l_discount") * 100, 0).cast("long")
    vol = px_c * (F.lit(100) - disc_pct)
    joined = (
        li.join(maybe_broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(maybe_broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(
            maybe_broadcast(ns, bounded_rows=25),
            F.col("s_nationkey") == F.col("s_nk"),
        )
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            maybe_broadcast(nc, bounded_rows=25),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        # bcast-bound: region = 5 rows (sf-independent)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupBy(
        F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(
        F.round(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
                    F.lit(0)
                )
            ).cast("double")
            / F.sum(vol)
            * 1000000,
            0,
        )
        .cast("long")
        .alias("mkt_share_ppm")
    )


# TPC-H Q15 shape: top supplier by quarterly revenue — an aggregate
# compared against its own max (the HAVING-max idiom); the supplier-
# level revenue table is tiny, so the max is a window over it, not a
# second scan of the fact.
_Q15_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
         AS BIGINT) AS total_revenue_c4
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, rev.total_revenue_c4
FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
WHERE rev.total_revenue_c4 = (SELECT max(total_revenue_c4) FROM rev)
"""


@register("tpch_q15_top_supplier", _Q15_SQL)
def q_tpch15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: one fact aggregation to a #suppliers-row table,
    the max as a window over THAT table (no second fact scan), then
    a broadcast supplier join for the name."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem", widen=False).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date"))
    )
    s = load_table(spark, sf_dir, "supplier", widen=False)
    px_c = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    disc_pct = F.round(F.col("l_discount") * 100, 0).cast("long")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(px_c * (F.lit(100) - disc_pct))
        .cast("long")
        .alias("total_revenue_c4")
    )
    top = rev.withColumn(
        "_mx", F.max("total_revenue_c4").over(Window.partitionBy())
    ).filter(F.col("total_revenue_c4") == F.col("_mx"))
    return top.join(
        maybe_broadcast(s), top["l_suppkey"] == s["s_suppkey"]
    ).select("s_suppkey", "s_name", "total_revenue_c4")


# ---------------------------------------------------------------------------
# TPC-H round-8 extensions: q2/q13/q16/q17/q19/q20/q21/q22, adapted to
# the synthetic schema (no partsupp table; lineitem lacks shipmode /
# commit / receipt dates; customer lacks phone). Each keeps the
# ORIGINAL query's plan shape — correlated min (q2), count-of-counts
# with a join-level filter (q13), distinct-supplier counts with NOT IN
# (q16), correlated 0.2*avg quantity filter (q17), disjunctive
# both-side predicates (q19), nested semi-join with HAVING (q20), the
# exists/not-exists sole-supplier pattern (q21, rewritten as ONE
# per-order aggregate), and scalar-avg + anti-join (q22). Money stays
# on the integer cent grid; avg comparisons are cross-multiplied into
# exact integer arithmetic so no float boundary can diverge between
# engines.
# ---------------------------------------------------------------------------

_Q2_SQL = """
WITH rsupp AS (
  SELECT s.s_suppkey, s.s_name, n.n_name
  FROM supplier s
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'ASIA'
),
costs AS (
  SELECT l.l_partkey, l.l_suppkey,
         min(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS px_c
  FROM lineitem l
  JOIN rsupp ON rsupp.s_suppkey = l.l_suppkey
  GROUP BY 1, 2
),
best AS (SELECT l_partkey, min(px_c) AS best_c FROM costs GROUP BY 1)
SELECT p.p_partkey, p.p_name, rsupp.s_name, rsupp.n_name,
       c.px_c AS best_px_c
FROM costs c
JOIN best b ON c.l_partkey = b.l_partkey AND c.px_c = b.best_c
JOIN part p ON p.p_partkey = c.l_partkey
JOIN rsupp ON rsupp.s_suppkey = c.l_suppkey
WHERE p.p_size <= 10
"""


@register("tpch_q2_min_cost_supplier", _Q2_SQL)
def q_tpch2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (no partsupp table: the observed min line price
    per (part, supplier) stands in for ps_supplycost): for small parts,
    the ASIA supplier(s) offering the minimum price. region->nation->
    supplier broadcast chain restricts the fact FIRST; the correlated
    min is a per-part window over the (part, supplier) aggregate — no
    second fact scan. Ties keep every minimal supplier (spec
    behavior)."""
    from pyspark.sql.window import Window

    s = load_table(spark, sf_dir, "supplier", widen=False)
    n = load_table(spark, sf_dir, "nation", widen=False)
    r = load_table(spark, sf_dir, "region", widen=False).filter(
        F.col("r_name") == "ASIA"
    )
    p = load_table(spark, sf_dir, "part", widen=False).filter(
        F.col("p_size") <= 10
    )
    li = load_table(spark, sf_dir, "lineitem", widen=False)
    rsupp = (
        # bcast-bound: nation 25 / region 5 rows (sf-independent)
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name")
    )
    px_c = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    costs = (
        # rsupp is region-filtered supplier — still sf-scaled: no hint
        li.join(maybe_broadcast(rsupp), li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey", "s_name", "n_name")
        .agg(F.min(px_c).alias("px_c"))
    )
    w = Window.partitionBy("l_partkey")
    best = costs.withColumn("_best", F.min("px_c").over(w)).filter(
        F.col("px_c") == F.col("_best")
    )
    return (
        best.join(maybe_broadcast(p), best["l_partkey"] == p["p_partkey"])
        .select(
            "p_partkey", "p_name", "s_name", "n_name",
            F.col("px_c").alias("best_px_c"),
        )
    )


_Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '1-URGENT'
      GROUP BY 1) t
GROUP BY 1
"""


@register("tpch_q13_order_count_distribution", _Q13_SQL)
def q_tpch13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (the o_comment filter stands in as an orderpriority
    predicate): distribution of customers by order count, including
    zero-order customers. Scale shape: aggregate ORDERS first (one
    row per custkey — the fact never joins customer at full width),
    left-join the count onto customer, then the count-of-counts agg
    is #customers-sized."""
    c = load_table(spark, sf_dir, "customer", widen=False)
    o = load_table(spark, sf_dir, "orders", widen=False).filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("_n")
    )
    counts = (
        c.join(per_cust, c["c_custkey"] == F.col("o_custkey"), "left")
        .select(F.coalesce(F.col("_n"), F.lit(0)).alias("c_count"))
    )
    return counts.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


_Q16_SQL = """
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
  AND l.l_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


@register("tpch_q16_supplier_part_counts", _Q16_SQL)
def q_tpch16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (the complaint-comment NOT IN stands in as a
    negative-balance supplier exclusion): distinct supplier counts per
    part attribute triple. Scale shape: the fact collapses to DISTINCT
    (partkey, suppkey) pairs FIRST — the only fact-sized shuffle —
    then the excluded-supplier anti-join and the part join run on the
    pair table."""
    li = load_table(spark, sf_dir, "lineitem", widen=False)
    p = load_table(spark, sf_dir, "part", widen=False).filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_type") != "PROMO")
    )
    bad = load_table(spark, sf_dir, "supplier", widen=False).filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    kept = pairs.join(
        maybe_broadcast(bad),
        pairs["l_suppkey"] == bad["s_suppkey"],
        "left_anti",
    )
    return (
        kept.join(maybe_broadcast(p), kept["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_Q17_SQL = """
WITH qstat AS (
  SELECT l_partkey, sum(l_quantity) AS qsum, count(*) AS qcnt
  FROM lineitem GROUP BY 1
)
SELECT CAST(round(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
            / 7.0, 0) AS BIGINT) AS avg_yearly_c
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN qstat q ON q.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1' AND p.p_type = 'SMALL'
  AND 5 * l.l_quantity * q.qcnt < q.qsum
"""


@register("tpch_q17_small_quantity_revenue", _Q17_SQL)
def q_tpch17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue from below-one-fifth-of-average-quantity
    orders of one brand/type. The correlated ``l_quantity <
    0.2*avg(l_quantity)`` is cross-multiplied to
    ``5*quantity*count < sum`` — exact integer arithmetic on both
    engines (quantities are integral), no float boundary. Scale
    shape: the part filter broadcasts and prunes the fact BEFORE the
    per-part stats join; stats aggregate once on the uniform
    partkey."""
    li = load_table(spark, sf_dir, "lineitem", widen=False)
    p = load_table(spark, sf_dir, "part", widen=False).filter(
        (F.col("p_brand") == "Brand#1") & (F.col("p_type") == "SMALL")
    )
    qstat = li.groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("qsum"),
        F.count(F.lit(1)).alias("qcnt"),
    )
    px_c = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    sel = li.join(maybe_broadcast(p), li["l_partkey"] == p["p_partkey"])
    joined = sel.join(
        qstat, sel["l_partkey"] == qstat["l_partkey"]
    ).filter(
        F.lit(5) * F.col("l_quantity") * F.col("qcnt") < F.col("qsum")
    )
    return joined.agg(
        F.round(F.sum(px_c) / 7.0, 0).cast("long").alias("avg_yearly_c")
    )


_Q19_SQL = """
SELECT CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
           * (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT)))
       AS BIGINT) AS revenue_c4
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 30)
"""


@register("tpch_q19_discounted_revenue", _Q19_SQL)
def q_tpch19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: disjunctive predicates spanning BOTH join sides
    (brand+size on part, quantity on lineitem) — the case Catalyst
    cannot split into per-side pushdowns, so the filter runs on the
    joined rows; part broadcasts, one global agg, zero shuffles of
    the fact."""
    li = load_table(spark, sf_dir, "lineitem", widen=False)
    p = load_table(spark, sf_dir, "part", widen=False)
    px_c = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    disc_pct = F.round(F.col("l_discount") * 100, 0).cast("long")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
           & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35)
           & q.between(20, 30))
    )
    return (
        li.join(maybe_broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            F.sum(px_c * (F.lit(100) - disc_pct))
            .cast("long")
            .alias("revenue_c4")
        )
    )


_Q20_SQL = """
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE s.s_suppkey IN (
  SELECT l.l_suppkey
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_name LIKE 'small%'
    AND l.l_shipdate >= DATE '1997-01-01'
    AND l.l_shipdate < DATE '1998-01-01'
  GROUP BY 1
  HAVING sum(l.l_quantity) > 300)
"""


@register("tpch_q20_excess_shippers", _Q20_SQL)
def q_tpch20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (shipped quantity stands in for ps_availqty):
    suppliers who moved more than a threshold of 'small%' parts in a
    year. Nested semi-join: part name filter broadcasts into the
    date-pruned fact, per-supplier HAVING on the exact integral
    quantity sum, then a semi-join keeps supplier rows."""
    li = load_table(spark, sf_dir, "lineitem", widen=False).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
    )
    p = load_table(spark, sf_dir, "part", widen=False).filter(
        F.col("p_name").like("small%")
    )
    s = load_table(spark, sf_dir, "supplier", widen=False)
    heavy = (
        li.join(maybe_broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 300)
        .select("l_suppkey")
    )
    return s.join(
        heavy, s["s_suppkey"] == heavy["l_suppkey"], "left_semi"
    ).select("s_suppkey", "s_name")


_Q21_SQL = """
WITH ostat AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END)
           AS n_r_supp
  FROM lineitem GROUP BY 1
)
SELECT s.s_name, count(DISTINCT l.l_orderkey) AS numwait
FROM lineitem l
JOIN ostat t ON t.l_orderkey = l.l_orderkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE o.o_orderstatus = 'F' AND l.l_returnflag = 'R'
  AND t.n_supp >= 2 AND t.n_r_supp = 1
GROUP BY 1
ORDER BY numwait DESC, s_name
LIMIT 100
"""


@register("tpch_q21_sole_return_supplier", _Q21_SQL)
def q_tpch21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (returnflag='R' stands in for
    receipt-after-commit): per supplier, finished multi-supplier
    orders where it is the ONLY supplier with a returned line. The
    spec's EXISTS + NOT EXISTS correlated self-joins are rewritten as
    ONE per-order aggregate (distinct suppliers, distinct
    returned-line suppliers) — the fact shuffles once on orderkey and
    every later join reuses that partitioning; the correlated form
    would scan lineitem three times."""
    li = load_table(spark, sf_dir, "lineitem", widen=False)
    o = load_table(spark, sf_dir, "orders", widen=False).filter(
        F.col("o_orderstatus") == "F"
    )
    s = load_table(spark, sf_dir, "supplier", widen=False)
    ostat = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_r_supp"),
    )
    r_lines = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    sole = (
        r_lines.join(
            ostat.filter(
                (F.col("n_supp") >= 2) & (F.col("n_r_supp") == 1)
            ).select("l_orderkey"),
            "l_orderkey",
        )
        .join(
            o.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    return (
        sole.join(maybe_broadcast(s), sole["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(100)
    )


_Q22_SQL = """
WITH pos AS (
  SELECT CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_c
  FROM customer
  WHERE c_acctbal > 0 AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
),
stats AS (SELECT sum(bal_c) AS s, count(*) AS n FROM pos)
SELECT c.c_nationkey AS cntry, count(*) AS numcust,
       CAST(sum(CAST(round(c.c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
         AS totacctbal_c
FROM customer c, stats
WHERE c.c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
  AND CAST(round(c.c_acctbal * 100, 0) AS BIGINT) * stats.n > stats.s
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= DATE '2000-01-01')
GROUP BY 1
"""


@register("tpch_q22_dormant_customers", _Q22_SQL)
def q_tpch22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (nationkey stands in for the phone prefix):
    above-average-balance customers in selected nations with no
    orders. The scalar avg comparison is cross-multiplied
    (bal_c * n > sum_c) so it is exact integer arithmetic on both
    engines; the no-orders test is a left-anti join against the
    distinct custkey projection of orders (never the full fact); the
    1-row stats table broadcasts."""
    c = load_table(spark, sf_dir, "customer", widen=False).filter(
        F.col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13)
    )
    o = load_table(spark, sf_dir, "orders", widen=False).filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("date")
    )
    bal_c = F.round(F.col("c_acctbal") * 100, 0).cast("long")
    stats = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(bal_c).alias("s"), F.count(F.lit(1)).alias("n")
    )
    rich = (
        # bcast-bound: stats = 1-row scalar aggregate
        c.crossJoin(F.broadcast(stats))
        .filter(bal_c * F.col("n") > F.col("s"))
    )
    dormant = rich.join(
        o.select("o_custkey").distinct(),
        rich["c_custkey"] == F.col("o_custkey"),
        "left_anti",
    )
    return dormant.groupBy(
        F.col("c_nationkey").alias("cntry")
    ).agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(bal_c).cast("long").alias("totacctbal_c"),
    )


_Q9_SQL = """
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS INT) AS o_year,
       CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
              * (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT)))
            AS BIGINT) AS profit_c4
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%bolt%'
GROUP BY 1, 2
"""


@register("tpch_q9_product_type_profit", _Q9_SQL)
def q_tpch9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (no partsupp in this schema, so profit is gross
    revenue rather than revenue − supplycost·qty): per-nation,
    per-order-year profit over one product family. Scale shape: the
    name-filtered part and the supplier⋈nation mapping both broadcast
    into the fact scan — the only real shuffles are the
    lineitem⋈orders orderkey join and the final (nation, year) agg,
    which has ~nations×years groups. Revenue is exact cents×pct
    integer arithmetic (the q19 convention)."""
    li = load_table(spark, sf_dir, "lineitem", widen=False)
    p = load_table(spark, sf_dir, "part", widen=False).filter(
        F.col("p_name").like("%bolt%")
    )
    s = load_table(spark, sf_dir, "supplier", widen=False)
    n = load_table(spark, sf_dir, "nation", widen=False)
    o = load_table(spark, sf_dir, "orders", widen=False)
    px_c = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    disc_pct = F.round(F.col("l_discount") * 100, 0).cast("long")
    # bcast-bound: nation = 25 rows (sf-independent)
    sn = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select(
        "s_suppkey", "n_name"
    )
    return (
        # name-filtered part and supplier⋈nation are both sf-scaled:
        # unhinted (r9 demotion) — stats/AQE broadcast while they fit
        li.join(maybe_broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(maybe_broadcast(sn), li["l_suppkey"] == sn["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            F.sum(px_c * (F.lit(100) - disc_pct))
            .cast("long")
            .alias("profit_c4")
        )
    )


_Q11_SQL = """
WITH nation_value AS (
  SELECT l.l_partkey AS partkey,
         CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
              AS BIGINT) AS value_c
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_3'
  GROUP BY 1
)
SELECT partkey, value_c
FROM nation_value
WHERE value_c * 1000 > (SELECT CAST(sum(value_c) AS BIGINT)
                        FROM nation_value)
"""


@register("tpch_q11_important_parts", _Q11_SQL)
def q_tpch11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (lineitem extendedprice stands in for
    ps_supplycost·ps_availqty): parts whose shipped value through one
    nation's suppliers exceeds a fixed fraction of that nation's
    total. The correlated scalar subquery becomes aggregate-once →
    broadcast the 1-row total → integer cross-multiplied filter
    (value_c·1000 > total_c), so the threshold is exact on both
    engines and the per-part agg shuffles the nation-pruned fact
    exactly once. The supplier⋈nation semi-set broadcasts — the fact
    never shuffles for the membership test."""
    li = load_table(spark, sf_dir, "lineitem", widen=False)
    s = load_table(spark, sf_dir, "supplier", widen=False)
    n = load_table(spark, sf_dir, "nation", widen=False).filter(
        F.col("n_name") == "NATION_3"
    )
    px_c = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    # bcast-bound: nation = 25 rows (sf-independent)
    sn = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select(
        "s_suppkey"
    )
    nv = (
        li.join(maybe_broadcast(sn), li["l_suppkey"] == sn["s_suppkey"])
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(px_c).cast("long").alias("value_c"))
    )
    total = nv.agg(F.sum("value_c").cast("long").alias("total_c"))
    return (
        # bcast-bound: total = 1-row scalar aggregate
        nv.crossJoin(F.broadcast(total))
        .filter(F.col("value_c") * 1000 > F.col("total_c"))
        .select("partkey", "value_c")
    )


_Q12_SQL = """
SELECT l.l_linestatus AS ship_class,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE CAST(l.l_shipdate AS DATE) >= CAST(o.o_orderdate AS DATE) + 60
  AND l.l_shipdate >= DATE '1997-01-01'
  AND l.l_shipdate < DATE '1998-01-01'
GROUP BY 1
"""


@register("tpch_q12_late_shipments", _Q12_SQL)
def q_tpch12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (l_linestatus stands in for l_shipmode; ship
    60+ days after order stands in for receipt-after-commit): per
    ship class, how many late lines belong to high- vs low-priority
    orders. The year slice prunes the fact at the scan
    (PushedFilters); the cross-row date comparison runs post-join;
    both CASE sums come out of ONE grouped pass — the canonical
    conditional-count pivot (A11's shape on TPC-H data)."""
    li = load_table(spark, sf_dir, "lineitem", widen=False).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
    )
    o = load_table(spark, sf_dir, "orders", widen=False)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(
            F.col("l_shipdate").cast("date")
            >= F.date_add(F.col("o_orderdate").cast("date"), 60)
        )
        .groupBy(F.col("l_linestatus").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
    )


# window operators (beyond-reference surface): gap sessionization and
# top-N per key — single-shuffle WindowExec plans with exact SQL twins.

_SESSION_SQL = """
WITH s AS (
  SELECT user_id, ts, floor(epoch(ts))::BIGINT AS ts_s, event_id,
         CASE WHEN lag(floor(epoch(ts))::BIGINT) OVER w IS NULL
                OR floor(epoch(ts))::BIGINT - lag(floor(epoch(ts))::BIGINT) OVER w > 1800
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts_s,
         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT)
           AS session_id
  FROM s
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts_s) AS start_s, max(ts_s) AS end_s
FROM sess GROUP BY 1, 2
"""


@register("session_summary_30min", _SESSION_SQL)
def q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization: per-session event count and span
    in one windowed pass (operators/windows.py:session_summary)."""
    from cybersecurity_miw_spark.operators import windows

    ev = load_events(spark, sf_dir)
    return windows.session_summary(ev, gap_minutes=30)


# Session conversion: per user, sessions total vs sessions containing
# a purchase — the product-analytics KPI built directly on the
# session assignment (ONE window pass shared with session_summary,
# then two chained aggs on the same user key).
_SESSION_CONV_SQL = """
WITH s AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(floor(epoch(ts))::BIGINT) OVER w IS NULL
                OR floor(epoch(ts))::BIGINT - lag(floor(epoch(ts))::BIGINT) OVER w > 1800
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_type,
         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT)
           AS session_id
  FROM s
),
per_sess AS (
  SELECT user_id, session_id,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM sess GROUP BY 1, 2
)
SELECT user_id, count(*) AS n_sessions,
       CAST(sum(converted) AS BIGINT) AS n_converting,
       CAST(round(sum(converted)::DOUBLE / count(*) * 1000000, 0)
            AS BIGINT) AS conversion_ppm
FROM per_sess GROUP BY 1
"""


@register("session_conversion_rate", _SESSION_CONV_SQL)
def q_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize (one user-keyed window pass), flag converting
    sessions with a conditional max, then a per-user roll-up — all
    three stages share the user hash partitioning."""
    from cybersecurity_miw_spark.operators import windows

    ev = load_events(spark, sf_dir)
    s = windows.sessionize(ev, gap_minutes=30)
    per_sess = s.groupBy("user_id", "session_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    )
    return per_sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("converted").cast("long").alias("n_converting"),
        F.round(
            F.sum("converted") / F.count(F.lit(1)) * 1000000, 0
        )
        .cast("long")
        .alias("conversion_ppm"),
    )


_TOPN_SQL = """
SELECT user_id, event_id, event_type AS etype FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id ASC) AS rn
  FROM events
) WHERE rn <= 3
"""


@register("topn_events_per_user", _TOPN_SQL)
def q_topn_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cybersecurity_miw_spark.operators import windows

    ev = load_events(spark, sf_dir)
    top = windows.top_n_per_key(
        ev, 3, "user_id", "ts", descending=True, tiebreak_col="event_id"
    )
    return top.select("user_id", "event_id", F.col("event_type").alias("etype"))


# TF-IDF top terms per document (smooth-free idf = ln(N/df); scores
# scaled to 1e-6 ints with explicit half-up so both engines agree)

_TFIDF_SQL = """
WITH terms AS (
  SELECT doc_id, unnest(str_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
docfreq AS (SELECT term, count(*) AS df_docs FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         tf.tf::DOUBLE * ln(n.n_docs::DOUBLE / docfreq.df_docs) AS s
  FROM tf JOIN docfreq USING (term), n
)
SELECT doc_id, term,
       CAST(floor(s * 1000000 + 0.5) AS BIGINT) AS score_u
FROM (
  SELECT doc_id, term, s,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY s DESC, term ASC) AS rn
  FROM scored
) WHERE rn <= 3
"""


@register("tfidf_top_terms", _TFIDF_SQL)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textstats.tfidf_top_terms(docs, n=3)


# BM25 top-k retrieval (operators/retrieval.py): the lexical-search
# counterpart of the dense ANN family. Per-(doc, term) partial scores
# floor to int64 micro BEFORE the per-doc sum (order-independent
# reduction, the split_word_divergence convention); every float
# subexpression is written with identical association on both engines.

_BM25_SQL = """
WITH w AS (
  SELECT doc_id, str_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM documents
),
d AS (SELECT doc_id, len(ws) AS dl, ws FROM w),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
tok AS (SELECT doc_id, dl, unnest(ws) AS term FROM d),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM tok WHERE term IN ('table', 'join', 'window')
  GROUP BY 1, 2, 3
),
dft AS (SELECT term, count(*) AS dft FROM tf GROUP BY 1),
terms AS (
  SELECT tf.doc_id,
         CAST(floor(
           ln(1 + (stats.n_docs - dft.dft + 0.5) / (dft.dft + 0.5))
           * (tf.tf * 2.2
              / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))
           * 1000000.0 + 0.5) AS BIGINT) AS tu
  FROM tf JOIN dft USING (term) CROSS JOIN stats
),
scored AS (
  SELECT doc_id, CAST(sum(tu) AS BIGINT) AS score_u FROM terms GROUP BY 1
)
SELECT doc_id, score_u FROM scored ORDER BY score_u DESC, doc_id LIMIT 15
"""


@register("bm25_topk_docs", _BM25_SQL)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-15 for the query {table, join, window}: posting-list
    shuffle only (term filter below the agg), 1-row stats broadcast
    cross, TakeOrdered final (operators/retrieval.py:bm25_topk)."""
    from cybersecurity_miw_spark.operators import retrieval

    docs = load_table(spark, sf_dir, "documents")
    return retrieval.bm25_topk(docs, ["table", "join", "window"], k=15)


# embedding hygiene: unit normalization and int8 quantization

_L2_NORM_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_sum([x * x FOR x IN embedding::DOUBLE[]])) AS n
  FROM embeddings
)
SELECT vec_id,
       round(CASE WHEN n = 0 THEN list_sum(v)
                  ELSE list_sum([x / n FOR x IN v]) END, 6) AS unit_sum
FROM e
"""


@register("embedding_l2_normalize", _L2_NORM_SQL)
def q_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    unit = similarity.l2_normalize(emb)
    return unit.select(
        "vec_id",
        F.round(
            F.aggregate("embedding_unit", F.lit(0.0), lambda a, x: a + x), 6
        ).alias("unit_sum"),
    )


_Q8_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_max([abs(x) FOR x IN embedding::DOUBLE[]]) AS amax
  FROM embeddings
),
s AS (
  SELECT vec_id, v,
         CASE WHEN amax = 0 THEN 0.0 ELSE 127.0 / amax END AS q8_scale
  FROM e
)
SELECT vec_id, round(q8_scale, 6) AS scale_r,
       CAST(list_sum([floor(x * q8_scale + 0.5) FOR x IN v]) AS BIGINT)
         AS q_sum
FROM s
"""


@register("embedding_quantize_int8", _Q8_SQL)
def q_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = similarity.quantize_int8(emb)
    return q.select(
        "vec_id",
        F.round("q8_scale", 6).alias("scale_r"),
        F.aggregate(
            "embedding_q8", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("q_sum"),
    )


# exact percentiles: Spark 4's percentile() and DuckDB's quantile_cont
# share the linear-interpolation definition, so exact-value parity
# holds (percentile_approx would not — sketch implementations differ).

_PCTL_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.50), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""


@register("event_value_percentiles", _PCTL_SQL)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles (p50/p95/p99 of event value) — the
    latency-SLO aggregation shape. Spark's percentile() is a single
    sort-based aggregate with map-side partial collection; at 100 TB
    switch to percentile_approx (t-digest sketch, mergeable, bounded
    state) and drop the oracle to rows-only — the exact form is the
    verifiable baseline."""
    ev = load_table(spark, sf_dir, "events", widen=False)
    return ev.groupBy("event_type").agg(
        *[
            F.round(F.percentile("value", F.lit(p)), 6).alias(name)
            for p, name in ((0.50, "p50"), (0.95, "p95"), (0.99, "p99"))
        ]
    )


# ROLLUP: hierarchical subtotals in one pass — Catalyst expands the
# grouping sets, partial aggregation still applies per set.

_ROLLUP_SQL = """
SELECT event_type, CAST(user_id % 4 AS BIGINT) AS user_bucket,
       count(*) AS n, CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                           AS BIGINT) AS value_sum_c
FROM events
GROUP BY ROLLUP(event_type, CAST(user_id % 4 AS BIGINT))
"""


@register("rollup_event_counts", _ROLLUP_SQL)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP(event_type, user bucket): per-bucket rows,
    per-type subtotals, and a grand total in ONE aggregation pass —
    the report-style hierarchy the reference would need three jobs
    for. Values are cents-scaled integers so the subtotal sums
    hash-match exactly."""
    ev = load_table(spark, sf_dir, "events", widen=False)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return (
        ev.select(
            "event_type",
            (F.col("user_id") % 4).alias("user_bucket"),
            cents.alias("_c"),
        )
        .rollup("event_type", "user_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_c").cast("long").alias("value_sum_c"),
        )
    )


# GROUP BY CUBE: all 2^k grouping-set combinations in one pass — the
# OLAP cross-tab sibling of ROLLUP's hierarchy (type×bucket totals,
# per-type, per-bucket, AND grand total). Spark expands the sets
# before the partial aggregation, so it's still a single shuffle.
_CUBE_SQL = """
SELECT event_type, CAST(user_id % 4 AS BIGINT) AS user_bucket,
       count(*) AS n, CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                           AS BIGINT) AS value_sum_c
FROM events
GROUP BY CUBE(event_type, CAST(user_id % 4 AS BIGINT))
"""


@register("cube_event_counts", _CUBE_SQL)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE(event_type, user bucket): every margin of the
    cross-tab in one aggregation pass (one exchange after the
    grouping-set expansion). Cents-scaled integer sums hash-match
    exactly across engines."""
    ev = load_table(spark, sf_dir, "events", widen=False)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return (
        ev.select(
            "event_type",
            (F.col("user_id") % 4).alias("user_bucket"),
            cents.alias("_c"),
        )
        .cube("event_type", "user_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_c").cast("long").alias("value_sum_c"),
        )
    )


# running window frame: per-user cumulative sum in event order — the
# "balance so far" shape; one hash partition per key, sorted frame.

_RUNNING_SQL = """
SELECT event_id, user_id,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_c
FROM events WHERE user_id < 50
"""


@register("running_value_per_user", _RUNNING_SQL)
def q_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-user value in event-time order (rows-unbounded-
    preceding frame) — cents-scaled so the running sums are exact.
    Same single-shuffle WindowExec shape as sessionize."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events", widen=False).filter(
        F.col("user_id") < 50
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return ev.select(
        "event_id",
        "user_id",
        F.sum(cents).over(w).cast("long").alias("running_c"),
    )


# exact distinct aggregation — the family salted_aggregate explicitly
# refuses (DISTINCT is not algebraic over a salt split); Spark expands
# count(DISTINCT) into a two-shuffle exact plan itself.

_DISTINCT_SQL = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
"""


@register("distinct_users_per_type", _DISTINCT_SQL)
def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count(DISTINCT user_id) per event type. Catalyst plans
    this as partial-dedup on (type, user) then count — two exchanges,
    both map-side combined; at 100 TB with hot types the switch is
    approx_count_distinct (HLL, mergeable constant state)."""
    ev = load_table(spark, sf_dir, "events", widen=False)
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


# beaconing detection: malware C2 traffic polls on a fixed interval,
# so per-(user, type) inter-event gaps with LOW variance relative to
# their mean flag beacons — the classic security-analytics shape this
# engine's domain (proxy/DNS logs) exists for. Integer seconds keep
# the gap moments oracle-exact; the coefficient-of-variation division
# happens once per group on the exact sums.

_BEACON_SQL = """
WITH gaps AS (
  SELECT user_id, event_type,
         floor(epoch(ts))::BIGINT
           - lag(floor(epoch(ts))::BIGINT)
             OVER (PARTITION BY user_id, event_type
                   ORDER BY ts, event_id) AS gap_s
  FROM events
),
stats AS (
  SELECT user_id, event_type,
         count(gap_s) AS n_gaps,
         CAST(sum(gap_s) AS BIGINT) AS sum_s,
         CAST(sum(gap_s * gap_s) AS BIGINT) AS sum_s2
  FROM gaps WHERE gap_s IS NOT NULL
  GROUP BY 1, 2
)
SELECT user_id, event_type, n_gaps, sum_s, sum_s2,
       CAST(floor(
         sqrt(greatest(
           sum_s2::DOUBLE / n_gaps::DOUBLE
             - (sum_s::DOUBLE / n_gaps::DOUBLE)
               * (sum_s::DOUBLE / n_gaps::DOUBLE), 0))
         / greatest(sum_s::DOUBLE / n_gaps::DOUBLE, 1e-9)
         * 1000000 + 0.5) AS BIGINT) AS cv_x1e6
FROM stats WHERE n_gaps >= 3
"""


@register("beacon_interval_profile", _BEACON_SQL)
def q_beacon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beaconing detector: per (user, event_type), the coefficient of
    variation of inter-event gaps — near-zero CV means fixed-interval
    polling (C2 beacon candidate). One window pass (lag over the same
    user partition sessionize uses) then an algebraic aggregation of
    integer gap moments; CV is a post-agg projection, micro-scaled to
    int for hash-exact parity. At 100 TB this is the same
    single-shuffle-per-key shape as every other window op here."""
    from cybersecurity_miw_spark.operators.windows import _epoch_s
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events", widen=False)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    ts_s = _epoch_s(F.col("ts"))
    gap = ts_s - F.lag(ts_s).over(w)
    g = ev.select("user_id", "event_type", gap.alias("gap_s")).filter(
        F.col("gap_s").isNotNull()
    )
    stats = g.groupBy("user_id", "event_type").agg(
        F.count("gap_s").alias("n_gaps"),
        F.sum("gap_s").cast("long").alias("sum_s"),
        F.sum(F.col("gap_s") * F.col("gap_s")).cast("long").alias("sum_s2"),
    )
    n = F.col("n_gaps").cast("double")
    mean = F.col("sum_s").cast("double") / n
    var = F.greatest(
        F.col("sum_s2").cast("double") / n - mean * mean, F.lit(0.0)
    )
    cv = F.sqrt(var) / F.greatest(mean, F.lit(1e-9))
    return stats.filter(F.col("n_gaps") >= 3).select(
        "user_id",
        "event_type",
        "n_gaps",
        "sum_s",
        "sum_s2",
        F.floor(cv * 1000000 + F.lit(0.5)).cast("long").alias("cv_x1e6"),
    )


# pivot: long→wide reshaping (per-user activity profile, one column
# per event type). Spark's pivot with EXPLICIT values stays a single
# groupBy with conditional aggregates — no extra distinct-values job,
# no second shuffle; the oracle is the same conditional-sum expansion.

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_PIVOT_SQL = f"""
SELECT user_id,
       {", ".join(
           f"CAST(count(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT)"
           f" AS n_{t}" for t in _EVENT_TYPES
       )}
FROM events WHERE user_id < 100 GROUP BY user_id
"""


@register("pivot_user_activity", _PIVOT_SQL)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity profile via pivot — one column per event
    type. Passing the value list explicitly matters at scale: without
    it Spark runs a separate distinct-scan JOB to discover pivot
    columns before planning; with it the plan is the two-phase
    pivot aggregation alone (pre-agg on (user, type), then per-user
    column assembly — both exchanges map-side combined, same shape as
    the two-phase A9 histogram; verified: 2 exchanges, no extra
    job)."""
    ev = load_table(spark, sf_dir, "events", widen=False).filter(
        F.col("user_id") < 100
    )
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    )


# deterministic dataset splitting + exact stratified sampling
# (operators/sampling.py — beyond-reference LLM-pipeline surface, like
# dedup/similarity): md5-derived assignment recomputed bit-identically
# by both engines.

_SPLIT_SQL = """
SELECT doc_id,
       ('0x' || substr(md5('split-v1:' || doc_id), 1, 8))::BIGINT
         % 10000 AS bucket,
       CASE
         WHEN ('0x' || substr(md5('split-v1:' || doc_id), 1, 8))::BIGINT
              % 10000 < 9800 THEN 'train'
         WHEN ('0x' || substr(md5('split-v1:' || doc_id), 1, 8))::BIGINT
              % 10000 < 9900 THEN 'val'
         ELSE 'test'
       END AS split
FROM documents
"""


@register("split_train_val_test", _SPLIT_SQL)
def q_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 98/1/1 train/val/test assignment by md5 hash
    bucket (operators/sampling.py:split_assign): join-free narrow
    projection, stable across re-runs/backfills — the property that
    keeps eval contamination out as the corpus grows."""
    from cybersecurity_miw_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents", widen=False).select(
        "doc_id"
    )
    out = sampling.split_assign(
        docs, {"train": 0.98, "val": 0.01, "test": 0.01}
    )
    return out.select(
        "doc_id",
        sampling.hash_bucket(F.col("doc_id"), "split-v1").alias("bucket"),
        "split",
    )


_STRAT_SQL = """
WITH r AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('sample-v1:' || doc_id)
         ) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT doc_id, source FROM r WHERE rn <= ceil(n * 0.1)
"""


@register("stratified_sample_by_source", _STRAT_SQL)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 10% per-source sample
    (operators/sampling.py:stratified_exact_sample): ceil(0.1 * n)
    rows per stratum in md5 order — deterministic and unbiased, where
    sampleBy would be Bernoulli-approximate and unstable across runs.
    Both window functions share one hash partitioning on source."""
    from cybersecurity_miw_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents", widen=False)
    return sampling.stratified_exact_sample(
        docs, "source", 0.1
    ).select("doc_id", "source")


_MIX_SQL = """
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source ORDER BY md5('mix-v1:' || doc_id)
         ) AS rn
  FROM documents
  WHERE source IN ('src0', 'src1', 'src2')
),
keyed AS (
  SELECT doc_id, source,
         rn / (CASE source WHEN 'src0' THEN 0.6
                           WHEN 'src1' THEN 0.3
                           ELSE 0.1 END) AS mix_key
  FROM ranked
)
SELECT doc_id, source, round(mix_key, 6) AS mix_key_r
FROM keyed
ORDER BY mix_key, source, doc_id
LIMIT 60
"""


@register("weighted_interleave_prefix", _MIX_SQL)
def q_weighted_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 60 rows of a 60/30/10 src0/src1/src2 deterministic corpus
    mix (operators/sampling.py:weighted_interleave): every output
    prefix holds the weight proportions — the corpus-mixing step
    before training-shard writes. TakeOrdered prefix, no global
    sort."""
    from cybersecurity_miw_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents", widen=False)
    out = sampling.weighted_interleave(
        docs, "source", {"src0": 0.6, "src1": 0.3, "src2": 0.1}
    )
    return (
        out.orderBy("mix_key", "source", "doc_id")
        .limit(60)
        .select(
            "doc_id", "source",
            F.round("mix_key", 6).alias("mix_key_r"),
        )
    )


_TEMP_MIX_SQL = """
WITH pool AS (
  SELECT doc_id, source FROM documents
  -- doc_id = source-index mod 20 in the generated tables, so skew on
  -- the per-source sequence number (doc_id // 20): full src0, every
  -- 2nd src1 doc, every 5th src2 doc
  WHERE source = 'src0'
     OR (source = 'src1' AND (doc_id // 20) % 2 = 0)
     OR (source = 'src2' AND (doc_id // 20) % 5 = 0)
),
counts AS (
  SELECT source, CAST(count(*) AS DOUBLE) AS n FROM pool GROUP BY source
),
-- T=2 -> sqrt(n); denominator added in sorted-source order to match
-- the operator's bit-deterministic driver-side normalization
tot AS (
  SELECT (SELECT sqrt(n) FROM counts WHERE source = 'src0')
       + (SELECT sqrt(n) FROM counts WHERE source = 'src1')
       + (SELECT sqrt(n) FROM counts WHERE source = 'src2') AS t
),
w AS (SELECT source, sqrt(n) / (SELECT t FROM tot) AS wt FROM counts),
ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source ORDER BY md5('mix-v1:' || doc_id)
         ) AS rn
  FROM pool
),
keyed AS (
  SELECT r.doc_id, r.source, r.rn / w.wt AS mix_key
  FROM ranked r JOIN w ON r.source = w.source
)
SELECT doc_id, source, round(mix_key, 6) AS mix_key_r
FROM keyed
ORDER BY mix_key, source, doc_id
LIMIT 60
"""


@register("temperature_mix_prefix", _TEMP_MIX_SQL)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 60 rows of a TEMPERATURE-mixed (T=2) corpus interleave
    (operators/sampling.py:temperature_interleave): source weights =
    count^(1/T) normalized — the multinomial temperature-sampling
    rule of the published LLM data recipes (T=1 natural, T→∞
    uniform); the 3-source pool is deliberately skewed (full src0,
    half src1, fifth src2) so the weights are non-trivial. Weight
    math is sqrt-exact in both engines and normalized in sorted
    source order; interleave contract identical to
    `weighted_interleave_prefix`."""
    from cybersecurity_miw_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents", widen=False)
    pool = docs.filter(
        (F.col("source") == "src0")
        | (
            (F.col("source") == "src1")
            & (F.expr("(doc_id div 20) % 2") == 0)
        )
        | (
            (F.col("source") == "src2")
            & (F.expr("(doc_id div 20) % 5") == 0)
        )
    )
    out = sampling.temperature_interleave(pool, "source", temperature=2.0)
    return (
        out.orderBy("mix_key", "source", "doc_id")
        .limit(60)
        .select(
            "doc_id", "source",
            F.round("mix_key", 6).alias("mix_key_r"),
        )
    )


_MIX_BUDGET_SQL = """
WITH pool AS (
  SELECT doc_id, source, n_chars FROM documents
  -- the temperature_mix_prefix skew: full src0, every 2nd src1 doc,
  -- every 5th src2 doc (doc_id // 20 is the per-source sequence no.)
  WHERE source = 'src0'
     OR (source = 'src1' AND (doc_id // 20) % 2 = 0)
     OR (source = 'src2' AND (doc_id // 20) % 5 = 0)
),
st AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS tok
  FROM pool GROUP BY source
),
-- T=2 -> weight sqrt(tokens); cap = max_epochs(2) * tokens
p AS (
  SELECT source, tok, sqrt(CAST(tok AS DOUBLE)) AS pw, 2 * tok AS cap
  FROM st
),
-- water-fill round 1 over all three sources; float ops in sorted
-- source order to mirror the operator's driver-side arithmetic
r1 AS (
  SELECT source, tok, pw, cap,
         CAST(floor(20000 * (pw / (
             (SELECT pw FROM p WHERE source = 'src0')
           + (SELECT pw FROM p WHERE source = 'src1')
           + (SELECT pw FROM p WHERE source = 'src2')))) AS BIGINT)
         AS alloc1
  FROM p
),
c1 AS (SELECT *, alloc1 >= cap AS capped1 FROM r1),
-- round 2: capped sources frozen at cap, surplus re-filled over the
-- rest (x + 0.0 is exact, so the coalesce-sum keeps the sorted order)
rem2 AS (
  SELECT 20000 - coalesce(sum(CASE WHEN capped1 THEN cap END), 0) AS rem
  FROM c1
),
p2 AS (
  SELECT coalesce(
           (SELECT pw FROM c1 WHERE source = 'src0' AND NOT capped1), 0)
       + coalesce(
           (SELECT pw FROM c1 WHERE source = 'src1' AND NOT capped1), 0)
       + coalesce(
           (SELECT pw FROM c1 WHERE source = 'src2' AND NOT capped1), 0)
         AS pw2
),
tgt AS (
  SELECT source, tok,
         CASE WHEN capped1 THEN cap
              ELSE CAST(floor((SELECT rem FROM rem2)
                              * (pw / (SELECT pw2 FROM p2))) AS BIGINT)
         END AS target
  FROM c1
),
tot AS (SELECT CAST(sum(target) AS BIGINT) AS total FROM tgt),
spec AS (
  SELECT source, tok, target, target // tok AS fullep, target % tok AS rem
  FROM tgt WHERE target > 0
),
ranked AS (
  SELECT pool.doc_id, pool.source, pool.n_chars,
         sum(pool.n_chars) OVER (
           PARTITION BY pool.source
           ORDER BY md5('mix-v1:' || pool.doc_id), pool.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM pool
),
-- unnest the (<= sources)-row spec BEFORE the corpus join: DuckDB's
-- filter pushdown cannot bind an unnest alias through a join
se AS (
  SELECT source, tok, fullep, rem, target,
         unnest(generate_series(0, fullep)) AS epoch
  FROM spec
),
ep AS (
  SELECT r.doc_id, r.source, r.cum,
         s.tok, s.fullep, s.rem, s.target, s.epoch
  FROM ranked r JOIN se s ON r.source = s.source
)
SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch,
       round(CAST(epoch * tok + cum AS DOUBLE)
             * (CAST((SELECT total FROM tot) AS DOUBLE)
                / CAST(target AS DOUBLE)), 6) AS mix_key_r
FROM ep
WHERE epoch < fullep OR (rem > 0 AND cum <= rem)
"""


@register("mix_to_budget_epochs", _MIX_BUDGET_SQL)
def q_mix_to_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-capped temperature mixing to a 20k-token budget
    (operators/sampling.py:mix_to_budget) — the published LLM
    data-recipe rule temperature weights alone leave out
    (Muennighoff et al. data-constrained scaling): the small hot
    source repeats whole md5-ordered epochs but never past
    max_epochs=2 (at sf0.01 src2 caps in water-fill round 1 and its
    surplus re-fills src0/src1 in round 2), large sources truncate to
    a greedy md5-prefix partial epoch, and every (doc, epoch) row
    carries the token-proportional interleave ``mix_key``. The
    driver-side water-fill arithmetic is evaluated in sorted-source
    order so the DuckDB twin unrolls the identical rounds
    bit-exactly."""
    from cybersecurity_miw_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents", widen=False)
    pool = docs.filter(
        (F.col("source") == "src0")
        | (
            (F.col("source") == "src1")
            & (F.expr("(doc_id div 20) % 2") == 0)
        )
        | (
            (F.col("source") == "src2")
            & (F.expr("(doc_id div 20) % 5") == 0)
        )
    )
    out = sampling.mix_to_budget(
        pool, 20000, tokens_col="n_chars",
        temperature=2.0, max_epochs=2,
    )
    return out.select(
        "doc_id", "source",
        F.col("epoch").cast("long").alias("epoch"),
        F.round("mix_key", 6).alias("mix_key_r"),
    )


# DSIR importance resampling (Xie et al., arXiv 2302.03169): the twin
# replays hashed-ngram profiles (unigrams + space-joined bigrams →
# md5 bucket), the add-one-smoothed per-bucket micro-nat LLR from
# integer counts, per-doc integer weight sums, the md5-Gumbel
# perturbation, and the top-k — every float comes from identical
# integer counts and is floored to micro-nats before any sum, the
# split_word_divergence convention
_DSIR_NB = 1024
# shared CTE chain (raw + target grams -> buckets -> smoothed LLR ->
# per-doc integer weight sums) for both DSIR twins
_DSIR_CTES = f"""rawd AS (SELECT doc_id, source, n_chars, text FROM documents),
tgt AS (
  SELECT doc_id, text FROM documents
  WHERE source = 'src0' AND doc_id % 7 = 0
),
rw AS (
  SELECT doc_id,
         list_filter(str_split_regex(lower(trim(coalesce(text, ''))),
                                     '\\s+'), x -> len(x) > 0) AS w
  FROM rawd
),
tw AS (
  SELECT doc_id,
         list_filter(str_split_regex(lower(trim(coalesce(text, ''))),
                                     '\\s+'), x -> len(x) > 0) AS w
  FROM tgt
),
rgrams AS (
  SELECT doc_id, unnest(w) AS gram FROM rw
  UNION ALL
  SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
                         FOR i IN generate_series(1, len(w) - 1)]) AS gram
  FROM rw WHERE len(w) >= 2
),
tgrams AS (
  SELECT doc_id, unnest(w) AS gram FROM tw
  UNION ALL
  SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
                         FOR i IN generate_series(1, len(w) - 1)]) AS gram
  FROM tw WHERE len(w) >= 2
),
rprof AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(gram), 1, 8))::BIGINT % {_DSIR_NB} AS INT)
           AS bucket,
         count(*) AS cnt
  FROM rgrams GROUP BY 1, 2
),
rb AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS rc FROM rprof GROUP BY 1),
tb AS (
  SELECT CAST(('0x' || substr(md5(gram), 1, 8))::BIGINT % {_DSIR_NB} AS INT)
           AS bucket,
         CAST(count(*) AS BIGINT) AS tc
  FROM tgrams GROUP BY 1
),
tots AS (
  SELECT (SELECT sum(rc) FROM rb) AS tot_r, (SELECT sum(tc) FROM tb) AS tot_t
),
llr AS (
  SELECT rb.bucket,
         CAST(floor((ln((coalesce(tb.tc, 0) + 1)
                        / ((SELECT tot_t FROM tots) + {_DSIR_NB} + 0.0))
                     - ln((rb.rc + 1)
                          / ((SELECT tot_r FROM tots) + {_DSIR_NB} + 0.0)))
                    * 1000000.0 + 0.5) AS BIGINT) AS llr_micro
  FROM rb LEFT JOIN tb ON rb.bucket = tb.bucket
),
wsum AS (
  SELECT p.doc_id, CAST(sum(p.cnt * l.llr_micro) AS BIGINT) AS llr_micro_sum
  FROM rprof p JOIN llr l ON p.bucket = l.bucket
  GROUP BY 1
)"""

_DSIR_SQL = f"""
WITH {_DSIR_CTES},
scored AS (
  SELECT r.doc_id, r.source,
         coalesce(w.llr_micro_sum, 0) AS llr_micro_sum,
         coalesce(w.llr_micro_sum, 0)
         + CAST(floor(-ln(-ln(
               (('0x' || substr(md5('dsir-v1:' || r.doc_id), 1, 8))::BIGINT
                + 0.5) / 4294967296.0))
             * 1000000.0 + 0.5) AS BIGINT) AS dsir_score
  FROM rawd r LEFT JOIN wsum w ON r.doc_id = w.doc_id
)
SELECT doc_id, source, llr_micro_sum, dsir_score
FROM scored
ORDER BY dsir_score DESC, doc_id ASC
LIMIT 25
"""


@register("dsir_select_topk", _DSIR_SQL)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators/dsir.py — Xie et al., arXiv
    2302.03169): raw documents resampled toward a target exemplar
    (the src0 doc_id%7 slice) by hashed-ngram importance weight,
    Gumbel top-25 without replacement. Integer micro-nat weights +
    md5 Gumbel make the draw deterministic and engine-portable; the
    LLR table is n_buckets-bounded and broadcast."""
    from cybersecurity_miw_spark.operators import dsir

    docs = load_table(spark, sf_dir, "documents", widen=False)
    target = docs.filter(
        (F.col("source") == "src0") & (F.col("doc_id") % 7 == 0)
    ).select("doc_id", "text")
    out = dsir.dsir_select(
        docs.select("doc_id", "source", "text"),
        target,
        25,
        n_buckets=_DSIR_NB,
    )
    return out.select("doc_id", "source", "llr_micro_sum", "dsir_score")


# DSIR to a TOKEN budget: grade the micro-nat weights onto a bounded
# 1000-step grid (min/max bounds — two scalar subqueries, mirroring
# the operator's two driver scalars), then the budget_select walk
# (grade DESC, md5 tiebreak, inclusive running token sum). The oracle
# states the LOGICAL one-window spec; the operator runs the
# bucket-decomposed plan, so a green row proves the decomposition AND
# the grading arithmetic.
_DSIR_BUDGET_TOKENS = 15_000
_DSIR_BUDGET_SQL = f"""
WITH {_DSIR_CTES},
scored AS (
  SELECT r.doc_id, r.source, r.n_chars,
         coalesce(w.llr_micro_sum, 0) AS llr_micro_sum
  FROM rawd r LEFT JOIN wsum w ON r.doc_id = w.doc_id
),
bounds AS (
  SELECT min(llr_micro_sum) AS lo,
         greatest(max(llr_micro_sum) - min(llr_micro_sum), 1) AS span
  FROM scored
),
graded AS (
  SELECT doc_id, source, n_chars, llr_micro_sum,
         CAST(floor((llr_micro_sum - (SELECT lo FROM bounds)) * 1000.0
                    / (SELECT span FROM bounds)) AS INT) AS dsir_grade
  FROM scored
),
sel AS (
  SELECT doc_id, source, n_chars, llr_micro_sum, dsir_grade,
         sum(n_chars) OVER (
           ORDER BY dsir_grade DESC, md5('dsir-v1:' || doc_id), doc_id
           ROWS UNBOUNDED PRECEDING) AS run
  FROM graded
)
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
       llr_micro_sum, dsir_grade
FROM sel WHERE run <= {_DSIR_BUDGET_TOKENS}
"""


@register("dsir_select_budget", _DSIR_BUDGET_SQL)
def q_dsir_select_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR to a 15k-token budget (operators/dsir.py:
    dsir_select_to_budget): importance weights graded onto the
    bounded 1000-step grid, then the greedy budget walk — "the most
    target-like corpus that fits the training budget". Same target
    exemplar as dsir_select_topk."""
    from cybersecurity_miw_spark.operators import dsir

    docs = load_table(spark, sf_dir, "documents", widen=False)
    target = docs.filter(
        (F.col("source") == "src0") & (F.col("doc_id") % 7 == 0)
    ).select("doc_id", "text")
    out = dsir.dsir_select_to_budget(
        docs.select("doc_id", "source", "text", "n_chars"),
        target,
        _DSIR_BUDGET_TOKENS,
        tokens_col="n_chars",
        n_buckets=_DSIR_NB,
    )
    return out.select(
        "doc_id", "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        "llr_micro_sum", "dsir_grade",
    )


# the dataset card on top of the SAME mix: wrap the full budget-mix
# twin as a derived table, re-attach per-row tokens, and group — the
# report numbers (rows, distinct docs, effective epochs, token share)
# are then exact over the bit-deterministic mix
_MIX_REPORT_SQL = f"""
SELECT m.source,
       count(*) AS n_rows,
       count(DISTINCT m.doc_id) AS n_docs,
       max(m.epoch) AS max_epoch,
       CAST(sum(d.n_chars) AS BIGINT) AS tokens,
       round(count(*)::DOUBLE / count(DISTINCT m.doc_id), 6)
         AS effective_epochs_r,
       round(sum(d.n_chars)::DOUBLE
             / (SELECT sum(d2.n_chars)
                FROM ({_MIX_BUDGET_SQL}) m2
                JOIN documents d2 ON d2.doc_id = m2.doc_id), 6)
         AS token_share_r
FROM ({_MIX_BUDGET_SQL}) m
JOIN documents d ON d.doc_id = m.doc_id
GROUP BY m.source
"""


@register("mix_report_by_source", _MIX_REPORT_SQL)
def q_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card of the budget mix
    (operators/sampling.py:mix_report): emitted rows, distinct docs,
    max epoch, training tokens (repeats counted), the measured
    effective-epochs repetition factor, and each source's final
    token share — the audit a data-constrained-scaling recipe runs
    against its intended weights. One hash agg on the source key;
    the share window spans only the sources-bounded report frame."""
    from cybersecurity_miw_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents", widen=False)
    pool = docs.filter(
        (F.col("source") == "src0")
        | (
            (F.col("source") == "src1")
            & (F.expr("(doc_id div 20) % 2") == 0)
        )
        | (
            (F.col("source") == "src2")
            & (F.expr("(doc_id div 20) % 5") == 0)
        )
    )
    mixed = sampling.mix_to_budget(
        pool, 20000, tokens_col="n_chars",
        temperature=2.0, max_epochs=2,
    )
    rep = sampling.mix_report(mixed, tokens_col="n_chars")
    return rep.select(
        "source", "n_rows", "n_docs", "max_epoch", "tokens",
        F.round("effective_epochs", 6).alias("effective_epochs_r"),
        F.round("token_share", 6).alias("token_share_r"),
    )


_DECONTAM_SQL = f"""
WITH {_SIGS_CTE},
banded AS (
  SELECT doc_id, b.b AS band,
         md5(array_to_string(sig[b.b*{_NR}+1:b.b*{_NR}+{_NR}], '|')) AS band_hash
  FROM sigs, (SELECT unnest(generate_series(0, {_NB - 1})) AS b) b
),
cross_cands AS (
  SELECT DISTINCT t.doc_id AS train_id, e.doc_id AS eval_id
  FROM banded t JOIN banded e
    ON t.band = e.band AND t.band_hash = e.band_hash
  WHERE t.doc_id % 5 != 0 AND e.doc_id % 5 = 0
),
near_hit AS (
  SELECT DISTINCT train_id
  FROM cross_cands
  JOIN shingled st ON st.doc_id = train_id
  JOIN shingled se ON se.doc_id = eval_id
  WHERE len(list_intersect(st.sh, se.sh))::DOUBLE
        / greatest(len(list_distinct(st.sh || se.sh)), 1) >= 0.8
),
exact_hit AS (
  SELECT DISTINCT t.doc_id AS train_id
  FROM documents t JOIN documents e
    ON {_FP_SQL.replace('text', 't.text')} =
       {_FP_SQL.replace('text', 'e.text')}
  WHERE t.doc_id % 5 != 0 AND e.doc_id % 5 = 0
)
SELECT doc_id, n_chars FROM documents
WHERE doc_id % 5 != 0
  AND doc_id NOT IN (SELECT train_id FROM near_hit)
  AND doc_id NOT IN (SELECT train_id FROM exact_hit)
"""


@register("decontaminate_train_vs_eval", _DECONTAM_SQL)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split decontamination (operators/dedup.py:decontaminate):
    train rows (doc_id % 5 != 0) that survive exact-fingerprint and
    LSH+Jaccard>=0.8 near-dup checks against the eval split
    (doc_id % 5 == 0) — eval leakage removal, the dedup step training
    pipelines must run BETWEEN splits, not just within one."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    train = docs.filter(F.col("doc_id") % 5 != 0)
    ev = docs.filter(F.col("doc_id") % 5 == 0)
    return dedup.decontaminate(train, ev, threshold=0.8).select(
        "doc_id", "n_chars"
    )


@register("pack_sequences_bins")  # rows-only: stateful greedy packing
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (operators/packing.py):
    partition-local first-fit-decreasing via applyInPandas — P
    independent packers, no driver loop. Not SQL-expressible (greedy
    stateful assignment), so the driver records rows-only; the FFD
    invariants (budget respected, waste bound, determinism) are
    golden-pinned in tests/test_packing.py."""
    from cybersecurity_miw_spark.operators import packing

    docs = load_table(spark, sf_dir, "documents", widen=False).select(
        "doc_id", "n_chars"
    )
    return packing.pack_sequences(
        docs, 2000, weight_col="n_chars", n_packers=8
    )


# ---------------------------------------------------------------------------
# corpus-quality filtering (operators/corpus_filters.py): Gopher/C4
# rule metrics + keep flag, top-bigram profile, within-doc repetition
# removal, and PII redaction — the curation stage between raw crawl
# and dedup in a training-data pipeline.
# ---------------------------------------------------------------------------

_R6 = "floor(({}) * 1000000 + 0.5) / 1000000"

_GOPHER_SQL = f"""
WITH w AS (
  SELECT doc_id, str_split_regex(lower(trim(coalesce(text, ''))), '\\s+') AS w FROM documents
),
m AS (
  SELECT doc_id,
         len(w) AS n_words,
         {_R6.format("list_sum(list_transform(w, x -> len(x)))::DOUBLE / greatest(len(w), 1)")} AS mean_word_len,
         {_R6.format("len(list_filter(w, x -> regexp_matches(x, '[a-z]')))::DOUBLE / greatest(len(w), 1)")} AS alpha_word_frac,
         {_R6.format("1.0 - len(list_distinct(w))::DOUBLE / greatest(len(w), 1)")} AS dup_word_frac
  FROM w
),
grams AS (
  SELECT doc_id,
         greatest(len(array_to_string(w, ' ')), 1) AS _len,
         unnest(CASE WHEN len(w) >= 2
                     THEN list_transform(generate_series(1, len(w) - 1),
                                         i -> w[i] || ' ' || w[i+1])
                     ELSE [array_to_string(w, ' ')] END) AS gram
  FROM w
),
gc AS (SELECT doc_id, _len, gram, count(*) AS c FROM grams GROUP BY 1, 2, 3),
top AS (
  SELECT doc_id, _len, max({{'c': c, 'g': gram}}) AS tp
  FROM gc GROUP BY 1, 2
),
t AS (
  SELECT doc_id,
         {_R6.format("struct_extract(tp, 'c') * len(struct_extract(tp, 'g'))::DOUBLE / _len")} AS top_gram_frac
  FROM top
)
SELECT m.doc_id, n_words, mean_word_len, alpha_word_frac, dup_word_frac,
       top_gram_frac,
       (n_words >= 20 AND n_words <= 100000
        AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
        AND dup_word_frac <= 0.55 AND top_gram_frac <= 0.10) AS keep
FROM m JOIN t ON m.doc_id = t.doc_id
"""


@register("gopher_quality_flags", _GOPHER_SQL)
def q_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rules (operators/corpus_filters.py:
    gopher_flags): per-doc word-count / word-length / repetition
    metrics plus a boolean keep decision. Narrow metrics are
    shuffle-free; the only exchange is the top-bigram count on the
    uniform (doc_id, gram) key."""
    from cybersecurity_miw_spark.operators import corpus_filters

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return corpus_filters.gopher_flags(docs)


# The full Gopher Table A1 repetition battery. The pool plants
# structure so every metric is non-vacuous: doc_id%11 docs are
# self-concatenated across a newline (duplicate lines AND whole-doc
# 5..10-gram repetition), doc_id%7 docs have sentence breaks turned
# into paragraph breaks. Both engines derive the pool identically.
_GREP_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0
                THEN coalesce(text, '') || chr(10) || chr(10)
                     || coalesce(text, '')
              WHEN doc_id % 7 = 0
                THEN replace(coalesce(text, ''), '. ', chr(10) || chr(10))
              ELSE coalesce(text, '') END AS raw
  FROM documents
),
le AS (
  SELECT doc_id,
         list_filter(list_transform(str_split(raw, chr(10)),
                                    x -> trim(x)), x -> len(x) > 0) AS e
  FROM d
),
pe AS (
  SELECT doc_id,
         list_filter(list_transform(str_split(raw, chr(10) || chr(10)),
                                    x -> trim(x)), x -> len(x) > 0) AS e
  FROM d
),
lp AS (
  SELECT l.doc_id,
         CASE WHEN len(l.e) > 0
              THEN (len(l.e) - len(list_distinct(l.e)))::DOUBLE / len(l.e)
              ELSE 0.0 END AS dup_line_frac,
         CASE WHEN list_sum(list_transform(l.e, x -> len(x))) > 0
              THEN list_sum([CASE WHEN i > 1 AND
                                       list_position(l.e[1:i-1], l.e[i])
                                       IS NOT NULL
                                  THEN len(l.e[i]) ELSE 0 END
                             FOR i IN generate_series(1, len(l.e))])::DOUBLE
                   / list_sum(list_transform(l.e, x -> len(x)))
              ELSE 0.0 END AS dup_line_char_frac,
         CASE WHEN len(p.e) > 0
              THEN (len(p.e) - len(list_distinct(p.e)))::DOUBLE / len(p.e)
              ELSE 0.0 END AS dup_para_frac,
         CASE WHEN list_sum(list_transform(p.e, x -> len(x))) > 0
              THEN list_sum([CASE WHEN i > 1 AND
                                       list_position(p.e[1:i-1], p.e[i])
                                       IS NOT NULL
                                  THEN len(p.e[i]) ELSE 0 END
                             FOR i IN generate_series(1, len(p.e))])::DOUBLE
                   / list_sum(list_transform(p.e, x -> len(x)))
              ELSE 0.0 END AS dup_para_char_frac
  FROM le l JOIN pe p ON l.doc_id = p.doc_id
),
w AS (
  SELECT doc_id,
         list_filter(str_split_regex(lower(trim(raw)), '\\s+'),
                     x -> len(x) > 0) AS w
  FROM d
),
tc AS (
  SELECT doc_id,
         coalesce(list_sum(list_transform(w, x -> len(x))), 0)
         + greatest(len(w) - 1, 0) AS tc
  FROM w
),
ns AS (SELECT unnest(generate_series(2, 10)) AS n),
g0 AS (
  SELECT doc_id, n,
         unnest([{{'pos': i, 'g': array_to_string(w[i+1:i+n], ' ')}}
                 FOR i IN generate_series(0, len(w) - n)]) AS u
  FROM w, ns WHERE len(w) >= n
),
grams AS (SELECT doc_id, n, u.pos AS pos, u.g AS g FROM g0),
counted AS (
  SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY 1, 2, 3
),
top AS (
  SELECT c.doc_id, c.n,
         max(c.c * len(c.g))::DOUBLE / t.tc AS frac
  FROM counted c JOIN tc t ON c.doc_id = t.doc_id
  WHERE c.n <= 4 AND t.tc > 0
  GROUP BY c.doc_id, c.n, t.tc
),
dup_occ AS (
  SELECT g.doc_id, g.n, g.pos AS s, g.pos + g.n AS e
  FROM grams g JOIN counted c
    ON g.doc_id = c.doc_id AND g.n = c.n AND g.g = c.g
  WHERE g.n >= 5 AND c.c >= 2
),
flagged AS (
  SELECT doc_id, n, s, e,
         CASE WHEN s > max(e) OVER (PARTITION BY doc_id, n ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                OR max(e) OVER (PARTITION BY doc_id, n ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              THEN 1 ELSE 0 END AS newgrp
  FROM dup_occ
),
grouped AS (
  SELECT doc_id, n, s, e,
         sum(newgrp) OVER (PARTITION BY doc_id, n ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM flagged
),
islands AS (
  SELECT doc_id, n, min(s) AS s, max(e) AS e
  FROM grouped GROUP BY doc_id, n, grp
),
dupn AS (
  SELECT i.doc_id, i.n,
         sum(list_sum(list_transform(w.w[i.s+1:i.e], x -> len(x)))
             + (i.e - i.s - 1))::DOUBLE / t.tc AS frac
  FROM islands i
  JOIN w ON w.doc_id = i.doc_id
  JOIN tc t ON t.doc_id = i.doc_id
  WHERE t.tc > 0
  GROUP BY i.doc_id, i.n, t.tc
),
fr AS (SELECT * FROM top UNION ALL SELECT * FROM dupn),
pv AS (
  SELECT doc_id,
         {", ".join(f"coalesce(max(CASE WHEN n = {n} THEN frac END), 0.0) AS f{n}" for n in range(2, 11))}
  FROM fr GROUP BY doc_id
),
m AS (
  SELECT lp.doc_id,
         {_R6.format("lp.dup_line_frac")} AS dup_line_frac,
         {_R6.format("lp.dup_line_char_frac")} AS dup_line_char_frac,
         {_R6.format("lp.dup_para_frac")} AS dup_para_frac,
         {_R6.format("lp.dup_para_char_frac")} AS dup_para_char_frac,
         {", ".join(_R6.format(f"coalesce(pv.f{n}, 0.0)") + f" AS top_{n}_gram_char_frac" for n in (2, 3, 4))},
         {", ".join(_R6.format(f"coalesce(pv.f{n}, 0.0)") + f" AS dup_{n}_gram_char_frac" for n in range(5, 11))}
  FROM lp LEFT JOIN pv ON lp.doc_id = pv.doc_id
)
SELECT *,
       (dup_line_frac <= 0.30 AND dup_para_frac <= 0.30
        AND dup_line_char_frac <= 0.20 AND dup_para_char_frac <= 0.20
        AND top_2_gram_char_frac <= 0.20 AND top_3_gram_char_frac <= 0.18
        AND top_4_gram_char_frac <= 0.16 AND dup_5_gram_char_frac <= 0.15
        AND dup_6_gram_char_frac <= 0.14 AND dup_7_gram_char_frac <= 0.13
        AND dup_8_gram_char_frac <= 0.12 AND dup_9_gram_char_frac <= 0.11
        AND dup_10_gram_char_frac <= 0.10) AS keep
FROM m
"""


@register("gopher_repetition_battery", _GREP_SQL)
def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE Gopher Table A1 repetition battery
    (operators/corpus_filters.py:gopher_repetition_flags): duplicate
    line/paragraph fractions (row- and char-weighted), top-{2,3,4}
    n-gram char mass, duplicated {5..10}-gram char coverage via the
    gaps-and-islands merge, and the paper-threshold keep flag. The
    pool plants newline/paragraph/self-repetition structure (see the
    SQL comment) so every metric is exercised."""
    from cybersecurity_miw_spark.operators import corpus_filters

    docs = load_table(spark, sf_dir, "documents", widen=True)
    raw = F.coalesce(F.col("text"), F.lit(""))
    pool = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(raw, F.lit("\n\n"), raw),
        )
        .when(
            F.col("doc_id") % 7 == 0,
            F.replace(raw, F.lit(". "), F.lit("\n\n")),
        )
        .otherwise(raw)
        .alias("text"),
    )
    return corpus_filters.gopher_repetition_flags(pool)


# C4 §2.2 page rules. The synthetic documents contain NO terminal
# punctuation, so the pool plants sentences deterministically in both
# engines: a period after three common words, then sentence breaks
# become line breaks (docs with <5 of those words fail the sentence
# rule naturally); %13/%17/%19/%23 docs append one lorem / brace /
# javascript / planted-badword line each.
_C4_SQL = """
WITH d0 AS (
  SELECT doc_id,
         replace(replace(replace(replace(coalesce(text, ''),
             ' join ', ' join. '),
             ' hash ', ' hash. '),
             ' row ', ' row. '),
             '. ', '.' || chr(10)) AS t
  FROM documents
),
d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0
                THEN t || chr(10) || 'lorem ipsum dolor sit amet.'
              WHEN doc_id % 17 = 0
                THEN t || chr(10) || 'this line has a brace { in it.'
              WHEN doc_id % 19 = 0
                THEN t || chr(10) || 'please enable javascript to continue.'
              WHEN doc_id % 23 = 0
                THEN t || chr(10) || 'this line hides xbadwordx in plain sight.'
              ELSE t END AS raw
  FROM d0
),
l AS (
  SELECT doc_id,
         list_filter(list_transform(str_split(raw, chr(10)),
                                    x -> trim(x)), x -> len(x) > 0) AS lines
  FROM d
),
k AS (
  SELECT doc_id, lines,
         list_filter(lines, e ->
           regexp_matches(e, '[.!?]["'']?$')
           AND len(list_filter(str_split_regex(e, '\\s+'),
                               x -> len(x) > 0)) >= 3
           AND NOT regexp_matches(lower(e), '\\bjavascript\\b')) AS kept
  FROM l
),
c AS (
  SELECT doc_id, lines, kept,
         -- array_to_string([]) is NULL in DuckDB; Spark array_join
         -- gives '' — coalesce so empty pages agree
         coalesce(array_to_string(kept, chr(10)), '') AS clean
  FROM k
)
SELECT doc_id,
       clean AS clean_text,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_lines_kept,
       CAST(len(str_split_regex(clean, '[.!?]+')) - 1 AS BIGINT)
         AS n_sentences,
       contains(lower(clean), 'lorem ipsum') AS has_lorem_ipsum,
       contains(clean, '{') AS has_brace,
       regexp_matches(lower(clean), '\\b(xbadwordx)\\b') AS has_badword,
       (len(str_split_regex(clean, '[.!?]+')) - 1 >= 5
        AND NOT contains(lower(clean), 'lorem ipsum')
        AND NOT contains(clean, '{')
        AND NOT regexp_matches(lower(clean), '\\b(xbadwordx)\\b')) AS keep
FROM c
"""


@register("c4_page_rules", _C4_SQL)
def q_c4_page_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 §2.2 page cleaning (operators/corpus_filters.py:
    c4_page_filters): terminal-punct line retention, short/javascript
    line drops, lorem-ipsum / brace / badword / sentence-count page
    flags — shuffle-free per-row expressions. The pool plants
    sentence and pathology structure (see the SQL comment) so every
    rule fires on real rows."""
    from cybersecurity_miw_spark.operators import corpus_filters

    docs = load_table(spark, sf_dir, "documents", widen=True)
    raw = F.coalesce(F.col("text"), F.lit(""))
    t = F.replace(
        F.replace(
            F.replace(
                F.replace(raw, F.lit(" join "), F.lit(" join. ")),
                F.lit(" hash "),
                F.lit(" hash. "),
            ),
            F.lit(" row "),
            F.lit(" row. "),
        ),
        F.lit(". "),
        F.lit(".\n"),
    )
    pool = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(t, F.lit("\nlorem ipsum dolor sit amet.")),
        )
        .when(
            F.col("doc_id") % 17 == 0,
            F.concat(t, F.lit("\nthis line has a brace { in it.")),
        )
        .when(
            F.col("doc_id") % 19 == 0,
            F.concat(t, F.lit("\nplease enable javascript to continue.")),
        )
        .when(
            F.col("doc_id") % 23 == 0,
            F.concat(
                t, F.lit("\nthis line hides xbadwordx in plain sight.")
            ),
        )
        .otherwise(t)
        .alias("text"),
    )
    return corpus_filters.c4_page_filters(pool, badwords=("xbadwordx",))


_TOP_BIGRAM_SQL = f"""
WITH w AS (
  SELECT doc_id, str_split_regex(lower(trim(coalesce(text, ''))), '\\s+') AS w FROM documents
),
grams AS (
  SELECT doc_id,
         greatest(len(array_to_string(w, ' ')), 1) AS _len,
         unnest(CASE WHEN len(w) >= 2
                     THEN list_transform(generate_series(1, len(w) - 1),
                                         i -> w[i] || ' ' || w[i+1])
                     ELSE [array_to_string(w, ' ')] END) AS gram
  FROM w
),
gc AS (SELECT doc_id, _len, gram, count(*) AS c FROM grams GROUP BY 1, 2, 3),
top AS (
  SELECT doc_id, _len, max({{'c': c, 'g': gram}}) AS tp
  FROM gc GROUP BY 1, 2
)
SELECT doc_id, struct_extract(tp, 'g') AS top_gram,
       struct_extract(tp, 'c') AS top_count,
       {_R6.format("struct_extract(tp, 'c') * len(struct_extract(tp, 'g'))::DOUBLE / _len")} AS top_gram_frac
FROM top
"""


@register("top_bigram_profile", _TOP_BIGRAM_SQL)
def q_top_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent word bigram per document with its character-share
    (operators/corpus_filters.py:top_ngram_fraction) — the Gopher
    top-n-gram repetition signal; ties break to the largest gram so
    the reduce stays one algebraic max(struct) in both engines."""
    from cybersecurity_miw_spark.operators import corpus_filters

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return corpus_filters.top_ngram_fraction(docs, n=2)


# Repetition removal is exercised on a synthesized multi-line doc
# (testdata documents are single-line): both engines build
# [first-3-words, text, first-3-words] and must drop the trailing
# repeat while preserving order.
_REPEAT_SQL = """
WITH built AS (
  SELECT doc_id,
         concat_ws(chr(10),
                   regexp_extract(text, '^(\\S+\\s+\\S+\\s+\\S+)', 1),
                   text,
                   regexp_extract(text, '^(\\S+\\s+\\S+\\s+\\S+)', 1)) AS t
  FROM documents
),
l AS (SELECT doc_id, str_split(t, chr(10)) AS lines FROM built),
kept AS (
  SELECT doc_id, lines,
         list_filter(lines, (x, i) -> list_position(lines[1:i-1], x) = 0) AS keep_l
  FROM l
)
SELECT doc_id, array_to_string(keep_l, chr(10)) AS clean_text,
       len(lines) - len(keep_l) AS n_removed
FROM kept
"""


@register("remove_repeated_lines", _REPEAT_SQL)
def q_remove_repeated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repeated-line removal (operators/corpus_filters.py:
    remove_repeated_lines): C4 drops repeated lines inside a page;
    here the first occurrence survives, order preserved. Shuffle-free
    array expressions."""
    from cybersecurity_miw_spark.operators import corpus_filters

    docs = load_table(spark, sf_dir, "documents", widen=True)
    head3 = F.regexp_extract("text", r"^(\S+\s+\S+\s+\S+)", 1)
    built = docs.select(
        "doc_id",
        F.concat_ws("\n", head3, F.col("text"), head3).alias("t"),
    )
    return corpus_filters.remove_repeated_lines(built, text_col="t")


# PII redaction is exercised on text with deterministically injected
# PII (testdata documents contain none): both engines append the same
# synthetic email / IPv4 / 10-digit account string.
_PII_SQL = """
WITH built AS (
  SELECT doc_id,
         text || ' contact user' || doc_id::VARCHAR || '@example.com at 10.0.'
              || (doc_id % 256)::VARCHAR || '.' || ((doc_id * 7) % 256)::VARCHAR
              || ' acct 9' || lpad(doc_id::VARCHAR, 9, '0') AS t
  FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'),
         '\\b[0-9]{9,}\\b', '<NUM>', 'g') AS redacted,
       len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
       len(regexp_extract_all(t, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS n_ipv4,
       len(regexp_extract_all(t, '\\b[0-9]{9,}\\b')) AS n_longnum
FROM built
"""


@register("pii_redact_counts", _PII_SQL)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (operators/corpus_filters.py:pii_redact): emails,
    IPv4s, and long digit runs replaced by placeholders, with per-class
    counts on the original text. Patterns chosen to be Java-regex /
    RE2 equivalent; all JVM regexp, shuffle-free."""
    from cybersecurity_miw_spark.operators import corpus_filters

    docs = load_table(spark, sf_dir, "documents", widen=True)
    built = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com at 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit(" acct 9"),
            F.lpad(F.col("doc_id").cast("string"), 9, "0"),
        ).alias("t"),
    )
    return corpus_filters.pii_redact(built, text_col="t")


# Sliding-window chunking (operators/packing.py:chunk_documents):
# 16-token windows, stride 8 (overlapping context-continuation).
_CHUNK_SQL = """
WITH w AS (
  SELECT doc_id, str_split_regex(lower(trim(coalesce(text, ''))), '\\s+') AS w FROM documents
),
starts AS (
  SELECT doc_id, len(w) AS n, w,
         unnest(generate_series(1, greatest(len(w), 1), 8)) AS start
  FROM w
)
SELECT doc_id, CAST((start - 1) // 8 AS INT) AS chunk_id,
       array_to_string(w[start:start+15], ' ') AS chunk_text,
       least(16, n - start + 1) AS n_chunk_tokens
FROM starts
"""


@register("chunk_fixed_windows", _CHUNK_SQL)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize-and-chunk (operators/packing.py:chunk_documents):
    each doc becomes overlapping 16-token windows at stride 8 — the
    step that turns variable-length documents into training-sequence
    candidates. Shuffle-free: split + sequence + slice + posexplode,
    all JVM expressions."""
    from cybersecurity_miw_spark.operators import packing

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return packing.chunk_documents(docs, window=16, stride=8)


# Feature-hashing text embedding (operators/textstats.py:
# hashed_embedding): md5-bucket ±1 hashing trick, integer-exact until
# one sqrt + one division per component. The digest hashes the
# ordered component fold + the first component (array columns reduce
# to scalars for the cross-engine hash, as embedding_l2_normalize
# does).
_HASH_EMBED_SQL = """
WITH words AS (
  SELECT doc_id, unnest(str_split_regex(lower(trim(coalesce(text, ''))), '\\s+')) AS w
  FROM documents
),
fw AS (SELECT doc_id, w FROM words WHERE len(w) > 0),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(w), 1, 8))::BIGINT % 64 AS INT) AS b,
         CASE WHEN (('0x' || substr(md5(w), 1, 8))::BIGINT // 64) % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM fw
),
counted AS (
  SELECT doc_id, b, CAST(sum(s) AS BIGINT) AS v FROM hashed GROUP BY 1, 2
),
dense AS (
  SELECT d.doc_id, g.i, coalesce(c.v, 0) AS v
  FROM (SELECT DISTINCT doc_id FROM counted) d
  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) g
  LEFT JOIN counted c ON c.doc_id = d.doc_id AND c.b = g.i
),
norms AS (SELECT doc_id, sqrt(sum(v * v)) AS norm FROM dense GROUP BY 1),
vecs AS (
  SELECT dense.doc_id,
         list(floor(v / greatest(norm, 1e-12) * 1000000 + 0.5) / 1000000
              ORDER BY i) AS emb
  FROM dense JOIN norms n ON dense.doc_id = n.doc_id
  GROUP BY dense.doc_id, n.norm
)
SELECT doc_id,
       floor(list_sum(emb) * 1000000 + 0.5) / 1000000 AS comp_sum,
       emb[1] AS c0
FROM vecs
"""


@register("hashed_text_embedding", _HASH_EMBED_SQL)
def q_hashed_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick document embedding digest
    (operators/textstats.py:hashed_embedding): deterministic
    training-free text→vector bridge into the ANN/near-dup operators.
    One shuffle on the uniform (doc_id, bucket) key."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    emb = textstats.hashed_embedding(docs, dim=64)
    return emb.select(
        "doc_id",
        (
            F.floor(
                F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x)
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("comp_sum"),
        F.element_at("embedding", 1).alias("c0"),
    )


# Deterministic uniform-k sample (operators/sampling.py:
# uniform_sample_k): md5-rank TakeOrdered — the "grab 50 random docs"
# debugging need, stable across runs and monotone under growth.
_USAMPLE_SQL = """
SELECT doc_id, source FROM documents
ORDER BY md5('usample-v1:' || doc_id) LIMIT 50
"""


@register("uniform_sample_50", _USAMPLE_SQL)
def q_uniform_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-50 deterministic uniform sample (md5-rank TakeOrdered,
    no global sort, no RNG)."""
    from cybersecurity_miw_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents", widen=False).select(
        "doc_id", "source"
    )
    return sampling.uniform_sample_k(docs, 50)


# Exactly-k weighted sampling without replacement (operators/
# sampling.py:weighted_sample_k, Efraimidis–Spirakis): key =
# ln(u)/w from 52 md5 bits, quantized to 1e-12 int64 BEFORE the
# top-k so both engines order integers, not raw doubles.
_WSAMPLE_SQL = """
WITH s AS (
  SELECT doc_id, n_chars,
         CAST(floor(
           ln((('0x' || substr(md5('ws-v1:' || doc_id), 1, 13))::BIGINT
               + 0.5) / 4503599627370496.0)
           / n_chars * 1000000000000.0) AS BIGINT) AS score_u
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars, score_u
FROM s ORDER BY score_u DESC, doc_id LIMIT 32
"""


@register("weighted_sample_32_by_chars", _WSAMPLE_SQL)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-32 length-weighted sample without replacement (A-ES
    keys, md5 uniforms, TakeOrdered — no RNG, no global sort)."""
    from cybersecurity_miw_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents", widen=False).select(
        "doc_id", "n_chars"
    )
    return sampling.weighted_sample_k(docs, 32, "n_chars")


# Split-distribution drift QA (operators/sampling.py:
# split_word_divergence): JS divergence between the hash-split train
# and val word distributions. Every per-word term floors to micro-nat
# int64 BEFORE the global sum, so the reduction is order-independent
# and the oracle hashes exactly.
_SPLIT_DIV_SQL = """
WITH s AS (
  SELECT doc_id, text,
         CASE WHEN ('0x' || substr(md5('split-v1:' || doc_id), 1, 8))::BIGINT
                   % 10000 < 9000
              THEN 'train' ELSE 'val' END AS split
  FROM documents
),
words AS (
  SELECT split AS sp,
         unnest(str_split_regex(lower(trim(coalesce(text, ''))), '\\s+')) AS w
  FROM s
),
fw AS (SELECT sp, w FROM words WHERE len(w) > 0),
counts AS (
  SELECT w,
         sum(CASE WHEN sp = 'train' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN sp = 'val' THEN 1 ELSE 0 END) AS cb
  FROM fw GROUP BY 1
),
tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS ta, CAST(sum(cb) AS BIGINT) AS tb,
         count(*) AS v
  FROM counts
),
pq AS (
  SELECT (ca + 1) / (ta + v)::DOUBLE AS p,
         (cb + 1) / (tb + v)::DOUBLE AS q,
         v
  FROM counts CROSS JOIN tot
),
terms AS (
  SELECT v,
         CAST(floor((0.5 * p * ln(p / ((p + q) / 2))
                     + 0.5 * q * ln(q / ((p + q) / 2)))
                    * 1000000 + 0.5) AS BIGINT) AS t
  FROM pq
)
SELECT CAST(v AS INT) AS n_vocab, CAST(sum(t) AS BIGINT) AS js_micro_nats
FROM terms GROUP BY v
"""


@register("split_word_divergence", _SPLIT_DIV_SQL)
def q_split_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JS divergence between the 90/10 hash-split word distributions
    (operators/sampling.py:split_word_divergence): corpus-QA drift
    check — a healthy hash split scores near 0. Integer micro-nat
    terms make the global sum order-independent."""
    from cybersecurity_miw_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents", widen=True)
    split = sampling.split_assign(docs, {"train": 0.9, "val": 0.1})
    out = sampling.split_word_divergence(split)
    return out.select(
        F.col("n_vocab").cast("int").alias("n_vocab"), "js_micro_nats"
    )


# Token-budget corpus selection (operators/sampling.py:budget_select):
# greedy "best documents until the token budget is spent". The quality
# grade is pure integer arithmetic — score_pm = (1000·alpha_words·
# distinct_words) div n², i.e. alpha_word_frac × (1 − dup_word_frac)
# in permille without ever touching a float — so the bucket grid, the
# ordering, and the budget cut are bit-identical across engines. The
# oracle states the LOGICAL spec (one global ordered cumsum); the
# operator runs the bucket-decomposed physical plan, so a green row
# proves the decomposition is row-for-row faithful.
_BUDGET_TOKENS = 12_000

_BUDGET_SQL = f"""
WITH w AS (
  SELECT doc_id,
         str_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM documents
),
m AS (
  SELECT doc_id,
         greatest(len(ws), 1) AS n,
         len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS alpha,
         len(list_distinct(ws)) AS dist,
         len(ws) AS n_tokens
  FROM w
),
sc AS (
  SELECT doc_id, n_tokens,
         CAST((1000 * alpha * dist) // (n * n) AS INT) AS score_pm
  FROM m
),
sel AS (
  SELECT doc_id, score_pm, n_tokens,
         sum(n_tokens) OVER (
           ORDER BY score_pm DESC, md5('budget-v1:' || doc_id), doc_id
           ROWS UNBOUNDED PRECEDING) AS run
  FROM sc
)
SELECT doc_id, score_pm, CAST(n_tokens AS BIGINT) AS n_tokens
FROM sel WHERE run <= {_BUDGET_TOKENS}
"""


@register("budget_select_docs", _BUDGET_SQL)
def q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget selection at a 12k-token budget: integer
    quality permille → bucket-decomposed global cumsum → inclusive
    prefix under budget (operators/sampling.py:budget_select)."""
    from cybersecurity_miw_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents", widen=True)
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    staged = docs.select("doc_id", ws.alias("_w"))
    n = F.greatest(F.size("_w"), F.lit(1))
    alpha = F.size(F.filter("_w", lambda x: x.rlike("[a-z]")))
    dist = F.size(F.array_distinct("_w"))
    graded = staged.select(
        "doc_id",
        F.size("_w").cast("long").alias("n_tokens"),
        (F.lit(1000) * alpha * dist)
        .cast("long")
        .alias("_num"),
        (n * n).cast("long").alias("_den"),
    ).select(
        "doc_id",
        "n_tokens",
        F.expr("div(_num, _den)").cast("int").alias("score_pm"),
    )
    return sampling.budget_select(graded, _BUDGET_TOKENS)


# Schema-on-read JSON payload extraction: events.props is a JSON
# string; both engines pull $.k with their native JSON path functions
# and aggregate — the common "typed field out of a semi-structured
# payload" need (complements the delimiter/kv format compiler).
_JSON_PROPS_SQL = """
SELECT event_type,
       CAST(sum(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS k_sum,
       CAST(max(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS k_max,
       count(*) AS n_events
FROM events GROUP BY 1
"""


@register("json_props_extract", _JSON_PROPS_SQL)
def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload field extraction + aggregation
    (get_json_object $.k → long): schema-on-read over the events
    props column, JVM-side JSON path evaluation, one exchange."""
    ev = load_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("_k"))
        .groupBy("event_type")
        .agg(
            F.sum("_k").alias("k_sum"),
            F.max("_k").alias("k_max"),
            F.count("*").alias("n_events"),
        )
    )


@register("bpe_learned_merges")  # rows-only: iterative driver loop
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE training (operators/bpe.py:train_bpe): 24
    merge rounds over the frequency-weighted word vocabulary — one
    corpus-sized agg total, one argmax row to the driver per round.
    Not SQL-expressible (iterative + lookbehind re-segmentation);
    exact-sequence parity with a pure-Python Sennrich reference is
    golden-pinned in tests/test_bpe.py."""
    from cybersecurity_miw_spark.operators import bpe as bpe_mod

    docs = load_table(spark, sf_dir, "documents", widen=False)
    merges = bpe_mod.train_bpe(docs, n_merges=24)
    return spark.createDataFrame(
        [(i, x, y, x + y) for i, (x, y) in enumerate(merges)],
        "rank int, x string, y string, merged string",
    )


@register("bpe_tokenize_sample")  # rows-only: depends on learned merges
def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword tokenization with corpus-learned merges
    (operators/bpe.py:tokenize): per-word merge passes as nested
    codegen'd regexp expressions, flattened per doc. Rows-only (the
    merge table comes from the iterative trainer); losslessness and
    model parity are golden-pinned."""
    from cybersecurity_miw_spark.operators import bpe as bpe_mod

    docs = load_table(spark, sf_dir, "documents", widen=False)
    merges = bpe_mod.train_bpe(docs, n_merges=16)
    out = bpe_mod.tokenize(docs, merges)
    return out.select(
        "doc_id",
        F.size("tokens").alias("n_subwords"),
        F.concat_ws("|", F.slice("tokens", 1, 12)).alias("head_tokens"),
    )


# N-gram contamination flags (operators/dedup.py:
# flag_eval_ngram_overlap): GPT-3-style check — a train doc is
# contaminated if it CONTAINS any eval n-gram, even when the whole
# documents aren't near-duplicates. Same 5-fold split as
# decontaminate_train_vs_eval; shingle k=3 matches _SHINGLES_SQL.
_NGRAM_OVERLAP_SQL = f"""
WITH shingled AS ({_SHINGLES_SQL}),
esh AS (
  SELECT DISTINCT unnest(sh) AS s FROM shingled WHERE doc_id % 5 = 0
),
tr AS (
  SELECT doc_id, unnest(sh) AS s FROM shingled WHERE doc_id % 5 != 0
),
hits AS (
  SELECT tr.doc_id, count(DISTINCT tr.s) AS n_overlap
  FROM tr JOIN esh ON tr.s = esh.s GROUP BY 1
)
SELECT d.doc_id, coalesce(h.n_overlap, 0) AS n_overlap,
       coalesce(h.n_overlap, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 5 != 0) d
LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


# Full decontamination battery, one verdict per EVAL doc (r12): the
# oracle recomputes all four signals relationally — fingerprint
# EXISTS, thresholded all-pairs max-Jaccard and max-containment, and
# the train-shingle-set overlap count — algorithm-blind relative to
# the Spark side's prefix-filter joins.
_CONTAMINATION_REPORT_SQL = f"""
WITH shingled AS ({{shingles}}),
ev AS (SELECT doc_id, sh FROM shingled WHERE doc_id % 5 = 0),
tr AS (SELECT doc_id, sh FROM shingled WHERE doc_id % 5 <> 0),
fp AS (SELECT doc_id, {{fp}} AS f FROM documents),
exact AS (
  SELECT e.doc_id FROM fp e WHERE e.doc_id % 5 = 0
    AND EXISTS (SELECT 1 FROM fp t WHERE t.doc_id % 5 <> 0 AND t.f = e.f)
),
jac AS (
  SELECT e.doc_id,
         max(round(len(list_intersect(e.sh, t.sh))::DOUBLE /
             greatest(len(list_distinct(e.sh || t.sh)), 1), 6)) AS mj
  FROM ev e JOIN tr t
    ON 1000 * len(list_intersect(e.sh, t.sh))
       >= 500 * len(list_distinct(e.sh || t.sh))
  GROUP BY 1
),
cont AS (
  SELECT e.doc_id,
         max(round(len(list_intersect(e.sh, t.sh))::DOUBLE /
             greatest(len(e.sh), 1), 6)) AS mc
  FROM ev e JOIN tr t
    ON len(e.sh) > 0
       AND 1000 * len(list_intersect(e.sh, t.sh)) >= 600 * len(e.sh)
  GROUP BY 1
),
tsh AS (SELECT DISTINCT unnest(sh) AS s FROM tr),
ng AS (
  SELECT x.doc_id, count(DISTINCT x.s) AS n
  FROM (SELECT doc_id, unnest(sh) AS s FROM ev) x
  JOIN tsh ON x.s = tsh.s
  GROUP BY 1
)
SELECT d.doc_id,
       (d.doc_id IN (SELECT doc_id FROM exact)) AS exact_dup,
       round(coalesce(j.mj, 0.0), 6) AS max_jaccard,
       round(coalesce(c.mc, 0.0), 6) AS max_containment,
       CAST(coalesce(n.n, 0) AS BIGINT) AS ngram_overlap,
       ((d.doc_id IN (SELECT doc_id FROM exact))
        OR coalesce(j.mj, 0) > 0
        OR coalesce(c.mc, 0) > 0
        OR coalesce(n.n, 0) >= 50) AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
LEFT JOIN jac j ON d.doc_id = j.doc_id
LEFT JOIN cont c ON d.doc_id = c.doc_id
LEFT JOIN ng n ON d.doc_id = n.doc_id
"""


@register(
    "contamination_report_eval",
    _CONTAMINATION_REPORT_SQL.format(shingles=_SHINGLES_SQL, fp=_FP_SQL),
)
def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One verdict row per eval doc across the full decontamination
    battery (operators/dedup.py:contamination_report): exact
    fingerprint, max exact Jaccard ≥ 0.5, max exact containment
    ≥ 0.6, and train-shingle overlap count — the audit artifact that
    answers "which of my eval items leak into this corpus, and how".
    min_ngram_overlap=50 at 3-shingles makes the verdict column
    non-vacuous on this corpus (shared trigrams are ubiquitous; 1
    would flag everything — production runs use ngram_k=5+, where a
    single hit is already meaningful). Eval = doc_id % 5 == 0 (the
    decontamination family's split);
    every signal exact and eval-centric, the train corpus never
    cross-joined."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    ev = docs.where(F.col("doc_id") % 5 == 0)
    return dedup.contamination_report(
        train, ev, shingle_k=3, jaccard_threshold=0.5,
        containment_threshold=0.6, ngram_k=3, min_ngram_overlap=50,
    )


@register("eval_ngram_overlap_flags", _NGRAM_OVERLAP_SQL)
def q_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-train-doc eval n-gram overlap counts
    (operators/dedup.py:flag_eval_ngram_overlap): substring-level
    leakage doc-level LSH misses. One uniform shingle-key join; the
    eval side is benchmark-sized and broadcasts."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    train = docs.filter(F.col("doc_id") % 5 != 0)
    ev = docs.filter(F.col("doc_id") % 5 == 0)
    return dedup.flag_eval_ngram_overlap(train, ev, shingle_k=3)


# Cross-document boilerplate removal (operators/corpus_filters.py:
# remove_boilerplate_lines): both engines wrap every doc with the
# same synthetic banner/footer lines; any line in >10 distinct docs
# (the shared ones) must vanish while unique lines survive in order.
_BOILERPLATE_SQL = """
WITH built AS (
  SELECT doc_id,
         'cookie notice' || chr(10) || text || chr(10) || 'shared footer v1' AS t
  FROM documents
),
l AS (SELECT doc_id, str_split(t, chr(10)) AS l FROM built),
lines AS (
  SELECT doc_id, struct_extract(x, 'pos') AS pos,
         struct_extract(x, 'line') AS line
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(l)),
                                 i -> {'pos': i, 'line': l[i]})) AS x
    FROM l
  )
),
freq AS (
  SELECT line FROM (
    SELECT line, count(DISTINCT doc_id) AS df FROM lines GROUP BY 1
  ) WHERE df > 10
),
kept AS (SELECT * FROM lines WHERE line NOT IN (SELECT line FROM freq)),
re AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
         count(*) AS kept_n
  FROM kept GROUP BY 1
)
SELECT l.doc_id, coalesce(re.clean_text, '') AS clean_text,
       CAST(len(l.l) - coalesce(re.kept_n, 0) AS BIGINT) AS n_removed
FROM l LEFT JOIN re ON l.doc_id = re.doc_id
"""


@register("remove_boilerplate_lines", _BOILERPLATE_SQL)
def q_remove_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc boilerplate removal (operators/corpus_filters.py:
    remove_boilerplate_lines): lines appearing in >10 distinct docs
    (cookie banners, shared footers) drop corpus-wide; documents
    reassemble in original line order. Line-hash keyed counts +
    anti-join — uniform keys, no skew."""
    from cybersecurity_miw_spark.operators import corpus_filters

    docs = load_table(spark, sf_dir, "documents", widen=True)
    built = docs.select(
        "doc_id",
        F.concat(
            F.lit("cookie notice\n"),
            F.col("text"),
            F.lit("\nshared footer v1"),
        ).alias("t"),
    )
    return corpus_filters.remove_boilerplate_lines(
        built, max_doc_freq=10, text_col="t"
    )


# Statistical LM quality score (operators/corpus_filters.py:
# bigram_lm_scores): add-one-smoothed corpus bigram model, per-doc
# mean conditional probability in integer micro-units — the CCNet
# perplexity-proxy filter, bit-stable across engines by integer
# division.
_LM_SQL = """
WITH w AS (
  SELECT doc_id, str_split_regex(lower(trim(coalesce(text, ''))), '\\s+') AS w FROM documents
),
words AS (SELECT doc_id, unnest(w) AS w1 FROM w),
bigrams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 1),
                               i -> {'w1': w[i], 'w2': w[i+1]})) AS bg
  FROM w WHERE len(w) >= 2
),
bg AS (
  SELECT doc_id, struct_extract(bg, 'w1') AS w1,
         struct_extract(bg, 'w2') AS w2
  FROM bigrams
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, count(*) AS c1 FROM words GROUP BY 1),
v AS (SELECT count(DISTINCT w1) AS v FROM words),
p AS (
  SELECT bg.doc_id, (1000000 * (c2.c2 + 1)) // (c1.c1 + v.v) AS p_micro
  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
)
SELECT doc_id, count(*) AS n_bigrams,
       floor((sum(p_micro)::DOUBLE / count(*) / 1000000.0)
             * 1000000 + 0.5) / 1000000 AS lm_score
FROM p GROUP BY 1
"""


@register("lm_bigram_quality_scores", _LM_SQL)
def q_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram LM score per document
    (operators/corpus_filters.py:bigram_lm_scores): integer-exact
    smoothed conditional probabilities, the statistical quality
    filter between rule-based gopher_flags and model-based scoring."""
    from cybersecurity_miw_spark.operators import corpus_filters

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return corpus_filters.bigram_lm_scores(docs)


# BPE merge-candidate table (operators/textstats.py:char_pair_counts):
# corpus-wide adjacent char-pair counts within words — argmax of this
# table IS the first BPE merge.
_BPE_SQL = """
WITH words AS (
  SELECT unnest(str_split_regex(lower(trim(text)), '\\s+')) AS w FROM documents
),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, greatest(len(w) - 1, 0)),
                               i -> substr(w, i, 2))) AS pair
  FROM words
)
SELECT pair, count(*) AS n_pair FROM pairs GROUP BY 1
ORDER BY n_pair DESC, pair ASC LIMIT 20
"""


@register("bpe_top_pairs", _BPE_SQL)
def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 BPE merge candidates (operators/textstats.py:
    char_pair_counts): one count aggregation on a naturally tiny key
    space (alphabet²), TakeOrdered for the top-N — the
    tokenizer-training primitive, no global sort."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    return textstats.char_pair_counts(docs, top_n=20)


# As-of join (operators/windows.py:asof_join): each event enriched
# with the latest prior snapshot (events with event_id % 20 == 0 act
# as per-user snapshots). The oracle uses DuckDB's native ASOF LEFT
# JOIN; the Spark side is the union + carry-forward single-shuffle
# shape, since a range-condition join would per-key cross-product.
_ASOF_SQL = """
WITH snaps AS (
  SELECT user_id, ts, event_id AS snap_id, value AS snap_value
  FROM events WHERE event_id % 20 = 0
)
SELECT e.event_id, e.user_id,
       s.snap_id AS asof_snap_id, s.snap_value AS asof_snap_value
FROM events e ASOF LEFT JOIN snaps s
  ON e.user_id = s.user_id AND e.ts >= s.ts
"""


@register("asof_join_latest_snapshot", _ASOF_SQL)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward-inclusive as-of join (operators/windows.py:asof_join):
    point-in-time enrichment with exactly one hash exchange on the
    key — tag/union both sides, one window pass carries the latest
    right values forward. No range-join explosion; ties at equal ts
    see the snapshot (inclusive, = DuckDB ASOF semantics)."""
    from cybersecurity_miw_spark.operators import windows

    ev = load_events(spark, sf_dir)
    snaps = ev.filter(F.col("event_id") % 20 == 0).select(
        "user_id",
        "ts",
        F.col("event_id").alias("snap_id"),
        F.col("value").alias("snap_value"),
    )
    out = windows.asof_join(
        ev.select("event_id", "user_id", "ts"),
        snaps,
        on="user_id",
        right_cols=("snap_id", "snap_value"),
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_snap_id"),
        F.col("asof_snap_value"),
    )


# Bucketed range join (operators/timeseries.py:range_join): events
# inside per-user 6-hour windows anchored at every 50th event. The
# oracle states the range predicate directly (DuckDB's IEJoin handles
# it natively); the Spark side quantizes to 1-hour buckets, explodes
# each interval over its <=7 covered buckets, hash-joins on
# (user_id, bucket), and refines exactly — no nested-loop join.
_RANGE_JOIN_SQL = """
WITH iv AS (
  SELECT user_id, ts AS start_ts, ts + INTERVAL 6 HOUR AS end_ts,
         event_id AS window_id
  FROM events WHERE event_id % 50 = 0
)
SELECT e.event_id, e.user_id, iv.window_id
FROM events e JOIN iv
  ON e.user_id = iv.user_id
 AND e.ts >= iv.start_ts AND e.ts < iv.end_ts
"""


# Gaps-and-islands interval merge (operators/timeseries.py:
# merge_intervals): per-user 5-minute activity intervals coalesced
# into maximal disjoint spans — ONE window pass + one agg, no
# self-join. The consolidation step that shrinks a range join's
# build side (fewer, wider intervals = bounded fan-out).
_MERGE_IV_SQL = """
WITH iv AS (
  SELECT user_id,
         floor(epoch(ts))::BIGINT AS s,
         floor(epoch(ts))::BIGINT + 300 AS e
  FROM events
),
flagged AS (
  SELECT user_id, s, e,
         CASE WHEN s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_span
  FROM iv
),
spans AS (
  SELECT user_id, s, e,
         sum(new_span) OVER (PARTITION BY user_id ORDER BY s, e
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
  FROM flagged
)
SELECT user_id, min(s) AS span_start_s, max(e) AS span_end_s,
       count(*) AS n_merged
FROM spans GROUP BY user_id, span
"""


@register("merge_user_activity_intervals", _MERGE_IV_SQL)
def q_merge_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap/adjacency consolidation of per-user activity
    intervals: new-span flag from a running max of previous ends,
    span id from the running flag sum, bounds from one hash agg —
    the same one-exchange shape as sessionization."""
    from cybersecurity_miw_spark.operators import timeseries

    ev = load_events(spark, sf_dir)
    iv = ev.select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("end_ts"),
    )
    return timeseries.merge_intervals(
        iv, "start_ts", "end_ts", keys=("user_id",)
    )


@register("range_join_event_windows", _RANGE_JOIN_SQL)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join via the bucketed equi-join shape
    (operators/timeseries.py:range_join). A naive range-condition
    join is a BroadcastNestedLoopJoin — the 100 TB cliff; this plan
    is a uniform hash shuffle on (key, time-bucket) with bounded
    interval fan-out and an exact refine."""
    from cybersecurity_miw_spark.operators import timeseries

    ev = load_events(spark, sf_dir)
    iv = ev.filter(F.col("event_id") % 50 == 0).select(
        F.col("user_id").alias("iv_user_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("end_ts"),
        F.col("event_id").alias("window_id"),
    )
    out = timeseries.range_join(
        ev.select("event_id", "user_id", "ts"),
        iv.withColumnRenamed("iv_user_id", "user_id"),
        left_ts="ts",
        right_start="start_ts",
        right_end="end_ts",
        on="user_id",
        bucket_seconds=3600,
    )
    return out.select("event_id", "user_id", "window_id")


# Multi-resolution time rollup (operators/timeseries.py:time_rollup):
# the hypertable / continuous-aggregate shape — minute-level agg from
# raw, hour and day re-aggregated from the minute partials (algebraic
# merge). The oracle aggregates raw data per level; equality proves
# the partial re-aggregation is exact.
_TIME_ROLLUP_SQL = """
WITH base AS (
  SELECT event_type, ts,
         CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
),
lv AS (
  SELECT 'minute' AS resolution, date_trunc('minute', ts) AS bkt,
         event_type, c FROM base
  UNION ALL
  SELECT 'hour', date_trunc('hour', ts), event_type, c FROM base
  UNION ALL
  SELECT 'day', date_trunc('day', ts), event_type, c FROM base
)
SELECT resolution, CAST(floor(epoch(bkt)) AS BIGINT) AS bucket_s,
       event_type, count(*) AS n_events,
       CAST(sum(c) AS BIGINT) AS value_sum_c,
       min(c) AS value_min_c, max(c) AS value_max_c
FROM lv GROUP BY 1, 2, 3
"""


@register("time_rollup_multires", _TIME_ROLLUP_SQL)
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minute/hour/day rollup in ONE raw scan
    (operators/timeseries.py:time_rollup): coarser levels re-aggregate
    the persisted minute partials — count/sum/min/max are algebraic,
    so the merge is exact (the oracle recomputes each level from raw
    and must hash-match). At 100 TB: one full scan instead of three."""
    from cybersecurity_miw_spark.operators import timeseries

    ev = load_events(spark, sf_dir)
    return timeseries.time_rollup(
        ev, ts_col="ts", value_col="value", keys=("event_type",)
    )


# Mergeable approx-distinct rollup (rows-only by design: HLL sketch
# estimates are engine-specific; accuracy vs exact is golden-pinned
# within 5% at every level in tests/test_timeseries.py).
@register("time_rollup_distinct_users")
def q_time_rollup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per minute/hour/day via hll_sketch_agg +
    hll_union_agg (operators/timeseries.py:time_rollup_distinct) —
    the rollup algebraic sums cannot express (a user spanning
    minutes counts once per hour). One raw scan; coarser levels
    union a sketch table."""
    from cybersecurity_miw_spark.operators import timeseries

    ev = load_events(spark, sf_dir)
    return timeseries.time_rollup_distinct(ev)


# TPC-H Q4 shape: EXISTS correlated semi join — orders with at least
# one line shipped >90 days after the order date (this synthetic
# lineitem has no commit/receipt dates, so "late shipment" stands in
# for Q4's commit<receipt predicate; the plan shape is identical).
_Q4_SQL = """
SELECT o.o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= DATE '1996-01-01'
  AND o.o_orderdate < DATE '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY 1
"""


@register("tpch_q4_order_priority", _Q4_SQL)
def q_tpch4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4: the EXISTS decorrelates to a leftsemi join on
    orderkey (each order counted once however many late lines it
    has); the date slice prunes orders first, and the correlated
    date predicate rides the join condition."""
    o = load_table(spark, sf_dir, "orders", widen=False).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("date"))
    )
    li = load_table(spark, sf_dir, "lineitem", widen=False)
    hits = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > F.date_add(o["o_orderdate"], 90)),
        "leftsemi",
    )
    return hits.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


# OHLC bars (operators/timeseries.py:ohlc): open/high/low/close per
# (hour, type) in ONE algebraic aggregation — min_by/max_by on the
# microsecond order key, not a window sort. Timestamps are unique on
# this data (verified at sf0.1), so unix_micros is a total order.
_OHLC_SQL = """
SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_s,
       event_type,
       CAST(round(arg_min(value, epoch_us(ts)) * 100, 0) AS BIGINT) AS open_c,
       CAST(round(max(value) * 100, 0) AS BIGINT) AS high_c,
       CAST(round(min(value) * 100, 0) AS BIGINT) AS low_c,
       CAST(round(arg_max(value, epoch_us(ts)) * 100, 0) AS BIGINT) AS close_c,
       count(*) AS n_events
FROM events GROUP BY 1, 2
"""


@register("ohlc_hourly_value", _OHLC_SQL)
def q_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick/resample bars: five measures in one map-side-
    combined aggregation (min_by/max_by are algebraic)."""
    from cybersecurity_miw_spark.operators import timeseries

    ev = load_events(spark, sf_dir)
    return timeseries.ohlc(ev, level="hour")


# Funnel conversion summary: users per depth reached — the one-row-
# per-stage report a funnel analysis actually publishes.
_FUNNEL_SUMMARY_SQL = """
WITH t1 AS (
  SELECT user_id, min(floor(epoch(ts))::BIGINT) AS signup_s
  FROM events WHERE event_type = 'signup' GROUP BY 1
),
t2 AS (
  SELECT e.user_id, min(floor(epoch(e.ts))::BIGINT) AS click_s
  FROM events e JOIN t1 USING(user_id)
  WHERE e.event_type = 'click'
    AND floor(epoch(e.ts))::BIGINT > t1.signup_s
    AND floor(epoch(e.ts))::BIGINT <= t1.signup_s + 86400
  GROUP BY 1
),
t3 AS (
  SELECT e.user_id, min(floor(epoch(e.ts))::BIGINT) AS purchase_s
  FROM events e JOIN t2 USING(user_id)
  WHERE e.event_type = 'purchase'
    AND floor(epoch(e.ts))::BIGINT > t2.click_s
    AND floor(epoch(e.ts))::BIGINT <= t2.click_s + 86400
  GROUP BY 1
),
d AS (
  SELECT CAST(1 + (t2.user_id IS NOT NULL)::INT
              + (t3.user_id IS NOT NULL)::INT AS BIGINT) AS depth
  FROM t1 LEFT JOIN t2 USING(user_id) LEFT JOIN t3 USING(user_id)
)
SELECT depth, count(*) AS n_users FROM d GROUP BY 1
"""


@register("funnel_conversion_summary", _FUNNEL_SUMMARY_SQL)
def q_funnel_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth histogram over funnel_stages output — at most
    len(stages) rows; the shareable conversion report."""
    from cybersecurity_miw_spark.operators import patterns

    ev = load_events(spark, sf_dir)
    f = patterns.funnel_stages(
        ev, ("signup", "click", "purchase"), stage_within_seconds=86400
    )
    return f.groupBy("depth").agg(F.count(F.lit(1)).alias("n_users"))


# Seasonal-baseline anomalies: each (type, hour) compared against
# the learned (day-of-week, hour-of-day) profile — the SOC "unusual
# volume for a Tuesday 3am" detector. The dow key is internal-only,
# so DuckDB's 0-6 vs Spark's 1-7 numbering induces the same
# partition; 1.5-sigma threshold fits the uniform synthetic data.
_SEASONAL_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS b, count(*) AS n
  FROM events GROUP BY 1, 2
),
profile AS (
  SELECT event_type, dayofweek(b) AS dow, hour(b) AS hod,
         avg(n) AS mu, coalesce(stddev_pop(n), 0) AS sd
  FROM hourly GROUP BY 1, 2, 3
)
SELECT h.event_type, CAST(floor(epoch(h.b)) AS BIGINT) AS bucket_s,
       h.n, CAST(round(p.mu * 1000000, 0) AS BIGINT) AS expected_ppm
FROM hourly h JOIN profile p
  ON p.event_type = h.event_type
 AND p.dow = dayofweek(h.b) AND p.hod = hour(h.b)
WHERE p.sd > 0 AND abs(h.n - p.mu) > 1.5 * p.sd
"""


@register("seasonal_volume_anomalies", _SEASONAL_SQL)
def q_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile learn + score in two aggs over the hourly rollup (at
    scale, both read the continuous aggregate, never raw events);
    the profile is types x 7 x 24 rows, broadcast back."""
    ev = load_events(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("b")
    ).agg(F.count(F.lit(1)).alias("n"))
    profile = (
        hourly.groupBy(
            F.col("event_type").alias("p_type"),
            F.dayofweek("b").alias("dow"),
            F.hour("b").alias("hod"),
        )
        .agg(
            F.avg("n").alias("mu"),
            F.coalesce(F.stddev_pop("n"), F.lit(0.0)).alias("sd"),
        )
    )
    j = hourly.join(
        # bcast-bound: profile <= #event_types x 7 dow x 24 hod
        #   (domain-bounded)
        F.broadcast(profile),
        (F.col("event_type") == F.col("p_type"))
        & (F.dayofweek("b") == F.col("dow"))
        & (F.hour("b") == F.col("hod")),
    )
    return j.where(
        (F.col("sd") > 0)
        & (F.abs(F.col("n") - F.col("mu")) > 1.5 * F.col("sd"))
    ).select(
        "event_type",
        F.col("b").cast("timestamp_ltz").cast("long").alias("bucket_s"),
        "n",
        F.round(F.col("mu") * 1000000, 0).cast("long").alias("expected_ppm"),
    )


# Cross-series correlation: Pearson r between every pair of event
# types' hourly count series — "do errors move with purchases?" The
# series align on shared hours (inner join on the bucket); the pair
# space is types², tiny at any scale.
_CORR_SQL = """
WITH h AS (
  SELECT date_trunc('hour', ts) AS b, event_type AS t, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT a.t AS type_a, c.t AS type_b,
       round(corr(a.n, c.n), 6) AS pearson_r,
       count(*) AS n_hours
FROM h a JOIN h c ON a.b = c.b AND a.t < c.t
GROUP BY 1, 2
"""


@register("hourly_count_correlations", _CORR_SQL)
def q_series_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One hourly agg (the continuous-aggregate read at scale), a
    self-join on the hour bucket, corr() per type pair — types²
    output rows."""
    ev = load_events(spark, sf_dir)
    h = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("b"),
        F.col("event_type").alias("t"),
    ).agg(F.count(F.lit(1)).alias("n"))
    a = h.select(
        F.col("b"), F.col("t").alias("type_a"), F.col("n").alias("na")
    )
    c = h.select(
        F.col("b"), F.col("t").alias("type_b"), F.col("n").alias("nb")
    )
    j = a.join(c, on="b").where(F.col("type_a") < F.col("type_b"))
    return j.groupBy("type_a", "type_b").agg(
        F.round(F.corr("na", "nb"), 6).alias("pearson_r"),
        F.count(F.lit(1)).alias("n_hours"),
    )


# Time-weighted average (operators/timeseries.py:time_weighted_avg):
# each sample weighted by microseconds-as-current, clamped to the
# bucket end — what a gauge metric means over time where plain avg()
# over-weights bursts. In-bucket weights only (gap_fill_locf handles
# carry into empty buckets).
_TWA_SQL = """
WITH o AS (
  SELECT event_type, ts, value,
         date_trunc('hour', ts) AS bkt,
         lead(ts) OVER (PARTITION BY event_type
                        ORDER BY ts, event_id) AS nts
  FROM events
),
w AS (
  SELECT event_type, bkt, value,
         epoch_us(least(coalesce(nts, bkt + INTERVAL 1 HOUR),
                        bkt + INTERVAL 1 HOUR))
           - epoch_us(ts) AS w_us
  FROM o
)
SELECT CAST(floor(epoch(bkt)) AS BIGINT) AS bucket_s, event_type,
       CAST(round(sum(value * w_us) / sum(w_us) * 1000000, 0) AS BIGINT)
         AS twa_ppm
FROM w GROUP BY 1, 2
"""


@register("time_weighted_avg_hourly", _TWA_SQL)
def q_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One lead() pass on the key order + one hash aggregation —
    the irregular-sampling resample, ppm-scaled for the hash."""
    from cybersecurity_miw_spark.operators import timeseries

    ev = load_events(spark, sf_dir)
    return timeseries.time_weighted_avg(
        ev, level="hour", tiebreak_col="event_id"
    )


# Dense-grid gap fill (operators/timeseries.py:gap_fill_locf): every
# hour bucket between each type's first and last observation, sparse
# hourly averages carried forward over the gaps (locf) — the
# resample step before plotting/differencing an irregular series.
_GAPFILL_SQL = """
WITH hour AS (
  SELECT event_type, date_trunc('hour', ts) AS bkt,
         CAST(round(avg(value) * 100, 0) AS BIGINT) AS avg_c
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, min(bkt) AS lo, max(bkt) AS hi FROM hour GROUP BY 1
),
grid AS (
  SELECT event_type,
         unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bkt
  FROM bounds
)
SELECT grid.event_type,
       CAST(floor(epoch(grid.bkt)) AS BIGINT) AS bucket_s,
       last_value(h.avg_c IGNORE NULLS) OVER (
         PARTITION BY grid.event_type ORDER BY grid.bkt
         ROWS UNBOUNDED PRECEDING) AS avg_c_filled,
       (h.avg_c IS NULL) AS was_gap
FROM grid LEFT JOIN hour h
  ON h.event_type = grid.event_type AND h.bkt = grid.bkt
"""


@register("gapfill_hourly_avg_value", _GAPFILL_SQL)
def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid generation is #keys tiny agg + bounded sequence explode
    (calendar-sized, not data-sized); the fill is one window pass of
    last(ignorenulls). Empty hours appear with the carried value and
    was_gap = true."""
    from cybersecurity_miw_spark.operators import timeseries

    ev = load_events(spark, sf_dir)
    hour = ev.groupBy(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("bucket"),
    ).agg(
        F.round(F.avg("value") * 100, 0).cast("long").alias("avg_c")
    )
    return timeseries.gap_fill_locf(
        hour, value_cols=("avg_c",), keys=("event_type",), level="hour"
    )


# Kleene-star pattern match (operators/patterns.py:
# match_star_sequence): signup click* purchase — a signup followed by
# zero or more contiguous clicks then a purchase; the variable-length
# MATCH_RECOGNIZE shape fixed-lead matching can't express.
_STAR_SQL = """
WITH o AS (
  SELECT user_id, event_id, event_type,
         row_number() OVER w AS rn
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
nb AS (
  SELECT user_id, event_id, event_type, rn,
         min(CASE WHEN event_type <> 'click' THEN rn END)
           OVER (PARTITION BY user_id ORDER BY rn
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           AS next_nonmid_rn
  FROM o
)
SELECT a.user_id, a.event_id AS start_id, c.event_id AS end_id,
       CAST(c.rn - a.rn - 1 AS BIGINT) AS n_middle
FROM nb a JOIN nb c
  ON c.user_id = a.user_id AND c.rn = a.next_nonmid_rn
WHERE a.event_type = 'signup' AND c.event_type = 'purchase'
"""


@register("star_pattern_signup_clicks_purchase", _STAR_SQL)
def q_star_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Islands technique: one window pass computes each row's next
    non-middle position (conditional min over the unbounded-following
    frame); the confirm self-join is co-partitioned on the key. No
    iteration, no state machine."""
    from cybersecurity_miw_spark.operators import patterns

    ev = load_events(spark, sf_dir)
    return patterns.match_star_sequence(
        ev, first="signup", middle="click", last="purchase"
    )


# Activity-gap detection: per event type, silent periods longer than
# an hour — the "sensor/feed went dark" monitoring primitive. One
# lag() pass per type; the gap predicate compares full-precision
# timestamps, output epochs at second grain.
_GAP_SQL = """
WITH o AS (
  SELECT event_type, ts,
         lag(ts) OVER (PARTITION BY event_type
                       ORDER BY ts, event_id) AS prev
  FROM events
)
SELECT event_type,
       CAST(floor(epoch(prev)) AS BIGINT) AS gap_start_s,
       CAST(floor(epoch(ts)) AS BIGINT) AS gap_end_s,
       CAST(floor(epoch(ts)) AS BIGINT)
         - CAST(floor(epoch(prev)) AS BIGINT) AS gap_s
FROM o WHERE ts - prev > INTERVAL 1 HOUR
"""


@register("activity_gap_detection", _GAP_SQL)
def q_activity_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-downtime detection: lag() over the per-type order (one
    WindowExec exchange on a 5-value key — salt via user bucketing
    if a single type dominates at scale), narrow gap filter."""
    from pyspark.sql.window import Window

    from cybersecurity_miw_spark.operators.windows import _epoch_s

    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    o = ev.select(
        "event_type", "ts", F.lag("ts").over(w).alias("prev")
    )
    # NTZ forbids a direct double cast; the UTC-pinned ltz hop is the
    # identity (see windows._epoch_s) and keeps microsecond precision
    ts_d = F.col("ts").cast("timestamp_ltz").cast("double")
    prev_d = F.col("prev").cast("timestamp_ltz").cast("double")
    return o.where(ts_d - prev_d > 3600).select(
        "event_type",
        _epoch_s(F.col("prev")).alias("gap_start_s"),
        _epoch_s(F.col("ts")).alias("gap_end_s"),
        (_epoch_s(F.col("ts")) - _epoch_s(F.col("prev"))).alias("gap_s"),
    )


# Snapshot diff (operators/diff.py:snapshot_diff): two deterministic
# "versions" of events — old drops event_id % 13 == 0 (those become
# `added`), new drops % 11 == 0 (those become `removed`), and new
# doubles value on % 7 == 0 (those become `changed`). Full outer
# join on the key + null-pattern classification; unchanged keys drop.
_SNAPSHOT_DIFF_SQL = """
WITH old AS (
  SELECT event_id, CAST(round(value * 100, 0) AS BIGINT) AS value_c
  FROM events WHERE event_id % 13 <> 0
),
new AS (
  SELECT event_id,
         CAST(round(CASE WHEN event_id % 7 = 0 THEN value * 2
                         ELSE value END * 100, 0) AS BIGINT) AS value_c
  FROM events WHERE event_id % 11 <> 0
)
SELECT coalesce(o.event_id, n.event_id) AS event_id,
       CASE WHEN o.event_id IS NULL THEN 'added'
            WHEN n.event_id IS NULL THEN 'removed'
            WHEN o.value_c IS DISTINCT FROM n.value_c THEN 'changed'
       END AS change_type,
       o.value_c AS old_value_c, n.value_c AS new_value_c
FROM old o FULL OUTER JOIN new n USING(event_id)
WHERE CASE WHEN o.event_id IS NULL THEN 'added'
           WHEN n.event_id IS NULL THEN 'removed'
           WHEN o.value_c IS DISTINCT FROM n.value_c THEN 'changed'
      END IS NOT NULL
"""


@register("snapshot_diff_events", _SNAPSHOT_DIFF_SQL)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-shaped reconciliation of two snapshot versions: added /
    removed / changed keys only — the audit of what an ingestion run
    touched. One co-partitionable full outer join."""
    from cybersecurity_miw_spark.operators import diff

    ev = load_events(spark, sf_dir)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    old = ev.where(F.col("event_id") % 13 != 0).select(
        "event_id", cents.alias("value_c")
    )
    new = ev.where(F.col("event_id") % 11 != 0).select(
        "event_id",
        F.round(
            F.when(F.col("event_id") % 7 == 0, F.col("value") * 2)
            .otherwise(F.col("value"))
            * 100,
            0,
        )
        .cast("long")
        .alias("value_c"),
    )
    return diff.snapshot_diff(
        old, new, key_cols=("event_id",), compare_cols=("value_c",)
    )


# Z-score outliers: events whose value sits >3 population stddevs
# above their type's mean — the per-population anomaly filter. The
# tiny per-type stats table broadcasts back to the fact; the filter
# itself compares against two literals per row at scale.
_ZSCORE_SQL = """
WITH st AS (
  SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sd
  FROM events GROUP BY 1
)
SELECT e.event_id, e.event_type,
       CAST(round(e.value * 100, 0) AS BIGINT) AS value_c,
       CAST(round((e.value - st.mu) / st.sd * 1000000, 0) AS BIGINT)
         AS zscore_ppm
FROM events e JOIN st USING(event_type)
WHERE e.value > st.mu + 3 * st.sd
"""


@register("zscore_value_outliers", _ZSCORE_SQL)
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass anomaly filter: one agg to #types rows of (mu, sd),
    broadcast join back, narrow filter. zscore ppm-scaled for the
    cross-engine hash."""
    ev = load_events(spark, sf_dir)
    st = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_pop("value").alias("sd")
    )
    # bcast-bound: st = #event_types rows (domain-bounded, not sf-scaled)
    j = ev.join(F.broadcast(st), "event_type")
    return j.where(
        F.col("value") > F.col("mu") + 3 * F.col("sd")
    ).select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("value_c"),
        F.round((F.col("value") - F.col("mu")) / F.col("sd") * 1000000, 0)
        .cast("long")
        .alias("zscore_ppm"),
    )


# 7-day moving average over the day-level rollup: the bounded window
# frame (ROWS 6 PRECEDING) — distinct from the cumulative frame
# running_value_per_user pins. Cents-integer average via the exact
# (sum, count) pair so both engines divide identically.
_MOVAVG_SQL = """
WITH day AS (
  SELECT event_type,
         CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS bucket_s,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT event_type, bucket_s, n_events,
       CAST(round(avg(n_events) OVER (
            PARTITION BY event_type ORDER BY bucket_s
            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) * 1000000, 0)
         AS BIGINT) AS ma7_ppm
FROM day
"""


@register("moving_avg_7d_event_counts", _MOVAVG_SQL)
def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded sliding frame over the tiny day-level aggregate —
    #days x #types rows; at scale this reads the rollup table, never
    raw events."""
    from pyspark.sql.window import Window

    ev = load_events(spark, sf_dir)
    day = ev.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts"))
        .cast("timestamp_ltz")
        .cast("long")
        .alias("bucket_s"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_s")
        .rowsBetween(-6, 0)
    )
    return day.select(
        "event_type",
        "bucket_s",
        "n_events",
        F.round(F.avg("n_events").over(w) * 1000000, 0)
        .cast("long")
        .alias("ma7_ppm"),
    )


# Cohort retention matrix: users grouped by first-seen day, activity
# counted per day offset — the product-analytics retention triangle
# and the security "how long do new accounts stay active" view.
_COHORT_SQL = """
WITH fs AS (
  SELECT user_id, date_trunc('day', min(ts)) AS cohort
  FROM events GROUP BY 1
)
SELECT CAST(floor(epoch(fs.cohort)) AS BIGINT) AS cohort_s,
       datediff('day', fs.cohort, date_trunc('day', e.ts)) AS day_offset,
       count(DISTINCT e.user_id) AS n_active
FROM events e JOIN fs USING(user_id)
GROUP BY 1, 2
"""


@register("cohort_retention_matrix", _COHORT_SQL)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seen cohort per user (one agg on the uniform user key),
    joined back — the cohort table is #users rows, i.e. sf-SCALED, so
    per the maybe_broadcast policy it carries no hint: stats/AQE
    broadcast it while it fits and fall back to a shuffle join (the
    user key is uniform, so the shuffle path is skew-safe) when it no
    longer does — then a distinct-count per (cohort, offset). Output
    is #cohorts x #days rows at any scale."""
    ev = load_events(spark, sf_dir)
    fs = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort")
    )
    joined = ev.join(maybe_broadcast(fs), "user_id")
    return (
        joined.groupBy(
            F.col("cohort")
            .cast("timestamp_ltz")
            .cast("long")
            .alias("cohort_s"),
            F.datediff(
                F.date_trunc("day", F.col("ts")), F.col("cohort")
            ).alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


# Fuzzy self-join of source names (operators/fuzzy.py:fuzzy_join):
# q-gram blocking → levenshtein refine; the oracle is the naive
# quadratic join (DuckDB levenshtein), so equality proves the
# blocking loses no pair.
_FUZZY_SQL = """
WITH s AS (SELECT DISTINCT source FROM documents)
SELECT a.source AS src_a, b.source AS src_b,
       CAST(levenshtein(a.source, b.source) AS BIGINT) AS edit_distance
FROM s a JOIN s b ON a.source < b.source
WHERE levenshtein(a.source, b.source) <= 2
"""


@register("fuzzy_source_name_pairs", _FUZZY_SQL)
def q_fuzzy_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical source-name pairs within 2 edits — the
    entity-resolution shape. The Spark side goes through the q-gram
    blocking join (uniform gram hash keys, never all-pairs); the
    oracle brute-forces, so a hash match certifies blocking recall."""
    from cybersecurity_miw_spark.operators import fuzzy

    docs = load_table(spark, sf_dir, "documents", widen=False)
    a = docs.select(F.col("source").alias("src_a")).distinct()
    b = docs.select(F.col("source").alias("src_b")).distinct()
    out = fuzzy.fuzzy_join(a, b, "src_a", "src_b", max_distance=2)
    return out.where(F.col("src_a") < F.col("src_b")).select(
        "src_a", "src_b",
        F.col("edit_distance").cast("long").alias("edit_distance"),
    )


# Data-quality profile (operators/quality.py:profile_table): the
# ANALYZE stage — per-column rows/nulls/distincts/min/max in ONE
# aggregation pass; output is #columns rows at any data size.
_DQ_SQL = """
WITH a AS (
  SELECT count(*) AS n_rows,
         count(event_id) AS nn_event_id, count(DISTINCT event_id) AS nd_event_id,
         CAST(min(event_id) AS VARCHAR) AS mn_event_id, CAST(max(event_id) AS VARCHAR) AS mx_event_id,
         count(user_id) AS nn_user_id, count(DISTINCT user_id) AS nd_user_id,
         CAST(min(user_id) AS VARCHAR) AS mn_user_id, CAST(max(user_id) AS VARCHAR) AS mx_user_id,
         count(event_type) AS nn_event_type, count(DISTINCT event_type) AS nd_event_type,
         CAST(min(event_type) AS VARCHAR) AS mn_event_type, CAST(max(event_type) AS VARCHAR) AS mx_event_type
  FROM events
)
SELECT 'event_id' AS column, n_rows, n_rows - nn_event_id AS n_null,
       nd_event_id AS n_distinct, mn_event_id AS min_str, mx_event_id AS max_str FROM a
UNION ALL
SELECT 'user_id', n_rows, n_rows - nn_user_id, nd_user_id, mn_user_id, mx_user_id FROM a
UNION ALL
SELECT 'event_type', n_rows, n_rows - nn_event_type, nd_event_type, mn_event_type, mx_event_type FROM a
"""


@register("dq_profile_events", _DQ_SQL)
def q_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan multi-column profile; min/max rendered as strings
    so every column shares one schema."""
    from cybersecurity_miw_spark.operators import quality

    ev = load_events(spark, sf_dir)
    return quality.profile_table(
        ev, ["event_id", "user_id", "event_type"]
    )


# Event-type transition matrix: P(next | current) per user stream —
# the Markov baseline behavioral anomaly detectors score against.
# One window pass for lead(), one pair-count agg, one per-current
# window to normalize; probability rounded to 6 on both engines.
_TRANSITION_SQL = """
WITH nxt AS (
  SELECT event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events
),
pairs AS (
  SELECT cur, nxt, count(*) AS n FROM nxt
  WHERE nxt IS NOT NULL GROUP BY 1, 2
)
SELECT cur, nxt, n,
       round(n / sum(n) OVER (PARTITION BY cur), 6) AS p
FROM pairs
"""


@register("event_type_transitions", _TRANSITION_SQL)
def q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead() over the per-user order (the sessionize exchange),
    pair-count agg on a #types² key space, then a tiny window
    normalize — the transition matrix is types² rows at ANY scale."""
    from pyspark.sql.window import Window

    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
        )
        .where(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wc = Window.partitionBy("cur")
    return pairs.select(
        "cur", "nxt", "n",
        F.round(F.col("n") / F.sum("n").over(wc), 6).alias("p"),
    )


# Top consecutive event-type trigrams across all user streams — the
# frequent-sequence profile (what 3-step behaviors dominate).
_TRIGRAM_SQL = """
WITH t AS (
  SELECT event_type AS a,
         lead(event_type, 1) OVER w AS b,
         lead(event_type, 2) OVER w AS c
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT a, b, c, count(*) AS n
FROM t WHERE c IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n DESC, a, b, c
LIMIT 20
"""


@register("top_event_trigrams", _TRIGRAM_SQL)
def q_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two leads in one window pass, count on a ≤types³ key space,
    TakeOrdered top-20 — no global sort."""
    from pyspark.sql.window import Window

    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    ).where(F.col("c").isNotNull())
    return (
        t.groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "a", "b", "c")
        .limit(20)
    )


# Unpivot (melt): the inverse of pivot_user_activity — wide measure
# columns back to (name, value) rows via the STACK expression (one
# narrow projection, no shuffle beyond the feeding rollup).
_UNPIVOT_SQL = """
WITH day AS (
  SELECT event_type,
         CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS bucket_s,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_sum_c,
         min(CAST(round(value * 100, 0) AS BIGINT)) AS value_min_c,
         max(CAST(round(value * 100, 0) AS BIGINT)) AS value_max_c
  FROM events GROUP BY 1, 2
)
SELECT event_type, bucket_s, 'value_sum_c' AS measure, value_sum_c AS m_value FROM day
UNION ALL
SELECT event_type, bucket_s, 'value_min_c', value_min_c FROM day
UNION ALL
SELECT event_type, bucket_s, 'value_max_c', value_max_c FROM day
"""


@register("unpivot_day_measures", _UNPIVOT_SQL)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot of the day-level rollup measures with
    stack() — a single generate projection per input row (3 output
    rows each), no extra exchange; the long shape feeds generic
    metric sinks/dashboards."""
    from cybersecurity_miw_spark.operators import timeseries

    ev = load_events(spark, sf_dir)
    day = timeseries.time_rollup(ev, levels=("day",)).drop(
        "resolution", "n_events"
    )
    return day.select(
        "event_type",
        "bucket_s",
        F.expr(
            "stack(3, 'value_sum_c', value_sum_c, "
            "'value_min_c', value_min_c, "
            "'value_max_c', value_max_c) AS (measure, m_value)"
        ),
    )


# Day-over-day change per event type: lag over the day-level rollup —
# the derivative view a metrics pipeline layers on the continuous
# aggregate. Reads #days x #types rows, never raw events twice.
_DOD_SQL = """
WITH day AS (
  SELECT event_type,
         CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS bucket_s,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT event_type, bucket_s, n_events,
       CAST(n_events - lag(n_events) OVER (
            PARTITION BY event_type ORDER BY bucket_s) AS BIGINT)
         AS delta_prev_day
FROM day
"""


@register("day_over_day_event_counts", _DOD_SQL)
def q_day_over_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() over the tiny day-level aggregate (one agg exchange +
    one window exchange over #days x #types rows) — first day per
    type yields NULL delta."""
    from pyspark.sql.window import Window

    ev = load_events(spark, sf_dir)
    day = (
        ev.groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts"))
            .cast("timestamp_ltz")
            .cast("long")
            .alias("bucket_s"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = Window.partitionBy("event_type").orderBy("bucket_s")
    return day.select(
        "event_type",
        "bucket_s",
        "n_events",
        (F.col("n_events") - F.lag("n_events").over(w))
        .cast("long")
        .alias("delta_prev_day"),
    )


# First-seen detection: how many users appear for the FIRST time on
# each day — the "new entity today" security analytic (new device /
# user-agent / service account). One agg to first-seen, one tiny agg
# over #users rows.
_FIRST_SEEN_SQL = """
WITH fs AS (
  SELECT user_id,
         CAST(floor(epoch(date_trunc('day', min(ts)))) AS BIGINT)
           AS first_day_s
  FROM events GROUP BY 1
)
SELECT first_day_s, count(*) AS n_new_users
FROM fs GROUP BY 1
"""


# Rolling 7-day active users (operators/timeseries.py:
# rolling_active_users): the sliding-distinct dashboard metric as a
# bounded x7 fan-out over distinct (user, day) activity — never a
# per-day window DISTINCT.

_ROLLING_AU_SQL = """
WITH act AS (
  SELECT DISTINCT
         CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_s,
         user_id
  FROM events
),
cov AS (
  SELECT DISTINCT act.day_s + 86400 * g.g AS day_s, act.user_id
  FROM act, (SELECT unnest(generate_series(0, 6)) AS g) g
),
days AS (SELECT DISTINCT day_s FROM act)
SELECT c.day_s, count(*) AS n_active_users
FROM cov c JOIN days d ON c.day_s = d.day_s
GROUP BY 1
"""


@register("rolling_7d_active_users", _ROLLING_AU_SQL)
def q_rolling_au(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users active in the trailing 7 days, per observed
    day."""
    from cybersecurity_miw_spark.operators import timeseries

    ev = load_events(spark, sf_dir)
    return timeseries.rolling_active_users(ev, window_days=7)


# DAU/MAU stickiness: the two-window composite over the same
# activity roster — exact 30-day MAU via the bounded fan-out, ppm
# ratio on the integer grid.

_STICKINESS_SQL = """
WITH act AS (
  SELECT DISTINCT
         CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_s,
         user_id
  FROM events
),
cov AS (
  SELECT DISTINCT act.day_s + 86400 * g.g AS day_s, act.user_id
  FROM act, (SELECT unnest(generate_series(0, 29)) AS g) g
),
days AS (SELECT DISTINCT day_s FROM act),
mau AS (
  SELECT c.day_s, count(*) AS mau
  FROM cov c JOIN days d ON c.day_s = d.day_s
  GROUP BY 1
),
dau AS (SELECT day_s, count(*) AS dau FROM act GROUP BY 1)
SELECT d.day_s, d.dau, m.mau,
       CAST(floor(d.dau * 1000000.0 / m.mau) AS BIGINT) AS stickiness_ppm
FROM dau d JOIN mau m ON d.day_s = m.day_s
"""


@register("stickiness_dau_mau", _STICKINESS_SQL)
def q_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-30-day MAU per observed day (the engagement
    "stickiness" dashboard ratio), ppm-scaled for integer-exact
    cross-engine hashing. MAU comes from the bounded-fan-out rolling
    operator; DAU is a plain per-day distinct count over the same
    (user, day) roster."""
    from cybersecurity_miw_spark.operators import timeseries

    ev = load_events(spark, sf_dir)
    day_s = (
        F.date_trunc("day", F.col("ts"))
        .cast("timestamp_ltz")
        .cast("long")
    )
    dau = (
        ev.select(day_s.alias("day_s"), "user_id")
        .distinct()
        .groupBy("day_s")
        .agg(F.count(F.lit(1)).alias("dau"))
    )
    mau = timeseries.rolling_active_users(ev, window_days=30).select(
        "day_s", F.col("n_active_users").alias("mau")
    )
    return dau.join(mau, on="day_s").select(
        "day_s",
        "dau",
        "mau",
        F.floor(F.col("dau") * F.lit(1000000.0) / F.col("mau"))
        .cast("long")
        .alias("stickiness_ppm"),
    )


# HLL variant for LONG windows (rows-only by design: sketch binaries
# are engine-specific; the <5% error bound vs the exact path is
# golden-pinned in tests/test_timeseries.py).


@register("rolling_30d_active_users_approx")
def q_rolling_au_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-day actives per day via daily HLL sketches + a
    bounded x30 sketch-union fan-out — days x window sketch rows
    replicated, independent of user count."""
    from cybersecurity_miw_spark.operators import timeseries

    ev = load_events(spark, sf_dir)
    return timeseries.rolling_active_users_approx(ev, window_days=30)


@register("first_seen_users_per_day", _FIRST_SEEN_SQL)
def q_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min(ts) per user (uniform key), truncate to day, count per
    day — two aggregations where the second reads #users rows. At
    100 TB the first-seen table is the thing to persist and append
    to incrementally; this is its batch definition."""
    ev = load_events(spark, sf_dir)
    fs = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts"))
        .cast("timestamp_ltz")
        .cast("long")
        .alias("first_day_s")
    )
    return fs.groupBy("first_day_s").agg(
        F.count(F.lit(1)).alias("n_new_users")
    )


# Window-aggregate join (operators/timeseries.py:window_agg_join —
# the kdb wj shape): per signup anchor, how many same-user events
# land in the following 2 hours (the anchor matches itself, so every
# anchor counts >= 1 and the inner-join oracle is exact).
_WJ_SQL = """
SELECT s.event_id, s.user_id, count(*) AS n_window
FROM events s JOIN events e
  ON e.user_id = s.user_id
 AND e.ts >= s.ts AND e.ts < s.ts + INTERVAL 2 HOUR
WHERE s.event_type = 'signup'
GROUP BY 1, 2
"""


@register("window_count_after_signup", _WJ_SQL)
def q_window_agg_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-window aggregation via the bucketed range join (anchors
    become intervals, events stay points, fold per anchor) — the
    activity-burst profile after each signup without any nested-loop
    join."""
    from cybersecurity_miw_spark.operators import timeseries

    ev = load_events(spark, sf_dir)
    anchors = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts"
    )
    out = timeseries.window_agg_join(
        anchors,
        ev.select("user_id", "ts"),
        left_id="event_id",
        left_ts="ts",
        window_seconds=7200,
        aggs=[F.count(F.lit(1)).cast("long").alias("n_window")],
        on="user_id",
    )
    return out.select("event_id", "user_id", "n_window")


# CIDR containment (functions/net.py): dotted-quad IPs derived
# deterministically from event_id; the Spark side goes through STRING
# parsing (ip4_to_long inside cidr_contains), while the oracle uses
# pure integer arithmetic — equality proves the parse/format pair
# inverts exactly. 10.0.8.0/21 = ip-long [167774208, 167776255]
# = event_id % 2^24 in [2048, 4095].
_CIDR_SQL = """
WITH d AS (
  SELECT event_id,
         '10.' || ((event_id // 65536) % 256)
              || '.' || ((event_id // 256) % 256)
              || '.' || (event_id % 256) AS ip,
         167772160 + (event_id % 16777216) AS ipl
  FROM events
)
SELECT event_id, ip FROM d
WHERE ipl BETWEEN 167774208 AND 167776255
"""


@register("cidr_filter_derived_ips", _CIDR_SQL)
def q_cidr_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist-style CIDR filter: one narrow predicate (string
    parse + two literal compares) inside the scan stage — the shape a
    10.0.8.0/21 watchlist check has at any scale. Invalid IPs are
    excluded by construction here; the validation path is
    golden-tested separately."""
    from cybersecurity_miw_spark.functions import net

    ev = load_events(spark, sf_dir)
    d = ev.select(
        "event_id",
        F.concat_ws(
            ".",
            F.lit(10),
            (F.col("event_id") / 65536).cast("long") % 256,
            (F.col("event_id") / 256).cast("long") % 256,
            F.col("event_id") % 256,
        ).alias("ip"),
    )
    return d.where(net.cidr_contains("10.0.8.0/21", F.col("ip")))


# Per-user behavioral entropy: Shannon entropy (nats) of each user's
# event-type distribution — the flat-vs-peaked behavioral anomaly
# score (a compromised/automated account skews the mix). Formula
# ln(N) - Σ c·ln(c) / N keeps both engines on the same float ops;
# round(·, 6) absorbs ulp-level association differences.
_ENTROPY_SQL = """
WITH c AS (
  SELECT user_id, event_type, count(*)::DOUBLE AS c
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT user_id, sum(c) AS n, sum(c * ln(c)) AS sclc
  FROM c GROUP BY 1
)
SELECT user_id, round(ln(n) - sclc / n, 6) AS entropy_nats,
       CAST(n AS BIGINT) AS n_events
FROM t
"""


@register("user_event_entropy", _ENTROPY_SQL)
def q_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two chained aggregations, both keyed on user_id — the second
    reuses the first's partitioning (one real exchange). All
    arithmetic JVM-side; no per-user collection."""
    ev = load_events(spark, sf_dir)
    c = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    t = c.groupBy("user_id").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.log("c")).alias("sclc"),
    )
    return t.select(
        "user_id",
        F.round(F.log("n") - F.col("sclc") / F.col("n"), 6).alias(
            "entropy_nats"
        ),
        F.col("n").cast("long").alias("n_events"),
    )


# Alert suppression: the FIRST event per (user, type, hour) — the
# rate-limit/dedup step an alerting pipeline runs before notifying
# (N identical alerts in an hour -> 1). One window exchange on the
# composite key; deterministic under same-ts ties via event_id.
_ALERT_DEDUP_SQL = """
SELECT event_id, user_id, event_type,
       floor(epoch(date_trunc('hour', ts)))::BIGINT AS hour_s
FROM (
  SELECT event_id, user_id, event_type, ts,
         row_number() OVER (
           PARTITION BY user_id, event_type, date_trunc('hour', ts)
           ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type = 'error'
)
WHERE rn = 1
"""


@register("alert_dedup_first_per_hour", _ALERT_DEDUP_SQL)
def q_alert_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the first error per (user, hour): row_number over the
    composite key, one WindowExec exchange; the type filter pushes to
    the scan."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events", widen=False).filter(
        F.col("event_type") == "error"
    )
    hour = F.date_trunc("hour", F.col("ts"))
    w = Window.partitionBy("user_id", "event_type", hour).orderBy(
        "ts", "event_id"
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            "event_type",
            hour.cast("timestamp_ltz").cast("long").alias("hour_s"),
        )
    )


# dense_rank top-k WITH ties: every user in the top-3 activity ranks
# (ties all surface — the triage list where rank boundaries matter).
_TOPK_TIES_SQL = """
WITH c AS (
  SELECT user_id, count(*) AS n_events FROM events GROUP BY 1
)
SELECT user_id, n_events,
       CAST(dense_rank() OVER (ORDER BY n_events DESC) AS BIGINT) AS rnk
FROM c QUALIFY rnk <= 3
"""


@register("top_users_by_events_with_ties", _TOPK_TIES_SQL)
def q_topk_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user count then a global dense_rank — the rank window runs
    over the #users-row aggregate (tiny), not the events."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events", widen=False)
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.orderBy(F.desc("n_events"))
    return (
        c.withColumn("rnk", F.dense_rank().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


# ntile quartiles: equal-frequency value buckets per event type (the
# SQL-standard ntile window) — deterministic under ties via the
# (value, event_id) order. One WindowExec exchange + one tiny agg.
_NTILE_SQL = """
WITH q AS (
  SELECT event_type,
         ntile(4) OVER (PARTITION BY event_type
                        ORDER BY value, event_id) AS quartile,
         CAST(round(value * 100, 0) AS BIGINT) AS v_c
  FROM events
)
SELECT event_type, CAST(quartile AS BIGINT) AS quartile,
       count(*) AS n, CAST(min(v_c) AS BIGINT) AS min_c,
       CAST(max(v_c) AS BIGINT) AS max_c
FROM q GROUP BY 1, 2
"""


@register("ntile_value_quartiles", _NTILE_SQL)
def q_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency quartiles per type: ntile over a deterministic
    (value, event_id) order, then per-bucket bounds — the
    monotone-binning companion to the exact percentiles query."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events", widen=False)
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return (
        ev.select(
            "event_type",
            F.ntile(4).over(w).cast("long").alias("quartile"),
            cents.alias("v_c"),
        )
        .groupBy("event_type", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("v_c").alias("min_c"),
            F.max("v_c").alias("max_c"),
        )
    )


# period-over-period churn: purchasers on day 1 with no purchase on
# day 2 — the EXCEPT set operation (planned as a left-anti join on
# the distinct user sets; both sides one aggregation).
_CHURN_SQL = """
SELECT DISTINCT user_id FROM events
WHERE event_type = 'purchase'
  AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-02'
EXCEPT
SELECT DISTINCT user_id FROM events
WHERE event_type = 'purchase'
  AND ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-03'
"""


@register("churned_purchasers_day_over_day", _CHURN_SQL)
def q_churned_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT as distinct-set difference: two day-sliced distinct
    purchaser sets, planned as a left-anti join on the uniform user
    key — the churn/attrition primitive."""
    ev = load_table(spark, sf_dir, "events", widen=False).filter(
        F.col("event_type") == "purchase"
    )
    p1 = ev.filter(
        (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-02").cast("timestamp"))
    ).select("user_id").distinct()
    p2 = ev.filter(
        (F.col("ts") >= F.lit("2024-01-02").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-03").cast("timestamp"))
    ).select("user_id").distinct()
    return p1.join(p2, on="user_id", how="left_anti")


# Audience overlap: Jaccard similarity between the distinct user
# sets of every event-type pair — the segment-overlap analytic
# (which behaviors share an audience; which IOC hit-sets co-occur).
# Shape: distinct (user, type) projection → self-join on user_id
# (per-user fan-out bounded by types², a constant) → one tiny
# (type_a, type_b) aggregation + broadcast size join. Output is
# types²/2 rows at ANY corpus size.
_AUDIENCE_SQL = """
WITH s AS (SELECT DISTINCT event_type, user_id FROM events),
p AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*) AS n_both
  FROM s a JOIN s b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
c AS (SELECT event_type, count(*) AS n FROM s GROUP BY 1)
SELECT type_a, type_b, n_both,
       round(n_both::DOUBLE / (ca.n + cb.n - n_both), 6) AS jaccard
FROM p
JOIN c ca ON ca.event_type = p.type_a
JOIN c cb ON cb.event_type = p.type_b
"""


@register("audience_overlap_jaccard", _AUDIENCE_SQL)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct project once, self-join co-keyed on user_id, then a
    constant-size pair aggregation; the per-type totals join is a
    broadcast of a #types-row table."""
    ev = load_events(spark, sf_dir)
    s = ev.select("event_type", "user_id").distinct()
    a = s.select(F.col("event_type").alias("type_a"), "user_id")
    b = s.select(F.col("event_type").alias("type_b"), "user_id")
    p = (
        a.join(b, on="user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    c = s.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ca = c.select(F.col("event_type").alias("type_a"), F.col("n").alias("_na"))
    cb = c.select(F.col("event_type").alias("type_b"), F.col("n").alias("_nb"))
    return (
        # bcast-bound: ca/cb = #event_types rows (domain-bounded)
        p.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.col("n_both")
                / (F.col("_na") + F.col("_nb") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )


# Deterministic k-per-group sampling
# (operators/sampling.py:sample_k_per_group): the per-stratum
# reservoir analog of uniform_sample_50 — md5-rank rows within each
# group, keep the k smallest. No RNG; exactly reproducible in SQL.
_GSAMPLE_SQL = """
SELECT event_type, event_id FROM (
  SELECT event_type, event_id,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY md5('gsample-v1:' || event_id::VARCHAR), event_id
         ) AS rn
  FROM events
) WHERE rn <= 20
"""


@register("sample_20_per_event_type", _GSAMPLE_SQL)
def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One window pass (hash exchange on the group key + in-partition
    rank) — the top-N-per-key shape; a skewed group costs its own
    size only."""
    from cybersecurity_miw_spark.operators import sampling

    ev = load_events(spark, sf_dir)
    return sampling.sample_k_per_group(
        ev.select("event_type", "event_id"),
        k=20,
        group_col="event_type",
        id_col="event_id",
    )


# Contiguous event-sequence match (operators/patterns.py): view
# IMMEDIATELY followed by click for the same user within 12h — the
# CEP/MATCH_RECOGNIZE shape, one WindowExec pass (lead), no joins.
# Both engines compare at epoch-second granularity.
_SEQ_MATCH_SQL = """
WITH o AS (
  SELECT user_id, event_id, ts, event_type,
         lead(event_type, 1) OVER w AS nty,
         lead(ts, 1) OVER w AS nts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id,
       floor(epoch(ts))::BIGINT AS start_s,
       floor(epoch(nts))::BIGINT AS end_s
FROM o
WHERE event_type = 'view' AND nty = 'click'
  AND floor(epoch(nts))::BIGINT - floor(epoch(ts))::BIGINT <= 43200
"""


@register("sequence_match_view_click", _SEQ_MATCH_SQL)
def q_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous 2-step sequence detection
    (operators/patterns.py:match_contiguous_sequence): lead() over
    the per-user (ts, event_id) order — the same single hash exchange
    sessionization pays, zero joins, bounded state."""
    from cybersecurity_miw_spark.operators import patterns

    ev = load_events(spark, sf_dir)
    return patterns.match_contiguous_sequence(
        ev, ("view", "click"), within_seconds=43200
    )


# Skip-till-next funnel (operators/patterns.py:funnel_stages):
# signup → first click strictly after it (within 24h) → first
# purchase strictly after that (within 24h). Stage tables only
# shrink; all joins co-partitioned on user_id.
_FUNNEL_SQL = """
WITH t1 AS (
  SELECT user_id, min(floor(epoch(ts))::BIGINT) AS signup_s
  FROM events WHERE event_type = 'signup' GROUP BY 1
),
t2 AS (
  SELECT e.user_id, min(floor(epoch(e.ts))::BIGINT) AS click_s
  FROM events e JOIN t1 USING(user_id)
  WHERE e.event_type = 'click'
    AND floor(epoch(e.ts))::BIGINT > t1.signup_s
    AND floor(epoch(e.ts))::BIGINT <= t1.signup_s + 86400
  GROUP BY 1
),
t3 AS (
  SELECT e.user_id, min(floor(epoch(e.ts))::BIGINT) AS purchase_s
  FROM events e JOIN t2 USING(user_id)
  WHERE e.event_type = 'purchase'
    AND floor(epoch(e.ts))::BIGINT > t2.click_s
    AND floor(epoch(e.ts))::BIGINT <= t2.click_s + 86400
  GROUP BY 1
)
SELECT t1.user_id, signup_s, click_s, purchase_s,
       CAST(1 + (click_s IS NOT NULL)::INT + (purchase_s IS NOT NULL)::INT
            AS BIGINT) AS depth
FROM t1 LEFT JOIN t2 USING(user_id) LEFT JOIN t3 USING(user_id)
"""


@register("funnel_signup_click_purchase", _FUNNEL_SQL)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-stage skip-till-next funnel
    (operators/patterns.py:funnel_stages): per-user stage reach
    epochs + depth. Narrow type pre-filter, one repartition on
    user_id, conditional-min agg per stage joined co-partitioned —
    no per-key history is ever materialized."""
    from cybersecurity_miw_spark.operators import patterns

    ev = load_events(spark, sf_dir)
    return patterns.funnel_stages(
        ev,
        ("signup", "click", "purchase"),
        stage_within_seconds=86400,
    )


# Bloom-filter join pruning (operators/bloomjoin.py): fact rows
# filtered by a literal membership sketch of the dim BEFORE any
# exchange; an exact leftsemi join then removes the sketch's false
# positives, so results are exactly the semi join the oracle states.
_BLOOM_SEMI_SQL = """
SELECT e.event_id, e.user_id
FROM events e
WHERE e.user_id IN (SELECT user_id FROM events
                    WHERE event_type = 'error' AND value > 200)
"""


@register("bloom_semi_join_error_users", _BLOOM_SEMI_SQL)
def q_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events of users with any high-value error, via bloom-pruned
    semi join (operators/bloomjoin.py:bloom_semi_join): the sketch is
    ~1 KB of literal long words evaluated inside the scan's codegen
    stage, so at 100 TB the shuffle feeding the exact join carries
    ~the matching 25% of rows instead of all of them. No false
    negatives; the follow-up leftsemi join drops the ≤fpp false
    positives — hash-exact vs the plain IN-subquery oracle."""
    from cybersecurity_miw_spark.operators import bloomjoin

    ev = load_events(spark, sf_dir)
    susp = ev.filter(
        (F.col("event_type") == "error") & (F.col("value") > 200)
    ).select("user_id")
    out = bloomjoin.bloom_semi_join(
        ev.select("event_id", "user_id"), susp, on="user_id"
    )
    return out.select("event_id", "user_id")


# Quality-weighted sampling (operators/sampling.py:weighted_keep):
# keep each doc with probability == its quality score, decided by the
# same md5 hash-bucket machinery as split_assign — deterministic,
# shuffle-free, growth-stable, and exactly reproducible in SQL.
_QWS_SQL = """
WITH q AS (
  SELECT doc_id, source,
         floor(greatest(least(0.5 * alpha_ratio + 0.3 * len_score
                              + 0.2 * (1.0 - punct_ratio), 1.0), 0.0)
               * 1000000.0 + 0.5) / 1000000.0 AS quality
  FROM (
    SELECT doc_id, source,
           len(regexp_extract_all(text, '[A-Za-z]')) / greatest(length(text), 1) AS alpha_ratio,
           len(regexp_extract_all(text, '[^\\sA-Za-z0-9]')) / greatest(length(text), 1) AS punct_ratio,
           least(length(text) / 200.0, 1.0) AS len_score
    FROM documents
  )
)
SELECT doc_id, source, quality
FROM q
WHERE ('0x' || substr(md5('qws-v1:' || doc_id), 1, 8))::BIGINT % 10000
      < floor(least(greatest(quality, 0.0), 1.0) * 10000)
"""


@register("quality_weighted_sample", _QWS_SQL)
def q_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus downsampling (operators/sampling.py:
    weighted_keep): survival probability equals the doc's quality
    score, via the deterministic md5 bucket — the standard
    upweight-good-data step, with per-row fate stable under corpus
    growth. Narrow projection, no shuffle, no RNG."""
    from cybersecurity_miw_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents", widen=True)
    scored = docs.select(
        "doc_id",
        "source",
        textstats.quality_score(F.col("text")).alias("quality"),
    )
    return sampling.weighted_keep(scored, "quality")


# Per-source corpus report card: composes the gopher flags, exact
# fingerprints, and token counts into the summary a pipeline operator
# reads before shipping a corpus — all integer aggregates, so the
# cross-engine hash is exact.
_REPORT_SQL = f"""
WITH g AS ({_GOPHER_SQL}),
f AS (
  SELECT doc_id, source, {_FP_SQL} AS fp FROM documents
)
SELECT f.source,
       count(*) AS n_docs,
       CAST(sum(g.n_words) AS BIGINT) AS total_words,
       CAST(sum(CASE WHEN g.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       count(DISTINCT f.fp) AS n_unique_texts
FROM f JOIN g ON f.doc_id = g.doc_id
GROUP BY 1
"""


@register("corpus_report_by_source", _REPORT_SQL)
def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus report card: doc/token counts, Gopher keep
    counts, and exact-dup uniqueness in one grouped summary —
    integer-only aggregates so the oracle hash is exact. The distinct
    count is the exact two-exchange expansion; at 100 TB swap in the
    approx_* sketch twins below."""
    from cybersecurity_miw_spark.operators import corpus_filters

    docs = load_table(spark, sf_dir, "documents", widen=True)
    flags = corpus_filters.gopher_flags(docs)
    fp = docs.select(
        "doc_id", "source", textstats.fingerprint(F.col("text")).alias("fp")
    )
    return (
        fp.join(flags.select("doc_id", "n_words", "keep"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.sum(F.col("keep").cast("int")).alias("n_keep"),
            F.countDistinct("fp").alias("n_unique_texts"),
        )
    )


# n-gram diversity (the distinct-n mix audit): per source and n,
# total gram occurrences vs distinct grams — the collapse detector a
# pipeline runs on an assembled mix
_DIVERSITY_SQL = """
WITH w AS (
  SELECT source,
         list_filter(str_split_regex(lower(trim(coalesce(text, ''))),
                                     '\\s+'), x -> len(x) > 0) AS w
  FROM documents
),
ns AS (SELECT unnest([1, 2, 3]) AS n),
g AS (
  SELECT source, n,
         unnest([array_to_string(w[i+1:i+n], ' ')
                 FOR i IN generate_series(0, len(w) - n)]) AS gram
  FROM w, ns WHERE len(w) >= n
)
SELECT source, CAST(n AS INT) AS n,
       count(*) AS total_grams,
       count(DISTINCT gram) AS distinct_grams,
       floor(count(DISTINCT gram)::DOUBLE / count(*) * 1000000 + 0.5)
         / 1000000 AS distinct_frac
FROM g GROUP BY source, n
"""


@register("ngram_diversity_by_source", _DIVERSITY_SQL)
def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity audit per source
    (operators/textstats.py:ngram_diversity_report): total vs
    distinct {1,2,3}-gram occurrences and the distinct fraction —
    the collapse detector for assembled mixes. Exact form (string
    countDistinct, oracle-hashable); approx HLL twin via
    exact=False at scale."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    rep = textstats.ngram_diversity_report(docs, by="source")
    return rep.select(
        "source",
        F.col("n").cast("int").alias("n"),
        "total_grams", "distinct_grams", "distinct_frac",
    )


# Sketch-based scale twins: mergeable single-pass state (HLL++ /
# KLL-style quantiles) replaces the exact expansions at 100 TB. No
# SQL oracle on purpose — sketch estimates are engine-specific, so
# these are rows-only for the driver; accuracy is golden-pinned
# against the exact operators in tests/test_approx_sketches.py.


@register("approx_distinct_users_per_type")
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users per event type
    (F.approx_count_distinct, rsd=0.01): one pass, O(kB) mergeable
    state per group vs the exact variant's two-exchange expansion
    (`distinct_users_per_type`). Rows-only by design: the estimate is
    engine-specific; the <=5%-of-exact bound is golden-pinned."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.01).alias(
                "n_users_approx"
            )
        )
    )


@register("approx_value_percentiles")
def q_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p90/p99 of value per event type
    (F.percentile_approx, accuracy 10000): single-pass mergeable
    quantile sketch vs the exact sort-based `event_value_percentiles`.
    Rows-only by design; absolute-error bound vs exact is
    golden-pinned."""
    ev = load_events(spark, sf_dir)
    pct = F.percentile_approx(
        "value", [0.5, 0.9, 0.99], 10000
    )
    return (
        ev.groupBy("event_type")
        .agg(pct.alias("p"))
        .select(
            "event_type",
            F.col("p")[0].alias("p50_approx"),
            F.col("p")[1].alias("p90_approx"),
            F.col("p")[2].alias("p99_approx"),
        )
    )


# Duplicate clusters: connected components over the LSH->Jaccard>=0.8
# confirmed pair graph. The oracle closes the symmetric edge relation
# with a recursive CTE and takes each node's minimum reachable id —
# the component minimum the dup_clusters union-find computes.
_CLUSTERS_SQL = f"""
WITH RECURSIVE {_SIGS_CTE}, {_BANDED_CTE},
dup_pairs AS (
  SELECT cands.id_a AS a, cands.id_b AS b
  FROM cands
  JOIN shingled sa ON sa.doc_id = cands.id_a
  JOIN shingled sb ON sb.doc_id = cands.id_b
  WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
        / greatest(len(list_distinct(sa.sh || sb.sh)), 1) >= 0.8
),
edges AS (SELECT a, b FROM dup_pairs UNION SELECT b, a FROM dup_pairs),
reach(src, dst) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
FROM reach GROUP BY src
"""


@register("dup_clusters_cc", _CLUSTERS_SQL)
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global duplicate clusters (operators/dedup.py:dup_clusters):
    a two-level union-find over the confirmed near-dup pair graph —
    the step that turns pairwise hits into components so dedup keeps
    exactly one doc per cluster. Each partition's pairs shrink to a
    forest, one single-task reduce labels every node with its
    component minimum: a fixed number of Spark jobs on any graph
    shape, nothing collected to the driver."""
    # widen=True: same rationale as q_jaccard_confirm — the MinHash/
    # shingle projections feeding the candidate+confirm chain must not
    # materialize on a single scan split
    docs = load_table(spark, sf_dir, "documents", widen=True)
    cand = dedup.minhash_lsh_candidates(
        docs, num_hashes=_NH, bands=_NB, shingle_k=3
    )
    confirmed = dedup.jaccard_pairs(docs, cand, shingle_k=3).filter(
        F.col("jaccard") >= 0.8
    )
    return dedup.dup_clusters(confirmed)


# Leakage-safe splits: hash the CLUSTER REPRESENTATIVE, not the doc
# id, so a near-dup cluster can never straddle train and test. The
# oracle recomputes the recursive-CTE component closure AND the md5
# bucket arithmetic end-to-end — a green row certifies both the
# cluster atomicity and that unclustered docs get byte-identical
# labels to plain split_train_val_test.
_SAFE_SPLIT_SQL = f"""
WITH RECURSIVE {_SIGS_CTE}, {_BANDED_CTE},
dup_pairs AS (
  SELECT cands.id_a AS a, cands.id_b AS b
  FROM cands
  JOIN shingled sa ON sa.doc_id = cands.id_a
  JOIN shingled sb ON sb.doc_id = cands.id_b
  WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
        / greatest(len(list_distinct(sa.sh || sb.sh)), 1) >= 0.8
),
edges AS (SELECT a, b FROM dup_pairs UNION SELECT b, a FROM dup_pairs),
reach(src, dst) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
reps AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
)
SELECT doc_id, split_key,
       CASE WHEN bucket < 9800 THEN 'train'
            WHEN bucket < 9900 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT d.doc_id,
         coalesce(r.cluster_id, d.doc_id) AS split_key,
         ('0x' || substr(md5('split-v1:'
             || coalesce(r.cluster_id, d.doc_id)), 1, 8))::BIGINT
           % 10000 AS bucket
  FROM documents d LEFT JOIN reps r ON r.doc_id = d.doc_id
)
"""


@register("leakage_safe_splits", _SAFE_SPLIT_SQL)
def q_leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """98/1/1 split where every confirmed near-dup cluster lands in
    ONE split (operators/sampling.py:leakage_safe_split): hash the
    dup_clusters representative, coalesce to own id for unclustered
    docs — closing the duplicate train/test contamination channel
    that raw-id hashing leaves open."""
    from cybersecurity_miw_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    cand = dedup.minhash_lsh_candidates(
        docs, num_hashes=_NH, bands=_NB, shingle_k=3
    )
    confirmed = dedup.jaccard_pairs(docs, cand, shingle_k=3).filter(
        F.col("jaccard") >= 0.8
    )
    clusters = dedup.dup_clusters(confirmed)
    out = sampling.leakage_safe_split(
        docs.select("doc_id"),
        clusters,
        {"train": 0.98, "val": 0.01, "test": 0.01},
    )
    return out.select("doc_id", "split_key", "split")


# One-call dataset assembly (pipeline.py:assemble_dataset): the
# END-TO-END doc→shard manifest — dup clusters → leakage-safe split →
# train filter → weighted interleave (explicit 60/30/10 weights, the
# weighted_interleave_prefix convention) → deterministic range-shard
# id → sliding-window chunking. The oracle recomputes the recursive-
# CTE component closure, the md5 split buckets, the per-source mix
# rank, floor(mix_key / shard_rows), and the 32-token chunk windows
# entirely in SQL — a green row certifies the whole assembled
# manifest, not one stage.
_ASSEMBLE_SQL = f"""
WITH RECURSIVE {_SIGS_CTE}, {_BANDED_CTE},
dup_pairs AS (
  SELECT cands.id_a AS a, cands.id_b AS b
  FROM cands
  JOIN shingled sa ON sa.doc_id = cands.id_a
  JOIN shingled sb ON sb.doc_id = cands.id_b
  WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
        / greatest(len(list_distinct(sa.sh || sb.sh)), 1) >= 0.8
),
edges AS (SELECT a, b FROM dup_pairs UNION SELECT b, a FROM dup_pairs),
reach(src, dst) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
reps AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
),
train AS (
  SELECT d.doc_id, d.source, d.text
  FROM documents d LEFT JOIN reps r ON r.doc_id = d.doc_id
  WHERE ('0x' || substr(md5('split-v1:'
            || coalesce(r.cluster_id, d.doc_id)), 1, 8))::BIGINT
          % 10000 < 9800
    AND d.source IN ('src0', 'src1', 'src2')
),
ranked AS (
  SELECT doc_id, source, text,
         row_number() OVER (
           PARTITION BY source ORDER BY md5('mix-v1:' || doc_id)
         ) AS rn
  FROM train
),
keyed AS (
  SELECT doc_id, source, text,
         rn / (CASE source WHEN 'src0' THEN 0.6
                           WHEN 'src1' THEN 0.3
                           ELSE 0.1 END) AS mix_key
  FROM ranked
),
toks AS (
  SELECT doc_id, source, mix_key,
         str_split_regex(lower(trim(coalesce(text, ''))), '\\s+') AS w
  FROM keyed
),
starts AS (
  SELECT doc_id, source, mix_key, len(w) AS n, w,
         unnest(generate_series(1, greatest(len(w), 1), 32)) AS start
  FROM toks
)
SELECT doc_id, source,
       round(mix_key, 6) AS mix_key_r,
       CAST(floor(mix_key / 10.0) AS BIGINT) AS shard_id,
       CAST((start - 1) // 32 AS INT) AS chunk_id,
       least(32, n - start + 1) AS n_chunk_tokens,
       md5(array_to_string(w[start:start+31], ' ')) AS chunk_md5
FROM starts
"""


@register("assemble_manifest", _ASSEMBLE_SQL)
def q_assemble_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call dataset assembly (pipeline.py:assemble_dataset — the
    tested back half of the training pipeline, VERDICT r14 #1): dup
    clusters feed a leakage-safe 98/1/1 split, the train split is
    interleaved 60/30/10 across src0/src1/src2, every doc gets the
    deterministic range-shard id floor(mix_key / 10), and each doc is
    chunked into 32-token windows that inherit the parent's
    mix_key/shard_id. End-to-end md5-deterministic — the oracle
    replays the entire chain relationally."""
    from cybersecurity_miw_spark import pipeline as _pipeline

    docs = load_table(spark, sf_dir, "documents", widen=True)
    cand = dedup.minhash_lsh_candidates(
        docs, num_hashes=_NH, bands=_NB, shingle_k=3
    )
    confirmed = dedup.jaccard_pairs(docs, cand, shingle_k=3).filter(
        F.col("jaccard") >= 0.8
    )
    clusters = dedup.dup_clusters(confirmed)
    out = _pipeline.assemble_dataset(
        docs.select("doc_id", "source", "text"),
        clusters=clusters,
        weights={"src0": 0.6, "src1": 0.3, "src2": 0.1},
        chunk_window=32,
        shard_rows=10,
    )
    return out.select(
        "doc_id", "source",
        F.round("mix_key", 6).alias("mix_key_r"),
        "shard_id",
        "chunk_id",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    )


# Cross-document exact substring dedup, span level (Lee et al.'s
# "Deduplicating Training Data" primitive): maximal token spans
# covered by an 8-gram occurring in >=2 distinct docs. The oracle
# rebuilds positional grams (list comprehension + unnest), the
# distinct-doc filter, and the gaps-and-islands merge entirely in
# SQL — algorithm-blind relative to the Spark window pipeline.
_DUP_SPANS_SQL = """
WITH toks AS (
  SELECT doc_id, str_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents
),
grams AS (
  SELECT doc_id, u.pos AS pos, u.g AS g FROM (
    SELECT doc_id,
           unnest([{'pos': i,
                    'g': array_to_string(w[i+1:i+8], ' ')}
                   FOR i IN generate_series(0, len(w) - 8)]) AS u
    FROM toks WHERE len(w) >= 8
  )
),
dup AS (SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
spans AS (SELECT doc_id, pos AS s, pos + 8 AS e FROM grams JOIN dup USING (g)),
flagged AS (
  SELECT doc_id, s, e,
         CASE WHEN s > max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS brk
  FROM spans
),
grp AS (
  SELECT doc_id, s, e,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
  FROM flagged
)
SELECT doc_id, min(s)::BIGINT AS start_tok, max(e)::BIGINT AS end_tok,
       count(*) AS n_grams
FROM grp GROUP BY doc_id, gid
"""


@register("duplicated_ngram_spans", _DUP_SPANS_SQL)
def q_duplicated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact substring dedup
    (operators/dedup.py:duplicated_ngram_spans): maximal token spans
    covered by a cross-doc-duplicated 8-gram — the repeated-passage
    signal doc-level MinHash/exact dedup cannot see. Linear in gram
    occurrences (group → count-distinct → occurrence join → one
    window pass), never pairwise."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicated_ngram_spans(docs, k=8)


# Span REMOVAL — the second half of the Lee et al. pipeline: the
# oracle recomputes the span plan from scratch and then rebuilds
# every document's text by dropping covered token indexes (NOT
# EXISTS over the span ranges + ordered string_agg) — fully
# algorithm-blind relative to the Spark array-lambda slice.
_SPAN_REMOVE_SQL = """
WITH toks AS (
  SELECT doc_id, str_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents
),
grams AS (
  SELECT doc_id, u.pos AS pos, u.g AS g FROM (
    SELECT doc_id,
           unnest([{'pos': i,
                    'g': array_to_string(w[i+1:i+8], ' ')}
                   FOR i IN generate_series(0, len(w) - 8)]) AS u
    FROM toks WHERE len(w) >= 8
  )
),
dup AS (SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
spans AS (SELECT DISTINCT doc_id, pos AS s, pos + 8 AS e
          FROM grams JOIN dup USING (g)),
tokpos AS (
  SELECT doc_id, u.i AS i, u.w AS w FROM (
    SELECT doc_id,
           unnest([{'i': i, 'w': w[i+1]}
                   FOR i IN generate_series(0, len(w) - 1)]) AS u
    FROM toks
  )
),
cov AS (
  SELECT t.doc_id, t.i, t.w,
         EXISTS (SELECT 1 FROM spans sp
                 WHERE sp.doc_id = t.doc_id
                   AND t.i >= sp.s AND t.i < sp.e) AS covered
  FROM tokpos t
)
SELECT doc_id,
       coalesce(string_agg(w, ' ' ORDER BY i) FILTER (WHERE NOT covered),
                '') AS text,
       (count(*) FILTER (WHERE covered))::BIGINT AS removed_tokens
FROM cov
GROUP BY 1
"""


@register("span_removed_documents", _SPAN_REMOVE_SQL)
def q_span_removed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Close the Lee et al. loop (operators/dedup.py:
    remove_duplicated_spans): excise every cross-doc duplicated
    8-gram span from the corpus and reassemble the text, reporting
    removed token counts. One span-table groupBy + one left join on
    the uniform doc key; the slice is a single JVM array lambda."""
    docs = load_table(spark, sf_dir, "documents")
    spans = dedup.duplicated_ngram_spans(docs, k=8)
    return dedup.remove_duplicated_spans(docs, spans)


# ---------------------------------------------------------------------------
# r16: URL/domain curation family (operators/urlcurate.py) — the
# published recipes' stage-one (C4 §2.2 / RefinedWeb §3.1). Both
# oracles synthesize URL/host columns from `documents` with the same
# arithmetic on both engines; the DuckDB twins re-implement the
# canonicalization regex chain and the PSL candidate-join wholesale
# (no shared code), the catalog's twin discipline.
# ---------------------------------------------------------------------------

from cybersecurity_miw_spark.operators import urlcurate

_TRACKING_IN = ", ".join(f"'{t}'" for t in urlcurate.TRACKING_PARAMS)

# Synthesized page URLs: messy case, default port, tracking params,
# fragments; canonical key = (doc_id%5, doc_id%11, doc_id%3), so
# ~165 distinct pages → real duplicate groups at any sf.
_URLC_SYNTH_SQL = """
  SELECT doc_id,
         'HTTP://WWW.Site' || (doc_id % 5)::VARCHAR
         || '.Example.COM:80/page/' || (doc_id % 11)::VARCHAR
         || '?id=' || (doc_id % 3)::VARCHAR
         || CASE WHEN doc_id % 3 = 0 THEN '&utm_source=feed' ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN '&gclid=g' || doc_id::VARCHAR ELSE '' END
         || CASE WHEN doc_id % 4 = 0 THEN '#sec' || doc_id::VARCHAR ELSE '' END
         AS url
  FROM documents
"""

def _canon_dedup_sql(parts_ctes: str) -> str:
    """DuckDB twin of the canonical_url chain + min-id URL dedup,
    parameterized over the CTEs that produce ``parts(doc_id, u)`` —
    shared by the r16 ``url_canonical_dedup`` twin and the r18
    ``url_pct_normalize_dedup`` twin (which prepends the
    percent-normalization pass)."""
    return f"""
WITH {parts_ctes},
comp AS (
  SELECT doc_id, u,
    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1) AS auth,
    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1) AS path,
    regexp_extract(u, '^[^#?]*\\?([^#]*)', 1) AS query
  FROM parts),
comp2 AS (
  SELECT *, regexp_extract(auth, '^(.*@)', 1) AS userinfo,
         regexp_replace(auth, '^.*@', '') AS hostport
  FROM comp),
comp3 AS (
  SELECT *,
    regexp_replace(lower(regexp_extract(hostport, '^([^:]*)', 1)), '\\.+$', '') AS host,
    regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
    -- coalesce: array_to_string([]) is NULL in DuckDB (the
    -- catalog's documented empty-list edge) and a query-less URL
    -- splits to the empty list
    coalesce(array_to_string(list_filter(string_split(query, '&'),
      p -> p <> '' AND NOT (
        starts_with(lower(regexp_extract(p, '^([^=]*)', 1)), 'utm_')
        OR lower(regexp_extract(p, '^([^=]*)', 1)) IN ({_TRACKING_IN}))), '&'),
      '') AS q2
  FROM comp2),
canon AS (
  SELECT doc_id,
    CASE WHEN scheme = '' OR contains(u, '://[')
           OR (regexp_replace(hostport, '^[^:]*', '') <> ''
               AND NOT regexp_matches(
                     regexp_replace(hostport, '^[^:]*', ''),
                     '^:[0-9]+$'))
         THEN u
    ELSE scheme || '://' || userinfo || host
      || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                OR (scheme = 'https' AND port = '443')
              THEN '' ELSE ':' || port END
      || CASE WHEN path = '' THEN '/' ELSE path END
      || CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END
    END AS canonical_url
  FROM comp3)
SELECT doc_id, canonical_url FROM canon
QUALIFY doc_id = min(doc_id) OVER (PARTITION BY canonical_url)
"""


_URLC_SQL = _canon_dedup_sql(
    f"urls AS ({_URLC_SYNTH_SQL}),\n"
    "parts AS (SELECT doc_id, trim(url) AS u FROM urls)"
)


@register("url_canonical_dedup", _URLC_SQL)
def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recipe's stage-one chain end-to-end: canonicalize messy
    page URLs (case, default port, tracking params, fragments —
    urlcurate.canonical_url) then keep one doc per canonical page
    (min id — urlcurate.url_exact_dedup). Plan: pure row expressions
    + one md5-fingerprint groupBy + one semi-join back."""
    d = F.col("doc_id")

    def _opt(cond, *parts) -> F.Column:
        return F.when(cond, F.concat(*parts)).otherwise(F.lit(""))

    url = F.concat(
        F.lit("HTTP://WWW.Site"), (d % 5).cast("string"),
        F.lit(".Example.COM:80/page/"), (d % 11).cast("string"),
        F.lit("?id="), (d % 3).cast("string"),
        _opt(d % 3 == 0, F.lit("&utm_source=feed")),
        _opt(d % 5 == 0, F.lit("&gclid=g"), d.cast("string")),
        _opt(d % 4 == 0, F.lit("#sec"), d.cast("string")),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    with_url = docs.withColumn("url", url)
    surv = urlcurate.url_exact_dedup(with_url)
    return surv.select(
        "doc_id",
        urlcurate.canonical_url(F.col("url")).alias("canonical_url"),
    )


# URL quality scoring (urlcurate.url_quality_flags — the RefinedWeb
# §3.1 structural-signal half): synthesized URLs plant every
# pathology at a modular rate (digit-heavy hosts %7, subdomain farms
# %8, deep paths %15, crawler-trap length %17, badword %13), so every
# signal and threshold is non-vacuous at sf0.01.
_URLQ_SYNTH_SQL = """
  SELECT doc_id,
    'https://' || repeat('s.', CAST(doc_id % 8 AS INT))
    || CASE WHEN doc_id % 7 = 0
            THEN 'h' || (doc_id % 1000)::VARCHAR || '123456789'
            ELSE 'www' END
    || '.site' || (doc_id % 50)::VARCHAR || '.com'
    || repeat('/seg', CAST(doc_id % 15 AS INT))
    || CASE WHEN doc_id % 17 = 0 THEN '/' || repeat('z', 2100) ELSE '' END
    || CASE WHEN doc_id % 13 = 0 THEN '?note=xbadx' ELSE '' END AS url
  FROM documents
"""

_URLQ_SQL = f"""
WITH urls AS ({_URLQ_SYNTH_SQL}),
t AS (SELECT doc_id, trim(url) AS u FROM urls),
h AS (
  SELECT doc_id, u,
    regexp_replace(lower(regexp_extract(
      regexp_replace(
        regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1),
        '^.*@', ''),
      '^([^:]*)', 1)), '\\.+$', '') AS host,
    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1)
      AS path
  FROM t),
f AS (
  SELECT doc_id,
    length(u)::BIGINT AS url_len,
    len(list_filter(string_split(path, '/'), x -> len(x) > 0))::BIGINT
      AS path_depth,
    CASE WHEN length(host) > 0
      THEN floor(length(regexp_replace(host, '[^0-9]', '', 'g'))::DOUBLE
                 / length(host) * 1000000 + 0.5) / 1000000
      ELSE 0.0 END AS host_digit_frac,
    len(list_filter(string_split(host, '.'), x -> len(x) > 0))::BIGINT
      AS n_host_labels,
    contains(lower(u), 'xbadx') AS has_badword
  FROM h)
SELECT doc_id, url_len, path_depth, host_digit_frac, n_host_labels,
       has_badword,
       (url_len <= 2048 AND path_depth <= 12
        AND host_digit_frac <= 0.4 AND n_host_labels <= 6
        AND NOT has_badword) AS keep
FROM f
"""


@register("url_quality_flags", _URLQ_SQL)
def q_url_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL scoring heuristics (urlcurate.url_quality_flags): length,
    path depth, host digit fraction, subdomain-label count, badword
    substring — the RefinedWeb structural URL gate, pure row
    expressions."""
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.expr("repeat('s.', cast(doc_id % 8 as int))"),
        F.when(
            d % 7 == 0,
            F.concat(F.lit("h"), (d % 1000).cast("string"),
                     F.lit("123456789")),
        ).otherwise(F.lit("www")),
        F.lit(".site"), (d % 50).cast("string"), F.lit(".com"),
        F.expr("repeat('/seg', cast(doc_id % 15 as int))"),
        F.when(
            d % 17 == 0, F.concat(F.lit("/"), F.expr("repeat('z', 2100)"))
        ).otherwise(F.lit("")),
        F.when(d % 13 == 0, F.lit("?note=xbadx")).otherwise(F.lit("")),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return urlcurate.url_quality_flags(
        docs.withColumn("url", url), badwords=("xbadx",)
    )


def _psl_values_sql() -> str:
    rules = urlcurate.load_public_suffix_rules()
    rows = ", ".join(
        f"('{r['rule']}', {'true' if r['exc'] else 'false'})" for r in rules
    )
    return f"(VALUES {rows}) AS r(rule, exc)"


# Synthesized hosts covering every PSL algorithm branch: exact
# single- and multi-label rules, the *.ck wildcard, the !www.ck
# exception, the default '*' rule, and a bare public suffix (NULL).
_RDOM_HOSTS_SQL = """
  SELECT doc_id,
         CASE doc_id % 6
           WHEN 0 THEN 'www.site' || (doc_id % 7)::VARCHAR || '.example.com'
           WHEN 1 THEN 'a.b.site' || (doc_id % 7)::VARCHAR || '.co.uk'
           WHEN 2 THEN 'foo' || (doc_id % 5)::VARCHAR || '.bar.ck'
           WHEN 3 THEN 'www.ck'
           WHEN 4 THEN 'x.unknown' || (doc_id % 3)::VARCHAR
           ELSE 'co.uk'
         END AS host
  FROM documents
"""

_RDOM_SQL = f"""
WITH hosts AS ({_RDOM_HOSTS_SQL}),
labels AS (SELECT doc_id, host, string_split(host, '.') AS ls FROM hosts),
series AS (SELECT 1 AS k UNION ALL SELECT 2),
cands AS (
  SELECT doc_id, k,
    array_to_string(ls[len(ls)-k+1 : len(ls)], '.') AS key_e,
    CASE WHEN k >= 2
      THEN '*.' || array_to_string(ls[len(ls)-k+2 : len(ls)], '.') END AS key_w
  FROM labels, series WHERE k <= len(ls)),
matched AS (
  SELECT doc_id,
    CASE WHEN bool_or(exc) THEN max(CASE WHEN exc THEN k - 1 END)
         ELSE max(k) END AS ps
  FROM (SELECT c.doc_id, c.k, r.exc
        FROM cands c JOIN {_psl_values_sql()}
          ON r.rule = c.key_e OR r.rule = c.key_w) m
  GROUP BY doc_id),
final AS (
  SELECT l.doc_id,
    CASE WHEN len(l.ls) > coalesce(m.ps, 1)
      THEN array_to_string(
        l.ls[len(l.ls) - coalesce(m.ps, 1) : len(l.ls)], '.')
    END AS registrable_domain
  FROM labels l LEFT JOIN matched m USING (doc_id))
SELECT registrable_domain, count(*) AS n_docs
FROM final GROUP BY registrable_domain
"""


@register("registrable_domain_counts", _RDOM_SQL)
def q_registrable_domain_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSL "eTLD+1" extraction (urlcurate.registrable_domain) over
    hosts exercising every algorithm branch, aggregated to the
    per-domain counts a domain-level curation report starts from.
    The DuckDB twin rebuilds the candidate-suffix explode + rule
    join + exception/longest-match resolution in SQL over the same
    shipped rule file."""
    d = F.col("doc_id")
    host = (
        F.when(d % 6 == 0, F.concat(
            F.lit("www.site"), (d % 7).cast("string"), F.lit(".example.com")))
        .when(d % 6 == 1, F.concat(
            F.lit("a.b.site"), (d % 7).cast("string"), F.lit(".co.uk")))
        .when(d % 6 == 2, F.concat(
            F.lit("foo"), (d % 5).cast("string"), F.lit(".bar.ck")))
        .when(d % 6 == 3, F.lit("www.ck"))
        .when(d % 6 == 4, F.concat(
            F.lit("x.unknown"), (d % 3).cast("string")))
        .otherwise(F.lit("co.uk"))
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    rd = urlcurate.registrable_domain(
        docs.withColumn("host", host), host_col="host"
    )
    return rd.groupBy("registrable_domain").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# r16: sentence-boundary chunking (packing.chunk_by_sentences). The
# synthetic documents carry no punctuation, so the query plants
# sentence ends deterministically (after three common corpus words)
# with the same regexp on both engines, then chunks to a 40-token
# budget — multi-sentence multi-chunk docs at any sf.
_SENT_CHUNK_SQL = """
WITH punct AS (
  SELECT doc_id,
    regexp_replace(coalesce(text, ''), '(table|row|fast) ', '\\1. ', 'g')
      AS text
  FROM documents),
base AS (
  SELECT doc_id,
    string_split(regexp_replace(trim(text), '([.!?]+)\\s+',
                                '\\1' || chr(30), 'g'), chr(30)) AS arr
  FROM punct),
sents0 AS (
  SELECT doc_id, u.pos AS pos, trim(u.s) AS sent FROM (
    SELECT doc_id,
           unnest([{'pos': i, 's': arr[i + 1]}
                   FOR i IN generate_series(0, len(arr) - 1)]) AS u
    FROM base WHERE len(arr) >= 1
  )
),
sents AS (
  SELECT doc_id, pos, sent,
    len(list_filter(str_split_regex(sent, '\\s+'), x -> len(x) > 0)) AS t
  FROM sents0 WHERE length(sent) > 0),
ch AS (
  SELECT doc_id, pos, sent, t,
    CAST(floor(coalesce(sum(t) OVER (
          PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 40.0)
      AS INT) AS chunk_id
  FROM sents)
SELECT doc_id, chunk_id,
       string_agg(sent, ' ' ORDER BY pos) AS chunk_text,
       CAST(sum(t) AS BIGINT) AS n_chunk_tokens,
       count(*)::BIGINT AS n_sentences
FROM ch GROUP BY doc_id, chunk_id
"""


@register("chunk_sentence_budget", _SENT_CHUNK_SQL)
def q_chunk_sentence_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-boundary chunking to a 40-token budget
    (packing.chunk_by_sentences): terminal-punct sentence split (a
    marker regexp — no lookbehind, so the SQL twin is exact),
    quantized-prefix chunk assignment, order-preserving group
    concat. One real exchange on the doc key."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    punct = docs.withColumn(
        "text",
        F.regexp_replace(
            F.coalesce(F.col("text"), F.lit("")),
            "(table|row|fast) ",
            "$1. ",
        ),
    )
    return packing.chunk_by_sentences(punct, budget_tokens=40)


# ---------------------------------------------------------------------------
# r17: char-trigram language ID (operators/langid.py). Planted
# 30-way multilingual fixture — one text per profiled language (21),
# one per script-gated language (8), one letter-less und case — so
# every decision path (gate, trigram argmax, match-fraction gate,
# margin gate) is live at any sf. The DuckDB twin (_langid_cte_sql)
# rebuilds the whole chain in SQL over the SAME shipped profile file
# inlined as VALUES.
# ---------------------------------------------------------------------------

_LANGID_FIXTURES = [
    # 21 trigram-profiled languages (held-out prose, not in the
    # sample corpus; da/no/bg get document-length text — the pair
    # separations need more than one parallel-translated sentence)
    "Many years later the family moved to another city and found new friends there.",
    "Viele Jahre später zog die Familie in eine andere Stadt und fand dort neue Freunde.",
    "Plusieurs années plus tard, la famille a déménagé dans une autre ville et y a trouvé de nouveaux amis.",
    "Muchos años después la familia se mudó a otra ciudad y encontró allí nuevos amigos.",
    "Muitos anos depois a família mudou-se para outra cidade e encontrou lá novos amigos.",
    "Molti anni dopo la famiglia si trasferì in un'altra città e vi trovò nuovi amici.",
    "Vele jaren later verhuisde het gezin naar een andere stad en vond daar nieuwe vrienden.",
    "Många år senare flyttade familjen till en annan stad och fick nya vänner där.",
    "Mange år senere flyttede familien til en anden by. De rejste gennem bjergene og så en lille ø ud for kysten. Faderen gik ud af huset hver morgen og blev væk hele dagen, mens han arbejdede på fabrikken. Børnene lærte sproget hurtigt, og efter nogle uger talte de dansk med alle deres venner.",
    "Mange år senere flyttet familien til en annen by. De reiste gjennom fjellene og så en liten øy utenfor kysten. Faren gikk ut av huset hver morgen og ble borte hele dagen mens han arbeidet på fabrikken. Barna lærte seg språket fort, og etter noen uker snakket de norsk med alle vennene sine.",
    "Monta vuotta myöhemmin perhe muutti toiseen kaupunkiin ja sai sieltä uusia ystäviä.",
    "Wiele lat później rodzina przeprowadziła się do innego miasta i znalazła tam nowych przyjaciół.",
    "O mnoho let později se rodina přestěhovala do jiného města a našla tam nové přátele.",
    "Mulți ani mai târziu familia s-a mutat într-un alt oraș și a găsit acolo prieteni noi.",
    "Sok évvel később a család egy másik városba költözött, és ott új barátokat talált.",
    "Yıllar sonra aile başka bir şehre taşındı ve orada yeni arkadaşlar buldu.",
    "Bertahun-tahun kemudian keluarga itu pindah ke kota lain dan menemukan teman baru di sana.",
    "Nhiều năm sau gia đình chuyển đến một thành phố khác và tìm thấy những người bạn mới ở đó.",
    "Много лет спустя семья переехала в другой город и нашла там новых друзей.",
    "Багато років по тому родина переїхала до іншого міста і знайшла там нових друзів.",
    "Много години по-късно семейството се премести в друг град и намери там нови приятели. Те купиха стара къща до училището и бащата започна да работи във фабриката извън града. В началото на децата им беше трудно, но след няколко месеца вече говореха с всички на улицата.",
    # 8 script-gated languages
    "今天早上天气很冷，孩子们和他们的母亲一起留在家里。政府宣布新学校将建在医院旁边。",
    "今朝は寒かったので、子供たちは母親と一緒に家にいました。政府は新しい学校が病院の隣に建設されると発表しました。",
    "오늘 아침 날씨가 추워서 아이들은 어머니와 함께 집에 있었습니다.",
    "Ο καιρός ήταν κρύος σήμερα το πρωί και τα παιδιά έμειναν στο σπίτι με τη μητέρα τους.",
    "מזג האוויר היה קר הבוקר והילדים נשארו בבית עם אמם.",
    "आज सुबह मौसम ठंडा था और बच्चे अपनी माँ के साथ घर पर रहे।",
    "เช้านี้อากาศหนาวและเด็กๆ อยู่บ้านกับแม่ของพวกเขา",
    "كان الطقس باردا هذا الصباح وبقي الأطفال في المنزل مع أمهم.",
    # letter-less → und at the gate
    "12345 67890 ++-- ### $$$ 42",
]


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


_LANGID_ASSIGN_SQL = f"""
WITH lid_docs AS (
  SELECT doc_id,
         ([{", ".join(_sql_quote(s) for s in _LANGID_FIXTURES)}])
           [CAST(doc_id % {len(_LANGID_FIXTURES)} AS INT) + 1] AS text
  FROM documents),
{_langid_cte_sql()}
SELECT doc_id, lang, lang_score_micro, lang_margin_micro FROM lid_out
"""


_LANG_REPORT_SQL = f"""
WITH lid_docs AS (
  SELECT doc_id,
         ([{", ".join(_sql_quote(s) for s in _LANGID_FIXTURES)}])
           [CAST(doc_id % {len(_LANGID_FIXTURES)} AS INT) + 1] AS text
  FROM documents),
{_langid_cte_sql()},
tok AS (SELECT doc_id, {_N_TOKENS_SQL} AS n FROM lid_docs),
j AS (SELECT l.lang, t.n FROM lid_out l JOIN tok t ON l.doc_id = t.doc_id),
per AS (
  SELECT lang, count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS n_tokens
  FROM j GROUP BY lang)
SELECT lang, n_docs, n_tokens,
       floor(n_docs::DOUBLE / (sum(n_docs) OVER ()) * 1000000.0 + 0.5)
         / 1000000.0 AS doc_share
FROM per
"""


@register("lang_report_counts", _LANG_REPORT_SQL)
def q_lang_report_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus audit (langid.lang_report — the CCNet
    per-language size table) over the 30-way multilingual fixture:
    one row per detected language with doc/token counts (CJK-robust
    token_count, so the zh/ja/th rows report real volumes) and the
    micro-rounded doc share. One language-keyed aggregation + a
    window over the languages-bounded result."""
    d = F.col("doc_id")
    txt = F.element_at(
        F.array(*[F.lit(s) for s in _LANGID_FIXTURES]),
        (d % len(_LANGID_FIXTURES) + 1).cast("int"),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return langid.lang_report(docs.withColumn("text", txt))


@register("lang_id_assign", _LANGID_ASSIGN_SQL)
def q_lang_id_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full language-ID decision chain (langid.detect_language)
    over the 30-way planted fixture: script gate, trigram scoring
    against the shipped profile file, match-fraction and ln(99)
    margin gates — per-doc (lang, score, margin), all integer
    micro-nats. Plan: bounded row expressions + one ≤600-gram
    explode + broadcast profile join + two partial-agg exchanges."""
    d = F.col("doc_id")
    txt = F.element_at(
        F.array(*[F.lit(s) for s in _LANGID_FIXTURES]),
        (d % len(_LANGID_FIXTURES) + 1).cast("int"),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return langid.detect_language(docs.withColumn("text", txt))


# ---------------------------------------------------------------------------
# r17: HTML→text extraction (operators/htmlextract.py). Pages are
# synthesized from `documents` with every planted pathology (nested
# script with '<' and block tags inside, comments, entities incl.
# the double-escape trap, malformed lone '<', nav/footer link
# blocks); the DuckDB twins rebuild the strip/decode chain and the
# jusText-lite line classifier wholesale in SQL. The regex/entity
# CONSTANTS are shared with the operator (the TRACKING_PARAMS /
# _psl_values_sql precedent: contract data, not logic) — every
# chain step is re-expressed in SQL below.
# ---------------------------------------------------------------------------

from cybersecurity_miw_spark.operators import htmlextract
from cybersecurity_miw_spark.operators import htmlextract as _hx


def _rr_sql(e: str, pat: str, rep_expr: str) -> str:
    """regexp_replace step with a global flag; the pattern rides a
    DuckDB single-quoted literal (no backslash processing, so the
    Java-regex constants pass through to RE2 verbatim — the shared
    patterns avoid lookaheads/backrefs for exactly this reason)."""
    return f"regexp_replace({e}, {_sql_quote(pat)}, {rep_expr}, 'g')"


def _html_strip_sql(e: str, mark_links: bool) -> str:
    """The full extract_text chain as ONE nested SQL expression over
    input expression ``e`` — same step order as
    htmlextract._strip_to_lines."""
    e = _rr_sql(e, _hx._COMMENT, "' '")
    e = _rr_sql(e, _hx._CDATA, "' '")
    e = _rr_sql(e, _hx._SCRIPT, "' '")
    e = _rr_sql(e, _hx._STYLE, "' '")
    if mark_links:
        e = _rr_sql(e, f"[{_hx.LINK_OPEN}{_hx.LINK_CLOSE}]", "''")
        e = _rr_sql(
            e,
            _hx._ANCHOR,
            _sql_quote(_hx.LINK_OPEN) + " || '\\1' || "
            + _sql_quote(_hx.LINK_CLOSE),
        )
    e = _rr_sql(e, _hx._BLOCK, "chr(10)")
    e = _rr_sql(e, _hx._ANY_TAG, "' '")
    for ent, ch in _hx.ENTITY_MAP:
        e = f"replace({e}, {_sql_quote(ent)}, {_sql_quote(ch)})"
    e = _rr_sql(e, r"[ \t\r]+", "' '")
    e = _rr_sql(e, r" ?\n ?", "chr(10)")
    e = _rr_sql(e, r"\n+", "chr(10)")
    e = _rr_sql(e, r"^\n+|\n+$", "''")
    return f"trim({e})"


_HTML_PAGE_SQL = """
  SELECT doc_id,
    '<!DOCTYPE html><html><head><title>Doc ' || doc_id::VARCHAR || '</title>'
    || '<style>p{color:red}</style><script>var x=1; if(x<2){x=3;}</script></head>'
    || '<body><!-- c' || doc_id::VARCHAR || ' --><h1>Title &amp; &lt;' || (doc_id % 9)::VARCHAR || '&gt;</h1>'
    || '<p>' || substr(coalesce(text, ''), 1, 120) || '</p>'
    || CASE WHEN doc_id % 3 = 0 THEN '<p>second&nbsp;para&hellip; &amp;lt;keep&amp;gt;</p>' ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN '<div>3 < 5 stays</div>' ELSE '' END
    || '</body></html>' AS html
  FROM documents
"""

_HTML_EXTRACT_SQL = f"""
WITH pages AS ({_HTML_PAGE_SQL})
SELECT doc_id, {_html_strip_sql("html", mark_links=False)} AS text
FROM pages
"""


def _spark_html_page(d: F.Column) -> F.Column:
    def _opt(cond, lit_s: str) -> F.Column:
        return F.when(cond, F.lit(lit_s)).otherwise(F.lit(""))

    return F.concat(
        F.lit("<!DOCTYPE html><html><head><title>Doc "),
        d.cast("string"),
        F.lit("</title><style>p{color:red}</style>"
              "<script>var x=1; if(x<2){x=3;}</script></head>"
              "<body><!-- c"),
        d.cast("string"),
        F.lit(" --><h1>Title &amp; &lt;"),
        (d % 9).cast("string"),
        F.lit("&gt;</h1><p>"),
        F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 120),
        F.lit("</p>"),
        _opt(d % 3 == 0,
             "<p>second&nbsp;para&hellip; &amp;lt;keep&amp;gt;</p>"),
        _opt(d % 5 == 0, "<div>3 < 5 stays</div>"),
        F.lit("</body></html>"),
    )


@register("html_extract_text", _HTML_EXTRACT_SQL)
def q_html_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→text extraction (htmlextract.extract_text) over planted
    pages carrying every pathology the chain documents: script
    bodies with '<' and markup inside, comments, the bounded entity
    set incl. the &amp;lt; double-escape trap, malformed lone '<',
    conditional extra blocks. Pure row-expression chain — zero
    exchanges."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pages = docs.select(
        "doc_id", _spark_html_page(F.col("doc_id")).alias("html")
    )
    return pages.select(
        "doc_id", htmlextract.extract_text(F.col("html")).alias("text")
    )


_HTML_NAV_PAGE_SQL = """
  SELECT doc_id,
    '<html><body><div><a href="/a">Home page</a> <a href="/b">About us</a> <a href="/c">Contact form</a></div>'
    || '<p>' || substr(coalesce(text, ''), 1, 150) || '</p>'
    || CASE WHEN doc_id % 4 = 0 THEN '<div>Copyright 2024 Corp <a href="/t">Terms</a></div>' ELSE '' END
    || CASE WHEN doc_id % 6 = 0 THEN '<p>Tiny.</p>' ELSE '' END
    || '</body></html>' AS html
  FROM documents
"""

_LINK_PAT = (
    f"{_hx.LINK_OPEN}([^{_hx.LINK_OPEN}{_hx.LINK_CLOSE}]*){_hx.LINK_CLOSE}"
)

_HTML_LINES_SQL = f"""
WITH pages AS ({_HTML_NAV_PAGE_SQL}),
stripped AS (
  SELECT doc_id, {_html_strip_sql("html", mark_links=True)} AS s
  FROM pages),
fl AS (
  SELECT doc_id,
         list_filter(string_split(s, chr(10)),
                     x -> len(trim(x)) > 0) AS ls
  FROM stripped),
lines AS (
  SELECT doc_id, u.i AS line_no, u.l AS raw FROM (
    SELECT doc_id,
           unnest([{{'i': i, 'l': ls[i + 1]}}
                   FOR i IN generate_series(0, len(ls) - 1)]) AS u
    FROM fl)),
m AS (
  SELECT doc_id, line_no,
    trim(replace(replace(raw, {_sql_quote(_hx.LINK_OPEN)}, ''),
                 {_sql_quote(_hx.LINK_CLOSE)}, '')) AS line_text,
    coalesce(list_sum(list_transform(
      regexp_extract_all(raw, {_sql_quote(_LINK_PAT)}, 1),
      x -> length(x))), 0) AS lc
  FROM lines),
f AS (
  SELECT doc_id, line_no, line_text,
    length(line_text)::BIGINT AS n_chars,
    len(list_filter(str_split_regex(line_text, '\\s+'),
                    x -> len(x) > 0))::BIGINT AS n_words,
    floor(lc / greatest(length(line_text), 1) * 1000000.0 + 0.5)
      / 1000000.0 AS link_frac
  FROM m)
SELECT doc_id, line_no, line_text, n_chars, n_words, link_frac,
       (n_words >= 3 AND link_frac <= 0.5) AS keep
FROM f
"""


def _entity_chain_sql(e: str) -> str:
    for ent, ch in _hx.ENTITY_MAP:
        e = f"replace({e}, {_sql_quote(ent)}, {_sql_quote(ch)})"
    return e


_HREF_CHAIN = _entity_chain_sql(
    "regexp_replace(h, '^[\"'']|[\"'']$', '', 'g')"
)
_ATEXT_CHAIN = _entity_chain_sql(
    "trim(regexp_replace(regexp_replace(t, '<[^>]*>', ' ', 'g'), "
    "'\\s+', ' ', 'g'))"
)

_HTML_OUTLINKS_SQL = f"""
WITH pages AS ({_HTML_NAV_PAGE_SQL}),
h AS (
  SELECT doc_id,
    regexp_extract_all(coalesce(html, ''),
                       {_sql_quote(_hx._ANCHOR_HREF)}, 1) AS hs,
    regexp_extract_all(coalesce(html, ''),
                       {_sql_quote(_hx._ANCHOR_HREF)}, 2) AS ts
  FROM pages),
z AS (
  SELECT doc_id, u.i AS link_no, u.h AS h, u.t AS t FROM (
    SELECT doc_id,
           unnest([{{'i': i, 'h': hs[i + 1], 't': ts[i + 1]}}
                   FOR i IN generate_series(0, len(hs) - 1)]) AS u
    FROM h))
SELECT doc_id, link_no,
  {_HREF_CHAIN} AS href,
  {_ATEXT_CHAIN} AS anchor_text
FROM z
"""


@register("html_outlinks_edges", _HTML_OUTLINKS_SQL)
def q_html_outlinks_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction (htmlextract.html_outlinks — the
    link-graph / crawl-frontier primitive): one (doc, link_no, href,
    anchor_text) row per anchor of the planted nav/content/footer
    pages — quoted and conditional hrefs, entity decode, nested-tag
    anchor text. Two aligned regexp_extract_all passes + one zip
    explode; zero exchanges."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")

    def _opt(cond, lit_s: str) -> F.Column:
        return F.when(cond, F.lit(lit_s)).otherwise(F.lit(""))

    page = F.concat(
        F.lit('<html><body><div><a href="/a">Home page</a> '
              '<a href="/b">About us</a> '
              '<a href="/c">Contact form</a></div><p>'),
        F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 150),
        F.lit("</p>"),
        _opt(d % 4 == 0,
             '<div>Copyright 2024 Corp <a href="/t">Terms</a></div>'),
        _opt(d % 6 == 0, "<p>Tiny.</p>"),
        F.lit("</body></html>"),
    )
    pages = docs.select("doc_id", page.alias("html"))
    return htmlextract.html_outlinks(pages)


@register("html_line_density", _HTML_LINES_SQL)
def q_html_line_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jusText-lite line classification (htmlextract.html_line_stats)
    over planted nav/content/footer pages: per-line char/word counts,
    anchor-text link density (sentinel-marked through the tag strip),
    and the keep verdict. One bounded line explode, no exchange."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")

    def _opt(cond, lit_s: str) -> F.Column:
        return F.when(cond, F.lit(lit_s)).otherwise(F.lit(""))

    page = F.concat(
        F.lit('<html><body><div><a href="/a">Home page</a> '
              '<a href="/b">About us</a> '
              '<a href="/c">Contact form</a></div><p>'),
        F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 150),
        F.lit("</p>"),
        _opt(d % 4 == 0,
             '<div>Copyright 2024 Corp <a href="/t">Terms</a></div>'),
        _opt(d % 6 == 0, "<p>Tiny.</p>"),
        F.lit("</body></html>"),
    )
    pages = docs.select("doc_id", page.alias("html"))
    return htmlextract.html_line_stats(pages)


# ---------------------------------------------------------------------------
# r16: trained quality classifier (operators/qualityclf.py). The
# SCORING pass is fully oracled — the frozen model here is a
# md5-derived literal weight table both engines rebuild identically,
# so the oracle pins the exact integer margin machinery
# (floor(Σ cnt·w_micro / n_words) + bias) that any trained model's
# scores flow through. The TRAINING loop is registered rows-only
# (the BPE/kmeans driver-loop precedent) and pinned by bit-exact
# determinism + separation goldens in tests/test_qualityclf.py.
# ---------------------------------------------------------------------------

from cybersecurity_miw_spark.operators import qualityclf

_CLF_DIM = 256
_CLF_BIAS = 12_345


def _clf_frozen_weights() -> list[int]:
    import hashlib

    return [
        int(hashlib.md5(f"clfw:{b}".encode()).hexdigest()[:8], 16) % 2001
        - 1000
        for b in range(_CLF_DIM)
    ]


_CLF_SCORE_SQL = f"""
WITH wtab AS (
  SELECT i AS bucket,
    (('0x' || substr(md5('clfw:' || i::VARCHAR), 1, 8))::BIGINT % 2001)
      - 1000 AS w
  FROM (SELECT unnest(generate_series(0, {_CLF_DIM - 1})) AS i)
),
words AS (
  SELECT doc_id,
         unnest(str_split_regex(lower(trim(coalesce(text, ''))), '\\s+')) AS w
  FROM documents
),
fw AS (SELECT doc_id, w FROM words WHERE len(w) > 0),
hashed AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5(w), 1, 8))::BIGINT % {_CLF_DIM} AS INT) AS b,
    CASE WHEN (('0x' || substr(md5(w), 1, 8))::BIGINT // {_CLF_DIM}) % 2 = 0
         THEN 1 ELSE -1 END AS s
  FROM fw
),
counted AS (
  SELECT doc_id, b, CAST(sum(s) AS BIGINT) AS cnt FROM hashed GROUP BY 1, 2
),
nw AS (SELECT doc_id, count(*) AS n FROM fw GROUP BY 1),
margins AS (
  SELECT c.doc_id,
         CAST(floor(sum(c.cnt * wtab.w) / max(n.n)) + {_CLF_BIAS}
              AS BIGINT) AS clf_score_micro
  FROM counted c
  JOIN wtab ON wtab.bucket = c.b
  JOIN nw n ON n.doc_id = c.doc_id
  GROUP BY c.doc_id
)
SELECT d.doc_id,
       coalesce(m.clf_score_micro, {_CLF_BIAS}) AS clf_score_micro
FROM documents d LEFT JOIN margins m ON m.doc_id = d.doc_id
"""


@register("quality_clf_score", _CLF_SCORE_SQL)
def q_quality_clf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-model classifier scoring (qualityclf.score_quality):
    the exact long margin floor(Σ cnt·w_micro / n_words) + bias over
    signed hashed word counts — one feature explode + one broadcast
    weight join, the pass every trained model's production scoring
    runs. Wordless docs score the bias."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    model = {
        "dim": _CLF_DIM,
        "w_micro": _clf_frozen_weights(),
        "bias_micro": _CLF_BIAS,
    }
    return qualityclf.score_quality(docs, model).select(
        "doc_id", "clf_score_micro"
    )


# classifier scores to a token budget: the grading + greedy-walk spec
# (the dsir_select_budget oracle shape) on top of the frozen-model
# score twin. The oracle states the LOGICAL one-window cumsum; the
# operator runs budget_select's bucket-decomposed plan, so a green
# row proves the decomposition AND the score arithmetic together.
_CLF_BUDGET_TOKENS = 8_000
_CLF_BUDGET_SQL = f"""
WITH scored AS (
  SELECT s.doc_id, s.clf_score_micro, d.n_chars
  FROM ({_CLF_SCORE_SQL}) s JOIN documents d ON d.doc_id = s.doc_id
),
bounds AS (
  SELECT min(clf_score_micro) AS lo,
         greatest(max(clf_score_micro) - min(clf_score_micro), 1) AS span
  FROM scored
),
graded AS (
  SELECT doc_id, n_chars, clf_score_micro,
         CAST(floor((clf_score_micro - (SELECT lo FROM bounds)) * 1000.0
                    / (SELECT span FROM bounds)) AS INT) AS clf_grade
  FROM scored
),
sel AS (
  SELECT doc_id, n_chars, clf_score_micro, clf_grade,
         sum(n_chars) OVER (
           ORDER BY clf_grade DESC, md5('clf-v1:' || doc_id), doc_id
           ROWS UNBOUNDED PRECEDING) AS run
  FROM graded
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       clf_score_micro, clf_grade
FROM sel WHERE run <= {_CLF_BUDGET_TOKENS}
"""


@register("quality_clf_select_budget", _CLF_BUDGET_SQL)
def q_quality_clf_select_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier selection to an 8k-token budget
    (qualityclf.clf_select_to_budget): frozen-model micro-logits
    graded onto the bounded 1000-step grid, then budget_select's
    greedy walk — the classifier twin of dsir_select_budget, "the
    most target-like corpus that fits the training budget"."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    model = {
        "dim": _CLF_DIM,
        "w_micro": _clf_frozen_weights(),
        "bias_micro": _CLF_BIAS,
    }
    out = qualityclf.clf_select_to_budget(
        docs, model, _CLF_BUDGET_TOKENS, tokens_col="n_chars"
    )
    return out.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        "clf_score_micro",
        "clf_grade",
    )


@register("quality_clf_train_scores")
def q_quality_clf_train_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full train→score loop (qualityclf.train_quality_classifier
    — integer fixed-point SGD, rows-only like the BPE/kmeans driver
    loops; bit-exact determinism and separation are pinned by pytest
    goldens): target = every 5th document, raw = the rest, then score
    the whole table with the trained model."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    target = docs.filter(F.col("doc_id") % 5 == 0)
    raw = docs.filter(F.col("doc_id") % 5 != 0)
    model = qualityclf.train_quality_classifier(
        target, raw, dim=64, iters=3
    )
    return qualityclf.score_quality(docs, model).select(
        "doc_id", "clf_score_micro"
    )


# ---------------------------------------------------------------------------
# r17: classifier calibration (qualityclf.clf_report /
# clf_separation — VERDICT r16 #6). Both oracles score with the
# SAME frozen literal model as quality_clf_score, so the decile walk
# and the grade-level Mann-Whitney rank-sum are pinned end to end.
# ---------------------------------------------------------------------------

_CLF_REPORT_SQL = f"""
WITH scored AS ({_CLF_SCORE_SQL}),
bounds AS (
  SELECT min(clf_score_micro) AS lo,
         greatest(max(clf_score_micro) - min(clf_score_micro), 1) AS span,
         count(*) AS n
  FROM scored),
graded AS (
  SELECT clf_score_micro AS s,
         CAST(floor((clf_score_micro - (SELECT lo FROM bounds)) * 10000.0
                    / (SELECT span FROM bounds)) AS INT) AS g
  FROM scored),
pg AS (
  SELECT g, count(*) AS n,
         sum(CASE WHEN s >= {_CLF_BIAS} THEN 1 ELSE 0 END) AS nk,
         min(s) AS smin, max(s) AS smax, sum(s) AS ssum
  FROM graded GROUP BY g),
cum AS (
  SELECT *, coalesce(sum(n) OVER (ORDER BY g
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
  FROM pg),
dec AS (
  SELECT CAST(floor(c * 10 / (SELECT n FROM bounds)::DOUBLE) AS INT)
           AS decile, *
  FROM cum)
SELECT decile,
       sum(n)::BIGINT AS n_docs,
       sum(nk)::BIGINT AS n_kept,
       min(smin) AS min_score_micro,
       max(smax) AS max_score_micro,
       floor(sum(nk)::DOUBLE / sum(n) * 1000000.0 + 0.5) / 1000000.0
         AS keep_frac,
       CAST(floor(sum(ssum)::DOUBLE / sum(n)) AS BIGINT)
         AS mean_score_micro
FROM dec GROUP BY decile
"""


@register("quality_clf_report_deciles", _CLF_REPORT_SQL)
def q_quality_clf_report_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-decile calibration card (qualityclf.clf_report): what a
    threshold at the frozen model's bias actually keeps, per
    equal-count decile (grade-granular — the bounded-grid
    discipline, never a corpus-wide NTILE sort)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    model = {
        "dim": _CLF_DIM,
        "w_micro": _clf_frozen_weights(),
        "bias_micro": _CLF_BIAS,
    }
    scored = qualityclf.score_quality(docs, model)
    rep = qualityclf.clf_report(scored, threshold_micro=_CLF_BIAS)
    return rep.select(
        "decile", "n_docs", "n_kept", "min_score_micro",
        "max_score_micro", "keep_frac", "mean_score_micro",
    )


def _clf_margin_sql(prefix: str, docs_cte: str) -> str:
    """The frozen-model scoring chain as prefixed CTEs over
    ``docs_cte(doc_id, text)``, ending in ``{prefix}sc(doc_id, s)``
    — needed twice (corpus + target) by the separation twin."""
    return f"""
{prefix}words AS (
  SELECT doc_id,
         unnest(str_split_regex(lower(trim(coalesce(text, ''))), '\\s+'))
           AS w
  FROM {docs_cte}),
{prefix}fw AS (SELECT doc_id, w FROM {prefix}words WHERE len(w) > 0),
{prefix}hashed AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5(w), 1, 8))::BIGINT % {_CLF_DIM} AS INT) AS b,
    CASE WHEN (('0x' || substr(md5(w), 1, 8))::BIGINT // {_CLF_DIM}) % 2 = 0
         THEN 1 ELSE -1 END AS s
  FROM {prefix}fw),
{prefix}counted AS (
  SELECT doc_id, b, CAST(sum(s) AS BIGINT) AS cnt
  FROM {prefix}hashed GROUP BY 1, 2),
{prefix}nw AS (SELECT doc_id, count(*) AS n FROM {prefix}fw GROUP BY 1),
{prefix}mg AS (
  SELECT c.doc_id,
         CAST(floor(sum(c.cnt * wtab.w) / max(n.n)) + {_CLF_BIAS}
              AS BIGINT) AS s
  FROM {prefix}counted c
  JOIN wtab ON wtab.bucket = c.b
  JOIN {prefix}nw n ON n.doc_id = c.doc_id
  GROUP BY c.doc_id),
{prefix}sc AS (
  SELECT d.doc_id, coalesce(m.s, {_CLF_BIAS}) AS s
  FROM {docs_cte} d LEFT JOIN {prefix}mg m ON m.doc_id = d.doc_id)"""


_CLF_SEP_SQL = f"""
WITH wtab AS (
  SELECT i AS bucket,
    (('0x' || substr(md5('clfw:' || i::VARCHAR), 1, 8))::BIGINT % 2001)
      - 1000 AS w
  FROM (SELECT unnest(generate_series(0, {_CLF_DIM - 1})) AS i)
),
rdocs AS (SELECT doc_id, text FROM documents),
tdocs AS (
  SELECT doc_id, text || ' alpha beta gamma research' AS text
  FROM documents WHERE doc_id % 5 = 0),
{_clf_margin_sql("r_", "rdocs")},
{_clf_margin_sql("t_", "tdocs")},
bounds AS (
  SELECT min(s) AS lo, greatest(max(s) - min(s), 1) AS span
  FROM (SELECT s FROM r_sc UNION ALL SELECT s FROM t_sc)),
allg AS (
  SELECT CAST(floor((s - (SELECT lo FROM bounds)) * 10000.0
                    / (SELECT span FROM bounds)) AS INT) AS g, t, s
  FROM (SELECT s, 0 AS t FROM r_sc UNION ALL SELECT s, 1 AS t FROM t_sc)),
pg AS (
  SELECT g,
         sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS r,
         sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS tc,
         sum(CASE WHEN t = 0 THEN s END) AS rsum,
         sum(CASE WHEN t = 1 THEN s END) AS tsum
  FROM allg GROUP BY g),
cum AS (
  SELECT *, coalesce(sum(r) OVER (ORDER BY g
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cr
  FROM pg),
tot AS (
  SELECT sum(r)::BIGINT AS n_corpus, sum(tc)::BIGINT AS n_target,
         sum(rsum) AS rs, sum(tsum) AS ts,
         sum(tc * (2 * cr + r)) AS u2
  FROM cum)
SELECT n_corpus, n_target,
  CAST(floor(rs::DOUBLE / n_corpus) AS BIGINT) AS mean_corpus_micro,
  CAST(floor(ts::DOUBLE / n_target) AS BIGINT) AS mean_target_micro,
  CAST(floor(ts::DOUBLE / n_target) - floor(rs::DOUBLE / n_corpus)
       AS BIGINT) AS separation_micro,
  CAST(floor(u2 * 1000000.0 / (2.0 * n_corpus * n_target)) AS BIGINT)
    AS auc_micro
FROM tot
"""


@register("quality_clf_separation", _CLF_SEP_SQL)
def q_quality_clf_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row separation card (qualityclf.clf_separation): means and
    the grade-level Mann-Whitney AUC between the corpus and a
    planted target sample (every 5th doc with distinctive appended
    tokens), both scored with the frozen literal model — the metric
    that says whether a quality gate discriminates at all."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    model = {
        "dim": _CLF_DIM,
        "w_micro": _clf_frozen_weights(),
        "bias_micro": _CLF_BIAS,
    }
    target = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "text", F.concat(F.col("text"), F.lit(" alpha beta gamma research"))
    )
    rs = qualityclf.score_quality(docs, model)
    ts = qualityclf.score_quality(target, model)
    return qualityclf.clf_separation(rs, ts)


# ---------------------------------------------------------------------------
# r17: CCNet-style n-gram LM perplexity filter (operators/ngramlm.py
# — Wenzek et al. 2020 §4.3). The twins rebuild the WHOLE chain in
# SQL: stupid-backoff bigram training on the dsir target split
# (src0 ∧ doc_id%7=0 — the established exemplar convention), integer
# micro-nat log-probs from in-engine ln over integer-count ratios
# (the dsir llr convention), two-level backoff scoring of every
# document, and the CCNet head/middle/tail bucket report. The ln(α)
# constant is computed ONCE in Python and inlined as a literal into
# BOTH engines (train_ngram_lm stores the same value in its params),
# so no cross-engine ln-of-α agreement is assumed; every other log
# is ln of a ratio of in-engine integer counts, the proven class.
# ---------------------------------------------------------------------------

import math as _math

from cybersecurity_miw_spark.operators import ngramlm as _nglm

# == train_ngram_lm's alpha_ln_micro for the default α = 0.4
_LM_ALPHA_LN = int(_math.floor(_math.log(0.4) * 1_000_000 + 0.5))

_LM_MODEL_CTES = f"""tgt AS (
  SELECT doc_id, text FROM documents
  WHERE source = 'src0' AND doc_id % 7 = 0
),
tw AS (
  SELECT list_filter(str_split_regex(lower(trim(coalesce(text, ''))),
                                     '\\s+'), x -> len(x) > 0) AS w
  FROM tgt
),
twne AS (SELECT w FROM tw WHERE len(w) > 0),
c1t AS (
  SELECT wd, CAST(count(*) AS BIGINT) AS c1
  FROM (SELECT unnest(w) AS wd FROM twne) GROUP BY 1
),
lmtot AS (
  SELECT (SELECT coalesce(sum(len(w)), 0) FROM twne)
         + (SELECT count(*) FROM c1t) AS nv
),
lmoov AS (
  -- oovraw: the α-free OOV floor (first tokens); oov: backoff-path
  -- floor with the ln α penalty (tokens i ≥ 2)
  SELECT CAST(floor(ln(1.0 / CAST((SELECT nv FROM lmtot) AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS oovraw,
         {int(_LM_ALPHA_LN)}
         + CAST(floor(ln(1.0 / CAST((SELECT nv FROM lmtot) AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) AS oov
),
unim AS (
  -- RAW unigram log-prob (no α): stupid backoff applies ln α at
  -- scoring time, on the bigram→unigram backoff path only
  SELECT wd AS w2,
         CAST(floor(ln(CAST(c1 + 1 AS DOUBLE)
                       / CAST((SELECT nv FROM lmtot) AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS lp1,
         c1
  FROM c1t
),
c2t AS (
  SELECT bg, CAST(count(*) AS BIGINT) AS c2
  FROM (
    SELECT unnest([w[i] || ' ' || w[i+1]
                   FOR i IN generate_series(1, len(w) - 1)]) AS bg
    FROM twne WHERE len(w) >= 2
  ) GROUP BY 1
),
bim AS (
  SELECT c2t.bg,
         CAST(floor(ln(CAST(c2 AS DOUBLE) / CAST(u.c1 AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS lp2,
         c2
  FROM c2t JOIN c1t u ON u.wd = split_part(c2t.bg, ' ', 1)
)"""

_LM_TRAIN_SQL = f"""
WITH {_LM_MODEL_CTES}
SELECT CAST(NULL AS VARCHAR) AS w1, w2, lp1 AS lp_micro, c1 AS c
FROM unim
UNION ALL
SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
       lp2 AS lp_micro, c2 AS c
FROM bim
"""


@register("ngram_lm_train", _LM_TRAIN_SQL)
def q_ngram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained stupid-backoff bigram model itself
    (ngramlm.train_ngram_lm over the dsir target split): every
    unigram/backoff row (w1 NULL) and bigram-conditional row with its
    integer micro-nat log-prob and raw count — full-hash evidence
    that TRAINING, not just scoring, is cross-engine exact. Plan:
    one staged token explode, two uniform-word-key count aggs, one
    c1 join; two scalars (N, V) to the driver."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    target = docs.filter(
        (F.col("source") == "src0") & (F.col("doc_id") % 7 == 0)
    )
    model, _ = _nglm.train_ngram_lm(target)
    return model


_LM_SCORE_CORE = f"""{_LM_MODEL_CTES},
dw AS (
  SELECT doc_id,
         list_filter(str_split_regex(lower(trim(coalesce(text, ''))),
                                     '\\s+'), x -> len(x) > 0) AS w
  FROM documents
),
pairs AS (
  SELECT doc_id, CAST(NULL AS VARCHAR) AS bg, w[1] AS w2
  FROM dw WHERE len(w) >= 1
  UNION ALL
  SELECT doc_id, bg, split_part(bg, ' ', 2) AS w2
  FROM (
    SELECT doc_id,
           unnest([w[i] || ' ' || w[i+1]
                   FOR i IN generate_series(1, len(w) - 1)]) AS bg
    FROM dw WHERE len(w) >= 2
  )
),
tokscore AS (
  -- first token (bg NULL): raw unigram, α-free OOV; i ≥ 2: bigram,
  -- else unigram + ln α, else backoff-path OOV
  SELECT p.doc_id,
         CASE WHEN p.bg IS NULL
           THEN coalesce(u.lp1, (SELECT oovraw FROM lmoov))
           ELSE coalesce(b.lp2, u.lp1 + {int(_LM_ALPHA_LN)},
                         (SELECT oov FROM lmoov))
         END AS lp
  FROM pairs p
  LEFT JOIN bim b ON b.bg = p.bg
  LEFT JOIN unim u ON u.w2 = p.w2
),
persum AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lm_tokens,
         CAST(sum(lp) AS BIGINT) AS lp_micro_sum
  FROM tokscore GROUP BY 1
),
lmscored AS (
  SELECT d.doc_id,
         coalesce(s.n_lm_tokens, 0) AS n_lm_tokens,
         coalesce(s.lp_micro_sum, 0) AS lp_micro_sum,
         coalesce((-s.lp_micro_sum) // s.n_lm_tokens,
                  -(SELECT oov FROM lmoov)) AS nlp_micro_tok
  FROM documents d LEFT JOIN persum s ON s.doc_id = d.doc_id
)"""

_LM_SCORE_SQL = f"""
WITH {_LM_SCORE_CORE}
SELECT doc_id, n_lm_tokens, lp_micro_sum, nlp_micro_tok FROM lmscored
"""


@register("ngram_lm_score", _LM_SCORE_SQL)
def q_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-score — the CCNet production pass (ngramlm.lm_score
    under the model of q_ngram_lm_train): per document the LM token
    count, the exact long micro-nat log-likelihood sum (bigram hit →
    backoff unigram → OOV floor per token) and the per-token NLL the
    perplexity buckets order by. Tokenless docs score the OOV floor.
    Plan: one pair explode, two left joins against the vocab-bounded
    model (AQE broadcasts), one long-sum per doc, one join back."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    target = docs.filter(
        (F.col("source") == "src0") & (F.col("doc_id") % 7 == 0)
    )
    model, params = _nglm.train_ngram_lm(target)
    return _nglm.lm_score(
        docs.select("doc_id", "text"), model, params["lp_oov_micro"],
        alpha_ln_micro=params["alpha_ln_micro"],
    ).select("doc_id", "n_lm_tokens", "lp_micro_sum", "nlp_micro_tok")


# cuts chosen to split the sf0.01 corpus across all three buckets;
# they are micro-nat per-token NLL bounds (ppl = e^nlp), pinned as
# literals in BOTH engines — the production procedure fits them with
# lm_bucket_cuts instead.
_LM_CUT_HEAD = 3_800_000
_LM_CUT_TAIL = 3_950_000

_LM_BUCKETS_SQL = f"""
WITH {_LM_SCORE_CORE},
bucketed AS (
  SELECT *,
         CASE WHEN nlp_micro_tok <= {_LM_CUT_HEAD} THEN 'head'
              WHEN nlp_micro_tok <= {_LM_CUT_TAIL} THEN 'middle'
              ELSE 'tail' END AS ppl_bucket
  FROM lmscored
)
SELECT ppl_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_lm_tokens) AS BIGINT) AS lm_tokens,
       CAST(sum(nlp_micro_tok) AS BIGINT) // CAST(count(*) AS BIGINT)
         AS mean_nlp_micro
FROM bucketed
GROUP BY 1
"""


@register("ngram_lm_ppl_buckets", _LM_BUCKETS_SQL)
def q_ngram_lm_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet §4.3 head/middle/tail corpus card
    (ngramlm.lm_ppl_buckets + lm_bucket_report over the
    q_ngram_lm_score chain, pinned literal cuts): per bucket the doc
    count, LM-token sum and exact integer mean per-token NLL — the
    table the published keep-head+middle recipes read. One uniform
    3-key aggregation on top of the scoring plan."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    target = docs.filter(
        (F.col("source") == "src0") & (F.col("doc_id") % 7 == 0)
    )
    model, params = _nglm.train_ngram_lm(target)
    scored = _nglm.lm_score(
        docs.select("doc_id", "text"), model, params["lp_oov_micro"],
        alpha_ln_micro=params["alpha_ln_micro"],
    )
    return _nglm.lm_bucket_report(
        _nglm.lm_ppl_buckets(scored, _LM_CUT_HEAD, _LM_CUT_TAIL)
    )


# ---------------------------------------------------------------------------
# r17: link-graph analytics (operators/linkgraph.py — the crawl-
# frontier layer over html_outlinks). The edge fixture is a
# deterministic synthetic URL graph derived from doc_ids: variable
# out-degree (1-3 links/page), two host families (www.sN.co.uk pages
# — distinct co.uk registrable domains — and img.cdnN.example.com
# CDN targets that all COLLAPSE to example.com, the subdomain-merge
# case the domain graph exists for), and periodically-empty anchor
# texts. The twins rebuild in-degree/top-k anchors, TWO UNROLLED
# PageRank iterations (integer fixed-point — the iterative op's
# full-hash evidence, the kmeans-step precedent), the PSL domain
# aggregation, and the frontier anti-join in SQL.
# ---------------------------------------------------------------------------

from cybersecurity_miw_spark.operators import linkgraph


def _lg_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = F.col("doc_id")
    k = F.col("k")
    m = (d * (k + 1) + 3 * k) % 97
    src = F.concat(
        F.lit("http://www.s"), (d % 7).cast("string"),
        F.lit(".co.uk/p/"), d.cast("string"),
    )
    dst = F.when(
        (d + k) % 4 == 0,
        F.concat(
            F.lit("http://www.s"), (m % 7).cast("string"),
            F.lit(".co.uk/p/"), m.cast("string"),
        ),
    ).otherwise(
        F.concat(
            F.lit("http://img.cdn"), (m % 5).cast("string"),
            F.lit(".example.com/i/"), m.cast("string"),
        )
    )
    anchor = F.when((m % 6) == 0, F.lit("")).otherwise(
        F.concat(F.lit("anchor "), (m % 6).cast("string"))
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), (d % 3 + 1).cast("int"))).alias("k"),
    ).select(
        src.alias("src_url"), dst.alias("dst_url"), anchor.alias("anchor_text")
    )


_LG_EDGES_SQL = """eraw AS (
  SELECT
    'http://www.s' || (doc_id % 7)::VARCHAR || '.co.uk/p/'
      || doc_id::VARCHAR AS src_url,
    CASE WHEN (doc_id + k) % 4 = 0
      THEN 'http://www.s' || (((doc_id*(k+1) + 3*k) % 97) % 7)::VARCHAR
           || '.co.uk/p/' || ((doc_id*(k+1) + 3*k) % 97)::VARCHAR
      ELSE 'http://img.cdn' || (((doc_id*(k+1) + 3*k) % 97) % 5)::VARCHAR
           || '.example.com/i/' || ((doc_id*(k+1) + 3*k) % 97)::VARCHAR
    END AS dst_url,
    CASE WHEN ((doc_id*(k+1) + 3*k) % 97) % 6 = 0 THEN ''
         ELSE 'anchor ' || (((doc_id*(k+1) + 3*k) % 97) % 6)::VARCHAR
    END AS anchor_text
  FROM documents, (SELECT unnest(generate_series(1, 3)) AS k)
  WHERE k <= doc_id % 3 + 1
),
lgdeg AS (
  SELECT dst_url, CAST(count(*) AS BIGINT) AS n_links,
         CAST(count(DISTINCT src_url) AS BIGINT) AS n_src_pages
  FROM eraw GROUP BY 1
)"""

_LG_ANCHOR_SQL = f"""
WITH {_LG_EDGES_SQL},
ac AS (
  SELECT dst_url, anchor_text, count(*) AS n
  FROM eraw WHERE anchor_text <> '' GROUP BY 1, 2
),
rk AS (
  SELECT dst_url, anchor_text,
         row_number() OVER (PARTITION BY dst_url
                            ORDER BY n DESC, anchor_text ASC) AS r
  FROM ac
),
tk AS (
  SELECT dst_url, list(anchor_text ORDER BY r) AS top_anchors
  FROM rk WHERE r <= 2 GROUP BY 1
)
SELECT d.dst_url, d.n_links, d.n_src_pages,
       -- array_to_string(NULL) is NULL; Spark array_join on the
       -- coalesced empty array gives '' — coalesce so no-anchor
       -- targets agree (the catalog's standing empty-list note).
       coalesce(array_to_string(t.top_anchors, '|'), '') AS top_anchors
FROM lgdeg d LEFT JOIN tk t USING (dst_url)
"""


@register("link_anchor_index", _LG_ANCHOR_SQL)
def q_link_anchor_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text index (linkgraph.anchor_text_index, k=2): per
    target URL its in-degree, distinct linking pages, and the top-2
    anchor texts (count desc, text asc — the Brin & Page target-
    description signal; empty anchors excluded from the top-k but
    counted in the degree). One count agg + one dst-partitioned
    window + one k-bounded re-agg.

    The registered surface serializes ``top_anchors`` with
    ``array_join(..., '|')`` (the app_word_reverse_index postings
    precedent): driver-window queries must expose scalar columns
    only — the driver's pandas canonicalizer cannot hash list cells
    (the r17 red row)."""
    return linkgraph.anchor_text_index(_lg_edges(spark, sf_dir), k=2).select(
        "dst_url",
        "n_links",
        "n_src_pages",
        F.array_join("top_anchors", "|").alias("top_anchors"),
    )


def _lg_pagerank_sql(iters: int) -> str:
    ctes = [
        """lge AS (
  SELECT DISTINCT src_url, dst_url FROM eraw WHERE src_url <> dst_url
),
lgdg AS (SELECT src_url, CAST(count(*) AS BIGINT) AS dg FROM lge GROUP BY 1),
lgnodes AS (SELECT src_url AS url FROM lge UNION SELECT dst_url FROM lge),
s0 AS (SELECT url, CAST(1000000 AS BIGINT) AS pr FROM lgnodes)"""
    ]
    for i in range(1, iters + 1):
        ctes.append(f"""i{i} AS (
  SELECT e.dst_url, CAST(sum(s.pr // d.dg) AS BIGINT) AS m
  FROM lge e JOIN lgdg d ON d.src_url = e.src_url
  JOIN s{i - 1} s ON s.url = e.src_url
  GROUP BY 1
),
s{i} AS (
  SELECT n.url,
         CAST(150000 + (850000 * coalesce(i{i}.m, 0)) // 1000000
              AS BIGINT) AS pr
  FROM lgnodes n LEFT JOIN i{i} ON i{i}.dst_url = n.url
)""")
    return (
        f"WITH {_LG_EDGES_SQL},\n" + ",\n".join(ctes)
        + f"\nSELECT url, pr AS pr_micro FROM s{iters}"
    )


def _lg_pagerank_dangling_sql(iters: int) -> str:
    """Unrolled twin of pagerank(redistribute_dangling=True): same
    integer pipeline plus, per iteration, the 1-row dangling-mass
    total and its uniform ``dm // N`` share added to every node's
    in-mass BEFORE damping (Page et al. 1999)."""
    ctes = [
        """lge AS (
  SELECT DISTINCT src_url, dst_url FROM eraw WHERE src_url <> dst_url
),
lgdg AS (SELECT src_url, CAST(count(*) AS BIGINT) AS dg FROM lge GROUP BY 1),
lgnodes AS (SELECT src_url AS url FROM lge UNION SELECT dst_url FROM lge),
lgn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lgnodes),
lgdang AS (SELECT url FROM lgnodes EXCEPT SELECT src_url FROM lge),
s0 AS (SELECT url, CAST(1000000 AS BIGINT) AS pr FROM lgnodes)"""
    ]
    for i in range(1, iters + 1):
        ctes.append(f"""dm{i} AS (
  SELECT CAST(coalesce(sum(s.pr), 0) AS BIGINT) AS dm
  FROM lgdang g JOIN s{i - 1} s ON s.url = g.url
),
i{i} AS (
  SELECT e.dst_url, CAST(sum(s.pr // d.dg) AS BIGINT) AS m
  FROM lge e JOIN lgdg d ON d.src_url = e.src_url
  JOIN s{i - 1} s ON s.url = e.src_url
  GROUP BY 1
),
s{i} AS (
  SELECT n.url,
         CAST(150000 + (850000 * (coalesce(i{i}.m, 0)
              + (SELECT dm FROM dm{i}) // (SELECT n FROM lgn)))
              // 1000000 AS BIGINT) AS pr
  FROM lgnodes n LEFT JOIN i{i} ON i{i}.dst_url = n.url
)""")
    return (
        f"WITH {_LG_EDGES_SQL},\n" + ",\n".join(ctes)
        + f"\nSELECT url, pr AS pr_micro FROM s{iters}"
    )


_LG_PR_ITERS = 2


@register(
    "link_pagerank_dangling", _lg_pagerank_dangling_sql(_LG_PR_ITERS)
)
def q_link_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank with dangling-mass redistribution
    (linkgraph.pagerank(redistribute_dangling=True), TWO unrolled
    iterations in the twin — the link_pagerank precedent): the
    published Page et al. variant where nodes without out-links
    return their mass uniformly each iteration, so total mass is
    conserved up to integer dust. The fixture's img.cdn*.example.com
    targets are all dangling, making the two variants diverge on
    every node. One extra 1-row aggregate per iteration, broadcast-
    crossed; the node count rides the same 1-row-broadcast pattern
    (r18: it was a driver-collected scalar, whose count() job ran at
    query-construction time) — zero driver rows."""
    return linkgraph.pagerank(
        _lg_edges(spark, sf_dir),
        iters=_LG_PR_ITERS,
        checkpoint=False,
        redistribute_dangling=True,
    )


@register("link_pagerank", _lg_pagerank_sql(_LG_PR_ITERS))
def q_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fixed-point PageRank (linkgraph.pagerank), TWO
    synchronous iterations unrolled in the twin — full-hash evidence
    for the iterative op (the kmeans-step precedent): distinct
    simple-graph edges, uniform 1e6 start, ``(1e6-d) + d·Σ(pr div
    out_deg) div 1e6`` in LONGs, dangling mass dropped. Two
    URL-key shuffles per iteration; zero driver rows."""
    return linkgraph.pagerank(
        _lg_edges(spark, sf_dir), iters=_LG_PR_ITERS, checkpoint=False
    )


_LG_DOMGRAPH_SQL = f"""
WITH {_LG_EDGES_SQL},
hp AS (
  SELECT lower(regexp_extract(src_url, '://([^:/@]+)', 1)) AS sh,
         lower(regexp_extract(dst_url, '://([^:/@]+)', 1)) AS dh,
         src_url
  FROM eraw
  WHERE lower(regexp_extract(src_url, '://([^:/@]+)', 1)) <> ''
    AND lower(regexp_extract(dst_url, '://([^:/@]+)', 1)) <> ''
),
hagg AS (
  SELECT sh, dh, CAST(count(*) AS BIGINT) AS n_links,
         CAST(count(DISTINCT src_url) AS BIGINT) AS n_src_pages
  FROM hp GROUP BY 1, 2
),
hosts AS (SELECT sh AS host FROM hp UNION SELECT dh FROM hp),
labels AS (SELECT host, string_split(host, '.') AS ls FROM hosts),
series AS (SELECT 1 AS k UNION ALL SELECT 2),
cands AS (
  SELECT host, k,
    array_to_string(ls[len(ls)-k+1 : len(ls)], '.') AS key_e,
    CASE WHEN k >= 2
      THEN '*.' || array_to_string(ls[len(ls)-k+2 : len(ls)], '.') END AS key_w
  FROM labels, series WHERE k <= len(ls)),
matched AS (
  SELECT host,
    CASE WHEN bool_or(exc) THEN max(CASE WHEN exc THEN k - 1 END)
         ELSE max(k) END AS ps
  FROM (SELECT c.host, c.k, r.exc
        FROM cands c JOIN {_psl_values_sql()}
          ON r.rule = c.key_e OR r.rule = c.key_w) m
  GROUP BY host),
doms AS (
  SELECT l.host,
    CASE WHEN len(l.ls) > coalesce(m.ps, 1)
      THEN array_to_string(
        l.ls[len(l.ls) - coalesce(m.ps, 1) : len(l.ls)], '.')
    END AS dom
  FROM labels l LEFT JOIN matched m USING (host))
SELECT sd.dom AS src_domain, dd.dom AS dst_domain,
       CAST(sum(hagg.n_links) AS BIGINT) AS n_links,
       CAST(sum(hagg.n_src_pages) AS BIGINT) AS n_src_pages
FROM hagg
JOIN doms sd ON sd.host = hagg.sh
JOIN doms dd ON dd.host = hagg.dh
WHERE sd.dom IS NOT NULL AND dd.dom IS NOT NULL AND sd.dom <> dd.dom
GROUP BY 1, 2
"""


@register("domain_link_graph_counts", _LG_DOMGRAPH_SQL)
def q_domain_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level link graph (linkgraph.domain_link_graph): edges
    aggregated to PSL registrable-domain endpoints, internal
    (same-domain) edges dropped — the img.cdnN.example.com targets
    all collapse into one example.com node while the co.uk pages
    stay distinct, the exact subdomain-merge this granularity is
    for. The twin resolves the PSL inline per edge; the operator
    runs the distinct-host-vocabulary decomposition — a green row
    proves the decomposition. NOTE: the operator aggregates
    n_src_pages per HOST pair then sums over domain pairs, so the
    count is per-(host-pair) distinct pages — the twin mirrors that
    exactly via the host-pair grouping."""
    return linkgraph.domain_link_graph(_lg_edges(spark, sf_dir))


_LG_FRONTIER_SQL = f"""
WITH {_LG_EDGES_SQL},
seen AS (SELECT DISTINCT src_url AS u FROM eraw)
SELECT dst_url, n_links, n_src_pages,
       CAST(n_links * n_src_pages AS BIGINT) AS frontier_score
FROM lgdeg
WHERE dst_url NOT IN (SELECT u FROM seen)
"""


@register("crawl_frontier_rank", _LG_FRONTIER_SQL)
def q_crawl_frontier_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier expansion (linkgraph.crawl_frontier): target URLs
    not yet crawled (anti-join vs the page set), each with in-degree
    evidence and the breadth-weighted ``frontier_score`` — the OPIC-
    style fetch-priority ordering. One dst-key agg + one anti-join."""
    edges = _lg_edges(spark, sf_dir)
    seen = edges.select(F.col("src_url").alias("url")).distinct()
    return linkgraph.crawl_frontier(edges, seen)


# ---------------------------------------------------------------------------
# r17: robots.txt gate (operators/robots.py — RFC 9309). The twin
# rebuilds the WHOLE chain in SQL: line explode, comment strip,
# gaps-and-islands group assignment (a group starts at each
# User-agent line whose predecessor is not one), rule×agent join,
# the pattern→regex translation (shared _REGEX_SPECIALS chain —
# contract data), agent-group selection (specific-else-star),
# regex prefix match on path+query, and the longest-match winner
# with Allow breaking ties. Hosts rotate through three robots
# shapes: specific-agent + star groups, star-only with a $-anchored
# wildcard, and an empty-Disallow (allow-all) file.
# ---------------------------------------------------------------------------

from cybersecurity_miw_spark.operators import robots as _rbt


def _robots_fixture(spark: SparkSession, sf_dir: str):
    d = F.col("doc_id")
    hid = (d % 11).cast("string")
    url = F.concat(
        F.lit("http://h"), hid, F.lit(".org"),
        F.when(d % 7 == 0, F.concat(F.lit("/private/p"), d.cast("string")))
        .when(d % 7 == 1, F.concat(F.lit("/private/ok"), d.cast("string")))
        .when(d % 7 == 2, F.concat(F.lit("/tmp/f"), d.cast("string"), F.lit(".pdf")))
        .when(d % 7 == 3, F.concat(F.lit("/tmp/f"), d.cast("string"), F.lit(".pdfx")))
        .when(d % 7 == 4, F.concat(F.lit("/public/q"), d.cast("string")))
        .when(d % 7 == 5, F.lit("/"))
        .otherwise(F.concat(F.lit("/page?q="), d.cast("string"))),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    urls = docs.select(url.alias("url"))
    h = F.col("hid")
    txt = (
        F.when(
            h % 4 == 0,
            F.lit(
                "User-agent: mybot\nDisallow: /private/\n"
                "Allow: /private/ok*\n\nUser-agent: *\nDisallow: /"
            ),
        )
        .when(
            h % 4 == 1,
            F.lit(
                "# fixture robots\nUser-agent: *\n"
                "Disallow: /tmp/*.pdf$\nDisallow: /private/\n"
                "Allow: /public"
            ),
        )
        .when(
            # rule-less specific group: mybot's group EXISTS (so the
            # '*' Disallow:/ must NOT gate mybot) but carries no
            # rules — the RFC 9309 §2.2.1 group-existence case the
            # r17 gate got wrong (ADVICE high)
            h % 4 == 2,
            F.lit(
                "User-agent: mybot\nDisallow:\n\n"
                "User-agent: *\nDisallow: /"
            ),
        )
        .otherwise(F.lit("User-agent: *\nDisallow:"))
    )
    hosts = docs.select((F.col("doc_id") % 11).alias("hid")).distinct()
    robots_df = hosts.select(
        F.concat(F.lit("h"), h.cast("string"), F.lit(".org")).alias("host"),
        txt.alias("robots_txt"),
    )
    return urls, robots_df


def _rbt_regex_chain_sql(expr: str) -> str:
    for ch in _rbt._REGEX_SPECIALS:
        expr = f"replace({expr}, '{ch}', '\\{ch}')"
    return f"replace({expr}, '*', '.*')"


_RBT_SQL = f"""
WITH urls AS (
  SELECT 'http://h' || (doc_id % 11)::VARCHAR || '.org' ||
    CASE doc_id % 7
      WHEN 0 THEN '/private/p' || doc_id::VARCHAR
      WHEN 1 THEN '/private/ok' || doc_id::VARCHAR
      WHEN 2 THEN '/tmp/f' || doc_id::VARCHAR || '.pdf'
      WHEN 3 THEN '/tmp/f' || doc_id::VARCHAR || '.pdfx'
      WHEN 4 THEN '/public/q' || doc_id::VARCHAR
      WHEN 5 THEN '/'
      ELSE '/page?q=' || doc_id::VARCHAR
    END AS url
  FROM documents
),
rbt AS (
  SELECT 'h' || hid::VARCHAR || '.org' AS host,
    CASE hid % 4
      WHEN 0 THEN 'User-agent: mybot' || chr(10) || 'Disallow: /private/'
        || chr(10) || 'Allow: /private/ok*' || chr(10) || chr(10)
        || 'User-agent: *' || chr(10) || 'Disallow: /'
      WHEN 1 THEN '# fixture robots' || chr(10) || 'User-agent: *'
        || chr(10) || 'Disallow: /tmp/*.pdf$' || chr(10)
        || 'Disallow: /private/' || chr(10) || 'Allow: /public'
      WHEN 2 THEN 'User-agent: mybot' || chr(10) || 'Disallow:'
        || chr(10) || chr(10) || 'User-agent: *' || chr(10)
        || 'Disallow: /'
      ELSE 'User-agent: *' || chr(10) || 'Disallow:'
    END AS robots_txt
  FROM (SELECT DISTINCT doc_id % 11 AS hid FROM documents)
),
rlines AS (
  SELECT host, u.i AS line_no,
         trim(regexp_replace(u.v, '#.*$', '')) AS clean
  FROM (
    SELECT host,
           unnest([{{'i': i, 'v': ls[i + 1]}}
                   FOR i IN generate_series(0, len(ls) - 1)]) AS u
    FROM (SELECT host, string_split(robots_txt, chr(10)) AS ls FROM rbt)
  )
),
kv AS (
  SELECT host, line_no,
         lower(trim(regexp_extract(clean, '^([^:]+):', 1))) AS f,
         trim(regexp_extract(clean, '^[^:]+:(.*)$', 1)) AS v
  FROM rlines
  -- crawl-delay is retained for GROUPING parity with _grouped_kv
  -- (a delay line terminates a ua run) even though the gate never
  -- reads it
  WHERE lower(trim(regexp_extract(clean, '^([^:]+):', 1)))
        IN ('user-agent', 'allow', 'disallow', 'crawl-delay')
),
kvp AS (
  SELECT *, coalesce(lag(f) OVER (PARTITION BY host ORDER BY line_no),
                     '') AS prevf
  FROM kv
),
grp AS (
  SELECT *, sum(CASE WHEN f = 'user-agent' AND prevf <> 'user-agent'
                THEN 1 ELSE 0 END)
            OVER (PARTITION BY host ORDER BY line_no
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM kvp
),
agents AS (
  SELECT DISTINCT host, g, lower(v) AS agent FROM grp
  WHERE f = 'user-agent'
),
rrules AS (
  SELECT DISTINCT a.host, a.agent, r.f AS rule_type, r.v AS pattern,
    '^' || {_rbt_regex_chain_sql(
        "(CASE WHEN r.v LIKE '%$' THEN substr(r.v, 1, length(r.v) - 1) "
        "ELSE r.v END)")}
    || CASE WHEN r.v LIKE '%$' THEN '$' ELSE '' END AS pattern_regex
  FROM grp r JOIN agents a ON a.host = r.host AND a.g = r.g
  WHERE r.f IN ('allow', 'disallow') AND r.g >= 1 AND r.v <> ''
),
-- group EXISTENCE (RFC 9309 §2.2.1) drives selection, not surviving
-- rule rows: a rule-less 'mybot' group still shields mybot from '*'
hasspec AS (SELECT DISTINCT host FROM agents WHERE agent = 'mybot'),
eff AS (
  SELECT r.* FROM rrules r LEFT JOIN hasspec s ON s.host = r.host
  WHERE CASE WHEN s.host IS NOT NULL THEN r.agent = 'mybot'
        ELSE r.agent = '*' END
),
uu AS (
  SELECT url, lower(regexp_extract(url, '://([^:/@]+)', 1)) AS h,
    CASE WHEN regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) = ''
      THEN '/' ELSE regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) END AS pq
  FROM urls
),
m AS (
  SELECT url, pattern, rule_type,
         row_number() OVER (PARTITION BY url
           ORDER BY length(pattern) DESC,
                    (rule_type = 'allow') DESC,
                    pattern DESC, rule_type DESC) AS rn
  FROM uu JOIN eff ON eff.host = uu.h
  WHERE regexp_matches(pq, pattern_regex)
)
SELECT u.url,
       coalesce(m.rule_type = 'allow', TRUE) AS allowed,
       m.pattern AS matched_rule,
       m.rule_type AS matched_type
FROM uu u LEFT JOIN (SELECT * FROM m WHERE rn = 1) m USING (url)
"""


@register("robots_allow_gate", _RBT_SQL)
def q_robots_allow_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RFC 9309 crawl-permission gate (robots.parse_robots →
    robots.robots_allowed, agent='mybot') over hosts rotating
    through specific-agent groups, $-anchored wildcard rules and
    allow-all files: per URL the allow verdict and the winning
    longest-match rule. One line explode + one host window for the
    parse; one broadcast-able host join + regex filter +
    max-of-struct for the gate."""
    urls, robots_df = _robots_fixture(spark, sf_dir)
    rules = _rbt.parse_robots(robots_df)
    return _rbt.robots_allowed(urls, rules, agent="mybot")


# ---------------------------------------------------------------------------
# r18: time-aware politeness (robots.robots_crawl_delays →
# linkgraph.fetch_schedule timed mode). The fixture's hosts rotate
# through the four delay shapes the parser distinguishes: a
# specific-agent declaration beating '*', a fractional declaration
# BELOW the global floor (raised to it), a rule-ful mybot group with
# no delay (group existence → no declaration → default; the gate's
# §2.2.1 selection re-used), and no declaration at all. The twin
# rebuilds the whole chain: line explode, 4-field gaps-and-islands
# grouping, group-existence selection, min-agg, window rank and the
# (rank−1)·delay slot arithmetic.
# ---------------------------------------------------------------------------


def _fetch_slots_fixture(spark: SparkSession, sf_dir: str):
    d = F.col("doc_id")
    hid = (d % 11).cast("string")
    frontier = load_table(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("http://h"), hid, F.lit(".org/p"), d.cast("string")
        ).alias("url"),
        (d % 37).cast("long").alias("score"),
    )
    h = F.col("hid")
    txt = (
        F.when(
            h % 4 == 0,
            F.lit(
                "User-agent: mybot\nCrawl-delay: 2\n\n"
                "User-agent: *\nCrawl-delay: 10"
            ),
        )
        .when(h % 4 == 1, F.lit("User-agent: *\nCrawl-delay: 0.5"))
        .when(
            h % 4 == 2,
            F.lit(
                "User-agent: mybot\nDisallow: /x\n\n"
                "User-agent: *\nCrawl-delay: 7"
            ),
        )
        .otherwise(F.lit("User-agent: *\nDisallow:"))
    )
    hosts = (
        load_table(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 11).alias("hid"))
        .distinct()
    )
    robots_df = hosts.select(
        F.concat(F.lit("h"), h.cast("string"), F.lit(".org")).alias("host"),
        txt.alias("robots_txt"),
    )
    return frontier, robots_df


_SLOT_DEFAULT_MS = 1000
_SLOT_PER_HOST_K = 8

_SLOTS_SQL = f"""
WITH rbt AS (
  SELECT 'h' || hid::VARCHAR || '.org' AS host,
    CASE hid % 4
      WHEN 0 THEN 'User-agent: mybot' || chr(10) || 'Crawl-delay: 2'
        || chr(10) || chr(10) || 'User-agent: *' || chr(10)
        || 'Crawl-delay: 10'
      WHEN 1 THEN 'User-agent: *' || chr(10) || 'Crawl-delay: 0.5'
      WHEN 2 THEN 'User-agent: mybot' || chr(10) || 'Disallow: /x'
        || chr(10) || chr(10) || 'User-agent: *' || chr(10)
        || 'Crawl-delay: 7'
      ELSE 'User-agent: *' || chr(10) || 'Disallow:'
    END AS robots_txt
  FROM (SELECT DISTINCT doc_id % 11 AS hid FROM documents)
),
rlines AS (
  SELECT host, u.i AS line_no,
         trim(regexp_replace(u.v, '#.*$', '')) AS clean
  FROM (
    SELECT host,
           unnest([{{'i': i, 'v': ls[i + 1]}}
                   FOR i IN generate_series(0, len(ls) - 1)]) AS u
    FROM (SELECT host, string_split(robots_txt, chr(10)) AS ls FROM rbt)
  )
),
kv AS (
  SELECT host, line_no,
         lower(trim(regexp_extract(clean, '^([^:]+):', 1))) AS f,
         trim(regexp_extract(clean, '^[^:]+:(.*)$', 1)) AS v
  FROM rlines
  WHERE lower(trim(regexp_extract(clean, '^([^:]+):', 1)))
        IN ('user-agent', 'allow', 'disallow', 'crawl-delay')
),
kvp AS (
  SELECT *, coalesce(lag(f) OVER (PARTITION BY host ORDER BY line_no),
                     '') AS prevf
  FROM kv
),
grp AS (
  SELECT *, sum(CASE WHEN f = 'user-agent' AND prevf <> 'user-agent'
                THEN 1 ELSE 0 END)
            OVER (PARTITION BY host ORDER BY line_no
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM kvp
),
agents AS (
  SELECT DISTINCT host, g, lower(v) AS agent FROM grp
  WHERE f = 'user-agent'
),
dvals AS (
  SELECT host, g,
         CAST(floor(CAST(v AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS ms
  FROM grp
  WHERE f = 'crawl-delay' AND g >= 1
    AND regexp_matches(v, '^[0-9]+(\\.[0-9]+)?$')
),
hasspec AS (SELECT DISTINCT host FROM agents WHERE agent = 'mybot'),
cd AS (
  SELECT d.host, CAST(min(d.ms) AS BIGINT) AS crawl_delay_ms
  FROM dvals d
  JOIN agents a ON a.host = d.host AND a.g = d.g
  LEFT JOIN hasspec s ON s.host = d.host
  WHERE CASE WHEN s.host IS NOT NULL THEN a.agent = 'mybot'
        ELSE a.agent = '*' END
  GROUP BY 1
),
frontier AS (
  SELECT 'http://h' || (doc_id % 11)::VARCHAR || '.org/p'
           || doc_id::VARCHAR AS url,
         CAST(doc_id % 37 AS BIGINT) AS score,
         'h' || (doc_id % 11)::VARCHAR || '.org' AS host
  FROM documents
),
ranked AS (
  SELECT url, score, host,
         row_number() OVER (PARTITION BY host
                            ORDER BY score DESC, url ASC) AS host_rank
  FROM frontier
)
SELECT r.url, r.score, r.host,
       CAST(r.host_rank AS INTEGER) AS host_rank,
       CAST((r.host_rank - 1)
            * greatest(coalesce(c.crawl_delay_ms, {_SLOT_DEFAULT_MS}),
                       {_SLOT_DEFAULT_MS}) AS BIGINT) AS fetch_slot_ms
FROM ranked r LEFT JOIN cd c ON c.host = r.host
WHERE r.host_rank <= {_SLOT_PER_HOST_K}
"""


@register("crawl_fetch_slots", _SLOTS_SQL)
def q_crawl_fetch_slots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-aware politeness schedule (robots.robots_crawl_delays,
    agent='mybot' → linkgraph.fetch_schedule timed mode): per
    frontier URL its host, within-host rank, and ``fetch_slot_ms =
    (host_rank−1)·delay`` where delay is the host's declared
    Crawl-delay (group-existence selection, min-over-groups, ms
    rounding) raised to the 1 s global floor, default for
    undeclared hosts; per-host budget capped at 8. One host window +
    one host-roster-bounded left join — the whole rate-limiter as
    integer rank arithmetic."""
    frontier, robots_df = _fetch_slots_fixture(spark, sf_dir)
    delays = _rbt.robots_crawl_delays(robots_df, agent="mybot")
    return linkgraph.fetch_schedule(
        frontier,
        url_col="url",
        score_col="score",
        per_host_k=_SLOT_PER_HOST_K,
        host_delays=delays,
        default_delay_ms=_SLOT_DEFAULT_MS,
    ).select("url", "score", "host", "host_rank", "fetch_slot_ms")


# ---------------------------------------------------------------------------
# r18: CDX index source (sources/cdx.py — the cc-index targeted-
# acquisition chain). The fixture synthesizes CDXJ capture lines
# from doc_ids — rotating status (200/301/404), mime (html vs
# image), www-prefixed hosts, 1-2 captures per URL (exercising the
# latest-capture max-struct), and a periodic garbled line (the
# damage-row convention) — and a 20-block cluster.idx with prefix
# probes that hit a single block, a 10-block prefix range, the
# block-boundary predecessor case, and a miss. The twins rebuild the
# identical line strings in SQL and parse them with
# regexp_extract + json_extract_string + the same window/max logic.
# ---------------------------------------------------------------------------

from cybersecurity_miw_spark.sources import cdx as _cdx


def _cdx_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = F.col("doc_id")
    k = F.col("k")
    host = F.concat(
        F.when(d % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("s"), (d % 7).cast("string"), F.lit(".co.uk"),
    )
    url = F.concat(F.lit("http://"), host, F.lit("/p/"), d.cast("string"))
    surt = F.concat(
        F.lit("uk,co,s"), (d % 7).cast("string"), F.lit(")/p/"),
        d.cast("string"),
    )
    status = (
        F.when(d % 5 == 0, F.lit("404"))
        .when(d % 5 == 1, F.lit("301"))
        .otherwise(F.lit("200"))
    )
    mime = F.when(d % 4 == 0, F.lit("image/jpeg")).otherwise(
        F.lit("text/html; charset=utf-8")
    )
    js = F.concat(
        F.lit('{"url": "'), url,
        F.lit('", "mime": "'), mime,
        F.lit('", "status": "'), status,
        F.lit('", "digest": "sha1:D'), d.cast("string"),
        F.lit('", "length": "'), (500 + d % 100).cast("string"),
        F.lit('", "offset": "'), (d * 1000 + k).cast("string"),
        F.lit('", "filename": "crawl-data/seg-'), (d % 4).cast("string"),
        F.lit("/file-"), (d % 10).cast("string"),
        F.lit('.warc.gz"}'),
    )
    line = F.when(
        d % 50 == 0, F.concat(F.lit("garbled "), d.cast("string"))
    ).otherwise(
        F.concat(
            surt, F.lit(" 2024010"), k.cast("string"), F.lit("000000 "),
            js,
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), (d % 2 + 1).cast("int"))).alias("k"),
    ).select(line.alias("value"))


_CDX_LINE_SQL = """cdxl AS (
  SELECT CASE WHEN doc_id % 50 = 0 THEN 'garbled ' || doc_id::VARCHAR
    ELSE
      'uk,co,s' || (doc_id % 7)::VARCHAR || ')/p/' || doc_id::VARCHAR
      || ' 2024010' || k::VARCHAR || '000000 '
      || '{"url": "http://'
      || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
      || 's' || (doc_id % 7)::VARCHAR || '.co.uk/p/' || doc_id::VARCHAR
      || '", "mime": "'
      || CASE WHEN doc_id % 4 = 0 THEN 'image/jpeg'
              ELSE 'text/html; charset=utf-8' END
      || '", "status": "'
      || CASE WHEN doc_id % 5 = 0 THEN '404'
              WHEN doc_id % 5 = 1 THEN '301' ELSE '200' END
      || '", "digest": "sha1:D' || doc_id::VARCHAR
      || '", "length": "' || (500 + doc_id % 100)::VARCHAR
      || '", "offset": "' || (doc_id * 1000 + k)::VARCHAR
      || '", "filename": "crawl-data/seg-' || (doc_id % 4)::VARCHAR
      || '/file-' || (doc_id % 10)::VARCHAR || '.warc.gz"}'
    END AS value
  FROM documents, (SELECT unnest(generate_series(1, 2)) AS k)
  WHERE k <= doc_id % 2 + 1
),
cdxp AS (
  SELECT regexp_extract(value, '^(\\S+) (\\d{14}) (\\{.*\\})\\s*$', 1)
           AS surt_key,
         regexp_extract(value, '^(\\S+) (\\d{14}) (\\{.*\\})\\s*$', 2)
           AS ts,
         regexp_extract(value, '^(\\S+) (\\d{14}) (\\{.*\\})\\s*$', 3)
           AS js
  FROM cdxl
),
cdxr AS (
  SELECT surt_key, ts,
         json_extract_string(js, '$.url') AS url,
         json_extract_string(js, '$.mime') AS mime,
         CAST(json_extract_string(js, '$.status') AS INTEGER) AS status,
         json_extract_string(js, '$.digest') AS digest,
         CAST(json_extract_string(js, '$.offset') AS BIGINT) AS "offset",
         CAST(json_extract_string(js, '$.length') AS BIGINT) AS length,
         json_extract_string(js, '$.filename') AS filename
  FROM cdxp
  WHERE surt_key <> '' AND ts <> ''
)"""

_CDX_FETCHLIST_SQL = f"""
WITH {_CDX_LINE_SQL},
kept AS (
  SELECT *,
         row_number() OVER (PARTITION BY surt_key
           ORDER BY ts DESC, filename DESC, "offset" DESC,
                    length DESC, url DESC, digest DESC) AS rn
  FROM cdxr
  WHERE url IS NOT NULL AND filename IS NOT NULL
    AND "offset" IS NOT NULL AND length IS NOT NULL
    AND status = 200 AND mime LIKE 'text/html%'
)
SELECT url, surt_key, ts, filename, "offset" AS offset, length, digest
FROM kept WHERE rn = 1
"""


@register("cdx_select_fetchlist", _CDX_FETCHLIST_SQL)
def q_cdx_select_fetchlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The targeted-acquisition fetch list (sources/cdx.py:
    cdx_records → cdx_select_records): CDXJ capture lines parsed
    (damage rows dropped by the is_valid gate), gated to status 200
    + text/html, one LATEST capture per SURT key (max
    (ts, filename, offset, …) struct), yielding the
    ``(url, filename, offset, length)`` byte-range fetch table the
    WARC source consumes. One regexp frame + from_json row pass, one
    uniform surt-key max-struct agg."""
    recs = _cdx.cdx_records(_cdx_lines(spark, sf_dir))
    return _cdx.cdx_select_records(recs)


_CDX_CLUSTER_SQL = """
WITH clines AS (
  SELECT printf('com,site%02d)/p', i) || ' 20240101000000' || chr(9)
         || 'cdx-0000' || (i % 3)::VARCHAR || '.gz' || chr(9)
         || (i * 100000)::VARCHAR || chr(9) || '99999' || chr(9)
         || i::VARCHAR AS value
  FROM (SELECT unnest(generate_series(0, 19)) AS i)
),
cblocks AS (
  SELECT str_split(value, chr(9))[1] AS keypart,
         str_split(value, chr(9))[2] AS cdx_file,
         CAST(str_split(value, chr(9))[3] AS BIGINT) AS "offset",
         CAST(str_split(value, chr(9))[4] AS BIGINT) AS length
  FROM clines
),
ckeys AS (
  SELECT regexp_extract(keypart, '^(\\S+) ', 1) AS key_surt,
         regexp_extract(keypart, ' (\\d{14})$', 1) AS key_ts,
         cdx_file, "offset", length
  FROM cblocks
),
cnext AS (
  SELECT *,
         lead(key_surt || ' ' || key_ts)
           OVER (ORDER BY key_surt, key_ts, cdx_file, "offset") AS nxt
  FROM ckeys
),
pfx AS (
  SELECT unnest(['com,site03', 'com,site1', 'org,none']) AS surt_prefix
)
SELECT p.surt_prefix, c.cdx_file, c."offset" AS offset, c.length,
       c.key_surt, c.key_ts
FROM cnext c JOIN pfx p
  ON (c.nxt IS NULL OR c.nxt > p.surt_prefix)
 AND c.key_surt <= p.surt_prefix || chr(65535)
"""


@register("cdx_shard_lookup", _CDX_CLUSTER_SQL)
def q_cdx_shard_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cluster.idx block selection (sources/cdx.py:
    cluster_idx_records → select_index_shards): for each SURT prefix
    the index blocks whose [first-key, successor-first-key) range
    can contain it — a one-block point probe ('com,site03', which
    also selects its boundary predecessor), a ten-block range probe
    ('com,site1' covering site10-19 plus the predecessor), and a
    miss ('org,none'). One global lead() window over the tiny
    cluster table + one broadcast non-equi join."""
    i = (F.col("doc_id") % 20).cast("int")
    lines = (
        load_table(spark, sf_dir, "documents")
        .select(i.alias("i"))
        .distinct()
        .select(
            F.concat(
                F.format_string("com,site%02d)/p", F.col("i")),
                F.lit(" 20240101000000\tcdx-0000"),
                (F.col("i") % 3).cast("string"),
                F.lit(".gz\t"),
                (F.col("i") * 100000).cast("string"),
                F.lit("\t99999\t"),
                F.col("i").cast("string"),
            ).alias("value")
        )
    )
    cluster = _cdx.cluster_idx_records(lines)
    prefixes = spark.createDataFrame(
        [("com,site03",), ("com,site1",), ("org,none",)],
        "surt_prefix string",
    )
    return _cdx.select_index_shards(cluster, prefixes)


# ---------------------------------------------------------------------------
# r18: exact tokenization under the SHIPPED frozen BPE vocabulary
# (operators/tokenizer.py + data/bpe_merges.tsv / bpe_vocab.tsv —
# the quality_clf frozen-literal-model precedent: the model is
# CONTRACT DATA, inlined into both engines). The Spark side applies
# rank-greedy BPE in ONE Arrow pass over the distinct words; the
# DuckDB twin replays the identical greedy loop as a recursive CTE
# (lowest-rank adjacent pair, leftmost on ties, re-evaluated each
# step) against the same inlined merge table — full-hash evidence
# that the one Python stage in this chain is cross-engine exact.
# ---------------------------------------------------------------------------

from cybersecurity_miw_spark.operators import tokenizer as _tok

_BPE_MERGES, _BPE_VOCAB = _tok.load_bpe_model()


def _bpe_sq(s: str) -> str:
    return s.replace("'", "''")


_BPE_MRG_VALUES = ",".join(
    f"({i},'{_bpe_sq(x)}','{_bpe_sq(y)}')"
    for i, (x, y) in enumerate(_BPE_MERGES)
)
_BPE_VOCAB_SORTED = sorted(_BPE_VOCAB.items(), key=lambda kv: kv[1])
_BPE_VOCAB_KEYS = ",".join(f"'{_bpe_sq(t)}'" for t, _ in _BPE_VOCAB_SORTED)
_BPE_VOCAB_IDS = ",".join(str(i) for _, i in _BPE_VOCAB_SORTED)

# the shared segmentation CTEs: distinct corpus words → greedy-BPE
# token lists (bpetoks) under the inlined frozen merges
_BPE_SEG_SQL = f"""mrg AS (
  SELECT * FROM (VALUES {_BPE_MRG_VALUES}) m(rank, x, y)
),
rmap AS (
  SELECT map(list(x || chr(9) || y ORDER BY rank),
             list(rank ORDER BY rank)) AS m
  FROM mrg
),
bdw AS (
  SELECT doc_id,
         list_filter(str_split_regex(lower(trim(coalesce(text, ''))),
                                     '\\s+'), x -> len(x) > 0) AS ws
  FROM documents
),
bwc AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT doc_id, unnest(ws) AS w FROM bdw)
  GROUP BY 1, 2
),
bdwords AS (SELECT DISTINCT w FROM bwc),
bseg AS (
  SELECT w, string_split(w, '') AS toks, 0 AS it FROM bdwords
  UNION ALL
  SELECT w,
    toks[1:bi-1] || [toks[bi] || toks[bi+1]] || toks[bi+2:] AS toks,
    it + 1 AS it
  FROM (
    SELECT w, toks, it,
           list_position(rl, list_min(rl)) AS bi,
           list_min(rl) AS mr
    FROM (
      SELECT w, toks, it,
             [coalesce(list_extract(map_extract(rmap.m,
                  toks[i] || chr(9) || toks[i+1]), 1), 1000000)
              FOR i IN generate_series(1, len(toks)-1)] AS rl
      FROM bseg, rmap
      WHERE len(toks) >= 2
    )
  )
  WHERE mr < 1000000
),
bpetoks AS (
  SELECT w, toks FROM (
    SELECT *, row_number() OVER (PARTITION BY w ORDER BY it DESC) AS rn
    FROM bseg
  ) WHERE rn = 1
)"""

_BPE_COUNTS_SQL = f"""
WITH RECURSIVE {_BPE_SEG_SQL}
SELECT d.doc_id,
       coalesce(s.tot, 0) AS n_tokens_exact
FROM documents d
LEFT JOIN (
  SELECT bwc.doc_id, CAST(sum(bwc.n * len(t.toks)) AS BIGINT) AS tot
  FROM bwc JOIN bpetoks t ON t.w = bwc.w
  GROUP BY 1
) s ON s.doc_id = d.doc_id
"""


@register("bpe_token_counts", _BPE_COUNTS_SQL)
def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token counts under the shipped frozen BPE vocabulary
    (tokenizer.token_counts_exact): per document the real
    segmentation length — the number every budget operator should
    bind to. One word explode + uniform (doc, word) count agg, ONE
    Arrow greedy-BPE pass over the DISTINCT words, one word join +
    one LONG weighted sum. The twin replays the greedy loop as a
    recursive CTE over the same inlined merge table."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _tok.token_counts_exact(
        docs, _BPE_MERGES, _BPE_VOCAB
    ).select("doc_id", "n_tokens_exact")


_BPE_IDS_SQL = f"""
WITH RECURSIVE {_BPE_SEG_SQL},
vmap AS (
  SELECT map([{_BPE_VOCAB_KEYS}], [{_BPE_VOCAB_IDS}]) AS vm
),
docpos AS (
  SELECT doc_id,
         u.i AS pos, u.v AS w
  FROM (
    SELECT doc_id,
           unnest([{{'i': i, 'v': ws[i]}}
                   FOR i IN generate_series(1, len(ws))]) AS u
    FROM bdw
  )
),
wordids AS (
  SELECT t.w,
         [coalesce(list_extract(map_extract(vmap.vm, tk), 1), 0)
          FOR tk IN t.toks] AS ids
  FROM bpetoks t, vmap
),
perdoc AS (
  SELECT p.doc_id,
         flatten(list(i.ids ORDER BY p.pos)) AS all_ids
  FROM docpos p JOIN wordids i ON i.w = p.w
  GROUP BY 1
)
SELECT d.doc_id,
       coalesce(array_to_string(
         [x::VARCHAR FOR x IN perdoc.all_ids], ','), '') AS token_ids_csv
FROM documents d LEFT JOIN perdoc ON perdoc.doc_id = d.doc_id
"""


@register("bpe_token_ids", _BPE_IDS_SQL)
def q_bpe_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact token-ID SEQUENCE per document under the frozen
    vocabulary (tokenizer.tokenize_ids_exact), serialized to a CSV
    string (the driver window's scalar-columns rule — the
    link_anchor_index precedent): full-sequence evidence that the
    Arrow segmentation, the vocabulary mapping AND the order-struct
    re-assembly are cross-engine exact, not just the counts."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ids = _tok.tokenize_ids_exact(docs, _BPE_MERGES, _BPE_VOCAB)
    return ids.select(
        "doc_id",
        F.array_join(
            F.transform(F.col("token_ids"), lambda x: x.cast("string")),
            ",",
        ).alias("token_ids_csv"),
    )


# ---------------------------------------------------------------------------
# r18: RFC 3986 §6.2.2 percent-encoding normalization
# (urlcurate.pct_normalize_url) chained into the stage-one URL dedup.
# Synthesized URLs plant the same page under three encodings of '~'
# (literal, '%7E', '%7e'), a reserved '%2f' whose hex case varies,
# an unreserved '%41' vs its literal 'A', and invalid escapes
# ('%zz', trailing '%') that must pass through verbatim — so the
# dedup only converges if BOTH engines decode unreserved triplets,
# uppercase reserved ones, and leave non-triplets alone. The DuckDB
# twin re-implements the split-on-'%' transform with
# strpos-arithmetic hex decoding (no shared code) and reuses the
# shared _canon_dedup_sql canonical chain.
# ---------------------------------------------------------------------------

_PCT_SYNTH_SQL = """
  SELECT doc_id,
         'HTTPS://Site' || (doc_id % 5)::VARCHAR || '.Example.COM/'
         || CASE doc_id % 3 WHEN 0 THEN '~u' WHEN 1 THEN '%7Eu'
                 ELSE '%7eu' END
         || (doc_id % 11)::VARCHAR
         || CASE WHEN doc_id % 4 = 0 THEN '/%41%2fx' ELSE '/A%2Fx' END
         || CASE WHEN doc_id % 13 = 0 THEN '?q=%zz%' ELSE '' END
         AS url
  FROM documents
"""

# hex value of piece p's first two (uppercased) chars, by strpos
# arithmetic — DuckDB has no conv(); decode(from_hex()) would THROW
# on lone continuation bytes like '%C3'
_PCT_CODE = (
    "((strpos('0123456789ABCDEF', upper(p[1:1])) - 1) * 16"
    " + strpos('0123456789ABCDEF', upper(p[2:2])) - 1)"
)
_PCT_UNRESERVED = (
    f"({_PCT_CODE} BETWEEN 65 AND 90 OR {_PCT_CODE} BETWEEN 97 AND 122"
    f" OR {_PCT_CODE} BETWEEN 48 AND 57 OR {_PCT_CODE} IN (45, 46, 95, 126))"
)
_PCT_PIECE = (
    "CASE WHEN regexp_matches(p, '^[0-9A-Fa-f]{2}')"
    f" THEN (CASE WHEN {_PCT_UNRESERVED} THEN chr({_PCT_CODE}::INTEGER)"
    "       ELSE '%' || upper(p[1:2]) END) || p[3:]"
    " ELSE '%' || p END"
)

_URL_PCT_SQL = _canon_dedup_sql(
    f"""urls AS ({_PCT_SYNTH_SQL}),
psplit AS (SELECT doc_id, trim(url) AS u0,
                  string_split(trim(url), '%') AS l
           FROM urls),
parts AS (
  SELECT doc_id,
         CASE WHEN NOT contains(u0, '%') THEN u0
              ELSE l[1] || array_to_string(
                     list_transform(l[2:], p -> {_PCT_PIECE}), '')
         END AS u
  FROM psplit)"""
)


@register("url_pct_normalize_dedup", _URL_PCT_SQL)
def q_url_pct_normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-one URL dedup with RFC 3986 §6.2.2 percent-encoding
    normalization prepended (urlcurate.pct_normalize_url →
    canonical_url → min-id dedup): '/%7Euser', '/%7euser' and
    '/~user' converge to one page while reserved octets stay encoded
    (hex-uppercased) and invalid escapes pass through. Plan: the
    split-on-'%' transform and the canonicalization are one fused
    row-expression projection — the only exchanges are the
    md5-fingerprint groupBy + semi-join of url_exact_dedup."""
    d = F.col("doc_id")
    enc = (
        F.when(d % 3 == 0, F.lit("~u"))
        .when(d % 3 == 1, F.lit("%7Eu"))
        .otherwise(F.lit("%7eu"))
    )
    url = F.concat(
        F.lit("HTTPS://Site"), (d % 5).cast("string"),
        F.lit(".Example.COM/"), enc, (d % 11).cast("string"),
        F.when(d % 4 == 0, F.lit("/%41%2fx")).otherwise(F.lit("/A%2Fx")),
        F.when(d % 13 == 0, F.lit("?q=%zz%")).otherwise(F.lit("")),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    with_url = docs.withColumn("url", urlcurate.pct_normalize_url(url))
    surv = urlcurate.url_exact_dedup(with_url)
    return surv.select(
        "doc_id",
        urlcurate.canonical_url(F.col("url")).alias("canonical_url"),
    )


# ---------------------------------------------------------------------------
# r17: surface-preserving unicode cleanup (textstats.clean_text —
# the Dolma "fix text" stage). Pages are synthesized with every
# planted pathology (zero-width joiners inside words, NBSP and
# ideographic spaces, typographic quotes/dashes/ellipsis, C0
# controls, space runs, line-edge spaces); the twin replays the
# identical translate/replace/regexp chain (the shared constants are
# contract data, the TRACKING_PARAMS precedent).
# ---------------------------------------------------------------------------

_CLEAN_FIX = (
    "“Smart” quotes… and NBSP runs  here​"
    "—dash ‘single’\x07bell﻿\n  indented　line \n"
    "tail space "
)


def _clean_sql_chain(e: str) -> str:
    e = f"translate({e}, {_sql_quote(textstats.CLEAN_DROP)}, '')"
    spaces = textstats.CLEAN_SPACES
    e = f"translate({e}, {_sql_quote(spaces)}, {_sql_quote(' ' * len(spaces))})"
    for src, dst in textstats.CLEAN_MAP:
        e = f"replace({e}, {_sql_quote(src)}, {_sql_quote(dst)})"
    e = f"regexp_replace({e}, '{textstats._CTRL_CLASS}', '', 'g')"
    e = f"regexp_replace({e}, '  +', ' ', 'g')"
    e = f"regexp_replace({e}, ' ?\n ?', chr(10), 'g')"
    return f"regexp_replace({e}, '^ +| +$', '', 'g')"


_CLEAN_TEXT_SQL = f"""
WITH pages AS (
  SELECT doc_id,
         {_sql_quote(_CLEAN_FIX)} || coalesce(text, '') AS raw
  FROM documents
)
SELECT doc_id, {_clean_sql_chain("raw")} AS text,
       CAST(length(raw) - length({_clean_sql_chain("raw")}) AS BIGINT)
         AS n_removed
FROM pages
"""


@register("clean_text_normalization", _CLEAN_TEXT_SQL)
def q_clean_text_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surface-preserving unicode cleanup (textstats.clean_text, the
    curate_documents(clean_unicode=True) stage) over pages carrying
    every planted pathology: per doc the cleaned text and the byte
    delta. Pure codegen translate/replace/regexp chain — zero
    exchanges."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    raw = F.concat(F.lit(_CLEAN_FIX), F.coalesce("text", F.lit("")))
    cleaned = textstats.clean_text(raw)
    return docs.select(
        "doc_id",
        cleaned.alias("text"),
        (F.length(raw) - F.length(cleaned)).cast("long").alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# r17: multiclass topic classification (operators/topics.py — the
# Dolma/DCLM mixture-bucketing shape). The frozen model is THREE
# md5-derived literal weight tables + distinct literal biases both
# engines rebuild identically (the quality_clf_score precedent,
# one table per topic); the twin replays the single-join margin
# machinery grouped by (doc, topic) and the (margin, topic)
# lexicographic argmax, wordless docs coalescing to the bias argmax.
# ---------------------------------------------------------------------------

from cybersecurity_miw_spark.operators import topics as _tpx

_TPX_TOPICS = ["t_code", "t_cook", "t_law"]
_TPX_BIAS = {"t_code": -2222, "t_cook": 1111, "t_law": 3333}


def _tpx_frozen_models() -> dict[str, dict]:
    import hashlib

    out = {}
    for t in _TPX_TOPICS:
        w = [
            int(hashlib.md5(f"topicw:{t}:{b}".encode()).hexdigest()[:8], 16)
            % 2001 - 1000
            for b in range(_CLF_DIM)
        ]
        out[t] = {"dim": _CLF_DIM, "w_micro": w,
                  "bias_micro": _TPX_BIAS[t]}
    return out


# the wordless-doc verdict: argmax over the literal biases
_TPX_EMPTY_TOPIC, _TPX_EMPTY_M = max(
    ((t, b) for t, b in _TPX_BIAS.items()), key=lambda x: (x[1], x[0])
)

_TPX_SQL = f"""
WITH tw AS (
  SELECT t.topic, g.i AS bucket,
    (('0x' || substr(md5('topicw:' || t.topic || ':' || g.i::VARCHAR),
                     1, 8))::BIGINT % 2001) - 1000 AS w,
    CASE t.topic {" ".join(
        f"WHEN '{t}' THEN {b}" for t, b in sorted(_TPX_BIAS.items())
    )} END AS bias
  FROM (VALUES {", ".join(f"('{t}')" for t in _TPX_TOPICS)}) t(topic),
       (SELECT unnest(generate_series(0, {_CLF_DIM - 1})) AS i) g
),
twords AS (
  SELECT doc_id,
         unnest(str_split_regex(lower(trim(coalesce(text, ''))), '\\s+'))
           AS w
  FROM documents),
tfw AS (SELECT doc_id, w FROM twords WHERE len(w) > 0),
thashed AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5(w), 1, 8))::BIGINT % {_CLF_DIM} AS INT) AS b,
    CASE WHEN (('0x' || substr(md5(w), 1, 8))::BIGINT // {_CLF_DIM}) % 2 = 0
         THEN 1 ELSE -1 END AS s
  FROM tfw),
tcounted AS (
  SELECT doc_id, b, CAST(sum(s) AS BIGINT) AS cnt
  FROM thashed GROUP BY 1, 2),
tnw AS (SELECT doc_id, count(*) AS n FROM tfw GROUP BY 1),
tmg AS (
  SELECT c.doc_id, tw.topic,
         CAST(floor(sum(c.cnt * tw.w) / max(n.n)) + max(tw.bias)
              AS BIGINT) AS m
  FROM tcounted c
  JOIN tw ON tw.bucket = c.b
  JOIN tnw n ON n.doc_id = c.doc_id
  GROUP BY c.doc_id, tw.topic),
twin AS (
  SELECT doc_id, topic, m,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY m DESC, topic DESC) AS rn
  FROM tmg)
SELECT d.doc_id,
       coalesce(w.topic, '{_TPX_EMPTY_TOPIC}') AS topic,
       coalesce(w.m, {int(_TPX_EMPTY_M)}) AS topic_margin_micro
FROM documents d
LEFT JOIN (SELECT * FROM twin WHERE rn = 1) w USING (doc_id)
"""


@register("topic_classify_argmax", _TPX_SQL)
def q_topic_classify_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiclass topic assignment (topics.classify_topics) under
    three frozen literal one-vs-rest models: per doc the argmax
    topic and its exact long micro-logit — the Dolma-shape bucketing
    a mixing recipe consumes. ONE feature explode + ONE broadcast
    (K·dim)-row weight join + one (doc, topic) sum + one argmax;
    wordless docs take the bias argmax."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _tpx.classify_topics(docs, _tpx_frozen_models()).select(
        "doc_id", "topic", "topic_margin_micro"
    )


# ---------------------------------------------------------------------------
# r17: Dolma-policy paragraph dedup (corpus_filters.dedup_paragraphs
# — keep-FIRST, unlike remove_boilerplate_lines' drop-all-frequent).
# Pages synthesize shared header/footer paragraphs + unique bodies +
# trailing-blank structure from documents; the twin replays the
# explode → canonical-first min-struct → keep filter → ordered
# re-assembly chain wholesale in SQL.
# ---------------------------------------------------------------------------

_PDEDUP_SEP = "\n\n"

_PDEDUP_PAGES_SQL = """
  SELECT doc_id,
    'Shared header paragraph.' || chr(10) || chr(10)
    || substr(coalesce(text, ''), 1, 80)
    || CASE WHEN doc_id % 3 = 0
         THEN chr(10) || chr(10) || 'Common footer paragraph.'
         ELSE chr(10) || chr(10) || 'tail ' || doc_id::VARCHAR END
    || CASE WHEN doc_id % 5 = 0 THEN chr(10) || chr(10) ELSE '' END
    AS text
  FROM documents
"""

_PDEDUP_SQL = f"""
WITH pdocs AS ({_PDEDUP_PAGES_SQL}),
pex AS (
  SELECT doc_id, u.i AS pos, u.p AS p, trim(u.p) = '' AS blank
  FROM (
    SELECT doc_id,
           unnest([{{'i': i, 'p': ps[i + 1]}}
                   FOR i IN generate_series(0, len(ps) - 1)]) AS u
    FROM (SELECT doc_id,
                 str_split(coalesce(text, ''), chr(10) || chr(10)) AS ps
          FROM pdocs)
  )
),
firsts AS (
  SELECT md5(p) AS h,
         min({{'id': doc_id, 'pos': pos}}) AS f
  FROM pex WHERE NOT blank GROUP BY 1
),
pkept AS (
  SELECT e.* FROM pex e LEFT JOIN firsts ON firsts.h = md5(e.p)
  WHERE e.blank OR (firsts.f.id = e.doc_id AND firsts.f.pos = e.pos)
),
prebuilt AS (
  SELECT doc_id,
         string_agg(p, chr(10) || chr(10) ORDER BY pos) AS newtext,
         CAST(sum(CASE WHEN blank THEN 0 ELSE 1 END) AS BIGINT) AS nkept
  FROM pkept GROUP BY 1
),
ptot AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN blank THEN 0 ELSE 1 END) AS BIGINT) AS ntot
  FROM pex GROUP BY 1
)
SELECT d.doc_id, coalesce(r.newtext, '') AS text,
       coalesce(t.ntot, 0) - coalesce(r.nkept, 0) AS removed_paragraphs
FROM pdocs d
LEFT JOIN prebuilt r ON r.doc_id = d.doc_id
LEFT JOIN ptot t ON t.doc_id = d.doc_id
"""


@register("paragraph_dedup_first", _PDEDUP_SQL)
def q_paragraph_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma-policy paragraph dedup (corpus_filters.dedup_paragraphs):
    every exact paragraph survives ONCE at its smallest (doc, pos)
    occurrence; blank segments pass through as structure; documents
    reassemble in order with the excised count. One staged
    posexplode + one uniform md5-key min agg + one hash join back +
    one per-doc ordered re-assembly."""
    from cybersecurity_miw_spark.operators import corpus_filters

    d = F.col("doc_id")
    txt = F.concat(
        F.lit("Shared header paragraph.\n\n"),
        F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 80),
        F.when(
            d % 3 == 0, F.lit("\n\nCommon footer paragraph.")
        ).otherwise(F.concat(F.lit("\n\ntail "), d.cast("string"))),
        F.when(d % 5 == 0, F.lit("\n\n")).otherwise(F.lit("")),
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", txt.alias("text")
    )
    return corpus_filters.dedup_paragraphs(docs)


# ---------------------------------------------------------------------------
# driver window curation. The round driver oracle-checks the FIRST 50
# entries of queries(); registration order above is file order, which
# marooned late-registered families (tpch, pca, kmeans, sessions, topn,
# tfidf, l2/quantize) outside the verified window in round 3. This
# reorders the registry so one query per distinct operator family —
# every one of them oracle-backed — fills the window; the remainder
# (same-family twins like kv_evtx2/anti_join/dedup_survivors, the
# no-oracle simhash_fingerprints, and small-set baselines whose scale
# twin is in-window) stay registered and pytest-oracle-verified in
# tests/test_oracle_parity.py, just after position 50.
# ---------------------------------------------------------------------------

_DRIVER_WINDOW = [
    # Round-18 rotation: IN = the six new r18 oracles, first-round
    # rows per the rotation invariant (link_pagerank_dangling — the
    # Page et al. dangling-mass redistribution variant, TWO unrolled
    # iterations with the per-iteration 1-row mass term;
    # crawl_fetch_slots — the Crawl-delay time-slot schedule, full
    # parse→selection→(rank−1)·delay chain; cdx_select_fetchlist —
    # CDXJ parse + status/mime/latest-capture selection into the
    # byte-range fetch table; cdx_shard_lookup — cluster.idx
    # SURT-prefix block-range lookup; bpe_token_counts — exact
    # token counts under the shipped frozen BPE vocab, the
    # recursive-CTE greedy twin; bpe_token_ids — the full id
    # SEQUENCE per doc, CSV-serialized per the scalar-columns rule).
    # OUT = six long-green veterans, each with in-window family
    # siblings: ann_pq_adc_topk + hard_negatives_topk +
    # incremental_semantic_vs_store (similarity keeps
    # ann_ivf_topk_batch + semantic_dedup_cells_clusters +
    # incremental_phash_vs_store), c4_page_rules (corpus_filters
    # keeps gopher_repetition_battery + paragraph_dedup_first),
    # quality_clf_score (qualityclf keeps report_deciles +
    # separation), cohort_retention_matrix (the SQL-analytics
    # showcase family keeps tpch_q18_large_volume_customer +
    # miw_events_summary). All six stay full-hash green in
    # tests/test_oracle_parity.py every round. Re-anchored
    # changed-plan queries this round (already in-window):
    # robots_allow_gate (group-existence selection + the rule-less
    # specific-group fixture case), ngram_lm_train/score/ppl_buckets
    # (raw unigram storage, alpha on the backoff path only),
    # link_anchor_index (array_join serialization — the r17 red
    # row).
    # Round-17 second rotation (same round, continued session): IN =
    # the eight new r17 crawl-stack oracles (ngram_lm_train — the
    # stupid-backoff bigram model table, full-hash TRAINING evidence;
    # ngram_lm_score — the CCNet §4.3 perplexity scoring chain;
    # ngram_lm_ppl_buckets — the head/middle/tail corpus card;
    # link_anchor_index — in-degree + top-k anchor texts;
    # link_pagerank — TWO unrolled integer fixed-point PageRank
    # iterations; domain_link_graph_counts — PSL domain-level graph
    # with subdomain collapse; crawl_frontier_rank — unseen-URL
    # frontier ordering; robots_allow_gate — the RFC 9309 parse +
    # longest-match gate), first-round rows per the rotation
    # invariant.
    # OUT = eight long-green veterans, each with in-window family
    # siblings: chunk_fixed_windows (packing keeps
    # chunk_sentence_budget), semantic_dedup_cells_survivors
    # (SemDeDup keeps semantic_dedup_cells_clusters +
    # incremental_semantic_vs_store), temperature_mix_prefix
    # (sampling keeps mix_to_budget_epochs + mix_report_by_source),
    # gopher_quality_flags (corpus_filters keeps
    # gopher_repetition_battery + c4_page_rules), dsir_select_topk
    # (dsir keeps dsir_select_budget), quality_clf_select_budget
    # (qualityclf keeps quality_clf_score + report_deciles +
    # separation), app_pca_covariance (apps keeps app_kmeans_step),
    # knn_graph_edges (similarity keeps ann_ivf_topk_batch +
    # hard_negatives_topk). Plus clean_text_normalization IN (the
    # Dolma fix-text stage, pure codegen chain) displacing
    # mix_report_by_source (sampling keeps mix_to_budget_epochs
    # in-window), and topic_classify_argmax IN (the Dolma/DCLM
    # mixture bucketing — frozen three-model argmax) displacing
    # simhash_band_candidates (the banding family keeps
    # dedup_exact_groups + incremental_phash_vs_store +
    # incremental_semantic_vs_store in-window), and
    # paragraph_dedup_first IN (the Dolma keep-first paragraph
    # policy) displacing ngram_diversity_by_source (textstats keeps
    # text_profile + doc_token_length_histogram in-window). All
    # eleven stay full-hash green in tests/test_oracle_parity.py
    # every round.
    # Round-17 rotation: IN = the seven new r17 oracles
    # (lang_id_assign — the char-trigram language-ID decision chain
    # over the 30-way multilingual fixture; lang_report_counts — the
    # per-language corpus size audit over the same fixture; html_extract_text — the
    # HTML→text strip/decode chain; html_line_density — the
    # jusText-lite line classifier; quality_clf_report_deciles — the
    # score-decile calibration card; quality_clf_separation — the
    # grade-level Mann-Whitney separation card), first-round rows per
    # the rotation invariant.
    # OUT = eight long-green veterans, each with in-window family
    # siblings: hybrid_rrf_batch_docs (r12 — retrieval keeps
    # hybrid_rrf_topk_docs), incremental_semantic_banded_vs_store
    # (r12 — the incremental-semantic family keeps
    # incremental_semantic_vs_store), semantic_dedup_clusters (r12)
    # and semantic_dedup_survivors (r11) (the SemDeDup family keeps
    # semantic_dedup_cells_survivors + semantic_dedup_cells_clusters
    # in-window), phash_fingerprints (r13 — the media family keeps
    # phash_band_candidates + incremental_phash_vs_store),
    # containment_cross_decontaminate (r12 — the containment family
    # keeps incremental_containment_vs_store), phash_band_candidates
    # (r13 — media keeps incremental_phash_vs_store), and
    # running_value_per_user (r6 — events keeps
    # beacon_interval_profile). All eight stay full-hash green in
    # tests/test_oracle_parity.py every round.
    # r17 changed-plan anchors, both already in-window:
    # text_profile (lang_guess now the trigram classifier; n_tokens
    # gained the CJK char-class fallback) and url_canonical_dedup
    # (TRACKING_PARAMS dropped ambiguous 'ref'/'ref_src'; malformed
    # ports now pass through — ADVICE r16), plus
    # doc_token_length_histogram rotated IN as the third changed-plan
    # anchor (its n_tokens twin carries the CJK fallback), displacing
    # running_value_per_user (r6 events veteran; the family keeps
    # beacon_interval_profile in-window).
    # Round-16 rotation: IN = the six new r16 oracles
    # (url_canonical_dedup — the canonicalize+dedup chain;
    # registrable_domain_counts — PSL eTLD+1 extraction;
    # quality_clf_score — frozen-model classifier scoring;
    # quality_clf_select_budget — classifier selection to a token
    # budget; url_quality_flags — the RefinedWeb structural URL
    # gate; chunk_sentence_budget — sentence-boundary chunking),
    # first-round rows per the rotation invariant. The fourth r16 registration
    # (quality_clf_train_scores) is an iterative driver loop with no
    # SQL twin BY DESIGN (the BPE precedent) and stays outside the
    # oracled window; its correctness is the bit-determinism +
    # separation goldens.
    # OUT = eight long-green veterans, each with in-window family
    # siblings: pairwise_topk_lsh (r7 cohort — the embedding family
    # keeps ann_ivf_topk_batch / ann_pq_adc_topk / knn_graph_edges /
    # hard_negatives_topk + the semantic rows), multimodal_media_stats
    # (r7 cohort — the media family keeps all three phash rows),
    # bm25_topk_batch_docs and retrieve_rerank_topk_docs (r12
    # cohort — retrieval keeps hybrid_rrf_topk_docs /
    # hybrid_rrf_batch_docs), contamination_report_eval (r12 —
    # decontamination keeps containment_cross_decontaminate /
    # incremental_containment_vs_store), corpus_report_by_source
    # (r6 — the report family keeps mix_report_by_source). All six
    # stay full-hash green in tests/test_oracle_parity.py every
    # round.
    # r16 changed-plan anchors are already in-window:
    # gopher_repetition_battery (linear slice sums + doc-key
    # pre-partition), dsir_select_topk / dsir_select_budget (staged
    # bucket totals), c4_page_rules (badword re.escape).
    # Round-15 rotation: IN = the eight new r15 oracles
    # (mix_to_budget_epochs — repetition-capped temperature mixing;
    # assemble_manifest — the end-to-end assemble_dataset doc→shard
    # manifest; mix_report_by_source — the per-source dataset card
    # over the same budget mix; dsir_select_topk — DSIR importance
    # resampling; dsir_select_budget — DSIR to a token budget;
    # gopher_repetition_battery — the full Table A1 repetition
    # battery; c4_page_rules — the C4 §2.2 page-cleaning rules;
    # ngram_diversity_by_source — the distinct-n mix audit),
    # first-round rows as the rotation invariant requires.
    # OUT also includes app_word_reverse_index (longest-green §2.8
    # veteran; the apps family keeps app_pca_covariance +
    # app_kmeans_step in-window) for the card row.
    # OUT = two longest-green r6-cohort veterans: date_buckets (the
    # P/derive family keeps tokenize_typed_projection +
    # kv_evtx_explode in-window; unix_epoch_parse / time_buckets stay
    # full-hash green in tests/test_oracle_parity.py) and
    # match_substring_or (the F family keeps match_negative_exact
    # in-window; exact/semi/anti siblings stay pytest-parity checked).
    # No changed-plan anchors this rotation: the r15 code changes so
    # far (on_stale streaming policy, distortion zero-baseline grade,
    # phash store data-probe, mine_hard_negatives cap param) touch
    # streaming loops and parameter plumbing only — no in-window batch
    # query's plan moved (hard_negatives_topk's default cap value is
    # plan-identical and it is already in-window).
    # Round-14 rotation (the r13 miss, made current): IN = the three
    # r13 phash oracles (phash_fingerprints, phash_band_candidates,
    # incremental_phash_vs_store — their first-round rows are a round
    # overdue) + the new r14 knn_graph_edges. OUT = four of the
    # longest-green r6-cohort veterans — app_linear_regression,
    # app_matrix_mult_blocked (the apps family keeps
    # app_word_reverse_index / app_pca_covariance / app_kmeans_step
    # in-window), event_value_percentiles, pivot_user_activity (the
    # events/window family keeps rollup_event_counts /
    # running_value_per_user / distinct_users_per_type /
    # beacon_interval_profile). Everything rotated out stays
    # full-hash green in tests/test_oracle_parity.py every round.
    # r14 changed-code anchors already in-window: ann_ivf_topk_batch
    # (expr-string centroid literal + Arrow probe path for large/
    # corpus-sized batches — the small broadcastable oracle batch
    # keeps the expression plan), semantic_dedup_cells_survivors
    # (pair stage factored through _cells_pairs_raw, n_assign=1 plan
    # identical), semantic_dedup_survivors / semantic_dedup_clusters
    # (n_planes default flipped to auto; oracles pin geometry
    # explicitly).
    # Round-12 rotation: flagship + changed-code anchors
    # (ann_pq_adc_topk — the residual-ADC null-element guard changed
    # both scoring paths' plans; ann_ivf_topk_batch — gained the
    # above-cap shuffle route; incremental_semantic_vs_store — gained
    # the new_id != stored_id replay guard) + ALL NINE new r12
    # oracles (hybrid_rrf_ann_topk_docs, incremental_containment_vs_
    # store, semantic_dedup_clusters, bm25_topk_batch_docs,
    # hybrid_rrf_batch_docs, contamination_report_eval,
    # retrieve_rerank_topk_docs, embedding_near_dup_lsh_banded,
    # incremental_semantic_banded_vs_store), displacing the nine
    # longest-green r5-cohort veterans
    # quote_strip_trim / time_buckets / url_retemplate /
    # match_exact_or / wc_wordcount / embedding_l2_normalize /
    # embedding_quantize_int8 / semi_join_membership /
    # raw_content_retention
    # (each family keeps in-window siblings:
    # P keeps tokenize_typed_projection + kv_evtx_explode +
    # date_buckets, F keeps negative/substring/semi, §2.8 keeps five
    # apps, embeddings keep quantize + the ANN/semantic rows;
    # everything rotated out stays full-hash green in
    # tests/test_oracle_parity.py every round). The rest of the r11
    # window holds — its members were all re-rowed only last round.
    "miw_events_summary",
    # --- changed-code anchors (r10-r12) ---
    "tpch_q18_large_volume_customer",
    # --- oldest-rowed veterans (r5 cohort) ---
    "tokenize_typed_projection",
    # --- new r12 oracles (first-round rows) ---
    # (hybrid_rrf_ann_topk_docs rotated out r14 for the new
    #  hard_negatives_topk row — the retrieval family keeps
    #  hybrid_rrf_topk_docs / bm25_topk_batch_docs /
    #  hybrid_rrf_batch_docs / retrieve_rerank_topk_docs in-window)
    "incremental_containment_vs_store",
    # (semantic_dedup_clusters rotated out r17 for html_line_density
    #  — SemDeDup keeps both cells rows in-window)
    # (bm25_topk_batch_docs rotated out r16 for quality_clf_score —
    #  see the r16 rotation note)
    # (hybrid_rrf_batch_docs rotated out r17 for lang_id_assign —
    #  retrieval keeps hybrid_rrf_topk_docs in-window)
    # (contamination_report_eval rotated out r16 for
    #  url_quality_flags — the decontamination family keeps
    #  containment_cross_decontaminate +
    #  incremental_containment_vs_store in-window)
    # (retrieve_rerank_topk_docs rotated out r16 for
    #  quality_clf_select_budget — retrieval keeps
    #  hybrid_rrf_topk_docs + hybrid_rrf_batch_docs in-window)
    # (embedding_near_dup_lsh_banded rotated out r14 for the new
    #  semantic_dedup_cells_clusters row — same family, twice green,
    #  stays pytest-parity checked)
    # (incremental_semantic_banded_vs_store rotated out r17 for
    #  html_extract_text — the family keeps
    #  incremental_semantic_vs_store in-window)
    "kv_evtx_explode",
    "match_negative_exact",
    # --- last row round 6 ---
    # (date_buckets + match_substring_or + app_word_reverse_index
    #  rotated out r15 for the three new r15 oracles — see the r15
    #  rotation note at the top)
    "app_kmeans_step",
    # (running_value_per_user rotated out r17 for the re-anchored
    #  doc_token_length_histogram — the events family keeps
    #  beacon_interval_profile in-window)
    # (distinct_users_per_type rotated out r15 for dsir_select_budget —
    #  the events family keeps running_value_per_user +
    #  beacon_interval_profile in-window)
    "beacon_interval_profile",
    # (remove_repeated_lines rotated out r15 for the new
    #  gopher_repetition_battery — the corpus-filter family keeps
    #  gopher_quality_flags + pii_redact_counts in-window)
    # (pii_redact_counts rotated out r18-continued for
    #  url_pct_normalize_dedup — the corpus-filter family keeps
    #  gopher_repetition_battery + paragraph_dedup_first in-window;
    #  pii stays full-hash green in tests/test_oracle_parity.py)
    "asof_join_latest_snapshot",
    # (quality_weighted_sample rotated out r15 for c4_page_rules — the
    #  sampling family keeps temperature_mix_prefix,
    #  mix_to_budget_epochs, mix_report_by_source and the assemble
    #  chain in-window)
    # (corpus_report_by_source rotated out r16 for
    #  chunk_sentence_budget — the report family keeps
    #  mix_report_by_source in-window)
    # --- last row round 7 (oldest first by registration order) ---
    # (agg_union_count_histogram rotated out r15 for dsir_select_topk —
    #  the A-family keeps the flagship's A1-A7/A10/A11 coverage
    #  in-window; A9 stays full-hash green in pytest parity)
    "order_topk_groups",
    "dedup_exact_groups",
    "text_profile",
    # (cosine_brute_topk rotated out for the cells-variant SemDeDup
    #  row; its exact-cosine logic also rides inside the
    #  hybrid_rrf_topk_docs oracle's dense branch)
    # (pairwise_topk_lsh rotated out r16 for url_canonical_dedup —
    #  see the r16 rotation note)
    # (ann_lsh_topk rotated out for the new batch-IVF row; the ANN
    #  family keeps ann_pq_adc_topk + ann_ivf_topk_batch in-window)
    "ann_ivf_topk_batch",
    # (embedding_near_dup_lsh rotated out for the new cross-containment
    #  row; the embedding family keeps cosine_brute_topk,
    #  pairwise_topk_lsh, and the semantic rows in-window)
    # (containment_pairs_exact rotated out r15 for the new
    #  ngram_diversity_by_source row — the containment family keeps
    #  containment_cross_decontaminate +
    #  incremental_containment_vs_store in-window)
    # (containment_cross_decontaminate rotated out r17 for
    #  lang_report_counts — the containment family keeps
    #  incremental_containment_vs_store in-window)
    # (multimodal_media_stats rotated out r16 for
    #  registrable_domain_counts — the media family keeps the three
    #  phash rows in-window)
    # --- new r11 oracles (first-round rows; displace the youngest
    #     r7 veterans, which stay pytest-parity-checked — the
    #     F-family keeps match_exact_or / match_negative_exact /
    #     match_substring_or in-window, multimodal keeps
    #     multimodal_media_stats) ---
    # (semantic_dedup_survivors rotated out r17 for
    #  quality_clf_report_deciles — SemDeDup keeps both cells rows)
    "hybrid_rrf_topk_docs",
    # --- new r13 oracles (first-round rows, one round overdue) ---
    # (phash_fingerprints rotated out r17 for quality_clf_separation
    #  — media keeps phash_band_candidates + incremental_phash_vs_store)
    # (phash_band_candidates rotated out r17 for
    #  html_outlinks_edges — media keeps incremental_phash_vs_store)
    "incremental_phash_vs_store",
    # --- new r14 oracles (first-round rows; rollup_event_counts
    #     rotated out for temperature_mix_prefix — the events family
    #     keeps running_value_per_user / distinct_users_per_type /
    #     beacon_interval_profile in-window) ---
    "semantic_dedup_cells_clusters",
    # --- new r15 oracles (first-round rows) ---
    "mix_to_budget_epochs",
    "assemble_manifest",
    "dsir_select_budget",
    "gopher_repetition_battery",
    # --- new r16 oracles (first-round rows) ---
    "url_canonical_dedup",
    "registrable_domain_counts",
    "url_quality_flags",
    "chunk_sentence_budget",
    # --- new r17 oracles (first-round rows) ---
    "lang_id_assign",
    "html_extract_text",
    "html_line_density",
    "quality_clf_report_deciles",
    "quality_clf_separation",
    "lang_report_counts",
    "html_outlinks_edges",
    # --- r17 changed-plan re-anchor (token_count gained the CJK
    #     char-class fallback; the twin changed with it) ---
    "doc_token_length_histogram",
    "ngram_lm_train",
    "ngram_lm_score",
    "ngram_lm_ppl_buckets",
    "link_anchor_index",
    "link_pagerank",
    "domain_link_graph_counts",
    "crawl_frontier_rank",
    "robots_allow_gate",
    "clean_text_normalization",
    "topic_classify_argmax",
    "paragraph_dedup_first",
    "link_pagerank_dangling",
    "crawl_fetch_slots",
    "cdx_select_fetchlist",
    "cdx_shard_lookup",
    "bpe_token_counts",
    "bpe_token_ids",
    # --- r18 continued-session addition (first-round row): the RFC
    #     3986 §6.2.2 percent-normalization + canonicalize + dedup
    #     chain; displaces pii_redact_counts (see note above) ---
    "url_pct_normalize_dedup",
]



def _curate_window() -> None:
    # hard raises, not asserts: these invariants guard the driver's
    # verified surface and must fail fast even under python -O
    if len(_DRIVER_WINDOW) != 50:
        raise ValueError(f"driver window must be 50, got {len(_DRIVER_WINDOW)}")
    missing = [n for n in _DRIVER_WINDOW if n not in QUERIES]
    if missing:
        raise ValueError(f"window names not registered: {missing}")
    unoracled = [n for n in _DRIVER_WINDOW if n not in ORACLE]
    if unoracled:
        raise ValueError(f"window names lack oracles: {unoracled}")
    rest = [n for n in QUERIES if n not in set(_DRIVER_WINDOW)]
    ordered = {n: QUERIES[n] for n in [*_DRIVER_WINDOW, *rest]}
    QUERIES.clear()
    QUERIES.update(ordered)


_curate_window()


def entry_query(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """Flagship query for the driver's smoke check."""
    return q_flagship(spark, sf_dir)
