"""Projection + per-field derivation: token array -> typed columns.

Covers the reference's "SELECT list" (SURVEY §2.2): positional
projection with auto-increment (miw/log_format.cc:247-262), double
-quote strip (:272-275), whitespace chomp, typed casts with atoi/atof
parity (:503-538), date/time bucketing (:401-472), URL re-templating
(:473-500), and the three preprocessing derivations
(evtxcsv / evtxcsv2 / microsoftdnslogs, :540-555,606-716).

All built-in column expressions; the produced DataFrame has one column
per logdef field (preprocessing fields yield a MapType column named
``<name>`` for evtxcsv/evtxcsv2, a string column for the DNS decode).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cybersecurity_miw_spark.cache import app_memo
from cybersecurity_miw_spark.functions.cols import qcol
from cybersecurity_miw_spark.functions.datetime import bucket_date, bucket_time, parse_date
from cybersecurity_miw_spark.functions.kv import evtx_kv, evtx2_kv
from cybersecurity_miw_spark.functions.net import dns_wire_to_name
from cybersecurity_miw_spark.functions.strings import strip_quotes
from cybersecurity_miw_spark.functions.url import url_template
from cybersecurity_miw_spark.plans.logdef import Field, LogDef

TOKENS_COL = "_tokens"

# Leading-number extraction for atoi/atof parity: C atoi/atof skip
# leading whitespace, accept an optional sign, and stop at the first
# non-numeric char, returning 0 when nothing parses
# (miw/log_format.cc:503-538). ANSI-mode cast would instead abort the
# whole job on the first dirty token, so we extract the numeric prefix
# and try_cast it (null-safe), defaulting to 0.
_ATOI_RE = r"^[-+]?\d+"
_ATOF_RE = r"^[-+]?(\d+\.?\d*|\.\d+)([eE][-+]?\d+)?"


def atoi(col: Column) -> Column:
    """C `atoi` as a null-safe column: leading integer prefix, else 0."""
    return F.coalesce(
        F.regexp_extract(F.trim(col), _ATOI_RE, 0).try_cast("long"), F.lit(0)
    )


def atof(col: Column) -> Column:
    """C `atof` as a null-safe column: leading float prefix, else 0.0."""
    return F.coalesce(
        F.regexp_extract(F.trim(col), _ATOF_RE, 0).try_cast("double"), F.lit(0.0)
    )


def raw_token(f: Field) -> Column:
    """Token at the field's resolved position, quote-stripped and
    trimmed (reference strips '"' from every token unconditionally,
    miw/log_format.cc:272-275). ``F.get`` (not ``[]``) so that a short
    line probed by a match predicate yields NULL instead of an ANSI
    INVALID_ARRAY_INDEX abort."""
    return F.trim(strip_quotes(F.get(F.col(TOKENS_COL), f.resolved_pos)))


def _app_id() -> str | None:
    spark = SparkSession.getActiveSession()
    return spark.sparkContext.applicationId if spark is not None else None


def expr_memo(key: tuple, build):
    """Memoize ``build()`` (an unresolved Column or a list of them)
    under ``key`` for the life of the current Spark application
    (:func:`~cybersecurity_miw_spark.cache.app_memo`; uncached when no
    session is active). A Column is an immutable tree that binds
    attributes by NAME at analysis, so one build serves every frame
    with those column names. Use for builders whose py4j construction
    cost is measurable (~0.1 s+) and whose output depends only on
    column NAMES — never for anything holding rows or a DataFrame."""
    return app_memo(_app_id(), key, build)


def derive_column(f: Field) -> Column:
    """The typed/derived output column for one field, memoized per
    application: building a date field's tree costs ~50-100 ms of
    py4j round-trips (finding 6, OPTIMIZATION_r18.md) and the format
    compiler rebuilds every field on every compile. Keyed by the
    field's dataclass repr AND resolved_pos (repr=False on the
    dataclass, so two fields differing only in resolved position must
    be keyed explicitly). The returned Column is immutable and aliased
    by callers, never mutated."""
    return expr_memo(
        ("derive_column", repr(f), f.resolved_pos),
        lambda: _build_derive_column(f),
    )


def _build_derive_column(f: Field) -> Column:
    tok = raw_token(f)

    if f.preprocessing == "evtxcsv":
        return evtx_kv(tok)
    if f.preprocessing == "evtxcsv2":
        return evtx2_kv(tok)
    if f.preprocessing == "microsoftdnslogs":
        return dns_wire_to_name(tok)

    return derive_typed(tok, f)


def derive_typed(tok: Column, f: Field) -> Column:
    """Type conversion/bucketing of a raw string value — shared by the
    positional path and k/v-derived (``from_kv``) fields."""
    if f.type == "int":
        if f.is_filter_contain:
            # virtual indicator: 1 if the string token at this pos
            # contains `filter`, else 0 (miw/log_format.cc:718-751)
            return F.when(tok.contains(f.filter), F.lit(1)).otherwise(F.lit(0))
        # atoi parity: "12abc" → 12, garbage → 0 (miw/log_format.cc:503-511)
        return atoi(tok)
    if f.type == "float":
        return atof(tok)
    if f.type == "bool":
        # atoi != 0 (miw/log_format.cc:525-529)
        return atoi(tok) != 0
    if f.type == "date":
        ts = parse_date(tok, f.date_format)
        bucketed = bucket_date(ts, f.processing, f.processing_offset)
        # unparseable date: token passes through raw with a warning
        # (miw/log_format.cc:443)
        return F.coalesce(bucketed, tok)
    if f.type == "time":
        return bucket_time(tok, f.processing, f.processing_offset)
    if f.type == "url":
        return url_template(tok, f.url_format)
    # plain string; string-typed fields may still carry date/time
    # `processing` in production formats (domain_controller_format.json
    # buckets string fields) — the reference routes on processing, not
    # type, for key building; we bucket textually when it looks like a
    # time, else pass through.
    if f.processing in ("hour", "minute", "second") and f.date_format == "%m/%d/%Y":
        return bucket_time(tok, f.processing, f.processing_offset)
    if f.processing in ("day", "month", "year"):
        ts = parse_date(tok, f.date_format)
        return F.coalesce(bucket_date(ts, f.processing, f.processing_offset), tok)
    return tok


def project_fields(
    df: DataFrame, ldef: LogDef, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """tokens DataFrame (column ``_tokens``) → one typed column per
    field. Rows with too few tokens for the format are dropped, as the
    reference drops them with an error log (miw/log_format.cc:258-262).
    ``passthrough`` columns (e.g. the raw line) are kept as-is.
    """
    # tokenize_lines stages _tokens behind a nondeterministic shell
    # (functions.cols.staged_expr), so this filter references the
    # staged array instead of re-running the tokenizer per predicate.
    df = df.filter(F.size(F.col(TOKENS_COL)) > ldef.max_pos)
    cols = [derive_column(f).alias(f.name) for f in ldef.fields if f.projects]
    cols += [F.col(c) for c in passthrough]
    out = df.select(*cols)

    # declared k/v-derived fields: value = <map col>[field name], typed
    # (the reference's dynamic schema extension made declarative,
    # miw/log_format.cc:570-576)
    kv_fields = [f for f in ldef.fields if f.from_kv is not None]
    if kv_fields:
        out = out.select(
            "*",
            *[
                derive_typed(F.trim(qcol(f.from_kv).getItem(f.name)), f).alias(
                    f.name
                )
                for f in kv_fields
            ],
        )
    return out
