"""Format compiler: LogDef -> DataFrame pipeline.

This is the heart of the engine. The reference runs a fixed 4-phase
physical plan (split → map/parse → reduce/merge → sort,
metis/application.cc:278-339); here the same semantics are *declared*
as one DataFrame plan and Catalyst/Tungsten choose the physical
strategy — whole-stage codegen for the parse/filter, partial hash
aggregation for the reduce, range-partitioned sort for the ordering,
AQE for shuffle sizing (replacing the reference's sampling-based
reduce-task predictor, metis/predictor.hh:40-78).

Stages:

1. tokenize   — regexp_extract_all token array (P1/P2/P3)
2. match      — row predicates on raw tokens (F1-F6), BEFORE
                projection so Catalyst can push the cheap ones down
3. project    — typed/derived per-field columns (P4-P16)
4. aggregate  — groupBy(keys) + algebraic aggs + ratio (A1-A12)
5. finalize   — id/logs/format_name/std_date_dt + ordering (§2.6, O1)

Scale notes (100 TB design):

* Steps 1-3 are a single narrow stage — no shuffle until the groupBy.
* The only shuffle is the aggregation exchange on the group keys;
  every aggregate here is algebraic, so map-side partial aggregation
  bounds the shuffle volume by the number of distinct groups per task,
  not the input size. A format with `union_count` fields adds one
  level: its rows are tagged and pre-reduced on (keys, tag, value)
  before the roll-up on the keys — still one scan, two exchanges.
* Heavy-tailed composite keys (e.g. date_hour_user in proxy logs) are
  handled by AQE skew handling; a `union_count` histogram of a hot
  group spreads over its distinct values at the (keys, tag, value)
  level — the classic salting-free histogram.
* No Python UDFs anywhere: the whole plan is JVM expressions inside
  WholeStageCodegen.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cybersecurity_miw_spark.functions.cols import qcol, staged_expr
from cybersecurity_miw_spark.functions.strings import token_pattern
from cybersecurity_miw_spark.operators.aggregate import aggregate
from cybersecurity_miw_spark.operators.derive import TOKENS_COL, project_fields
from cybersecurity_miw_spark.operators.matching import apply_matches
from cybersecurity_miw_spark.plans.logdef import KV_PREPROCESSINGS, Field, LogDef
from cybersecurity_miw_spark.sources.text import LINE_COL


def tokenize_lines(
    df: DataFrame,
    ldef: LogDef,
    keep_raw: bool = False,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """line DataFrame (column ``value``) → token-array DataFrame; with
    ``keep_raw`` the original line rides along as ``_raw`` (reference
    -store_content, miw/log_format.cc:596-597). ``passthrough`` columns
    (e.g. ``_file``) are kept as-is."""
    pattern = token_pattern(ldef.delims, ldef.quotechar)
    # staged_expr: tokenization is the dominant per-byte cost; the
    # shell keeps it evaluated exactly once even under the size filter
    # and the match predicates that all reference the token array.
    cols = [
        staged_expr(
            F.regexp_extract_all(F.col(LINE_COL), F.lit(pattern), 0)
        ).alias(TOKENS_COL)
    ]
    if keep_raw:
        cols.append(F.col(LINE_COL).alias("_raw"))
    cols += [F.col(c) for c in passthrough]
    return df.select(*cols)


def parse(
    df: DataFrame,
    ldef: LogDef,
    keep_raw: bool = False,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Tokenize + match-filter + typed projection (no aggregation)."""
    toks = tokenize_lines(df, ldef, keep_raw, passthrough)
    toks = apply_matches(toks, ldef)
    keep = (("_raw",) if keep_raw else ()) + passthrough
    return project_fields(toks, ldef, passthrough=keep)


# output/internal column names a discovered payload key must not take
# (see simple_agg_exprs' count(*).alias("logs"), the composite-id
# withColumn, per-file "_file", and the parity sink's specials)
_RESERVED_OUT = {"id", "logs", "format_name", "appname", "std_date_dt", "content"}


def _distinct_map_keys(df: DataFrame, col: str, max_keys: int) -> list[str]:
    """The distinct key-name set of a map column, sorted then truncated
    — a bare .limit() would pick an arbitrary, run-dependent subset.
    Driver traffic is key NAMES only, bounded by payload schema
    cardinality (and ``max_keys``), never data size."""
    return sorted(
        r[0]
        for r in df.select(F.explode(F.map_keys(qcol(col))).alias("k"))
        .distinct()
        .collect()
    )[:max_keys]


def discover_kv_fields(
    parsed: DataFrame,
    ldef: LogDef,
    max_keys: int = 200,
    sample_fraction: float | None = 0.01,
) -> tuple[DataFrame, LogDef]:
    """Auto-expand evtxcsv/evtxcsv2 map columns into first-class
    columns — the reference's dynamic schema extension, where every
    payload k/v becomes a field of the record
    (miw/log_format.cc:570-576,606-678).

    Key discovery is an extra narrow job per run. At 100 TB a full
    second scan is real cost, so discovery runs SAMPLE-FIRST: a
    ``sample_fraction`` slice (deterministic seed) feeds the distinct
    key-name collection, and only when the sample surfaces no keys at
    all does it fall back to the full scan (small inputs, or payloads
    on a rare line shape). Payload keys are near-stationary in shape
    (the same product emits the same k/v schema on every line), so the
    sample finds them with overwhelming probability; a key that appears
    on fewer than ~1/fraction lines can still be missed — formats that
    need a guarantee pre-declare keys via ``from_kv`` fields, which
    skips discovery entirely (the zero-scan path).
    ``sample_fraction=None`` forces the exact full scan.

    Discovered fields are plain strings with first-value semantics
    (non-key, non-aggregated — exactly the reference's merge behavior
    for dynamic fields, miw/log_record.cc:261-300 skips them). Returns
    the widened DataFrame and the extended LogDef.
    """
    pre = [f for f in ldef.fields if f.preprocessing in KV_PREPROCESSINGS]
    if not pre:
        return parsed, ldef
    declared = {f.name for f in ldef.fields}
    new_fields: list[Field] = []
    new_cols = []
    sampled = (
        parsed.sample(fraction=sample_fraction, seed=7)
        if sample_fraction
        else None
    )
    for p in pre:
        keys = (
            _distinct_map_keys(sampled, p.name, max_keys)
            if sampled is not None
            else []
        )
        if not keys:
            # sample surfaced nothing (tiny input / rare payloads):
            # exact fallback so correctness never depends on sampling
            keys = _distinct_map_keys(parsed, p.name, max_keys)
        for k in keys:
            # payload keys are attacker-controllable log content: a key
            # named "logs"/"id"/... would collide with reserved output
            # columns (duplicate-alias AnalysisException or silent
            # clobber), and "_"-prefixed keys would shadow internal
            # columns (_file, _hold). Prefix-rename those; the value
            # column is materialized here from getItem(k), so the field
            # name need not equal the map key.
            name = f"kv_{k}" if k in _RESERVED_OUT or k.startswith("_") else k
            if name in declared:
                continue
            declared.add(name)
            new_fields.append(Field(name=name, type="string", from_kv=p.name))
            new_cols.append(F.trim(qcol(p.name).getItem(k)).alias(name))
    if not new_fields:
        return parsed, ldef
    widened = parsed.select("*", *new_cols)
    extended = dataclasses.replace(ldef, fields=list(ldef.fields) + new_fields)
    return widened, extended


def compile_pipeline(
    df: DataFrame,
    ldef: LogDef,
    expand_kv: bool = True,
) -> DataFrame:
    """Full pipeline: lines → grouped/aggregated result (unordered;
    sinks apply the final ordering). Formats with k/v preprocessing
    fields get their payload keys expanded to real columns first (the
    extended LogDef is needed for output parity — retrieve it via
    :func:`compile_pipeline_ex` when the format may extend)."""
    out, _ = compile_pipeline_ex(df, ldef, expand_kv)
    return out


def compile_pipeline_ex(
    df: DataFrame,
    ldef: LogDef,
    expand_kv: bool = True,
) -> tuple[DataFrame, LogDef]:
    """Like :func:`compile_pipeline` but also returns the (possibly
    k/v-extended) LogDef that matches the result's schema."""
    rows = parse(df, ldef)
    if expand_kv:
        rows, ldef = discover_kv_fields(rows, ldef)
    return aggregate(rows, ldef), ldef
