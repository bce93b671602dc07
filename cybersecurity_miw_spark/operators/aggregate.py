"""Group-by aggregation (the reduce — core of the engine).

The reference groups rows by a composite string key and merges
per-field accumulator states (reference: map emit miw/mr_job.cc:43-49,
combiner :52-61, reduce :63-72, all delegating to log_record::merge
miw/log_record.cc:251-324). Every aggregation is algebraic, so Spark's
partial/final hash aggregation is the exact analog — map-side combine,
spill, and shuffle sizing come free.

Mapping (SURVEY §2.4):

* A1 key        → groupBy(key cols) + ``id = concat_ws("_", keys)``
                  (+ "_"+appname, miw/log_format.cc:557-563,591-592)
* A2 logs       → count(*)                 (implicit row counter _sum)
* A3 count      → count(col)  (the reference's merge is buggy — we
                  implement the documented intent: row count)
* A4 sum        → sum
* A5 max        → max         (reference's merge is a no-op bug
                  (log_record.cc:177 copies by value); we implement
                  the intended semantics)
* A6 mean       → avg         (reference keeps (sum, n) and divides at
                  output, log_record.cc:627-632)
* A7 variance   → var_samp with n=1 → 0.0 (reference formula
                  (Σx² − (Σx)²/n)/max(1, n−1) discards Bessel at n=1,
                  log_record.cc:633-641)
* A8 union      → sort_array(collect_set) (reference keeps insertion
                  order, which is nondeterministic under parallel
                  merge; we sort for a stable result)
* A9 union_count→ per-group value histogram map<value,count>
                  (log_record.cc:100-124) — tagged rows aggregated in
                  two levels beside every other aggregate, one scan
                  (scale path), or a single-groupBy expression (the
                  streaming merge loop)
* A10 ratio     → post-aggregation projection num/denom, 0 when denom
                  is 0 (log_record.cc:747-823); operands are other
                  aggregated fields or the literal "logs"
* A11 filter-contain → sum of the 0/1 indicator (log_record.cc:296-299)
* A12 first     → min(col) — the reference keeps the first-merged
                  record's value, which is scheduling-dependent; min is
                  the deterministic stand-in
* O1 ordering   → orderBy(logs desc, id asc) (miw/mr_job.h:212-225)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType
from pyspark.sql.window import Window

from cybersecurity_miw_spark.functions.cols import qcol
from cybersecurity_miw_spark.plans.logdef import Field, LogDef

LOGS_COL = "logs"
ID_COL = "id"
RAW_COL = "_raw"  # the raw line, kept by parse(keep_raw=True)
CONTENT_COL = "content"
TAG_COL = "_tag"


def key_columns(ldef: LogDef) -> list[str]:
    return [f.name for f in ldef.key_fields]


def id_column(ldef: LogDef) -> Column:
    """Composite group key: key-field values joined with "_", suffixed
    with "_"+appname when set (miw/log_format.cc:557-563,591-592)."""
    parts = [qcol(n).cast("string") for n in key_columns(ldef)]
    if ldef.appname:
        parts.append(F.lit(ldef.appname))
    return F.concat_ws("_", *parts)


def simple_agg_exprs(ldef: LogDef, skip_union: bool = False) -> list[Column]:
    """All single-pass aggregate expressions (everything except
    union_count, which needs a second aggregation level, and ratio,
    which is a post-projection). ``skip_union`` leaves A8 union fields
    to the bounded two-phase path (:func:`union_limited_values`).

    Memoized per application (``derive.expr_memo``): the Columns are
    immutable aliased expressions, rebuilt identically on every compile
    otherwise (~0.1 s of py4j round-trips per call on aggregate-heavy
    formats). resolved_pos never enters them (they reference fields by
    NAME), so the LogDef repr alone is a complete key. The list is
    copied on return — callers extend it."""
    from cybersecurity_miw_spark.operators.derive import expr_memo

    return list(
        expr_memo(
            ("simple_agg_exprs", repr(ldef), skip_union),
            lambda: _build_simple_agg_exprs(ldef, skip_union),
        )
    )


def _build_simple_agg_exprs(
    ldef: LogDef, skip_union: bool = False
) -> list[Column]:
    exprs: list[Column] = [F.count(F.lit(1)).alias(LOGS_COL)]
    for f in ldef.fields:
        if f.key:
            continue
        if f.preprocessing in ("evtxcsv", "evtxcsv2"):
            # the k/v map column itself is never aggregated or emitted;
            # its derived fields carry the payload (the reference skips
            # preprocessing fields at output, miw/log_record.cc:495-496)
            continue
        if skip_union and f.aggregation == "union":
            continue
        c = qcol(f.name)
        agg = f.aggregation
        if f.is_filter_contain:
            exprs.append(F.sum(c).alias(f.name))
        elif agg == "count":
            exprs.append(F.count(c).alias(f"{f.name}_count"))
        elif agg == "sum":
            exprs.append(F.sum(c).alias(f.name))
        elif agg == "max":
            exprs.append(F.max(c).alias(f.name))
        elif agg == "mean":
            exprs.append(F.avg(c).alias(f.name))
        elif agg == "variance":
            exprs.append(F.coalesce(F.var_samp(c), F.lit(0.0)).alias(f.name))
        elif agg == "union":
            # string/date/url unions dedup via the _unos cache; int/
            # float/bool unions APPEND without dedup
            # (miw/log_record.cc:63-68 vs :69-129) — mirror both,
            # sorted for determinism (reference: merge order)
            collect = (
                F.collect_list(c)
                if f.type in ("int", "float", "bool")
                else F.collect_set(c)
            )
            exprs.append(F.sort_array(collect).alias(f.name))
        elif agg in ("union_count", "ratio"):
            continue
        else:
            # non-key, non-aggregated: first-value semantics (A12)
            exprs.append(F.min(c).alias(f.name))
    return exprs


def union_count_expr(field_name: str) -> Column:
    """Single-shuffle union_count: build the histogram from a
    collect_list with array expressions. O(n·distinct) per group, and
    the whole group's values sit in one buffer — only for groups known
    small; the default plan is :func:`_tagged_aggregate`. Null values
    are skipped (collect_list drops them)."""
    lst = F.collect_list(qcol(field_name))
    return F.map_from_entries(
        F.transform(
            F.array_distinct(lst),
            lambda x: F.struct(
                x.alias("key"),
                F.size(F.filter(lst, lambda y: y == x)).cast("long").alias("value"),
            ),
        )
    ).alias(f"{field_name}_counts")


def aggregate(
    df: DataFrame,
    ldef: LogDef,
    union_count_strategy: str = "two-phase",
    extra_keys: tuple[str, ...] = (),
    union_limit: int | None = None,
) -> DataFrame:
    """parsed rows → one row per group with every aggregate, the ``id``
    composite key, ``logs``, and ratio post-projections.

    One pass over ``df``: every aggregate, union_count histograms
    included, comes out of the same scan and tokenize. Without
    union_count fields that is one groupBy; with them the rows are
    tagged and aggregated in two levels (:func:`_tagged_aggregate`).
    ``union_count_strategy="expr"`` instead builds each histogram
    inside the one groupBy (:func:`union_count_expr`, O(n·distinct) per
    group) — for a caller that cannot chain two aggregations, the
    streaming merge loop.

    Rows that carry the raw line (``_raw``, from
    ``parse(keep_raw=True)``) also get ``content``, the list of the
    group's lines (reference -store_content, miw/log_record.cc:304-310),
    collected in the same aggregation.

    ``extra_keys`` join the groupBy without entering the ``id`` — the
    per-file result mode (reference default, miw/job.cc:134-137) passes
    ``("_file",)`` so one job yields every file's independent result.

    ``union_limit`` caps every A8 union array at the N smallest values
    (the reference has no cap, miw/log_record.cc:63-129 — but at 100 TB
    one hot group with a high-cardinality union field, e.g. a scanning
    IP under a date_hour_user key, would otherwise grow an unbounded
    collect_set buffer in a single executor). The cap is applied BEFORE
    any per-group array materializes (:func:`union_limited_values`), so
    aggregation state stays O(union_limit) per group; that bounded path
    is a second branch over ``df``, joined back on the keys.
    """
    if union_count_strategy not in ("two-phase", "expr"):
        raise ValueError(f"unknown union_count_strategy {union_count_strategy!r}")
    keys = key_columns(ldef)
    all_keys = keys + list(extra_keys)
    ucount_fields = [
        f for f in ldef.fields if f.aggregation == "union_count" and not f.key
    ]
    union_fields = (
        [f for f in ldef.fields if f.aggregation == "union" and not f.key]
        if union_limit is not None
        else []
    )

    gcols = [qcol(k) for k in all_keys]
    aggs = simple_agg_exprs(ldef, skip_union=bool(union_fields))
    if RAW_COL in df.columns:
        aggs.append(F.collect_list(RAW_COL).alias(CONTENT_COL))
    if ucount_fields and union_count_strategy == "two-phase":
        out = _tagged_aggregate(df, all_keys, aggs, [f.name for f in ucount_fields])
        if not all_keys:
            out = _fill_empty_global(out, ldef)
    else:
        if union_count_strategy == "expr":
            aggs += [union_count_expr(f.name) for f in ucount_fields]
        out = df.groupBy(*gcols).agg(*aggs)

    for f in union_fields:
        vals = union_limited_values(
            df,
            all_keys,
            f.name,
            union_limit,
            dedup=f.type not in ("int", "float", "bool"),
        )
        if all_keys:
            out = out.join(vals, on=all_keys, how="left")
        else:
            # bcast-bound: keyless format = exactly 1 global union row
            out = out.crossJoin(F.broadcast(vals))

    # ratio post-projection (A10): operands are aggregated field names
    # or the literal "logs"
    for f in ldef.fields:
        if f.aggregation != "ratio":
            continue
        num = F.lit(1.0) * _ratio_operand(f.numerator, ldef)
        den = _ratio_operand(f.denominator, ldef)
        out = out.withColumn(
            f.name,
            F.when(den == 0, F.lit(0.0)).otherwise(num / den),
        )

    return out.withColumn(ID_COL, id_column(ldef))


def _tagged_aggregate(
    df: DataFrame, keys: list[str], aggs: list[Column], hist_cols: list[str]
) -> DataFrame:
    """Every plain aggregate plus one value histogram per ``hist_cols``
    entry (A9, map<value,count> named ``<col>_counts``) from ONE read
    of ``df`` — the reference's single map pass and merge
    (miw/log_record.cc:100-124,251-324).

    * Tag: each row becomes 1+k rows (``_tag`` 0..k). Tag 0 carries the
      plain aggregate inputs; tag i carries only the i-th histogram
      value, in its own ``_uc_i`` column so each map keeps its key type.
      Every other column is masked to null off its tag.
    * Level 1: groupBy(keys, _tag, _uc_1.._uc_k) runs ``aggs`` —
      partially aggregated map-side. On tag 0 they are the group's
      plain aggregates; on tag i the ``logs`` row count is the
      histogram count of one (group, value) pair.
    * Level 2: groupBy(keys) reads the plain aggregates off the one
      tag-0 row and collects the tag-i (value, count) pairs into each
      sorted map, skipping a null value (it cannot be a map key) as
      :func:`union_count_expr` and the A8 unions do.

    Both groupBys shuffle only pre-aggregated rows, and a hot group
    spreads over its distinct values at level 1.
    """
    tag = F.col(TAG_COL)
    ucs = [f"_uc_{i}" for i in range(1, len(hist_cols) + 1)]
    unmasked = set(keys) | set(hist_cols)
    tagged = df.withColumn(
        TAG_COL, F.explode(F.array(*[F.lit(i) for i in range(len(ucs) + 1)]))
    ).select(
        *[qcol(k) for k in keys],
        tag,
        *[
            F.when(tag == i, qcol(c)).alias(uc)
            for i, (c, uc) in enumerate(zip(hist_cols, ucs), start=1)
        ],
        *[
            F.when(tag == 0, qcol(c)).alias(c)
            for c in df.columns
            if c not in unmasked
        ],
    )
    level1 = tagged.groupBy(*[qcol(k) for k in keys], tag, *ucs).agg(*aggs)
    grouping = set(keys) | {TAG_COL, *ucs}
    plain = [c for c in level1.columns if c not in grouping]
    return level1.groupBy(*[qcol(k) for k in keys]).agg(
        *[
            F.first(F.when(tag == 0, qcol(c)), ignorenulls=True).alias(c)
            for c in plain
        ],
        *[
            F.map_from_entries(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            (tag == i) & F.col(uc).isNotNull(),
                            F.struct(uc, F.col(LOGS_COL)),
                        )
                    )
                )
            ).alias(f"{c}_counts")
            for i, (c, uc) in enumerate(zip(hist_cols, ucs), start=1)
        ],
    )


def _fill_empty_global(out: DataFrame, ldef: LogDef) -> DataFrame:
    """A keyless (global) roll-up yields its one row even over no input
    rows, where every ``first()`` reads null: give that row the values
    a one-pass aggregate has over no rows — 0 for ``logs`` and counts,
    0.0 for variance, empty arrays and maps."""
    zero: dict[str, Column] = {LOGS_COL: F.lit(0)}
    for f in ldef.fields:
        if f.is_filter_contain:
            continue
        if f.aggregation == "count":
            zero[f"{f.name}_count"] = F.lit(0)
        elif f.aggregation == "variance":
            zero[f.name] = F.lit(0.0)
    for sf in out.schema.fields:
        if isinstance(sf.dataType, ArrayType):
            zero[sf.name] = F.array().cast(sf.dataType)
        elif isinstance(sf.dataType, MapType):
            zero[sf.name] = F.create_map().cast(sf.dataType)
    return out.select(
        *[
            F.coalesce(qcol(c), zero[c]).alias(c) if c in zero else qcol(c)
            for c in out.columns
        ]
    )


def union_limited_values(
    df: DataFrame, keys: list[str], col: str, limit: int, dedup: bool
) -> DataFrame:
    """Bounded A8 union: the ``limit`` smallest values per group as a
    sorted array (the prefix of the uncapped sorted union — identical
    to slice(sort_array(collect_set), 1, N) but without ever holding
    the uncapped set in an aggregation buffer).

    Plan: optional distinct on (keys, value) — map-side combined,
    skew-free even when one group dominates — then a row_number window
    to keep ranks ≤ limit, then the final collect of ≤ limit values.
    Every per-group buffer along the way is O(distinct) map-side /
    O(limit) reduce-side, never O(group)."""
    vcol = qcol(col)
    base = df.select(*[qcol(k) for k in keys], vcol).filter(vcol.isNotNull())
    if dedup:
        base = base.distinct()
    w = Window.partitionBy(*[qcol(k) for k in keys]).orderBy(vcol)
    ranked = base.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= limit
    )
    return ranked.groupBy(*[qcol(k) for k in keys]).agg(
        F.sort_array(F.collect_list(vcol)).alias(col)
    )


def value_histogram(df: DataFrame, keys: list[str], col: str) -> DataFrame:
    """Standalone union_count (A9): per-group value histogram as a
    map<value,count> column named ``<col>_counts``, for callers that
    need a histogram alone (:func:`aggregate` builds its histograms
    beside the other aggregates instead). Two-phase plan: (keys, value)
    pre-aggregation (map-side combined, skew-free even when one group
    dominates) then a map roll-up on keys."""
    return (
        df.groupBy(*[qcol(k) for k in keys], qcol(col))
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .groupBy(*[qcol(k) for k in keys])
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct(qcol(col), F.col("_cnt"))))
            ).alias(f"{col}_counts")
        )
    )


def _ratio_operand(name: str, ldef: LogDef) -> Column:
    """Resolve a ratio numerator/denominator to its output column: the
    literal "logs" = group row count, otherwise a field — whose output
    alias is ``<name>_count`` when that field is count-aggregated
    (the reference's compute_ratio reads any numeric field's state,
    miw/log_record.cc:747-823)."""
    if name == "logs":
        return F.col(LOGS_COL)
    try:
        f = ldef.field_by_name(name)
    except KeyError:
        return qcol(name)
    if f.aggregation == "count":
        return qcol(f"{name}_count")
    return qcol(name)


def order_final(df: DataFrame) -> DataFrame:
    """Final ordering: group count desc, key asc
    (miw/mr_job.h:212-225)."""
    return df.orderBy(F.desc(LOGS_COL), F.asc(ID_COL))


def top_k(df: DataFrame, k: int) -> DataFrame:
    """Console top-K (miw/mr_job.cc:74-107, default ndisp=5
    miw/job.cc:37)."""
    return order_final(df).limit(k)
