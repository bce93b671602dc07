"""Deduplication operators — exact and near-duplicate — designed for
the 100 TB training-data path.

Strategies:

* **exact**: hash-groupBy on a normalized fingerprint; keeps the
  smallest doc_id per group. One shuffle on a short hash key; skew-
  free by construction (md5 keys are uniform).
* **MinHash + LSH**: word-shingle → per-seed min of md5(seed || shingle)
  → band signatures → candidate pairs via a self-join on (band,
  band_hash) buckets → exact Jaccard confirm. The only shuffles are
  the explode/groupBy on band buckets and the confirm join; bucket
  keys are uniform hashes, and candidate pairs per bucket are bounded
  by bucket width. md5 is deterministic and identical in DuckDB, so
  signatures are oracle-checkable.
* **SimHash**: 64-bit sign-sum over token hashes via explode +
  groupBy(bit-majority) expressed with xxhash64 bit arithmetic.
* **n-gram Jaccard**: exact pairwise Jaccard within LSH candidate
  buckets (or a caller-provided blocking key) — never all-pairs.
* **embedding cosine near-dup**: see operators.similarity.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cybersecurity_miw_spark import sidecar
from cybersecurity_miw_spark.operators.textstats import (
    fingerprint,
    shingles,
    with_shingles,
)

# MinHash permutation family h_i(x) = (a_i·x + b_i) mod P over the
# 32-bit md5 prefix of each shingle: P is the smallest prime > 2^32
# and a_i, b_i < 2^31, so a_i·x + b_i < 2^31·2^32 + 2^31 < 2^63 — the
# arithmetic is exact int64 in every engine (no overflow, no wrap
# divergence). The constants are fixed, seedless, and md5-derived so
# any engine can re-derive them.
MINHASH_P = 4294967311  # smallest prime > 2^32


def _mh_const(tag: str, i: int) -> int:
    v = int(hashlib.md5(f"{tag}:{i}".encode()).hexdigest()[:8], 16)
    return (v % 2147483647) + 1  # in [1, 2^31 - 1], never 0


MINHASH_A = [_mh_const("a", i) for i in range(128)]
MINHASH_B = [_mh_const("b", i) for i in range(128)]

# Default LSH operating point, chosen from the measured planted-pair
# recall sweep (bench_lsh_recall.py, SCALE.md "LSH banding recall"):
# 112 hashes / 16 bands / 7 rows-per-band gives theoretical candidate
# recall 1-(1-J^7)^16 = 0.977 at J=0.8 (>= the 0.95 production bar)
# vs 0.88 for the old 16/4, at ~2.8x the signature cost (2.13 s vs
# 0.76 s at sf0.1 -- the md5 shingle hashing dominates, so cost is
# sub-linear in num_hashes). r=7 beats 128/16 (r=8, recall 0.947) on
# BOTH recall and cost; the extra false candidates at mid-J (11.8%
# vs 6.1% at J=0.5) are absorbed by the exact-Jaccard confirm, which
# is candidate-bounded.
DEFAULT_NUM_HASHES = 112
DEFAULT_BANDS = 16

# r19 (VERDICT r18 #5): default mega-bucket fence for the banded pair
# expansion. A band bucket of width W emits W²/2 candidate pairs; an
# adversarial near-dup mega-cluster (boilerplate template with
# thousands of variants) otherwise makes the candidate OUTPUT
# quadratic in the skew. 4096 admits every real bucket the fixtures
# and the 10x scale corpus produce (max observed width: 4 at sf0.1;
# rotations keep buckets within copies) while capping one bucket's
# pair output at ~8.4M rows. Callers that need the unfenced exact
# candidate set pass max_bucket_width=None; fenced-out buckets are
# surfaced by oversized_band_buckets.
DEFAULT_MAX_BUCKET_WIDTH = 4096


# ---- exact dedup ----


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative (min id) per exact-duplicate group of
    normalized text. Returns the surviving rows."""
    fp = fingerprint(F.col(text_col)).alias("_fp")
    keep = (
        df.select(fp, F.col(id_col))
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, on=id_col, how="left_semi")


def duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-duplicate clusters: fingerprint, group size, representative
    id. Groups of size 1 are unique documents."""
    return (
        df.select(fingerprint(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("representative"),
        )
    )


def impact_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size_col: str = "n_chars",
) -> DataFrame:
    """One-row dedup impact summary — the number every curation run
    reports before anyone deletes anything: total docs, distinct
    groups, removable duplicate docs, duplication rate (ppm, integer
    division — exact on both engines), and removable bytes (size of
    everything except each group's min-id representative).

    Plan: one uniform fingerprint groupBy (min_by carries the
    representative's size through the same agg — no second pass, no
    join back to the corpus) + one global 1-row reduce."""
    g = (
        df.select(
            fingerprint(F.col(text_col)).alias("_fp"),
            F.col(id_col),
            F.col(size_col),
        )
        .groupBy("_fp")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(size_col).alias("_sc"),
            F.min_by(size_col, id_col).alias("_rc"),
        )
    )
    return g.agg(
        F.sum("_n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        (F.sum("_n") - F.count(F.lit(1))).cast("long").alias("n_dup_docs"),
        F.floor(
            (F.lit(1_000_000) * (F.sum("_n") - F.count(F.lit(1))))
            / F.sum("_n")
        )
        .cast("long")
        .alias("dup_ppm"),
        (F.sum("_sc") - F.sum("_rc")).cast("long").alias("bytes_removable"),
    )


def source_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source duplication matrix: for every (unordered) source
    pair, how many duplicate-document pairs they share — the "is
    source B just a re-crawl of source A?" question.

    The naive answer is a doc-level self-join on the fingerprint,
    which fans out quadratically inside mega-groups (the same blowup
    the LSH bucket-width fence guards). Instead: aggregate to
    per-(fingerprint, source) COUNTS first, then pair the counts —
    cross-source pairs contribute cnt_a·cnt_b, within-source pairs
    C(n,2) — so the join fans out by sources-per-group, never
    docs-per-group. The DuckDB oracle IS the naive doc-level join, so
    a green row certifies the combinatorial decomposition."""
    c = (
        df.select(
            fingerprint(F.col(text_col)).alias("_fp"),
            F.col(source_col).alias("_src"),
        )
        .groupBy("_fp", "_src")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    a = c.select("_fp", F.col("_src").alias("source_a"), F.col("_n").alias("_na"))
    b = c.select("_fp", F.col("_src").alias("source_b"), F.col("_n").alias("_nb"))
    cross = (
        a.join(b, "_fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            (F.col("_na") * F.col("_nb")).alias("_pairs"),
        )
    )
    within = c.filter(F.col("_n") >= 2).select(
        F.col("_src").alias("source_a"),
        F.col("_src").alias("source_b"),
        (F.col("_n") * (F.col("_n") - 1) / 2).cast("long").alias("_pairs"),
    )
    return (
        cross.unionByName(within)
        .groupBy("source_a", "source_b")
        .agg(F.sum("_pairs").cast("long").alias("n_pairs"))
    )


# ---- MinHash / LSH ----


def minhash_signature(text: Column, num_hashes: int = DEFAULT_NUM_HASHES, shingle_k: int = 3) -> Column:
    """Array of ``num_hashes`` MinHash values (int64). Each shingle is
    hashed ONCE (32-bit md5 prefix); the ``num_hashes`` permutations
    are (a_i·h + b_i) mod P integer ops — ~16× less hashing than the
    md5-per-seed variant this replaces (5.8 s → sub-second at sf0.1).
    Deterministic, seedless, reproducible in any engine with md5 and
    int64 (the DuckDB oracle recomputes it exactly)."""
    return signature_from_shingles(shingles(text, shingle_k), num_hashes)


def shingle_hash32(s: Column) -> Column:
    """32-bit integer hash of a shingle: first 8 hex chars of md5."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def signature_from_shingles(sh: Column, num_hashes: int = DEFAULT_NUM_HASHES) -> Column:
    """MinHash signature as ONE fold over the shingle array: hash each
    shingle once, apply all permutations, fold with element-wise least.
    (An earlier version built ``num_hashes`` independent
    array_min(transform(sh, ...)) expressions, re-evaluating the whole
    shingle construction per seed — 16× the work, 46 s vs ~3 s at
    sf0.1; md5-per-seed was another ~6×.)"""
    a = F.array(*[F.lit(MINHASH_A[i]) for i in range(num_hashes)])
    b = F.array(*[F.lit(MINHASH_B[i]) for i in range(num_hashes)])
    start = F.array_repeat(F.lit(MINHASH_P).cast("long"), num_hashes)
    return F.aggregate(
        sh,
        start,
        lambda acc, s: F.zip_with(
            acc,
            _permutes(shingle_hash32(s), a, b),
            lambda x, y: F.least(x, y),
        ),
    )


def _permutes(h: Column, a: Column, b: Column) -> Column:
    return F.zip_with(a, b, lambda ai, bi: (ai * h + bi) % MINHASH_P)


def minhash_minima(hs, num_hashes: int = DEFAULT_NUM_HASHES):
    """Per-row MinHash minima of an Arrow ``list<int64>`` of 32-bit
    shingle hashes → ``list<int64>`` of ``num_hashes`` values per row.

    Column-at-a-time: for each permutation i the batch's flattened
    hashes are permuted in one int64 pass, ``(a_i·h + b_i) % P``
    (exact: a_i, b_i < 2^31 and h < 2^32 keep every value below 2^63),
    and ``np.minimum.reduceat`` takes each row's minimum over its
    offsets slice. Working memory is O(hashes in the batch), not
    O(num_hashes × hashes). A null or empty row yields ``num_hashes``
    nulls — what ``array_min`` of an empty array gives. The hash
    elements themselves are never null (md5 prefixes of non-null
    shingle strings)."""
    import numpy as np
    import pyarrow as pa

    offsets = hs.offsets.to_numpy()
    filled = np.diff(offsets) > 0
    # hashes of the rows in this (possibly sliced) array only, with
    # each non-empty row's start relative to them; empty rows cover no
    # values, so each start's segment ends at the next one's start
    h = hs.values.to_numpy()[offsets[0]:offsets[-1]]
    starts = offsets[:-1][filled] - offsets[0]
    mins = np.empty((num_hashes, len(starts)), dtype=np.int64)
    perm = np.empty_like(h)
    for i in range(num_hashes):
        np.multiply(h, MINHASH_A[i], out=perm)
        perm += MINHASH_B[i]
        perm %= MINHASH_P
        mins[i] = np.minimum.reduceat(perm, starts)
    out = np.zeros((len(hs), num_hashes), dtype=np.int64)
    out[filled] = mins.T
    values = pa.array(
        out.ravel(), mask=np.repeat(~filled, num_hashes), type=pa.int64()
    )
    return pa.ListArray.from_arrays(
        pa.array(np.arange(len(hs) + 1) * num_hashes, type=pa.int32()),
        values,
    )


def component_roots(a, b):
    """Connected components of the edge list ``a[i] — b[i]`` (int64
    arrays of equal length) → ``(nodes, roots)``: every distinct id
    once, ascending, and the minimum id of its component.

    Ids map to dense indices with ``np.unique``; the indices follow
    sorted order, so the minimum index in a component is its minimum
    id. Each pass hooks every root to the smallest root across its
    edges (``np.minimum.at``; pointers only ever decrease, so no
    cycle can form) and then pointer-jumps (``label = label[label]``)
    until every node points at its root. A pass merges every root
    that still has a cross edge into a tree of two or more roots, so
    the root count at least halves: O(log n) vectorized passes on any
    graph shape, a long path included."""
    import numpy as np

    n = len(a)
    nodes, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    u, v = idx[:n], idx[n:]
    label = np.arange(len(nodes))
    while True:
        lu, lv = label[u], label[v]
        cross = lu != lv
        if not cross.any():
            return nodes, nodes[label]
        np.minimum.at(
            label,
            np.maximum(lu, lv)[cross],
            np.minimum(lu, lv)[cross],
        )
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped


def with_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_k: int = 3,
    out_col: str = "_sig",
) -> DataFrame:
    """id + MinHash signature. The words, shingle and shingle-hash
    stages are staged Spark projections (one split, one md5 pass per
    shingle); the ``num_hashes`` permutation minima run as ONE numpy
    kernel per Arrow batch (:func:`minhash_minima` via
    ``mapInArrow``). Same values as :func:`minhash_signature`.

    Measured on the 3,000-doc benchmark corpus (294,730 shingles, 112
    hashes, ``local[2]``, median of 7): as ``num_hashes``
    ``array_min(transform(...))`` lambdas, evaluated value by value,
    the one-task stage took 3.5 s; with the kernel it takes 1.1 s, of
    which 1.08 s is the md5 hashing, and 0.83 s once
    :func:`~cybersecurity_miw_spark.sources.tables.ensure_parallelism`
    splits the scan over both cores. Identical signatures on all
    3,000 documents (SCALE.md "Signature stage")."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    sh = with_shingles(df, text_col, shingle_k, "_sh", keep=(id_col,))
    hashed = sh.select(
        F.col(id_col),
        F.expr(
            "transform(_sh, s -> "
            "CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT))"
        ).alias("_hs"),
    )
    schema = StructType([
        hashed.schema[id_col],
        StructField(out_col, ArrayType(LongType()), nullable=False),
    ])

    def sign(batches):
        import pyarrow as pa

        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), minhash_minima(batch.column(1), num_hashes)],
                names=[id_col, out_col],
            )

    return hashed.mapInArrow(sign, schema)


def lsh_bands(sig: Column | str, bands: int, rows_per_band: int) -> Column:
    """Band the signature: array of (band_id, band_hash) structs —
    band_hash = md5 of the concatenated row hashes.

    Pass the signature COLUMN NAME where possible: the name form
    assembles the identical expression tree as ONE SQL string (~0 ms
    to build), while the Column form goes through
    ~bands×rows_per_band py4j round-trips (measured 0.4-0.6 s of
    driver time per call at the 16×7 default — the same
    construction-cost lesson as with_shingles' SQL strings). Same
    plan, same results either way (r18 A/B: 0 differing rows)."""
    if isinstance(sig, str):
        parts = []
        for b in range(bands):
            slots = ", ".join(
                f"CAST({sig}[{b * rows_per_band + r}] AS STRING)"
                for r in range(rows_per_band)
            )
            parts.append(
                f"struct({b} as band, "
                f"md5(concat_ws('|', {slots})) as band_hash)"
            )
        return F.expr("array(" + ", ".join(parts) + ")")
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            sig[b * rows_per_band + r].cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )


def staged(df: DataFrame) -> DataFrame:
    """Persist a derived frame so a self-join's two sides read it once
    instead of recomputing the upstream pipeline per side. Spark's
    ReuseExchange cannot canonicalize plans containing higher-order
    -function lambdas (the MinHash fold), so without this the signature
    computation runs once per join side — at 100 TB that doubles the
    most expensive narrow stage. MEMORY_AND_DISK serialized: spills
    instead of OOM, evicted LRU when unreferenced. Registered with
    cache.tracked_persist so long-lived sessions can release it via
    release_intermediates() once results are materialized."""
    from pyspark import StorageLevel

    from cybersecurity_miw_spark.cache import tracked_persist

    return tracked_persist(df, StorageLevel.MEMORY_AND_DISK)


def _banded_projection(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_k: int,
    persist: bool = True,
) -> DataFrame:
    """(id, band, band_hash) rows — the shared front half of every
    banding consumer. ``persist=True`` stages it for callers that
    reference it more than once (the incremental fence path reads it
    three times); single-pass consumers pass ``persist=False`` — with
    the r18 bucket-roster pair expansion the candidate path reads the
    banded rows exactly ONCE, so caching them is pure overhead (a
    serialized cache write of the widest narrow intermediate that
    nothing reads back; at scale it's memory pressure for nothing)."""
    rows_per_band = num_hashes // bands
    # stage words → shingles → signature as separate projections so
    # the text split and the signature fold each evaluate exactly once
    # (see textstats.with_shingles)
    with_sig = with_signature(df, text_col, id_col, num_hashes, shingle_k)
    out = with_sig.select(
        F.col(id_col),
        F.explode(lsh_bands("_sig", bands, rows_per_band)).alias("b"),
    ).select(
        id_col,
        F.col("b.band").alias("band"),
        F.col("b.band_hash").alias("band_hash"),
    )
    return staged(out) if persist else out


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
    max_bucket_width: int | None = DEFAULT_MAX_BUCKET_WIDTH,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) sharing at least
    one LSH band bucket. Plan: narrow signature computation → explode
    bands (xN) → ONE groupBy on (band, band_hash) collecting each
    bucket's sorted roster → in-bucket pair expansion (see
    :func:`pairs_from_bands`) — the group key is a uniform hash so
    the shuffle is skew-free; same-bucket pair count bounds the
    output.

    ``max_bucket_width`` guards the one blowup banding cannot avoid:
    a NEAR-dup mega-cluster (a boilerplate template with thousands of
    variants — exact dedup upstream already collapses byte-identical
    copies) puts W docs in one bucket and the pair expansion emits
    W²/2 pairs from it. Buckets wider than the cap are EXCLUDED from
    pair expansion (a size filter on the already-grouped bucket
    roster — zero extra exchanges) — list them with
    :func:`oversized_band_buckets` and handle the members as a
    cluster directly (they are mutually near-dup by construction at
    that width) instead of materializing the quadratic pair list. The
    pair output is then bounded by W_max²/2 per bucket regardless of
    data skew. r19: the fence now DEFAULTS to
    ``DEFAULT_MAX_BUCKET_WIDTH`` (4096 — wider than any bucket the
    fixtures or the 10x scale corpus produce, so default results are
    unchanged there); pass ``None`` for the unfenced exact candidate
    set."""
    banded = _banded_projection(
        df, text_col, id_col, num_hashes, bands, shingle_k,
        persist=False,  # single-pass consumer (bucket-roster groupBy)
    )
    return pairs_from_bands(banded, id_col, max_bucket_width)


def pairs_from_bands(
    banded: DataFrame,
    id_col: str = "doc_id",
    max_bucket_width: int | None = DEFAULT_MAX_BUCKET_WIDTH,
) -> DataFrame:
    """(id, band, band_hash) rows → candidate pairs (id_a < id_b) —
    the shared back half of every banding consumer; callers that
    already hold a (checkpointed) banded projection feed it here
    instead of recomputing signatures.

    Shape (r18 optimization pass, r19 hardening): ONE groupBy over
    the uniform (band, band_hash) key collects each bucket's sorted
    DISTINCT id roster and a two-step generate expands the in-bucket
    pairs — the pre-r18 self-join shuffled the banded rows TWICE
    (once per join side) and sort-merge-joined them for the identical
    pair set (A/B: 0 differing rows at sf0.01/sf0.1; minus one full
    exchange of the widest intermediate plus the join itself).
    Per-bucket work is the same W²/2 pair expansion either way, and
    rows of one bucket land in one task under both shapes
    (hash-partitioned by the bucket key), so the rewrite changes
    bytes moved, not skew exposure — with two r19 provisos closed
    below. The sorted distinct roster makes ``x`` precede ``y``
    strictly in every emitted pair; the final distinct collapses
    pairs that share buckets in several bands.

    r19 hardening (ADVICE r18 + VERDICT #5):

    - ``collect_set`` (not collect_list) builds the roster, so an id
      that appears twice in one bucket — possible through the PUBLIC
      contract (checkpointed band stores, streaming batches with a
      replayed doc) even though internal producers emit one row per
      (id, band) — can no longer produce an (x, x) self-pair. The
      old self-join's strict ``a.id < b.id`` excluded these
      structurally; now the roster does.
    - The pair expansion is CHUNKED: ``posexplode`` emits one row per
      roster element and a second generate expands that element's
      slice, so per-row memory is O(W) — the r18 single-row
      ``flatten(transform(…))`` materialized the whole W²/2 struct
      array in one row's memory, a per-task OOM risk on a mega-bucket
      that the old streaming self-join degraded gracefully on.
      Measured a wash at sf0.1 (1.45 vs 1.49 s median, A/B 0
      differing rows).
    - ``max_bucket_width`` now DEFAULTS to
      ``DEFAULT_MAX_BUCKET_WIDTH`` (4096): buckets wider than the cap
      are excluded from pair expansion (a size filter on the grouped
      roster — zero extra exchanges, where the self-join form paid a
      count aggregation plus a semi-join), bounding the quadratic
      pair OUTPUT at W_max²/2 per bucket regardless of data skew.
      Width-W buckets at the default are near-dup mega-clusters by
      construction — surface them with :func:`oversized_band_buckets`
      and handle them as clusters (the near_dedup_clusters fenced
      path). Pass ``max_bucket_width=None`` for the unfenced exact
      candidate set (the pair list is then quadratic in the widest
      bucket — bounded per-row memory either way, thanks to the
      chunked expansion)."""
    ids = F.sort_array(F.collect_set(F.col(id_col)))
    grouped = (
        banded.groupBy("band", "band_hash")
        .agg(ids.alias("_ids"))
        .filter(F.size("_ids") >= 2)
    )
    if max_bucket_width is not None:
        grouped = grouped.filter(F.size("_ids") <= max_bucket_width)
    return (
        grouped.select("_ids", F.posexplode("_ids").alias("_i", "id_a"))
        .select(
            "id_a",
            F.explode(
                F.expr("slice(_ids, _i + 2, size(_ids) - _i - 1)")
            ).alias("id_b"),
        )
        .distinct()
    )


def oversized_band_buckets(
    df: DataFrame,
    max_bucket_width: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
) -> DataFrame:
    """The buckets the ``max_bucket_width`` guard excluded:
    (band, band_hash, width, member_ids) — width docs that all share a
    full band of MinHash rows, i.e. a near-dup mega-cluster surfaced
    WITHOUT materializing its quadratic pair list. ``member_ids`` is
    the sorted id array (bounded per row by the cluster size; treat
    the bucket as one duplicate group, e.g. keep min id)."""
    banded = _banded_projection(
        df, text_col, id_col, num_hashes, bands, shingle_k,
        persist=False,  # single-pass consumer (one width aggregation)
    )
    return (
        banded.groupBy("band", "band_hash")
        .agg(
            F.count(F.lit(1)).alias("width"),
            F.array_sort(F.collect_list(F.col(id_col))).alias("member_ids"),
        )
        .filter(F.col("width") > max_bucket_width)
    )


# ---- exact Jaccard confirm (on candidates or a blocking key) ----


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for given (id_a, id_b) pairs.
    Shingle sets ride along the joins as array columns; the
    intersection/union sizes are computed with array expressions —
    no explode of the cross product.

    Only docs that APPEAR in a pair are shingled: ``pairs`` is
    persisted (it is referenced three times — two joins plus the id
    roster; candidate generation upstream is the expensive subtree)
    and the corpus is semi-join-pruned by the pair ids before the
    shingle pass. At 100 TB the confirm touches the candidate set,
    not the corpus — the same read pattern as
    :func:`incremental_near_dups_confirmed`. (At sf0.1 this is a
    measured WASH — the persist + semi-join stages cost about what
    re-shingling a 5k-doc corpus saves — but the saved work grows
    with corpus size while the added work is candidate-bounded;
    same-session A/B in SCALE.md's round-8 continuity note.)"""
    pairs = staged(pairs)
    ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    df = df.join(ids, on=id_col, how="left_semi")
    sh = with_shingles(df, text_col, shingle_k, "_sh", keep=(id_col,))
    out = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("_sh", "_sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("_sh", "_sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size(F.array_union("_sh_a", "_sh_b"))
    return out.select(
        "id_a",
        "id_b",
        F.round(inter / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
    )


def near_dedup_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
) -> DataFrame:
    """Full near-dedup: LSH candidates → exact Jaccard ≥ threshold →
    drop the larger id of each confirmed pair. Returns survivors."""
    cand = minhash_lsh_candidates(df, text_col, id_col, num_hashes, bands, shingle_k)
    confirmed = jaccard_pairs(df, cand, text_col, id_col, shingle_k).filter(
        F.col("jaccard") >= threshold
    )
    losers = confirmed.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# ---- SimHash ----


def simhash(text: Column, bits: int = 64) -> Column:
    """SimHash over whitespace tokens using xxhash64: per bit, a
    majority vote of token-hash bits. One pass: fold the token-hash
    array into a ``bits``-wide vote vector with aggregate+zip_with,
    then reassemble the fingerprint. Pure array/bit expressions; the
    shift amounts are Python ints (F.shiftright/shiftleft take literal
    bit counts, not Columns), so the per-bit work is statically
    unrolled."""
    tokens = F.split(F.lower(F.trim(text)), r"\s+")
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))

    def bit_votes(h: Column) -> Column:
        # ±1 per bit of one token hash
        return F.array(
            *[
                F.when(
                    F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                ).otherwise(F.lit(-1))
                for i in range(bits)
            ]
        )

    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(acc, bit_votes(h), lambda a, b: a + b),
    )
    # fingerprint = Σ (vote_i > 0) << i; the top bit wraps to the
    # two's-complement negative long so the sum stays in range
    out = F.lit(0).cast("long")
    for i in range(bits):
        weight = -(1 << (bits - 1)) if i == bits - 1 else (1 << i)
        out = out + F.when(votes[i] > 0, F.lit(weight).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out


def token_hash60(tok: Column) -> Column:
    """60-bit md5-prefix token hash — cross-engine stable (DuckDB twin
    ``('0x' || substr(md5(t), 1, 15))::BIGINT``), used by the
    oracle-checkable SimHash variant. 15 hex digits < 2^63: no sign
    wrap in either engine."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def with_simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    out_col: str = "_simhash",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash as explode → token hash → groupBy(id) with one SUM per
    bit, then fingerprint reassembly. Same result as :func:`simhash`
    (vote_i > 0 ⟺ 2·Σbit_i > n) but every stage is vectorized
    whole-stage codegen instead of interpreted array lambdas —
    measured 4.4 s → 1.6 s at sf0.1. The shuffle is id → 65 longs per
    doc after map-side partial aggregation, negligible at any scale.

    ``hash_fn``: "xxhash64" (default, fastest, 64-bit) or "md5_60"
    (60-bit md5 prefix with an exact DuckDB twin — the oracle-verified
    path; ~2× the hash cost, same plan shape)."""
    if hash_fn == "md5_60":
        bits = min(bits, 60)
        hcol = token_hash60(F.col("_tok"))
    elif hash_fn == "xxhash64":
        hcol = F.xxhash64("_tok")
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    # coalesce BEFORE explode: split(NULL) is NULL and explode would
    # silently drop the document from the output — NULL-text docs keep
    # one row (fingerprint of the '' token, same as empty text)
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.split(
                F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
            )
        ).alias("_tok"),
    ).select(F.col(id_col), hcol.alias("_h"))
    # whole expressions as SQL strings: one JVM-side parse apiece
    # instead of hundreds of py4j Column round-trips (measured: the
    # Column-built 64-term fingerprint cost 2.6 s of pure query
    # CONSTRUCTION per call; the expr string costs 5 ms)
    aggs = [F.expr("count(1)").alias("_n")] + [
        F.expr(f"sum(shiftright(_h, {i}) & 1)").alias(f"_b{i}")
        for i in range(bits)
    ]
    g = toks.groupBy(id_col).agg(*aggs)
    terms = []
    for i in range(bits):
        # only a full 64-bit fingerprint needs the two's-complement
        # top-bit weight; narrower variants stay non-negative
        weight = (
            -(1 << (bits - 1)) if (i == bits - 1 and bits == 64) else (1 << i)
        )
        terms.append(f"IF(2 * _b{i} > _n, CAST({weight} AS BIGINT), CAST(0 AS BIGINT))")
    fp = F.expr("CAST(" + " + ".join(terms) + " AS BIGINT)")
    return g.select(F.col(id_col), fp.alias(out_col))


def _simhash_banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    band_bits: int,
    hash_fn: str,
) -> DataFrame:
    """(id, band, val) Hamming-band rows — the shared front half of
    the self-join candidates, the persisted store, and the
    incremental path."""
    sh = F.col("_simhash")
    bits = 60 if hash_fn == "md5_60" else 64
    if bits == 60 and band_bits == 16:
        band_bits = 15
    base = with_simhash(df, text_col, id_col, bits=bits, hash_fn=hash_fn)
    bands = bits // band_bits
    mask = (1 << band_bits) - 1
    return base.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(sh, i * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("b"),
    ).select(id_col, "b.band", "b.val")


def simhash_band_store(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int = 16,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The persisted SimHash near-dup index rows for a corpus slice:
    (doc_id, band, val) — the SimHash sibling of
    :func:`lsh_band_store`, closing the incremental triangle
    (exact / MinHash / SimHash all have store-backed ingest paths).
    Append one batch's rows per ingest; 4-5 small int rows per doc.
    ``compact_band_store`` / ``prune_band_store`` apply unchanged
    (same (id, band, hash-ish) shape)."""
    return _simhash_banded(df, text_col, id_col, band_bits, hash_fn)


def incremental_simhash_candidates(
    new_docs: DataFrame,
    band_store: DataFrame | str,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int = 16,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Hamming-band candidates of an incoming batch AGAINST THE
    PERSISTED SimHash index: (new_id, stored_id) sharing any band.
    Batch fingerprints are computed fresh; history contributes stored
    rows only. Same band family as the self-join path, so a pair is a
    candidate here iff the pooled self-join would find it. A string
    ``band_store`` is loaded with its ``sidecar.SIMHASH`` family
    checked."""
    if isinstance(band_store, str):
        band_store = sidecar.load(
            new_docs.sparkSession, band_store, sidecar.SIMHASH,
            band_bits=band_bits, hash_fn=hash_fn,
        )
    nb = _simhash_banded(
        new_docs, text_col, id_col, band_bits, hash_fn
    ).withColumnRenamed(id_col, "new_id")
    sb = band_store.withColumnRenamed(id_col, "stored_id")
    return (
        nb.join(sb, on=["band", "val"])
        # replay guard (family-wide, r12): no (x, x) self-pairs when a
        # batch re-probes its own partially-appended store rows
        .filter(F.col("new_id") != F.col("stored_id"))
        .select("new_id", "stored_id")
        .distinct()
    )


def simhash_dedup_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int = 16,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup candidates = docs sharing any SimHash band (classic
    Hamming-distance blocking; 4x16-bit bands on the 64-bit default,
    4x15-bit on the oracle-checkable md5_60 variant)."""
    banded = staged(
        _simhash_banded(df, text_col, id_col, band_bits, hash_fn)
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.val") == F.col("b.val"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


# ---- cross-split decontamination ----


def cross_lsh_candidates(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
) -> DataFrame:
    """Candidate near-duplicate pairs ACROSS two document sets:
    (left_id, right_id) sharing at least one LSH band bucket. Same
    deterministic hash family as the self-join path, so a pair is a
    candidate here iff it would be in a pooled self-join — but the
    join is left-bands × right-bands only (never left×left), which is
    the right shape when one side (an eval suite) is orders of
    magnitude smaller than the other (the training corpus)."""
    rows_per_band = num_hashes // bands

    def banded(df: DataFrame, out_id: str) -> DataFrame:
        sig = with_signature(df, text_col, id_col, num_hashes, shingle_k)
        return sig.select(
            F.col(id_col).alias(out_id),
            F.explode(
                lsh_bands("_sig", bands, rows_per_band)
            ).alias("b"),
        ).select(
            out_id,
            F.col("b.band").alias("band"),
            F.col("b.band_hash").alias("band_hash"),
        )

    lb = banded(left, "left_id")
    rb = banded(right, "right_id")
    return (
        lb.join(rb, on=["band", "band_hash"])
        .select("left_id", "right_id")
        .distinct()
    )


def fingerprint_store(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The compact exact-dedup ingest index a production pipeline
    PERSISTS: one (fingerprint, representative) row per distinct
    normalized text in the corpus processed so far. At 100 TB you
    never re-dedup history against itself — you maintain this table
    (append each accepted batch's new fingerprints) and anti-join
    incoming batches against it (:func:`dedup_against_store`). Write
    it bucketed on ``fingerprint`` (sources.bucketed) and the
    per-batch join runs with no store-side exchange."""
    return duplicate_groups(df, text_col, id_col).select(
        "fingerprint", "representative"
    )


def dedup_against_store(
    new_docs: DataFrame,
    store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup: the subset of ``new_docs`` that
    survives ingest — not an exact duplicate of anything in the
    ``store`` (:func:`fingerprint_store` schema) and the first
    (min-id) occurrence within its own batch. Cost per batch is one
    anti-join + one min-agg on the uniform fingerprint key, scanning
    the batch and the fingerprint index only — history text is never
    touched."""
    fp = fingerprint(F.col(text_col)).alias("_fp")
    tagged = new_docs.select(F.col(id_col), fp)
    fresh = tagged.join(
        store.select(F.col("fingerprint").alias("_fp")), "_fp", "left_anti"
    )
    keep = fresh.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return new_docs.join(keep.select(id_col), on=id_col, how="left_semi")


def lsh_band_store(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
) -> DataFrame:
    """The persisted near-dup index rows for a corpus slice:
    (doc_id, band, band_hash), same deterministic hash family as the
    self-join path — append one batch's rows per ingest. Partition or
    bucket the store on (band, band_hash) so
    :func:`incremental_lsh_candidates` prunes/co-locates."""
    rows_per_band = num_hashes // bands
    sig = with_signature(df, text_col, id_col, num_hashes, shingle_k)
    return sig.select(
        F.col(id_col),
        F.explode(lsh_bands("_sig", bands, rows_per_band)).alias("b"),
    ).select(
        id_col,
        F.col("b.band").alias("band"),
        F.col("b.band_hash").alias("band_hash"),
    )


def incremental_lsh_candidates(
    new_docs: DataFrame,
    band_store: DataFrame | str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
    max_store_bucket_width: int | None = None,
) -> DataFrame:
    """Near-dup candidates of an incoming batch AGAINST THE PERSISTED
    INDEX: (new_id, stored_id) sharing at least one band bucket.
    Bands are computed for the batch only; history contributes its
    stored (doc_id, band, band_hash) rows (:func:`lsh_band_store`
    schema) — signatures for 100 TB of history are never recomputed.
    Identical hash family to ``minhash_lsh_candidates``, so a pair is
    a candidate here iff a pooled self-join would find it; the join
    is batch-bands × store (broadcast the batch side when small).

    ``max_store_bucket_width`` is the incremental twin of the
    self-join's bucket guard: a mega-template in HISTORY (W stored
    rows in one bucket) otherwise fans out W pairs for EVERY matching
    batch doc, every trigger, forever. Capped buckets are excluded
    from the join; detect batch docs that HIT a fenced bucket with
    :func:`incremental_fenced_hits` (one row per hit, no fan-out) and
    route them as template/boilerplate matches instead of pairwise
    near-dups.

    ``band_store`` may be a store DIRECTORY path, in which case its
    ``sidecar.LSH`` params are checked against this call's hash
    family — a mismatched family would otherwise silently yield zero
    candidates (ADVICE r8). A pre-loaded DataFrame skips the check
    (the caller owns the family contract; prefer passing the path)."""
    if isinstance(band_store, str):
        band_store = sidecar.load(
            new_docs.sparkSession, band_store, sidecar.LSH,
            num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
        )
    nb = lsh_band_store(
        new_docs, text_col, id_col, num_hashes, bands, shingle_k
    ).withColumnRenamed(id_col, "new_id")
    sb = band_store.withColumnRenamed(id_col, "stored_id")
    if max_store_bucket_width is not None:
        ok = (
            band_store.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("_w"))
            .filter(F.col("_w") <= max_store_bucket_width)
            .select("band", "band_hash")
        )
        sb = sb.join(ok, on=["band", "band_hash"], how="left_semi")
    return (
        nb.join(sb, on=["band", "band_hash"])
        # replay guard (family-wide, r12): a batch re-probing its own
        # partially-appended store rows must not emit (x, x)
        .filter(F.col("new_id") != F.col("stored_id"))
        .select("new_id", "stored_id")
        .distinct()
    )


def incremental_fenced_hits(
    new_docs: DataFrame,
    band_store: DataFrame | str,
    max_store_bucket_width: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
) -> DataFrame:
    """Batch docs whose bands hit a FENCED store bucket: one
    (new_id, band, band_hash, store_width) row per hit — the
    mega-template match signal, delivered without the W-per-doc pair
    fan-out the fence exists to avoid. Route these as boilerplate /
    template matches (drop, or cluster against the bucket's
    representative) instead of pairwise near-dups. A string
    ``band_store`` is loaded with its ``sidecar.LSH`` family checked."""
    if isinstance(band_store, str):
        band_store = sidecar.load(
            new_docs.sparkSession, band_store, sidecar.LSH,
            num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
        )
    nb = lsh_band_store(
        new_docs, text_col, id_col, num_hashes, bands, shingle_k
    ).withColumnRenamed(id_col, "new_id")
    wide = (
        band_store.groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("store_width"))
        .filter(F.col("store_width") > max_store_bucket_width)
    )
    return (
        nb.join(wide, on=["band", "band_hash"])
        .select("new_id", "band", "band_hash", "store_width")
        .distinct()
    )


def incremental_near_dups_confirmed(
    new_docs: DataFrame,
    history_docs: DataFrame,
    band_store: DataFrame | str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
) -> DataFrame:
    """The full incremental near-dup decision: LSH candidates from
    the PERSISTED band index (:func:`incremental_lsh_candidates`),
    then exact n-gram Jaccard >= ``threshold`` — computed by fetching
    text for ONLY the candidate history docs (a semi-join against the
    candidate id set), never scanning history wholesale. Returns
    (new_id, stored_id, jaccard) for confirmed pairs.

    This is the production read pattern the store design implies:
    100 TB of history participates through ~5 B/doc of index rows
    plus the handful of documents the index actually surfaces."""
    cand = incremental_lsh_candidates(
        new_docs, band_store, text_col, id_col, num_hashes, bands, shingle_k
    )
    # fetch shingles for candidate rows only — both sides pruned by
    # the candidate id sets before any text is shingled
    new_pruned = new_docs.join(
        cand.select(F.col("new_id").alias(id_col)).distinct(),
        on=id_col,
        how="semi",
    )
    hist_pruned = history_docs.join(
        cand.select(F.col("stored_id").alias(id_col)).distinct(),
        on=id_col,
        how="semi",
    )
    nsh = with_shingles(new_pruned, text_col, shingle_k, "_sh_n", keep=(id_col,))
    hsh = with_shingles(hist_pruned, text_col, shingle_k, "_sh_h", keep=(id_col,))
    j = (
        cand.join(
            nsh.select(F.col(id_col).alias("new_id"), "_sh_n"), "new_id"
        )
        .join(
            hsh.select(F.col(id_col).alias("stored_id"), "_sh_h"),
            "stored_id",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("_sh_n", "_sh_h"))
                / F.greatest(
                    F.size(F.array_union("_sh_n", "_sh_h")), F.lit(1)
                ),
                6,
            ),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select(
        "new_id", "stored_id", "jaccard"
    )


# ---- store maintenance (compaction + retention) ----
#
# The persisted ingest indexes only ever APPEND: one parquet file per
# micro-batch/ingest run, plus (in the documented crash-loss mode — a
# doc re-accepted after its store append was lost) duplicate index
# rows. Periodic maintenance keeps the per-batch join healthy at
# 100 TB: compaction collapses files and duplicate rows, retention
# drops index rows for documents that left the corpus. Both reuse
# sources.maintain.rewrite_table's temp-dir + atomic-rename dance, so
# a concurrent reader sees the old store or the new one, never a
# half-written copy. Maintenance is a pure rewrite of the index — a
# golden (tests/test_store_maintain.py) pins that a compacted or
# pruned store yields byte-identical incremental dedup decisions.


def compact_fingerprint_store(
    spark: SparkSession, store_dir: str, target_files: int = 1
) -> dict:
    """Compact a persisted :func:`fingerprint_store` directory:
    collapse duplicate fingerprints (min representative wins — the
    same tie-break ingest uses) and rewrite into ``target_files``
    files. Returns rewrite_table's before/after counts."""
    from cybersecurity_miw_spark.sources.maintain import rewrite_table

    def collapse(df: DataFrame) -> DataFrame:
        return df.groupBy("fingerprint").agg(
            F.min("representative").alias("representative")
        )

    return rewrite_table(spark, store_dir, collapse, target_files)


def compact_band_store(
    spark: SparkSession, store_dir: str, target_files: int = 1
) -> dict:
    """Compact a persisted :func:`lsh_band_store` directory: distinct
    (doc_id, band, band_hash) rows — re-appended bands from a
    redelivered batch collapse — rewritten into ``target_files``
    files."""
    from cybersecurity_miw_spark.sources.maintain import rewrite_table

    return rewrite_table(
        spark, store_dir, lambda df: df.distinct(), target_files
    )


def prune_band_store(
    spark: SparkSession,
    store_dir: str,
    keep_ids: DataFrame,
    id_col: str = "doc_id",
    target_files: int = 1,
) -> dict:
    """Retention for the band index: keep only rows whose ``doc_id``
    is in ``keep_ids`` (the ids still in the corpus after deletions /
    GDPR erasure / retention expiry) — a semi-join on the uniform id
    key, then the same atomic rewrite. Pruned docs stop surfacing as
    near-dup matches immediately."""
    from cybersecurity_miw_spark.sources.maintain import rewrite_table

    keep = keep_ids.select(F.col(id_col)).distinct()

    def prune(df: DataFrame) -> DataFrame:
        return df.join(keep, on=id_col, how="semi")

    return rewrite_table(spark, store_dir, prune, target_files)


def prune_fingerprint_store(
    spark: SparkSession,
    store_dir: str,
    keep_ids: DataFrame,
    id_col: str = "doc_id",
    target_files: int = 1,
) -> dict:
    """Retention for the fingerprint index: keep fingerprints whose
    representative is still in the corpus. NOTE the semantic choice:
    dropping a fingerprint re-admits future exact copies of the
    deleted text — which is exactly what erasure-driven retention
    wants (the alternative, keeping tombstones, is a one-line
    ``transform`` swap)."""
    from cybersecurity_miw_spark.sources.maintain import rewrite_table

    keep = keep_ids.select(F.col(id_col).alias("representative")).distinct()

    def prune(df: DataFrame) -> DataFrame:
        return df.join(keep, on="representative", how="semi")

    return rewrite_table(spark, store_dir, prune, target_files)


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
) -> DataFrame:
    """Drop training rows contaminated by the eval set: exact
    normalized-text matches (fingerprint equality — catches texts too
    short to shingle) plus near-duplicates (cross-set LSH candidates
    confirmed by exact shingle Jaccard >= threshold). Returns the
    surviving train rows.

    Scale shape: the eval side is small, so its banded projection and
    fingerprints broadcast; train is scanned once for signatures and
    once for the anti-joins — no train×train pair ever forms."""
    # exact: fingerprint semi-match
    eval_fps = eval_df.select(
        fingerprint(F.col(text_col)).alias("_fp")
    ).distinct()
    exact_hit = (
        train.select(
            F.col(id_col), fingerprint(F.col(text_col)).alias("_fp")
        )
        # bcast-bound: eval_fps = eval-benchmark fingerprints
        #   (eval-set-bounded, not sf-scaled)
        .join(F.broadcast(eval_fps), "_fp", "semi")
        .select(F.col(id_col).alias("_contaminated"))
    )

    # near: cross-set candidates -> exact Jaccard confirm
    cand = cross_lsh_candidates(
        train, eval_df, text_col, id_col, num_hashes, bands, shingle_k
    )
    tsh = with_shingles(train, text_col, shingle_k, "_sh_t", keep=(id_col,))
    esh = with_shingles(eval_df, text_col, shingle_k, "_sh_e", keep=(id_col,))
    confirmed = (
        cand.join(
            tsh.withColumnRenamed(id_col, "left_id"), "left_id"
        )
        .join(
            # bcast-bound: esh = eval-benchmark shingles (eval-set-bounded,
            #   not sf-scaled)
            F.broadcast(esh.withColumnRenamed(id_col, "right_id")),
            "right_id",
        )
        .withColumn(
            "_j",
            F.size(F.array_intersect("_sh_t", "_sh_e"))
            / F.greatest(
                F.size(F.array_union("_sh_t", "_sh_e")), F.lit(1)
            ),
        )
        .filter(F.col("_j") >= threshold)
        .select(F.col("left_id").alias("_contaminated"))
    )

    bad = exact_hit.union(confirmed).distinct()
    return train.join(
        bad, train[id_col] == bad["_contaminated"], "left_anti"
    )


# ---- duplicate clusters (connected components) ----


def _cc_pass(batches, forest: bool):
    """One :func:`component_roots` run over every Arrow batch of a
    partition. ``forest=True`` keeps only the ``(node, root)`` rows with
    ``node != root`` — k-1 rows for a k-node component, whatever its
    edge count — plus ``(node, node)`` for a node whose only edges are
    self-loops, so that it survives the reduce. ``forest=False`` emits
    every node with its component minimum."""
    import numpy as np
    import pyarrow as pa

    a, b = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
    for batch in batches:
        a.append(batch.column(0).to_numpy())
        b.append(batch.column(1).to_numpy())
    nodes, roots = component_roots(np.concatenate(a), np.concatenate(b))
    if forest:
        size = np.bincount(np.searchsorted(nodes, roots), minlength=len(nodes))
        keep = (nodes != roots) | (size == 1)
        nodes, roots = nodes[keep], roots[keep]
    yield pa.RecordBatch.from_arrays(
        [pa.array(nodes), pa.array(roots)], names=["doc_id", "cluster_id"]
    )


def dup_clusters(
    pairs: DataFrame,
    col_a: str = "id_a",
    col_b: str = "id_b",
) -> DataFrame:
    """Connected components over confirmed duplicate pairs: every doc
    that appears in >=1 pair gets ``cluster_id`` = the minimum doc id
    reachable through the pair graph. This is the step that turns
    pairwise near-dup hits into GLOBAL duplicate groups — pairwise
    loser-dropping (``near_dedup_minhash``) over-drops on transitive
    chains (a~b, b~c drops b and c even when a!~c); cluster-then-keep
    drops exactly size(component)-1 per component.

    Algorithm: a two-level union-find over Arrow batches, in a fixed
    number of Spark jobs whatever the graph's diameter — no rounds, no
    convergence action, no driver collect:

    1. ``mapInArrow`` runs :func:`component_roots` over each input
       partition and emits that partition's components as a forest of
       ``(node, root)`` rows (a k-clique's k(k-1)/2 pairs shrink to
       k-1 rows).
    2. ``repartition(1)`` and the same kernel over the union of the
       forests. The union has the same components as the input, so
       this single reduce is exact. The reduce task holds at most the
       sum over partitions of the nodes in that partition, which is
       <= 2 × the number of pairs.

    The labels arrive behind an eager ``localCheckpoint``, so that
    consumers plan against a materialized leaf.

    Ids must be castable to long. A null endpoint adds no edge and no
    node: its non-null partner stays as a node, and a pair with both
    ends null is dropped. A self-loop keeps its node.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    a, b = F.col(col_a).cast("long"), F.col(col_b).cast("long")
    edges = pairs.select(
        F.coalesce(a, b).alias("a"), F.coalesce(b, a).alias("b")
    ).filter(F.col("a").isNotNull())
    schema = StructType([
        StructField("doc_id", LongType(), nullable=False),
        StructField("cluster_id", LongType(), nullable=False),
    ])
    return (
        edges.mapInArrow(lambda it: _cc_pass(it, forest=True), schema)
        .repartition(1)
        .mapInArrow(lambda it: _cc_pass(it, forest=False), schema)
        .localCheckpoint(eager=True)
    )


def near_dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
    max_bucket_width: int | None = None,
) -> DataFrame:
    """Cluster-correct near-dedup: LSH candidates → exact Jaccard >=
    threshold → connected components → keep each component's minimum
    id (plus every unpaired doc). Unlike ``near_dedup_minhash`` this
    never drops two docs that are only transitively related.
    Components are computed by :func:`dup_clusters`, a two-level
    union-find whose Spark job count does not depend on the shape of
    the duplicate graph, long chains included.

    With ``max_bucket_width`` set, band buckets wider than the cap
    are FENCED out of the pair join (see
    :func:`minhash_lsh_candidates`) and each fenced bucket is treated
    as a duplicate cluster DIRECTLY: the minimum member id survives,
    the rest are dropped — W docs sharing a full MinHash band at that
    width are near-dups by construction, and materializing their
    W²/2 pair list to prove it is exactly the blowup the fence
    exists to avoid. This trades the per-pair Jaccard confirm for
    boundedness on mega-clusters only; normal-width buckets keep the
    exact confirm."""
    if max_bucket_width is None:
        # explicitly unfenced: the package default would fence at 4096
        cand = minhash_lsh_candidates(
            df, text_col, id_col, num_hashes, bands, shingle_k,
            max_bucket_width=None,
        )
        fenced_losers = None
    else:
        # ONE banded projection and ONE width aggregation feed both
        # the guarded candidate join and the fenced-cluster losers —
        # the signature computation (the expensive narrow stage) runs
        # once, not twice
        banded = _banded_projection(
            df, text_col, id_col, num_hashes, bands, shingle_k
        )
        widths = staged(
            banded.groupBy("band", "band_hash").agg(
                F.count(F.lit(1)).alias("_w")
            )
        )
        ok = widths.filter(F.col("_w") <= max_bucket_width).select(
            "band", "band_hash"
        )
        # the semi-join already applied the caller's cap: no second
        # fence at the package default on top of it
        cand = pairs_from_bands(
            banded.join(ok, on=["band", "band_hash"], how="left_semi"),
            id_col,
            max_bucket_width=None,
        )
        wide = widths.filter(F.col("_w") > max_bucket_width).select(
            "band", "band_hash"
        )
        fenced_losers = (
            banded.join(wide, on=["band", "band_hash"], how="left_semi")
            .groupBy("band", "band_hash")
            .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("_m"))
            .select(
                F.explode(
                    F.expr("slice(_m, 2, greatest(size(_m) - 1, 0))")
                ).alias(id_col)
            )
        )
    confirmed = jaccard_pairs(df, cand, text_col, id_col, shingle_k).filter(
        F.col("jaccard") >= threshold
    )
    clusters = dup_clusters(confirmed)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    if fenced_losers is not None:
        losers = losers.unionByName(fenced_losers).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def flag_eval_ngram_overlap(
    train: DataFrame,
    eval_df: DataFrame,
    shingle_k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """N-gram level contamination flagging (the GPT-3-style check:
    a train doc is contaminated if it CONTAINS any eval n-gram, even
    when the documents as a whole are not near-duplicates — substring
    leakage that doc-level LSH misses). Returns every train doc with
    ``n_overlap`` (count of its distinct shingles that appear
    anywhere in the eval split) and a boolean ``contaminated``.

    Plan: both sides shingle (array expressions, no Python), the
    train side explodes to (doc_id, shingle), the eval side dedups to
    a distinct shingle set; one join on the uniform shingle key + one
    per-doc count; a left join puts zero-hit docs back. The eval side
    is the small one in production (benchmarks ≪ corpus) — AQE
    broadcasts it."""
    tsh = with_shingles(train, text_col, shingle_k, "_sh", keep=(id_col,))
    esh = (
        with_shingles(eval_df, text_col, shingle_k, "_sh", keep=(id_col,))
        .select(F.explode("_sh").alias("sh"))
        .distinct()
    )
    # shingles_from_words array_distinct's per doc, and esh is
    # distinct, so each (doc, shingle) matches at most one eval row:
    # a plain count equals count(DISTINCT) without the two-exchange
    # distinct expansion
    hits = (
        tsh.select(id_col, F.explode("_sh").alias("sh"))
        .join(esh, "sh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def duplicated_ngram_spans(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """Exact cross-document substring dedup, span-level (the Lee et
    al. "Deduplicating Training Data Makes Language Models Better"
    primitive): every maximal token span covered by a ``k``-token
    n-gram that also occurs in >= ``min_docs`` distinct documents.
    Doc-level dedup (MinHash, exact hash) misses this entirely — two
    distinct articles that share one boilerplate paragraph are not
    near-duplicates, but an LM still memorizes the repeated span.
    The span report is the removal plan: slice ``[start_tok,
    end_tok)`` out of each doc's token stream.

    Plan — linear in gram OCCURRENCES, never pairwise: positional
    k-grams via one array expression (sequence → transform → slice,
    JVM-side, no Python); one groupBy on the gram string with an
    algebraic distinct-doc count (partial aggregation absorbs hot
    boilerplate grams map-side); an equi-join back to occurrences
    (output is occurrence-sized — a gram shared by 1M docs emits 1M
    rows, not 1M²/2 pairs); then the gaps-and-islands merge — ONE
    window pass per doc, the sessionization shape — coalesces
    overlapping gram hits into maximal spans. Uniform-key shuffles
    throughout; the gram string itself is the join key so the
    candidate join needs no second shingling pass.

    Returns ``(id_col, start_tok, end_tok, n_grams)`` — token-index
    bounds (end exclusive) and the number of duplicated grams the
    span absorbed. Within-doc-only repetition is NOT flagged at the
    default ``min_docs=2`` (that signal is
    corpus_filters.remove_repeated_lines' job); pass ``min_docs=1``
    semantics via a total-count variant if ever needed.
    """
    from pyspark.sql import Window

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = docs.select(F.col(id_col), toks.alias("_w")).where(
        F.size("_w") >= k
    )
    grams = base.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("_w") - k),
                lambda i: F.array_join(F.slice("_w", i + 1, k), " "),
            )
        ).alias("pos", "g"),
    )
    dup = (
        grams.groupBy("g")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("g")
    )
    spans = grams.join(dup, "g").select(
        id_col,
        F.col("pos").cast("long").alias("_s"),
        (F.col("pos") + k).cast("long").alias("_e"),
    )
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("_s", "_e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("_s", "_e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    new_span = F.when(
        F.col("_s") > F.max("_e").over(w_prev), F.lit(1)
    ).otherwise(F.lit(0))
    staged = spans.withColumn("_new", new_span).withColumn(
        "_span", F.sum("_new").over(w_run)
    )
    return (
        staged.groupBy(id_col, "_span")
        .agg(
            F.min("_s").alias("start_tok"),
            F.max("_e").alias("end_tok"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .drop("_span")
    )


def remove_duplicated_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The second half of the Lee et al. exact-substring pipeline:
    consume :func:`duplicated_ngram_spans`' removal plan — slice every
    ``[start_tok, end_tok)`` span out of each document's token stream,
    reassemble the text, and report how many tokens were removed.

    Token semantics match the span producer exactly (lowercased,
    whitespace-split — the indices are only meaningful against that
    stream), so the output text is the normalized reassembly for
    EVERY doc, spans or not; ``removed_tokens`` is 0 for untouched
    docs and a fully-duplicated doc comes back with empty text (drop
    or route those downstream — removal and deletion stay decoupled,
    the flagging convention used across this module).

    100 TB shape: one groupBy of the span table on the doc key (spans
    exist only for affected docs — a small fraction of the corpus)
    and one left join of the corpus against that aggregate on the
    uniform doc-id key; the slice itself is a single JVM array
    expression (``filter`` with the element-index lambda + ``exists``
    over the doc's span list), zero Python, zero extra shuffles —
    per-doc span counts are bounded by doc length, so the collected
    span list cannot skew a partition.

    Returns ``(id_col, text_col, removed_tokens)``.
    """
    span_lists = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("start_tok").alias("s"), F.col("end_tok").alias("e")
            )
        ).alias("_spans")
    )
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    covered = lambda i: F.exists(  # noqa: E731 — named for readability
        F.col("_spans"), lambda sp: (i >= sp["s"]) & (i < sp["e"])
    )
    kept = F.filter(toks, lambda w, i: ~covered(i.cast("long")))
    return (
        docs.join(span_lists, id_col, "left")
        .withColumn(
            "_spans", F.coalesce("_spans", F.array().cast(
                "array<struct<s:long,e:long>>"
            ))
        )
        .select(
            id_col,
            F.array_join(kept, " ").alias(text_col),
            (F.size(toks) - F.size(kept)).cast("long").alias(
                "removed_tokens"
            ),
        )
    )


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    jaccard_threshold: float = 0.8,
    containment_threshold: float = 0.6,
    ngram_k: int = 5,
    min_ngram_overlap: int = 1,
) -> DataFrame:
    """One verdict row PER EVAL DOC across the full decontamination
    battery — the audit artifact a benchmark owner actually wants
    ("which of my eval items leak into this corpus, and how"):

    * ``exact_dup`` — normalized-text fingerprint present in train
      (catches texts too short to shingle);
    * ``max_jaccard`` — strongest symmetric near-dup against any
      train doc at ≥ ``jaccard_threshold`` (exact prefix-filter join,
      zero false negatives; 0.0 = none above threshold);
    * ``max_containment`` — strongest |eval ∩ train| / |eval| at ≥
      ``containment_threshold`` (the quoted-excerpt channel Jaccard
      dilutes away);
    * ``ngram_overlap`` — count of the eval doc's distinct
      ``ngram_k``-shingles that appear ANYWHERE in train (the
      GPT-3-style substring check, no pairing required);
    * ``contaminated`` — any signal fired (n-gram at ≥
      ``min_ngram_overlap``).

    Every signal is eval-centric and exact; each is computed by the
    corresponding first-class operator's plan (fingerprint semi-join;
    :func:`~cybersecurity_miw_spark.operators.setsim.ppjoin_cross`;
    :func:`~cybersecurity_miw_spark.operators.setsim.
    containment_cross`; the :func:`flag_eval_ngram_overlap` join with
    the roles swapped), so the report costs what the individual
    checks cost — the train corpus is never cross-joined, and the
    eval side stays the small side of every join."""
    from cybersecurity_miw_spark.operators import setsim

    eval_ids = eval_df.select(id_col)

    train_fps = train.select(
        fingerprint(F.col(text_col)).alias("_fp")
    ).distinct()
    exact = (
        eval_df.select(
            F.col(id_col), fingerprint(F.col(text_col)).alias("_fp")
        )
        .join(train_fps, "_fp", "semi")
        .select(id_col, F.lit(True).alias("exact_dup"))
    )

    jac = (
        setsim.ppjoin_cross(
            eval_df, train, text_col, id_col,
            threshold=jaccard_threshold, shingle_k=shingle_k,
        )
        .groupBy(F.col("id_l").alias(id_col))
        .agg(F.max("jaccard").alias("max_jaccard"))
    )

    cont = (
        setsim.containment_cross(
            eval_df, train, text_col, id_col,
            threshold=containment_threshold, shingle_k=shingle_k,
        )
        .groupBy(F.col("contained_id").alias(id_col))
        .agg(F.max("containment").alias("max_containment"))
    )

    # roles swapped: flag EVAL docs against the train shingle set
    ngram = flag_eval_ngram_overlap(
        eval_df, train, shingle_k=ngram_k,
        text_col=text_col, id_col=id_col,
    ).select(id_col, F.col("n_overlap").alias("ngram_overlap"))

    out = (
        eval_ids.join(exact, id_col, "left")
        .join(jac, id_col, "left")
        .join(cont, id_col, "left")
        .join(ngram, id_col, "left")
        .select(
            id_col,
            F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
            F.round(
                F.coalesce("max_jaccard", F.lit(0.0)), 6
            ).alias("max_jaccard"),
            F.round(
                F.coalesce("max_containment", F.lit(0.0)), 6
            ).alias("max_containment"),
            F.coalesce("ngram_overlap", F.lit(0)).alias("ngram_overlap"),
        )
    )
    return out.withColumn(
        "contaminated",
        F.col("exact_dup")
        | (F.col("max_jaccard") > 0)
        | (F.col("max_containment") > 0)
        | (F.col("ngram_overlap") >= min_ngram_overlap),
    )
