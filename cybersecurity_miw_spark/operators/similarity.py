"""Similarity search over an embedding column (array<float>).

Two paths:

* **brute-force cosine top-k** — the correctness baseline: a broadcast
  of the (small) query set against the full table; dot products via
  zip_with/aggregate expressions, JVM-side. Linear scan, perfectly
  partition-parallel, no shuffle except the final top-k.
* **LSH-bucketed ANN (random hyperplanes)** — the scale path: h
  deterministic pseudo-random hyperplanes (md5-derived literals,
  :func:`plane_component_value`) give a sign bit each; vectors
  sharing the hash bucket are the candidates. Recall/latency trade
  via n_planes. At 100 TB the bucket id becomes the
  shuffle/partition key — uniform by construction.
* **IVF-style coarse quantization** — k centroid rows (computed once,
  broadcast); each vector is assigned to its nearest centroid
  (argmin over the broadcast array) and searched only within probed
  cells.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cybersecurity_miw_spark import sidecar
from cybersecurity_miw_spark.operators.dedup import staged


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k of one query vector against the table.
    The query is a literal array (broadcast by constant folding); the
    scan is narrow; the only shuffle is the global top-k sort of k
    rows per partition (Spark's TakeOrdered)."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = df.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col).cast("array<double>"), q), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def pairwise_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_broadcast_queries: int = 10_000,
) -> DataFrame:
    """Top-k neighbors for EVERY query row: broadcast the query set,
    window-rank per query. Queries must be small enough to broadcast —
    guarded: more than ``max_broadcast_queries`` rows raises instead of
    silently building an executor-crushing crossJoin (use
    :func:`lsh_ann_topk` / :func:`cosine_near_dup_lsh` for large query
    sets)."""
    n_q = queries.limit(max_broadcast_queries + 1).count()
    if n_q > max_broadcast_queries:
        raise ValueError(
            f"pairwise_topk: query set exceeds {max_broadcast_queries} rows; "
            "broadcast crossJoin would not scale — use pairwise_topk_lsh"
        )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    # bcast-bound: q = user-supplied query set (input-bounded, not
    #   corpus-scaled)
    joined = df.crossJoin(F.broadcast(q)).filter(F.col(id_col) != F.col("query_id"))
    scored = joined.select(
        "query_id",
        F.col(id_col),
        F.round(
            cosine(
                F.col(vec_col).cast("array<double>"), F.col("_qvec").cast("array<double>")
            ),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


# ---- embedding-cosine near-duplicate detection ----


def cosine_pairs_above(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """All (id_a < id_b) pairs with cosine ≥ threshold — the EXACT
    baseline (O(n²) self-join; correctness oracle for the LSH-bucketed
    scale path below). Returns id_a, id_b, cos_sim (rounded 1e-6)."""
    # norms are precomputed per VECTOR (n of them), not per pair
    # (n² of them) — the pair stage then evaluates only the dot
    base = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).select(id_col, "_v", norm(F.col("_v")).alias("_n"))
    a = base.select(
        F.col(id_col).alias("id_a"),
        F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    )
    b = base.select(
        F.col(id_col).alias("id_b"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return (
        pairs.select("id_a", "id_b", F.round(cos, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def cosine_near_dup_lsh(
    df: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int | None = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bands: int = 1,
) -> DataFrame:
    """Embedding near-dup pairs at scale: random-hyperplane bucket as
    the blocking key (high-cosine pairs land in the same bucket with
    probability (1 − θ/π)^n_planes), exact cosine confirm WITHIN each
    bucket. The self-join shuffles on the uniform bucket id — never
    all-pairs.

    ``n_planes=None`` applies the occupancy-constant schedule
    (:func:`suggested_planes` over a count) so the within-bucket pair
    join stays linear as the corpus grows — but a SINGLE bucket
    family's recall decays geometrically with planes
    ((1−θ/π)^p: MEASURED 0.53 at 6 planes for cos 0.95 pairs,
    SCALE.md r12). ``n_bands`` is the OR-amplification that buys it
    back — b independent plane families, candidate if ANY band's
    bucket agrees, recall 1−(1−(1−θ/π)^p)^b (measured 0.96 at
    p=6, b=4) — at b× index rows and b bounded bucket joins, exactly
    the MinHash bands/rows trade. At scale pair suggested_planes with
    n_bands=3-4; band 0 is byte-identical to the historical
    single-family bucket."""
    if n_planes is None:
        n_planes = suggested_planes(df.count())
    # norm precomputed per vector (rides the persisted projection);
    # the n²-ish pair stage evaluates only the dot. n_bands > 1:
    # one (band, bucket) row per vector per band — the join key is
    # (band, bucket), so a pair is a candidate if ANY band agrees.
    buckets = F.array(
        *[
            hyperplane_bucket(
                vec_col, dim, n_planes, plane_offset=b * n_planes
            )
            for b in range(n_bands)
        ]
    )
    bucketed = staged(
        df.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("_v"),
            F.posexplode(buckets).alias("_band", "_bucket"),
        ).select(
            id_col, "_v", "_band", "_bucket", norm(F.col("_v")).alias("_n")
        )
    )
    a = bucketed.select(
        "_band",
        "_bucket",
        F.col(id_col).alias("id_a"),
        F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    )
    b = bucketed.select(
        "_band",
        "_bucket",
        F.col(id_col).alias("id_b"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    pairs = a.join(b, on=["_band", "_bucket"]).filter(
        F.col("id_a") < F.col("id_b")
    )
    cos = dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return (
        pairs.select("id_a", "id_b", F.round(cos, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
        .distinct()
    )


# occupancy-constant blocking schedules (SCALE.md r11/r12): the
# reference points both rules reproduce are MEASURED — 5,000 docs ran
# best at 4 planes / 128 cells, 50,000 at 7 planes / 512 cells (the
# fixed-4-planes 10x point sat at the edge of the sweep band, 0.32,
# vs 0.12 occupancy-constant; the 512-cell frontier row cut scan
# fraction 2x at equal recall)
SUGGESTED_PLANES_REF_ROWS = 5_000
SUGGESTED_PLANES_REF = 4


def suggested_planes(n_rows: int) -> int:
    """Hyperplane count that holds expected LSH bucket occupancy
    ~constant as the corpus grows: each extra plane halves bucket
    population, so planes = 4 + log₂(n / 5,000) (rounded, clamped to
    [1, 24]) keeps occupancy at the measured-good sf0.1 level. The
    within-bucket pair join is quadratic in occupancy — a FIXED plane
    count puts semantic dedup on a quadratic path (measured: ratio
    0.32 at 10× fixed vs 0.12 scaled, SCALE.md r11). Use for
    :func:`semantic_dedup` / :func:`cosine_near_dup_lsh` n_planes."""
    import math

    if n_rows <= 0:
        return SUGGESTED_PLANES_REF
    raw = SUGGESTED_PLANES_REF + math.log2(
        max(n_rows, 1) / SUGGESTED_PLANES_REF_ROWS
    )
    return min(24, max(1, round(raw)))


def suggested_cells(n_rows: int) -> int:
    """IVF cell count that holds per-cell occupancy bounded as the
    corpus grows (the frontier rule, SCALE.md r8/r11): cells ≈
    2·√n rounded to a power of two — reproducing the measured
    frontier picks (128 cells at 5k docs, 512 at 50k), where equal
    recall costs a shrinking scan fraction. Use for
    :func:`train_centroids` n_cells / :func:`semantic_dedup_cells`
    centroid counts; clamped to [1, 65536]."""
    import math

    if n_rows <= 1:
        return 1
    raw = 2.0 * math.sqrt(n_rows)
    return min(65536, max(1, 2 ** round(math.log2(raw))))


def semantic_dedup(
    df: DataFrame,
    dim: int,
    threshold: float = 0.85,
    n_planes: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bands: int = 1,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    public arXiv 2303.09540 — dedup by EMBEDDING proximity, catching
    paraphrases and re-encodings that token-level MinHash/SimHash
    miss): rows are removed when a same-bucket neighbor with a
    SMALLER id sits at cosine ≥ threshold; survivors are returned
    with their full columns. Deterministic keep-lowest-id rule over
    the LSH-bucketed pair list (:func:`cosine_near_dup_lsh` — the
    hyperplane bucket is the blocking key, so the pair stage shuffles
    on the uniform bucket id and never goes all-pairs).

    Adjacency-based, not transitive-closure: a chain a~b~c with
    cos(a,c) < t keeps a and drops b AND c (c has neighbor b < c) —
    the same contract as the paper's within-cluster pruning. For
    cluster-atomic semantics route the pair list through
    :func:`~cybersecurity_miw_spark.operators.dedup.dup_clusters`
    and keep each cluster's min id.

    100 TB: bucket self-join (uniform key) + one anti-join on the
    removed-id set — both shuffle-bounded by near-dup density, never
    by corpus². The DEFAULT ``n_planes=None`` applies the
    occupancy-constant schedule (:func:`suggested_planes`) — a fixed
    plane count puts the within-bucket join on a quadratic path
    (measured ratio 0.45 at fixed 4 planes vs 0.28 scheduled,
    SCALE.md r12; default flipped r14 per VERDICT r13 #2). Pair it
    with ``n_bands`` 3-4 at scale — the schedule holds cost linear
    but a single family's recall decays 0.899^p (measured, SCALE.md
    r12) and the bands buy it back."""
    pairs = cosine_near_dup_lsh(
        df, threshold, dim, n_planes, vec_col, id_col, n_bands=n_bands
    )
    removed = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(removed, on=id_col, how="anti")


def semantic_dedup_clusters(
    df: DataFrame,
    dim: int,
    threshold: float = 0.85,
    n_planes: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bands: int = 1,
) -> DataFrame:
    """CLUSTER-ATOMIC SemDeDup — the transitive-closure variant the
    :func:`semantic_dedup` docstring points at, as a first-class
    operator: the LSH-bucketed cosine pair list is routed through
    connected components
    (:func:`~cybersecurity_miw_spark.operators.dedup.dup_clusters` —
    a two-level Arrow union-find) and each component keeps exactly
    its MINIMUM id. On a chain a~b~c
    with cos(a,c) < t this keeps a only (one survivor per semantic
    cluster); the adjacency rule keeps a as well but can over-drop on
    other shapes — here drops are exactly size(component)−1.

    100 TB: the pair stage is the same uniform-bucket self-join;
    components add a fixed number of Spark jobs on any graph shape
    (a per-partition union-find, one single-task reduce over the
    partition forests, nothing collected to the driver); the keep
    rule is one anti-join on the non-representative node set. Default
    ``n_planes=None`` = the occupancy-constant schedule (see
    :func:`semantic_dedup` — same r14 default flip)."""
    from cybersecurity_miw_spark.operators.dedup import dup_clusters

    pairs = cosine_near_dup_lsh(
        df, threshold, dim, n_planes, vec_col, id_col, n_bands=n_bands
    )
    clusters = dup_clusters(pairs)
    removed = clusters.filter(
        F.col("doc_id") != F.col("cluster_id")
    ).select(F.col("doc_id").alias(id_col))
    return df.join(removed, on=id_col, how="anti")


def semantic_dedup_cells(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.85,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_assign: int = 1,
) -> DataFrame:
    """:func:`semantic_dedup` with the SemDeDup paper's OWN blocking:
    k-means cells instead of hyperplane buckets (Abbas et al. §3 —
    cluster the embeddings, prune within clusters). Rows are removed
    when a SAME-CELL neighbor with a smaller id sits at cosine ≥
    threshold; survivors keep their full columns. Centroids come from
    :func:`train_centroids` (or any list) — pass MORE cells as the
    corpus grows, the occupancy-constant rule both blockings share
    (SCALE.md r11).

    Trade vs the LSH-bucket variant: trained cells adapt to the data
    (tighter blocks at equal count on clustered corpora → fewer
    cross-dup misses at the same pair budget) but cost a training
    pass and are corpus-dependent; md5-plane buckets are free,
    deterministic, and SQL-reproducible. Both share the plan shape —
    uniform-key self-join + one anti-join, never all-pairs.

    ``n_assign`` is the boundary-pair recall channel (measured, see
    SCALE.md r14): single assignment misses pairs straddling a cell
    face; ``n_assign=2-3`` places each vector in its n nearest cells
    (the IVF ``n_probes`` idea on the index side) at n× index rows
    and bounded extra join traffic. Found pairs at n_assign>1 are a
    SUPERSET of n_assign=1 at equal centroids (golden-pinned)."""
    removed = (
        _cells_pairs_raw(
            df, centroids, threshold, vec_col, id_col, n_assign
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(removed, on=id_col, how="anti")


def semantic_dedup_cells_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.85,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_assign: int = 1,
) -> DataFrame:
    """CLUSTER-ATOMIC SemDeDup over k-means-cells blocking — the
    fourth corner of the (blocking × keep-rule) matrix the other
    three already fill (LSH×adjacency :func:`semantic_dedup`,
    LSH×cluster :func:`semantic_dedup_clusters`, cells×adjacency
    :func:`semantic_dedup_cells`): the cells pair list
    (:func:`cells_near_dup_pairs`, multi-assign-capable) routed
    through connected components, each component keeping exactly its
    MINIMUM id. Same plan economics as its siblings — uniform-key
    self-join, connected components in a fixed number of Spark jobs,
    one anti-join."""
    from cybersecurity_miw_spark.operators.dedup import dup_clusters

    pairs = cells_near_dup_pairs(
        df, centroids, threshold, vec_col, id_col, n_assign
    ).select(
        F.col("id_a").alias("id_a"), F.col("id_b").alias("id_b")
    )
    clusters = dup_clusters(pairs)
    removed = clusters.filter(
        F.col("doc_id") != F.col("cluster_id")
    ).select(F.col("doc_id").alias(id_col))
    return df.join(removed, on=id_col, how="anti")


def cells_near_dup_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.85,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_assign: int = 1,
) -> DataFrame:
    """The k-means-cells near-dup PAIR stage (id_a, id_b) —
    :func:`semantic_dedup_cells`'s blocking + exact-cosine confirm as
    a first-class operator: same-cell pairs with id_a < id_b at
    cosine ≥ threshold (6-d.p. rounded). ``n_assign=1`` is the
    classic SemDeDup single assignment (one uniform-key self-join);
    ``n_assign>1`` multi-assigns each vector to its n nearest cells
    (Arrow-ranked, :func:`_probe_cells_arrow`) so boundary pairs —
    the single-assignment miss channel — meet in the second-nearest
    cell; the pair set is distinct-deduped (a pair sharing two cells
    emits once) and is a SUPERSET of the single-assignment set at
    equal centroids."""
    pairs = _cells_pairs_raw(
        df, centroids, threshold, vec_col, id_col, n_assign
    )
    # n_assign=1: one cell per vector, a pair can only emit once — no
    # dedup exchange needed (semantic_dedup_cells' original plan)
    return pairs.distinct() if n_assign > 1 else pairs


def _cells_pairs_raw(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    vec_col: str,
    id_col: str,
    n_assign: int,
) -> DataFrame:
    if n_assign <= 1:
        assigned = ivf_assign(df, centroids, vec_col).select(
            id_col,
            "_cell",
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
    else:
        q = df.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("_qv"),
        )
        assigned = _probe_cells_arrow(q, centroids, n_assign).select(
            F.col("query_id").alias(id_col),
            "_cell",
            F.col("_qv").alias("_v"),
        )
    base = assigned.select(
        id_col, "_cell", "_v", norm(F.col("_v")).alias("_n")
    )
    a = base.select(
        F.col("_cell"),
        F.col(id_col).alias("id_a"),
        F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    )
    b = base.select(
        F.col("_cell"),
        F.col(id_col).alias("id_b"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    cos = dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return (
        a.join(b, on="_cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.round(cos, 6) >= threshold)
        .select("id_a", "id_b")
    )


def embedding_bucket_store(
    df: DataFrame,
    dim: int,
    n_planes: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The persisted SEMANTIC near-dup index rows for a corpus slice:
    (id, bucket, vector) — the embedding sibling of the exact /
    MinHash / SimHash stores, closing the incremental QUADRIAD: all
    four dedup families now have store-backed ingest paths. Append
    one batch's rows per ingest. Unlike the hash stores the vector
    itself rides in the index — the exact-cosine confirm needs it —
    but that is still one bucketed row per historical vector, read
    bucket-pruned, with source text/media never rescanned. Partition
    or bucket the store on ``bucket`` so the incremental join prunes
    at the file index (the `_b`-partitioned ANN layout pattern).

    SINGLE plane family by design: the banded recall recovery
    (``cosine_near_dup_lsh(n_bands)``, SCALE.md r12) would cost b×
    stored vectors here because the vector rides in every index row —
    a banded store wants the (id, band, bucket) index split from one
    (id, vector) table, a schema change deliberately deferred; until
    then size the store family's recall with the measured single-band
    table (0.899^planes), not the banded one."""
    return df.select(
        id_col,
        hyperplane_bucket(vec_col, dim, n_planes).alias("bucket"),
        F.col(vec_col).alias(vec_col),
    )


def incremental_semantic_pairs(
    new_vecs: DataFrame,
    store: DataFrame | str,
    threshold: float,
    dim: int,
    n_planes: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Semantic near-dup pairs of an incoming batch AGAINST THE
    PERSISTED EMBEDDING BUCKET STORE: (new_id, stored_id, cos_sim)
    with cosine ≥ threshold, exact within LSH buckets. Batch buckets
    are computed fresh with the same md5-literal planes; history
    contributes stored (id, bucket, vector) rows only — bucket-pruned,
    never an all-pairs scan of history. Same plane family as the
    batch self-join path (:func:`cosine_near_dup_lsh`), so a pair is
    found here iff the pooled self-join restricted to batch × history
    would find it (golden-pinned). A string ``store`` loads with its
    ``sidecar.SEMANTIC`` family checked.
    ``new_id != stored_id`` pairs only: a foreachBatch replay that
    re-joins a batch against its own partially-appended store rows
    (at-least-once sinks append before the checkpoint commits) must
    not emit (x, x) self-pairs."""
    if isinstance(store, str):
        store = sidecar.load(
            new_vecs.sparkSession, store, sidecar.SEMANTIC,
            dim=dim, n_planes=n_planes,
        )
    nb = embedding_bucket_store(
        new_vecs, dim, n_planes, vec_col, id_col
    ).select(
        F.col(id_col).alias("new_id"),
        "bucket",
        F.col(vec_col).cast("array<double>").alias("_vn"),
    )
    nb = nb.select("new_id", "bucket", "_vn", norm(F.col("_vn")).alias("_nn"))
    sb = store.select(
        F.col(id_col).alias("stored_id"),
        "bucket",
        F.col(vec_col).cast("array<double>").alias("_vs"),
    ).select(
        "stored_id", "bucket", "_vs", norm(F.col("_vs")).alias("_ns")
    )
    cos = dot(F.col("_vn"), F.col("_vs")) / (F.col("_nn") * F.col("_ns"))
    return (
        nb.join(sb, on="bucket")
        .filter(F.col("new_id") != F.col("stored_id"))
        .select(
            "new_id", "stored_id", F.round(cos, 6).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
        .distinct()
    )


# ---- LSH (random hyperplane / sign) path ----


def plane_component_value(plane: int, d: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    top 60 bits of md5("rh:{plane}:{d}") scaled. Computed driver-side
    and injected as a literal — constant-folded by Spark, bit-identical
    in Python for query-side bucket computation, and trivially
    reproducible by a SQL oracle. (Replaces an xxhash64 column
    expression whose [-1, 1] range depended on Java signed ``%``.)"""
    h = int(hashlib.md5(f"rh:{plane}:{d}".encode()).hexdigest()[:15], 16)
    return h / float(1 << 59) - 1.0


def bucket_value(vec: list[float], n_planes: int) -> int:
    """Python twin of :func:`hyperplane_bucket` for a driver-side
    query vector — same sequential dot-product order, so the IEEE
    result (and the sign bits) match the Spark expression exactly."""
    b = 0
    for p in range(n_planes):
        proj = 0.0
        for d, x in enumerate(vec):
            proj += float(x) * plane_component_value(p, d)
        if proj > 0:
            b |= 1 << p
    return b


def _plane_component(plane: int, dim: int) -> Column:
    return F.lit(plane_component_value(plane, dim))


def hyperplane_bucket(
    vec: Column | str, dim: int, n_planes: int = 12, plane_offset: int = 0
) -> Column:
    """LSH bucket id: n_planes sign bits of <vec, plane_p>.
    ``plane_offset`` selects an INDEPENDENT plane family from the
    same md5 keyspace (band b uses planes [b·n, (b+1)·n)) — the
    banded variant's per-band bucket; offset 0 is byte-identical to
    the historical single-family bucket, so existing oracles and
    stores are unaffected.

    Pass the vector COLUMN NAME where possible: the name form builds
    the identical expression tree as ONE SQL string (repr-round-trip
    double literals, same dot-product order), while the Column form
    pays ~n_planes×dim py4j literal round-trips (measured 0.5-0.8 s
    of driver time per call at dim 16-64 — the lsh_bands lesson).
    Same plan, same results (r18 A/B: 0 differing bucket values)."""
    if isinstance(vec, str):
        cast_vec = f"CAST(`{vec}` AS ARRAY<DOUBLE>)"
        terms = ["CAST(0 AS BIGINT)"]
        for p in range(plane_offset, plane_offset + n_planes):
            comps = ", ".join(
                f"{plane_component_value(p, d)!r}D" for d in range(dim)
            )
            proj = (
                f"aggregate(zip_with({cast_vec}, array({comps}), "
                f"(x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"
            )
            terms.append(
                f"(CASE WHEN ({proj}) > 0 THEN "
                f"shiftleft(CAST(1 AS BIGINT), {p - plane_offset}) "
                f"ELSE CAST(0 AS BIGINT) END)"
            )
        return F.expr(" + ".join(terms))
    bucket = F.lit(0).cast("long")
    for p in range(plane_offset, plane_offset + n_planes):
        proj = F.lit(0.0)
        # static unroll over dimensions: constant-folded plane values
        comps = F.array(*[_plane_component(p, d) for d in range(dim)])
        proj = dot(vec.cast("array<double>"), comps)
        bucket = bucket + F.when(
            proj > 0, F.shiftleft(F.lit(1).cast("long"), p - plane_offset)
        ).otherwise(F.lit(0).cast("long"))
    return bucket


def lsh_ann_topk(
    df: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probes: int = 1,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH
    bucket. ``n_probes > 1`` enables classic multi-probe: also search
    the buckets at Hamming distance 1 from the query's (one sign-bit
    flip each) — recall rises toward exact at the cost of probing up
    to ``1 + n_planes`` buckets. At scale, write the table
    bucketed/partitioned by ``_bucket`` so each probe is a
    partition-pruned lookup."""
    q = [float(v) for v in query_vec]
    # the query's bucket is computed driver-side (bit-identical Python
    # twin of the Spark expression) — no extra job
    qbucket = bucket_value(q, n_planes)
    probes = [qbucket] + [qbucket ^ (1 << p) for p in range(n_planes)]
    probes = probes[: max(1, n_probes)]

    bucketed = df.withColumn(
        "_bucket", hyperplane_bucket(vec_col, dim, n_planes)
    ).filter(F.col("_bucket").isin(probes))
    return brute_force_topk(bucketed, q, k, vec_col, id_col)


# ---- IVF-style coarse quantization ----


# Above this cell count the literal-expression argmin stops being the
# fast path: the expression tree is n_cells structs × dim-long
# zip_with/aggregate lambdas (512 cells × 64 dims ≈ 33k sub-exprs per
# row), which falls out of whole-stage codegen and evaluates
# interpreted — the r9 live-512-cell run measured it as the wall
# (minutes per scan vs milliseconds for the numpy matmul). High cell
# counts switch to the Arrow path: one ||c||²−2·v@cᵀ argmin per batch,
# the same kernel ivf_pq_index already uses.
IVF_EXPR_MAX_CELLS = 64

# residual ADC dispatch: total element_at LOOKUPS (n_probes × m) a
# CASE chain may inline before janino's 64 KB method limit. The unit
# is lookups, not LUT literals: Catalyst constant-folds each literal
# array into one object, but every element_at inlines bounds-checking
# code and the When branches nest — the measured 512-cell/32-probe
# failure (m=8 → 256 lookups) had only 4k literals yet blew the
# method ("Code grows beyond 64 KB", interpreted fallback, 9.96
# s/query vs 0.52 — SCALE.md r11), while the proven-green
# non-residual single-LUT path is 16 lookups. Above this bound the
# Arrow gather path takes over (same ranking, equality golden).
RESIDUAL_ADC_EXPR_MAX_LOOKUPS = 64

# distortion drifts far more gently than candidate volume (it is a
# mean, not a join fan-out), so the rebuild threshold is tighter than
# the setsim monitor's 4x
DISTORTION_DEFAULT_FACTOR = 2.0

# PQ codebook training: total multiply-adds (m × k × sub_dim) the
# expression argmin may inline per row before janino's 64 KB method
# limit makes every training iteration fall back to interpreted eval
# (measured live at m=8 × k=16 × sub=8 = 1024; the test fixtures'
# m=4 × k=8 × sub=16 = 512 compiles). Above this the assignment goes
# through pq_encode_arrow — bit-identical codes, identical books.
PQ_TRAIN_EXPR_MAX_OPS = 512


def ivf_assign_arrow(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched nearest-centroid assignment: numpy matmul argmin
    per batch (mapInPandas), O(batch × n_cells × dim) in BLAS. Adds
    ``_cell``; rows with null / wrong-length vectors get null (they
    cannot be assigned — the ivf_pq_index contract; the expression
    path handles those rows differently, and the equality golden
    exempts them by design). Agrees with the expression path on every
    assignable row EXCEPT floating-point near-ties: this path ranks
    cells by ``||c||² − 2·v@c`` via BLAS while the expression path
    folds ``Σ(x−c)²`` — the two round differently, so a vector
    equidistant-to-rounding between two centroids can land in either
    cell (ADVICE r9). Exact index ties at equal float64 distance
    break to the lowest cell index on both. Any assignment is a
    CORRECT IVF index — nearest-centroid choice on a tie only shifts
    which cell a probe must visit — so the golden pins cell-for-cell
    equality only on the tie-free fixture (tests/test_ann_recall.py)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    cents = np.asarray(centroids, dtype=np.float64)
    cent_norm = np.sum(cents * cents, axis=1)
    dim = cents.shape[1]
    out_schema = StructType(
        list(df.schema.fields) + [StructField("_cell", IntegerType())]
    )

    def assign(batches):
        for pdf in batches:
            ok = pdf[vec_col].map(
                lambda v: v is not None and len(v) == dim
            ).to_numpy()
            cell = pd.array([None] * len(pdf), dtype="Int32")
            if ok.any():
                vecs = np.stack(
                    pdf.loc[ok, vec_col].to_numpy()
                ).astype(np.float64)
                cell[ok] = np.argmin(
                    cent_norm[None, :] - 2 * (vecs @ cents.T), axis=1
                ).astype(np.int32)
            out = pdf.copy()
            out["_cell"] = cell
            yield out

    return df.mapInPandas(assign, out_schema)


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (L2). Adds
    ``_cell``. Small centroid lists use literal arrays —
    constant-folded, codegen'd, no join, no Python; above
    ``IVF_EXPR_MAX_CELLS`` the Arrow matmul path takes over (same
    result, measured ~100× at 512 cells)."""
    if len(centroids) > IVF_EXPR_MAX_CELLS:
        return ivf_assign_arrow(df, centroids, vec_col)

    def l2(a: Column, c: list[float]) -> Column:
        carr = F.array(*[F.lit(float(x)) for x in c])
        return F.aggregate(
            F.zip_with(a, carr, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    v = F.col(vec_col).cast("array<double>")
    dists = F.array(
        *[
            F.struct(l2(v, c).alias("d"), F.lit(i).alias("cell"))
            for i, c in enumerate(centroids)
        ]
    )
    return df.withColumn("_cell", F.array_min(dists)["cell"])


def train_centroids(
    df: DataFrame,
    n_cells: int,
    dim: int,
    vec_col: str = "embedding",
    iters: int = 3,
) -> list[list[float]]:
    """Tiny k-means for IVF coarse centroids: deterministic init from
    evenly-sampled rows, then ``iters`` assign/average rounds. The
    per-iter state that crosses the driver boundary is only
    n_cells×dim floats."""
    first = (
        df.select(F.col(vec_col).cast("array<double>").alias("v"))
        .limit(n_cells)
        .collect()
    )
    centroids = [list(r["v"]) for r in first]
    for _ in range(iters):
        assigned = ivf_assign(df, centroids, vec_col)
        # Scale path: posexplode to (cell, dim, component) and sum —
        # never materializes a cell's vectors in one executor buffer
        # (each partial aggregate holds n_cells×dim doubles at most).
        sums = (
            assigned.select(
                "_cell",
                F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                    "_dim", "_x"
                ),
            )
            .groupBy("_cell", "_dim")
            .agg(F.sum("_x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        acc: dict[int, list[float]] = {}
        for r in sums:
            acc.setdefault(r["_cell"], [0.0] * dim)[r["_dim"]] = r["s"] / r["n"]
        for cell, vec in acc.items():
            centroids[cell] = vec
    return centroids


def ivf_topk(
    df: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    n_probes: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF search: score only the vectors assigned to the ``n_probes``
    cells whose centroids are nearest the query (cell choice is
    driver-side arithmetic over the tiny centroid list). n_probes=1 is
    the fastest/lowest-recall point; n_probes=len(centroids) degrades
    to exact search."""
    q = [float(v) for v in query_vec]
    d2 = sorted(
        (sum((a - b) ** 2 for a, b in zip(q, c)), i)
        for i, c in enumerate(centroids)
    )
    cells = [i for _, i in d2[: max(1, n_probes)]]
    assigned = ivf_assign(df, centroids, vec_col)
    return brute_force_topk(
        assigned.filter(F.col("_cell").isin(cells)), q, k, vec_col, id_col
    )


def ivf_topk_batch(
    df: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probes: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_broadcast_queries: int = 10_000,
    max_cell_width: int | None = None,
) -> DataFrame:
    """IVF search for EVERY row of a query TABLE in one pass — the
    production shape: a batch of queries amortizes the corpus
    assignment and index scan that :func:`ivf_topk` pays per call
    (one Spark job per query vector is driver-bound long before the
    cluster is busy). Returns (query_id, id, cos_sim) with per-query
    rank ≤ k (cosine desc on the 6-d.p. rounded value, id asc).

    Plan shape: probe cells per query are ranked on the
    queries × n_cells grid (literal centroid table); the
    (query_id, cell, qvec) probe table then joins the assigned corpus
    on ``_cell``, so the corpus is scanned ONCE for the whole batch
    and only probed cells ever score. Up to ``max_broadcast_queries``
    the probe table BROADCASTS (no shuffle of the corpus at all);
    above it — pipeline-scale batches: k-NN graph construction,
    re-embedding a shard — the join falls back to a plain shuffle on
    ``_cell``, which repartitions both sides by cell. The shuffle
    route's parallelism is bounded by n_cells (each cell is one join
    key), so size the index so n_cells ≥ the shuffle partition count
    at this scale — the IVF frontier rule in SCALE.md wants that
    anyway — and leave AQE skew handling on for hot cells.
    ``max_cell_width`` is the skew FENCE for degenerate cells (a
    mega-duplicate cluster or a drifted corpus piled on one stale
    centroid): cells wider than the cap are excluded from both join
    sides and surfaced by :func:`oversized_ivf_cells` — the LSH
    bucket-width guard's IVF twin. Default off; results are identical
    whenever no cell exceeds the cap (golden-pinned). Same L2
    fold and tie-breaks as :func:`ivf_topk` / :func:`ivf_assign`
    (first-index on equal distance), so a 1-row query table
    reproduces ivf_topk exactly (golden-pinned), and both join routes
    emit identical rows (equality golden)."""
    scored = _ivf_batch_scored(
        df, queries, centroids, n_probes, vec_col, id_col,
        max_broadcast_queries, max_cell_width,
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc(id_col)
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w_rank))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def mine_hard_negatives(
    df: DataFrame,
    queries: DataFrame,
    positives: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probes: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_broadcast_queries: int = 10_000,
    max_broadcast_positives: int = 1_000_000,
) -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training: for
    every query, the k highest-cosine corpus rows that are NOT its
    known positives — the near-misses a trained ranker must learn to
    push down (the standard in-batch-negatives upgrade; e.g. DPR /
    sentence-transformers mining loops). ``positives`` is a
    (query_id, id) relevance table; exclusion happens BEFORE the
    per-query rank, so each query still gets k true negatives even
    when its positives top the similarity list (the
    :func:`knn_graph` self-exclusion contract, generalized to a
    relevance table — self-pairs are excluded too, a query embedded
    in the corpus is never its own negative).

    100 TB: the scoring pass is :func:`ivf_topk_batch`'s plan
    (corpus scanned once per batch, probed cells only, broadcast or
    ``_cell``-shuffle route by batch size); the positives exclusion
    is one anti-join on (query_id, id) — BROADCAST while the
    relevance table stays under ``max_broadcast_positives`` pairs
    (two int columns; a sort-merge anti would exchange the
    corpus-sized scored set on a key the rank window immediately
    re-exchanges), shuffle above it — a real keyword (not a module
    constant) so memory-tight executors can lower it (ADVICE r14).
    Returns (query_id, id, cos_sim) with per-query rank ≤ k."""
    scored = _ivf_batch_scored(
        df, queries, centroids, n_probes, vec_col, id_col,
        max_broadcast_queries,
    ).filter(F.col("query_id") != F.col(id_col))
    pos = positives.select(
        F.col(positives.columns[0]).alias("query_id"),
        F.col(positives.columns[1]).alias(id_col),
    )
    n_pos = pos.limit(max_broadcast_positives + 1).count()
    if n_pos <= max_broadcast_positives:
        # bcast-bound: <= max_broadcast_positives (query_id, id) int
        #   pairs (count checked above) — ~16 MB at the 1M cap
        pos = F.broadcast(pos)
    negs = scored.join(pos, on=["query_id", id_col], how="anti")
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc(id_col)
    )
    return (
        negs.withColumn("_rk", F.row_number().over(w_rank))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def oversized_ivf_cells(
    df: DataFrame,
    centroids: list[list[float]],
    max_cell_width: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """The cells a ``max_cell_width`` fence would exclude:
    (_cell, width) for every cell holding more than ``max_cell_width``
    corpus vectors — the batch-IVF shuffle route's one skew channel
    (VERDICT r12 #5 / r13 #6). A cell this hot is a quantizer-quality
    signal (a near-dup mega-cluster collapsed into one cell, or a
    drifted corpus piling onto a stale centroid — the distortion
    monitor's spatial complement): surfaced WITHOUT materializing the
    quadratic probe×candidate traffic it would generate. Remediate
    with :func:`rebuild_ivf_index` (more cells / fresh centroids), or
    route the cell's members through the dedup stack if it IS one
    duplicate group."""
    return (
        ivf_assign(df, centroids, vec_col)
        .groupBy("_cell")
        .agg(F.count(F.lit(1)).alias("width"))
        .filter(F.col("width") > max_cell_width)
    )


def _ivf_batch_scored(
    df: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    n_probes: int,
    vec_col: str,
    id_col: str,
    max_broadcast_queries: int,
    max_cell_width: int | None = None,
) -> DataFrame:
    """Shared batch-IVF scoring plan (:func:`ivf_topk_batch` minus the
    final per-query rank): (query_id, id, cos_sim) for every
    probed-cell corpus row — :func:`knn_graph` applies its
    self-exclusion BEFORE the rank so each node still gets k
    neighbors."""
    n_q = queries.limit(max_broadcast_queries + 1).count()
    broadcastable = n_q <= max_broadcast_queries
    # Unassignable query rows (null / wrong-length vectors) are
    # dropped HERE, ahead of the route split, so both probe paths see
    # the identical query set — the expression grid would otherwise
    # keep them (NULL d² sorts NULLS FIRST into the probe pick, and a
    # short vector scores cos 1.0 against itself via zip_with
    # truncation) while the Arrow path drops them (r14 review).
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    ).filter(
        F.col("_qv").isNotNull()
        & (F.size("_qv") == len(centroids[0]))
    )
    if len(centroids) > IVF_EXPR_MAX_CELLS or not broadcastable:
        # the queries × n_cells probe grid pays n_cells fold
        # distances PER QUERY ROW in expression code — quadratic in
        # whichever of (cells, queries) grows. Route through the
        # Arrow argpartition path (one BLAS matmul per batch; the
        # ivf_assign switch applied to probe ranking, same near-tie
        # rounding caveat) when EITHER the cell count exceeds the
        # expression budget or the query table is corpus-sized
        # (knn_graph, SCALE.md r14: the 2k-node shuffle-route base
        # fell 9.98 s -> 6.87 s on this switch and the 10x/640-cell
        # run landed at 1.83 s). Oracle-pinned queries
        # (small batches, small seed grids) keep the expression path
        # and its DuckDB-exact fold arithmetic.
        probes = _probe_cells_arrow(q, centroids, n_probes)
    else:
        # expr-string literal (the lsh_bands lesson): n_cells ×
        # dim F.lit Columns cost seconds of py4j at 512×64; one SQL
        # string parses JVM-side and constant-folds identically
        cents2d = F.expr(
            "array(%s)"
            % ",".join(
                "array(%s)" % ",".join(repr(float(x)) for x in c)
                for c in centroids
            )
        )
        qc = q.select(
            "query_id", "_qv", F.posexplode(cents2d).alias("_ci", "_cv")
        )
        d2 = F.aggregate(
            F.zip_with(
                F.col("_qv"), F.col("_cv"), lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        w_probe = Window.partitionBy("query_id").orderBy(
            F.asc("_d2"), F.asc("_ci")
        )
        probes = (
            qc.withColumn("_d2", d2)
            .withColumn("_rn", F.row_number().over(w_probe))
            .filter(F.col("_rn") <= max(1, n_probes))
            .select("query_id", "_qv", F.col("_ci").alias("_cell"))
        )
    assigned = ivf_assign(df, centroids, vec_col)
    if max_cell_width is not None:
        # skew fence: drop cells wider than the cap from BOTH sides of
        # the probe join — one hot cell otherwise funnels
        # width × probing-queries rows through a single join key.
        # The width aggregation derives from the SAME persisted
        # assignment the probe join reads (one corpus-assignment pass,
        # not two — r14 review); the collect is bounded by n_cells
        # rows (a model constant, the maybe_broadcast rationale).
        # Fenced cells are a quantizer defect — the standalone
        # oversized_ivf_cells report names them for remediation.
        from cybersecurity_miw_spark.cache import tracked_persist

        assigned = tracked_persist(
            assigned.select(id_col, vec_col, "_cell")
        )
        hot = [
            r["_cell"]
            for r in assigned.groupBy("_cell")
            .agg(F.count(F.lit(1)).alias("width"))
            .filter(F.col("width") > max_cell_width)
            .collect()
        ]
        if hot:
            assigned = assigned.filter(~F.col("_cell").isin(hot))
            probes = probes.filter(~F.col("_cell").isin(hot))
    if broadcastable:
        # bcast-bound: probes <= max_broadcast_queries * n_probes rows
        #   (count checked above; n_probes <= n_cells, a model constant)
        joined = assigned.join(F.broadcast(probes), on="_cell")
    else:
        # corpus-sized query table: both sides shuffle on _cell —
        # never raise, the batch is the operator's whole point
        joined = assigned.join(probes, on="_cell")
    return joined.select(
        "query_id",
        F.col(id_col),
        F.round(
            cosine(F.col(vec_col).cast("array<double>"), F.col("_qv")), 6
        ).alias("cos_sim"),
    )


def _probe_cells_arrow(
    q: DataFrame,
    centroids: list[list[float]],
    n_probes: int,
) -> DataFrame:
    """Arrow-batched probe-cell ranking for large cell counts:
    per-query nearest ``n_probes`` cells via one numpy matmul +
    argsort per batch — O(batch × n_cells × dim) in BLAS instead of
    n_cells fold-expression distances per query row. Emits
    (query_id, _qv, _cell), one row per probe. Ranking matches the
    expression path — (d², cell-index asc) — up to the ivf_assign
    Arrow/expression near-tie rounding caveat (``||c||² − 2·q@c``
    vs folded ``Σ(x−c)²``); exact ties break to the lower cell on
    both paths."""
    import numpy as np

    cents = np.asarray(centroids, dtype=np.float64)
    cent_norm = np.sum(cents * cents, axis=1)
    dim = cents.shape[1]
    n_p = max(1, min(int(n_probes), len(centroids)))
    schema = q.schema

    def rank(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.stack(
                [
                    np.asarray(v, dtype=np.float64)
                    if v is not None and len(v) == dim
                    else np.full(dim, np.nan)
                    for v in pdf["_qv"]
                ]
            )
            d2 = cent_norm[None, :] - 2.0 * (vecs @ cents.T)
            # stable argsort on d2 keeps the cell-index-asc tie-break
            order = np.argsort(d2, axis=1, kind="stable")[:, :n_p]
            out = pdf.loc[pdf.index.repeat(n_p)].reset_index(drop=True)
            out["_cell"] = order.reshape(-1).astype("int32")
            # unassignable rows (null/short vectors): normally
            # pre-filtered by _ivf_batch_scored before the route
            # split; kept as a second guard for direct callers —
            # NaN distances would otherwise still emit
            ok = ~np.isnan(d2).all(axis=1)
            yield out[np.repeat(ok, n_p)]

    from pyspark.sql.types import IntegerType, StructField, StructType

    out_schema = StructType(
        list(schema.fields) + [StructField("_cell", IntegerType())]
    )
    return q.mapInPandas(rank, schema=out_schema)


def knn_graph(
    df: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probes: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    symmetric: bool = False,
    max_broadcast_queries: int = 10_000,
    max_cell_width: int | None = None,
) -> DataFrame:
    """Approximate k-NN GRAPH over an embedding corpus — every row is
    simultaneously a query and a candidate: ``ivf_topk_batch(df, df)``
    with self-pairs excluded (VERDICT r12 #6 / r13 #7). Returns
    ``(src, dst, cos_sim)`` with per-src rank ≤ k over cosine desc
    (6-d.p. rounded, ``dst`` asc tie-break) — the building block for
    graph-based dedup (connected components over high-cos edges),
    curriculum/neighbor mining, and label propagation.

    Self-exclusion happens BEFORE the per-src rank, so each node gets
    k true neighbors (an exact-duplicate corpus doesn't eat rank 1
    with src==dst). ``symmetric=True`` unions each directed edge with
    its reverse and dedups — cosine is symmetric, so the reverse edge
    carries the identical rounded score and the result is a proper
    undirected adjacency list (a–b present iff a is in b's top-k OR b
    in a's); node degree then varies in [k, 2k].

    100 TB: the corpus IS the query table, so the probe join always
    takes the shuffle route — both sides repartition on ``_cell``,
    corpus scanned once for assignment and once as candidates, never
    all-pairs (each src scores only its probed cells). Parallelism is
    bounded by n_cells: size the index per the IVF frontier rule
    (n_cells ≥ shuffle partitions) and leave AQE skew-join on for hot
    cells. Recall follows the IVF geometry — raise ``n_probes`` for
    boundary nodes, same trade as :func:`ivf_topk_batch`
    (reference analog: the reference's kmeans/knn app family,
    app/kmeans*.cc — here as one declarative plan)."""
    scored = _ivf_batch_scored(
        df, df, centroids, n_probes, vec_col, id_col,
        max_broadcast_queries, max_cell_width,
    ).filter(F.col("query_id") != F.col(id_col))
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc(id_col)
    )
    edges = (
        scored.withColumn("_rk", F.row_number().over(w_rank))
        .filter(F.col("_rk") <= k)
        .select(
            F.col("query_id").alias("src"),
            F.col(id_col).alias("dst"),
            "cos_sim",
        )
    )
    if symmetric:
        edges = edges.unionByName(
            edges.select(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                "cos_sim",
            )
        ).distinct()
    return edges


# ---- embedding hygiene: normalization and quantization ----


def l2_normalize(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "embedding_unit"
) -> DataFrame:
    """Unit-normalize an embedding column (zero vectors pass through
    unchanged). Norm is computed once per vector in a staged
    projection; pure JVM array arithmetic."""
    base = df.select(
        "*", norm(F.col(vec_col).cast("array<double>")).alias("_n")
    )
    unit = F.transform(
        F.col(vec_col).cast("array<double>"), lambda x: x / F.col("_n")
    )
    return base.withColumn(
        out_col,
        F.when(F.col("_n") == 0.0, F.col(vec_col).cast("array<double>"))
        .otherwise(unit),
    ).drop("_n")


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "embedding_q8",
    scale_col: str = "q8_scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = 127/max|x|,
    q = floor(x*scale + 0.5) (explicit half-up — Spark's round and
    DuckDB's disagree on exact halves). Zero vectors quantize to zeros
    with scale 0. The 4x (float32) / 8x (float64) shrink is what makes
    a 100 TB embedding corpus shuffle-able."""
    v = F.col(vec_col).cast("array<double>")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(amax == 0.0, F.lit(0.0)).otherwise(F.lit(127.0) / amax)
    base = df.select("*", scale.alias(scale_col))
    q = F.transform(
        v, lambda x: F.floor(x * F.col(scale_col) + F.lit(0.5)).cast("int")
    )
    return base.withColumn(out_col, q)


def brute_force_topk_arrow(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy (mapInPandas).

    The JVM fold (:func:`brute_force_topk`) evaluates the dot through
    interpreted higher-order lambdas; numpy's BLAS matmul over Arrow
    batches is ~3x faster at 100k x 64 dims (0.45 s vs 1.47 s warm,
    local[16]) and widens with dimension — the one hot path in this
    repo where Python-with-Arrow beats the built-in expressions.
    Results match the JVM path (both round to 1e-6; a sum-order
    divergence inside that rounding is possible in principle — use one
    variant consistently within a pipeline).

    Null/short vectors are filtered BEFORE the Arrow stage (np.stack
    would crash the batch): the JVM path ranks them last with a null
    score; here they simply cannot enter the top-k — same observable
    top-k for valid rows."""
    import numpy as np
    import pandas as pd

    q = np.asarray([float(v) for v in query_vec], dtype=np.float64)
    qn = float(np.linalg.norm(q))

    def score(batches):
        for pdf in batches:
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cos = np.round((m @ q) / (np.linalg.norm(m, axis=1) * qn), 6)
            yield pd.DataFrame({id_col: pdf[id_col], "cos_sim": cos})

    valid = df.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == len(q))
    )
    scored = valid.select(id_col, vec_col).mapInPandas(
        score, f"{id_col} long, cos_sim double"
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def pairwise_topk_lsh(
    df: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k neighbors for EVERY query row at scale: both
    sides are hyperplane-bucketed and joined on the bucket id (uniform
    key, skew-free shuffle, never a crossJoin), then window-ranked per
    query. The scale path behind :func:`pairwise_topk`'s broadcast
    guard — recall is tuned by lowering n_planes. Candidates are only
    same-bucket pairs, so a query's result may hold fewer than k rows."""
    base = staged(
        df.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("_v"),
            hyperplane_bucket(vec_col, dim, n_planes).alias("_bucket"),
        ).select(id_col, "_v", "_bucket", norm(F.col("_v")).alias("_n"))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
        hyperplane_bucket(vec_col, dim, n_planes).alias("_bucket"),
    ).select(
        "query_id", "_qv", "_bucket", norm(F.col("_qv")).alias("_qn")
    )
    joined = base.join(q, on="_bucket").filter(
        F.col(id_col) != F.col("query_id")
    )
    cos = dot(F.col("_v"), F.col("_qv")) / (F.col("_n") * F.col("_qn"))
    scored = joined.select(
        "query_id", F.col(id_col), F.round(cos, 6).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


# ---- product quantization (PQ): codebooks + asymmetric-distance scan ----
#
# The compression step AFTER int8 for a 100 TB embedding corpus: a
# dim-64 float64 vector (512 B) becomes m one-byte codes (m=4 here →
# 4 B, 128x). Jégou et al., "Product Quantization for Nearest
# Neighbor Search" (TPAMI 2011) — public method. Everything is
# integer-exact: vectors quantize to ints (floor(x*scale), the
# repo's standard oracle-stable trick), codebook entries are ints,
# so encode argmins and ADC sums are bit-identical across engines.

PQ_SCALE = 1000


def pq_codebook_value(s: int, j: int, d: int) -> int:
    """Deterministic pseudo-random codebook component in [-500, 500):
    md5("pq:{s}:{j}:{d}") — driver-computed literal, reproducible by
    the SQL oracle (same pattern as plane_component_value)."""
    h = int(hashlib.md5(f"pq:{s}:{j}:{d}".encode()).hexdigest()[:15], 16)
    return h % 1000 - 500


def static_pq_codebooks(dim: int, m: int, k: int) -> list[list[list[int]]]:
    """codebooks[s][j] = integer centroid for subspace s, code j."""
    sub = dim // m
    return [
        [[pq_codebook_value(s, j, d) for d in range(sub)] for j in range(k)]
        for s in range(m)
    ]


def int_vec(col: Column, scale: int = PQ_SCALE) -> Column:
    """floor(x*scale) integer quantization (array<long>) — the exact
    arithmetic domain shared with the DuckDB oracle."""
    return F.transform(
        col.cast("array<double>"),
        lambda x: F.floor(x * F.lit(float(scale))).cast("long"),
    )


def _sub_l2_int(sub: Column, centroid: list[int]) -> Column:
    carr = F.array(*[F.lit(int(c)).cast("long") for c in centroid])
    return F.aggregate(
        F.zip_with(sub, carr, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _sub_score_int(elems: list[Column], centroid: list[int]) -> Column:
    """||v - c||^2 minus the centroid-independent ||v||^2 term:
    ||c||^2 - 2<v, c>, as FLAT arithmetic over pre-extracted element
    columns — no higher-order functions. Dropping ||v||^2 preserves
    the argmin (it is constant across centroids). The full m×k
    expression tree exceeds janino's 64 KB method limit, so Spark
    evaluates it interpreted — still measured 6x faster than the
    aggregate/zip_with lambda variant of :func:`_sub_l2_int` (flat
    node-per-op interpretation beats per-element lambda dispatch),
    and the production write path is :func:`pq_encode_arrow` anyway
    (34x again)."""
    c2 = sum(int(c) * int(c) for c in centroid)
    score: Column = F.lit(int(c2)).cast("long")
    for e, c in zip(elems, centroid):
        if int(c) != 0:
            score = score - F.lit(2 * int(c)).cast("long") * e
    return score


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[int]]],
    vec_col: str = "embedding",
    out_col: str = "pq_code",
    scale: int = PQ_SCALE,
) -> DataFrame:
    """Assign each subvector its nearest codebook entry (integer L2,
    first-index tie-break — array_min over (dist, j) structs). Narrow
    projection: no shuffle, no Python; codebook entries are constant-
    folded literals."""
    m = len(codebooks)
    sub_dim = len(codebooks[0][0])
    from cybersecurity_miw_spark.functions.cols import staged_expr

    # stage the quantized array ONCE: every element reference below
    # would otherwise re-inline the full int_vec transform (Catalyst
    # collapses projections), multiplying the per-row transform by
    # m*k uses
    base = df.withColumn(
        "_pq_iv", staged_expr(int_vec(F.col(vec_col), scale))
    )
    iv = F.col("_pq_iv")
    elem_cols = {
        d: F.element_at(iv, d + 1) for d in range(m * sub_dim)
    }
    codes = []
    for s in range(m):
        elems = [elem_cols[s * sub_dim + d] for d in range(sub_dim)]
        dists = F.array(
            *[
                F.struct(
                    _sub_score_int(elems, codebooks[s][j]).alias("d"),
                    F.lit(j).alias("j"),
                )
                for j in range(len(codebooks[s]))
            ]
        )
        codes.append(F.array_min(dists)["j"])
    # a null/short embedding must yield NULL codes (→ null ADC distance,
    # ranked last), not code 0: element_at past the end returns null,
    # the struct's 'd' field goes null, and array_min's struct ordering
    # sorts null FIRST — silently electing centroid 0 with a spurious
    # finite distance. Guard on the staged vector's length instead.
    valid = iv.isNotNull() & (F.size(iv) >= m * sub_dim)
    return base.withColumn(
        out_col, F.when(valid, F.array(*codes))
    ).drop("_pq_iv")


def pq_adc_topk(
    df: DataFrame,
    codebooks: list[list[list[int]]],
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = PQ_SCALE,
    use_arrow: bool = False,
) -> DataFrame:
    """Asymmetric-distance top-k: the query stays exact (integer-
    quantized), each row's distance is the sum of m lookup-table
    entries selected by its PQ codes — Σ_s LUT[s][code_s] with
    LUT[s][j] = ||q_sub_s − c_sj||² precomputed driver-side. The scan
    reads only the code column (4 B/row at m=4): at 100 TB this is
    the difference between scanning codes and scanning vectors.
    TakeOrdered(k) — no global sort.

    ``use_arrow`` selects the Arrow/numpy batch encoder
    (:func:`pq_encode_arrow`, the production write path — ~34x the
    expression encoder at sf0.1) instead of the expression path;
    codes are bit-identical on valid rows (pinned by
    tests/test_pq.py), so the top-k is unchanged wherever vectors
    are non-null and full-width."""
    lut = pq_query_lut(codebooks, query_vec, scale)
    if use_arrow:
        enc = pq_encode_arrow(df, codebooks, vec_col, id_col, scale=scale)
    else:
        enc = pq_encode(df, codebooks, vec_col, scale=scale)
    return pq_adc_topk_codes(enc, lut, k, id_col)


def pq_adc_topk_codes(
    codes_df: DataFrame,
    lut: list[list[int]],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """ADC scan over PRE-ENCODED codes — the per-query hot path at
    scale. Encoding is a one-time write-side projection (store
    ``pq_code`` next to or instead of the vector); each query then
    reads only the m-byte code column and ranks by m lookup-table
    adds. At bench scale (2k vectors) both this and the exact fold are
    scheduling-bound (~0.2 s each, measured); the advantage is
    structural and appears with corpus size: 128x fewer bytes scanned
    and m integer adds per row instead of a dim-length float fold,
    while the one-time encode cost amortizes to zero across queries."""
    dist = _adc_dist_expr(lut, code_col)
    return (
        codes_df.select(id_col, dist.alias("pq_dist"))
        # nulls LAST: a row with a null/short embedding has null codes
        # and a null distance — plain ASC would rank it above every
        # real neighbor (Spark sorts nulls first ascending)
        .orderBy(F.asc_nulls_last("pq_dist"), F.asc(id_col))
        .limit(k)
    )


def _adc_dist_expr(lut: list[list[int]], code_col: str) -> Column:
    """Σ_s LUT[s][code_s] as codegen'd lookups over literal arrays.
    The literal arrays are assembled as ONE SQL string: integer
    literals through py4j cost ~2 round-trips each (a 4×256 LUT
    measured 3 s of pure driver construction per call — the
    lsh_bands lesson); the string form parses JVM-side in ~ms with
    the identical constant-folded tree."""
    terms = ["CAST(0 AS BIGINT)"]
    for s in range(len(lut)):
        arr = ", ".join(f"{int(v)}L" for v in lut[s])
        terms.append(
            f"element_at(array({arr}), "
            f"CAST(`{code_col}`[{s}] AS INT) + 1)"
        )
    dist = F.expr(" + ".join(terms))
    # explicit null-codes guard: element_at over a LITERAL array with a
    # null index returns the LAST element on Spark 4.1 (observed; null
    # does not propagate), so without this a null-coded row — or a row
    # whose code array contains a null ELEMENT — would get lut[s][-1]
    # terms as a finite distance and could outrank real rows
    ok = F.col(code_col).isNotNull() & ~F.exists(
        F.col(code_col), lambda e: e.isNull()
    )
    return F.when(ok, dist)


def pq_query_lut(
    codebooks: list[list[list[int]]],
    query_vec: list[float],
    scale: int = PQ_SCALE,
) -> list[list[int]]:
    """LUT[s][j] = ||q_sub_s - c_sj||^2 in the shared integer domain
    (driver-side, m*k ints)."""
    m = len(codebooks)
    sub_dim = len(codebooks[0][0])
    q = [int(math.floor(x * scale)) for x in query_vec]
    return [
        [
            sum(
                (q[s * sub_dim + d] - codebooks[s][j][d]) ** 2
                for d in range(sub_dim)
            )
            for j in range(len(codebooks[s]))
        ]
        for s in range(m)
    ]


def train_pq_codebooks(
    df: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = PQ_SCALE,
    use_arrow: bool | None = None,
) -> list[list[list[int]]]:
    """Lloyd's k-means per subspace over integer-quantized vectors:
    deterministic init (first k rows by id), assignment via
    :func:`pq_encode` with the current codebooks, centroid update as
    integer mean (Python floor-div on driver-collected sums — only
    m×k×sub_dim ints cross the driver boundary per iteration, the
    same bounded-state shape as train_centroids).

    Above ``PQ_TRAIN_EXPR_MAX_OPS`` total multiply-adds (m × k ×
    sub_dim) the assignment routes through :func:`pq_encode_arrow`
    (codes bit-identical, so the trained books are too): the
    expression argmin's flat tree blows janino's 64 KB method at
    production codebook sizes (measured live at m=8/k=16 on the
    512-cell corpus — one "Code grows beyond 64 KB" interpreted
    fallback per training iteration; SCALE.md r11). ``use_arrow``
    forces a path for testing."""
    sub_dim = dim // m
    if use_arrow is None:
        use_arrow = m * k * sub_dim > PQ_TRAIN_EXPR_MAX_OPS
    first = (
        df.orderBy(id_col)
        .limit(k)
        .select(int_vec(F.col(vec_col), scale).alias("iv"))
        .collect()
    )
    books = [
        [
            [int(r["iv"][s * sub_dim + d]) for d in range(sub_dim)]
            for r in first
        ]
        for s in range(m)
    ]
    for _ in range(iters):
        if use_arrow:
            enc = pq_encode_arrow(
                df, books, vec_col, id_col, scale=scale, with_int_vec=True
            )
            iv_expr = F.col("_pq_iv")
        else:
            enc = pq_encode(df, books, vec_col, scale=scale)
            iv_expr = int_vec(F.col(vec_col), scale)
        sums = (
            enc.select(
                F.posexplode(iv_expr).alias("_dim", "_x"),
                "pq_code",
            )
            .withColumn("_s", (F.col("_dim") / sub_dim).cast("int"))
            .withColumn("_code", F.col("pq_code")[F.col("_s")])
            .groupBy("_s", "_code", "_dim")
            .agg(F.sum("_x").alias("sx"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        acc: dict[tuple[int, int], list[int]] = {}
        for r in sums:
            key = (r["_s"], r["_code"])
            vec = acc.setdefault(key, [None] * sub_dim)
            vec[r["_dim"] - r["_s"] * sub_dim] = int(r["sx"]) // int(r["n"])
        for (s, j), vec in acc.items():
            if all(v is not None for v in vec):
                books[s][j] = vec
    return books


def _np_pq_kernel(codebooks, scale):
    """Shared numpy PQ-encode kernel (one definition so the index
    builder and the standalone encoder can never drift — review
    finding): pandas vector column -> (rows, m) int32 code matrix via
    the integer-exact ||c||^2 - 2<v,c> argmin per subspace."""
    import numpy as np

    m = len(codebooks)
    sub_dim = len(codebooks[0][0])
    cbs = [np.asarray(codebooks[s], dtype=np.int64) for s in range(m)]
    cb_norm = [np.sum(c * c, axis=1) for c in cbs]

    def kernel_mat(vecs):
        iv = np.floor(vecs * scale).astype(np.int64)
        codes = np.empty((len(iv), m), dtype=np.int32)
        for s in range(m):
            sub = iv[:, s * sub_dim : (s + 1) * sub_dim]
            score = cb_norm[s][None, :] - 2 * (sub @ cbs[s].T)
            codes[:, s] = np.argmin(score, axis=1)
        return codes

    def kernel(vec_series):
        return kernel_mat(
            np.stack(vec_series.to_numpy()).astype(np.float64)
        )

    kernel.mat = kernel_mat
    return kernel


def pq_encode_arrow(
    df: DataFrame,
    codebooks: list[list[list[int]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "pq_code",
    scale: int = PQ_SCALE,
    with_int_vec: bool = False,
) -> DataFrame:
    """Write-side PQ encoding as Arrow-batched numpy — the dense
    m×k×sub_dim argmin is a BLAS-shaped kernel (sub @ C.T), exactly
    the brute_force_topk_arrow precedent: ~34x the expression path at
    sf0.1 (measured 0.23 s vs 7.9 s warm, min-of-2) and the gap
    widens with k.
    Integer-exact (int64 throughout, np.argmin first-index tie-break)
    — codes are bit-identical to :func:`pq_encode`, which remains the
    oracle-checked reference. Returns (id_col, out_col), plus the
    quantized ``_pq_iv`` array (== :func:`int_vec`, same
    floor(x·scale) domain) when ``with_int_vec`` — the codebook
    trainer's per-dimension sums read it without a second scan or a
    join back by id."""
    import numpy as np
    import pandas as pd

    kernel = _np_pq_kernel(codebooks, scale)
    dim = len(codebooks) * len(codebooks[0][0])

    def encode(batches):
        for pdf in batches:
            out = {id_col: pdf[id_col], out_col: list(kernel(pdf[vec_col]))}
            if with_int_vec:
                vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                out["_pq_iv"] = list(
                    np.floor(vecs * scale).astype(np.int64)
                )
            yield pd.DataFrame(out)

    # expression-path parity note: pq_encode emits NULL codes for
    # null/short vectors; the Arrow encoder FILTERS them (np.stack
    # cannot hold ragged/None rows) — valid rows are code-identical
    valid = df.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    )
    schema = f"{id_col} long, {out_col} array<int>"
    if with_int_vec:
        schema += ", _pq_iv array<long>"
    return valid.select(id_col, vec_col).mapInPandas(encode, schema)


def residual_vectors(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "residual",
) -> DataFrame:
    """Assign each vector to its nearest coarse cell and subtract that
    centroid: the residual domain PQ codebooks should be trained in
    for a residual IVF+PQ index (FAISS IVFPQ's encoding). All
    expression-side: the centroid table is a 2-D literal array,
    constant-folded — no join, no Python."""
    cents2d = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in c])
            for c in centroids
        ]
    )
    assigned = ivf_assign(df, centroids, vec_col)
    return assigned.withColumn(
        out_col,
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.element_at(cents2d, F.col("_cell") + 1),
            lambda x, c: x - c,
        ),
    )


def ivf_pq_index(
    df: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[int]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = PQ_SCALE,
    residual: bool = False,
) -> DataFrame:
    """Write-side IVF+PQ index build (the FAISS IVFPQ layout as a
    DataFrame): one row per vector with its coarse cell and PQ codes —
    (id, _cell, pq_code), ~5 B/vector at m=4. Written partitioned by
    `_cell`, a probe-limited query becomes a partition-pruned scan of
    code bytes.

    Single pass: the coarse-cell argmin (float L2 against the
    driver-side centroid list) and the PQ encode share one Arrow
    batch over one scan — no second read of the vector column and no
    corpus-wide join by id (the earlier two-scan + shuffle-join form
    was a review finding; at write-side scale the join alone was a
    full extra shuffle of the corpus).

    ``residual=True`` encodes v − centroid[cell] instead of v (train
    the codebooks on :func:`residual_vectors` output). Raw-vector PQ
    loses within-cluster resolution on clustered corpora — every
    vector in a tight cluster quantizes to near-identical codes and
    the ADC shortlist dilutes (measured: bench_ann_recall.py /
    SCALE.md); residual encoding spends the codebook on the
    within-cell geometry, the FAISS IVFPQ design."""
    import numpy as np
    import pandas as pd

    kernel = _np_pq_kernel(codebooks, scale)
    cents = np.asarray(centroids, dtype=np.float64)
    cent_norm = np.sum(cents * cents, axis=1)

    def build(batches):
        for pdf in batches:
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            # coarse cell: ||c||^2 - 2<v,c> argmin (== full-L2 argmin)
            cell = np.argmin(
                cent_norm[None, :] - 2 * (vecs @ cents.T), axis=1
            ).astype(np.int32)
            enc_in = vecs - cents[cell] if residual else vecs
            yield pd.DataFrame(
                {id_col: pdf[id_col], "_cell": cell,
                 "pq_code": list(kernel.mat(enc_in))}
            )

    # null/wrong-length vectors would crash np.stack mid-batch; an
    # index row for them is meaningless anyway (they cannot be
    # searched) — filter with the documented contract that the index
    # covers exactly the valid vectors
    dim = len(centroids[0])
    valid = df.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    )
    return valid.select(id_col, vec_col).mapInPandas(
        build, f"{id_col} long, _cell int, pq_code array<int>"
    )


def ivf_pq_topk(
    index_df: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[int]]],
    query_vec: list[float],
    k: int = 10,
    n_probes: int = 1,
    id_col: str = "vec_id",
    scale: int = PQ_SCALE,
    residual: bool = False,
    use_arrow: bool | None = None,
) -> DataFrame:
    """Query an :func:`ivf_pq_index`: pick the ``n_probes`` nearest
    cells driver-side, filter the index to those cells (partition
    pruning when the index is written partitioned by _cell), then rank
    the shortlist by the m lookup-table adds of ADC. The standard
    two-level ANN: probes trade recall for cells scanned, PQ makes
    each scanned row m bytes.

    ``residual=True`` (for a residual-encoded index): one LUT per
    probed cell from the query's residual against that cell's
    centroid. Small dispatches (≤ ``RESIDUAL_ADC_EXPR_MAX_LOOKUPS``
    inlined element_at lookups) stay a codegen'd CASE over ``_cell``;
    above that the CASE chain's n_probes × m lookups blow janino's
    64 KB method limit (measured at 512 cells / 32 probes: "Code
    grows beyond 64 KB" → interpreted eval, 9.96 s/query vs 0.52 s
    for plain IVF — SCALE.md r11), so the dispatch routes through
    Arrow instead: a mapInPandas numpy gather over a per-cell LUT
    dict, the same escape hatch :func:`ivf_assign_arrow` is for
    centroid assignment. Both paths emit identical (id, pq_dist)
    rankings (equality golden in tests/test_pq.py); ``use_arrow``
    forces a path for testing. Distances stay comparable across
    cells (each approximates ||q − v||² in the same scaled-integer
    domain)."""
    q = [float(v) for v in query_vec]
    d2 = sorted(
        (sum((a - b) ** 2 for a, b in zip(q, c)), i)
        for i, c in enumerate(centroids)
    )
    cells = [i for _, i in d2[: max(1, n_probes)]]
    pruned = index_df.filter(F.col("_cell").isin(cells))
    if not residual:
        lut = pq_query_lut(codebooks, query_vec, scale)
        return pq_adc_topk_codes(pruned, lut, k, id_col)
    luts = {}
    for c in cells:
        q_res = [a - b for a, b in zip(q, centroids[c])]
        luts[c] = pq_query_lut(codebooks, q_res, scale)
    if use_arrow is None:
        use_arrow = (
            len(cells) * len(codebooks) > RESIDUAL_ADC_EXPR_MAX_LOOKUPS
        )
    if use_arrow:
        scored = _residual_adc_arrow(pruned, luts, k, id_col)
    else:
        dist = F.lit(None).cast("long")
        for c in cells:
            dist = F.when(
                F.col("_cell") == c, _adc_dist_expr(luts[c], "pq_code")
            ).otherwise(dist)
        scored = pruned.select(id_col, dist.alias("pq_dist"))
    return scored.orderBy(
        F.asc_nulls_last("pq_dist"), F.asc(id_col)
    ).limit(k)


def _residual_adc_arrow(
    pruned: DataFrame,
    luts_by_cell: dict[int, list[list[int]]],
    k: int,
    id_col: str,
    code_col: str = "pq_code",
) -> DataFrame:
    """Arrow residual-ADC scorer: per batch, numpy-gather the probed
    cell's LUT rows for each code column and sum — O(rows × m) int64
    adds in vectorized numpy, no codegen, so the LUT count can grow
    with n_probes without hitting janino's method-size cliff. The LUT
    dict (n_probes × m × k ints, ~1 MB at 512-cell/32-probe/16×256)
    ships once per task inside the serialized closure — bounded by
    probe count, never by data.

    Emits only each batch's local top-k (same (pq_dist, id) tie
    order as the global sort, nulls last) — the global
    TakeOrderedAndProject sees ≤ k rows per batch instead of the
    whole shortlist, cutting Arrow transfer; the global top-k is a
    subset of the union of batch top-ks, so the result is exact."""
    import numpy as np
    import pandas as pd

    luts = {
        int(c): np.asarray(lut, dtype=np.int64)
        for c, lut in luts_by_cell.items()
    }
    m = next(iter(luts.values())).shape[0]

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # null ELEMENTS arrive as None or NaN (Arrow converts
            # array<int>-with-nulls to float + NaN); either must park
            # the row at NA distance like the expression path, not
            # crash np.stack/astype (e != e catches NaN).
            codes_ok = pdf[code_col].map(
                lambda v: v is not None
                and len(v) == m
                and not any(e is None or e != e for e in v)
            ).to_numpy()
            cell_vals = pdf["_cell"].to_numpy()
            dist = pd.array([None] * len(pdf), dtype="Int64")
            for c, lut in luts.items():
                mask = codes_ok & (cell_vals == c)
                if not mask.any():
                    continue
                cm = np.stack(
                    pdf.loc[mask, code_col].to_numpy()
                ).astype(np.int64)
                dist[mask] = lut[np.arange(m)[None, :], cm].sum(axis=1)
            out = pd.DataFrame({id_col: pdf[id_col], "pq_dist": dist})
            yield out.sort_values(
                ["pq_dist", id_col], na_position="last"
            ).head(k)

    return pruned.select(id_col, "_cell", code_col).mapInPandas(
        score, f"{id_col} long, pq_dist long"
    )


def ann_shortlist_rerank(
    corpus: DataFrame,
    index_df: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[int]]],
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 100,
    n_probes: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = PQ_SCALE,
    residual: bool = False,
) -> DataFrame:
    """Two-stage ANN query (FAISS-style shortlist + refine): the
    probe-pruned ADC scan ranks a ``shortlist``-sized candidate set
    from code bytes, then EXACT cosine re-scores only those rows
    against the full vectors. One broadcast semi-join (the shortlist
    is ≤ ``shortlist`` rows by construction) — the corpus's vector
    column is read only for shortlist members, so the exact stage's
    scan is proportional to the shortlist, not the corpus.

    With ``n_probes = len(centroids)`` and ``shortlist >= |corpus|``
    this degenerates to exact search (golden-checked in
    tests/test_ann_recall.py).

    Sizing (measured, SCALE.md): the shortlist must scale with the
    POPULATION the probes admit, not with k — rule of thumb
    ``shortlist ≈ max(10*k, rows_scanned/20)``. At that size a
    residual-encoded index reaches the IVF-exact recall ceiling
    (0.96+ @ 2 probes on clustered 20k); an undersized shortlist is
    the dominant recall loss, ahead of quantization error."""
    cand = ivf_pq_topk(
        index_df, centroids, codebooks, query_vec,
        k=shortlist, n_probes=n_probes, id_col=id_col, scale=scale,
        residual=residual,
    )
    pruned = corpus.join(
        # bcast-bound: shortlist rows by construction (see docstring)
        F.broadcast(cand.select(id_col)), on=id_col, how="semi"
    )
    return brute_force_topk(pruned, query_vec, k, vec_col, id_col)


def append_to_ivf_index(
    new_vecs: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[int]]],
    index_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = PQ_SCALE,
    residual: bool = False,
    metrics: list | None = None,
    staleness_factor: float = DISTORTION_DEFAULT_FACTOR,
) -> None:
    """Incremental ANN index maintenance — the similarity-search twin
    of the dedup stores: encode an arriving batch with the SAME
    trained coarse centroids and PQ codebooks and APPEND its
    (id, _cell, pq_code) rows to the persisted cell-partitioned
    layout. The existing index is never read or rewritten; the append
    touches only the cell directories the batch lands in, and a
    probe-limited query keeps pruning at the file index.

    Quantizer staleness is the documented trade (exactly FAISS's
    IVF add-after-train contract): codes stay comparable because the
    codebooks are frozen, and a drifting corpus is handled by
    retraining + rebuilding OFFLINE, then swapping directories
    (sources.maintain.rewrite_table's rename dance). Batch-equality
    with a from-scratch build over the pooled corpus is
    golden-pinned.

    The ``sidecar.IVF`` sidecar guards the family: an append
    whose quantizer fingerprint differs from the recorded one RAISES
    instead of silently interleaving incomparable codes (the mixed
    MinHash-family hazard class); a missing sidecar is written on
    first append. Pass a list as ``metrics`` to monitor the staleness
    trade itself: one :func:`distortion_report` per call — the
    batch's mean assigned-centroid distortion vs the recorded
    training-time baseline (record it at build time with
    ``write_ivf_index_params(..., baseline_mean_d2=
    measure_mean_assigned_d2(train_vecs, centroids))``; with no
    baseline the first monitored append records its own), ``stale``
    above ``staleness_factor`` × baseline."""
    spark = new_vecs.sparkSession
    fp = quantizer_fingerprint(centroids, codebooks, scale, residual)
    stored = sidecar.check(spark, index_dir, sidecar.IVF, quantizer=fp)
    baseline = (stored or {}).get("baseline_mean_d2")
    if metrics is not None:
        mean_d2 = measure_mean_assigned_d2(new_vecs, centroids, vec_col)
        if baseline is None and mean_d2 > 0:
            baseline = mean_d2
        metrics.append(
            distortion_report(
                new_vecs.count(), mean_d2, baseline, staleness_factor
            )
        )
    idx = ivf_pq_index(
        new_vecs, centroids, codebooks,
        vec_col=vec_col, id_col=id_col, scale=scale, residual=residual,
    )
    idx.write.mode("append").partitionBy("_cell").parquet(index_dir)
    sidecar.merge(
        spark, index_dir, sidecar.IVF, quantizer=fp, baseline_mean_d2=baseline
    )


def rebuild_ivf_index(
    spark,
    vectors: DataFrame,
    index_dir: str,
    dim: int,
    n_cells: int | None = None,
    m: int = 4,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = PQ_SCALE,
    residual: bool = False,
    iters: int = 3,
    pq_iters: int = 2,
) -> dict:
    """The distortion monitor's remediation as ONE call — the IVF
    twin of ``setsim.rebuild_prefix_store`` (docs/MONITORING.md's
    former manual 3-step): retrain the coarse centroids and PQ
    codebooks on the CURRENT corpus, re-encode every vector under the
    fresh quantizer, publish the rebuilt (id, _cell, pq_code) layout
    atomically over the live index directory (``maintain.
    publish_table`` keeps the ``_cell`` partitioning, so probe-limited
    queries keep pruning at the file index), and re-record the
    sidecar — fresh quantizer fingerprint AND fresh
    ``baseline_mean_d2``, measured on the same corpus the quantizer
    was just trained on. The stale sidecar is dropped, not carried: a
    rebuilt index graded against the drifted-era baseline would
    either mask real future drift or re-trip immediately.

    ``n_cells=None`` applies the occupancy-constant schedule
    (:func:`suggested_cells` over the corpus count) — a rebuild is
    exactly the moment to let the cell count catch up with corpus
    growth, the same reason ``suggested_planes`` is the semantic
    family's default. ``residual=True`` trains the codebooks in the
    residual domain (:func:`residual_vectors`) and encodes residuals,
    matching :func:`ivf_pq_index`'s contract.

    Returns {'rows', 'n_cells', 'baseline_mean_d2', 'centroids',
    'codebooks'} — the caller NEEDS the fresh quantizer for every
    later :func:`ivf_pq_topk` / :func:`append_to_ivf_index` call
    (codes from the old one no longer match; the sidecar fingerprint
    guard enforces exactly that). Run in the single-writer window all
    maintenance assumes. Cost: the training loops (bounded driver
    state: n_cells×dim floats + m×k×sub ints per round) + one
    re-encode pass over the corpus — the same price as the initial
    build, which is what a rebuild is."""
    from cybersecurity_miw_spark.sources.maintain import publish_table

    n = vectors.count()
    cells = n_cells if n_cells is not None else suggested_cells(n)
    centroids = train_centroids(
        vectors, cells, dim, vec_col=vec_col, iters=iters
    )
    if residual:
        train_src = residual_vectors(
            vectors, centroids, vec_col=vec_col, out_col="_res"
        )
        codebooks = train_pq_codebooks(
            train_src, dim, m=m, k=k, iters=pq_iters,
            vec_col="_res", id_col=id_col, scale=scale,
        )
    else:
        codebooks = train_pq_codebooks(
            vectors, dim, m=m, k=k, iters=pq_iters,
            vec_col=vec_col, id_col=id_col, scale=scale,
        )
    idx = ivf_pq_index(
        vectors, centroids, codebooks,
        vec_col=vec_col, id_col=id_col, scale=scale, residual=residual,
    )
    baseline = measure_mean_assigned_d2(vectors, centroids, vec_col)
    # the fresh sidecar rides the atomic swap, so a reader never pairs
    # new codes with the old quantizer. The measured baseline is
    # recorded unconditionally: a legitimate 0.0 (degenerate corpus
    # exactly on centroids) must not be dropped for the next monitored
    # append to re-baseline with its own possibly-drifted mean_d2
    # (ADVICE r13); only None counts as absent.
    rows = publish_table(
        spark, idx, index_dir, keep_sidecars=False,
        partition_by=("_cell",),
        sidecar_texts=sidecar.staged(
            sidecar.IVF,
            quantizer=quantizer_fingerprint(
                centroids, codebooks, scale, residual
            ),
            baseline_mean_d2=baseline,
        ),
    )
    return {
        "rows": rows,
        "n_cells": cells,
        "baseline_mean_d2": baseline,
        "centroids": centroids,
        "codebooks": codebooks,
    }


def prune_ivf_index(
    spark,
    index_dir: str,
    keep_ids: DataFrame,
    id_col: str = "vec_id",
) -> dict:
    """Retention / erasure for the IVF(+PQ) index — the ANN twin of
    ``dedup.prune_band_store`` (every other persisted store already
    has its prune; GDPR erasure of a vector must also stop it
    surfacing as a similarity answer): keep only code rows whose id
    is in ``keep_ids`` (one semi-join on the uniform id key) and
    republish the ``_cell``-partitioned layout atomically
    (:func:`~cybersecurity_miw_spark.sources.maintain.publish_table`
    — fully parallel per cell, readers never see a half-pruned copy).
    Sidecars are KEPT: the quantizer is unchanged — remaining codes
    stay comparable, appends keep passing the fingerprint guard, and
    the distortion baseline still describes the training-time
    geometry. Pruned vectors stop appearing in ANN answers
    immediately. Returns {'rows_before', 'rows_after'}."""
    from cybersecurity_miw_spark.sources.maintain import publish_table

    idx = spark.read.parquet(index_dir)
    rows_before = idx.count()
    keep = keep_ids.select(F.col(id_col)).distinct()
    pruned = idx.join(keep, on=id_col, how="semi")
    if pruned.isEmpty():
        # Publishing an EMPTY partitioned parquet dir would strand a
        # schema-less table every later read chokes on
        # (UNABLE_TO_INFER_SCHEMA) — and would do so mid-publish,
        # leaving a stale .maintenance tmp behind (r14 review). Full
        # erasure is a different operation: delete the index
        # directory (sidecar included) and rebuild when vectors
        # return.
        raise ValueError(
            f"prune_ivf_index: keep_ids retains zero rows of "
            f"{index_dir} — an empty parquet index is unreadable. "
            "For full erasure delete the index directory "
            "(fsutil.delete) instead."
        )
    rows_after = publish_table(
        spark, pruned, index_dir, keep_sidecars=True,
        partition_by=("_cell",),
    )
    return {"rows_before": rows_before, "rows_after": rows_after}


def semantic_dedup_cells_auto(
    df: DataFrame,
    dim: int,
    threshold: float = 0.85,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 3,
    n_assign: int = 2,
) -> DataFrame:
    """:func:`semantic_dedup_cells` with the occupancy-constant cell
    schedule applied automatically: train
    :func:`suggested_cells`(n) centroids over the corpus (one count()
    + the k-means rounds) and prune within cells. The turnkey form of
    the documented contract — per-cell occupancy stays bounded as the
    corpus grows, so the within-cell pair join never goes quadratic
    (the frontier rule, SCALE.md r8/r12). Pass explicit centroids to
    :func:`semantic_dedup_cells` to own the schedule or reuse a
    trained quantizer. Defaults ``n_assign=2``: single assignment
    misses ~1/3 of cos~0.85 boundary pairs at every cell count
    (measured, SCALE.md r14) — the turnkey form should not silently
    pay that; pass ``n_assign=1`` for the classic SemDeDup
    single-assignment cost profile."""
    n = df.count()
    cents = train_centroids(
        df, suggested_cells(n), dim, vec_col=vec_col, iters=iters
    )
    return semantic_dedup_cells(
        df, cents, threshold, vec_col, id_col, n_assign
    )


# ---- IVF index sidecar: quantizer family guard + distortion monitor ----


def quantizer_fingerprint(
    centroids: list[list[float]],
    codebooks: list[list[list[int]]],
    scale: int = PQ_SCALE,
    residual: bool = False,
) -> str:
    """md5 of the full quantizer family (centroids + codebooks +
    scale + residual flag). Two appends with different quantizers
    produce codes that are NOT comparable — same silent-corruption
    hazard class as mixed MinHash families, caught by the sidecar."""
    import hashlib
    import json

    payload = json.dumps(
        [centroids, codebooks, int(scale), bool(residual)],
        separators=(",", ":"),
    )
    return hashlib.md5(payload.encode()).hexdigest()


def write_ivf_index_params(
    spark,
    index_dir: str,
    centroids: list[list[float]],
    codebooks: list[list[list[int]]],
    scale: int = PQ_SCALE,
    residual: bool = False,
    baseline_mean_d2: float | None = None,
) -> None:
    """Record the quantizer fingerprint (and optionally the
    training-time mean assigned-centroid distortion,
    :func:`measure_mean_assigned_d2`) in the index's ``sidecar.IVF``
    sidecar."""
    sidecar.write(
        spark, index_dir, sidecar.IVF,
        quantizer=quantizer_fingerprint(centroids, codebooks, scale, residual),
        baseline_mean_d2=baseline_mean_d2,
    )


def measure_mean_assigned_d2(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> float:
    """Mean squared L2 distance of each vector to its ASSIGNED coarse
    centroid — the k-means objective per vector, the quantizer-quality
    unit. Rising against the training-time baseline means the corpus
    has drifted away from the frozen centroids: cell partitions blur,
    probes miss, recall decays at fixed n_probes. Centroid lookup is
    a constant-folded literal 2-D array (the residual-LUT lesson:
    literals fold, only per-row expressions count against janino)."""
    assigned = ivf_assign(df, centroids, vec_col)
    # expr-string construction (the lsh_bands lesson): building
    # n_cells × dim Column literals costs seconds of py4j at 512×64;
    # one SQL string parses JVM-side in milliseconds and the literal
    # array constant-folds identically
    cents_sql = "array(%s)" % ",".join(
        "array(%s)" % ",".join(repr(float(x)) for x in c)
        for c in centroids
    )
    cv = F.element_at(F.expr(cents_sql), F.col("_cell") + 1)
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            cv,
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    row = assigned.select(F.avg(d2).alias("m")).head()
    return float(row["m"]) if row["m"] is not None else 0.0


def distortion_report(
    n_vectors: int,
    mean_assigned_d2: float,
    baseline_mean_d2: float | None,
    factor: float = DISTORTION_DEFAULT_FACTOR,
) -> dict:
    """Grade one append batch's quantizer fit against the
    training-time baseline — the ANN twin of
    ``setsim.staleness_report``. ``stale`` means the frozen
    centroids no longer describe the arriving data; remediation is
    the documented offline retrain + rebuild + directory swap
    (:func:`append_to_ivf_index` contract).

    A recorded baseline of exactly 0.0 (every training vector sat ON
    its centroid — degenerate but legitimate, and what
    ``rebuild_ivf_index`` records for such corpora) is NOT "no
    baseline": any later batch with positive distortion is infinite
    drift, so it grades stale with ``staleness_ratio=inf``. Only
    ``None`` means no baseline recorded (ADVICE r14)."""
    if baseline_mean_d2 is None:
        ratio = None
    elif baseline_mean_d2 == 0.0:
        ratio = float("inf") if mean_assigned_d2 > 0 else 0.0
    else:
        ratio = mean_assigned_d2 / baseline_mean_d2
    return {
        "n_vectors": int(n_vectors),
        "mean_assigned_d2": round(mean_assigned_d2, 6),
        "baseline_mean_d2": baseline_mean_d2,
        "staleness_ratio": (
            None if ratio is None
            else (ratio if ratio == float("inf") else round(ratio, 3))
        ),
        "stale": bool(ratio is not None and ratio > factor),
    }


# ---- banded semantic store: index/vector split ------------------------------

def embedding_band_index(
    df: DataFrame,
    dim: int,
    n_planes: int = 4,
    n_bands: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The banded semantic index rows for a corpus slice:
    (id, band, bucket) — b rows per vector, NO vector payload. The
    schema split :func:`embedding_bucket_store`'s docstring defers
    to: banding the vector-carrying store would multiply stored
    vectors b×, so the banded layout separates the index (this,
    partition/bucket by ``(band, bucket)``) from one
    (id, vector) table (:func:`embedding_vector_store`) read
    CANDIDATE-PRUNED at confirm time — which also beats the fused
    store at b=1: history vectors are fetched per candidate, not
    carried on every index row. Band b's bucket uses planes
    [b·n, (b+1)·n) of the md5 keyspace (band 0 ≡ the historical
    family)."""
    buckets = F.array(
        *[
            hyperplane_bucket(
                vec_col, dim, n_planes, plane_offset=b * n_planes
            )
            for b in range(n_bands)
        ]
    )
    return df.select(
        F.col(id_col), F.posexplode(buckets).alias("band", "bucket")
    )


def embedding_vector_store(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The (id, vector) half of the banded semantic store — one row
    per vector regardless of band count; the exact-cosine confirm
    joins it candidate-pruned."""
    return df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias(vec_col),
    )


def incremental_semantic_pairs_banded(
    new_vecs: DataFrame,
    index_store: DataFrame | str,
    vector_store: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int = 4,
    n_bands: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    metrics: list | None = None,
    baseline_cand_per_doc: float | None = None,
    staleness_factor: float | None = None,
) -> DataFrame:
    """Banded semantic near-dup pairs of a batch against the
    PERSISTED index/vector split: batch band rows equi-join the index
    on (band, bucket) — a candidate if ANY band agrees, the measured
    recall recovery (SCALE.md r12: 0.53 → 0.94 at p=6/b=4) brought to
    the INCREMENTAL path — then exact cosine confirms over vectors
    fetched for candidates only. Returns
    (new_id, stored_id, cos_sim) ≥ threshold; equals the pooled
    ``cosine_near_dup_lsh(n_bands)`` restricted to batch × history
    (golden-pinned). Self-pairs guarded (replay safety); the
    standard ``metrics``/baseline staleness report attaches to the
    candidate stage. A string ``index_store`` loads with its
    ``sidecar.SEMANTIC_BANDED`` family checked."""
    from cybersecurity_miw_spark.operators import setsim

    if isinstance(index_store, str):
        index_store = sidecar.load(
            new_vecs.sparkSession, index_store, sidecar.SEMANTIC_BANDED,
            dim=dim, n_planes=n_planes, n_bands=n_bands,
        )
    nb = embedding_band_index(
        new_vecs, dim, n_planes, n_bands, vec_col, id_col
    ).withColumnRenamed(id_col, "new_id")
    sb = index_store.withColumnRenamed(id_col, "stored_id")
    cand = (
        nb.join(sb, on=["band", "bucket"])
        .filter(F.col("new_id") != F.col("stored_id"))
        .select("new_id", "stored_id")
        .distinct()
    )
    if metrics is not None:
        cand = cand.localCheckpoint(eager=True)
        metrics.append(
            setsim.staleness_report(
                cand.count(),
                new_vecs.count(),
                baseline_cand_per_doc,
                staleness_factor
                if staleness_factor is not None
                else setsim.STALENESS_DEFAULT_FACTOR,
            )
        )
    nv = new_vecs.select(
        F.col(id_col).alias("new_id"),
        F.col(vec_col).cast("array<double>").alias("_vn"),
    ).select("new_id", "_vn", norm(F.col("_vn")).alias("_nn"))
    sv = vector_store.join(
        cand.select(F.col("stored_id").alias(id_col)).distinct(),
        on=id_col,
        how="semi",
    ).select(
        F.col(id_col).alias("stored_id"),
        F.col(vec_col).cast("array<double>").alias("_vs"),
    ).select("stored_id", "_vs", norm(F.col("_vs")).alias("_ns"))
    cos = dot(F.col("_vn"), F.col("_vs")) / (F.col("_nn") * F.col("_ns"))
    return (
        cand.join(nv, "new_id")
        .join(sv, "stored_id")
        .select(
            "new_id", "stored_id", F.round(cos, 6).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
    )
