"""SemDeDup-style embedding dedup (operators/similarity.py:
semantic_dedup): keep-lowest-id over LSH-bucketed cosine near-dup
pairs — the paraphrase-level dedup rule, beyond the DuckDB parity
oracle (`semantic_dedup_survivors`)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cybersecurity_miw_spark import sidecar
from cybersecurity_miw_spark.operators import similarity

DIM = 8


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, f"vec_id long, embedding array<double>"
    )


def _unit(v):
    n = sum(x * x for x in v) ** 0.5
    return [x / n for x in v]


def test_planted_duplicate_drops_higher_id(spark):
    base = _unit([1.0] * DIM)
    near = _unit([1.0] * (DIM - 1) + [1.2])        # cos ~0.998 to base
    ortho = _unit([1.0, -1.0] * (DIM // 2))        # cos 0 to base
    df = _emb(spark, [(10, base), (20, near), (30, ortho)])
    # n_planes=1: all three share the bucket (verified via
    # bucket_value), so the test isolates the threshold + keep-rule —
    # at 2 planes the base/near pair straddles plane 1, the usual
    # LSH recall trade
    out = {
        r["vec_id"]
        for r in similarity.semantic_dedup(
            df, dim=DIM, threshold=0.9, n_planes=1
        ).collect()
    }
    assert out == {10, 30}  # 20 lost to its smaller-id near-dup 10


def test_survivors_and_removed_partition_the_corpus(spark):
    rows = [
        (i, _unit([1.0 + 0.001 * (i % 3)] * DIM)) for i in range(12)
    ] + [(100 + i, _unit([(-1.0) ** d for d in range(DIM)])) for i in range(2)]
    df = _emb(spark, rows)
    surv = similarity.semantic_dedup(df, dim=DIM, threshold=0.99, n_planes=2)
    n_surv = surv.count()
    assert 0 < n_surv < df.count()
    # survivors ∪ removed == corpus, disjoint by construction (anti-join)
    removed = df.join(surv.select("vec_id"), "vec_id", "anti")
    assert n_surv + removed.count() == df.count()
    # the smallest id of each planted family survives
    ids = {r["vec_id"] for r in surv.collect()}
    assert 0 in ids and 100 in ids and 101 not in ids


def test_adjacency_rule_not_transitive_closure(spark):
    """a~b and b~c with cos(a,c) < t: b and c are both removed (each
    has a smaller-id neighbor), a survives — the documented adjacency
    contract."""
    import math

    a = [1.0, 0.0]
    b = [math.cos(0.2), math.sin(0.2)]
    c = [math.cos(0.4), math.sin(0.4)]
    # cos(a,b) = cos(b,c) = cos(0.2) ~ 0.980; cos(a,c) = cos(0.4) ~ 0.921
    df = _emb(spark, [(1, a), (2, b), (3, c)])
    out = {
        r["vec_id"]
        for r in similarity.semantic_dedup(
            df, dim=2, threshold=0.95, n_planes=1
        ).collect()
    }
    assert out == {1}


# --- incremental embedding bucket store (r11) --------------------------------


def test_incremental_semantic_matches_pooled_self_join(spark):
    """incremental_semantic_pairs over a persisted-shape store equals
    cosine_near_dup_lsh over the pooled corpus restricted to
    batch × history pairs — same plane family both paths."""
    import math

    rows = [
        (i, _unit([math.cos(i * 0.03), math.sin(i * 0.03)] * (DIM // 2)))
        for i in range(20)
    ]
    df = _emb(spark, rows)
    from pyspark.sql import functions as F

    hist = df.where(F.col("vec_id") % 2 == 0)
    batch = df.where(F.col("vec_id") % 2 != 0)
    store = similarity.embedding_bucket_store(hist, dim=DIM, n_planes=2)
    inc = {
        (r["new_id"], r["stored_id"], r["cos_sim"])
        for r in similarity.incremental_semantic_pairs(
            batch, store, threshold=0.9, dim=DIM, n_planes=2
        ).collect()
    }
    pooled = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in similarity.cosine_near_dup_lsh(
            df, threshold=0.9, dim=DIM, n_planes=2
        ).collect()
    }
    cross = {
        (a, b, c) if a % 2 else (b, a, c) for a, b, c in pooled
        if (a % 2) != (b % 2)
    }
    assert inc == cross
    assert inc  # fixture produces pairs


def test_semantic_store_roundtrip_and_params_guard(spark, tmp_path):
    import pytest

    rows = [(i, _unit([1.0 + 0.01 * i] + [0.5] * (DIM - 1))) for i in range(6)]
    df = _emb(spark, rows)
    store_dir = str(tmp_path / "sem_store")
    similarity.embedding_bucket_store(df, dim=DIM, n_planes=2).write.parquet(
        store_dir
    )
    sidecar.write(spark, store_dir, sidecar.SEMANTIC, dim=DIM, n_planes=2)
    loaded = sidecar.load(
        spark, store_dir, sidecar.SEMANTIC, dim=DIM, n_planes=2
    )
    assert loaded.count() == 6
    batch = _emb(spark, [(100, _unit([1.0] + [0.5] * (DIM - 1)))])
    pairs = similarity.incremental_semantic_pairs(
        batch, store_dir, threshold=0.99, dim=DIM, n_planes=2
    )
    assert pairs.count() > 0
    # family mismatch fails fast instead of silently zero candidates
    with pytest.raises(ValueError, match="semantic store"):
        similarity.incremental_semantic_pairs(
            batch, store_dir, threshold=0.99, dim=DIM, n_planes=3
        )


# --- batched IVF search (r11) -------------------------------------------------


def test_ivf_topk_batch_one_query_equals_single_query_path(spark):
    """A 1-row query table must reproduce ivf_topk exactly (same
    folds, same probe and rank tie-breaks)."""
    import numpy as np

    rng = np.random.RandomState(9)
    pts = rng.randn(60, DIM)
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    df = _emb(
        spark, [(int(i), [float(x) for x in v]) for i, v in enumerate(pts)]
    )
    cents = [list(map(float, pts[i])) for i in range(4)]
    single = [
        (r["vec_id"], r["cos_sim"])
        for r in similarity.ivf_topk(
            df, cents, list(map(float, pts[7])), k=8, n_probes=2
        ).collect()
    ]
    batch = sorted(
        (r["vec_id"], r["cos_sim"])
        for r in similarity.ivf_topk_batch(
            df.filter("vec_id >= 0"),
            df.filter("vec_id = 7"),
            cents, k=8, n_probes=2,
        ).collect()
    )
    assert batch == sorted(single)


def test_ivf_topk_batch_guard_and_per_query_k(spark):
    rows = [(i, _unit([1.0 + 0.05 * i] * DIM)) for i in range(10)]
    df = _emb(spark, rows)
    cents = [[1.0] * DIM, [-1.0] * DIM]
    out = similarity.ivf_topk_batch(
        df, df.filter("vec_id < 4"), cents, k=3, n_probes=1
    ).collect()
    from collections import Counter

    per_q = Counter(r["query_id"] for r in out)
    assert set(per_q) == {0, 1, 2, 3} and all(v == 3 for v in per_q.values())


def test_ivf_topk_batch_shuffle_route_equals_broadcast(spark):
    """Above max_broadcast_queries the batch no longer raises (r11
    VERDICT #4): the probe table routes through a plain _cell shuffle
    join. Both routes must emit identical rows, and the shuffle
    route's plan must contain no broadcast of the probe table."""
    import math

    rows = [
        (i, _unit([math.cos(i * 0.3), math.sin(i * 0.3)] * (DIM // 2)))
        for i in range(12)
    ]
    df = _emb(spark, rows)
    cents = [[1.0] * DIM, [-1.0] * DIM, _unit([1.0, -1.0] * (DIM // 2))]
    queries = df.filter("vec_id < 6")
    bcast = similarity.ivf_topk_batch(
        df, queries, cents, k=4, n_probes=2
    )
    shuffled = similarity.ivf_topk_batch(
        df, queries, cents, k=4, n_probes=2, max_broadcast_queries=3
    )
    assert sorted(map(tuple, bcast.collect())) == sorted(
        map(tuple, shuffled.collect())
    )
    # the shuffle route carries no broadcast HINT on the probe side
    # (AQE may still pick a broadcast strategy for a tiny probe table
    # at runtime — the contract is the hint's absence, not the
    # physical strategy): check the analyzed plan has no hint node
    assert "hint" not in shuffled._jdf.queryExecution().analyzed().toString().lower()


def test_semantic_dedup_cells_planted_dup_and_cell_isolation(spark):
    """Cells variant (the SemDeDup paper's blocking): a near-dup pair
    in one cell drops the higher id; an equally-similar pair SPLIT
    across cells is not examined (the documented blocking trade —
    raise cell count with corpus, not recall)."""
    c0 = [1.0] + [0.0] * (DIM - 1)
    c1 = [-1.0] + [0.0] * (DIM - 1)
    near_c0_a = _unit([1.0, 0.05] + [0.0] * (DIM - 2))
    near_c0_b = _unit([1.0, 0.06] + [0.0] * (DIM - 2))  # ~dup of a
    near_c1 = _unit([-1.0, 0.05] + [0.0] * (DIM - 2))
    df = _emb(spark, [(5, near_c0_a), (6, near_c0_b), (7, near_c1)])
    out = {
        r["vec_id"]
        for r in similarity.semantic_dedup_cells(
            df, [c0, c1], threshold=0.95
        ).collect()
    }
    assert out == {5, 7}  # 6 lost to same-cell smaller-id 5; 7 isolated


def test_incremental_semantic_never_emits_self_pairs(spark):
    """Replay safety (r11 ADVICE): the streaming loop appends store
    rows BEFORE the checkpoint commits, so an at-least-once retry
    re-joins a batch against its own rows. The join must not emit
    (x, x, 1.0) self-pairs."""
    base = [1.0] * DIM
    near = [2.0] * DIM  # cos 1.0, bucket-identical at any plane count
    batch = _emb(spark, [(1, base), (2, near)])
    # store already contains the batch's own rows (simulated replay)
    store = similarity.embedding_bucket_store(batch, dim=DIM, n_planes=2)
    pairs = similarity.incremental_semantic_pairs(
        batch, store, threshold=0.9, dim=DIM, n_planes=2
    ).collect()
    assert all(r["new_id"] != r["stored_id"] for r in pairs)
    # the genuine cross pair still surfaces (both directions here,
    # since each batch row matches the OTHER stored row)
    assert {(r["new_id"], r["stored_id"]) for r in pairs} == {
        (1, 2), (2, 1)
    }


def test_suggested_planes_and_cells_pin_the_measured_schedule(spark):
    """The occupancy-constant helpers must reproduce the MEASURED
    good configurations (SCALE.md r8/r11): 5k docs -> 4 planes / 128
    cells, 50k -> 7 planes / 512 cells; monotone nondecreasing;
    sane clamps at the extremes."""
    assert similarity.suggested_planes(5_000) == 4
    assert similarity.suggested_planes(50_000) == 7
    assert similarity.suggested_planes(500_000) == 11
    assert similarity.suggested_planes(5_000_000_000) == 24  # clamp
    assert similarity.suggested_planes(0) == 4
    assert similarity.suggested_planes(1) == 1

    assert similarity.suggested_cells(5_000) == 128
    assert similarity.suggested_cells(50_000) == 512
    assert similarity.suggested_cells(5_000_000) == 4096
    assert similarity.suggested_cells(1) == 1
    vals_p = [similarity.suggested_planes(10 ** e) for e in range(2, 10)]
    vals_c = [similarity.suggested_cells(10 ** e) for e in range(2, 10)]
    assert vals_p == sorted(vals_p) and vals_c == sorted(vals_c)


def test_semantic_dedup_clusters_keeps_one_per_component(spark):
    """Cluster-atomic variant: on the a~b~c chain with cos(a,c) < t
    the closure keeps ONLY a (one survivor per component) — same
    outcome as adjacency here; the distinguishing shape is where
    adjacency over-drops relative to per-component min-keep: two
    disjoint pairs sharing no edge must each keep their min."""
    import math

    a = [1.0, 0.0]
    b = [math.cos(0.2), math.sin(0.2)]
    c = [math.cos(0.4), math.sin(0.4)]
    d = [-1.0, 0.0]
    e = [math.cos(math.pi - 0.2), math.sin(math.pi - 0.2)]
    df = _emb(spark, [(1, a), (2, b), (3, c), (10, d), (11, e)])
    out = {
        r["vec_id"]
        for r in similarity.semantic_dedup_clusters(
            df, dim=2, threshold=0.95, n_planes=1
        ).collect()
    }
    # components: {1,2,3} (chain) and {10,11}; keep the min of each
    assert out == {1, 10}
    # rows with NO near-dup pair survive untouched
    lone = _emb(spark, [(7, [0.0, 1.0])])
    df2 = df.unionByName(lone)
    out2 = {
        r["vec_id"]
        for r in similarity.semantic_dedup_clusters(
            df2, dim=2, threshold=0.95, n_planes=1
        ).collect()
    }
    assert 7 in out2


def test_n_planes_none_applies_suggested_schedule(spark):
    """n_planes=None routes through suggested_planes: at tiny n the
    schedule clamps to 1 plane, so a planted chain that straddles one
    hyperplane at 2 planes is still fully found (the 1-plane bucket
    holds everything) — behavioral proof the auto schedule engaged."""
    base = [1.0] * DIM
    near = [2.0] * DIM
    df = _emb(spark, [(1, base), (2, near)])
    auto = {
        r["vec_id"]
        for r in similarity.semantic_dedup(
            df, dim=DIM, threshold=0.99, n_planes=None
        ).collect()
    }
    assert auto == {1}
    clusters = {
        r["vec_id"]
        for r in similarity.semantic_dedup_clusters(
            df, dim=DIM, threshold=0.99, n_planes=None
        ).collect()
    }
    assert clusters == {1}


def test_banded_lsh_is_superset_of_single_band_and_band0_compatible(spark):
    """n_bands OR-amplification: every single-family pair is also a
    banded pair (band 0 IS the historical family — byte-identical
    buckets), extra bands only ADD candidates, and every emitted pair
    still passes the exact cosine confirm."""
    import math

    rows = [
        (i, _unit([math.cos(i * 0.05), math.sin(i * 0.05)] * (DIM // 2)))
        for i in range(40)
    ]
    df = _emb(spark, rows)
    single = {
        tuple(r)
        for r in similarity.cosine_near_dup_lsh(
            df, threshold=0.9, dim=DIM, n_planes=4
        ).collect()
    }
    banded = {
        tuple(r)
        for r in similarity.cosine_near_dup_lsh(
            df, threshold=0.9, dim=DIM, n_planes=4, n_bands=3
        ).collect()
    }
    assert single <= banded
    assert len(banded) > len(single)  # extra bands recover real pairs
    # exactness: banded pairs are a subset of the brute-force truth
    exact = {
        tuple(r)
        for r in similarity.cosine_pairs_above(
            df, threshold=0.9
        ).collect()
    }
    assert banded <= exact


def test_banded_incremental_matches_pooled_banded_self_join(spark):
    """The index/vector split: incremental banded pairs equal the
    pooled banded self-join restricted to batch × history — and at
    the same geometry the banded store finds pairs the single-band
    store misses (the recall recovery, incrementally)."""
    import math

    rows = [
        (i, _unit([math.cos(i * 0.03), math.sin(i * 0.03)] * (DIM // 2)))
        for i in range(24)
    ]
    df = _emb(spark, rows)
    hist = df.where(F.col("vec_id") % 2 == 0)
    batch = df.where(F.col("vec_id") % 2 != 0)
    idx = similarity.embedding_band_index(hist, DIM, n_planes=4, n_bands=3)
    vecs = similarity.embedding_vector_store(hist)
    inc = {
        (r["new_id"], r["stored_id"], r["cos_sim"])
        for r in similarity.incremental_semantic_pairs_banded(
            batch, idx, vecs, threshold=0.9, dim=DIM,
            n_planes=4, n_bands=3,
        ).collect()
    }
    pooled = {
        (a, b, c) if a % 2 else (b, a, c)
        for a, b, c in (
            tuple(r)
            for r in similarity.cosine_near_dup_lsh(
                df, threshold=0.9, dim=DIM, n_planes=4, n_bands=3
            ).collect()
        )
        if (a % 2) != (b % 2)
    }
    assert inc == pooled and inc
    single = {
        (r["new_id"], r["stored_id"], r["cos_sim"])
        for r in similarity.incremental_semantic_pairs(
            batch,
            similarity.embedding_bucket_store(hist, DIM, n_planes=4),
            threshold=0.9, dim=DIM, n_planes=4,
        ).collect()
    }
    assert single < inc  # strictly more recall at the same planes


def test_banded_index_sidecar_and_monitor(spark, tmp_path):
    rows = [(i, _unit([1.0 + 0.01 * i] + [0.5] * (DIM - 1))) for i in range(8)]
    df = _emb(spark, rows)
    idx_dir = str(tmp_path / "bidx")
    similarity.embedding_band_index(
        df, DIM, n_planes=2, n_bands=2
    ).write.parquet(idx_dir)
    sidecar.write(
        spark, idx_dir, sidecar.SEMANTIC_BANDED,
        dim=DIM, n_planes=2, n_bands=2, baseline_cand_per_doc=3.0,
    )
    loaded = sidecar.load(
        spark, idx_dir, sidecar.SEMANTIC_BANDED, dim=DIM, n_planes=2, n_bands=2
    )
    assert loaded.count() == 16  # 8 vectors x 2 bands
    import pytest

    with pytest.raises(ValueError, match="banded semantic index"):
        similarity.incremental_semantic_pairs_banded(
            df, idx_dir, similarity.embedding_vector_store(df),
            threshold=0.999, dim=DIM, n_planes=2, n_bands=3,
        )
    m: list = []
    pairs = similarity.incremental_semantic_pairs_banded(
        df, idx_dir, similarity.embedding_vector_store(df),
        threshold=0.999, dim=DIM, n_planes=2, n_bands=2,
        metrics=m, baseline_cand_per_doc=3.0,
    ).collect()
    # own-store probe: self-pairs guarded, monitor report appended
    assert all(r["new_id"] != r["stored_id"] for r in pairs)
    assert len(m) == 1 and m[0]["baseline_cand_per_doc"] == 3.0


def test_default_n_planes_is_auto_schedule(spark):
    """r14 (VERDICT r13 #2, carried two rounds): the DEFAULT n_planes
    on semantic_dedup and semantic_dedup_clusters is the
    occupancy-constant schedule (None -> suggested_planes), not the
    fixed 4 whose within-bucket join is on a measured quadratic path
    (SCALE.md r12: ratio 0.45 fixed vs 0.28 scheduled). Pins BOTH the
    signature default and the behavior: the default path produces
    exactly the explicit suggested_planes(n) result."""
    import inspect

    import numpy as np

    for fn in (similarity.semantic_dedup, similarity.semantic_dedup_clusters):
        assert (
            inspect.signature(fn).parameters["n_planes"].default is None
        ), f"{fn.__name__} default must be None (auto schedule)"
    # cosine_near_dup_lsh keeps its 8-plane default (auto-capable)
    assert (
        inspect.signature(similarity.cosine_near_dup_lsh)
        .parameters["n_planes"].default == 8
    )

    rng = np.random.RandomState(3)
    pts = rng.randn(60, DIM)
    pts[41] = pts[7] + 0.001  # planted near-dup, higher id drops
    df = _emb(
        spark,
        [(int(i), _unit([float(x) for x in v])) for i, v in enumerate(pts)],
    )
    auto = {
        r["vec_id"]
        for r in similarity.semantic_dedup(df, dim=DIM, threshold=0.95).collect()
    }
    explicit = {
        r["vec_id"]
        for r in similarity.semantic_dedup(
            df, dim=DIM, threshold=0.95,
            n_planes=similarity.suggested_planes(60),
        ).collect()
    }
    assert auto == explicit
    assert 41 not in auto and 7 in auto


def test_knn_graph_self_exclusion_symmetrize_and_routes(spark):
    """knn_graph (VERDICT r12 #6 / r13 #7): ivf_topk_batch(df, df)
    with self-pairs excluded BEFORE the per-src rank — an exact
    duplicate doesn't eat rank 1 with src==dst and every node still
    gets k true neighbors; symmetric=True is exactly directed UNION
    reversed, deduped; and the shuffle route (corpus-sized query
    table) emits identical edges to the broadcast route."""
    import numpy as np

    rng = np.random.RandomState(7)
    pts = rng.randn(40, DIM)
    pts[25] = pts[4]  # exact duplicate pair
    df = _emb(
        spark,
        [(int(i), [float(x) for x in v]) for i, v in enumerate(pts)],
    )
    cents = [[float(x) for x in pts[i]] for i in range(4)]

    g = similarity.knn_graph(df, cents, k=3, n_probes=2)
    edges = [(r["src"], r["dst"], r["cos_sim"]) for r in g.collect()]
    assert all(s != d for s, d, _ in edges)
    per_src = {}
    for s, d, c in edges:
        per_src.setdefault(s, []).append((d, c))
    assert all(len(v) == 3 for v in per_src.values())
    assert len(per_src) == 40  # every node is a src
    # the exact duplicate is each other's top neighbor at cos 1.0
    assert per_src[4][0] == (25, 1.0) or (25, 1.0) in per_src[4]
    assert (4, 1.0) in per_src[25]

    sym = {
        (r["src"], r["dst"], r["cos_sim"])
        for r in similarity.knn_graph(
            df, cents, k=3, n_probes=2, symmetric=True
        ).collect()
    }
    directed = set(edges)
    assert sym == directed | {(d, s, c) for s, d, c in directed}

    shuffled = {
        (r["src"], r["dst"], r["cos_sim"])
        for r in similarity.knn_graph(
            df, cents, k=3, n_probes=2, max_broadcast_queries=1
        ).collect()
    }
    assert shuffled == directed


def test_ivf_batch_arrow_probe_path_equals_expression_path(spark, monkeypatch):
    """Above IVF_EXPR_MAX_CELLS the batch-IVF probe ranking switches
    to the Arrow argpartition path (one BLAS matmul per batch instead
    of n_cells fold distances per query row). On a tie-free random
    fixture both paths emit identical top-k rows — same (d2, cell
    asc) probe ranking, same scoring."""
    import numpy as np

    rng = np.random.RandomState(13)
    pts = rng.randn(120, DIM)
    df = _emb(
        spark,
        [(int(i), [float(x) for x in v]) for i, v in enumerate(pts)],
    )
    cents = [[float(x) for x in rng.randn(DIM)] for _ in range(80)]
    queries = df.filter(F.col("vec_id") < 25)

    arrow_rows = {
        (r["query_id"], r["vec_id"], r["cos_sim"])
        for r in similarity.ivf_topk_batch(
            df, queries, cents, k=4, n_probes=3
        ).collect()
    }  # 80 cells > IVF_EXPR_MAX_CELLS=64 -> Arrow probe ranking
    monkeypatch.setattr(similarity, "IVF_EXPR_MAX_CELLS", 500)
    expr_rows = {
        (r["query_id"], r["vec_id"], r["cos_sim"])
        for r in similarity.ivf_topk_batch(
            df, queries, cents, k=4, n_probes=3
        ).collect()
    }
    assert arrow_rows == expr_rows and len(arrow_rows) > 0


def test_ivf_cell_width_fence_and_report(spark):
    """The batch-IVF skew fence (VERDICT r12 #5 / r13 #6): a planted
    mega-cell (30 near-identical vectors on one centroid) is surfaced
    by oversized_ivf_cells and excluded from both sides of the probe
    join when max_cell_width is set; queries homed in healthy cells
    return IDENTICAL rows with and without the fence, and with a cap
    no cell exceeds, the fenced path is row-identical to the default
    (the equality-on-non-skewed contract)."""
    import numpy as np

    rng = np.random.RandomState(5)
    cents = [[float(x) for x in rng.randn(DIM)] for _ in range(4)]
    rows = []
    # mega-cell: 30 tight copies around centroid 0
    for i in range(30):
        rows.append(
            (i, [c + float(e) for c, e in
                 zip(cents[0], rng.randn(DIM) * 1e-3)])
        )
    # healthy cells: 5 spread vectors around each other centroid
    nid = 100
    for ci in (1, 2, 3):
        for _ in range(5):
            rows.append(
                (nid, [c + float(e) for c, e in
                       zip(cents[ci], rng.randn(DIM) * 0.05)])
            )
            nid += 1
    df = _emb(spark, rows)

    report = similarity.oversized_ivf_cells(df, cents, max_cell_width=10)
    got = {(r["_cell"], r["width"]) for r in report.collect()}
    assert got == {(0, 30)}

    unfenced = {
        (r["query_id"], r["vec_id"], r["cos_sim"])
        for r in similarity.ivf_topk_batch(
            df, df, cents, k=3, n_probes=1
        ).collect()
    }
    fenced = {
        (r["query_id"], r["vec_id"], r["cos_sim"])
        for r in similarity.ivf_topk_batch(
            df, df, cents, k=3, n_probes=1, max_cell_width=10
        ).collect()
    }
    # no row from or into the mega-cell survives the fence...
    assert all(q >= 100 and v >= 100 for q, v, _ in fenced)
    # ...and healthy-cell rows are untouched
    assert fenced == {r for r in unfenced if r[0] >= 100 and r[1] >= 100}

    # equality on non-skewed inputs: cap above every width
    wide_cap = {
        (r["query_id"], r["vec_id"], r["cos_sim"])
        for r in similarity.ivf_topk_batch(
            df, df, cents, k=3, n_probes=1, max_cell_width=1000
        ).collect()
    }
    assert wide_cap == unfenced

    # the fence threads through knn_graph
    g = similarity.knn_graph(df, cents, k=2, max_cell_width=10)
    assert all(
        r["src"] >= 100 and r["dst"] >= 100 for r in g.collect()
    )


def test_cells_multi_assign_superset_and_extras_real(spark):
    """Cells-blocking multi-assign (VERDICT r12 #3 / r13 #5): at equal
    centroids, the n_assign=2 pair set is a SUPERSET of the
    single-assignment set, every extra pair is real (cosine >=
    threshold by brute force — boundary pairs whose members straddle
    a cell face), and the multi-assign survivor set is therefore a
    subset. n_assign=1 keeps the exact original pair set."""
    import numpy as np

    rng = np.random.RandomState(23)
    pts = rng.randn(120, DIM)
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    # plant boundary near-dups: perturbations big enough to cross
    # cell faces at 16 trained cells, small enough to stay >= 0.9 cos
    for i in range(0, 40):
        d = rng.randn(DIM)
        d -= d.dot(pts[i]) * pts[i]
        d /= np.linalg.norm(d)
        pts[80 + i] = 0.93 * pts[i] + (1 - 0.93**2) ** 0.5 * d
    df = _emb(
        spark,
        [(int(i), [float(x) for x in v]) for i, v in enumerate(pts)],
    )
    cents = similarity.train_centroids(df, 16, DIM, iters=2)

    p1 = {
        (r["id_a"], r["id_b"])
        for r in similarity.cells_near_dup_pairs(
            df, cents, threshold=0.9
        ).collect()
    }
    p2 = {
        (r["id_a"], r["id_b"])
        for r in similarity.cells_near_dup_pairs(
            df, cents, threshold=0.9, n_assign=2
        ).collect()
    }
    assert p2 >= p1
    extras = p2 - p1
    assert extras, "fixture must exercise the boundary channel"
    sims = {(i, j): float(pts[i].dot(pts[j])) for i, j in extras}
    assert all(round(s, 6) >= 0.9 for s in sims.values()), sims

    s1 = {
        r["vec_id"]
        for r in similarity.semantic_dedup_cells(
            df, cents, threshold=0.9
        ).collect()
    }
    s2 = {
        r["vec_id"]
        for r in similarity.semantic_dedup_cells(
            df, cents, threshold=0.9, n_assign=2
        ).collect()
    }
    assert s2 <= s1

    # the turnkey form defaults to multi-assign (it should not
    # silently pay the measured ~1/3 boundary miss at cos~0.85)
    import inspect

    assert (
        inspect.signature(similarity.semantic_dedup_cells_auto)
        .parameters["n_assign"].default == 2
    )


def test_cells_clusters_keeps_one_per_chain(spark):
    """semantic_dedup_cells_clusters (the fourth blocking × keep-rule
    corner): on a within-cell chain a~b~c with cos(a,c) < t the
    cluster-atomic rule keeps exactly a (one survivor per component,
    drops size-1), while the adjacency rule of semantic_dedup_cells
    also drops both b and c — the same contract split as the LSH
    pair of operators."""
    import math

    import numpy as np

    # three unit vectors in a plane: 0 at 0 deg, 1 at 20 deg, 2 at 40
    # deg -> cos(0,1)=cos(1,2)=0.94 >= 0.9, cos(0,2)=0.766 < 0.9
    def vec(deg):
        a = math.radians(deg)
        v = [math.cos(a), math.sin(a)] + [0.0] * (DIM - 2)
        return v

    rows = [(0, vec(0)), (1, vec(20)), (2, vec(40)), (50, vec(180))]
    df = _emb(spark, rows)
    cents = [vec(10), vec(180)]  # all three chain members share cell 0

    atomic = {
        r["vec_id"]
        for r in similarity.semantic_dedup_cells_clusters(
            df, cents, threshold=0.9
        ).collect()
    }
    assert atomic == {0, 50}

    adjacency = {
        r["vec_id"]
        for r in similarity.semantic_dedup_cells(
            df, cents, threshold=0.9
        ).collect()
    }
    assert adjacency == {0, 50}  # b dropped by a, c dropped by b
    # where they split: a 2-cluster pair behaves identically...
    pair = _emb(spark, [(0, vec(0)), (1, vec(20)), (50, vec(180))])
    assert {
        r["vec_id"]
        for r in similarity.semantic_dedup_cells_clusters(
            pair, cents, threshold=0.9
        ).collect()
    } == {0, 50}


def test_mine_hard_negatives_excludes_positives_before_rank(spark):
    """Hard-negative mining: positives and self-pairs are excluded
    BEFORE the per-query rank — a query whose positives top the
    similarity list still gets k full negatives, none of them a
    positive or itself, and each negative set equals the batch-IVF
    top-k computed over the corpus minus that query's positives."""
    import numpy as np

    rng = np.random.RandomState(31)
    pts = rng.randn(50, DIM)
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    # make 10/11 near-copies of query 0 so they top its ranking
    pts[10] = pts[0] + 0.001
    pts[11] = pts[0] - 0.001
    df = _emb(
        spark,
        [(int(i), [float(x) for x in v]) for i, v in enumerate(pts)],
    )
    cents = [[float(x) for x in pts[i]] for i in range(4)]
    queries = df.filter(F.col("vec_id") < 2)
    positives = spark.createDataFrame(
        [(0, 10), (0, 11), (1, 5)], "query_id long, vec_id long"
    )

    negs = similarity.mine_hard_negatives(
        df, queries, positives, cents, k=4, n_probes=2
    ).collect()
    per_q = {}
    for r in negs:
        per_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert set(per_q) == {0, 1}
    assert all(len(v) == 4 for v in per_q.values())
    assert per_q[0].isdisjoint({0, 10, 11})  # self + positives gone
    assert per_q[1].isdisjoint({1, 5})

    # equivalence: negatives == batch-IVF top-k over (corpus minus
    # that query's positives/self)
    for q in (0, 1):
        excl = {0, 10, 11} if q == 0 else {1, 5}
        pruned = df.filter(~F.col("vec_id").isin(list(excl)))
        expect = {
            r["vec_id"]
            for r in similarity.ivf_topk_batch(
                pruned, queries.filter(F.col("vec_id") == q), cents,
                k=4, n_probes=2,
            ).collect()
        }
        assert per_q[q] == expect

    # ADVICE r14: max_broadcast_positives is a real keyword — forcing
    # the shuffle anti-join (cap 0 < 3 pairs) returns identical rows
    shuffled = similarity.mine_hard_negatives(
        df, queries, positives, cents, k=4, n_probes=2,
        max_broadcast_positives=0,
    ).collect()
    assert {
        (r["query_id"], r["vec_id"]) for r in shuffled
    } == {(r["query_id"], r["vec_id"]) for r in negs}


def test_arrow_probe_path_handles_null_and_short_vectors(spark):
    """Unassignable query rows (null / wrong-length vectors) are
    dropped BEFORE the route split, so the expression and Arrow probe
    paths return IDENTICAL rows on degenerate inputs (r14 review:
    the raw expression grid would otherwise probe on NULL d2 and
    score a short vector cos=1.0 via zip_with truncation); the Arrow
    ranker also guards directly."""
    rows = [
        (0, [1.0] * DIM),
        (1, None),
        (2, [1.0, 2.0]),  # wrong length
        (3, [0.5] * DIM),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0] * DIM, [-1.0] * DIM]
    q = df.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("_qv"),
    )
    probes = similarity._probe_cells_arrow(q, cents, n_probes=2).collect()
    by_q = {}
    for r in probes:
        by_q.setdefault(r["query_id"], []).append(r["_cell"])
    assert set(by_q) == {0, 3}  # null and short rows dropped
    assert sorted(by_q[0]) == [0, 1] and sorted(by_q[3]) == [0, 1]
    assert by_q[0][0] == 0  # nearest cell first


def test_both_probe_routes_drop_degenerate_queries(spark, monkeypatch):
    """ivf_topk_batch with null / wrong-length query vectors returns
    the SAME rows on the expression and Arrow routes — only the
    well-formed queries answer, no NULL cos_sim rows, no bogus
    cos=1.0 from truncated zip_with."""
    import numpy as np

    rng = np.random.RandomState(3)
    pts = rng.randn(30, DIM)
    df = _emb(
        spark,
        [(int(i), [float(x) for x in v]) for i, v in enumerate(pts)],
    )
    cents = [[float(x) for x in pts[i]] for i in range(4)]
    queries = spark.createDataFrame(
        [
            (0, [float(x) for x in pts[0]]),
            (1, None),
            (2, [1.0, 2.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    expr_rows = {
        (r["query_id"], r["vec_id"], r["cos_sim"])
        for r in similarity.ivf_topk_batch(
            df, queries, cents, k=3, n_probes=2
        ).collect()
    }
    monkeypatch.setattr(similarity, "IVF_EXPR_MAX_CELLS", 0)
    arrow_rows = {
        (r["query_id"], r["vec_id"], r["cos_sim"])
        for r in similarity.ivf_topk_batch(
            df, queries, cents, k=3, n_probes=2
        ).collect()
    }
    assert expr_rows == arrow_rows
    assert {q for q, _, _ in expr_rows} == {0}
    assert all(c is not None for _, _, c in expr_rows)
