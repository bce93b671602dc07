"""Unit tests for the training-data-pipeline operators: dedup
(exact / MinHash+LSH / SimHash / Jaccard), similarity search
(brute-force, LSH-ANN, IVF), text analysis, and multimodal plumbing.

Fixtures plant known duplicates/near-duplicates so the assertions are
semantic (the pair IS found, the survivor IS the min id), not just
"it runs"."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cybersecurity_miw_spark.operators import dedup, multimodal, similarity, textstats

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "near the warm fire and the birds sing in the tall trees outside"
)
NEAR = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "near the warm fire and the birds sing in the tall trees today"
)
OTHER = (
    "completely different content about databases indexes partitions "
    "shuffles joins aggregations and query optimizers at large scale"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact duplicate of 0
        (2, NEAR),  # near duplicate of 0
        (3, OTHER),
        (4, "   " + BASE.upper() + "  "),  # same after normalization
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---- exact dedup ----


def test_exact_dedup_keeps_min_id(docs):
    survivors = {r["doc_id"] for r in dedup.exact_dedup(docs).collect()}
    # 0,1,4 share a fingerprint (case/whitespace-normalized) → keep 0
    assert survivors == {0, 2, 3}


def test_duplicate_groups(docs):
    groups = {r["representative"]: r["n_docs"] for r in dedup.duplicate_groups(docs).collect()}
    assert groups[0] == 3
    assert groups[2] == 1
    assert groups[3] == 1


def test_fingerprint_normalizes_case_and_whitespace(spark):
    df = spark.createDataFrame([("A  b\tC",), ("a b c",)], "text string")
    fps = [r[0] for r in df.select(textstats.fingerprint(F.col("text"))).collect()]
    assert fps[0] == fps[1]


# ---- MinHash / LSH / Jaccard ----


def test_minhash_identical_signatures(docs):
    sig = dedup.minhash_signature(F.col("text"))
    rows = {r["doc_id"]: r["s"] for r in docs.select("doc_id", sig.alias("s")).collect()}
    assert rows[0] == rows[1]
    assert rows[0] != rows[3]
    # near-duplicate shares most of the signature
    shared = sum(a == b for a, b in zip(rows[0], rows[2]))
    assert shared >= 8


def test_lsh_candidates_find_planted_pair(docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_candidates(docs).collect()
    }
    assert (0, 1) in pairs
    assert (0, 2) in pairs  # near-dup lands in at least one shared band
    assert all(a < b for a, b in pairs)
    assert not any(3 in p for p in pairs)


def test_pairs_from_bands_matches_self_join_model(spark):
    """The grouped-roster pair expansion (r18 rewrite) emits exactly
    the self-join's pair set — including a pair sharing buckets in
    TWO bands (distinct collapses it), a width-3 bucket (3 pairs),
    and the max_bucket_width fence (wide bucket excluded with zero
    extra exchanges)."""
    rows = [
        # band 0 bucket "x": docs 1,2,3 -> pairs (1,2),(1,3),(2,3)
        (1, 0, "x"), (2, 0, "x"), (3, 0, "x"),
        # band 1 bucket "y": docs 1,2 -> duplicate pair (1,2)
        (1, 1, "y"), (2, 1, "y"),
        # band 2 singleton bucket: no pairs
        (9, 2, "z"),
    ]
    banded = spark.createDataFrame(
        rows, "doc_id long, band int, band_hash string"
    )
    a, b = banded.alias("a"), banded.alias("b")
    model = {
        (r["id_a"], r["id_b"])
        for r in a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
        .collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.pairs_from_bands(banded).collect()
    }
    assert got == model == {(1, 2), (1, 3), (2, 3)}
    fenced = {
        (r["id_a"], r["id_b"])
        for r in dedup.pairs_from_bands(banded, max_bucket_width=2).collect()
    }
    assert fenced == {(1, 2)}  # width-3 bucket excluded, band-1 pair kept


def test_pairs_from_bands_duplicate_id_no_self_pair(spark):
    """r19 (ADVICE r18): an id appearing TWICE in one bucket — legal
    through the public contract (checkpointed band stores, a replayed
    doc inside one streaming micro-batch) — must not yield an (x, x)
    self-pair. The r18 collect_list roster emitted (1, 1) here; the
    collect_set roster cannot."""
    rows = [(1, 0, "x"), (1, 0, "x"), (2, 0, "x")]
    banded = spark.createDataFrame(
        rows, "doc_id long, band int, band_hash string"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.pairs_from_bands(banded).collect()
    }
    assert got == {(1, 2)}


def test_pairs_from_bands_default_fence_and_escape_hatch(spark):
    """r19 (VERDICT r18 #5): the mega-bucket fence is ON by default
    (DEFAULT_MAX_BUCKET_WIDTH) so an adversarial bucket cannot make
    the pair output quadratic silently; max_bucket_width=None is the
    documented unfenced escape hatch."""
    w = dedup.DEFAULT_MAX_BUCKET_WIDTH
    assert w >= 64  # wide enough for every real fixture bucket (max 4)
    # a bucket exactly AT the cap expands; one element past it is fenced
    at_cap = [(i, 0, "x") for i in range(3)]
    banded = spark.createDataFrame(
        at_cap, "doc_id long, band int, band_hash string"
    )
    assert dedup.pairs_from_bands(banded, max_bucket_width=3).count() == 3
    assert dedup.pairs_from_bands(banded, max_bucket_width=2).count() == 0
    assert dedup.pairs_from_bands(banded, max_bucket_width=None).count() == 3


def test_jaccard_pairs_values(spark, docs):
    pairs = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "id_a long, id_b long")
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in dedup.jaccard_pairs(docs, pairs).collect()}
    assert j[(0, 1)] == pytest.approx(1.0)
    assert 0.7 < j[(0, 2)] < 1.0
    assert j[(0, 3)] < 0.1


def test_near_dedup_minhash_drops_duplicates(docs):
    survivors = {r["doc_id"] for r in dedup.near_dedup_minhash(docs, threshold=0.8).collect()}
    # 1 (exact), 2 (near), 4 (normalized exact) all collapse onto 0
    assert survivors == {0, 3}


# ---- SimHash ----


def test_simhash_identical_and_near(docs):
    rows = {
        r["doc_id"]: r["s"]
        for r in docs.select("doc_id", dedup.simhash(F.col("text")).alias("s")).collect()
    }
    assert rows[0] == rows[1]
    ham_near = bin((rows[0] ^ rows[2]) & (2**64 - 1)).count("1")
    ham_far = bin((rows[0] ^ rows[3]) & (2**64 - 1)).count("1")
    assert ham_near < ham_far
    assert ham_near <= 16


def test_simhash_candidates(docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_dedup_candidates(docs).collect()
    }
    assert (0, 1) in pairs


# ---- similarity search ----


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk_order(vecs):
    rows = similarity.brute_force_topk(vecs, [1.0, 0.0, 0.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in rows] == [0, 1, 2] or [r["vec_id"] for r in rows][:2] == [0, 1]
    assert rows[0]["cos_sim"] == pytest.approx(1.0)


def test_pairwise_topk(vecs):
    out = similarity.pairwise_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=2).collect()
    assert {r["query_id"] for r in out} == {0}
    assert [r["vec_id"] for r in out] == [1, 2]


def test_lsh_ann_topk_contains_self(vecs):
    rows = similarity.lsh_ann_topk(vecs, [1.0, 0.0, 0.0, 0.0], dim=4, k=5, n_planes=4).collect()
    # the query's own bucket contains the identical vector
    assert rows and rows[0]["cos_sim"] == pytest.approx(1.0)


def test_multi_probe_widens_candidates(vecs):
    q = [1.0, 0.0, 0.0, 0.0]
    one = similarity.lsh_ann_topk(vecs, q, dim=4, k=10, n_planes=4, n_probes=1)
    many = similarity.lsh_ann_topk(vecs, q, dim=4, k=10, n_planes=4, n_probes=5)
    # probing Hamming-1 neighbor buckets can only ADD candidates
    assert many.count() >= one.count()
    assert many.collect()[0]["cos_sim"] == pytest.approx(1.0)


def test_ivf_topk_multi_probe(vecs):
    centroids = similarity.train_centroids(vecs, n_cells=2, dim=4, iters=2)
    q = [1.0, 0.0, 0.0, 0.0]
    one = similarity.ivf_topk(vecs, centroids, q, k=10, n_probes=1)
    both = similarity.ivf_topk(vecs, centroids, q, k=10, n_probes=2)
    # probing every cell degrades to exact search over all rows
    assert both.count() == min(10, vecs.count())
    assert both.count() >= one.count()
    assert both.collect()[0]["cos_sim"] == pytest.approx(1.0)


def test_ivf_assign_and_train(vecs):
    centroids = similarity.train_centroids(vecs, n_cells=2, dim=4, iters=2)
    assert len(centroids) == 2 and all(len(c) == 4 for c in centroids)
    assigned = similarity.ivf_assign(vecs, centroids)
    cells = {r["vec_id"]: r["_cell"] for r in assigned.collect()}
    # identical-direction vectors land in the same cell
    assert cells[0] == cells[1]


def test_ivf_trained_recall_vs_brute_force(spark):
    """Trained-centroid IVF (the variant with no DuckDB twin — see
    catalog.q_ann_ivf) must recover the brute-force top-k when probing
    enough cells: recall golden standing in for the hash oracle."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[0][1]
    cents = similarity.train_centroids(df, n_cells=4, dim=8, iters=2)
    exact = [r["vec_id"] for r in similarity.brute_force_topk(df, q, k=10).collect()]
    approx = [
        r["vec_id"]
        for r in similarity.ivf_topk(df, cents, q, k=10, n_probes=4).collect()
    ]
    # n_probes = n_cells degrades to exact search → recall must be 1.0
    assert approx == exact
    half = {
        r["vec_id"]
        for r in similarity.ivf_topk(df, cents, q, k=10, n_probes=2).collect()
    }
    # multi-probe at half the cells still finds most of the true top-k
    assert len(half & set(exact)) >= 5


# ---- text analysis ----


def test_lang_id(spark):
    rows = [
        ("the cat and the dog went to the park and it is sunny",),
        ("el perro y la casa de los árboles que vimos",),
        ("12345 67890 !!!",),
    ]
    df = spark.createDataFrame(rows, "text string")
    langs = [r[0] for r in df.select(textstats.lang_id(F.col("text"))).collect()]
    assert langs[0] == "en"
    assert langs[1] == "es"
    assert langs[2] == "und"


def test_quality_monotonic(spark):
    clean = "a readable sentence with plenty of ordinary words " * 5
    junk = "!!! ### $$$ %%% ^^^"
    df = spark.createDataFrame([(clean,), (junk,)], "text string")
    q = [r[0] for r in df.select(textstats.quality_score(F.col("text"))).collect()]
    assert 0.0 <= q[1] < q[0] <= 1.0


def test_token_counts(spark):
    df = spark.createDataFrame([("one two  three",)], "text string")
    row = df.select(
        textstats.token_count(F.col("text")).alias("n"),
        textstats.word_token_count(F.col("text")).alias("s"),
    ).head()
    assert row["n"] == 3
    assert row["s"] == 3


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([("one two",)], "text string")
    sh = df.select(textstats.shingles(F.col("text"), 3).alias("s")).head()["s"]
    assert sh == ["one two"]


# ---- multimodal plumbing ----


def test_media_adapter_and_features(spark):
    docs = spark.createDataFrame(
        [(0, "hello world"), (1, "spark")], "doc_id long, text string"
    )
    media = multimodal.documents_as_media(docs)
    assert media.columns == ["media_id", "kind", "payload", "mime", "n_bytes"]
    feats = multimodal.extract_features(media, frames=3, dim=4).collect()
    # frames × docs rows, each with a dim-length vector
    assert len(feats) == 6
    assert all(len(r["feature"]) == 4 for r in feats)
    assert {r["frame_no"] for r in feats} == {0, 1, 2}
    # deterministic fake decoder: same payload → same features
    again = multimodal.extract_features(media, frames=3, dim=4).collect()
    assert sorted(map(str, feats)) == sorted(map(str, again))


def test_media_stats_prunes_payload(spark):
    docs = spark.createDataFrame(
        [(0, "hello world"), (1, "spark")], "doc_id long, text string"
    )
    media = multimodal.documents_as_media(docs)
    stats = multimodal.media_stats(media).collect()
    assert stats[0]["n_media"] == 2
    assert stats[0]["total_bytes"] == len(b"hello world") + len(b"spark")


def test_resize_media_payload_shape(docs):
    from cybersecurity_miw_spark.operators import multimodal

    media = multimodal.documents_as_media(docs)
    out = multimodal.resize_media(media, 8, 4).collect()
    assert len(out) == docs.count()
    assert all(r["n_bytes"] == 32 and len(r["payload"]) == 32 for r in out)
    # deterministic: same input -> same bytes
    again = {r["media_id"]: bytes(r["payload"])
             for r in multimodal.resize_media(media, 8, 4).collect()}
    assert all(bytes(r["payload"]) == again[r["media_id"]] for r in out)


def _py_ahash(payload: bytes, bits: int = 60) -> int:
    """Pure-python reference of multimodal.with_phash's aHash rule."""
    n = len(payload)
    if n == 0:
        return 0
    smp = [payload[(i * n) // bits] for i in range(bits)]
    tot = sum(smp)
    return sum((1 << i) for i in range(bits) if bits * smp[i] > tot)


def _media(spark, rows):
    return spark.createDataFrame(
        [(i, bytearray(p)) for i, p in rows], "media_id long, payload binary"
    )


def test_phash_matches_reference_and_flags_planted_near_dup(spark):
    """r13 perceptual-hash family: the Spark aHash equals the pure-
    python reference bit for bit; a payload with a few non-sampled
    bytes flipped (the re-encode scenario) hashes identically and is
    flagged as a banded candidate; an unrelated payload is not."""
    a = bytes((i * 7 + 13) % 256 for i in range(600))
    a2 = bytearray(a)
    for p in (5, 27, 133):  # non-sampled positions (samples sit at i*10)
        a2[p] = (a2[p] + 1) % 256
    b = bytes((i * 31 + 7) % 251 for i in range(600))
    media = _media(spark, [(0, a), (1, bytes(a2)), (2, b), (3, b"")])

    got = {
        r["media_id"]: r["phash"]
        for r in multimodal.with_phash(media).collect()
    }
    assert got == {
        0: _py_ahash(a), 1: _py_ahash(bytes(a2)), 2: _py_ahash(b), 3: 0
    }
    assert got[0] == got[1]  # flips off the sample grid: identical
    assert got[0] != got[2]

    pairs = {
        (r["id_a"], r["id_b"])
        for r in multimodal.phash_dedup_candidates(media).collect()
    }
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_phash_bucket_fence_excludes_mega_bucket(spark):
    """max_bucket_width (the MinHash/IVF fence, r15 for phash): a
    planted mega-bucket of byte-identical payloads — the random-
    collision blowup independent media produces at scale — is
    excluded from the pair join; pairs among narrow buckets are
    untouched; oversized_phash_buckets names the fenced (band, val)
    keys with their widths."""
    from cybersecurity_miw_spark.operators import multimodal

    mega = bytes((j * 13 + 5) % 256 for j in range(400))
    rows = [(i, mega) for i in range(8)]  # width-8 bucket in EVERY band
    a = bytes((j * 7 + 1) % 256 for j in range(300))
    a2 = bytearray(a)
    a2[5] = (a2[5] + 1) % 256  # off-grid flip: same hash as a
    rows += [(100, a), (101, bytes(a2))]
    media = _media(spark, rows)

    unfenced = {
        (r["id_a"], r["id_b"])
        for r in multimodal.phash_dedup_candidates(media).collect()
    }
    fenced = {
        (r["id_a"], r["id_b"])
        for r in multimodal.phash_dedup_candidates(
            media, max_bucket_width=4
        ).collect()
    }
    assert (100, 101) in unfenced and (100, 101) in fenced
    mega_pairs = {(x, y) for x in range(8) for y in range(8) if x < y}
    assert mega_pairs <= unfenced
    assert not (mega_pairs & fenced)  # the blowup never materializes

    over = multimodal.oversized_phash_buckets(media, 4).collect()
    assert over and all(r["width"] == 8 for r in over)
    # a permissive cap excludes nothing
    wide = {
        (r["id_a"], r["id_b"])
        for r in multimodal.phash_dedup_candidates(
            media, max_bucket_width=100
        ).collect()
    }
    assert wide == unfenced


def test_phash_resize_composition_is_identity_grid(spark):
    """with_phash(resize_media(df, w, h)) with w*h == bits samples
    every decoded grid cell exactly once ((i*60)//60 == i) — the
    classic 8x8-style aHash once a real decoder/resize is registered;
    pinned with the deterministic fake resize."""
    payload = bytes((i * 11 + 3) % 256 for i in range(200))
    media = spark.createDataFrame(
        [(0, "image", bytearray(payload), "image/raw", len(payload))],
        multimodal.MEDIA_SCHEMA,
    )
    resized = multimodal.resize_media(media, 6, 10)  # 60-byte grid
    grid = bytes(resized.select("payload").head()[0])
    assert len(grid) == 60
    got = multimodal.with_phash(resized).head()["phash"]
    assert got == _py_ahash(grid)


def test_phash_incremental_store_matches_pooled(spark, tmp_path):
    """Store-backed incremental twin (the family contract): batch-vs-
    store candidates equal the pooled self-join restricted to
    batch × history pairs; the sidecar refuses a mismatched band
    family; replay self-pairs are guarded."""
    import pytest

    rows = []
    for i in range(12):
        base = bytes((j * (7 + i) + i) % 256 for j in range(300))
        rows.append((i, base))
    # plant a cross-split near-dup: 100 is a light edit of 3
    dup = bytearray(rows[3][1])
    dup[17] = (dup[17] + 1) % 256
    rows.append((100, bytes(dup)))
    media = _media(spark, rows)
    history = media.filter(F.col("media_id") < 50)
    batch = media.filter(F.col("media_id") >= 50)

    store_dir = str(tmp_path / "phash_store")
    multimodal.phash_band_store(history).write.parquet(store_dir)
    multimodal.write_phash_store_params(spark, store_dir)
    with pytest.raises(ValueError, match="phash store"):
        multimodal.load_phash_band_store(spark, store_dir, band_bits=10)

    inc = {
        (r["new_id"], r["stored_id"])
        for r in multimodal.incremental_phash_candidates(
            batch, store_dir
        ).collect()
    }
    pooled = {
        (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"]))
        for r in multimodal.phash_dedup_candidates(media).collect()
        if (r["id_a"] >= 50) != (r["id_b"] >= 50)
    }
    assert inc == pooled
    assert (100, 3) in inc  # the planted cross-split near-dup
    assert all(n != s for n, s in inc)


def test_training_pipeline_example(spark):
    import sys
    sys.path.insert(0, "examples")
    from training_data_pipeline import curate

    out = curate(spark, "/root/testdata/sf0.001")
    n = out.count()
    assert 0 < n <= 500
    cols = set(out.columns)
    assert {"doc_id", "lang_guess", "quality", "fingerprint"} <= cols


def test_brute_force_topk_arrow_matches_jvm(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 0).select("embedding").head()[0])
    jvm = similarity.brute_force_topk(emb, q, k=10).collect()
    arrow = similarity.brute_force_topk_arrow(emb, q, k=10).collect()
    assert [r["vec_id"] for r in jvm] == [r["vec_id"] for r in arrow]
    assert all(
        a["cos_sim"] == pytest.approx(j["cos_sim"], abs=2e-6)
        for a, j in zip(arrow, jvm)
    )


def test_pairwise_topk_lsh_scale_path(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    out = similarity.pairwise_topk_lsh(emb, queries, dim=64, k=5, n_planes=2)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) <= {0, 1, 2} and by_q  # same-bucket queries answered
    for qid, rs in by_q.items():
        assert len(rs) <= 5
        assert all(r["vec_id"] != qid for r in rs)
        sims = [r["cos_sim"] for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_simhash_keeps_null_text_docs(spark):
    """NULL-text documents must not vanish from the fingerprint output
    (explode of split(NULL) drops rows without the coalesce)."""
    df = spark.createDataFrame(
        [(0, BASE), (1, None), (2, "")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["_simhash"] for r in dedup.with_simhash(df).collect()}
    assert set(out) == {0, 1, 2}
    # NULL and empty text share the ''-token fingerprint
    assert out[1] == out[2]


def test_word_reverse_index_postings(spark):
    from cybersecurity_miw_spark.operators import apps

    df = spark.createDataFrame(
        [(0, "a b a"), (1, "b c")], "doc_id long, text string"
    )
    out = {r["word"]: r for r in apps.word_reverse_index(df).collect()}
    m = 1 << 20
    assert out["a"]["postings"] == [0, 2] and out["a"]["n"] == 2
    assert out["b"]["postings"] == [1, m + 0] and out["b"]["n"] == 2
    assert out["c"]["postings"] == [m + 1] and out["c"]["n"] == 1
    capped = {
        r["word"]: r["postings"]
        for r in apps.word_reverse_index(df, max_postings=1).collect()
    }
    assert capped["a"] == [0] and capped["b"] == [1]


def test_matrix_multiply_hand_golden(spark):
    """2x2 hand case: A=[[1,2],[3,4]], B=[[5,6],[7,8]] ->
    C=[[19,22],[43,50]]."""
    from cybersecurity_miw_spark.operators import apps

    a = spark.createDataFrame(
        [(0, 0, 1), (0, 1, 2), (1, 0, 3), (1, 1, 4)], "i long, k long, a long"
    )
    b = spark.createDataFrame(
        [(0, 0, 5), (0, 1, 6), (1, 0, 7), (1, 1, 8)], "k long, j long, b long"
    )
    out = {(r["i"], r["j"]): r["c"] for r in apps.matrix_multiply(a, b).collect()}
    assert out == {(0, 0): 19, (0, 1): 22, (1, 0): 43, (1, 1): 50}


def test_row_covariance_hand_golden(spark):
    """Rows m0=[1,3], m1=[2,6] (n_cols=2, n_rows=2): int means 2 and 4;
    cov(0,0) = ((1-2)(1-2)+(3-2)(3-2))/1 = 2, cov(0,1) = ((1-2)(2-4)+
    (3-2)(6-4))/1 = 4, cov(1,1) = 8 (app/pca.cc integer semantics)."""
    from cybersecurity_miw_spark.operators import apps

    cells = spark.createDataFrame(
        [(0, 0, 1), (0, 1, 3), (1, 0, 2), (1, 1, 6)], "i long, k long, q long"
    )
    rows = {
        (r["row_i"], r["row_j"]): r
        for r in apps.row_covariance(cells, n_cols=2).collect()
    }
    assert set(rows) == {(0, 0), (0, 1), (1, 1)}
    assert rows[(0, 0)]["mean_i"] == 2 and rows[(1, 1)]["mean_i"] == 4
    assert rows[(0, 0)]["cov"] == 2
    assert rows[(0, 1)]["cov"] == 4
    assert rows[(1, 1)]["cov"] == 8


def test_row_covariance_negative_division_parity(spark):
    """A negative, inexact covariance numerator must divide like C
    (truncate toward zero, app/pca.cc:283 int division): rows [0,7],
    [6,0], [3,3] all have integer mean 3; cov(0,1) numerator =
    (0-3)(6-3) + (7-3)(0-3) = -21 and n_rows-1 = 2, so the result
    must be trunc(-21/2) = -10 — floor division would give -11."""
    from cybersecurity_miw_spark.operators import apps

    cells = spark.createDataFrame(
        [(0, 0, 0), (0, 1, 7), (1, 0, 6), (1, 1, 0), (2, 0, 3), (2, 1, 3)],
        "i long, k long, q long",
    )
    rows = {
        (r["row_i"], r["row_j"]): r["cov"]
        for r in apps.row_covariance(cells, n_cols=2).collect()
    }
    assert rows[(0, 1)] == -10


def test_kmeans_train_int_converges(spark):
    """Two obvious integer clusters; Lloyd's from the first-2 seeds
    must land each centroid on its cluster's integer mean."""
    from cybersecurity_miw_spark.operators import apps

    pts = spark.createDataFrame(
        [
            (0, [0, 0]), (1, [2, 0]), (2, [0, 2]),          # cluster at ~(0,0)
            (3, [100, 100]), (4, [102, 100]), (5, [100, 102]),
        ],
        "pid long, q array<long>",
    )
    cents = apps.kmeans_train_int(pts, k=2, dim=2, max_iters=10)
    assert sorted(cents) == [[0, 0], [100, 100]]


def test_kmeans_assign_tie_breaks_low_index(spark):
    """Equidistant point must take the LOWEST centroid index
    (app/kmeans.cc find_clusters keeps the first strict minimum)."""
    from cybersecurity_miw_spark.operators import apps

    pts = spark.createDataFrame([(0, [5, 5])], "pid long, q array<long>")
    out = apps.kmeans_assign_int(pts, [[0, 0], [10, 10]]).collect()
    assert out[0]["cell"] == 0


def test_decontaminate_drops_planted_eval_leakage(spark):
    """Planted cases: exact copy, near copy (one word changed), short
    text exact copy (too short to shingle — caught by fingerprint),
    and clean rows that must survive."""
    from cybersecurity_miw_spark.operators import dedup

    long_text = (
        "the quick brown fox jumps over the lazy dog tonight while "
        "a gentle rain falls on the quiet empty streets of the old "
        "town near the harbor lights"
    )
    eval_rows = [
        (100, long_text),
        (101, "tiny"),
        (102, "completely unrelated evaluation question about physics"),
    ]
    train_rows = [
        # exact copy of eval 100
        (1, long_text),
        # near copy of eval 100 (one word differs)
        (2, long_text.replace("harbor", "station")),
        # exact copy of the unshingleable eval 101
        (3, "tiny"),
        # clean
        (4, "an ordinary training document about cooking pasta sauce"),
        (5, "logs and metrics from a long running batch service"),
    ]
    schema = "doc_id bigint, text string"
    train = spark.createDataFrame(train_rows, schema)
    ev = spark.createDataFrame(eval_rows, schema)
    out = sorted(
        r["doc_id"]
        for r in dedup.decontaminate(train, ev, threshold=0.5).collect()
    )
    assert out == [4, 5]


# ---- hashing-trick text embedding ----


def test_hashed_embedding_unit_norm_and_similarity(spark):
    from cybersecurity_miw_spark.operators.textstats import hashed_embedding

    a = "the quick brown fox jumps over the lazy dog again and again"
    b = a + " extra"          # near-identical
    c = "zzz qqq www eee rrr ttt yyy uuu iii ooo ppp"  # disjoint words
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    emb = {
        r["doc_id"]: r["embedding"]
        for r in hashed_embedding(df, dim=64).collect()
    }

    def dot(u, v):
        return sum(x * y for x, y in zip(u, v))

    for v in emb.values():
        assert abs(dot(v, v) - 1.0) < 1e-3  # unit norm (post-rounding)
    assert dot(emb[1], emb[2]) > 0.9   # near-dup pair stays close
    assert dot(emb[1], emb[3]) < 0.5   # unrelated text is far


def test_hashed_embedding_deterministic(spark):
    from cybersecurity_miw_spark.operators.textstats import hashed_embedding

    df = spark.createDataFrame(
        [(i, f"w{i} common words shared {i}") for i in range(20)],
        "doc_id long, text string",
    )
    e1 = sorted(map(repr, hashed_embedding(df).collect()))
    e2 = sorted(map(repr, hashed_embedding(df).collect()))
    assert e1 == e2


# ---- incremental dedup against a persisted store ----


def test_dedup_against_store_filters_history_and_batch_dups(spark):
    history = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "unique old doc")],
        "doc_id LONG, text STRING",
    )
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps"),  # dup of history -> drop
            (11, "brand new document text"),     # fresh -> keep
            (12, "brand new document text"),     # batch dup of 11 -> drop
            (13, "another fresh one"),           # fresh -> keep
        ],
        "doc_id LONG, text STRING",
    )
    store = dedup.fingerprint_store(history)
    kept = sorted(
        r["doc_id"]
        for r in dedup.dedup_against_store(batch, store).collect()
    )
    assert kept == [11, 13]


def test_incremental_lsh_matches_pooled_self_join(spark):
    """A pair is an incremental candidate iff the pooled self-join
    would find it (same hash family) restricted to batch x history."""
    rows = [
        (i, f"shared shingle text block variant {i % 3}") for i in range(12)
    ] + [(100, "totally unrelated content here")]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    history = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 != 0)

    store = dedup.lsh_band_store(history)
    inc = {
        (r["new_id"], r["stored_id"])
        for r in dedup.incremental_lsh_candidates(batch, store).collect()
    }
    pooled = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in dedup.minhash_lsh_candidates(docs).collect()
    }
    pooled_cross = {
        (a, b) if a % 2 else (b, a)
        for (a, b) in pooled
        if (a % 2) != (b % 2)  # exactly one side in the batch
    }
    assert inc == {(n, s) for (n, s) in pooled_cross}
    assert inc  # the fixture actually produces candidates
    assert all(n % 2 == 1 and s % 2 == 0 for n, s in inc)


# ---- partition-pruned ANN bucket layout ----


def test_bucket_partitioned_layout_prunes_probe_scan(spark, tmp_path):
    """The lsh_ann_topk docstring's scale claim, proven: a corpus
    written partitionBy(bucket) serves a probe-limited query from
    ONLY the probed buckets' files (Catalyst partition pruning), and
    the pruned scan returns the same rows as a full-scan filter."""
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.randn(400, 16)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    ).withColumn(
        "_b", similarity.hyperplane_bucket(F.col("embedding"), 16, 4)
    )
    path = str(tmp_path / "ann_layout")
    df.write.partitionBy("_b").parquet(path)

    corpus = spark.read.parquet(path)
    probes = [3, 7]
    probed = corpus.filter(F.col("_b").isin(probes))

    # Catalyst prunes at the file index: the bucket predicate lands in
    # the scan's PartitionFilters (not a post-scan Filter over all
    # partitions)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:250]
    assert "_b" in pf and "IN(3,7" in pf.replace(" ", ""), pf
    # physical equivalence: reading ONLY the two probed directories
    # yields the same rows the pruned scan returns
    direct = spark.read.parquet(f"{path}/_b=3", f"{path}/_b=7")
    assert {r["vec_id"] for r in direct.collect()} == {
        r["vec_id"] for r in probed.collect()
    }
    # and the pruned read is lossless for those buckets
    want = {int(i) for i in range(400)
            if int(similarity.bucket_value([float(x) for x in vecs[i]], 4))
            in probes}
    got = {r["vec_id"] for r in probed.collect()}
    assert got == want and got


def test_ivf_pq_index_partitioned_layout_roundtrip(spark, tmp_path):
    """The ivf_pq_index docstring's production layout, proven: the
    index written partitionBy(_cell) (a) serves a probe-limited scan
    via partition pruning and (b) the shortlist-rerank query over the
    on-disk layout returns exactly the in-memory result."""
    import numpy as np

    rng = np.random.RandomState(11)
    vecs = rng.randn(300, 16)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    cents = similarity.train_centroids(df, n_cells=4, dim=16, iters=2)
    books = similarity.train_pq_codebooks(df, dim=16, m=4, k=8, iters=2)
    idx = similarity.ivf_pq_index(df, cents, books)
    path = str(tmp_path / "ivf_idx")
    idx.write.partitionBy("_cell").parquet(path)
    idx_disk = spark.read.parquet(path)

    # (a) a probe-limited scan prunes at the file index
    probed = idx_disk.filter(F.col("_cell").isin([0, 2]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "_cell" in plan.split("PartitionFilters")[1][:250]

    # (b) disk layout == in-memory index, exactly
    q = [float(x) for x in vecs[5]]
    mem = [
        (r["vec_id"], r["cos_sim"])
        for r in similarity.ann_shortlist_rerank(
            df, idx, cents, books, q, k=5, shortlist=50, n_probes=2
        ).collect()
    ]
    disk = [
        (r["vec_id"], r["cos_sim"])
        for r in similarity.ann_shortlist_rerank(
            df, idx_disk, cents, books, q, k=5, shortlist=50, n_probes=2
        ).collect()
    ]
    assert mem == disk and len(mem) == 5


def test_aggressive_normalization_collapses_cosmetic_variants(spark):
    from cybersecurity_miw_spark.operators.textstats import (
        fingerprint_aggressive,
        normalize_aggressive,
    )

    df = spark.createDataFrame(
        [
            (1, "Café résumé, naïve!"),
            (2, "cafe resume naive"),        # accent/case/punct variant
            (3, "  cafe   resume  naive "),  # whitespace variant
            (4, "completely different"),
        ],
        "doc_id LONG, text STRING",
    )
    rows = df.select(
        "doc_id",
        normalize_aggressive(F.col("text")).alias("norm"),
        fingerprint_aggressive(F.col("text")).alias("fp"),
    ).collect()
    by = {r["doc_id"]: (r["norm"], r["fp"]) for r in rows}
    assert by[1][0] == "cafe resume naive"
    assert by[1] == by[2] == by[3]
    assert by[4][1] != by[1][1]


# ---- LSH banding recall at the shipped default (round 8) ----


def test_lsh_default_recall_on_planted_pairs(spark):
    """The banding S-curve is the dedup pipeline's recall ceiling
    (the confirm stage can only keep what banding surfaces). Golden:
    at the shipped default (DEFAULT_NUM_HASHES/DEFAULT_BANDS =
    112/16, r=7) planted pairs with true 3-shingle Jaccard >= 0.78
    are surfaced with recall >= 0.93 and J >= 0.85 pairs with recall
    1.0 — vs 0.80/0.96 measured for the pre-round-8 16/4 default
    (bench_lsh_recall.py, SCALE.md 'LSH banding recall')."""
    from bench_lsh_recall import planted_rows

    rows, true_pairs = planted_rows(n_pairs=150, n_background=50)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_candidates(docs).collect()
    }
    hi = [p for p, j in true_pairs.items() if 0.78 <= j]
    vhi = [p for p, j in true_pairs.items() if 0.85 <= j]
    assert hi and vhi
    recall_hi = sum(p in got for p in hi) / len(hi)
    recall_vhi = sum(p in got for p in vhi) / len(vhi)
    assert recall_hi >= 0.93, recall_hi
    assert recall_vhi == 1.0, recall_vhi
    # background docs (J=0 to everything) must not flood candidates
    assert all(a < 10_000_000 and b < 10_000_000 for a, b in got)


def test_lsh_bucket_width_guard_bounds_mega_cluster(spark):
    """A near-dup mega-cluster (template + tiny per-doc variation)
    puts every member in shared band buckets — W docs => W^2/2 pairs
    without a guard. With max_bucket_width set, oversized buckets are
    excluded from the pair join (output stays bounded) and
    oversized_band_buckets surfaces the cluster WITHOUT its quadratic
    pair list. Normal planted pairs are untouched."""
    template = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, template) for i in range(60)]  # exact mega-cluster
    rows += [
        (100, "completely different text about spark and parquet files"),
        (101, "completely different text about spark and parquet stuff"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    unguarded = dedup.minhash_lsh_candidates(docs)
    n_unguarded = unguarded.count()
    assert n_unguarded >= 60 * 59 // 2  # the quadratic blowup is real

    guarded = dedup.minhash_lsh_candidates(docs, max_bucket_width=10)
    got = {(r["id_a"], r["id_b"]) for r in guarded.collect()}
    assert (100, 101) in got  # normal pair survives the guard
    assert all(a >= 100 for a, _ in got)  # mega-cluster pairs excluded
    assert len(got) < 60  # bounded output

    over = dedup.oversized_band_buckets(docs, max_bucket_width=10)
    rows_over = over.collect()
    assert rows_over  # the mega-cluster is surfaced, not silently lost
    members = {i for r in rows_over for i in r["member_ids"]}
    assert members == set(range(60))
    assert all(r["width"] == 60 for r in rows_over)


def test_incremental_simhash_matches_pooled_self_join(spark):
    """SimHash store path (round 8: closes the incremental triangle —
    exact/MinHash/SimHash all have store-backed ingest): a pair is an
    incremental candidate iff the pooled band self-join would find it
    restricted to batch x history."""
    rows = [
        (i, f"shared common token stream variant {i % 3} tail") for i in range(12)
    ] + [(100, "completely unrelated words nothing alike whatsoever")]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    history = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 != 0)

    store = dedup.simhash_band_store(history)
    inc = {
        (r["new_id"], r["stored_id"])
        for r in dedup.incremental_simhash_candidates(batch, store).collect()
    }
    pooled = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in dedup.simhash_dedup_candidates(docs).collect()
    }
    pooled_cross = {
        (a, b) if a % 2 else (b, a)
        for (a, b) in pooled
        if (a % 2) != (b % 2)
    }
    assert inc == pooled_cross
    assert inc  # fixture produces candidates
    assert all(n % 2 == 1 and s % 2 == 0 for n, s in inc)


def test_near_dedup_clusters_guard_same_survivors(spark):
    """With a mega-cluster of exact-template copies, the guarded path
    (fenced bucket treated as a cluster directly) keeps EXACTLY the
    same survivors as the unguarded path (pairs + confirm + CC) —
    min id per cluster — while never materializing the quadratic
    pair list."""
    template = "the same boilerplate template text repeated everywhere verbatim"
    rows = [(i, template) for i in range(5, 45)]  # mega-cluster, min id 5
    rows += [
        (100, "one unique document with its own words entirely"),
        (101, "another unique document sharing nothing at all"),
        # 12 words, one tail word differs: J = 9/11 ~ 0.818 >= 0.8
        (102, "near duplicate pair alpha beta gamma delta epsilon"
              " zeta theta iota kappa"),
        (103, "near duplicate pair alpha beta gamma delta epsilon"
              " zeta theta iota lambda"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    unguarded = {
        r["doc_id"] for r in dedup.near_dedup_clusters(docs).collect()
    }
    guarded = {
        r["doc_id"]
        for r in dedup.near_dedup_clusters(
            docs, max_bucket_width=10
        ).collect()
    }
    assert guarded == unguarded == {5, 100, 101, 102}


class _Stop(Exception):
    pass


@pytest.mark.parametrize(
    "cap,inner", [(None, "minhash_lsh_candidates"), (5000, "pairs_from_bands")]
)
def test_near_dedup_clusters_passes_its_own_fence(spark, monkeypatch, cap, inner):
    """near_dedup_clusters never inherits the package default fence
    (DEFAULT_MAX_BUCKET_WIDTH=4096): unfenced means unfenced, and a
    caller cap above 4096 is applied once by its own width filter,
    not re-fenced at 4096 by the pair expansion. Checked on the width
    the internal call receives, before any Spark job runs."""
    seen = []

    def record(*args, max_bucket_width="inherited", **kwargs):
        seen.append(max_bucket_width)
        raise _Stop

    monkeypatch.setattr(dedup, inner, record)
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(_Stop):
        dedup.near_dedup_clusters(docs, max_bucket_width=cap)
    assert seen == [None]


def test_incremental_store_guard_and_fenced_hits(spark):
    """A mega-template in HISTORY fans out W pairs per matching batch
    doc per trigger; with max_store_bucket_width the fenced bucket
    leaves the join, and incremental_fenced_hits reports the template
    match as ONE row per batch doc instead."""
    template = "shared boilerplate template body repeated in history many times"
    hist_rows = [(i, template) for i in range(100)]
    hist_rows.append((500, "a normal historical document about gardens"))
    history = spark.createDataFrame(hist_rows, "doc_id long, text string")
    batch = spark.createDataFrame(
        [
            (1000, template),  # template copy arriving in the batch
            (1001, "a normal historical document about gardens "),
        ],
        "doc_id long, text string",
    )
    store = dedup.lsh_band_store(history)

    unguarded = dedup.incremental_lsh_candidates(batch, store)
    assert unguarded.filter(F.col("new_id") == 1000).count() == 100

    guarded = dedup.incremental_lsh_candidates(
        batch, store, max_store_bucket_width=10
    )
    got = {(r["new_id"], r["stored_id"]) for r in guarded.collect()}
    assert not any(n == 1000 for n, _ in got)  # template fan-out fenced
    assert (1001, 500) in got  # normal near-dup still surfaces

    hits = dedup.incremental_fenced_hits(
        batch, store, max_store_bucket_width=10
    ).collect()
    assert {r["new_id"] for r in hits} == {1000}
    assert all(r["store_width"] == 100 for r in hits)


def test_append_to_ivf_index_equals_rebuild(spark, tmp_path):
    """Incremental ANN maintenance: appending a batch (same frozen
    quantizers) to the persisted cell-partitioned index yields a
    byte-equal query surface to a from-scratch build over the pooled
    corpus — and the shortlist-rerank answers match exactly."""
    import numpy as np

    rng = np.random.RandomState(23)
    vecs = rng.randn(300, 16)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    base = spark.createDataFrame(rows[:250], "vec_id LONG, embedding ARRAY<DOUBLE>")
    batch = spark.createDataFrame(rows[250:], "vec_id LONG, embedding ARRAY<DOUBLE>")
    pooled = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    cents = similarity.train_centroids(base, n_cells=4, dim=16, iters=2)
    books = similarity.train_pq_codebooks(base, dim=16, m=4, k=8, iters=2)

    path = str(tmp_path / "ivf_idx")
    similarity.ivf_pq_index(base, cents, books).write.partitionBy(
        "_cell"
    ).parquet(path)
    similarity.append_to_ivf_index(batch, cents, books, path)

    appended = spark.read.parquet(path)
    rebuilt = similarity.ivf_pq_index(pooled, cents, books)
    # identical rows (same frozen quantizers => same cells and codes)
    a = {(r["vec_id"], r["_cell"], bytes(r["pq_code"])) for r in appended.collect()}
    b = {(r["vec_id"], r["_cell"], bytes(r["pq_code"])) for r in rebuilt.collect()}
    assert a == b and len(a) == 300

    q = [float(x) for x in vecs[7]]
    got_app = [
        (r["vec_id"], r["cos_sim"])
        for r in similarity.ann_shortlist_rerank(
            pooled, appended, cents, books, q, k=5, shortlist=50, n_probes=2
        ).collect()
    ]
    got_reb = [
        (r["vec_id"], r["cos_sim"])
        for r in similarity.ann_shortlist_rerank(
            pooled, rebuilt, cents, books, q, k=5, shortlist=50, n_probes=2
        ).collect()
    ]
    assert got_app == got_reb and len(got_app) == 5


# ---- dedup impact report + source overlap matrix ----


def test_impact_report_planted_duplicates(spark):
    rows = [
        (0, "alpha beta gamma", 16),
        (1, "alpha beta gamma", 16),   # dup of 0
        (2, "alpha  beta   gamma", 19),  # whitespace variant -> same fp
        (3, "delta epsilon", 13),
        (4, "zeta eta theta", 14),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "n_chars"])
    r = dedup.impact_report(docs).collect()[0]
    assert r["n_docs"] == 5
    assert r["n_groups"] == 3
    assert r["n_dup_docs"] == 2
    assert r["dup_ppm"] == 400_000
    # representative of the dup group is doc 0 (16 chars); removable
    # bytes = 16 + 19 from docs 1 and 2
    assert r["bytes_removable"] == 35


def test_source_overlap_decomposition_equals_naive(spark):
    # one mega-group spanning three sources with multiplicities
    # 3/2/1, one group entirely within a source, one unique doc
    rows = (
        [(i, "same text", "A") for i in range(3)]
        + [(i, "same text", "B") for i in range(3, 5)]
        + [(5, "same text", "C")]
        + [(6, "other text", "A"), (7, "other text", "A")]
        + [(8, "unique", "B")]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {
        (r["source_a"], r["source_b"]): r["n_pairs"]
        for r in dedup.source_overlap(docs).collect()
    }
    # naive combinatorics: A-A C(3,2)+C(2,2 of other group)=3+1,
    # A-B 3*2, A-C 3*1, B-B C(2,2)=1, B-C 2*1
    assert got == {
        ("A", "A"): 4,
        ("A", "B"): 6,
        ("A", "C"): 3,
        ("B", "B"): 1,
        ("B", "C"): 2,
    }


# --- duplicated_ngram_spans (exact substring dedup, span level) ------------


def _spans(spark, rows, **kw):
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    return {
        (r["doc_id"], r["start_tok"], r["end_tok"], r["n_grams"])
        for r in dedup.duplicated_ngram_spans(docs, **kw).collect()
    }


def test_dup_spans_shared_passage_found_and_bounded(spark):
    shared = " ".join(f"s{i}" for i in range(10))  # 10 shared tokens
    rows = [
        (1, "a b c " + shared + " x y z"),          # span at tokens 3..13
        (2, shared + " p q r"),                     # span at tokens 0..10
        (3, "totally unrelated words " + " ".join(f"u{i}" for i in range(8))),
    ]
    got = _spans(spark, rows, k=8)
    # 10-token passage = 3 overlapping 8-grams, merged into ONE span
    assert got == {(1, 3, 13, 3), (2, 0, 10, 3)}


def test_dup_spans_within_doc_repetition_not_flagged(spark):
    passage = " ".join(f"r{i}" for i in range(8))
    rows = [(1, passage + " mid " + passage)]  # repeated only within doc 1
    assert _spans(spark, rows, k=8) == set()


def test_dup_spans_disjoint_hits_stay_separate(spark):
    p1 = " ".join(f"a{i}" for i in range(8))
    p2 = " ".join(f"b{i}" for i in range(8))
    rows = [
        (1, p1 + " gap1 gap2 gap3 " + p2),   # two disjoint spans
        (2, p1),
        (3, p2),
    ]
    got = _spans(spark, rows, k=8)
    assert (1, 0, 8, 1) in got and (1, 11, 19, 1) in got
    assert (2, 0, 8, 1) in got and (3, 0, 8, 1) in got
    assert len(got) == 4


def test_dup_spans_short_docs_skipped(spark):
    rows = [(1, "a b c"), (2, "a b c")]  # < k tokens: no grams at all
    assert _spans(spark, rows, k=8) == set()


# --- remove_duplicated_spans (Lee et al. second half: excision) -------------


def _removed(spark, rows, **kw):
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = dedup.duplicated_ngram_spans(docs, **kw)
    return {
        r["doc_id"]: (r["text"], r["removed_tokens"])
        for r in dedup.remove_duplicated_spans(docs, spans).collect()
    }


def test_remove_spans_excises_shared_passage_byte_exact(spark):
    """The planted shared paragraph is sliced out of BOTH docs; the
    surrounding text survives byte-exact (normalized reassembly)."""
    shared = " ".join(f"s{i}" for i in range(10))
    rows = [
        (1, "a b c " + shared + " x y z"),
        (2, shared + " p q r"),
        (3, "untouched words stay exactly as written here"),
    ]
    got = _removed(spark, rows, k=8)
    assert got[1] == ("a b c x y z", 10)
    assert got[2] == ("p q r", 10)
    assert got[3] == ("untouched words stay exactly as written here", 0)


def test_remove_spans_fully_duplicated_doc_empties(spark):
    passage = " ".join(f"d{i}" for i in range(8))
    rows = [(1, passage), (2, passage)]
    got = _removed(spark, rows, k=8)
    assert got[1] == ("", 8) and got[2] == ("", 8)


def test_remove_spans_disjoint_spans_both_removed(spark):
    p1 = " ".join(f"a{i}" for i in range(8))
    p2 = " ".join(f"b{i}" for i in range(8))
    rows = [(1, p1 + " gap1 gap2 gap3 " + p2), (2, p1), (3, p2)]
    got = _removed(spark, rows, k=8)
    assert got[1] == ("gap1 gap2 gap3", 16)


def test_remove_spans_normalizes_case_like_the_span_producer(spark):
    """Indices are minted against the lowercased stream, so removal
    must use the same stream — mixed-case copies of the shared
    passage are still excised."""
    shared = " ".join(f"s{i}" for i in range(10))
    rows = [
        (1, "Head " + shared.upper() + " Tail"),
        (2, shared + " end bits"),
    ]
    got = _removed(spark, rows, k=8)
    assert got[1] == ("head tail", 10)
    assert got[2] == ("end bits", 10)


def test_curate_documents_remove_span_hook(spark):
    """pipeline.curate_documents(remove_span_k=...) excises the
    cross-doc span from surviving docs and reports removed_tokens."""
    from cybersecurity_miw_spark import pipeline

    shared = " ".join(
        f"common shared passage token number {i} continues" for i in range(3)
    )
    rows = [
        (1, "first document begins here. " + shared + " and then ends."),
        (2, "second one differs up front! " + shared + " closing words."),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pipeline.curate_documents(
        docs,
        apply_gopher=False,
        redact_pii=False,
        quality_floor=None,
        near_dup_threshold=None,
        remove_span_k=8,
    )
    got = {r["doc_id"]: r for r in out.collect()}
    assert set(got) == {1, 2}
    for d in (1, 2):
        assert got[d]["removed_tokens"] > 0
        assert "common shared passage" not in got[d]["text"]


def test_ivf_index_sidecar_guards_quantizer_family(spark, tmp_path):
    """r12: the _ivf_params.json sidecar records the quantizer
    fingerprint on first append; a later append with DIFFERENT
    centroids raises instead of silently interleaving incomparable
    codes (the mixed-MinHash-family hazard class)."""
    import numpy as np
    import pytest

    rng = np.random.RandomState(5)
    rows = [
        (int(i), [float(x) for x in v]) for i, v in enumerate(rng.randn(60, 16))
    ]
    b1 = spark.createDataFrame(rows[:40], "vec_id LONG, embedding ARRAY<DOUBLE>")
    b2 = spark.createDataFrame(rows[40:], "vec_id LONG, embedding ARRAY<DOUBLE>")
    cents = similarity.train_centroids(b1, n_cells=2, dim=16, iters=1)
    books = similarity.static_pq_codebooks(16, 4, 8)
    path = str(tmp_path / "idx")
    similarity.append_to_ivf_index(b1, cents, books, path)
    params = similarity.read_ivf_index_params(spark, path)
    assert params["quantizer"] == similarity.quantizer_fingerprint(
        cents, books
    )
    similarity.append_to_ivf_index(b2, cents, books, path)  # same: ok
    other = [[c + 1.0 for c in cell] for cell in cents]
    with pytest.raises(ValueError, match="quantizer"):
        similarity.append_to_ivf_index(b2, other, books, path)
    # residual flag is part of the family too
    with pytest.raises(ValueError, match="quantizer"):
        similarity.append_to_ivf_index(
            b2, cents, books, path, residual=True
        )


def test_ivf_append_distortion_monitor_trips_on_drift(spark, tmp_path):
    """r12: the quantizer-staleness monitor — first monitored append
    records the baseline mean assigned-centroid distortion; an
    in-distribution batch stays fresh; a drifted batch (vectors far
    from every frozen centroid) trips ``stale``. The ANN twin of the
    setsim candidates-per-doc monitor."""
    import numpy as np

    rng = np.random.RandomState(11)
    base_pts = rng.randn(80, 8)
    rows = [
        (int(i), [float(x) for x in v]) for i, v in enumerate(base_pts)
    ]
    b1 = spark.createDataFrame(rows[:40], "vec_id LONG, embedding ARRAY<DOUBLE>")
    b2 = spark.createDataFrame(rows[40:], "vec_id LONG, embedding ARRAY<DOUBLE>")
    drifted = spark.createDataFrame(
        [
            (1000 + int(i), [float(x) for x in (v + 40.0)])
            for i, v in enumerate(rng.randn(30, 8))
        ],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    cents = similarity.train_centroids(b1, n_cells=2, dim=8, iters=2)
    books = similarity.static_pq_codebooks(8, 4, 8)
    path = str(tmp_path / "idx")
    m: list = []
    similarity.append_to_ivf_index(b1, cents, books, path, metrics=m)
    similarity.append_to_ivf_index(b2, cents, books, path, metrics=m)
    similarity.append_to_ivf_index(drifted, cents, books, path, metrics=m)
    assert [r["stale"] for r in m] == [False, False, True], m
    assert m[0]["staleness_ratio"] == 1.0  # first append IS the baseline
    assert m[2]["staleness_ratio"] > 10  # far-drift batch
    # baseline persisted: a fresh reader sees it
    assert similarity.read_ivf_index_params(spark, path)[
        "baseline_mean_d2"
    ] == m[0]["baseline_mean_d2"]


def test_distortion_report_zero_baseline_is_infinite_drift():
    """ADVICE r14: a recorded baseline of exactly 0.0 (degenerate but
    legitimate — every training vector ON its centroid) is not "no
    baseline": any later positive distortion is infinite drift and
    must trip ``stale`` (ratio inf), a 0.0 batch stays fresh, and only
    ``None`` keeps the no-baseline sentinel semantics."""
    drifted = similarity.distortion_report(10, 0.5, 0.0)
    assert drifted["stale"] is True
    assert drifted["staleness_ratio"] == float("inf")
    flat = similarity.distortion_report(10, 0.0, 0.0)
    assert flat["stale"] is False and flat["staleness_ratio"] == 0.0
    none = similarity.distortion_report(10, 0.5, None)
    assert none["stale"] is False and none["staleness_ratio"] is None


def test_rebuild_ivf_index_one_call_remediation(spark, tmp_path):
    """r13 (VERDICT r12 #1): a drift-tripped IVF index rebuilds in
    ONE call — fresh quantizer trained on the current (pooled)
    corpus, every vector re-encoded, the cell-partitioned layout
    published atomically over the live directory, sidecar re-recorded
    with the fresh fingerprint AND baseline — replacing
    docs/MONITORING.md's manual 3-step. After the rebuild the SAME
    batch that tripped the monitor reads fresh, the old quantizer is
    refused by the fingerprint guard, and a full-probe query still
    finds the planted nearest neighbor."""
    import numpy as np
    import pytest

    rng = np.random.RandomState(11)
    base_pts = rng.randn(80, 8)
    rows = [
        (int(i), [float(x) for x in v]) for i, v in enumerate(base_pts)
    ]
    b1 = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    drift_pts = rng.randn(30, 8) + 40.0
    drifted = spark.createDataFrame(
        [
            (1000 + int(i), [float(x) for x in v])
            for i, v in enumerate(drift_pts)
        ],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    cents = similarity.train_centroids(b1, n_cells=2, dim=8, iters=2)
    books = similarity.static_pq_codebooks(8, 4, 8)
    path = str(tmp_path / "idx")
    m: list = []
    similarity.append_to_ivf_index(b1, cents, books, path, metrics=m)
    similarity.append_to_ivf_index(drifted, cents, books, path, metrics=m)
    assert [r["stale"] for r in m] == [False, True], m

    # --- ONE call ---
    pooled = b1.unionByName(drifted)
    info = similarity.rebuild_ivf_index(
        spark, pooled, path, dim=8, n_cells=2, m=4, k=8
    )
    idx = spark.read.parquet(path)
    assert info["rows"] == idx.count() == 110
    assert {r["vec_id"] for r in idx.select("vec_id").collect()} == (
        set(range(80)) | set(range(1000, 1030))
    )
    assert "_cell" in idx.columns  # partitioned layout survived the swap

    # sidecar: fresh fingerprint + fresh baseline, stale one dropped
    params = similarity.read_ivf_index_params(spark, path)
    assert params["quantizer"] == similarity.quantizer_fingerprint(
        info["centroids"], info["codebooks"]
    )
    assert params["quantizer"] != similarity.quantizer_fingerprint(
        cents, books
    )
    assert params["baseline_mean_d2"] == pytest.approx(
        info["baseline_mean_d2"]
    )

    # the SAME batch that tripped the monitor now reads fresh (the
    # rebuilt 2-cell quantizer gives the drifted cluster its own
    # centroid, so its distortion is back at within-cluster level)
    m2: list = []
    similarity.append_to_ivf_index(
        drifted, info["centroids"], info["codebooks"], path, metrics=m2
    )
    assert m2[0]["stale"] is False, m2

    # old quantizer is refused — codes are no longer comparable
    with pytest.raises(ValueError, match="quantizer"):
        similarity.append_to_ivf_index(drifted, cents, books, path)

    # full-probe query on the rebuilt index still finds the planted
    # neighborhood (answers for unchanged-region queries stay sound)
    q = [float(x) for x in base_pts[0]]
    true_top5 = set(
        np.argsort(((base_pts - base_pts[0]) ** 2).sum(axis=1))[:5]
    )
    got = similarity.ivf_pq_topk(
        spark.read.parquet(path).filter(F.col("vec_id") < 1000),
        info["centroids"], info["codebooks"], q, k=5, n_probes=2,
    ).collect()
    assert 0 in {r["vec_id"] for r in got}  # the query's own row
    assert {r["vec_id"] for r in got} & true_top5


def test_semantic_dedup_cells_auto_drops_planted_dup(spark):
    """The turnkey occupancy-constant cells variant: plants an exact
    duplicate pair and an isolated vector; the higher-id twin is
    dropped, the loner survives."""
    import numpy as np

    rng = np.random.RandomState(3)
    pts = rng.randn(30, 8)
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(pts)]
    rows.append((100, rows[4][1]))  # exact duplicate of vec 4
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = {
        r["vec_id"]
        for r in similarity.semantic_dedup_cells_auto(
            df, dim=8, threshold=0.99
        ).collect()
    }
    assert 4 in out and 100 not in out
    assert len(out) >= 28


def test_contamination_report_signals_fire_independently(spark):
    """r12: the per-eval-doc battery — each planted leakage shape
    fires exactly its own signals: verbatim copy (exact + all set
    signals), word-substitution near-dup (jaccard + containment),
    short excerpt quoted inside a long train doc (containment high,
    jaccard diluted below threshold), shared-phrase-only overlap
    (n-gram count only), and a clean doc (nothing)."""
    words = [f"w{i}" for i in range(60)]

    def doc(idx):
        return " ".join(words[i] for i in idx)

    long_train = doc(list(range(0, 50)))
    train = spark.createDataFrame(
        [
            (1, long_train),
            (2, doc(list(range(50, 60)) + list(range(0, 4)))),
        ],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame(
        [
            (100, long_train),                       # verbatim copy
            (101, doc(list(range(0, 45)) + [55] * 5)),  # near-dup of 1
            (102, doc(list(range(10, 18)))),         # excerpt of 1
            (103, doc([0, 1, 2] + list(range(30, 34))) + " zzz qqq"),
            (104, "completely disjoint fresh vocabulary entirely"),
        ],
        ["doc_id", "text"],
    )
    rep = {
        r["doc_id"]: r
        for r in dedup.contamination_report(
            train, ev, shingle_k=3, jaccard_threshold=0.8,
            containment_threshold=0.9, ngram_k=3, min_ngram_overlap=2,
        ).collect()
    }
    assert rep[100]["exact_dup"] and rep[100]["max_jaccard"] == 1.0
    assert rep[100]["max_containment"] == 1.0 and rep[100]["contaminated"]

    assert not rep[101]["exact_dup"]
    assert rep[101]["max_jaccard"] >= 0.8 and rep[101]["contaminated"]

    # the excerpt: fully contained, but Jaccard vs the long doc is
    # ~6/48 — far under the 0.8 threshold, so the jaccard signal
    # stays 0 while containment reads 1.0
    assert rep[102]["max_containment"] == 1.0
    assert rep[102]["max_jaccard"] == 0.0
    assert rep[102]["contaminated"] and not rep[102]["exact_dup"]

    # phrase-level overlap only: a few shared trigrams, no doc-level
    # signal at these thresholds
    assert rep[103]["max_jaccard"] == 0.0
    assert rep[103]["max_containment"] == 0.0
    assert rep[103]["ngram_overlap"] >= 2 and rep[103]["contaminated"]

    assert not rep[104]["contaminated"]
    assert rep[104]["ngram_overlap"] == 0
    assert set(rep) == {100, 101, 102, 103, 104}  # one row per eval doc


def test_band_store_probes_never_emit_self_pairs(spark):
    """Replay safety for the band-store families (r12, completing the
    setsim/semantic guard set): probing a batch against stores
    containing the batch's OWN rows yields no (x, x) pairs from
    either the MinHash or the SimHash candidate join."""
    docs = spark.createDataFrame(
        [
            (i, "the quick brown fox jumps over the lazy dog " + str(i))
            for i in range(6)
        ],
        ["doc_id", "text"],
    )
    lsh_store = dedup.lsh_band_store(docs)
    lsh = dedup.incremental_lsh_candidates(docs, lsh_store).collect()
    assert lsh and all(r["new_id"] != r["stored_id"] for r in lsh)
    sh_store = dedup.simhash_band_store(docs)
    sh = dedup.incremental_simhash_candidates(docs, sh_store).collect()
    assert sh and all(r["new_id"] != r["stored_id"] for r in sh)


def test_ngram_diversity_report_detects_collapse(spark):
    """Distinct-n audit (r15): an upsampled (repeated) corpus scores a
    strictly lower distinct_frac than the original at every n; the
    corpus-wide and per-group forms agree on totals; the approx HLL
    path returns the same shape with a close estimate; bad n
    validates."""
    import pytest

    from cybersecurity_miw_spark.operators import textstats

    rows = [(i, "src", f"alpha{i} beta{i} gamma{i} delta{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    rep = {
        r["n"]: r for r in textstats.ngram_diversity_report(df).collect()
    }
    assert rep[1]["total_grams"] == 80 and rep[1]["distinct_grams"] == 80
    assert rep[1]["distinct_frac"] == 1.0

    # 3x-upsampled mix: same distinct grams, 3x occurrences
    up = df.unionByName(df).unionByName(df)
    urep = {
        r["n"]: r
        for r in textstats.ngram_diversity_report(up).collect()
    }
    for n in (1, 2, 3):
        assert urep[n]["total_grams"] == 3 * rep[n]["total_grams"]
        assert urep[n]["distinct_grams"] == rep[n]["distinct_grams"]
        assert urep[n]["distinct_frac"] < rep[n]["distinct_frac"]

    # per-group form partitions the same totals
    g = {
        (r["source"], r["n"]): r
        for r in textstats.ngram_diversity_report(df, by="source").collect()
    }
    assert g[("src", 1)]["total_grams"] == rep[1]["total_grams"]

    # approx path: same schema, estimate within HLL tolerance
    a = {
        r["n"]: r
        for r in textstats.ngram_diversity_report(df, exact=False).collect()
    }
    assert abs(a[1]["distinct_grams"] - 80) <= 8

    with pytest.raises(ValueError, match="ns must be"):
        textstats.ngram_diversity_report(df, ns=(0,))


def test_token_count_cjk_char_class_fallback(spark):
    """r17: whitespace-free scripts count per codepoint; non-CJK text
    keeps the historical size(split()) semantics bit-exactly
    (including the empty-string -> 1 quirk)."""
    from cybersecurity_miw_spark.operators.textstats import (
        token_count,
        word_token_count,
    )

    rows = [
        (1, "plain ascii words here"),          # 4 ws tokens
        (2, "你好世界"),                          # 4 CJK chars
        (3, "mixed 你好 words"),                  # 2 ws + 2 CJK
        (4, "こんにちは世界"),                     # 5 kana + 2 han
        (5, "สวัสดีโลก"),                         # 9 thai codepoints
        (6, ""),                                # historical quirk: 1
        (7, "한국어 단어 개수"),                   # hangul HAS spaces: 3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n"], r["nw"])
        for r in df.select(
            "doc_id",
            token_count(F.col("text")).alias("n"),
            word_token_count(F.col("text")).alias("nw"),
        ).collect()
    }
    assert got[1][0] == 4
    assert got[2][0] == 4
    assert got[3][0] == 4
    assert got[4][0] == 7
    assert got[5][0] == 9
    assert got[6][0] == 1
    assert got[7][0] == 3
    # word_token_count is per-codepoint on CJK by construction
    assert got[2][1] == 4 and got[4][1] == 7


def test_clean_text_surface_preserving(spark):
    """textstats.clean_text (the Dolma fix-text stage): zero-width
    and control drops, unicode-space folding, typographic
    punctuation mapping, space-run collapse — case, wording, and
    line structure untouched."""
    from cybersecurity_miw_spark.operators import textstats as ts

    raw = (
        "Zero​width And NBSP  runs\x07bell﻿\n"
        "  “Smart” ‘quotes’ —dash …end \n"
        "Tabs\tand\nlines kept"
    )
    df = spark.createDataFrame([(raw,), (None,)], "t string")
    out = [
        r["c"]
        for r in df.select(ts.clean_text(F.col("t")).alias("c")).collect()
    ]
    assert out[0] == (
        'Zerowidth And NBSP runsbell\n"Smart" \'quotes\' -dash ...end\n'
        "Tabs\tand\nlines kept"
    )
    assert out[1] == ""
    # idempotent: cleaning cleaned text is a no-op
    out2 = df.select(
        ts.clean_text(ts.clean_text(F.col("t"))).alias("c")
    ).collect()
    assert out2[0]["c"] == out[0]


def test_curate_documents_clean_unicode_stage(spark):
    """clean_unicode=True normalizes text_col before every rule;
    default False leaves the chain byte-identical."""
    from cybersecurity_miw_spark.pipeline import curate_documents

    docs = spark.createDataFrame(
        [(1, "plain words here for the pipeline “quoted” run")],
        "doc_id long, text string",
    )
    kw = dict(
        apply_gopher=False, redact_pii=False,
        quality_floor=None, near_dup_threshold=None,
    )
    on = curate_documents(docs, clean_unicode=True, **kw).first()["text"]
    off = curate_documents(docs, **kw).first()["text"]
    assert '"quoted"' in on and "“" not in on
    assert "“" in off
