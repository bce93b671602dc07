"""Store-maintenance lifecycle goldens (VERDICT r7 #6): the
incremental dedup indexes (fingerprint store, LSH band store) are
append-only under ingest — one parquet file per micro-batch plus
possible duplicate rows from the documented crash-loss mode.
Compaction and retention are pure rewrites through
sources.maintain.rewrite_table (temp dir + atomic rename), so the
pinned contract is: a compacted store yields BYTE-IDENTICAL
incremental dedup decisions, and a pruned store stops surfacing the
pruned ids immediately."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cybersecurity_miw_spark import sidecar
from cybersecurity_miw_spark.operators import dedup


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture()
def store_dirs(spark, tmp_path):
    """Simulate three ingest appends (3 files) with a duplicated
    fingerprint row (the crash-loss re-accept mode) in both stores."""
    fp_dir = str(tmp_path / "fp_store")
    band_dir = str(tmp_path / "band_store")
    batches = [
        [(1, "alpha beta gamma delta epsilon"), (2, "one two three four five")],
        [(3, "alpha beta gamma delta epsilon zeta"), (4, "six seven eight nine ten")],
        # batch 3 re-appends doc 1 (crash replay): duplicate index rows
        [(1, "alpha beta gamma delta epsilon"), (5, "eleven twelve thirteen fourteen")],
    ]
    for rows in batches:
        b = _docs(spark, rows)
        dedup.fingerprint_store(b).write.mode("append").parquet(fp_dir)
        dedup.lsh_band_store(b).write.mode("append").parquet(band_dir)
    return fp_dir, band_dir


def test_compacted_fingerprint_store_same_decisions(spark, store_dirs, tmp_path):
    fp_dir, _ = store_dirs
    batch = _docs(
        spark,
        [
            (10, "alpha beta gamma delta epsilon"),  # exact dup of history
            (11, "totally new content never seen"),
            (12, "totally new content never seen"),  # batch-internal dup
        ],
    )
    before = sorted(
        r["doc_id"]
        for r in dedup.dedup_against_store(
            batch, spark.read.parquet(fp_dir)
        ).collect()
    )
    stats = dedup.compact_fingerprint_store(spark, fp_dir)
    after = sorted(
        r["doc_id"]
        for r in dedup.dedup_against_store(
            batch, spark.read.parquet(fp_dir)
        ).collect()
    )
    assert before == after == [11]
    # compaction actually compacted: fewer files, duplicate row gone
    assert stats["files_before"] > stats["files_after"] == 1
    assert stats["rows_after"] < stats["rows_before"]
    # store schema and semantics intact: one row per fingerprint
    store = spark.read.parquet(fp_dir)
    assert store.groupBy("fingerprint").count().filter("count > 1").count() == 0
    # no staging leftovers
    assert not os.path.exists(str(tmp_path / ".maintenance"))


def test_compacted_band_store_same_candidates(spark, store_dirs):
    _, band_dir = store_dirs
    batch = _docs(spark, [(20, "alpha beta gamma delta epsilon")])
    before = {
        (r["new_id"], r["stored_id"])
        for r in dedup.incremental_lsh_candidates(
            batch, spark.read.parquet(band_dir)
        ).collect()
    }
    stats = dedup.compact_band_store(spark, band_dir)
    after = {
        (r["new_id"], r["stored_id"])
        for r in dedup.incremental_lsh_candidates(
            batch, spark.read.parquet(band_dir)
        ).collect()
    }
    assert before == after
    assert (20, 1) in after  # exact text match shares every band
    assert stats["files_before"] > stats["files_after"] == 1
    # doc 1's re-appended band rows collapsed by distinct()
    assert stats["rows_after"] < stats["rows_before"]


def test_pruned_band_store_drops_erased_doc(spark, store_dirs):
    _, band_dir = store_dirs
    batch = _docs(spark, [(20, "alpha beta gamma delta epsilon")])
    before = {
        r["stored_id"]
        for r in dedup.incremental_lsh_candidates(
            batch, spark.read.parquet(band_dir)
        ).collect()
    }
    assert 1 in before
    keep = spark.createDataFrame([(2,), (3,), (4,), (5,)], "doc_id long")
    dedup.prune_band_store(spark, band_dir, keep)
    after = {
        r["stored_id"]
        for r in dedup.incremental_lsh_candidates(
            batch, spark.read.parquet(band_dir)
        ).collect()
    }
    assert 1 not in after  # erased doc stopped matching immediately
    assert after <= before - {1}
    ids = {r["doc_id"] for r in spark.read.parquet(band_dir).select("doc_id").distinct().collect()}
    assert ids <= {2, 3, 4, 5}


def test_pruned_fingerprint_store_readmits_erased_text(spark, store_dirs):
    fp_dir, _ = store_dirs
    keep = spark.createDataFrame([(2,), (3,), (4,), (5,)], "doc_id long")
    dedup.prune_fingerprint_store(spark, fp_dir, keep)
    batch = _docs(spark, [(30, "alpha beta gamma delta epsilon")])
    accepted = sorted(
        r["doc_id"]
        for r in dedup.dedup_against_store(
            batch, spark.read.parquet(fp_dir)
        ).collect()
    )
    # doc 1's text was erased from the corpus -> its exact copy is
    # re-admitted (the documented retention semantic)
    assert accepted == [30]


def test_compact_ann_index_cell_preserves_queries(spark, tmp_path):
    """The ANN index's maintenance story closes the same way the
    dedup stores' does: after many appends a hot cell directory
    accumulates small files; compact_partition rewrites ONE cell
    atomically and the shortlist-rerank answer is unchanged."""
    import numpy as np

    from cybersecurity_miw_spark.operators import similarity
    from cybersecurity_miw_spark.sources.maintain import compact_partition

    rng = np.random.RandomState(31)
    vecs = rng.randn(200, 8)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    base = spark.createDataFrame(rows[:100], "vec_id LONG, embedding ARRAY<DOUBLE>")
    pooled = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    cents = similarity.train_centroids(base, n_cells=2, dim=8, iters=2)
    books = similarity.train_pq_codebooks(base, dim=8, m=4, k=8, iters=2)

    path = str(tmp_path / "idx")
    similarity.ivf_pq_index(base, cents, books).write.partitionBy(
        "_cell"
    ).parquet(path)
    # five appends -> five+ files in the touched cells
    for lo in range(100, 200, 20):
        b = spark.createDataFrame(
            rows[lo : lo + 20], "vec_id LONG, embedding ARRAY<DOUBLE>"
        )
        similarity.append_to_ivf_index(b, cents, books, path)

    q = [float(x) for x in vecs[3]]

    def answer():
        idx = spark.read.parquet(path)
        return [
            (r["vec_id"], r["cos_sim"])
            for r in similarity.ann_shortlist_rerank(
                pooled, idx, cents, books, q, k=5, shortlist=50, n_probes=2
            ).collect()
        ]

    before = answer()
    n_files = compact_partition(spark, path, "_cell=0", target_files=1)
    assert n_files > 1  # the appends really did fragment the cell
    assert answer() == before
    data_files = [
        f
        for f in os.listdir(os.path.join(path, "_cell=0"))
        if f.endswith(".parquet")
    ]
    assert len(data_files) == 1


def test_phash_store_compacts_and_prunes_like_its_siblings(spark, tmp_path):
    """VERDICT r13 #8: the phash band store's (id, band, val) shape
    transfers to compact_band_store / prune_band_store — pinned here
    instead of just claimed in the docstring. A compacted store yields
    IDENTICAL incremental phash decisions (replay-duplicated rows
    collapse), and a pruned asset stops matching immediately while the
    family sidecar survives both rewrites."""
    from cybersecurity_miw_spark.operators import multimodal as mm

    store_dir = str(tmp_path / "ph_store")
    template = bytes((i * 37 + 11) % 256 for i in range(500))
    other = bytes((i * 149 + 3) % 256 for i in range(500))

    def _media(rows):
        return spark.createDataFrame(rows, "media_id LONG, payload BINARY")

    batches = [
        [(1, template), (2, other)],
        [(3, bytes(reversed(other)))],
        [(1, template)],  # crash replay: duplicate store rows for 1
    ]
    for rows in batches:
        mm.phash_band_store(_media(rows)).write.mode("append").parquet(
            store_dir
        )
    sidecar.write(
        spark, store_dir, sidecar.PHASH,
        bits=mm.PHASH_DEFAULT_BITS, band_bits=mm.PHASH_DEFAULT_BAND_BITS,
    )

    batch = _media([(20, template)])
    before = {
        (r["new_id"], r["stored_id"])
        for r in mm.incremental_phash_candidates(batch, store_dir).collect()
    }
    assert (20, 1) in before

    stats = dedup.compact_band_store(spark, store_dir)
    assert stats["files_before"] > stats["files_after"] == 1
    assert stats["rows_after"] < stats["rows_before"]  # replay rows gone
    after = {
        (r["new_id"], r["stored_id"])
        for r in mm.incremental_phash_candidates(batch, store_dir).collect()
    }
    assert after == before
    # family sidecar carried across the rewrite (loader still guards)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="phash store"):
        sidecar.load(spark, store_dir, sidecar.PHASH, band_bits=10)

    keep = spark.createDataFrame([(2,), (3,)], "media_id long")
    dedup.prune_band_store(spark, store_dir, keep, id_col="media_id")
    pruned = {
        (r["new_id"], r["stored_id"])
        for r in mm.incremental_phash_candidates(batch, store_dir).collect()
    }
    assert not any(s == 1 for _, s in pruned)  # erased asset gone now
    ids = {
        r["media_id"]
        for r in spark.read.parquet(store_dir)
        .select("media_id").distinct().collect()
    }
    assert ids <= {2, 3}


def test_pruned_ivf_index_erases_vector_from_answers(spark, tmp_path):
    """prune_ivf_index (the ANN index's retention/erasure path — the
    last persisted store to get its prune): an erased vector stops
    appearing in ANN answers immediately, survivors' answers are
    unchanged, the _cell-partitioned layout survives the swap, and
    the quantizer sidecar is KEPT so later appends still pass the
    fingerprint guard."""
    import numpy as np

    from cybersecurity_miw_spark.operators import similarity

    rng = np.random.RandomState(41)
    vecs = rng.randn(120, 8)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    cents = similarity.train_centroids(df, n_cells=2, dim=8, iters=2)
    books = similarity.static_pq_codebooks(8, 4, 8)
    path = str(tmp_path / "idx")
    similarity.append_to_ivf_index(df, cents, books, path)

    # plant: 7's nearest is itself; erase 7 and probe near it
    q = [float(x) for x in vecs[7]]

    def topk():
        idx = spark.read.parquet(path)
        return [
            r["vec_id"]
            for r in similarity.ivf_pq_topk(
                idx, cents, books, q, k=3, n_probes=2
            ).collect()
        ]

    assert 7 in topk()
    keep = spark.createDataFrame(
        [(i,) for i in range(120) if i != 7], "vec_id long"
    )
    stats = similarity.prune_ivf_index(spark, path, keep)
    assert stats["rows_before"] == 120 and stats["rows_after"] == 119
    after = topk()
    assert 7 not in after and len(after) == 3
    # partitioned layout survived; sidecar kept -> append still guarded
    idx = spark.read.parquet(path)
    assert "_cell" in idx.columns
    import pytest as _pytest

    params = sidecar.read(spark, path, sidecar.IVF)
    assert params["quantizer"] == similarity.quantizer_fingerprint(
        cents, books
    )
    wrong_cents = [[c + 1.0 for c in cents[0]], cents[1]]
    with _pytest.raises(ValueError, match="quantizer"):
        similarity.append_to_ivf_index(df, wrong_cents, books, path)


def test_prune_ivf_index_refuses_full_erasure(spark, tmp_path):
    """A keep-set matching nothing must raise a CLEAR error before any
    publish step (an empty parquet index is unreadable; mid-publish
    failure would strand a .maintenance tmp) — and leave the live
    index untouched."""
    import numpy as np
    import pytest as _pytest

    from cybersecurity_miw_spark.operators import similarity

    rng = np.random.RandomState(43)
    rows = [
        (int(i), [float(x) for x in v])
        for i, v in enumerate(rng.randn(20, 8))
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    cents = similarity.train_centroids(df, n_cells=2, dim=8, iters=1)
    books = similarity.static_pq_codebooks(8, 4, 8)
    path = str(tmp_path / "idx")
    similarity.append_to_ivf_index(df, cents, books, path)

    none_kept = spark.createDataFrame([(999,)], "vec_id long")
    with _pytest.raises(ValueError, match="zero rows"):
        similarity.prune_ivf_index(spark, path, none_kept)
    # live index untouched, no staging leftovers
    assert spark.read.parquet(path).count() == 20
    assert not os.path.exists(str(tmp_path / ".maintenance"))
