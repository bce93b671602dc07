"""Streaming dedup ingest (streaming/ingest.py): the persisted
fingerprint store must make dedup INCREMENTAL — duplicates are
dropped across batches, across restarts, and within a batch; the
result equals the batch dedup path over the same files."""

from __future__ import annotations

from cybersecurity_miw_spark.streaming.ingest import streaming_dedup_ingest


def _await(q):
    q.awaitTermination(120)


def _corpus(spark, corpus_dir):
    return {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(corpus_dir).collect()
    }


def test_ingest_dedups_within_and_across_runs(spark, tmp_path):
    indir = tmp_path / "in"
    corpus = str(tmp_path / "corpus")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()

    (indir / "a.tsv").write_text(
        "1\tthe quick brown fox\n"
        "2\tunique first doc\n"
        "3\tthe quick brown fox\n"  # within-batch dup of 1
    )
    _await(streaming_dedup_ingest(spark, str(indir), ckpt, corpus, store))
    assert set(_corpus(spark, corpus)) == {1, 2}

    # run 2: one cross-run dup (of doc 1), one fresh doc
    (indir / "b.tsv").write_text(
        "10\tthe quick brown fox\n"
        "11\tbrand new second batch\n"
    )
    _await(streaming_dedup_ingest(spark, str(indir), ckpt, corpus, store))
    got = _corpus(spark, corpus)
    assert set(got) == {1, 2, 11}
    assert got[11] == "brand new second batch"

    # the store holds exactly the accepted corpus's fingerprints
    assert spark.read.parquet(store).count() == 3


def test_ingest_agrees_with_batch_dedup_path(spark, tmp_path):
    """Streaming result == batch dedup_against_store semantics over
    the same documents (empty initial store == plain exact dedup)."""
    from cybersecurity_miw_spark.operators.dedup import exact_dedup

    indir = tmp_path / "in"
    corpus = str(tmp_path / "corpus")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()

    rows = [
        (1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta"),
        (4, "epsilon zeta"), (5, "gamma delta"), (6, "alpha beta"),
    ]
    (indir / "a.tsv").write_text(
        "".join(f"{i}\t{t}\n" for i, t in rows[:3])
    )
    (indir / "b.tsv").write_text(
        "".join(f"{i}\t{t}\n" for i, t in rows[3:])
    )
    _await(streaming_dedup_ingest(spark, str(indir), ckpt, corpus, store))

    batch = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    want = {r["doc_id"] for r in exact_dedup(batch).collect()}
    assert set(_corpus(spark, corpus)) == want == {1, 2, 4}


def test_near_dup_flags_within_and_across_runs(spark, tmp_path):
    """LSH flags: within-batch pairs flagged immediately; a later
    run's near-dup of an earlier doc is flagged against the PERSISTED
    band store (history text never re-read); unrelated docs aren't."""
    from cybersecurity_miw_spark.streaming.ingest import (
        streaming_near_dup_flags,
    )

    indir = tmp_path / "in"
    flags = str(tmp_path / "flags")
    store = str(tmp_path / "bands")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()

    base = "the quick brown fox jumps over the lazy dog again"
    (indir / "a.tsv").write_text(
        f"1\t{base}\n"
        f"2\t{base} extra\n"  # within-run near-dup of 1
        "3\tcompletely different unrelated content entirely\n"
    )
    _await(
        streaming_near_dup_flags(spark, str(indir), ckpt, flags, store)
    )
    got1 = {
        (r["new_id"], r["stored_id"])
        for r in spark.read.parquet(flags).collect()
    }
    assert (2, 1) in got1
    assert not any(3 in pair for pair in got1)

    (indir / "b.tsv").write_text(
        f"10\t{base} more\n"  # cross-run near-dup of 1/2
        "11\tanother totally unrelated document here\n"
    )
    _await(
        streaming_near_dup_flags(spark, str(indir), ckpt, flags, store)
    )
    got2 = {
        (r["new_id"], r["stored_id"])
        for r in spark.read.parquet(flags).collect()
    }
    assert any(n == 10 and s in (1, 2) for n, s in got2)
    assert not any(11 in pair for pair in got2)
    # the band store holds rows for every ingested doc
    stored_ids = {
        r["doc_id"] for r in spark.read.parquet(store).collect()
    }
    assert stored_ids == {1, 2, 3, 10, 11}


def test_ingest_metrics_per_batch(spark, tmp_path):
    """Dedup-rate monitoring without scanning the sinks: one
    {batch_id, n_batch, n_accepted, n_rejected} dict per micro-batch,
    counts read from the batch's own localCheckpoint (no extra
    scan)."""
    indir = tmp_path / "in"
    corpus = str(tmp_path / "corpus")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()
    metrics: list = []

    (indir / "a.tsv").write_text("1\talpha beta\n2\talpha beta\n3\tgamma\n")
    _await(
        streaming_dedup_ingest(
            spark, str(indir), ckpt, corpus, store, metrics=metrics
        )
    )
    # batch 2: one history dup (alpha beta), one new
    (indir / "b.tsv").write_text("4\talpha beta\n5\tdelta\n")
    _await(
        streaming_dedup_ingest(
            spark, str(indir), ckpt, corpus, store, metrics=metrics
        )
    )
    assert len(metrics) == 2
    b1, b2 = metrics
    assert (b1["n_batch"], b1["n_accepted"], b1["n_rejected"]) == (3, 2, 1)
    assert (b2["n_batch"], b2["n_accepted"], b2["n_rejected"]) == (2, 1, 1)
    # metrics agree with the sink (read once to prove, not to monitor)
    assert spark.read.parquet(corpus).count() == sum(
        m["n_accepted"] for m in metrics
    )


def test_max_files_per_trigger_caps_batches(spark, tmp_path):
    """Backpressure: three landed files with max_files_per_trigger=1
    drain as three capped micro-batches (visible via the metrics
    list), and the result equals the single-batch run — dedup is
    batch-boundary-invariant because state lives in the store."""
    indir = tmp_path / "in"
    corpus = str(tmp_path / "corpus")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()
    metrics: list = []
    (indir / "a.tsv").write_text("1\talpha\n")
    (indir / "b.tsv").write_text("2\talpha\n")  # dup of batch 1's doc
    (indir / "c.tsv").write_text("3\tbeta\n")
    _await(
        streaming_dedup_ingest(
            spark, str(indir), ckpt, corpus, store,
            metrics=metrics, max_files_per_trigger=1,
        )
    )
    assert len(metrics) == 3  # one batch per file
    assert sum(m["n_batch"] for m in metrics) == 3
    accepted = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(corpus).collect()
    }
    # exactly ONE of the two "alpha" docs survived, deduped ACROSS
    # capped batches (which one depends on file arrival order — the
    # per-trigger file order is mtime-based, not lexicographic)
    assert 3 in accepted and len(accepted) == 2
    assert (1 in accepted) != (2 in accepted)


def test_near_dup_flags_fence_routes_template_hits(spark, tmp_path):
    """A history mega-template fenced out of the streaming join:
    flags stay bounded, and the batch's template copies land in the
    fenced sink as (new_id, store_width) template matches."""
    from cybersecurity_miw_spark.streaming.ingest import (
        streaming_near_dup_flags,
    )

    indir = tmp_path / "in"
    flags = str(tmp_path / "flags")
    store = str(tmp_path / "bands")
    fenced = str(tmp_path / "fenced")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()
    template = "shared boilerplate template body repeated in history many times"

    # run 1: 40 template copies + one normal doc seed the store
    (indir / "a.tsv").write_text(
        "".join(f"{i}\t{template}\n" for i in range(40))
        + "500\ta normal document about gardens and growth\n"
    )
    _await(
        streaming_near_dup_flags(
            spark, str(indir), ckpt, flags, store,
            max_store_bucket_width=10, fenced_dir=fenced,
        )
    )
    # run 2: a template copy + a near-dup of the normal doc arrive
    (indir / "b.tsv").write_text(
        f"1000\t{template}\n"
        "1001\ta normal document about gardens and growth \n"
    )
    _await(
        streaming_near_dup_flags(
            spark, str(indir), ckpt, flags, store,
            max_store_bucket_width=10, fenced_dir=fenced,
        )
    )
    flag_rows = {
        (r["new_id"], r["stored_id"])
        for r in spark.read.parquet(flags).collect()
    }
    # the template's cross-batch fan-out (40 pairs for doc 1000) is
    # fenced; the normal near-dup pair surfaces
    assert (1001, 500) in flag_rows
    assert not any(n == 1000 for n, _ in flag_rows)
    hits = spark.read.parquet(fenced).collect()
    assert {r["new_id"] for r in hits} == {1000}
    assert all(r["store_width"] == 40 for r in hits)


def test_band_store_params_mismatch_fails_fast(spark, tmp_path):
    """Restarting the near-dup loop with different MinHash parameters
    must raise (old-family band hashes never match new-family ones —
    the join would silently return nothing), not quietly mix
    families in one store."""
    import pytest

    from cybersecurity_miw_spark.streaming.ingest import (
        streaming_near_dup_flags,
    )

    indir = tmp_path / "in"
    flags = str(tmp_path / "flags")
    store = str(tmp_path / "bands")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()
    (indir / "a.tsv").write_text("1\tsome document text here\n")
    _await(
        streaming_near_dup_flags(
            spark, str(indir), ckpt, flags, store,
            num_hashes=16, bands=4,
        )
    )
    with pytest.raises(ValueError, match="mixed MinHash families"):
        streaming_near_dup_flags(
            spark, str(indir), ckpt, flags, store,
            num_hashes=112, bands=16,
        )


def test_batch_store_path_checks_family_sidecar(spark, tmp_path):
    """The BATCH incremental path must honor the _lsh_params.json
    sidecar too (ADVICE r8): loading a store directory with a
    different hash family raises; the matching family yields the same
    candidates as passing the DataFrame directly; a legacy store
    without a sidecar still loads (caller owns the contract)."""
    import pytest
    from pyspark.sql import functions as F

    from cybersecurity_miw_spark import sidecar
    from cybersecurity_miw_spark.operators import dedup

    rows = [
        (i, f"shared shingle text block variant {i % 3}")
        for i in range(12)
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    history = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 != 0)

    store_dir = str(tmp_path / "bands")
    dedup.lsh_band_store(history, num_hashes=16, bands=4).write.parquet(
        store_dir
    )

    # legacy store (no sidecar): loads, no check possible
    legacy = sidecar.load(
        spark, store_dir, sidecar.LSH, num_hashes=16, bands=4
    )
    want = {
        (r["new_id"], r["stored_id"])
        for r in dedup.incremental_lsh_candidates(
            batch, legacy, num_hashes=16, bands=4
        ).collect()
    }
    assert want

    sidecar.write(
        spark, store_dir, sidecar.LSH, num_hashes=16, bands=4, shingle_k=3
    )
    # sidecar is underscore-prefixed: invisible to the parquet reader
    assert spark.read.parquet(store_dir).columns == [
        "doc_id", "band", "band_hash"
    ]

    # matching family via the path: identical candidates
    got = {
        (r["new_id"], r["stored_id"])
        for r in dedup.incremental_lsh_candidates(
            batch, store_dir, num_hashes=16, bands=4
        ).collect()
    }
    assert got == want

    # mismatched family via the path: fail fast, never zero-match
    with pytest.raises(ValueError, match="mixed MinHash families"):
        dedup.incremental_lsh_candidates(
            batch, store_dir, num_hashes=112, bands=16
        )


def test_simhash_store_path_checks_family_sidecar(spark, tmp_path):
    """The SimHash incremental path honors its _simhash_params.json
    sidecar the same way the LSH path does: matching family via the
    path equals the DataFrame path; mismatch raises."""
    import pytest
    from pyspark.sql import functions as F

    from cybersecurity_miw_spark import sidecar
    from cybersecurity_miw_spark.operators import dedup

    rows = [
        (i, f"some recurring template text variant {i % 3}")
        for i in range(12)
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    history = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 != 0)

    store_dir = str(tmp_path / "simhash")
    dedup.simhash_band_store(history, band_bits=16).write.parquet(store_dir)
    sidecar.write(
        spark, store_dir, sidecar.SIMHASH, band_bits=16, hash_fn="xxhash64"
    )

    want = {
        (r["new_id"], r["stored_id"])
        for r in dedup.incremental_simhash_candidates(
            batch, spark.read.parquet(store_dir), band_bits=16
        ).collect()
    }
    got = {
        (r["new_id"], r["stored_id"])
        for r in dedup.incremental_simhash_candidates(
            batch, store_dir, band_bits=16
        ).collect()
    }
    assert got == want and got

    with pytest.raises(ValueError, match="mixed SimHash families"):
        dedup.incremental_simhash_candidates(batch, store_dir, band_bits=8)


def test_semantic_flags_within_and_across_runs(spark, tmp_path):
    """Embedding-level flags: a within-batch paraphrase-level near-dup
    (same words, different order — token-identical hashed embedding)
    is flagged immediately; a later run's near-dup of an earlier doc
    is flagged against the PERSISTED embedding bucket store; an
    unrelated doc is not. Restarting with a different plane family
    fails fast."""
    import pytest

    from cybersecurity_miw_spark.streaming.ingest import (
        streaming_semantic_flags,
    )

    indir = tmp_path / "in"
    flags = str(tmp_path / "flags")
    store = str(tmp_path / "vecs")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()

    base = "alpha beta gamma delta epsilon zeta eta theta"
    shuffled = "theta eta zeta epsilon delta gamma beta alpha"  # same bag
    (indir / "a.tsv").write_text(
        f"1\t{base}\n"
        f"2\t{shuffled}\n"  # within-run semantic dup of 1 (cos 1.0)
        "3\tcompletely different unrelated words entirely here now\n"
    )
    _await(
        streaming_semantic_flags(
            spark, str(indir), ckpt, flags, store, threshold=0.9
        )
    )
    got1 = {
        (r["new_id"], r["stored_id"])
        for r in spark.read.parquet(flags).collect()
    }
    assert (2, 1) in got1
    assert not any(3 in pair for pair in got1)

    (indir / "b.tsv").write_text(
        f"10\t{base} iota\n"  # cross-run near-dup of 1/2
        "11\tanother totally unrelated document text body\n"
    )
    _await(
        streaming_semantic_flags(
            spark, str(indir), ckpt, flags, store, threshold=0.9
        )
    )
    got2 = {
        (r["new_id"], r["stored_id"])
        for r in spark.read.parquet(flags).collect()
    }
    assert any(n == 10 and s in (1, 2) for n, s in got2)
    assert not any(11 in pair for pair in got2)
    stored_ids = {
        r["vec_id"] for r in spark.read.parquet(store).collect()
    }
    assert stored_ids == {1, 2, 3, 10, 11}

    # plane-family mismatch fails fast (sidecar guard), pre-stream
    with pytest.raises(ValueError, match="semantic store"):
        streaming_semantic_flags(
            spark, str(indir), str(tmp_path / "ckpt2"), flags, store,
            n_planes=7, threshold=0.9,
        )


def test_near_dup_flags_staleness_metrics(spark, tmp_path):
    """Candidate-volume monitoring for the band-store ingest loop
    (VERDICT r11 #1): the first store-joined trigger with candidates
    records the baseline into the _lsh_params.json sidecar; a later
    burst of template near-dups (many batch docs each hitting many
    store rows) trips ``stale``; a healthy batch does not."""
    from cybersecurity_miw_spark import sidecar
    from cybersecurity_miw_spark.streaming.ingest import (
        streaming_near_dup_flags,
    )

    indir = tmp_path / "in"
    flags = str(tmp_path / "flags")
    store = str(tmp_path / "bands")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()
    base = "the quick brown fox jumps over the lazy dog again"

    metrics: list = []
    (indir / "a.tsv").write_text(
        f"1\t{base}\n"
        "2\tcompletely different unrelated content entirely\n"
    )
    _await(
        streaming_near_dup_flags(
            spark, str(indir), ckpt, flags, store, metrics=metrics
        )
    )
    assert metrics == []  # no store yet -> no store-join report

    (indir / "b.tsv").write_text(
        f"10\t{base} extra\n"
        "11\tanother totally unrelated document here\n"
        "12\tthird document with its own words only\n"
        "13\tfourth document again with fresh vocabulary\n"
    )
    _await(
        streaming_near_dup_flags(
            spark, str(indir), ckpt, flags, store, metrics=metrics
        )
    )
    assert len(metrics) == 1 and metrics[0]["stale"] is False
    params = sidecar.read(spark, store, sidecar.LSH)
    assert params["baseline_cand_per_doc"] == metrics[0]["cand_per_doc"]

    # template burst: every doc near-dups the accumulated template
    # rows -> candidates per doc far above the recorded baseline
    (indir / "c.tsv").write_text(
        "".join(f"{100 + i}\t{base} v{i}\n" for i in range(8))
    )
    _await(
        streaming_near_dup_flags(
            spark, str(indir), ckpt, flags, store, metrics=metrics
        )
    )
    assert len(metrics) == 2 and metrics[1]["stale"] is True, metrics


def test_containment_flags_match_pooled_cross_and_resume(spark, tmp_path):
    """Streaming decontamination (streaming_containment_flags): the
    drained flag sink must equal the pooled containment_cross of all
    streamed docs vs the frozen container corpus; a restart with one
    new file probes ONLY the new docs (checkpoint), and the staleness
    metrics list gets one report per trigger with the sidecar
    baseline."""
    from cybersecurity_miw_spark import sidecar
    from cybersecurity_miw_spark.operators import setsim
    from cybersecurity_miw_spark.streaming.ingest import (
        streaming_containment_flags,
    )

    words = [f"w{i}" for i in range(30)]

    def doc(idx):
        return " ".join(words[i] for i in idx)

    containers = spark.createDataFrame(
        [(i, doc(list(range(i % 3, 14 + i % 3)))) for i in range(0, 12, 2)],
        ["doc_id", "text"],
    )
    cdir = str(tmp_path / "containers")
    containers.write.parquet(cdir)
    freq = setsim.token_freq_table(containers)
    fdir = str(tmp_path / "freq")
    freq.write.parquet(fdir)
    sdir = str(tmp_path / "cstore")
    setsim.containment_store(containers, freq).write.parquet(sdir)
    base = setsim.measure_containment_cand_per_doc(
        containers, spark.read.parquet(sdir), freq, threshold=0.6,
    )
    sidecar.write(
        spark, sdir, sidecar.CONTAINMENT, shingle_k=3,
        baseline_cand_per_doc=base,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    flags = str(tmp_path / "flags")
    ckpt = str(tmp_path / "ckpt")
    probe1 = {101: doc(list(range(1, 15))), 103: doc(list(range(25, 29)))}
    (indir / "a.tsv").write_text(
        "".join(f"{i}\t{t}\n" for i, t in probe1.items())
    )
    metrics: list = []
    streaming_containment_flags(
        spark, str(indir), ckpt, flags, sdir, cdir, fdir,
        threshold=0.6, metrics=metrics,
    ).awaitTermination(120)
    got1 = {
        (r["contained_id"], r["container_id"], r["containment"])
        for r in spark.read.parquet(flags).collect()
    }
    probe_df = spark.createDataFrame(
        list(probe1.items()), ["doc_id", "text"]
    )
    want1 = {
        (r["contained_id"], r["container_id"], r["containment"])
        for r in setsim.containment_cross(
            probe_df, containers, threshold=0.6
        ).collect()
    }
    assert got1 == want1 and got1
    assert len(metrics) == 1
    assert metrics[0]["baseline_cand_per_doc"] == base
    assert metrics[0]["stale"] is False

    # restart: only the new file is probed; pooled equality holds
    probe2 = {201: doc(list(range(3, 17)))}
    (indir / "b.tsv").write_text(
        "".join(f"{i}\t{t}\n" for i, t in probe2.items())
    )
    streaming_containment_flags(
        spark, str(indir), ckpt, flags, sdir, cdir, fdir,
        threshold=0.6, metrics=metrics,
    ).awaitTermination(120)
    all_probes = spark.createDataFrame(
        list({**probe1, **probe2}.items()), ["doc_id", "text"]
    )
    got2 = {
        (r["contained_id"], r["container_id"], r["containment"])
        for r in spark.read.parquet(flags).collect()
    }
    want2 = {
        (r["contained_id"], r["container_id"], r["containment"])
        for r in setsim.containment_cross(
            all_probes, containers, threshold=0.6
        ).collect()
    }
    assert got2 == want2 and len(got2) > len(got1)
    assert len(metrics) == 2

    # width mismatch fails fast before the stream starts
    import pytest as _pytest

    with _pytest.raises(ValueError, match="containment store"):
        streaming_containment_flags(
            spark, str(indir), str(tmp_path / "ck2"), flags, sdir,
            cdir, fdir, threshold=0.6, shingle_k=5,
        )


def test_setsim_flags_exact_across_runs_with_monitor(spark, tmp_path):
    """Streaming EXACT near-dup flags (streaming_setsim_flags): the
    first trigger freezes the token order, builds the store, and
    records the staleness baseline; a second run flags cross-run
    pairs against the persisted prefix index with a metrics report;
    drained flags equal the pooled ppjoin_pairs over everything
    ingested — zero false negatives, exact jaccard values."""
    from cybersecurity_miw_spark import sidecar
    from cybersecurity_miw_spark.operators import setsim
    from cybersecurity_miw_spark.streaming.ingest import (
        streaming_setsim_flags,
    )

    words = [f"w{i}" for i in range(40)]

    def doc(idx):
        return " ".join(words[i] for i in idx)

    indir = tmp_path / "in"
    indir.mkdir()
    flags = str(tmp_path / "flags")
    store = str(tmp_path / "pstore")
    freqd = str(tmp_path / "freq")
    hist = str(tmp_path / "hist")
    ckpt = str(tmp_path / "ckpt")

    batch1 = {
        1: doc(list(range(0, 14))),
        2: doc(list(range(0, 15))),   # within-batch near-dup of 1
        3: doc(list(range(25, 39))),
    }
    (indir / "a.tsv").write_text(
        "".join(f"{i}\t{t}\n" for i, t in batch1.items())
    )
    metrics: list = []
    streaming_setsim_flags(
        spark, str(indir), ckpt, flags, store, freqd, hist,
        threshold=0.5, metrics=metrics,
    ).awaitTermination(120)
    got1 = {
        (r["new_id"], r["stored_id"], r["jaccard"])
        for r in spark.read.parquet(flags).collect()
    }
    assert any(n == 2 and s == 1 for n, s, _ in got1)
    assert metrics == []  # first trigger has no store join
    base = sidecar.read(spark, store, sidecar.PREFIX)["baseline_cand_per_doc"]
    assert base and base > 0  # within-batch pair -> nonzero baseline

    batch2 = {
        10: doc(list(range(1, 15))),  # cross-run near-dup of 1/2
        11: doc(list(range(20, 25))),
    }
    (indir / "b.tsv").write_text(
        "".join(f"{i}\t{t}\n" for i, t in batch2.items())
    )
    streaming_setsim_flags(
        spark, str(indir), ckpt, flags, store, freqd, hist,
        threshold=0.5, metrics=metrics,
    ).awaitTermination(120)
    assert len(metrics) == 1
    assert metrics[0]["baseline_cand_per_doc"] == base
    assert metrics[0]["stale"] is False

    # drained flags == pooled exact pairs over everything ingested
    all_docs = spark.createDataFrame(
        list({**batch1, **batch2}.items()), ["doc_id", "text"]
    )
    pooled = {
        frozenset((r["id_a"], r["id_b"])): r["jaccard"]
        for r in setsim.ppjoin_pairs(all_docs, threshold=0.5).collect()
    }
    streamed = {
        frozenset((n, s)): j
        for n, s, j in {
            (r["new_id"], r["stored_id"], r["jaccard"])
            for r in spark.read.parquet(flags).collect()
        }
    }
    assert streamed == pooled and len(pooled) >= 2


def test_semantic_flags_metrics_and_baseline(spark, tmp_path):
    """The semantic ingest loop's monitor (r12): first store-joined
    trigger with pairs records the baseline into the sidecar; the
    report rides the Observation on the store-join subtree."""
    from cybersecurity_miw_spark import sidecar
    from cybersecurity_miw_spark.streaming.ingest import (
        streaming_semantic_flags,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    flags = str(tmp_path / "flags")
    store = str(tmp_path / "vstore")
    ckpt = str(tmp_path / "ckpt")
    base = " ".join(f"tok{i}" for i in range(30))
    metrics: list = []
    (indir / "a.tsv").write_text(f"1\t{base}\n2\tother words only here\n")
    streaming_semantic_flags(
        spark, str(indir), ckpt, flags, store,
        dim=16, n_planes=2, threshold=0.9, metrics=metrics,
    ).awaitTermination(120)
    assert metrics == []  # no store on the first trigger

    # doc 10 = word-bag reorder of doc 1: identical hashed embedding
    (indir / "b.tsv").write_text(
        f"10\t{' '.join(reversed(base.split()))}\n"
    )
    streaming_semantic_flags(
        spark, str(indir), ckpt, flags, store,
        dim=16, n_planes=2, threshold=0.9, metrics=metrics,
    ).awaitTermination(120)
    assert len(metrics) == 1 and metrics[0]["n_candidates"] >= 1
    assert metrics[0]["stale"] is False
    params = sidecar.read(spark, store, sidecar.SEMANTIC)
    assert params["baseline_cand_per_doc"] == metrics[0]["cand_per_doc"]
    assert params["dim"] == 16 and params["n_planes"] == 2
    got = {
        (r["new_id"], r["stored_id"])
        for r in spark.read.parquet(flags).collect()
    }
    assert (10, 1) in got


def test_simhash_flags_within_and_across_runs_with_monitor(spark, tmp_path):
    """SimHash streaming flags (the last store family's loop):
    within-run pairs flag immediately, a later run's near-dup flags
    against the persisted band index, the family sidecar guards
    restarts, and the monitor records its baseline on the first
    store-joined trigger with candidates."""
    import pytest as _pytest

    from cybersecurity_miw_spark import sidecar
    from cybersecurity_miw_spark.streaming.ingest import (
        streaming_simhash_flags,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    flags = str(tmp_path / "flags")
    store = str(tmp_path / "shstore")
    ckpt = str(tmp_path / "ckpt")
    base = "the quick brown fox jumps over the lazy dog again and again"
    metrics: list = []
    (indir / "a.tsv").write_text(
        f"1\t{base}\n"
        f"2\t{base} extra\n"
        "3\tcompletely different unrelated content entirely\n"
    )
    streaming_simhash_flags(
        spark, str(indir), ckpt, flags, store, metrics=metrics
    ).awaitTermination(120)
    got1 = {
        (r["new_id"], r["stored_id"])
        for r in spark.read.parquet(flags).collect()
    }
    assert (2, 1) in got1 and metrics == []

    (indir / "b.tsv").write_text(
        f"10\t{base}\n"  # verbatim dup of 1: all bands match
        "11\tanother totally unrelated document here\n"
    )
    streaming_simhash_flags(
        spark, str(indir), ckpt, flags, store, metrics=metrics
    ).awaitTermination(120)
    got2 = {
        (r["new_id"], r["stored_id"])
        for r in spark.read.parquet(flags).collect()
    }
    assert any(n == 10 and s in (1, 2) for n, s in got2)
    assert len(metrics) == 1 and metrics[0]["stale"] is False
    # baseline persisted into the family sidecar; same-family load ok
    loaded = sidecar.load(
        spark, store, sidecar.SIMHASH, band_bits=16, hash_fn="xxhash64"
    )
    assert {r["doc_id"] for r in loaded.collect()} == {1, 2, 3, 10, 11}
    # family mismatch fails fast before the stream starts
    with _pytest.raises(ValueError, match="simhash store"):
        streaming_simhash_flags(
            spark, str(indir), str(tmp_path / "ck2"), flags, store,
            hash_fn="md5_60",
        )

    # template burst: many verbatim copies of the stored template ->
    # candidates per doc far above the recorded baseline -> stale
    (indir / "c.tsv").write_text(
        "".join(f"{100 + i}\t{base}\n" for i in range(10))
    )
    streaming_simhash_flags(
        spark, str(indir), ckpt, flags, store, metrics=metrics,
        staleness_factor=2.5,  # burst lands at 3x the 1.0 baseline
    ).awaitTermination(120)
    assert len(metrics) == 2 and metrics[1]["stale"] is True, metrics
    assert metrics[1]["staleness_ratio"] == 3.0


def test_phash_flags_within_and_across_runs_with_monitor(spark, tmp_path):
    """Perceptual-hash streaming flags (the phash family's streaming
    twin, VERDICT r13 #3): within-run near-dup media flag immediately,
    a later run's re-encode flags against the persisted band index
    (payload bytes never rescanned), the family sidecar guards
    restarts BEFORE the stream starts, and the monitor records its
    baseline on the first store-joined trigger with candidates then
    trips on a template burst."""
    import pytest as _pytest

    from cybersecurity_miw_spark import sidecar
    from cybersecurity_miw_spark.operators import multimodal as _mm
    from cybersecurity_miw_spark.streaming.ingest import (
        streaming_phash_flags,
    )

    indir = tmp_path / "media_in"
    indir.mkdir()
    flags = str(tmp_path / "flags")
    store = str(tmp_path / "phstore")
    ckpt = str(tmp_path / "ckpt")

    template = bytes((i * 37 + 11) % 256 for i in range(600))
    near = bytearray(template)
    near[300] = (near[300] + 90) % 256  # one flipped byte: <=1 bit
    unrelated = bytes((i * 151 + 7) % 256 for i in range(600))

    def _land(rows):
        spark.createDataFrame(
            rows, "media_id LONG, payload BINARY"
        ).coalesce(1).write.mode("append").parquet(str(indir))

    metrics: list = []
    _land([(1, template), (2, bytes(near)), (3, unrelated)])
    streaming_phash_flags(
        spark, str(indir), ckpt, flags, store, metrics=metrics
    ).awaitTermination(120)
    got1 = {
        (r["new_id"], r["stored_id"])
        for r in spark.read.parquet(flags).collect()
    }
    assert (2, 1) in got1 and metrics == []
    assert not any(3 in p for p in got1)

    _land([(10, template), (11, bytes(reversed(unrelated)))])
    streaming_phash_flags(
        spark, str(indir), ckpt, flags, store, metrics=metrics
    ).awaitTermination(120)
    got2 = {
        (r["new_id"], r["stored_id"])
        for r in spark.read.parquet(flags).collect()
    }
    assert any(n == 10 and s in (1, 2) for n, s in got2)
    assert len(metrics) == 1 and metrics[0]["stale"] is False
    # store rows loadable via the family-checked loader; one row per
    # (asset, band) — payloads never stored
    loaded = sidecar.load(
        spark, store, sidecar.PHASH,
        bits=_mm.PHASH_DEFAULT_BITS, band_bits=_mm.PHASH_DEFAULT_BAND_BITS,
    )
    assert {r["media_id"] for r in loaded.collect()} == {1, 2, 3, 10, 11}
    assert set(loaded.columns) == {"media_id", "band", "val"}
    # family mismatch fails fast before the stream starts
    with _pytest.raises(ValueError, match="phash store"):
        streaming_phash_flags(
            spark, str(indir), str(tmp_path / "ck2"), flags, store,
            band_bits=10,
        )

    # re-encode burst: many verbatim copies of the stored template ->
    # candidates per asset far above the recorded baseline -> stale
    _land([(100 + i, template) for i in range(10)])
    streaming_phash_flags(
        spark, str(indir), ckpt, flags, store, metrics=metrics,
        staleness_factor=2.0,
    ).awaitTermination(120)
    assert len(metrics) == 2 and metrics[1]["stale"] is True, metrics
    assert metrics[1]["staleness_ratio"] > 2.0


def test_phash_stream_joins_externally_built_store_without_sidecar(
    spark, tmp_path
):
    """ADVICE r14: a store built externally via ``phash_band_store``
    WITHOUT a params sidecar must still be joined from the
    FIRST trigger — store presence is detected from the data (the
    minhash-loop probe), not the params sidecar, so cross-run pairs
    are never silently missed. The loop adopts the startup-validated
    family into a fresh sidecar as it appends."""
    from cybersecurity_miw_spark import sidecar
    from cybersecurity_miw_spark.operators import multimodal as _mm
    from cybersecurity_miw_spark.streaming.ingest import (
        streaming_phash_flags,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    flags = str(tmp_path / "flags")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    template = bytes((i * 37 + 11) % 256 for i in range(600))
    near = bytearray(template)
    near[300] = (near[300] + 90) % 256

    # external build: band rows only, NO sidecar
    hist = spark.createDataFrame(
        [(1, template)], "media_id LONG, payload BINARY"
    )
    _mm.phash_band_store(hist).write.mode("overwrite").parquet(store)
    assert sidecar.read(spark, store, sidecar.PHASH) is None

    spark.createDataFrame(
        [(2, bytes(near))], "media_id LONG, payload BINARY"
    ).coalesce(1).write.mode("append").parquet(str(indir))
    metrics: list = []
    streaming_phash_flags(
        spark, str(indir), ckpt, flags, store, metrics=metrics
    ).awaitTermination(120)

    got = {
        (r["new_id"], r["stored_id"])
        for r in spark.read.parquet(flags).collect()
    }
    assert (2, 1) in got  # first trigger already saw the store
    # the monitored trigger recorded its baseline into a fresh sidecar
    assert len(metrics) == 1 and metrics[0]["stale"] is False
    assert sidecar.read(spark, store, sidecar.PHASH) == {
        "bits": _mm.PHASH_DEFAULT_BITS,
        "band_bits": _mm.PHASH_DEFAULT_BAND_BITS,
        "baseline_cand_per_doc": metrics[0]["cand_per_doc"],
    }


def test_simhash_stream_joins_externally_built_store_without_sidecar(
    spark, tmp_path
):
    """The SimHash twin of the phash test above: a store built
    externally via ``simhash_band_store`` WITHOUT a params sidecar (a
    legacy store the family loader accepts) must be joined from the FIRST
    trigger — store presence is detected from the data, not the params
    sidecar, so cross-run pairs are never silently missed. The loop
    adopts the stream's family into a fresh sidecar and records the
    monitor's baseline there."""
    from cybersecurity_miw_spark import sidecar
    from cybersecurity_miw_spark.operators import dedup as _dedup
    from cybersecurity_miw_spark.streaming.ingest import (
        streaming_simhash_flags,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    flags = str(tmp_path / "flags")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    base = "the quick brown fox jumps over the lazy dog again and again"

    # external build: band rows only, NO sidecar
    hist = spark.createDataFrame([(1, base)], "doc_id LONG, text STRING")
    _dedup.simhash_band_store(hist).write.mode("overwrite").parquet(store)
    assert sidecar.read(spark, store, sidecar.SIMHASH) is None

    (indir / "a.tsv").write_text(f"2\t{base} extra\n")
    metrics: list = []
    streaming_simhash_flags(
        spark, str(indir), ckpt, flags, store, metrics=metrics
    ).awaitTermination(120)

    got = {
        (r["new_id"], r["stored_id"])
        for r in spark.read.parquet(flags).collect()
    }
    assert (2, 1) in got  # first trigger already saw the store
    # the monitored trigger recorded its baseline into a fresh sidecar
    assert len(metrics) == 1 and metrics[0]["stale"] is False
    params = sidecar.read(spark, store, sidecar.SIMHASH)
    assert (params["band_bits"], params["hash_fn"]) == (16, "xxhash64")
    assert params["baseline_cand_per_doc"] == 1.0
    loaded = sidecar.load(
        spark, store, sidecar.SIMHASH, band_bits=16, hash_fn="xxhash64"
    )
    assert {r["doc_id"] for r in loaded.collect()} == {1, 2}


def test_phash_streaming_flags_equal_pooled_batch_candidates(spark, tmp_path):
    """Cross-restart equivalence golden: the UNION of streaming phash
    flags across two runs, read as unordered pairs, is exactly the
    pooled batch `phash_dedup_candidates` over all media — every pair
    flagged exactly once, when its second member arrives, whichever
    run that is."""
    from cybersecurity_miw_spark.operators import multimodal as _mm
    from cybersecurity_miw_spark.streaming.ingest import (
        streaming_phash_flags,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    flags = str(tmp_path / "flags")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def payload(seed: int) -> bytes:
        return bytes((i * seed + seed // 3) % 256 for i in range(400))

    t = payload(37)
    n1 = bytearray(t); n1[100] = (n1[100] + 77) % 256
    n2 = bytearray(t); n2[350] = (n2[350] + 13) % 256
    rows1 = [(1, t), (2, bytes(n1)), (3, payload(101))]
    rows2 = [(4, bytes(n2)), (5, payload(211)), (6, t)]

    def _land(rows):
        spark.createDataFrame(
            rows, "media_id LONG, payload BINARY"
        ).coalesce(1).write.mode("append").parquet(str(indir))

    _land(rows1)
    streaming_phash_flags(spark, str(indir), ckpt, flags, store)\
        .awaitTermination(120)
    _land(rows2)
    streaming_phash_flags(spark, str(indir), ckpt, flags, store)\
        .awaitTermination(120)

    streamed = {
        tuple(sorted((r["new_id"], r["stored_id"])))
        for r in spark.read.parquet(flags).collect()
    }
    pooled_df = spark.createDataFrame(
        rows1 + rows2, "media_id LONG, payload BINARY"
    )
    pooled = {
        (r["id_a"], r["id_b"])
        for r in _mm.phash_dedup_candidates(pooled_df).collect()
    }
    assert streamed == pooled and len(pooled) >= 6  # the near-dup clique


def test_streaming_ivf_append_equals_batch_build_and_monitors(spark, tmp_path):
    """Streaming IVF append (the ANN index's continuous ingest twin):
    vectors landed across two runs produce an index whose rows equal a
    from-scratch batch build over the pooled corpus (same frozen
    quantizer, so codes are bit-identical); a probe query on the live
    index finds the planted neighbor; the distortion monitor records
    its baseline and trips on a drifted stream; a restart with a
    retrained quantizer fails fast BEFORE the stream starts."""
    import numpy as np
    import pytest as _pytest

    from cybersecurity_miw_spark.operators import similarity
    from cybersecurity_miw_spark.streaming.ingest import (
        streaming_ivf_append,
    )

    rng = np.random.RandomState(17)
    pts1 = rng.randn(40, 8)
    pts2 = rng.randn(30, 8)
    drift = rng.randn(20, 8) + 30.0

    def _emb_df(rows):
        return spark.createDataFrame(
            rows, "vec_id LONG, embedding ARRAY<DOUBLE>"
        )

    def rows_of(pts, off):
        return [
            (off + int(i), [float(x) for x in v])
            for i, v in enumerate(pts)
        ]

    b1, b2 = rows_of(pts1, 0), rows_of(pts2, 100)
    cents = similarity.train_centroids(_emb_df(b1), n_cells=2, dim=8, iters=2)
    books = similarity.static_pq_codebooks(8, 4, 8)

    indir = tmp_path / "vec_in"
    indir.mkdir()
    idx_dir = str(tmp_path / "ivf_idx")
    ckpt = str(tmp_path / "ckpt")

    def _land(rows):
        _emb_df(rows).coalesce(1).write.mode("append").parquet(str(indir))

    metrics: list = []
    _land(b1)
    streaming_ivf_append(
        spark, str(indir), ckpt, idx_dir, cents, books, metrics=metrics
    ).awaitTermination(120)
    _land(b2)
    streaming_ivf_append(
        spark, str(indir), ckpt, idx_dir, cents, books, metrics=metrics
    ).awaitTermination(120)
    assert len(metrics) == 2 and metrics[0]["stale"] is False

    # streamed index rows == from-scratch batch build over the pool
    streamed = spark.read.parquet(idx_dir)
    pooled = similarity.ivf_pq_index(_emb_df(b1 + b2), cents, books)
    key = lambda r: (r["vec_id"], r["_cell"], tuple(r["pq_code"]))
    assert sorted(map(key, streamed.collect())) == sorted(
        map(key, pooled.collect())
    )

    # probe query on the live index finds the planted neighborhood
    q = b1[3][1]
    got = {
        r["vec_id"]
        for r in similarity.ivf_pq_topk(
            streamed, cents, books, q, k=1, n_probes=2
        ).collect()
    }
    assert got == {3}

    # drifted stream trips the distortion monitor
    _land(rows_of(drift, 1000))
    streaming_ivf_append(
        spark, str(indir), ckpt, idx_dir, cents, books, metrics=metrics
    ).awaitTermination(120)
    assert metrics[-1]["stale"] is True, metrics

    # retrained quantizer fails fast before the stream starts
    cents2 = similarity.train_centroids(
        _emb_df(rows_of(drift, 1000)), n_cells=2, dim=8, iters=2
    )
    with _pytest.raises(ValueError, match="quantizer"):
        streaming_ivf_append(
            spark, str(indir), str(tmp_path / "ck2"), idx_dir,
            cents2, books,
        )


def test_on_stale_raise_fails_trigger_then_report_mode_replays(
    spark, tmp_path
):
    """on_stale policy hooks (VERDICT r14 #3): a template burst that
    grades stale FAILS the stream with StaleStoreError when
    on_stale='raise' (even with no metrics list — the monitor
    activates itself), the tripped trigger's checkpoint never
    commits, and a restart in report mode REPLAYS the batch, records
    the stale report, and completes — the documented
    fail-fast → rebuild-offline → restart recipe."""
    import pytest as _pytest

    from cybersecurity_miw_spark.streaming.ingest import (
        StaleStoreError,
        streaming_phash_flags,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    flags = str(tmp_path / "flags")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    template = bytes((i * 37 + 11) % 256 for i in range(600))
    near = bytearray(template)
    near[300] = (near[300] + 90) % 256
    unrelated = bytes((i * 151 + 7) % 256 for i in range(600))

    def _land(rows):
        spark.createDataFrame(
            rows, "media_id LONG, payload BINARY"
        ).coalesce(1).write.mode("append").parquet(str(indir))

    # run 1: build store + baseline (one cross-run candidate per asset)
    m: list = []
    _land([(1, template), (2, unrelated)])
    streaming_phash_flags(
        spark, str(indir), ckpt, flags, store, metrics=m
    ).awaitTermination(120)
    _land([(3, bytes(near))])
    streaming_phash_flags(
        spark, str(indir), ckpt, flags, store, metrics=m
    ).awaitTermination(120)
    assert len(m) == 1 and m[0]["stale"] is False

    # run 2: re-encode burst + on_stale='raise' (no metrics list) —
    # the query fails and the root cause is the policy error
    _land([(100 + i, template) for i in range(10)])
    q = streaming_phash_flags(
        spark, str(indir), ckpt, flags, store,
        staleness_factor=1.5, on_stale="raise",
    )
    with _pytest.raises(Exception) as exc_info:
        q.awaitTermination(120)
    assert "StaleStoreError" in str(exc_info.value)
    assert StaleStoreError is not None

    # the tripped trigger never committed: report mode replays it,
    # records the stale report, and drains the input
    m2: list = []
    streaming_phash_flags(
        spark, str(indir), ckpt, flags, store,
        staleness_factor=1.5, metrics=m2,
    ).awaitTermination(120)
    assert len(m2) == 1 and m2[0]["stale"] is True
    burst_flags = {
        r["new_id"]
        for r in spark.read.parquet(flags).collect()
        if r["new_id"] >= 100
    }
    assert burst_flags == set(range(100, 110))

    # validation happens BEFORE the stream starts
    with _pytest.raises(ValueError, match="on_stale"):
        streaming_phash_flags(
            spark, str(indir), str(tmp_path / "ck2"), flags, store,
            on_stale="rebuild",
        )


def test_on_stale_raise_on_delegated_monitor_ivf_append(spark, tmp_path):
    """The delegated-monitor variant: streaming_ivf_append's
    distortion monitor runs inside append_to_ivf_index — on_stale=
    'raise' still fails the trigger on a drifted batch, and report
    mode on the same input records stale without failing."""
    import numpy as np
    import pytest as _pytest

    from cybersecurity_miw_spark.operators import similarity
    from cybersecurity_miw_spark.streaming.ingest import (
        streaming_ivf_append,
    )

    rng = np.random.RandomState(7)
    base = rng.randn(60, 8)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(base)]
    cents = similarity.train_centroids(
        spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>"),
        n_cells=2, dim=8, iters=2,
    )
    books = similarity.static_pq_codebooks(8, 4, 8)

    indir = tmp_path / "vin"
    indir.mkdir()
    idx = str(tmp_path / "idx")

    def _land(rows):
        spark.createDataFrame(
            rows, "vec_id LONG, embedding ARRAY<DOUBLE>"
        ).coalesce(1).write.mode("append").parquet(str(indir))

    _land(rows)  # in-distribution: records the baseline
    streaming_ivf_append(
        spark, str(indir), str(tmp_path / "ck"), idx, cents, books,
        on_stale="raise",
    ).awaitTermination(120)

    drifted = [
        (1000 + int(i), [float(x) for x in (v + 40.0)])
        for i, v in enumerate(rng.randn(20, 8))
    ]
    _land(drifted)
    q = streaming_ivf_append(
        spark, str(indir), str(tmp_path / "ck"), idx, cents, books,
        on_stale="raise",
    )
    with _pytest.raises(Exception) as exc_info:
        q.awaitTermination(120)
    assert "StaleStoreError" in str(exc_info.value)

    # report mode replays and records the trip without failing
    m: list = []
    streaming_ivf_append(
        spark, str(indir), str(tmp_path / "ck"), idx, cents, books,
        metrics=m,
    ).awaitTermination(120)
    assert len(m) == 1 and m[0]["stale"] is True


def test_streaming_dsir_scores_frozen_model_and_drift_remediation(
    spark, tmp_path
):
    """streaming_dsir_scores (r15): scores streamed across two runs
    equal the batch dsir_score_batch over the pooled docs (frozen
    model — no rescan); a vocabulary-drifted batch under
    on_stale='raise' fails BEFORE its scores are appended; after the
    one-call rebuild a restart replays the tripped batch clean; a
    missing model and a bad policy fail before the stream starts."""
    import pytest
    from pyspark.sql import functions as F

    from cybersecurity_miw_spark.operators import dsir
    from cybersecurity_miw_spark.streaming.ingest import (
        streaming_dsir_scores,
    )

    raw = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc {i % 4}") for i in range(24)],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(900, "alpha beta gamma")], "doc_id long, text string"
    )
    model_dir = str(tmp_path / "model")
    dsir.write_dsir_model(raw, target, model_dir, n_buckets=256)

    indir = tmp_path / "in"
    scores = str(tmp_path / "scores")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()

    # fail-fast: no model at a bare dir; invalid policy
    with pytest.raises(ValueError, match="no DSIR model sidecar"):
        streaming_dsir_scores(
            spark, str(indir), ckpt, scores, str(tmp_path / "nope")
        )
    with pytest.raises(ValueError, match="on_stale"):
        streaming_dsir_scores(
            spark, str(indir), ckpt, scores, model_dir, on_stale="rebuild"
        )

    (indir / "a.tsv").write_text(
        "100\talpha beta gamma delta doc 1\n101\talpha beta unrelated\n"
    )
    m: list = []
    streaming_dsir_scores(
        spark, str(indir), ckpt, scores, model_dir, metrics=m
    ).awaitTermination(120)
    (indir / "b.tsv").write_text("102\talpha beta gamma delta doc 2\n")
    streaming_dsir_scores(
        spark, str(indir), ckpt, scores, model_dir, metrics=m
    ).awaitTermination(120)

    streamed = {
        r["doc_id"]: r["llr_micro_sum"]
        for r in spark.read.parquet(scores).collect()
    }
    pooled_docs = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta doc 1"),
            (101, "alpha beta unrelated"),
            (102, "alpha beta gamma delta doc 2"),
        ],
        "doc_id long, text string",
    )
    pooled = {
        r["doc_id"]: r["llr_micro_sum"]
        for r in dsir.dsir_score_batch(pooled_docs, model_dir).collect()
    }
    assert streamed == pooled
    assert len(m) == 2 and not any(r["stale"] for r in m)

    # drifted batch: raise mode fails the trigger, scores NOT appended
    (indir / "c.tsv").write_text(
        "".join(
            f"{200 + i}\tzork quux fnord blarg wibble {i}\n" for i in range(12)
        )
    )
    n_before = spark.read.parquet(scores).count()
    q = streaming_dsir_scores(
        spark, str(indir), ckpt, scores, model_dir, on_stale="raise"
    )
    with pytest.raises(Exception) as exc:
        q.awaitTermination(120)
    assert "StaleStoreError" in str(
        exc.value
    ) or "stale" in str(exc.value)
    assert spark.read.parquet(scores).count() == n_before

    # offline remediation: rebuild with the drifted docs in raw, then
    # the restart replays batch c clean and its scores land
    drifted = spark.createDataFrame(
        [(200 + i, f"zork quux fnord blarg wibble {i}") for i in range(12)],
        "doc_id long, text string",
    )
    dsir.rebuild_dsir_model(raw.unionByName(drifted), target, model_dir)
    m2: list = []
    streaming_dsir_scores(
        spark, str(indir), ckpt, scores, model_dir,
        metrics=m2, on_stale="raise",
    ).awaitTermination(120)
    assert not any(r["stale"] for r in m2)
    got = spark.read.parquet(scores)
    assert got.filter(F.col("doc_id") >= 200).count() == 12


def test_streaming_clf_scores_frozen_model_and_drift_remediation(
    spark, tmp_path
):
    """streaming_clf_scores (r16): scores streamed across two runs
    equal the batch score_with_model over the pooled docs (frozen
    model — no rescan); a vocabulary-drifted batch under
    on_stale='raise' fails BEFORE its scores are appended; after the
    one-call rebuild a restart replays the tripped batch clean; a
    missing model and a bad policy fail before the stream starts."""
    import pytest
    from pyspark.sql import functions as F

    from cybersecurity_miw_spark.operators import qualityclf as qc
    from cybersecurity_miw_spark.streaming.ingest import (
        streaming_clf_scores,
    )

    target = spark.createDataFrame(
        [(i, f"quality careful prose analysis insight {i % 3}")
         for i in range(16)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(100 + i, f"click buy cheap deal spam offer {i % 3}")
         for i in range(16)],
        "doc_id long, text string",
    )
    model_dir = str(tmp_path / "model")
    qc.write_quality_model(target, raw, model_dir, dim=64, iters=5)

    indir = tmp_path / "in"
    scores = str(tmp_path / "scores")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()

    with pytest.raises(ValueError, match="no classifier sidecar"):
        streaming_clf_scores(
            spark, str(indir), ckpt, scores, str(tmp_path / "nope")
        )
    with pytest.raises(ValueError, match="on_stale"):
        streaming_clf_scores(
            spark, str(indir), ckpt, scores, model_dir, on_stale="rebuild"
        )

    # the incoming feed is RAW-corpus-like — that is what the stored
    # drift reference describes (measured JS ≈ 5k micro-nats vs the
    # 100k default; the disjoint-vocab drift batch below measures
    # ≈ 276k). One quality-vocab doc rides along for the separation
    # assert without moving the bucket distribution much.
    (indir / "a.tsv").write_text(
        "500\tquality careful prose analysis insight 1\n"
        + "".join(
            f"{510 + i}\tclick buy cheap deal spam offer {i % 3}\n"
            for i in range(10)
        )
    )
    m: list = []
    streaming_clf_scores(
        spark, str(indir), ckpt, scores, model_dir, metrics=m
    ).awaitTermination(120)
    (indir / "b.tsv").write_text(
        "".join(
            f"{520 + i}\tclick buy cheap deal spam offer {i % 3}\n"
            for i in range(6)
        )
    )
    streaming_clf_scores(
        spark, str(indir), ckpt, scores, model_dir, metrics=m
    ).awaitTermination(120)

    streamed = {
        r["doc_id"]: r["clf_score_micro"]
        for r in spark.read.parquet(scores).collect()
    }
    pooled_docs = spark.createDataFrame(
        [(500, "quality careful prose analysis insight 1")]
        + [(510 + i, f"click buy cheap deal spam offer {i % 3}")
           for i in range(10)]
        + [(520 + i, f"click buy cheap deal spam offer {i % 3}")
           for i in range(6)],
        "doc_id long, text string",
    )
    pooled = {
        r["doc_id"]: r["clf_score_micro"]
        for r in qc.score_with_model(pooled_docs, model_dir).collect()
    }
    assert streamed == pooled
    assert streamed[500] > streamed[510]  # the gate still separates
    assert len(m) == 2 and not any(r["stale"] for r in m)

    # drifted batch: raise mode fails the trigger, scores NOT appended
    (indir / "c.tsv").write_text(
        "".join(
            f"{600 + i}\tzork quux fnord blarg wibble {i}\n"
            for i in range(12)
        )
    )
    n_before = spark.read.parquet(scores).count()
    q = streaming_clf_scores(
        spark, str(indir), ckpt, scores, model_dir, on_stale="raise"
    )
    with pytest.raises(Exception) as exc:
        q.awaitTermination(120)
    assert "StaleStoreError" in str(exc.value) or "stale" in str(exc.value)
    assert spark.read.parquet(scores).count() == n_before

    # offline remediation: the raw distribution has MOVED, so rebuild
    # against the current feed (the drifted docs are the new raw);
    # the restart then replays batch c clean and its scores land
    drifted = spark.createDataFrame(
        [(600 + i, f"zork quux fnord blarg wibble {i}") for i in range(12)],
        "doc_id long, text string",
    )
    qc.rebuild_quality_model(target, drifted, model_dir)
    m2: list = []
    streaming_clf_scores(
        spark, str(indir), ckpt, scores, model_dir,
        metrics=m2, on_stale="raise",
    ).awaitTermination(120)
    assert not any(r["stale"] for r in m2)
    got = spark.read.parquet(scores)
    assert got.filter(F.col("doc_id") >= 600).count() == 12


def test_streaming_crawl_curate_ingest(spark, tmp_path):
    """r17: the full crawl→dataset chain as a continuous loop — URL
    dedup vs the processed-URL store, HTML extraction, language
    gate, text-fingerprint dedup vs the text store — across two
    separate runs sharing stores and checkpoint."""
    from cybersecurity_miw_spark.streaming.ingest import (
        streaming_crawl_curate_ingest,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    corpus = str(tmp_path / "corpus")
    ustore = str(tmp_path / "ustore")
    fstore = str(tmp_path / "fstore")
    ckpt = str(tmp_path / "ckpt")

    body_en = ("The weather was cold this morning and the children "
               "stayed at home with their mother near the river bank.")
    body_de = ("Das Wetter war heute Morgen kalt und die Kinder blieben "
               "mit ihrer Mutter zu Hause, weil es stark geschneit hat.")

    def page(body):
        return (
            "<html><body><div><a href='/'>Home page</a> "
            "<a href='/a'>About page</a> <a href='/c'>Contact us</a></div>"
            f"<p>{body}</p></body></html>"
        )

    # batch 1: 10/11 same canonical URL; 12 German; 13 nav-only
    (indir / "a.tsv").write_text(
        f"10\thttps://Site.com/a?fbclid=x\t{page(body_en)}\n"
        f"11\thttps://site.com/a\t{page(body_en)}\n"
        f"12\thttps://site.com/de\t{page(body_de)}\n"
        "13\thttps://site.com/nav\t"
        "<html><body><div><a href='/'>Home</a></div></body></html>\n"
    )
    m: list = []
    streaming_crawl_curate_ingest(
        spark, str(indir), ckpt, corpus, ustore, fstore,
        lang_allow=("en",), metrics=m,
    ).awaitTermination(180)
    assert m[-1]["n_batch"] == 4
    assert m[-1]["n_url_new"] == 3      # 11 dropped (canonical dup)
    assert m[-1]["n_lang_kept"] == 1    # de + nav-only dropped
    assert m[-1]["n_accepted"] == 1     # doc 10

    # batch 2: 20 = history URL dup; 21 = same BODY under a new URL
    # (mirror site -> text store drops it); 22 = genuinely new
    (indir / "b.tsv").write_text(
        f"20\thttps://site.com/a?utm_x=1\t{page(body_en)}\n"
        f"21\thttps://mirror.net/a\t{page(body_en)}\n"
        "22\thttps://site.com/new\t"
        "<html><body><p>The second article body has plenty of new "
        "words about the old harbor and the winter market.</p>"
        "</body></html>\n"
    )
    streaming_crawl_curate_ingest(
        spark, str(indir), ckpt, corpus, ustore, fstore,
        lang_allow=("en",), metrics=m,
    ).awaitTermination(180)
    assert m[-1]["n_url_new"] == 2      # 20 dropped vs url store
    assert m[-1]["n_accepted"] == 1     # 21 dropped vs text store

    rows = {r["doc_id"]: r for r in spark.read.parquet(corpus).collect()}
    assert sorted(rows) == [10, 22]
    assert rows[10]["text"] == body_en
    assert rows[10]["lang"] == "en"
    # the URL store records PROCESSED pages (incl. the text-rejected
    # German/nav/mirror docs), so they are never re-curated
    assert spark.read.parquet(ustore).count() == 5  # 10,12,13,21,22
    # the text store records accepted fingerprints only
    assert spark.read.parquet(fstore).count() == 2


def test_streaming_lm_scores_frozen_model_and_drift_remediation(
    spark, tmp_path
):
    """streaming_lm_scores (r17): perplexity scores streamed across
    two runs equal the batch score_with_lm_model over the pooled
    docs (frozen model — no target rescan); a vocabulary-drifted
    batch under on_stale='raise' fails BEFORE its scores are
    appended; after the one-call rebuild a restart replays the
    tripped batch clean; a missing model fails before the stream
    starts; small in-distribution batches do NOT false-trip (the
    scale-invariant smoothing contract)."""
    import pytest
    from pyspark.sql import functions as F

    from cybersecurity_miw_spark.operators import ngramlm as lm
    from cybersecurity_miw_spark.streaming.ingest import (
        streaming_lm_scores,
    )

    fluent = "the cat sat on the mat and the dog sat on the rug"
    target = spark.createDataFrame(
        [(i, fluent) for i in range(100)], "doc_id long, text string"
    )
    model_dir = str(tmp_path / "lm")
    lm.write_lm_model(target, model_dir)

    indir = tmp_path / "in"
    scores = str(tmp_path / "scores")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()

    with pytest.raises(ValueError, match="no LM sidecar"):
        streaming_lm_scores(
            spark, str(indir), ckpt, scores, str(tmp_path / "nope")
        )
    with pytest.raises(ValueError, match="on_stale"):
        streaming_lm_scores(
            spark, str(indir), ckpt, scores, model_dir, on_stale="rebuild"
        )

    # two runs of small in-distribution batches (one OOV-ish doc
    # rides along for the ordering assert)
    (indir / "a.tsv").write_text(
        "".join(f"{500 + i}\t{fluent}\n" for i in range(8))
        + "509\tthe cat zz qq ww\n"
    )
    m: list = []
    streaming_lm_scores(
        spark, str(indir), ckpt, scores, model_dir, metrics=m
    ).awaitTermination(120)
    (indir / "b.tsv").write_text(
        "".join(f"{520 + i}\t{fluent}\n" for i in range(5))
    )
    streaming_lm_scores(
        spark, str(indir), ckpt, scores, model_dir, metrics=m
    ).awaitTermination(120)

    streamed = {
        r["doc_id"]: (r["n_lm_tokens"], r["lp_micro_sum"], r["nlp_micro_tok"])
        for r in spark.read.parquet(scores).collect()
    }
    pooled_docs = spark.createDataFrame(
        [(500 + i, fluent) for i in range(8)]
        + [(509, "the cat zz qq ww")]
        + [(520 + i, fluent) for i in range(5)],
        "doc_id long, text string",
    )
    pooled = {
        r["doc_id"]: (r["n_lm_tokens"], r["lp_micro_sum"], r["nlp_micro_tok"])
        for r in lm.score_with_lm_model(pooled_docs, model_dir).collect()
    }
    assert streamed == pooled
    # OOV-heavy doc is less fluent than the target-like docs
    assert streamed[509][2] > streamed[500][2]
    assert len(m) == 2 and not any(r["stale"] for r in m)

    # drifted batch: raise mode fails the trigger, scores NOT appended
    (indir / "c.tsv").write_text(
        "".join(
            f"{600 + i}\tzork quux fnord blarg wibble snarf gromp blix\n"
            for i in range(12)
        )
    )
    n_before = spark.read.parquet(scores).count()
    q = streaming_lm_scores(
        spark, str(indir), ckpt, scores, model_dir, on_stale="raise"
    )
    with pytest.raises(Exception) as exc:
        q.awaitTermination(120)
    assert "StaleStoreError" in str(exc.value) or "stale" in str(exc.value)
    assert spark.read.parquet(scores).count() == n_before

    # offline remediation: the feed's domain moved WHOLESALE — the
    # new target exemplar is the new domain (rebuilding on a mix
    # would leave a pure-new-domain batch still reading as drifted,
    # correctly), restart replays batch c clean
    drifted = spark.createDataFrame(
        [(600 + i, "zork quux fnord blarg wibble snarf gromp blix")
         for i in range(40)],
        "doc_id long, text string",
    )
    lm.rebuild_lm_model(drifted, model_dir)
    m2: list = []
    streaming_lm_scores(
        spark, str(indir), ckpt, scores, model_dir,
        metrics=m2, on_stale="raise",
    ).awaitTermination(120)
    assert not any(r["stale"] for r in m2)
    got = spark.read.parquet(scores)
    assert got.filter(F.col("doc_id") >= 600).count() == 12


def test_streaming_frontier_ingest_discovery_loop(spark, tmp_path):
    """r17: the discovery half of the crawl loop — outlinks from
    fetched pages, unseen filter vs the shared processed-URL store,
    robots gate, count-store appends; read_frontier collapses exact
    replays; compaction preserves the read view."""
    from cybersecurity_miw_spark.operators import urlcurate
    from cybersecurity_miw_spark.streaming.ingest import (
        compact_frontier_store,
        read_frontier,
        streaming_frontier_ingest,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    frontier = str(tmp_path / "frontier")
    ckpt = str(tmp_path / "ckpt")
    url_store = str(tmp_path / "urls")
    robots_dir = str(tmp_path / "robots")

    # the processed-URL store: page /p0 of site a has been crawled
    urlcurate.url_fingerprint_store(
        spark.createDataFrame(
            [(1, "http://a.com/p0")], "doc_id long, url string"
        )
    ).write.parquet(url_store)
    # robots: site b disallows /private/
    spark.createDataFrame(
        [("b.com", "User-agent: *\nDisallow: /private/")],
        "host string, robots_txt string",
    ).write.parquet(robots_dir)

    html1 = (
        '<a href="http://a.com/p0">seen</a>'
        '<a href="http://a.com/p1">new</a>'
        '<a href="http://b.com/private/x">blocked</a>'
        '<a href="http://b.com/ok">fine</a>'
    )
    (indir / "a.tsv").write_text(f"10\thttp://a.com/src\t{html1}\n")
    m: list = []
    streaming_frontier_ingest(
        spark, str(indir), ckpt, frontier, url_store,
        robots_dir=robots_dir, metrics=m,
    ).awaitTermination(120)
    # second run: another page endorses /p1 again
    (indir / "b.tsv").write_text(
        '11\thttp://c.com/src\t<a href="http://a.com/p1">again</a>\n'
    )
    streaming_frontier_ingest(
        spark, str(indir), ckpt, frontier, url_store,
        robots_dir=robots_dir, metrics=m,
    ).awaitTermination(120)

    view = {
        r["url"]: (r["n_links"], r["n_src_pages"], r["frontier_score"])
        for r in read_frontier(spark, frontier).collect()
    }
    # /p0 was already crawled (store); /private/x robots-blocked
    assert set(view) == {"http://a.com/p1", "http://b.com/ok"}
    # cross-batch evidence summed: 1 link from each batch
    assert view["http://a.com/p1"] == (2, 2, 4)
    assert view["http://b.com/ok"] == (1, 1, 1)
    assert m[0]["n_pages"] == 1 and m[0]["n_edges"] == 4
    assert m[0]["n_unseen"] == 3 and m[0]["n_emitted"] == 2

    # an exact checkpoint REPLAY (same batch_id rows re-appended)
    # must not double the counts
    from pyspark.sql import functions as F

    replay = spark.read.parquet(frontier).filter(F.col("batch_id") == 0)
    replay.write.mode("append").parquet(frontier)
    after = {
        r["url"]: r["n_links"]
        for r in read_frontier(spark, frontier).collect()
    }
    assert after["http://a.com/p1"] == 2

    # compaction: the read view is unchanged, the store shrinks to
    # one row per target
    before_view = sorted(
        map(tuple, read_frontier(spark, frontier).collect())
    )
    compact_frontier_store(spark, frontier)
    assert sorted(
        map(tuple, read_frontier(spark, frontier).collect())
    ) == before_view
    assert spark.read.parquet(frontier).count() == 2
    # url_store_dir post-filter: /p1 crawled since → drops from view
    urlcurate.url_fingerprint_store(
        spark.createDataFrame(
            [(2, "http://a.com/p1")], "doc_id long, url string"
        )
    ).write.mode("append").parquet(url_store)
    final = {
        r["url"]
        for r in read_frontier(spark, frontier, url_store).collect()
    }
    assert final == {"http://b.com/ok"}


def test_crawl_loops_share_the_processed_url_store(spark, tmp_path):
    """r17 integration: the CONTENT loop (streaming_crawl_curate_
    ingest) and the DISCOVERY loop (streaming_frontier_ingest) run
    against ONE processed-URL store — pages the curation loop has
    processed never re-enter the frontier, and frontier targets
    crawled later drop from the read view."""
    from cybersecurity_miw_spark.streaming.ingest import (
        read_frontier,
        streaming_crawl_curate_ingest,
        streaming_frontier_ingest,
    )

    curate_in = tmp_path / "curate_in"
    disc_in = tmp_path / "disc_in"
    curate_in.mkdir()
    disc_in.mkdir()
    corpus = str(tmp_path / "corpus")
    ustore = str(tmp_path / "ustore")
    fstore = str(tmp_path / "fstore")
    frontier = str(tmp_path / "frontier")

    body = ("The weather was cold this morning and the children "
            "stayed at home with their mother near the river bank.")
    linked_page = (
        "<html><body>"
        "<a href='https://site.com/a'>seen article</a> "
        "<a href='https://site.com/next'>next article</a>"
        f"<p>{body}</p></body></html>"
    )

    # 1. the content loop curates https://site.com/a → URL store
    (curate_in / "a.tsv").write_text(
        f"10\thttps://site.com/a\t<html><body><p>{body}</p></body></html>\n"
    )
    streaming_crawl_curate_ingest(
        spark, str(curate_in), str(tmp_path / "ck1"), corpus, ustore,
        fstore,
    ).awaitTermination(180)

    # 2. the discovery loop reads the SAME store: /a (already
    #    curated) is filtered, /next enters the frontier
    (disc_in / "b.tsv").write_text(
        f"20\thttps://other.com/src\t{linked_page}\n"
    )
    streaming_frontier_ingest(
        spark, str(disc_in), str(tmp_path / "ck2"), frontier, ustore,
    ).awaitTermination(120)
    view = {r["url"] for r in read_frontier(spark, frontier).collect()}
    assert view == {"https://site.com/next"}

    # 3. the crawler fetches /next; the content loop processes it;
    #    the frontier read view (post-filtered by the store) empties
    (curate_in / "c.tsv").write_text(
        "30\thttps://site.com/next\t<html><body><p>The second "
        "article body has plenty of new words about the old harbor "
        "and the winter market this year.</p></body></html>\n"
    )
    streaming_crawl_curate_ingest(
        spark, str(curate_in), str(tmp_path / "ck1"), corpus, ustore,
        fstore,
    ).awaitTermination(180)
    remaining = {
        r["url"] for r in read_frontier(spark, frontier, ustore).collect()
    }
    assert remaining == set()
