"""Goldens for the corpus-quality filter family
(operators/corpus_filters.py) and duplicate-cluster connected
components (operators/dedup.py:dup_clusters) — behaviors the SQL
oracle parity can't pin alone: crafted repetition shapes, exact
redaction strings, transitive-chain cluster semantics vs pairwise
over-dropping, and a union-find cross-check."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cybersecurity_miw_spark.operators import corpus_filters, dedup


def _docs(spark, rows, schema="doc_id long, text string"):
    return spark.createDataFrame(rows, schema)


# ---- quality metrics / gopher flags ----


def test_quality_metrics_crafted(spark):
    df = _docs(
        spark,
        [
            (1, "the cat sat on the mat"),  # 6 words, 'the' repeats
            (2, "one"),  # single word
            (3, "a a a a"),  # maximal repetition
        ],
    )
    out = {
        r["doc_id"]: r
        for r in corpus_filters.quality_metrics(df).collect()
    }
    assert out[1]["n_words"] == 6
    assert out[1]["dup_word_frac"] == pytest.approx(1 / 6, abs=1e-6)
    assert out[2]["n_words"] == 1
    assert out[2]["dup_word_frac"] == 0.0
    assert out[3]["dup_word_frac"] == pytest.approx(0.75, abs=1e-6)
    assert out[3]["mean_word_len"] == 1.0
    assert out[1]["alpha_word_frac"] == 1.0


def test_top_bigram_ties_break_to_largest_gram(spark):
    # "a b" and "b c" both occur twice -> the largest gram wins
    # (the tie-break that keeps the reduce a single max(struct))
    df = _docs(spark, [(1, "a b c a b c")])
    row = corpus_filters.top_ngram_fraction(df, n=2).collect()[0]
    assert row["top_gram"] == "b c"
    assert row["top_count"] == 2


def test_top_bigram_short_doc_falls_back_to_whole_text(spark):
    df = _docs(spark, [(1, "solo")])
    row = corpus_filters.top_ngram_fraction(df, n=2).collect()[0]
    assert row["top_gram"] == "solo"
    assert row["top_count"] == 1
    assert row["top_gram_frac"] == 1.0


def test_gopher_flags_split_on_repetitive_doc(spark):
    good = "word" + " ".join(f"tok{i}" for i in range(40))
    bad = " ".join(["spam ham"] * 30)  # top bigram dominates
    df = _docs(spark, [(1, good), (2, bad)])
    out = {r["doc_id"]: r["keep"] for r in corpus_filters.gopher_flags(df).collect()}
    assert out[1] is True
    assert out[2] is False


# ---- repetition removal ----


def test_remove_repeated_lines_keeps_first_occurrence_in_order(spark):
    df = _docs(spark, [(1, "x\ny\nx\nz\ny\nx")])
    row = corpus_filters.remove_repeated_lines(df).collect()[0]
    assert row["clean_text"] == "x\ny\nz"
    assert row["n_removed"] == 3


def test_remove_repeated_lines_no_repeats_is_identity(spark):
    df = _docs(spark, [(1, "a\nb\nc")])
    row = corpus_filters.remove_repeated_lines(df).collect()[0]
    assert row["clean_text"] == "a\nb\nc"
    assert row["n_removed"] == 0


# ---- PII redaction ----


def test_pii_redact_exact_strings(spark):
    df = _docs(
        spark,
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "host 192.168.001.042 port"),
            (3, "card 1234567890123456 ok"),
            (4, "clean text with no pii at all"),
            (5, "multi a@b.io and c@d.io plus 10.0.0.1"),
        ],
    )
    out = {r["doc_id"]: r for r in corpus_filters.pii_redact(df).collect()}
    assert out[1]["redacted"] == "mail <EMAIL> now"
    assert out[1]["n_email"] == 1
    assert out[2]["redacted"] == "host <IP> port"
    assert out[2]["n_ipv4"] == 1
    assert out[3]["redacted"] == "card <NUM> ok"
    assert out[3]["n_longnum"] == 1
    assert out[4]["redacted"] == "clean text with no pii at all"
    assert (out[4]["n_email"], out[4]["n_ipv4"], out[4]["n_longnum"]) == (0, 0, 0)
    assert out[5]["redacted"] == "multi <EMAIL> and <EMAIL> plus <IP>"
    assert out[5]["n_email"] == 2 and out[5]["n_ipv4"] == 1


# ---- duplicate clusters ----


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "id_a long, id_b long")


def _uf_components(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_dup_clusters_transitive_chain(spark):
    # chain 1-2-3-4 plus isolated pair (10, 11): one component each
    edges = [(1, 2), (2, 3), (3, 4), (10, 11)]
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dup_clusters(_pairs(spark, edges)).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dup_clusters_matches_union_find_on_random_graph(spark):
    import random

    rng = random.Random(20260814)
    edges = sorted(
        {
            tuple(sorted(rng.sample(range(60), 2)))
            for _ in range(80)
        }
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dup_clusters(_pairs(spark, edges)).collect()
    }
    want = _uf_components(edges)
    assert got == want


def test_dup_clusters_star_converges_on_fused_first_round(spark):
    # a star centered at the min id: every leaf is labelled with the
    # center
    edges = [(1, x) for x in (5, 9, 13, 21)]
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dup_clusters(_pairs(spark, edges)).collect()
    }
    assert got == {1: 1, 5: 1, 9: 1, 13: 1, 21: 1}


def test_dup_clusters_labels_short_path_with_its_minimum(spark):
    # a 6-node path: no round count or iteration guard to trip, every
    # node carries the path minimum
    edges = [(i, i + 1) for i in range(1, 6)]
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dup_clusters(_pairs(spark, edges)).collect()
    }
    assert got == {i: 1 for i in range(1, 7)}


def test_dup_clusters_long_chain_over_partitions(spark):
    """A chain of diameter 149 with shuffled ids, its edges shuffled
    over 4 partitions: every partition holds scattered fragments of
    the chain, and the reduce over their forests joins them into one
    component labelled with the chain's minimum."""
    import random

    rng = random.Random(150)
    ids = rng.sample(range(10_000), 150)
    edges = [(ids[i], ids[i + 1]) for i in range(149)]
    rng.shuffle(edges)
    pairs = _pairs(spark, edges).repartition(4)
    assert pairs.rdd.getNumPartitions() >= 3
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dup_clusters(pairs).collect()
    }
    assert got == {i: min(ids) for i in ids}


def _jobs_to_collect(spark, edges, group: str) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        dedup.dup_clusters(_pairs(spark, edges).repartition(3)).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_dup_clusters_job_count_does_not_grow_with_diameter(spark):
    """Bounded jobs: a 200-node path runs exactly as many Spark jobs as
    a 10-node one — no per-round action whose count tracks the
    diameter."""
    short = _jobs_to_collect(
        spark, [(i, i + 1) for i in range(9)], "cc-path-10"
    )
    long = _jobs_to_collect(
        spark, [(i, i + 1) for i in range(199)], "cc-path-200"
    )
    assert short > 0
    assert long == short


def test_dup_clusters_null_endpoint_adds_no_node(spark):
    """A null endpoint adds no edge and no node: its non-null partner
    stays as a node, a pair with both ends null is dropped, and a
    self-loop keeps its node. No row may carry a null doc id."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, None), (None, 5), (7, 7), (None, None)],
        "id_a long, id_b long",
    )
    got = sorted(tuple(r) for r in dedup.dup_clusters(pairs).collect())
    assert got == [(1, 1), (2, 1), (5, 5), (7, 7)]


def test_near_dedup_clusters_vs_pairwise_on_transitive_chain(spark):
    # A ~ B, B ~ C by shingle overlap, A !~ C. Cluster dedup keeps
    # exactly one of {A,B,C}; doc D is untouched.
    base = [f"w{i}" for i in range(12)]
    a = " ".join(base)
    b = " ".join(base[2:] + ["x1", "x2"])  # shares 10 words with a
    c = " ".join(base[4:] + ["x1", "x2", "x3", "x4"])
    d = " ".join(f"z{i}" for i in range(12))
    df = _docs(spark, [(1, a), (2, b), (3, c), (4, d)])
    out = dedup.near_dedup_clusters(
        df, threshold=0.3, num_hashes=16, bands=8, shingle_k=2
    )
    kept = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert 4 in kept
    dup_kept = [k for k in kept if k != 4]
    assert len(dup_kept) >= 1
    # every kept duplicate-group member is a cluster minimum
    cand = dedup.minhash_lsh_candidates(
        df, num_hashes=16, bands=8, shingle_k=2
    )
    confirmed = dedup.jaccard_pairs(df, cand, shingle_k=2).filter(
        F.col("jaccard") >= 0.3
    )
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dup_clusters(confirmed).collect()
    }
    for k in dup_kept:
        if k in clusters:
            assert clusters[k] == k


# ---- streaming safety ----


def test_narrow_corpus_filters_run_in_structured_streaming(spark, tmp_path):
    """The narrow corpus filters (quality metrics, PII redaction,
    repeated-line removal) are pure per-row expressions, so the SAME
    operator functions must be legal in a readStream plan — the
    streaming-ingest curation path. (Agg-based ops like the
    top-bigram profile need their own output-mode handling and are
    batch-only by design.)"""
    import json
    import time

    indir = tmp_path / "in"
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()
    docs = [
        {"doc_id": 1, "text": "mail a@b.io now\nrepeat\nrepeat"},
        {"doc_id": 2, "text": "clean line\nother line"},
    ]
    (indir / "d.jsonl").write_text(
        "\n".join(json.dumps(d) for d in docs) + "\n"
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(indir))
    )
    cleaned = corpus_filters.remove_repeated_lines(
        corpus_filters.pii_redact(stream, out_col="t").select(
            "doc_id", F.col("t").alias("text")
        ).join(
            corpus_filters.quality_metrics(stream).select("doc_id", "n_words"),
            "doc_id",
        )
        .select("doc_id", "text", "n_words"),
        keep=("doc_id", "n_words"),
    )
    q = (
        cleaned.writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    time.sleep(0.2)
    rows = {
        r["doc_id"]: r for r in spark.read.parquet(outdir).collect()
    }
    assert rows[1]["clean_text"] == "mail <EMAIL> now\nrepeat"
    assert rows[1]["n_removed"] == 1
    assert rows[2]["clean_text"] == "clean line\nother line"
    assert rows[2]["n_words"] == 4


# ---- connected components on more graph shapes ----


def test_dup_clusters_matches_union_find_on_80_node_graph(spark):
    import random

    rng = random.Random(99)
    edges = sorted(
        {tuple(sorted(rng.sample(range(80), 2))) for _ in range(100)}
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dup_clusters(_pairs(spark, edges)).collect()
    }
    assert got == _uf_components(edges)


def test_dup_clusters_labels_64_node_chain(spark):
    # a 64-node path has diameter 63 — more than the 25 rounds the
    # retired min-label propagation allowed; labelled in one pass
    edges = [(i, i + 1) for i in range(63)]
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dup_clusters(_pairs(spark, edges)).collect()
    }
    assert got == {i: 0 for i in range(64)}


def test_dup_clusters_labels_reversed_64_node_chain(spark):
    """The same chain with every pair written high-to-low: pair
    direction carries no meaning."""
    edges = [(i + 1, i) for i in range(63)]
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dup_clusters(_pairs(spark, edges)).collect()
    }
    assert got == {i: 0 for i in range(64)}


def test_dup_clusters_matches_union_find_on_shallow_graph(spark):
    """A near-clique (the shape dedup actually produces) plus a short
    chain: labels equal the Python union-find's."""
    edges = [(0, i) for i in range(1, 6)] + [(10, 11), (11, 12)]
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dup_clusters(_pairs(spark, edges)).collect()
    }
    assert got == _uf_components(sorted(edges))
    assert set(got.values()) == {0, 10}


def test_star_clusters_agree_with_minlabel_on_near_dup_pairs(spark, sf_dir):
    """The confirmed near-dup pairs of the sf documents: dup_clusters
    agrees with the Python union-find over the same collected pairs."""
    from cybersecurity_miw_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    cand = dedup.minhash_lsh_candidates(
        docs, num_hashes=16, bands=4, shingle_k=3
    )
    confirmed = dedup.jaccard_pairs(docs, cand, shingle_k=3).filter(
        F.col("jaccard") >= 0.8
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dup_clusters(confirmed).collect()
    }
    edges = [(r["id_a"], r["id_b"]) for r in confirmed.collect()]
    assert got == _uf_components(edges) and len(got) > 0


# ---- bigram LM quality score ----


def test_lm_score_favors_in_domain_text(spark):
    # corpus dominated by "the cat sat" patterns; doc 9 is gibberish
    # with corpus-unseen transitions -> lowest score
    rows = [(i, "the cat sat on the mat") for i in range(1, 9)]
    rows.append((9, "zq xv jk wp mn bv"))
    df = _docs(spark, rows)
    out = {
        r["doc_id"]: r["lm_score"]
        for r in corpus_filters.bigram_lm_scores(df).collect()
    }
    assert out[9] < out[1]
    assert all(out[i] == out[1] for i in range(2, 9))  # identical docs tie


def test_lm_score_integer_exact_hand_computed(spark):
    # corpus: two docs "a b" and "a b" -> c2(a,b)=2, c1(a)=2, V=2
    # p_micro = (1e6 * 3) div (2 + 2) = 750000 -> score 0.75
    df = _docs(spark, [(1, "a b"), (2, "a b")])
    out = corpus_filters.bigram_lm_scores(df).collect()
    assert {r["doc_id"]: r["lm_score"] for r in out} == {1: 0.75, 2: 0.75}
    assert all(r["n_bigrams"] == 1 for r in out)


def test_lm_score_excludes_single_word_docs(spark):
    df = _docs(spark, [(1, "only"), (2, "two words")])
    ids = {r["doc_id"] for r in corpus_filters.bigram_lm_scores(df).collect()}
    assert ids == {2}


# ---- cross-doc boilerplate removal ----


def test_boilerplate_lines_removed_across_docs(spark):
    rows = [(i, f"banner\nunique {i}\nfooter") for i in range(1, 6)]
    rows.append((6, "banner\nbanner"))  # all lines boilerplate
    df = _docs(spark, rows)
    out = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in corpus_filters.remove_boilerplate_lines(
            df, max_doc_freq=2
        ).collect()
    }
    for i in range(1, 6):
        assert out[i] == (f"unique {i}", 2)
    assert out[6] == ("", 2)  # emptied, not dropped


def test_boilerplate_below_threshold_untouched(spark):
    df = _docs(spark, [(1, "a\nb"), (2, "a\nc")])  # 'a' in 2 docs
    out = {
        r["doc_id"]: r["clean_text"]
        for r in corpus_filters.remove_boilerplate_lines(
            df, max_doc_freq=2
        ).collect()
    }
    assert out == {1: "a\nb", 2: "a\nc"}  # df == threshold keeps


def test_boilerplate_preserves_line_order(spark):
    df = _docs(
        spark,
        [(i, f"x\nkeep1 {i}\nx\nkeep2 {i}") for i in range(1, 5)],
    )
    out = corpus_filters.remove_boilerplate_lines(df, max_doc_freq=2).collect()
    for r in out:
        i = r["doc_id"]
        assert r["clean_text"] == f"keep1 {i}\nkeep2 {i}"
        assert r["n_removed"] == 2


# ---- n-gram contamination flags ----


def test_ngram_overlap_catches_substring_leakage(spark):
    # train doc 1 embeds an eval sentence inside unrelated text;
    # doc-level Jaccard is low but the 3-gram overlap must flag it
    eval_df = _docs(spark, [(100, "the secret eval answer is here")])
    train = _docs(
        spark,
        [
            (1, "lots of filler " + "the secret eval answer is here"
                + " more filler words everywhere around it padding"),
            (2, "completely unrelated content with no overlap at all"),
        ],
    )
    out = {
        r["doc_id"]: (r["n_overlap"], r["contaminated"])
        for r in dedup.flag_eval_ngram_overlap(
            train, eval_df, shingle_k=3
        ).collect()
    }
    assert out[1][1] is True and out[1][0] >= 3
    assert out[2] == (0, False)


def test_null_text_behaves_as_empty(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "real words here")], "doc_id long, text string"
    )
    qm = {r["doc_id"]: r for r in corpus_filters.quality_metrics(df).collect()}
    assert qm[1]["n_words"] == 1  # split('') -> ['']
    assert qm[2]["n_words"] == 3
    from cybersecurity_miw_spark.operators.packing import chunk_documents

    ch = {r["doc_id"]: r for r in chunk_documents(df, window=4).collect()}
    assert ch[1]["chunk_text"] == ""
    from cybersecurity_miw_spark.operators.textstats import hashed_embedding

    he = {r["doc_id"] for r in hashed_embedding(df).collect()}
    assert he == {2}  # empty-word doc has no buckets, absent by contract
    from cybersecurity_miw_spark.operators import bpe

    merges = bpe.train_bpe(df, n_merges=3, min_pair_count=1)
    assert merges != []  # no crash
    toks = {r["doc_id"]: r["tokens"] for r in bpe.tokenize(df, merges).collect()}
    assert toks[1] == []  # null text -> empty token array
    assert "".join(toks[2]) == "realwordshere"


def test_dedup_paragraphs_keep_first(spark):
    """dedup_paragraphs (the Dolma paragraph-dedup policy): every
    exact paragraph survives ONCE, at its smallest (doc, position)
    occurrence — unlike remove_boilerplate_lines, which drops all
    copies of over-frequent lines including the first. Blank
    segments are structure and pass through; order is preserved;
    within-doc repeats dedup too."""
    from cybersecurity_miw_spark.operators.corpus_filters import (
        dedup_paragraphs,
    )

    docs = spark.createDataFrame(
        [
            (1, "unique one\n\nshared footer\n\nunique two"),
            (2, "another doc\n\nshared footer\n\n\n\nmore body"),
            (3, "shared footer"),
            (4, ""),
            (5, "repeat me\n\nrepeat me"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["text"], r["removed_paragraphs"])
        for r in dedup_paragraphs(docs).collect()
    }
    # first occurrence (doc 1) keeps the shared paragraph
    assert out[1] == ("unique one\n\nshared footer\n\nunique two", 0)
    # later copies excise; blank structure survives
    assert out[2] == ("another doc\n\n\n\nmore body", 1)
    assert out[3] == ("", 1)
    assert out[4] == ("", 0)
    # within-doc repeat dedups at position order
    assert out[5] == ("repeat me", 1)
    # payload columns survive
    docs2 = docs.withColumn("src", F.lit("s"))
    assert "src" in dedup_paragraphs(docs2).columns


def test_dedup_paragraphs_regex_metachar_sep(spark):
    """sep is a LITERAL separator (r18 ADVICE fix): a caller sep of
    '||' — both regex metachars — must split on the literal pipes
    (not 'empty-or-empty', which splits between every char) and
    reassemble with the same literal."""
    from cybersecurity_miw_spark.operators.corpus_filters import (
        dedup_paragraphs,
    )

    docs = spark.createDataFrame(
        [(1, "alpha||shared||beta"), (2, "gamma||shared")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["text"], r["removed_paragraphs"])
        for r in dedup_paragraphs(docs, sep="||").collect()
    }
    assert out[1] == ("alpha||shared||beta", 0)
    assert out[2] == ("gamma", 1)


def test_dedup_paragraphs_deterministic_under_repartition(spark):
    from cybersecurity_miw_spark.operators.corpus_filters import (
        dedup_paragraphs,
    )

    rows = [
        (i, f"common intro\n\nbody {i % 7}\n\nshared tail")
        for i in range(40)
    ]
    d1 = spark.createDataFrame(rows, "doc_id long, text string")
    d2 = spark.createDataFrame(rows, "doc_id long, text string").repartition(9)
    r1 = sorted(map(tuple, dedup_paragraphs(d1).collect()))
    r2 = sorted(map(tuple, dedup_paragraphs(d2).collect()))
    assert r1 == r2
    # exactly one survivor of each shared paragraph, at doc 0
    full = {r[0]: r for r in r1}
    assert "common intro" in full[0][1] and "shared tail" in full[0][1]
    n_with_intro = sum(1 for r in r1 if "common intro" in r[1])
    assert n_with_intro == 1


def test_curate_documents_paragraph_dedup_stage(spark):
    from cybersecurity_miw_spark.pipeline import curate_documents

    docs = spark.createDataFrame(
        [
            (1, "unique body one here\n\nshared legal footer text"),
            (2, "unique body two there\n\nshared legal footer text"),
        ],
        "doc_id long, text string",
    )
    metrics = []
    out = curate_documents(
        docs,
        apply_gopher=False, redact_pii=False,
        quality_floor=None, near_dup_threshold=None,
        paragraph_dedup=True, metrics=metrics,
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert "shared legal footer" in rows[1]["text"]
    assert "shared legal footer" not in rows[2]["text"]
    assert rows[2]["removed_paragraphs"] == 1
    assert any(m["stage"] == "paragraph_dedup" for m in metrics)
