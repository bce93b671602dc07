"""DSIR importance resampling (operators/dsir.py — Xie et al., arXiv
2302.03169): beyond the DuckDB oracle, pin the selection BEHAVIOR
(target-like docs outrank off-domain ones), the no-RNG determinism
contract, the Gumbel-vs-hard-top-k relationship, and the plan shape
(LLR broadcast, no cartesian)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cybersecurity_miw_spark.operators import dsir


@pytest.fixture(scope="module")
def corpus(spark):
    # 40 docs: half "science" domain, half "spam" domain, distinct
    # vocabularies; doc 39 is empty text
    rows = []
    for i in range(20):
        rows.append(
            (i, "sci", f"protein folding energy landscape entropy study {i % 5}")
        )
    for i in range(20, 40):
        rows.append(
            (i, "spam", f"buy cheap pills now click here winner {i % 5}")
        )
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


@pytest.fixture(scope="module")
def target(spark):
    return spark.createDataFrame(
        [(900, "protein folding entropy"), (901, "energy landscape study")],
        "doc_id long, text string",
    )


def test_dsir_selects_target_like_docs(spark, corpus, target):
    """All of a top-10 Gumbel draw lands in the science domain — the
    importance weights dominate the perturbation when the domains are
    well separated."""
    sel = dsir.dsir_select(corpus, target, 10, n_buckets=512)
    rows = sel.collect()
    assert len(rows) == 10
    assert all(r["source"] == "sci" for r in rows)
    # weights: every science doc outweighs every spam doc
    w = {
        r["doc_id"]: r["llr_micro_sum"]
        for r in dsir.dsir_log_weights(
            corpus, target, n_buckets=512
        ).collect()
    }
    assert min(w[i] for i in range(20)) > max(w[i] for i in range(20, 40))


def test_dsir_empty_text_scores_zero(spark, corpus, target):
    """An empty doc has no features, so its bag importance is exactly
    1 (log weight 0) — at toy scale that BEATS real docs, whose
    add-one-smoothed weights are all negative. Pipelines filter empty
    docs upstream (curate_documents does); the operator stays
    faithful to the math rather than special-casing."""
    extra = corpus.sparkSession.createDataFrame(
        [(99, "spam", "")], "doc_id long, source string, text string"
    )
    w = {
        r["doc_id"]: r["llr_micro_sum"]
        for r in dsir.dsir_log_weights(
            corpus.unionByName(extra), target, n_buckets=512
        ).collect()
    }
    assert w[99] == 0 and all(v < 0 for d, v in w.items() if d != 99)


def test_dsir_deterministic_and_gumbel_modes(spark, corpus, target):
    """Re-runs are identical (md5 Gumbel, no RNG); gumbel=False is
    hard top-k by weight alone; a different salt reshuffles the
    draw's tie-breaking but stays within the high-weight pool."""
    a = dsir.dsir_select(corpus, target, 8, n_buckets=512).collect()
    b = dsir.dsir_select(corpus, target, 8, n_buckets=512).collect()
    key = lambda r: (r["doc_id"], r["dsir_score"])
    assert sorted(map(key, a)) == sorted(map(key, b))

    hard = dsir.dsir_select(
        corpus, target, 8, n_buckets=512, gumbel=False
    ).collect()
    w = {r["doc_id"]: r["llr_micro_sum"] for r in hard}
    # hard mode: score IS the weight
    assert all(r["dsir_score"] == r["llr_micro_sum"] for r in hard)
    # hard top-8 = the 8 largest weights (ties by id)
    all_w = {
        r["doc_id"]: r["llr_micro_sum"]
        for r in dsir.dsir_log_weights(corpus, target, n_buckets=512).collect()
    }
    expect = sorted(all_w, key=lambda d: (-all_w[d], d))[:8]
    assert sorted(w) == sorted(expect)
    assert all(r["source"] == "sci" for r in hard)

    other = dsir.dsir_select(
        corpus, target, 8, n_buckets=512, salt="other"
    ).collect()
    assert all(r["source"] == "sci" for r in other)

    with pytest.raises(ValueError, match="k must be"):
        dsir.dsir_select(corpus, target, 0)


def test_dsir_bigrams_sharpen_separation(spark, corpus, target):
    """Bigram features add signal: with bigrams the science docs'
    weight margin over spam is at least the unigram-only margin
    (the paper's reason for unigram+bigram hashing)."""

    def margin(bigrams):
        w = {
            r["doc_id"]: r["llr_micro_sum"]
            for r in dsir.dsir_log_weights(
                corpus, target, n_buckets=512, bigrams=bigrams
            ).collect()
        }
        return min(w[i] for i in range(20)) - max(
            w[i] for i in range(20, 40)
        )

    assert margin(True) > margin(False) > 0


def test_dsir_plan_shape(spark, corpus, target):
    """The scoring join broadcasts the n_buckets-bounded LLR table and
    the plan has no cartesian/nested-loop join; selection is a
    TakeOrdered, not a global sort."""
    plan = (
        dsir.dsir_select(corpus, target, 5, n_buckets=512)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # the LLR table side
    assert "TakeOrderedAndProject" in plan  # top-k, no global sort


# ---- persisted model store (the house store-family contract) ----


def test_dsir_model_store_scores_match_from_scratch(spark, corpus, target, tmp_path):
    """write_dsir_model + dsir_score_batch over the SAME corpus equals
    dsir_log_weights computed from scratch — the frozen-model
    incremental contract every store family here pins."""
    model_dir = str(tmp_path / "dsir_model")
    params = dsir.write_dsir_model(
        corpus, target, model_dir, n_buckets=512
    )
    assert params["n_buckets"] == 512 and params["bigrams"]
    assert params["tot_r"] > 0 and params["tot_t"] > 0

    scored = {
        r["doc_id"]: r["llr_micro_sum"]
        for r in dsir.dsir_score_batch(corpus, model_dir).collect()
    }
    scratch = {
        r["doc_id"]: r["llr_micro_sum"]
        for r in dsir.dsir_log_weights(
            corpus, target, n_buckets=512
        ).collect()
    }
    assert scored == scratch

    # family guard: mismatched expectations raise; bare dirs raise
    with pytest.raises(ValueError, match="mixed hash families"):
        dsir.load_dsir_model(spark, model_dir, n_buckets=1024)
    with pytest.raises(ValueError, match="no DSIR model sidecar"):
        dsir.load_dsir_model(spark, str(tmp_path / "nope"))


def test_dsir_drift_monitor_and_rebuild(spark, corpus, target, tmp_path):
    """An in-distribution batch stays fresh; a vocabulary-shifted
    batch trips the monitor; rebuild_dsir_model retrains on the
    current corpora with the recorded family and the new scores
    reflect the new model."""
    model_dir = str(tmp_path / "dsir_model")
    dsir.write_dsir_model(corpus, target, model_dir, n_buckets=512)

    fresh = dsir.dsir_drift_report(
        corpus.filter(F.col("doc_id") % 2 == 0), model_dir
    )
    assert not fresh["stale"]
    assert fresh["js_micro_nats"] >= 0

    drifted_rows = [
        (500 + i, "new", f"quantum ledger blockchain oracle shard {i}")
        for i in range(20)
    ]
    drifted = spark.createDataFrame(
        drifted_rows, "doc_id long, source string, text string"
    )
    rep = dsir.dsir_drift_report(drifted, model_dir)
    assert rep["stale"]
    assert rep["js_micro_nats"] > fresh["js_micro_nats"]

    # remediation: retrain on corpus ∪ drifted with the SAME family
    params = dsir.rebuild_dsir_model(
        corpus.unionByName(drifted), target, model_dir
    )
    assert params["n_buckets"] == 512
    assert not dsir.dsir_drift_report(drifted, model_dir)["stale"]
    # the rebuilt model scores the drifted docs from ITS raw stats
    # (they are now in-model), matching a from-scratch computation
    scored = {
        r["doc_id"]: r["llr_micro_sum"]
        for r in dsir.dsir_score_batch(drifted, model_dir).collect()
    }
    scratch = {
        r["doc_id"]: r["llr_micro_sum"]
        for r in dsir.dsir_log_weights(
            corpus.unionByName(drifted).filter(F.col("doc_id") >= 500),
            target,
            n_buckets=512,
        ).collect()
    }
    # NOTE: scratch here profiles only the drifted slice as "raw", so
    # its q differs — equality is NOT expected; what is pinned is that
    # the frozen-model score of an in-model doc is deterministic
    again = {
        r["doc_id"]: r["llr_micro_sum"]
        for r in dsir.dsir_score_batch(drifted, model_dir).collect()
    }
    assert scored == again and set(scored) == set(scratch)


def test_dsir_rebuild_stages_sidecar_inside_the_swap(
    spark, corpus, target, tmp_path, monkeypatch
):
    """The rebuilt model's totals must already sit in the staged
    directory when it is renamed over the live one: a sidecar written
    after the swap lets a concurrent load_dsir_model pair the new rows
    with the old tot_r/tot_t."""
    from cybersecurity_miw_spark import fsutil, sidecar

    model_dir = str(tmp_path / "dsir_model")
    old = dsir.write_dsir_model(corpus, target, model_dir, n_buckets=512)
    grown = corpus.unionByName(
        spark.createDataFrame(
            [(900, "new", "quantum ledger blockchain oracle shard")],
            "doc_id long, source string, text string",
        )
    )
    swapped_in = []
    real_rename = fsutil.rename

    def rename(spark_, src, dst):
        if dst.rstrip("/") == model_dir.rstrip("/"):
            swapped_in.append(sidecar.read(spark_, src, sidecar.DSIR))
        real_rename(spark_, src, dst)

    monkeypatch.setattr(fsutil, "rename", rename)
    new = dsir.rebuild_dsir_model(grown, target, model_dir)
    assert new["tot_r"] > old["tot_r"]
    assert swapped_in == [new]
    assert dsir.load_dsir_model(spark, model_dir)[1] == new


# ---- pure-python reference model (engine-portability property) ----


def _py_dsir_weights(raw_rows, target_rows, n_buckets):
    """Pure-python DSIR weight model: md5 bucket (first 8 hex digits,
    the engine-shared hash), add-one smoothing, micro-nat floor —
    exactly the operator's arithmetic, no Spark/DuckDB."""
    import hashlib
    import math

    def grams(text):
        ws = [w for w in (text or "").lower().strip().split() if w]
        out = list(ws)
        out += [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        return out

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % n_buckets

    rc: dict = {}
    prof: dict = {}
    for i, t in raw_rows:
        for g in grams(t):
            b = bucket(g)
            rc[b] = rc.get(b, 0) + 1
            prof.setdefault(i, {})[b] = prof.get(i, {}).get(b, 0) + 1
    tc: dict = {}
    for _, t in target_rows:
        for g in grams(t):
            b = bucket(g)
            tc[b] = tc.get(b, 0) + 1
    tot_r, tot_t = sum(rc.values()), sum(tc.values())
    llr = {
        b: math.floor(
            (
                math.log((tc.get(b, 0) + 1) / (tot_t + n_buckets))
                - math.log((rc[b] + 1) / (tot_r + n_buckets))
            )
            * 1_000_000.0
            + 0.5
        )
        for b in rc
    }
    return {
        i: sum(c * llr[b] for b, c in bs.items())
        for i, bs in prof.items()
    } | {i: 0 for i, t in raw_rows if i not in prof}


def test_dsir_weights_match_pure_python_model(spark):
    """Hypothesis: for random small corpora the Spark integer
    micro-nat weights equal the pure-python model bit for bit — the
    guard on the floor-boundary channel the DuckDB oracle also rides
    through."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    words = st.sampled_from(
        ["alpha", "beta", "gamma", "delta", "x1", "y2", "zz", "qq"]
    )
    texts = st.lists(words, min_size=0, max_size=8).map(" ".join)

    @settings(max_examples=12, deadline=None)
    @given(
        raw=st.lists(texts, min_size=1, max_size=8),
        tgt=st.lists(texts, min_size=1, max_size=3),
    )
    def check(raw, tgt):
        raw_rows = [(i, t) for i, t in enumerate(raw)]
        tgt_rows = [(100 + i, t) for i, t in enumerate(tgt)]
        rdf = spark.createDataFrame(raw_rows, "doc_id long, text string")
        tdf = spark.createDataFrame(tgt_rows, "doc_id long, text string")
        got = {
            r["doc_id"]: r["llr_micro_sum"]
            for r in dsir.dsir_log_weights(
                rdf, tdf, n_buckets=64
            ).collect()
        }
        want = _py_dsir_weights(raw_rows, tgt_rows, 64)
        assert got == want

    check()


def test_dsir_select_to_budget(spark, corpus, target):
    """Budget variant: inclusive token sum never exceeds the budget,
    a smaller budget selects a PREFIX of a larger one (same walk
    order), the selection is target-dominated, and degenerate inputs
    validate."""
    docs = corpus.withColumn(
        "n_tokens", F.size(F.split(F.col("text"), r"\s+"))
    )
    big = dsir.dsir_select_to_budget(
        docs, target, 60, tokens_col="n_tokens", n_buckets=512
    ).collect()
    small = dsir.dsir_select_to_budget(
        docs, target, 30, tokens_col="n_tokens", n_buckets=512
    ).collect()
    assert sum(r["n_tokens"] for r in big) <= 60
    assert sum(r["n_tokens"] for r in small) <= 30
    assert {r["doc_id"] for r in small} <= {r["doc_id"] for r in big}
    assert big and all(r["source"] == "sci" for r in big)
    assert all(0 <= r["dsir_grade"] <= 1000 for r in big)

    with pytest.raises(ValueError, match="budget_tokens"):
        dsir.dsir_select_to_budget(docs, target, -1)
    with pytest.raises(ValueError, match="grades"):
        dsir.dsir_select_to_budget(docs, target, 10, grades=0)
