"""Exact set-similarity join invariants (operators/setsim.py).

The DuckDB oracle (catalog `setsim_exact_pairs`) certifies parity on
the real corpus; these tests pin the EXACTNESS claim itself — the
prefix filter must emit every qualifying pair — on crafted corpora
where the dangerous cases are planted deliberately: threshold-boundary
Jaccard, float-adversarial thresholds (0.7*20 = 14.000000000000002
under IEEE 754 — a naive float ceil() shortens the prefix and drops a
qualifying pair), short documents below the shingle width, and
identical documents."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from cybersecurity_miw_spark import sidecar
from cybersecurity_miw_spark.operators import setsim
from cybersecurity_miw_spark.operators.textstats import with_shingles

WORDS = [f"w{i}" for i in range(40)]


def _baseline(spark, store_dir, family):
    return sidecar.read(spark, store_dir, family)["baseline_cand_per_doc"]


def _doc(idx: list[int]) -> str:
    return " ".join(WORDS[i] for i in idx)


def _brute(spark, docs, threshold, shingle_k):
    """All-pairs exact Jaccard, no pruning — the ground truth."""
    sh = {
        r["doc_id"]: frozenset(r["_sh"])
        for r in with_shingles(docs, "text", shingle_k, "_sh").collect()
    }
    out = set()
    for a, b in itertools.combinations(sorted(sh), 2):
        i = len(sh[a] & sh[b])
        u = len(sh[a] | sh[b])
        if 1000 * i >= int(round(threshold * 1000)) * u:
            out.add((a, b, round(i / max(u, 1), 6)))
    return out


def _run(spark, rows, threshold, shingle_k=3):
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in setsim.ppjoin_pairs(
            docs, threshold=threshold, shingle_k=shingle_k
        ).collect()
    }
    want = _brute(spark, docs, threshold, shingle_k)
    assert got == want, (
        f"t={threshold}: missing={sorted(want - got)[:5]} "
        f"extra={sorted(got - want)[:5]}"
    )
    return got


def test_matches_brute_force_mixed_corpus(spark):
    rows = [
        (0, _doc(list(range(0, 12)))),
        (1, _doc(list(range(0, 12)))),            # identical to 0
        (2, _doc(list(range(0, 11)) + [20])),     # near-dup of 0
        (3, _doc(list(range(15, 27)))),           # disjoint block
        (4, _doc(list(range(15, 26)) + [30])),    # near-dup of 3
        (5, _doc(list(range(30, 40)))),           # unrelated
        (6, "w0 w1"),                             # below shingle width
        (7, "w0 w1"),                             # identical short doc
        (8, "lone"),                              # single token
    ]
    got = _run(spark, rows, 0.5)
    assert (0, 1, 1.0) in got          # identical pair survives
    assert (6, 7, 1.0) in got          # short-doc single-shingle pair


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.7, 0.8, 0.9, 1.0])
def test_exact_at_every_threshold(spark, threshold):
    # overlapping windows of 14 words: a ladder of Jaccard values
    # straddling each threshold from both sides
    rows = [(i, _doc(list(range(i, i + 14)))) for i in range(0, 12)]
    _run(spark, rows, threshold)


def test_float_adversarial_threshold_no_false_negative(spark):
    # 21 words -> 19 distinct 3-shingles per doc; overlap tuned so the
    # pair sits AT the 0.7 boundary region where ceil(0.7*sz) computed
    # in floats rounds the wrong way (0.7*20 > 14 in IEEE 754). The
    # integer-permille prefix arithmetic must still emit the pair.
    base = list(range(0, 21))
    variant = list(range(0, 18)) + [30, 31, 32]
    rows = [(0, _doc(base)), (1, _doc(variant))]
    _run(spark, rows, 0.7)


def test_deterministic_across_runs(spark):
    rows = [(i, _doc(list(range(i, i + 10)))) for i in range(0, 20, 2)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    a = sorted(map(tuple, setsim.ppjoin_pairs(docs, threshold=0.4).collect()))
    b = sorted(map(tuple, setsim.ppjoin_pairs(docs, threshold=0.4).collect()))
    assert a == b


def test_plan_no_cross_product(spark):
    docs = spark.createDataFrame(
        [(i, _doc(list(range(i, i + 8)))) for i in range(6)],
        ["doc_id", "text"],
    )
    plan = (
        setsim.ppjoin_pairs(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _brute_cross(spark, left, right, threshold, shingle_k):
    shl = {
        r["doc_id"]: frozenset(r["_sh"])
        for r in with_shingles(left, "text", shingle_k, "_sh").collect()
    }
    shr = {
        r["doc_id"]: frozenset(r["_sh"])
        for r in with_shingles(right, "text", shingle_k, "_sh").collect()
    }
    out = set()
    for a in shl:
        for b in shr:
            i = len(shl[a] & shr[b])
            u = len(shl[a] | shr[b])
            if 1000 * i >= int(round(threshold * 1000)) * u:
                out.add((a, b, round(i / max(u, 1), 6)))
    return out


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.8])
def test_cross_matches_brute_force(spark, threshold):
    rows = [(i, _doc(list(range(i, i + 14)))) for i in range(0, 12)]
    rows += [(100, _doc(list(range(0, 12)))), (101, "w0 w1"), (102, "lone")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    left = docs.where(F.col("doc_id") % 2 == 0)
    right = docs.where(F.col("doc_id") % 2 == 1)
    got = {
        (r["id_l"], r["id_r"], r["jaccard"])
        for r in setsim.ppjoin_cross(
            left, right, threshold=threshold, shingle_k=3
        ).collect()
    }
    want = _brute_cross(spark, left, right, threshold, 3)
    assert got == want, (
        f"t={threshold}: missing={sorted(want - got)[:5]} "
        f"extra={sorted(got - want)[:5]}"
    )


def test_cross_finds_pair_only_in_other_corpus(spark):
    # an eval doc whose ONLY near-dup lives in train: the union
    # document-frequency order must not let a train-hot token evict
    # the shared tokens from BOTH prefixes
    left = spark.createDataFrame(
        [(i, _doc(list(range(0, 12)))) for i in range(5)]  # 5 identical
        + [(9, _doc(list(range(20, 32))))],
        ["doc_id", "text"],
    )
    right = spark.createDataFrame(
        [(50, _doc(list(range(20, 31)) + [35]))], ["doc_id", "text"]
    )
    got = {
        (r["id_l"], r["id_r"])
        for r in setsim.ppjoin_cross(left, right, threshold=0.5).collect()
    }
    assert got == {(9, 50)}


def test_cross_plan_no_cross_product(spark):
    docs = spark.createDataFrame(
        [(i, _doc(list(range(i, i + 8)))) for i in range(6)],
        ["doc_id", "text"],
    )
    plan = (
        setsim.ppjoin_cross(
            docs.where(F.col("doc_id") % 2 == 0),
            docs.where(F.col("doc_id") % 2 == 1),
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_prefix_index_is_a_strict_subset(spark):
    """The scale claim: the prefix explode emits fewer (id, tok) rows
    than the full explode whenever sets are large enough to prune —
    the candidate join never sees the full token fan-out."""
    rows = [(i, _doc(list(range(i, i + 14)))) for i in range(0, 10)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = with_shingles(docs, "text", 3, "_sh")
    ex = sh.select("doc_id", F.explode("_sh").alias("tok"))
    full = ex.count()
    pref = setsim.prefix_index(
        setsim.token_df_order(ex, "doc_id"), "doc_id", 800
    ).count()
    assert pref < full


def test_positional_filter_prunes_without_losing_pairs(spark):
    """The r9 positional filter (Xiao et al. 2008 §3) must strictly
    shrink the candidate set on a near-miss-heavy corpus while the
    final result stays brute-force exact. Near-miss pairs share ONE
    early prefix token but overlap nowhere else — the generic +
    first-hit bounds prune them before the verify join."""
    rare = "zq0 zq1 zq2"  # one shared rare 3-shingle across the corpus
    rows = [
        (i, rare + " " + _doc(list(range(4 + (i % 7), 16 + (i % 7)))))
        for i in range(24)
    ]
    # one genuine near-dup pair, exactly at the threshold boundary
    rows += [(100, _doc(list(range(20)))), (101, _doc(list(range(20))))]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    t_pm = 500
    sh = with_shingles(docs, "text", 3, "_sh", keep=("doc_id",))
    ex = sh.select("doc_id", F.explode("_sh").alias("tok"))
    pref = setsim.prefix_index(
        setsim.token_df_order(ex, "doc_id"), "doc_id", t_pm
    )
    a = pref.select(
        F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"),
        F.col("pos").alias("pos_a"), "tok",
    )
    b = pref.select(
        F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"),
        F.col("pos").alias("pos_b"), "tok",
    )
    base = a.join(b, "tok").filter(
        (F.col("id_a") < F.col("id_b"))
        & (
            F.lit(1000) * F.least("sz_a", "sz_b")
            >= F.lit(t_pm) * F.greatest("sz_a", "sz_b")
        )
    )
    plain = base.select("id_a", "id_b").distinct().count()
    generic = setsim._pos_bound(
        F.col("pos_a"), F.col("pos_b"), F.col("sz_a"), F.col("sz_b")
    )
    bound = F.least(
        F.col("_g"),
        F.lit(1)
        + F.least(F.col("sz_a") - F.col("_pa"), F.col("sz_b") - F.col("_pb")),
    )
    pruned = (
        base.groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(
            F.min(generic).alias("_g"),
            F.min("pos_a").alias("_pa"),
            F.min("pos_b").alias("_pb"),
        )
        .filter(bound >= setsim._alpha(t_pm, F.col("sz_a"), F.col("sz_b")))
        .count()
    )
    assert pruned < plain  # the filter actually fires
    _run(spark, rows, 0.5)  # ...and the output is still exact


# --- incremental prefix-index store (r9) ------------------------------------


def test_incremental_matches_pooled_cross(spark):
    """incremental_ppjoin_pairs over a persisted-shape store equals
    ppjoin_cross(batch, history) exactly — pairs AND jaccard."""
    rows = (
        [(i, _doc(list(range(i % 4, 12 + i % 4)))) for i in range(16)]
        + [(100, _doc(list(range(20)))), (101, _doc(list(range(20))))]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    hist = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 != 0)
    freq = setsim.token_freq_table(hist)
    store = setsim.prefix_store(hist, freq, threshold=0.5)
    inc = {
        (r["new_id"], r["stored_id"], r["jaccard"])
        for r in setsim.incremental_ppjoin_pairs(
            batch, hist, store, freq, threshold=0.5
        ).collect()
    }
    pooled = {
        (r["id_l"], r["id_r"], r["jaccard"])
        for r in setsim.ppjoin_cross(batch, hist, threshold=0.5).collect()
    }
    assert inc == pooled
    assert inc  # fixture produces pairs


def test_incremental_two_batch_append_equals_pooled(spark, tmp_path):
    """Append a first batch's prefix rows (computed under the FROZEN
    order) to the parquet store; a second batch then finds its exact
    pairs against history AND batch-1 — identical to the pooled
    cross-join against the union."""
    rows = [(i, _doc(list(range(i % 3, 14 + i % 3)))) for i in range(18)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    hist = docs.where(F.col("doc_id") % 3 == 0)
    b1 = docs.where(F.col("doc_id") % 3 == 1)
    b2 = docs.where(F.col("doc_id") % 3 == 2)
    store_dir = str(tmp_path / "prefix_store")
    freq = setsim.token_freq_table(hist)
    setsim.prefix_store(hist, freq, threshold=0.5).write.parquet(store_dir)
    setsim.write_prefix_store_params(spark, store_dir, threshold=0.5)
    # ingest batch 1: its rows join the store under the SAME order
    setsim.prefix_store(b1, freq, threshold=0.5).write.mode(
        "append"
    ).parquet(store_dir)
    seen = hist.unionByName(b1)
    store = setsim.load_prefix_store(spark, store_dir, threshold=0.5)
    inc = {
        (r["new_id"], r["stored_id"], r["jaccard"])
        for r in setsim.incremental_ppjoin_pairs(
            b2, seen, store, freq, threshold=0.5
        ).collect()
    }
    pooled = {
        (r["id_l"], r["id_r"], r["jaccard"])
        for r in setsim.ppjoin_cross(b2, seen, threshold=0.5).collect()
    }
    assert inc == pooled
    assert inc


def test_prefix_store_params_mismatch_raises(spark, tmp_path):
    """Prefix lengths depend on the threshold: probing a store built
    at t=0.5 with t=0.8 must fail fast, not silently drop pairs."""
    rows = [(1, _doc(list(range(12)))), (2, _doc(list(range(12))))]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    freq = setsim.token_freq_table(docs)
    store_dir = str(tmp_path / "ps")
    setsim.prefix_store(docs, freq, threshold=0.5).write.parquet(store_dir)
    setsim.write_prefix_store_params(spark, store_dir, threshold=0.5)
    setsim.load_prefix_store(spark, store_dir, threshold=0.5)  # ok
    with pytest.raises(ValueError, match="prefix store"):
        setsim.load_prefix_store(spark, store_dir, threshold=0.8)


def test_drifted_batch_still_exact_under_frozen_order(spark):
    """Distribution drift degrades candidate VOLUME, never
    correctness (SCALE.md r11 staleness measurement): a batch full of
    tokens UNSEEN in the frozen freq table (_df = 0, sorted first —
    maximally 'stale' placement) must still produce exactly the
    pooled-cross pairs, because the prefix lemma holds for ANY total
    order applied to both sides."""
    hist_rows = [(i, _doc(list(range(i % 4, 12 + i % 4)))) for i in range(8)]
    drift = " ".join(f"drift{j}" for j in range(8))
    batch_rows = [
        # near-dup of hist doc 0 with a drift tail: a REAL cross pair
        (101, _doc(list(range(0, 12))) + " drift0 drift1"),
        # pure-drift doc: every token unseen at freeze time, no pairs
        (102, drift),
        # another pure-drift doc sharing the drift text — a batch-
        # internal dup is NOT the incremental contract (batch × store
        # only), so it must not appear
        (103, drift),
    ]
    hist = spark.createDataFrame(hist_rows, ["doc_id", "text"])
    batch = spark.createDataFrame(batch_rows, ["doc_id", "text"])
    freq = setsim.token_freq_table(hist)  # frozen BEFORE the drift
    store = setsim.prefix_store(hist, freq, threshold=0.5)
    inc = {
        (r["new_id"], r["stored_id"], r["jaccard"])
        for r in setsim.incremental_ppjoin_pairs(
            batch, hist, store, freq, threshold=0.5
        ).collect()
    }
    pooled = {
        (r["id_l"], r["id_r"], r["jaccard"])
        for r in setsim.ppjoin_cross(batch, hist, threshold=0.5).collect()
    }
    assert inc == pooled
    assert any(a == 101 for a, _, _ in inc)  # the planted cross pair
    assert not any(a == 102 or a == 103 for a, b, _ in inc if b >= 100)


# --- exact containment join (r11) --------------------------------------------


def _brute_containment(spark, docs, threshold, shingle_k=3):
    sh = {
        r["doc_id"]: frozenset(r["_sh"])
        for r in with_shingles(docs, "text", shingle_k, "_sh").collect()
    }
    t_pm = int(round(threshold * 1000))
    out = set()
    for a in sh:
        for b in sh:
            if a == b or not sh[a]:
                continue
            i = len(sh[a] & sh[b])
            if 1000 * i >= t_pm * len(sh[a]):
                out.add((a, b, round(i / max(len(sh[a]), 1), 6)))
    return out


@pytest.mark.parametrize("threshold", [0.5, 0.8, 1.0])
def test_containment_matches_brute_force(spark, threshold):
    rows = [
        (0, _doc(list(range(0, 20)))),           # big doc
        (1, _doc(list(range(0, 6)))),            # fully inside 0
        (2, _doc(list(range(3, 9)))),            # inside 0, offset
        (3, _doc(list(range(18, 30)))),          # partial overlap with 0
        (4, _doc(list(range(30, 36)))),          # disjoint
        (5, _doc(list(range(0, 20)))),           # identical to 0 (mutual)
        (6, "w0 w1"),                            # short doc (one shingle)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["contained_id"], r["container_id"], r["containment"])
        for r in setsim.containment_pairs(
            docs, threshold=threshold
        ).collect()
    }
    want = _brute_containment(spark, docs, threshold)
    assert got == want, (
        f"t={threshold}: missing={sorted(want - got)[:5]} "
        f"extra={sorted(got - want)[:5]}"
    )


def test_containment_is_asymmetric_and_jaccard_blind_spot(spark):
    """The motivating case: a small doc fully quoted in a big one has
    containment 1.0 but Jaccard far below any dedup threshold."""
    rows = [
        (0, _doc(list(range(0, 30)))),
        (1, _doc(list(range(5, 11)))),   # 6 words inside 0's 30
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["contained_id"], r["container_id"]): r["containment"]
        for r in setsim.containment_pairs(docs, threshold=0.9).collect()
    }
    assert got == {(1, 0): 1.0}  # 1 inside 0; 0 NOT inside 1
    # the same pair is invisible to symmetric Jaccard at any sane t
    jac = setsim.ppjoin_pairs(docs, threshold=0.3).collect()
    assert not jac


def test_containment_plan_no_cross_product(spark):
    docs = spark.createDataFrame(
        [(i, _doc(list(range(i, i + 8)))) for i in range(6)],
        ["doc_id", "text"],
    )
    plan = (
        setsim.containment_pairs(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_containment_cross_matches_brute_force(spark):
    """Cross-corpus containment (eval ⊂ train decontamination): every
    (eval, train) pair at containment >= t, ground truth all-pairs."""
    train_rows = [
        (0, _doc(list(range(0, 25)))),
        (1, _doc(list(range(25, 40)))),
        (2, _doc(list(range(5, 12)))),
    ]
    eval_rows = [
        (100, _doc(list(range(3, 9)))),    # fully inside train 0
        (101, _doc(list(range(30, 36)))),  # fully inside train 1
        (102, "w0 w1"),                    # short; shingle in 0's text?
        (103, _doc(list(range(36, 40)) + [0, 1])),  # partial overlap
    ]
    train = spark.createDataFrame(train_rows, ["doc_id", "text"])
    ev = spark.createDataFrame(eval_rows, ["doc_id", "text"])
    for t in (0.5, 0.9):
        got = {
            (r["contained_id"], r["container_id"], r["containment"])
            for r in setsim.containment_cross(
                ev, train, threshold=t
            ).collect()
        }
        sh_e = {
            r["doc_id"]: frozenset(r["_sh"])
            for r in with_shingles(ev, "text", 3, "_sh").collect()
        }
        sh_t = {
            r["doc_id"]: frozenset(r["_sh"])
            for r in with_shingles(train, "text", 3, "_sh").collect()
        }
        t_pm = int(round(t * 1000))
        want = {
            (a, b, round(len(sh_e[a] & sh_t[b]) / max(len(sh_e[a]), 1), 6))
            for a in sh_e for b in sh_t
            if sh_e[a]
            and 1000 * len(sh_e[a] & sh_t[b]) >= t_pm * len(sh_e[a])
        }
        assert got == want, (t, sorted(want - got)[:4], sorted(got - want)[:4])
    # the motivating pairs are present at 0.9
    got09 = {
        (r["contained_id"], r["container_id"])
        for r in setsim.containment_cross(ev, train, threshold=0.9).collect()
    }
    assert (100, 0) in got09 and (101, 1) in got09


def test_self_probe_baseline_matches_disjoint_unit(spark):
    """ADVICE r12 adjudication: the self-probe baseline's ``!=``
    filter already records the monitoring unit. On n identical docs,
    a self-probed doc equi-joins its n−1 partners once each — the
    same fan-out a NEW doc sees against an n-doc history — while the
    proposed ``new_id < stored_id`` filter would halve the per-doc
    rate (it divides unordered pairs by ALL n probe docs), making
    the monitor trip at factor/2. Measured on sf0.01 documents
    (even/odd split): self-probe ``!=`` 0.0480/doc == disjoint-batch
    0.0480/doc; ``<`` variant 0.0240/doc."""
    text = _doc(list(range(12)))
    docs = spark.createDataFrame(
        [(i, text) for i in range(20)], ["doc_id", "text"]
    )
    a = docs.filter(F.col("doc_id") % 2 == 0)  # 10 store docs
    b = docs.filter(F.col("doc_id") % 2 == 1)  # 10 disjoint probes
    freq = setsim.token_freq_table(a)
    store = setsim.prefix_store(a, freq, threshold=0.5)

    self_rate = setsim.measure_cand_per_doc(a, store, freq, threshold=0.5)
    assert self_rate == 9.0  # each doc joins its n-1 partners once

    cand_b = setsim.incremental_ppjoin_candidates(
        b, store, freq, "text", "doc_id", 0.5, 3
    )
    assert cand_b.count() / 10 == 10.0  # new doc vs n-doc history

    cand_self = setsim.incremental_ppjoin_candidates(
        a, store, freq, "text", "doc_id", 0.5, 3
    )
    lt_rate = (
        cand_self.filter(F.col("new_id") < F.col("stored_id")).count() / 10
    )
    assert lt_rate == 4.5  # the proposed filter halves the unit


def test_staleness_monitor_trips_on_recurring_drift_only(spark, tmp_path):
    """The frozen-order staleness monitor (VERDICT r11 #1): recurring
    drifted tokens — frozen-rare, so in every prefix on both sides —
    blow candidate volume past factor × the creation baseline by the
    SECOND drifted batch (SCALE.md r11 measured ×13.9 at that point);
    distinct-vocab drift (each batch its own new tokens) never
    accumulates matching store rows and must NOT trip."""
    hist_rows = [
        (i, _doc(list(range(3 * i % 30, 3 * i % 30 + 10)))) for i in range(12)
    ]
    hist = spark.createDataFrame(hist_rows, ["doc_id", "text"])
    freq = setsim.token_freq_table(hist)
    store_dir = str(tmp_path / "ps")
    setsim.prefix_store(hist, freq, threshold=0.5).write.parquet(store_dir)
    store = setsim.load_prefix_store(spark, store_dir, threshold=0.5)
    baseline = setsim.measure_cand_per_doc(
        hist, store, freq, threshold=0.5
    )
    setsim.write_prefix_store_params(
        spark, store_dir, threshold=0.5, baseline_cand_per_doc=baseline
    )
    assert _baseline(spark, store_dir, sidecar.PREFIX) == baseline
    assert baseline > 0  # fixture has some real overlap

    drift = " ".join(f"driftword{j}" for j in range(8))

    def batch(ids, extra):
        rows = [
            (i, _doc(list(range(7 * i % 25, 7 * i % 25 + 9))) + " " + extra)
            for i in ids
        ]
        return spark.createDataFrame(rows, ["doc_id", "text"])

    # --- recurring drift: same sentence both batches ---
    b1 = batch(range(100, 108), drift)
    m = []
    setsim.incremental_ppjoin_pairs(
        b1, hist, store, freq, threshold=0.5,
        metrics=m, baseline_cand_per_doc=baseline,
    ).collect()
    # ingest batch 1 under the frozen order
    setsim.prefix_store(b1, freq, threshold=0.5).write.mode(
        "append"
    ).parquet(store_dir)
    store2 = setsim.load_prefix_store(spark, store_dir, threshold=0.5)
    b2 = batch(range(200, 208), drift)
    setsim.incremental_ppjoin_pairs(
        b2, hist.unionByName(b1), store2, freq, threshold=0.5,
        metrics=m, baseline_cand_per_doc=baseline,
    ).collect()
    assert [r["stale"] for r in m] == [False, True], m
    assert m[1]["staleness_ratio"] > m[0]["staleness_ratio"]

    # --- distinct-vocab drift: each batch its OWN new tokens ---
    store_dir2 = str(tmp_path / "ps2")
    setsim.prefix_store(hist, freq, threshold=0.5).write.parquet(store_dir2)
    d1 = batch(range(100, 108), " ".join(f"aa{j}" for j in range(8)))
    d2 = batch(range(200, 208), " ".join(f"bb{j}" for j in range(8)))
    m2 = []
    sd = setsim.load_prefix_store(spark, store_dir2, threshold=0.5)
    setsim.incremental_ppjoin_pairs(
        d1, hist, sd, freq, threshold=0.5,
        metrics=m2, baseline_cand_per_doc=baseline,
    ).collect()
    setsim.prefix_store(d1, freq, threshold=0.5).write.mode(
        "append"
    ).parquet(store_dir2)
    sd2 = setsim.load_prefix_store(spark, store_dir2, threshold=0.5)
    setsim.incremental_ppjoin_pairs(
        d2, hist.unionByName(d1), sd2, freq, threshold=0.5,
        metrics=m2, baseline_cand_per_doc=baseline,
    ).collect()
    assert [r["stale"] for r in m2] == [False, False], m2


# ---- store-backed incremental containment ----------------------------------


def test_incremental_containment_matches_pooled_cross(spark):
    """incremental_containment_pairs over a persisted-shape store
    (freq frozen on the CONTAINER corpus alone, not the union the
    pooled path uses) equals containment_cross(batch, containers)
    exactly — pairs AND containment values; the prefix pigeonhole is
    order-independent."""
    rows = (
        [(i, _doc(list(range(i % 4, 12 + i % 4)))) for i in range(16)]
        # 100 is fully contained in 101's superset
        + [(100, _doc(list(range(10)))), (101, _doc(list(range(20))))]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    containers = docs.where(F.col("doc_id") % 2 != 0)
    batch = docs.where(F.col("doc_id") % 2 == 0)
    sh = setsim.with_shingles(containers, "text", 3, "_sh", keep=("doc_id",))
    freq = (
        sh.select("doc_id", F.explode("_sh").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    store = setsim.containment_store(containers, freq)
    for t in (0.5, 0.8):  # one store serves every threshold
        inc = {
            (r["contained_id"], r["container_id"], r["containment"])
            for r in setsim.incremental_containment_pairs(
                batch, containers, store, freq, threshold=t
            ).collect()
        }
        pooled = {
            (r["contained_id"], r["container_id"], r["containment"])
            for r in setsim.containment_cross(
                batch, containers, threshold=t
            ).collect()
        }
        assert inc == pooled, f"t={t}"
        assert inc  # fixture produces pairs


def test_incremental_containment_two_batch_append_and_sidecar(
    spark, tmp_path
):
    """Append a container batch's full-token rows (FROZEN order) to
    the parquet store: a later probe finds pairs against original AND
    appended containers, equal to the pooled cross on the union.
    Sidecar: shingle-width mismatch raises; baseline round-trips."""
    rows = [(i, _doc(list(range(i % 3, 14 + i % 3)))) for i in range(18)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    c0 = docs.where(F.col("doc_id") % 3 == 0)
    c1 = docs.where(F.col("doc_id") % 3 == 1)
    probe = docs.where(F.col("doc_id") % 3 == 2)
    store_dir = str(tmp_path / "cstore")
    freq = setsim.token_freq_table(c0)
    setsim.containment_store(c0, freq).write.parquet(store_dir)
    sidecar.write(
        spark, store_dir, sidecar.CONTAINMENT, shingle_k=3,
        baseline_cand_per_doc=2.5,
    )
    setsim.containment_store(c1, freq).write.mode("append").parquet(
        store_dir
    )
    store = sidecar.load(spark, store_dir, sidecar.CONTAINMENT, shingle_k=3)
    containers = c0.unionByName(c1)
    m: list = []
    inc = {
        (r["contained_id"], r["container_id"], r["containment"])
        for r in setsim.incremental_containment_pairs(
            probe, containers, store, freq, threshold=0.6,
            metrics=m,
            baseline_cand_per_doc=_baseline(
                spark, store_dir, sidecar.CONTAINMENT
            ),
        ).collect()
    }
    pooled = {
        (r["contained_id"], r["container_id"], r["containment"])
        for r in setsim.containment_cross(
            probe, containers, threshold=0.6
        ).collect()
    }
    assert inc == pooled and inc
    assert len(m) == 1 and m[0]["baseline_cand_per_doc"] == 2.5
    assert m[0]["staleness_ratio"] is not None
    assert _baseline(spark, store_dir, sidecar.CONTAINMENT) == 2.5
    with pytest.raises(ValueError, match="containment store"):
        sidecar.load(spark, store_dir, sidecar.CONTAINMENT, shingle_k=5)


def test_incremental_containment_drifted_probe_still_exact(spark):
    """Probe docs carrying tokens UNSEEN at freeze time (drift): the
    frozen order puts them first in the probe prefix, they match no
    store row, and the result still equals the pooled cross — the
    pigeonhole needs no order agreement, only that the store indexes
    every container token."""
    rows = [(i, _doc(list(range(i % 4, 12 + i % 4)))) for i in range(12)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    containers = docs.where(F.col("doc_id") % 2 != 0)
    probe = docs.where(F.col("doc_id") % 2 == 0).withColumn(
        "text", F.concat_ws(" ", F.col("text"), F.lit("zz1 zz2 zz3 zz4"))
    )
    freq = setsim.token_freq_table(containers)
    store = setsim.containment_store(containers, freq)
    inc = {
        (r["contained_id"], r["container_id"], r["containment"])
        for r in setsim.incremental_containment_pairs(
            probe, containers, store, freq, threshold=0.5
        ).collect()
    }
    pooled = {
        (r["contained_id"], r["container_id"], r["containment"])
        for r in setsim.containment_cross(
            probe, containers, threshold=0.5
        ).collect()
    }
    assert inc == pooled


def test_incremental_probes_never_emit_self_pairs(spark):
    """Replay safety across the whole incremental family (the r11
    semantic-loop lesson): probing a batch against a store containing
    the batch's OWN rows must not emit (x, x) pairs — from either the
    Jaccard or the containment candidate stage."""
    rows = [(i, _doc(list(range(i % 3, 12 + i % 3)))) for i in range(8)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    freq = setsim.token_freq_table(docs)
    pstore = setsim.prefix_store(docs, freq, threshold=0.5)
    jac = setsim.incremental_ppjoin_pairs(
        docs, docs, pstore, freq, threshold=0.5
    ).collect()
    assert jac and all(r["new_id"] != r["stored_id"] for r in jac)
    cstore = setsim.containment_store(docs, freq)
    cont = setsim.incremental_containment_pairs(
        docs, docs, cstore, freq, threshold=0.6
    ).collect()
    assert cont and all(
        r["contained_id"] != r["container_id"] for r in cont
    )


def test_rebuild_prefix_store_restores_baseline_after_drift(spark, tmp_path):
    """The remediation closes the loop (docs/MONITORING.md): a store
    degraded by recurring-drift ingest flags stale; rebuild_prefix_
    store recomputes order + index + baseline and publishes
    atomically; the SAME batch probed against the rebuilt store is
    fresh again, and pairs stay exact throughout."""
    hist_rows = [
        (i, _doc(list(range(3 * i % 30, 3 * i % 30 + 10)))) for i in range(12)
    ]
    hist = spark.createDataFrame(hist_rows, ["doc_id", "text"])
    store_dir = str(tmp_path / "ps")
    freq_dir = str(tmp_path / "freq")
    freq = setsim.token_freq_table(hist)
    setsim.prefix_store(hist, freq, threshold=0.5).write.parquet(store_dir)
    freq.write.parquet(freq_dir)
    base0 = setsim.measure_cand_per_doc(
        hist, setsim.load_prefix_store(spark, store_dir, 0.5), freq,
        threshold=0.5,
    )
    setsim.write_prefix_store_params(
        spark, store_dir, 0.5, baseline_cand_per_doc=base0
    )

    drift = " ".join(f"driftword{j}" for j in range(8))

    def batch(ids):
        return spark.createDataFrame(
            [
                (i, _doc(list(range(7 * i % 25, 7 * i % 25 + 9)))
                 + " " + drift)
                for i in ids
            ],
            ["doc_id", "text"],
        )

    b1, b2 = batch(range(100, 108)), batch(range(200, 208))
    setsim.prefix_store(b1, freq, threshold=0.5).write.mode(
        "append"
    ).parquet(store_dir)
    m: list = []
    corpus = hist.unionByName(b1)
    pairs_stale = {
        tuple(r)
        for r in setsim.incremental_ppjoin_pairs(
            b2, corpus, setsim.load_prefix_store(spark, store_dir, 0.5),
            spark.read.parquet(freq_dir), threshold=0.5,
            metrics=m, baseline_cand_per_doc=base0,
        ).collect()
    }
    assert m[0]["stale"] is True  # drift degraded the store

    # remediation: one call, atomic publish, fresh order + baseline
    info = setsim.rebuild_prefix_store(
        spark, corpus, store_dir, freq_dir=freq_dir, threshold=0.5
    )
    assert info["rows"] == spark.read.parquet(store_dir).count()
    new_base = _baseline(spark, store_dir, sidecar.PREFIX)
    assert new_base == info["baseline_cand_per_doc"]

    m2: list = []
    pairs_fresh = {
        tuple(r)
        for r in setsim.incremental_ppjoin_pairs(
            b2, corpus, setsim.load_prefix_store(spark, store_dir, 0.5),
            spark.read.parquet(freq_dir), threshold=0.5,
            metrics=m2, baseline_cand_per_doc=new_base,
        ).collect()
    }
    assert m2[0]["stale"] is False  # fresh order + fresh baseline
    assert m2[0]["n_candidates"] < m[0]["n_candidates"]  # real cost drop
    assert pairs_fresh == pairs_stale  # correctness order-independent


def _record_swapped_sidecar(monkeypatch, store_dir, family):
    """Wrap ``fsutil.rename`` to record the ``family`` sidecar that sits
    in the staged directory at the moment it is renamed over
    ``store_dir``."""
    from cybersecurity_miw_spark import fsutil

    swapped_in = []
    real_rename = fsutil.rename

    def rename(spark_, src, dst):
        if dst.rstrip("/") == store_dir.rstrip("/"):
            swapped_in.append(sidecar.read(spark_, src, family))
        real_rename(spark_, src, dst)

    monkeypatch.setattr(fsutil, "rename", rename)
    return swapped_in


def test_rebuild_prefix_store_stages_sidecar_inside_the_swap(
    spark, tmp_path, monkeypatch
):
    """The rebuilt store's sidecar, baseline included, must already sit
    in the staged directory when it is renamed over the live one: a
    sidecar written after the swap lets a concurrent load_prefix_store
    take the new rows for a legacy store."""
    rows = [(i, _doc(list(range(i % 5, 10 + i % 5)))) for i in range(8)]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    store_dir = str(tmp_path / "ps")
    freq = setsim.token_freq_table(corpus)
    setsim.prefix_store(corpus, freq, threshold=0.5).write.parquet(store_dir)
    setsim.write_prefix_store_params(
        spark, store_dir, 0.5, baseline_cand_per_doc=99.0
    )
    swapped_in = _record_swapped_sidecar(monkeypatch, store_dir, sidecar.PREFIX)
    info = setsim.rebuild_prefix_store(
        spark, corpus, store_dir, freq_dir=str(tmp_path / "freq"),
        threshold=0.5,
    )
    assert 0 < info["baseline_cand_per_doc"] < 99.0
    want = {
        **setsim._prefix_family(0.5, 3),
        "baseline_cand_per_doc": info["baseline_cand_per_doc"],
    }
    assert swapped_in == [want]
    assert sidecar.read(spark, store_dir, sidecar.PREFIX) == want


def test_rebuild_containment_store_stages_sidecar_inside_the_swap(
    spark, tmp_path, monkeypatch
):
    """The containment twin of the prefix-store swap test above."""
    rows = [(i, _doc(list(range(i % 3, 14 + i % 3)))) for i in range(12)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    containers = docs.where(F.col("doc_id") % 2 != 0)
    probe = docs.where(F.col("doc_id") % 2 == 0)
    store_dir = str(tmp_path / "cs")
    freq0 = setsim.token_freq_table(containers)
    setsim.containment_store(containers, freq0).write.parquet(store_dir)
    sidecar.write(
        spark, store_dir, sidecar.CONTAINMENT, shingle_k=3,
        baseline_cand_per_doc=99.0,
    )
    swapped_in = _record_swapped_sidecar(
        monkeypatch, store_dir, sidecar.CONTAINMENT
    )
    info = setsim.rebuild_containment_store(
        spark, containers, store_dir,
        baseline_probe=probe, baseline_threshold=0.6,
    )
    assert 0 < info["baseline_cand_per_doc"] < 99.0
    want = {
        "shingle_k": 3,
        "baseline_cand_per_doc": info["baseline_cand_per_doc"],
    }
    assert swapped_in == [want]
    assert sidecar.read(spark, store_dir, sidecar.CONTAINMENT) == want


def test_rebuild_containment_store_swaps_and_rebaselines(spark, tmp_path):
    rows = [(i, _doc(list(range(i % 3, 14 + i % 3)))) for i in range(12)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    containers = docs.where(F.col("doc_id") % 2 != 0)
    probe = docs.where(F.col("doc_id") % 2 == 0)
    store_dir = str(tmp_path / "cs")
    freq0 = setsim.token_freq_table(containers)
    setsim.containment_store(containers, freq0).write.parquet(store_dir)
    sidecar.write(spark, store_dir, sidecar.CONTAINMENT, shingle_k=3)
    info = setsim.rebuild_containment_store(
        spark, containers, store_dir,
        baseline_probe=probe, baseline_threshold=0.6,
    )
    assert info["baseline_cand_per_doc"] and info["rows"] > 0
    assert _baseline(
        spark, store_dir, sidecar.CONTAINMENT
    ) == info["baseline_cand_per_doc"]
    # rebuilt store still produces the pooled-exact result
    inc = {
        tuple(r)
        for r in setsim.incremental_containment_pairs(
            probe, containers,
            sidecar.load(spark, store_dir, sidecar.CONTAINMENT, shingle_k=3),
            setsim.token_freq_table(containers), threshold=0.6,
        ).collect()
    }
    pooled = {
        tuple(r)
        for r in setsim.containment_cross(
            probe, containers, threshold=0.6
        ).collect()
    }
    assert inc == pooled and inc
