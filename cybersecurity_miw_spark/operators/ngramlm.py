"""Statistical n-gram language-model perplexity filter — the CCNet
selection tool (Wenzek et al. 2020, arXiv:1911.00359 §4.3): train a
bigram LM with stupid backoff (Brants et al. 2007 §4) on a TARGET
corpus (the high-quality exemplar — CCNet uses Wikipedia), score
every raw document by its per-token negative log-likelihood under
that frozen model, and bucket the corpus into head / middle / tail
by score terciles. LLaMA (Touvron et al. 2023 §2) reuses the recipe
verbatim (keep head+middle, drop tail); this module is that pipeline
re-expressed Spark-first, next to the engine's other model-based
selectors (DSIR in operators/dsir.py, the trained classifier in
operators/qualityclf.py).

It differs from :func:`corpus_filters.bigram_lm_scores` — the
self-trained mean-probability proxy — on exactly the published axes:
the model here is trained on a SEPARATE target corpus and FROZEN
(persisted, drift-monitored, rebuildable), the score is a true
log-likelihood with backoff for unseen bigrams rather than add-one
over corpus vocab, and the output is the CCNet head/middle/tail
bucketing the downstream mixing recipes consume.

Everything is INTEGER micro-nats end to end (the dsir.py / langid.py
convention): every log-probability is ``floor(1e6·ln(ratio of
integer counts) + 0.5)`` — identical doubles from identical integer
counts in any IEEE engine, floored before any aggregation, so scores
are LONG sums that partition order cannot change and the DuckDB twin
reproduces bit-exactly.

Model shape (stupid backoff, α = 0.4 per Brants et al. §4):

* bigram rows ``(w1, w2)``: ``lp_micro = ⌊1e6·ln(c2/c1)⌋`` — the
  MLE conditional, kept where ``c2 ≥ min_count`` and both words are
  in-vocab;
* unigram rows ``(NULL, w)``: ``lp_micro = ⌊1e6·ln((c1+1)/(N+V))⌋``
  — the RAW add-one-smoothed unigram, kept where ``c1 ≥ min_count``.
  The backoff penalty ``ln α`` is NOT baked in: stupid backoff
  (Brants et al. §4) applies α only when backing off FROM a bigram,
  so the scorer adds ``alpha_ln_micro`` on that path alone — a
  document's FIRST token (no left context) scores its raw unigram
  unpenalized;
* OOV scalar (params sidecar): ``lp_oov_micro = ⌊1e6·(ln α +
  ln(1/(N+V)))⌋`` — the floor an out-of-vocabulary token scores on
  the backoff path (first-token OOV scores it WITHOUT the α term:
  ``lp_oov_micro − alpha_ln_micro``).

Scoring is two left joins of the document's token-pair explode
against the model projections (bigram hit, else unigram backoff
+ ln α, else the OOV literal) and one LONG sum per document — the model side
is target-vocab-bounded, small relative to a 100 TB raw corpus, and
AQE broadcast-joins it when it fits. ``nlp_micro_tok`` (per-token
negative log-likelihood, micro-nats) is the CCNet "perplexity"
ordering: ppl = exp(nlp), monotone, so thresholds published as
perplexities map to ``ln``-space cuts without ever leaving integer
arithmetic.

Store family (the dsir.py standard): :func:`write_lm_model`
persists the model table + ``_lm_params.json`` sidecar atomically;
:func:`score_with_lm_model` is the frozen-model pass;
:func:`lm_drift_report` JS-monitors the incoming unigram
distribution against the model's stored counts;
:func:`rebuild_lm_model` is the one-call remediation.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cybersecurity_miw_spark import sidecar

MICRO = 1_000_000
DEFAULT_ALPHA = 0.4  # Brants et al. 2007 §4's stupid-backoff weight
DEFAULT_MIN_COUNT = 1

# CCNet cuts head/middle/tail at the 33rd/67th percentile of the
# target-domain score distribution; these module defaults are only
# the documented fallback — compute corpus-fitted cuts with
# lm_bucket_cuts (the published procedure).
DEFAULT_BUCKET_FRACS = (1.0 / 3.0, 2.0 / 3.0)


def _words(text) -> F.Column:
    """Lowercased whitespace tokens, empties dropped — the exact
    dsir/_DSIR_CTES tokenizer so LM grams and DSIR grams agree."""
    return F.filter(
        F.split(F.lower(F.trim(F.coalesce(text, F.lit("")))), r"\s+"),
        lambda x: F.length(x) > 0,
    )


def _ln_micro(num: F.Column, den: F.Column) -> F.Column:
    """⌊1e6·ln(num/den)+0.5⌋ over integer-count columns — identical
    doubles from identical integers (the dsir _bucket_model
    convention), floored to a LONG before any sum."""
    return F.floor(
        F.log(num.cast("double") / den.cast("double"))
        * F.lit(float(MICRO))
        + F.lit(0.5)
    ).cast("long")


def train_ngram_lm(
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = DEFAULT_MIN_COUNT,
    alpha: float = DEFAULT_ALPHA,
) -> tuple[DataFrame, dict]:
    """Train the stupid-backoff bigram model on ``target``. Returns
    ``(model_df, params)``: model rows are ``(w1, w2, lp_micro, c)``
    with ``w1 IS NULL`` marking unigram/backoff rows (``c`` carries
    the raw count — the drift monitor's reference distribution), and
    ``params`` the sidecar dict (order, alpha, min_count, n_tokens,
    vocab, lp_oov_micro, alpha_ln_micro).

    Plan: one token explode staged (it feeds the unigram count, the
    bigram count and the totals), two uniform-word-key count
    aggregations, one c1-join for the bigram conditionals. Driver
    traffic is TWO scalars (N tokens, V vocab — the IVF-centroid
    bounded-traffic precedent); the model itself never collects.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    from cybersecurity_miw_spark.operators.dedup import staged

    toks = staged(
        target.select(_words(F.col(text_col)).alias("_w")).filter(
            F.size("_w") > 0
        )
    )
    uni = staged(
        toks.select(F.explode("_w").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
        .filter(F.col("c1") >= min_count)
    )
    # N counts ALL tokens (pre-pruning — the KenLM convention);
    # V counts the KEPT vocab. Two scalars down to the driver.
    totals = toks.select(
        F.sum(F.size("_w")).alias("n"),
    ).first()
    n_tokens = int(totals["n"] or 0)
    vocab = uni.count()
    if n_tokens == 0 or vocab == 0:
        raise ValueError(
            "train_ngram_lm: target corpus has no tokens surviving "
            f"min_count={min_count} — an empty model scores every "
            "document identically, which is never what a caller wants"
        )
    alpha_ln_micro = int(math.floor(math.log(alpha) * MICRO + 0.5))
    lp_oov_micro = alpha_ln_micro + int(
        math.floor(math.log(1.0 / (n_tokens + vocab)) * MICRO + 0.5)
    )

    nv = F.lit(n_tokens + vocab)
    # RAW unigram log-prob — ln(α) is applied at SCORING time on the
    # backoff path only (Brants et al. §4; first tokens and the
    # unigram distribution itself are unpenalized)
    unigrams = uni.select(
        F.lit(None).cast("string").alias("w1"),
        F.col("w").alias("w2"),
        _ln_micro(F.col("c1") + 1, nv).alias("lp_micro"),
        F.col("c1").cast("long").alias("c"),
    )

    nw = F.size("_w")
    big = (
        toks.filter(nw >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), nw - 1),
                    lambda i: F.struct(
                        F.element_at("_w", i).alias("w1"),
                        F.element_at("_w", i + 1).alias("w2"),
                    ),
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
        .filter(F.col("c2") >= min_count)
    )
    # conditional on the KEPT vocab only: a pruned w1/w2 falls back
    # to the unigram/OOV path at scoring time instead of riding a
    # conditional whose denominator the model no longer stores
    bigrams = (
        big.join(uni.select(F.col("w").alias("w1"), "c1"), "w1")
        .join(uni.select(F.col("w").alias("w2")), "w2")
        .select(
            "w1",
            "w2",
            _ln_micro(F.col("c2"), F.col("c1")).alias("lp_micro"),
            F.col("c2").cast("long").alias("c"),
        )
    )
    params = {
        "order": 2,
        "alpha": float(alpha),
        "min_count": int(min_count),
        "n_tokens": n_tokens,
        "vocab": int(vocab),
        "alpha_ln_micro": alpha_ln_micro,
        "lp_oov_micro": int(lp_oov_micro),
        # format marker: unigram rows carry RAW log-probs (α applied
        # at scoring time on the backoff path only) — loaders reject
        # pre-r18 stores whose unigrams baked the α in
        "unigram_lp": "raw",
    }
    return unigrams.unionByName(bigrams), params


def lm_score(
    batch: DataFrame,
    model: DataFrame,
    lp_oov_micro: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    alpha_ln_micro: int | None = None,
) -> DataFrame:
    """Score each document under the frozen model: one row per input
    row with ``n_lm_tokens`` (long), ``lp_micro_sum`` (long — Σ token
    log-likelihoods, micro-nats, ≤ 0) and ``nlp_micro_tok`` (long —
    per-token NEGATIVE log-likelihood, the CCNet perplexity ordering:
    smaller = more fluent under the target domain).

    Token i ≥ 2 scores the bigram conditional when the model has it,
    else backoff unigram + ``alpha_ln_micro`` (stupid backoff applies
    α exactly when backing off FROM a bigram — Brants et al. §4),
    else the OOV floor; token 1 has no left context and scores its
    RAW unigram unpenalized (else the α-free OOV floor,
    ``lp_oov_micro − alpha_ln_micro``). ``alpha_ln_micro`` is
    REQUIRED — pass ``params["alpha_ln_micro"]`` from the train/load
    sidecar; the model stores raw unigram log-probs, so omitting it
    cannot be defaulted safely. Tokenless documents score the OOV
    floor per convention (``n_lm_tokens = 0``, ``nlp_micro_tok =
    -lp_oov_micro``) so they sort into the tail instead of silently
    vanishing.

    Plan: one pair explode over the batch; two left joins against the
    target-vocab-bounded model projections (AQE broadcasts them when
    they fit); one LONG-sum per document; one join back to the input
    rows. Nothing collects.
    """
    if alpha_ln_micro is None:
        raise ValueError(
            "lm_score requires alpha_ln_micro (the train_ngram_lm "
            "params['alpha_ln_micro'] backoff penalty) — the model "
            "stores RAW unigram log-probs and α applies only on the "
            "bigram→unigram backoff path"
        )
    alpha_ln_micro = int(alpha_ln_micro)
    pairs = (
        batch.select(id_col, _words(F.col(text_col)).alias("_w"))
        # tokenless docs produce no pairs (ANSI element_at would
        # throw on the empty array) — the left join below restores
        # them at the OOV floor
        .filter(F.size("_w") >= 1)
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_w")),
                    lambda i: F.struct(
                        F.when(i >= 2, F.element_at("_w", i - 1)).alias(
                            "w1"
                        ),
                        F.element_at("_w", i).alias("w2"),
                    ),
                )
            ).alias("p"),
        )
        .select(
            id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
        )
    )
    bi = model.filter(F.col("w1").isNotNull()).select(
        "w1", "w2", F.col("lp_micro").alias("_lp2")
    )
    un = model.filter(F.col("w1").isNull()).select(
        F.col("w2").alias("_uw"), F.col("lp_micro").alias("_lp1")
    )
    scored = (
        pairs.join(bi, ["w1", "w2"], "left")
        .join(un, pairs["w2"] == un["_uw"], "left")
        .select(
            id_col,
            # first token (w1 NULL): raw unigram, α-free OOV floor;
            # later tokens: bigram, else unigram + ln α, else OOV
            F.when(
                F.col("w1").isNull(),
                F.coalesce(
                    "_lp1",
                    F.lit(int(lp_oov_micro) - alpha_ln_micro),
                ),
            )
            .otherwise(
                F.coalesce(
                    "_lp2",
                    F.col("_lp1") + F.lit(alpha_ln_micro),
                    F.lit(int(lp_oov_micro)),
                )
            )
            .cast("long")
            .alias("_lp"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_lm_tokens"),
            F.sum("_lp").alias("lp_micro_sum"),
        )
        .select(
            id_col,
            "n_lm_tokens",
            "lp_micro_sum",
            F.expr("div(-lp_micro_sum, n_lm_tokens)").alias(
                "nlp_micro_tok"
            ),
        )
    )
    return batch.join(scored, id_col, "left").select(
        *batch.columns,
        F.coalesce("n_lm_tokens", F.lit(0)).cast("long").alias(
            "n_lm_tokens"
        ),
        F.coalesce("lp_micro_sum", F.lit(0)).cast("long").alias(
            "lp_micro_sum"
        ),
        F.coalesce("nlp_micro_tok", F.lit(-int(lp_oov_micro)))
        .cast("long")
        .alias("nlp_micro_tok"),
    )


def lm_ppl_buckets(
    scored: DataFrame,
    cut_head_micro: int,
    cut_tail_micro: int,
) -> DataFrame:
    """Add the CCNet §4.3 ``ppl_bucket`` column: ``head`` when
    ``nlp_micro_tok ≤ cut_head_micro``, ``middle`` up to
    ``cut_tail_micro``, else ``tail``. Cuts are micro-nat integers —
    fit them with :func:`lm_bucket_cuts` (the published tercile
    procedure) or pin them from a prior run. Pure row expression."""
    if cut_head_micro > cut_tail_micro:
        raise ValueError(
            f"cut_head_micro={cut_head_micro} > cut_tail_micro="
            f"{cut_tail_micro} — the middle bucket would be negative"
        )
    n = F.col("nlp_micro_tok")
    return scored.withColumn(
        "ppl_bucket",
        F.when(n <= cut_head_micro, F.lit("head"))
        .when(n <= cut_tail_micro, F.lit("middle"))
        .otherwise(F.lit("tail")),
    )


def lm_bucket_cuts(
    scored: DataFrame,
    fracs: tuple[float, float] = DEFAULT_BUCKET_FRACS,
    grade_micro: int = 10_000,
) -> dict:
    """Fit the head/middle and middle/tail cuts from a scored
    corpus: quantize ``nlp_micro_tok`` to ``grade_micro`` grades
    (0.01-nat default — the clf_report grade discipline: never a
    corpus-wide exact-quantile sort), take the bounded per-grade
    count table, and pick for each fraction the smallest grade upper
    bound covering ≥ that share of documents. Returns
    ``{"cut_head_micro", "cut_tail_micro", "n_docs", "grade_micro"}``.

    The grade table is score-range-bounded (nlp ∈ [0, -lp_oov] —
    a few thousand grades at 0.01 nats), never corpus-sized, so the
    driver collect is model-bounded by construction."""
    if not (0.0 < fracs[0] <= fracs[1] < 1.0):
        raise ValueError(f"fracs must satisfy 0 < f1 <= f2 < 1: {fracs}")
    grades = (
        scored.select(
            F.expr(f"div(nlp_micro_tok, {int(grade_micro)})").alias("_g")
        )
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("_g")
        .collect()
    )
    total = sum(r["n"] for r in grades)
    if total == 0:
        raise ValueError("lm_bucket_cuts: no scored documents")
    cuts = []
    for frac in fracs:
        need = frac * total
        run = 0
        chosen = grades[-1]["_g"]
        for r in grades:
            run += r["n"]
            if run >= need:
                chosen = r["_g"]
                break
        # the grade's inclusive upper bound in micro-nats
        cuts.append((int(chosen) + 1) * int(grade_micro) - 1)
    return {
        "cut_head_micro": int(cuts[0]),
        "cut_tail_micro": int(cuts[1]),
        "n_docs": int(total),
        "grade_micro": int(grade_micro),
    }


def lm_bucket_report(scored_buckets: DataFrame) -> DataFrame:
    """The corpus card for a bucketed scoring pass: per ``ppl_bucket``
    — document count, LM-token sum, and the exact micro-nat mean
    per-token NLL (integer div of two longs). One uniform 3-key
    aggregation."""
    return (
        scored_buckets.groupBy("ppl_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_lm_tokens").alias("lm_tokens"),
            F.sum("nlp_micro_tok").alias("_s"),
        )
        .select(
            "ppl_bucket",
            "n_docs",
            "lm_tokens",
            F.expr("div(_s, n_docs)").alias("mean_nlp_micro"),
        )
    )


# ---------------------------------------------------------------------------
# store family — the dsir.py standard
# ---------------------------------------------------------------------------


def write_lm_model(
    target: DataFrame,
    model_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = DEFAULT_MIN_COUNT,
    alpha: float = DEFAULT_ALPHA,
) -> dict:
    """Train and persist: the ``(w1, w2, lp_micro, c)`` model table
    plus the ``sidecar.LM`` sidecar, published atomically
    (publish_table stages the sidecar inside the rename — the ADVICE
    r16 torn-read contract) so a concurrent scorer never pairs new
    rows with stale params. Returns the params dict."""
    from cybersecurity_miw_spark.sources.maintain import publish_table

    spark = target.sparkSession
    model, params = train_ngram_lm(
        target, text_col, id_col, min_count, alpha
    )
    publish_table(
        spark,
        model,
        model_dir,
        sidecar_texts=sidecar.staged(sidecar.LM, **params),
    )
    return params


def load_lm_model(
    spark: SparkSession,
    model_dir: str,
    order: int | None = 2,
) -> tuple[DataFrame, dict]:
    """Read a persisted model back as ``(model_df, params)``, raising
    on a missing sidecar or (when the caller pins ``order``) a family
    mismatch. The model stays DISTRIBUTED — target-vocab tables can
    be millions of rows; scoring joins them, never collects them."""
    params = sidecar.check(spark, model_dir, sidecar.LM, order=order)
    if params.get("unigram_lp") != "raw":
        raise ValueError(
            f"LM at {model_dir} predates the raw-unigram format "
            "(its unigram rows bake the ln α backoff penalty in, "
            "over-penalizing first tokens) — rebuild it with "
            "rebuild_lm_model / write_lm_model"
        )
    return spark.read.parquet(model_dir), params


def score_with_lm_model(
    batch: DataFrame,
    model_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Frozen-model scoring pass — the incremental twin of
    train-then-score: load the persisted model once, score the batch,
    never rescan the target corpus."""
    model, params = load_lm_model(batch.sparkSession, model_dir)
    return lm_score(
        batch, model, int(params["lp_oov_micro"]), text_col, id_col,
        alpha_ln_micro=int(params["alpha_ln_micro"]),
    )


LM_DRIFT_DEFAULT_MICRO_NATS = 100_000  # 0.1 nats of JS divergence
_DRIFT_BUCKETS = 1024


def lm_drift_report(
    batch: DataFrame,
    model_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_micro_nats: int = LM_DRIFT_DEFAULT_MICRO_NATS,
) -> dict:
    """Staleness monitor (the dsir_drift_report discipline): JS
    divergence in micro-nats between the batch's hashed UNIGRAM
    distribution and the model's stored unigram counts (both md5-
    bucketed to the same {b} buckets so the comparison is bounded
    regardless of vocab). A drifted feed means the frozen model's
    perplexities no longer rank the distribution they were fit
    against. Returns {{js_micro_nats, n_batch_tokens,
    threshold_micro_nats, stale}}.""".format(b=_DRIFT_BUCKETS)
    from cybersecurity_miw_spark.operators.dsir import hashed_ngram_counts

    spark = batch.sparkSession
    model, params = load_lm_model(spark, model_dir)
    bucket = F.pmod(
        F.conv(F.substring(F.md5("w2"), 1, 8), 16, 10).cast("long"),
        F.lit(_DRIFT_BUCKETS),
    ).cast("int")
    ref = (
        model.filter(F.col("w1").isNull())
        .select(bucket.alias("bucket"), "c")
        .groupBy("bucket")
        .agg(F.sum("c").alias("rc"))
    )
    prof = (
        hashed_ngram_counts(
            batch, text_col, id_col, _DRIFT_BUCKETS, bigrams=False
        )
        .groupBy("bucket")
        .agg(F.sum("cnt").cast("long").alias("bc"))
    )
    tot_b = prof.agg(F.sum("bc")).first()[0] or 0
    tot_r = model.filter(F.col("w1").isNull()).agg(
        F.sum("c")
    ).first()[0] or 0
    joined = ref.join(prof, "bucket", "full_outer").select(
        F.coalesce("rc", F.lit(0)).alias("rc"),
        F.coalesce("bc", F.lit(0)).alias("bc"),
    )
    # SIZE-PROPORTIONAL smoothing (not the flat +1 of the clf/dsir
    # monitors): a micro-batch is typically orders of magnitude
    # smaller than the stored reference, and flat pseudo-counts then
    # read the SCALE mismatch as divergence (measured: a 160-token
    # in-distribution batch vs a 1.9k-token reference scores ~89k
    # micro-nats of phantom JS under +1 — right at the 100k default,
    # and ~50k under integer-α proportional smoothing, which floors
    # at 1 for small batches). Exact fractional pseudo-mass — each
    # side adds λ·tot of smoothing spread over the buckets — makes
    # the smoothed distribution EXACTLY scale-invariant: a
    # same-shaped batch of any size scores 0 (measured).
    if tot_b == 0:
        return {
            "js_micro_nats": 0,
            "n_batch_tokens": 0,
            "threshold_micro_nats": int(threshold_micro_nats),
            "stale": False,
        }
    lam = 0.5
    p = (F.col("bc") + F.lit(tot_b * lam / _DRIFT_BUCKETS)) / F.lit(
        float(tot_b) * (1 + lam)
    )
    q = (F.col("rc") + F.lit(tot_r * lam / _DRIFT_BUCKETS)) / F.lit(
        float(tot_r) * (1 + lam)
    )
    m = (p + q) / 2
    term = 0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)
    term_u = F.floor(term * F.lit(float(MICRO)) + F.lit(0.5)).cast("long")
    js = joined.select(term_u.alias("_t")).agg(F.sum("_t")).first()[0] or 0
    return {
        "js_micro_nats": int(js),
        "n_batch_tokens": int(tot_b),
        "threshold_micro_nats": int(threshold_micro_nats),
        "stale": int(js) > int(threshold_micro_nats),
    }


def rebuild_lm_model(
    target: DataFrame,
    model_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """One-call remediation for a tripped drift monitor: retrain on
    the CURRENT target with the SAME recorded family (min_count,
    alpha from the sidecar) and publish atomically over the live dir
    — the store-family rebuild contract."""
    spark = target.sparkSession
    _, params = load_lm_model(spark, model_dir)
    return write_lm_model(
        target, model_dir, text_col, id_col,
        min_count=int(params["min_count"]), alpha=float(params["alpha"]),
    )
