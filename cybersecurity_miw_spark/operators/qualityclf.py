"""Trained quality classifier — the fastText-recipe selection tool
(VERDICT r15 missing #2): a linear classifier over hashed word
features trained to separate a TARGET corpus (high-quality exemplar,
e.g. curated reference text) from RAW web text, then used to score
and gate every document. This is the published GPT-3/LLaMA/CCNet
data-selection shape (Brown et al. 2020 Appendix A trains a logistic
classifier on hashed features of WebText-vs-CommonCrawl; CCNet and
LLaMA reuse the same recipe) re-expressed Spark-first, next to the
engine's other model-based selector (DSIR, operators/dsir.py).

Everything is INTEGER fixed-point (micro-units) end to end — not
just scoring but the TRAINING loop too:

* features: signed hashed word counts (the hashing trick,
  Weinberger et al. 2009 — the same md5 bucket+sign scheme as
  textstats.hashed_embedding), mean-pooled by integer division;
* the margin is an exact long (``floor(Σ cnt·w_micro / n_words) +
  bias_micro``); the sigmoid is one IEEE double of an exact long —
  bit-stable on every engine;
* residuals re-quantize to micro-units before the gradient sums, so
  every Spark-side aggregation is a LONG sum — partition order
  cannot change it, and retraining on a repartitioned corpus yields
  bit-identical weights (pinned by golden). The kmeans/BPE integer
  driver-loop discipline (apps.py:kmeans_train_int) applied to SGD.

Driver traffic per iteration: dim+2 longs (the gradient) down,
dim rows (the weights) up as a broadcast frame — model-bounded, the
bounded-traffic precedent. The per-doc feature profile is staged
once and reused by every iteration; each iteration is two uniform-
key shuffles (doc margin, bucket gradient) over profile rows.

Store family: :func:`write_quality_model` persists (bucket, w_micro,
rc) + a ``_clf_params.json`` sidecar; :func:`score_with_model` is
the frozen-model scoring pass (one broadcast join);
:func:`quality_clf_drift_report` JS-monitors the incoming feature
distribution against the stored raw reference;
:func:`rebuild_quality_model` is the one-call remediation — the
dsir.py store standard, feature-hashed instead of gram-hashed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cybersecurity_miw_spark import sidecar

MICRO = 1_000_000
DEFAULT_DIM = 1024


def hashed_count_features(
    df: DataFrame,
    dim: int = DEFAULT_DIM,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc signed hashed word-count profile: (id, bucket, cnt,
    n_words) rows with cnt = Σ±1 over words hashing to the bucket —
    the sparse integer feature vector. Same md5 bucket + sign
    derivation as textstats.hashed_embedding, so the feature space
    is the engine's one shared hashed text space. One explode + one
    count agg on the uniform (id, bucket) key."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    words = df.select(
        id_col,
        F.explode(
            F.split(
                F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))),
                r"\s+",
            )
        ).alias("w"),
    ).filter(F.length("w") > 0)
    h = F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10).cast("long")
    bucket = F.pmod(h, F.lit(dim)).cast("int")
    sign = F.when(
        F.pmod(F.floor(h / dim), F.lit(2)) == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    counted = (
        words.select(id_col, bucket.alias("bucket"), sign.alias("s"))
        .groupBy(id_col, "bucket")
        .agg(F.sum("s").cast("long").alias("cnt"))
    )
    n = words.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_words"))
    return counted.join(n, id_col)


def _margin_micro(profile: DataFrame, w_df: DataFrame, bias_micro: int,
                  id_col: str) -> DataFrame:
    """(id, margin_micro) — exact long mean-pooled linear score:
    floor(Σ cnt·w_micro / n_words) + bias_micro. Buckets without a
    model row contribute 0 (inner join drops them)."""
    return (
        # bcast-bound: w_df = the weight table, exactly dim rows
        # (model-sized, never sf-scaled)
        profile.join(F.broadcast(w_df), "bucket")
        .groupBy(id_col)
        .agg(
            (
                F.floor(
                    F.sum(F.col("cnt") * F.col("w_micro"))
                    / F.first("n_words")
                )
                + F.lit(int(bias_micro))
            ).cast("long").alias("margin_micro")
        )
    )


def train_quality_classifier(
    target: DataFrame,
    raw: DataFrame,
    dim: int = DEFAULT_DIM,
    iters: int = 30,
    lr: float = 1.0,
    l2: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Train the target-vs-raw logistic classifier; returns the model
    dict ``{dim, w_micro: [dim longs], bias_micro, iters, lr, l2,
    n_target, n_raw, tot_r}`` (tot_r = total raw feature occurrences,
    the drift reference total).

    Mechanics (all exact; see module docstring): label target docs 1
    and raw docs 0, iterate full-batch gradient ascent on the
    log-likelihood with mean-pooled hashed features. Per iteration:
    margin_micro per doc (long) → p = sigmoid(margin/1e6) (one IEEE
    double per doc) → residual_micro = floor((y−p)·1e6 + 0.5) (long)
    → gradient per bucket Σ floor(cnt·residual_micro / n_words)
    (long sum) → driver updates the python weight list:
    ``w += round(lr·grad/N)`` micro-units, then optional L2 decay
    ``w −= round(lr·l2·w)``. Deterministic under any partitioning.

    The raw side may (and at scale should) be a SAMPLE of the raw
    corpus — the published recipes train on 10⁵-10⁶ docs; scoring
    (:func:`score_quality`) then runs over everything."""
    from cybersecurity_miw_spark.operators.dedup import staged

    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    spark = target.sparkSession
    labeled = target.select(
        F.col(id_col), F.col(text_col), F.lit(1).alias("_y")
    ).unionByName(
        raw.select(F.col(id_col), F.col(text_col), F.lit(0).alias("_y"))
    )
    # collision-safe relabel: target and raw ids may overlap, so the
    # training key is (origin, id) folded into one string key
    keyed = labeled.withColumn(
        "_tid", F.concat(F.col("_y").cast("string"), F.lit(":"),
                         F.col(id_col).cast("string"))
    )
    profile = staged(
        hashed_count_features(keyed, dim, text_col, "_tid")
    )
    labels = staged(keyed.select("_tid", "_y"))
    counts = labels.groupBy("_y").agg(F.count(F.lit(1)).alias("n")).collect()
    by_y = {r["_y"]: r["n"] for r in counts}
    n_target, n_raw = by_y.get(1, 0), by_y.get(0, 0)
    n_docs = n_target + n_raw
    if n_target == 0 or n_raw == 0:
        raise ValueError(
            f"need both classes non-empty, got target={n_target} "
            f"raw={n_raw}"
        )

    w = [0] * dim  # micro-units
    bias = 0
    for _ in range(iters):
        w_df = spark.createDataFrame(
            list(enumerate(w)), "bucket int, w_micro long"
        )
        margins = _margin_micro(profile, w_df, bias, "_tid")
        resid = (
            labels.join(margins, "_tid", "left")
            .select(
                "_tid",
                F.floor(
                    (
                        F.col("_y")
                        - F.lit(1.0)
                        / (
                            F.lit(1.0)
                            + F.exp(
                                # wordless docs have no margin row;
                                # their margin is the bias alone
                                -F.coalesce(
                                    "margin_micro", F.lit(int(bias))
                                )
                                .cast("double")
                                / F.lit(float(MICRO))
                            )
                        )
                    )
                    * F.lit(float(MICRO))
                    + F.lit(0.5)
                ).cast("long").alias("_r"),
            )
        )
        # persist the doc-count-sized residual frame: the bucket
        # gradient and the bias gradient are two actions over it, and
        # an unpersisted lineage would re-run the margins join (the
        # multi-reference recomputation class ADVICE r15 flagged in
        # the DSIR chain)
        resid = resid.persist()
        grad_rows = (
            profile.join(resid, "_tid")
            .groupBy("bucket")
            .agg(
                F.sum(
                    F.floor(F.col("cnt") * F.col("_r") / F.col("n_words"))
                ).cast("long").alias("_g")
            )
            .collect()
        )
        bias_grad = resid.agg(F.sum("_r")).first()[0] or 0
        resid.unpersist()
        for r in grad_rows:
            w[r["bucket"]] += round(lr * r["_g"] / n_docs)
        bias += round(lr * bias_grad / n_docs)
        if l2:
            w = [wi - round(lr * l2 * wi) for wi in w]

    tot_r = (
        profile.join(labels.filter(F.col("_y") == 0), "_tid")
        .agg(F.sum(F.abs(F.col("cnt"))))
        .first()[0]
        or 0
    )
    return {
        "dim": dim,
        "w_micro": w,
        "bias_micro": int(bias),
        "iters": iters,
        "lr": lr,
        "l2": l2,
        "n_target": int(n_target),
        "n_raw": int(n_raw),
        "tot_r": int(tot_r),
    }


def score_quality(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "clf_score_micro",
    threshold_micro: int | None = None,
) -> DataFrame:
    """Score every row with a frozen model dict: ``out_col`` = the
    exact long margin (micro-logits; monotone in P(target), so
    thresholds and top-k on it equal thresholds on probability).
    Docs with no words score bias_micro. With ``threshold_micro``
    set, adds ``keep = score >= threshold``. One feature explode
    over the scored frame + one broadcast join — never touches the
    training corpora."""
    spark = df.sparkSession
    w_df = spark.createDataFrame(
        list(enumerate(model["w_micro"])), "bucket int, w_micro long"
    )
    prof = hashed_count_features(df, int(model["dim"]), text_col, id_col)
    margins = _margin_micro(prof, w_df, int(model["bias_micro"]), id_col)
    out = df.join(margins, id_col, "left").withColumn(
        out_col,
        F.coalesce("margin_micro", F.lit(int(model["bias_micro"])))
        .cast("long"),
    ).drop("margin_micro")
    if threshold_micro is not None:
        out = out.withColumn(
            "keep", F.col(out_col) >= F.lit(int(threshold_micro))
        )
    return out


def clf_select_to_budget(
    df: DataFrame,
    model: dict,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    grades: int = 1000,
    salt: str = "clf-v1",
) -> DataFrame:
    """Classifier scores to a TOKEN budget — "the most target-like
    corpus that fits the training budget", decided by the trained
    classifier instead of DSIR's n-gram weights (the two standard
    model-based selectors, same selection contract): grade each
    doc's micro-logit score onto a bounded integer grid (``grades``
    steps between the corpus min and max — two scalars to the
    driver), then run
    :func:`~cybersecurity_miw_spark.operators.sampling.budget_select`
    greedily from the top grade down until the inclusive running
    token sum fills ``budget_tokens``. The grid exists for the same
    reason as DSIR's (dsir.py:dsir_select_to_budget): raw micro-logit
    scores are near-all-distinct, which would degrade
    budget_select's bucket decomposition to one global window.
    Returns the selected rows with ``clf_score_micro`` and
    ``clf_grade`` attached."""
    from cybersecurity_miw_spark.operators import sampling
    from cybersecurity_miw_spark.operators.dedup import staged

    if budget_tokens < 0:
        raise ValueError(
            f"budget_tokens must be >= 0, got {budget_tokens}"
        )
    if grades < 1:
        raise ValueError(f"grades must be >= 1, got {grades}")
    scored = staged(
        score_quality(df, model, text_col=text_col, id_col=id_col)
    )
    lo, hi = scored.agg(
        F.min("clf_score_micro"), F.max("clf_score_micro")
    ).first()
    if lo is None or hi is None:
        return scored.withColumn("clf_grade", F.lit(0).cast("int"))
    span = max(int(hi) - int(lo), 1)
    grade = F.floor(
        (F.col("clf_score_micro") - F.lit(int(lo)))
        * F.lit(float(grades))
        / F.lit(float(span))
    ).cast("int")
    graded = scored.withColumn("clf_grade", grade)
    picked = sampling.budget_select(
        graded,
        budget_tokens,
        score_col="clf_grade",
        tokens_col=tokens_col,
        id_col=id_col,
        salt=salt,
    )
    return graded.join(picked.select(id_col), id_col, "semi")


def clf_report(
    scored: DataFrame,
    threshold_micro: int = 0,
    score_col: str = "clf_score_micro",
    tokens_col: str | None = None,
    deciles: int = 10,
    grades: int = 10_000,
) -> DataFrame:
    """Score-decile calibration card (VERDICT r16 #6) — the
    ``mix_report`` analog for the quality gate: one row per score
    decile with ``(n_docs, n_kept, keep_frac, min/max/mean score)``
    (+ token sums when ``tokens_col`` is given), measured FROM the
    scored data, so "what does threshold X actually keep" is
    auditable before a run commits to it.

    Scale shape: deciles are equal-COUNT up to grade granularity —
    scores are graded onto the bounded ``grades`` integer grid (the
    clf_select_to_budget / DSIR discipline; two scalars to the
    driver), per-grade partials aggregate map-side, and the decile
    boundary walk is one window over the ≤ ``grades``+1-row grade
    table — never a global NTILE sort over the corpus. All rows of
    one grade share a decile (the grade of a boundary row decides),
    which is exactly the determinism the oracle twin needs.
    ``mean_score_micro`` is floor(sum/count) in double division —
    exact while per-decile score sums stay under 2^53 (micro scores
    ~1e7 × up to ~1e45 rows before that bites a REPORT column)."""
    from pyspark.sql.window import Window

    if deciles < 1:
        raise ValueError(f"deciles must be >= 1, got {deciles}")
    if grades < 1:
        raise ValueError(f"grades must be >= 1, got {grades}")
    lo, hi, n_total = scored.agg(
        F.min(score_col), F.max(score_col), F.count(F.lit(1))
    ).first()
    if n_total == 0 or lo is None:
        raise ValueError("clf_report needs a non-empty scored frame")
    span = max(int(hi) - int(lo), 1)
    grade = F.floor(
        (F.col(score_col) - F.lit(int(lo)))
        * F.lit(float(grades))
        / F.lit(float(span))
    ).cast("int")
    aggs = [
        F.count(F.lit(1)).alias("_n"),
        F.sum(
            (F.col(score_col) >= F.lit(int(threshold_micro))).cast("long")
        ).alias("_nk"),
        F.min(score_col).alias("_smin"),
        F.max(score_col).alias("_smax"),
        F.sum(score_col).alias("_ssum"),
    ]
    if tokens_col is not None:
        aggs.append(F.sum(tokens_col).cast("long").alias("_tok"))
    per_grade = scored.select(grade.alias("_g"), score_col, *(
        [tokens_col] if tokens_col is not None else []
    )).groupBy("_g").agg(*aggs)
    # bounded-table window: <= grades+1 rows by construction
    w = Window.orderBy("_g").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = per_grade.withColumn(
        "_c", F.coalesce(F.sum("_n").over(w), F.lit(0))
    )
    dec = cum.withColumn(
        "decile",
        F.floor(
            F.col("_c") * F.lit(int(deciles)) / F.lit(float(n_total))
        ).cast("int"),
    )
    out_aggs = [
        F.sum("_n").cast("long").alias("n_docs"),
        F.sum("_nk").cast("long").alias("n_kept"),
        F.min("_smin").alias("min_score_micro"),
        F.max("_smax").alias("max_score_micro"),
        F.sum("_ssum").alias("_dsum"),
    ]
    if tokens_col is not None:
        out_aggs.append(F.sum("_tok").cast("long").alias("n_tokens"))
    rep = dec.groupBy("decile").agg(*out_aggs)
    rep = rep.withColumn(
        "keep_frac",
        F.floor(
            F.col("n_kept") / F.col("n_docs") * F.lit(1_000_000.0)
            + F.lit(0.5)
        )
        / F.lit(1_000_000.0),
    ).withColumn(
        "mean_score_micro",
        F.floor(F.col("_dsum") / F.col("n_docs")).cast("long"),
    ).drop("_dsum")
    return rep


def clf_separation(
    scored_corpus: DataFrame,
    scored_target: DataFrame,
    score_col: str = "clf_score_micro",
    grades: int = 10_000,
) -> DataFrame:
    """One-row separation card: how well the scores separate a
    HELD-OUT target sample from the corpus — the metric that says
    whether the quality gate is actually discriminating before
    anyone trusts a threshold. Columns: ``n_corpus, n_target,
    mean_corpus_micro, mean_target_micro, separation_micro`` (mean
    difference) and ``auc_micro`` = floor(1e6·AUC), the Mann-Whitney
    probability that a random target doc outscores a random corpus
    doc, computed at grade granularity (ties get the standard 1/2
    credit): AUC = Σ_g t_g·(2·C_g + r_g) / (2·T·R) with C_g the
    corpus count strictly below grade g.

    Scale shape: both sides reduce to bounded per-grade count
    tables (one shared min/max grid — two scalars to the driver);
    the rank-sum is a window over ≤ ``grades``+1 rows. The target
    side is a held-out SAMPLE by contract — bounded, like every
    exemplar frame in this engine."""
    from pyspark.sql.window import Window

    both = scored_corpus.select(
        F.col(score_col).alias("_s"), F.lit(0).alias("_t")
    ).unionByName(
        scored_target.select(
            F.col(score_col).alias("_s"), F.lit(1).alias("_t")
        )
    )
    lo, hi = both.agg(F.min("_s"), F.max("_s")).first()
    if lo is None:
        raise ValueError("clf_separation needs non-empty frames")
    span = max(int(hi) - int(lo), 1)
    grade = F.floor(
        (F.col("_s") - F.lit(int(lo)))
        * F.lit(float(grades))
        / F.lit(float(span))
    ).cast("int")
    per_grade = both.select(grade.alias("_g"), "_t", "_s").groupBy(
        "_g"
    ).agg(
        F.sum(F.when(F.col("_t") == 0, 1).otherwise(0)).alias("_r"),
        F.sum(F.when(F.col("_t") == 1, 1).otherwise(0)).alias("_tc"),
        F.sum(F.when(F.col("_t") == 0, F.col("_s"))).alias("_rsum"),
        F.sum(F.when(F.col("_t") == 1, F.col("_s"))).alias("_tsum"),
    )
    w = Window.orderBy("_g").rowsBetween(Window.unboundedPreceding, -1)
    cum = per_grade.withColumn(
        "_cr", F.coalesce(F.sum("_r").over(w), F.lit(0))
    )
    tot = cum.agg(
        F.sum("_r").cast("long").alias("n_corpus"),
        F.sum("_tc").cast("long").alias("n_target"),
        F.sum("_rsum").alias("_rs"),
        F.sum("_tsum").alias("_ts"),
        F.sum(
            F.col("_tc") * (F.lit(2) * F.col("_cr") + F.col("_r"))
        ).alias("_u2"),
    )
    return tot.select(
        "n_corpus",
        "n_target",
        F.floor(F.col("_rs") / F.col("n_corpus"))
        .cast("long")
        .alias("mean_corpus_micro"),
        F.floor(F.col("_ts") / F.col("n_target"))
        .cast("long")
        .alias("mean_target_micro"),
        (
            F.floor(F.col("_ts") / F.col("n_target"))
            - F.floor(F.col("_rs") / F.col("n_corpus"))
        )
        .cast("long")
        .alias("separation_micro"),
        F.floor(
            F.col("_u2")
            * F.lit(1_000_000.0)
            / (F.lit(2.0) * F.col("n_corpus") * F.col("n_target"))
        )
        .cast("long")
        .alias("auc_micro"),
    )


def write_quality_model(
    target: DataFrame,
    raw: DataFrame,
    model_dir: str,
    dim: int = DEFAULT_DIM,
    iters: int = 30,
    lr: float = 1.0,
    l2: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Train and persist: a (bucket, w_micro, rc) table (rc = the RAW
    corpus's absolute feature counts — the drift monitor's reference
    distribution, the dsir model-store shape) plus the
    ``sidecar.CLF`` sidecar. ≤ dim rows — broadcast-sized by
    construction. Published atomically (publish_table) so a
    concurrent scorer never reads a half-written model. Returns the
    sidecar params (with the weights)."""
    from cybersecurity_miw_spark.operators.dedup import staged
    from cybersecurity_miw_spark.sources.maintain import publish_table

    spark = target.sparkSession
    model = train_quality_classifier(
        target, raw, dim, iters, lr, l2, text_col, id_col
    )
    rc = staged(
        hashed_count_features(raw, dim, text_col, id_col)
        .groupBy("bucket")
        .agg(F.sum(F.abs(F.col("cnt"))).cast("long").alias("rc"))
    )
    w_df = spark.createDataFrame(
        list(enumerate(model["w_micro"])), "bucket int, w_micro long"
    )
    table = w_df.join(rc, "bucket", "left").select(
        "bucket", "w_micro", F.coalesce("rc", F.lit(0)).alias("rc")
    )
    params = {k: v for k, v in model.items() if k != "w_micro"}
    # the sidecar rides the SAME atomic publish as the weight table
    # (written into the staging dir before the rename), so a
    # concurrent load_quality_model can never pair new weights with a
    # stale params sidecar (ADVICE r16)
    publish_table(
        spark,
        table,
        model_dir,
        sidecar_texts=sidecar.staged(sidecar.CLF, **params),
    )
    return model


def load_quality_model(
    spark,
    model_dir: str,
    dim: int | None = None,
) -> tuple[dict, dict]:
    """Read a persisted model back into the scoring dict + params,
    raising on a family mismatch when the caller pins ``dim`` —
    feature spaces of different dims silently mis-score, the
    mixed-family hazard every store sidecar here guards."""
    params = sidecar.check(spark, model_dir, sidecar.CLF, dim=dim)
    rows = spark.read.parquet(model_dir).collect()
    w = [0] * int(params["dim"])
    for r in rows:
        w[r["bucket"]] = r["w_micro"]
    model = dict(params)
    model["w_micro"] = w
    return model, params


def score_with_model(
    batch: DataFrame,
    model_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "clf_score_micro",
    threshold_micro: int | None = None,
) -> DataFrame:
    """Frozen-model scoring pass for an incoming batch — the
    incremental twin of :func:`score_quality`: load the persisted
    model once, score the batch, never rescan training corpora."""
    model, _ = load_quality_model(batch.sparkSession, model_dir)
    return score_quality(
        batch, model, text_col, id_col, out_col, threshold_micro
    )


CLF_DRIFT_DEFAULT_MICRO_NATS = 100_000  # 0.1 nats of JS divergence


def quality_clf_drift_report(
    batch: DataFrame,
    model_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_micro_nats: int = CLF_DRIFT_DEFAULT_MICRO_NATS,
) -> dict:
    """Staleness monitor (the dsir_drift_report discipline): JS
    divergence in micro-nats between the batch's hashed-feature
    bucket distribution and the model's stored RAW reference. A
    drifted feed means the frozen decision boundary no longer faces
    the distribution it was trained against. Returns
    {js_micro_nats, n_batch_features, threshold_micro_nats, stale}."""
    spark = batch.sparkSession
    model, params = load_quality_model(spark, model_dir)
    dim = int(params["dim"])
    prof = (
        hashed_count_features(batch, dim, text_col, id_col)
        .groupBy("bucket")
        .agg(F.sum(F.abs(F.col("cnt"))).cast("long").alias("bc"))
    )
    tot_b = prof.agg(F.sum("bc")).first()[0] or 0
    tot_r = int(params["tot_r"])
    ref = spark.read.parquet(model_dir).select("bucket", "rc")
    joined = ref.join(prof, "bucket", "full_outer").select(
        F.coalesce("rc", F.lit(0)).alias("rc"),
        F.coalesce("bc", F.lit(0)).alias("bc"),
    )
    p = (F.col("bc") + 1) / F.lit(float(tot_b + dim))
    q = (F.col("rc") + 1) / F.lit(float(tot_r + dim))
    m = (p + q) / 2
    term = 0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)
    term_u = F.floor(term * F.lit(float(MICRO)) + F.lit(0.5)).cast("long")
    js = joined.select(term_u.alias("_t")).agg(F.sum("_t")).first()[0] or 0
    return {
        "js_micro_nats": int(js),
        "n_batch_features": int(tot_b),
        "threshold_micro_nats": int(threshold_micro_nats),
        "stale": int(js) > int(threshold_micro_nats),
    }


def rebuild_quality_model(
    target: DataFrame,
    raw: DataFrame,
    model_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """One-call remediation for a tripped drift monitor: retrain on
    the CURRENT corpora with the SAME recorded family (dim, iters,
    lr, l2 from the sidecar) and publish atomically over the live
    dir — the store-family rebuild contract."""
    spark = target.sparkSession
    _, params = load_quality_model(spark, model_dir)
    return write_quality_model(
        target, raw, model_dir,
        dim=int(params["dim"]), iters=int(params["iters"]),
        lr=float(params["lr"]), l2=float(params["l2"]),
        text_col=text_col, id_col=id_col,
    )
