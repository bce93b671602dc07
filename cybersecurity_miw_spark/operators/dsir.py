"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
public arXiv 2302.03169): select raw-corpus documents whose hashed
n-gram distribution looks like a TARGET corpus (the quality/domain
exemplar — e.g. a Wikipedia+books sample), by importance weight
p_target(features) / p_raw(features) under bag-of-hashed-ngrams
models, sampled without replacement via Gumbel top-k.

This is the published missing link between heuristic quality filters
(Gopher/C4 rules, `corpus_filters`) and model-based selection: no
trained classifier, one statistic pass over each corpus, and the
selection provably resamples toward the target distribution.

Engine-portable determinism (the split_word_divergence convention):
every per-bucket log-likelihood-ratio is computed from INTEGER
counts (identical doubles in any IEEE engine), floored to micro-nat
int64 units, and only then multiplied/summed — integer sums are
partition-order independent, raw double sums are not. The Gumbel
perturbation derives from an md5 uniform, so re-runs, backfills, and
the DuckDB oracle agree bit-for-bit.

Scale shape (100 TB raw, bounded target): the target profile is
target-bounded; the raw pass is one gram explode + two aggregations
(per-doc bucket counts on the uniform (id, bucket) key; corpus
bucket totals, output bounded by n_buckets); the LLR table is
n_buckets rows — always broadcast; selection is TakeOrdered, never a
global sort. No stage is quadratic and nothing corpus-sized reaches
the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cybersecurity_miw_spark import sidecar

DEFAULT_BUCKETS = 10_000


def _grams(df: DataFrame, text_col: str, id_col: str, bigrams: bool) -> DataFrame:
    """(id, gram) rows: lowercase whitespace words plus (optionally)
    space-joined bigrams — the DSIR paper's feature set."""
    w = F.split(
        F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
    )
    staged = df.select(F.col(id_col), w.alias("_w")).withColumn(
        "_w", F.filter("_w", lambda x: F.length(x) > 0)
    )
    uni = staged.select(id_col, F.explode("_w").alias("gram"))
    if not bigrams:
        return uni
    nw = F.size("_w")
    bi = staged.filter(nw >= 2).select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), nw - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("_w", i), F.element_at("_w", i + 1)
                ),
            )
        ).alias("gram"),
    )
    return uni.unionByName(bi)


def hashed_ngram_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    bigrams: bool = True,
) -> DataFrame:
    """Per-document hashed n-gram profile: (id, bucket, cnt) rows,
    bucket = md5(gram) mod n_buckets (the engine-portable hash every
    sampling op here uses). One explode + one count agg on the
    uniform (id, bucket) key."""
    if n_buckets < 1:
        # pmod(x, 0) yields null buckets and every doc silently
        # scores 0 downstream (ADVICE r15) — fail loudly instead
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    g = _grams(df, text_col, id_col, bigrams)
    b = F.pmod(
        F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    ).cast("int")
    return (
        g.select(id_col, b.alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _bucket_model(
    raw: DataFrame,
    target: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int,
    bigrams: bool,
    raw_profile: DataFrame | None = None,
) -> tuple[DataFrame, int, int]:
    """Shared staged model build: (joined (bucket, rc, tc, llr_micro)
    frame, tot_r, tot_t). The per-corpus bucket totals rb/tb are
    ``staged()`` BEFORE the two scalar total actions, so each corpus
    is gram-scanned exactly once however many times the caller
    references the model (ADVICE r15 — the unstaged chain re-ran both
    scans at the totals AND at the final action, ~4-5 scans per
    call). ``raw_profile`` lets :func:`dsir_log_weights` reuse its
    per-doc profile so raw is not even profile-scanned twice."""
    from cybersecurity_miw_spark.operators.dedup import staged

    prof = (
        raw_profile
        if raw_profile is not None
        else hashed_ngram_counts(raw, text_col, id_col, n_buckets, bigrams)
    )
    rb = staged(prof.groupBy("bucket").agg(F.sum("cnt").alias("rc")))
    tb = staged(
        hashed_ngram_counts(target, text_col, id_col, n_buckets, bigrams)
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("tc"))
    )
    tot_r = rb.agg(F.sum("rc")).first()[0] or 0
    tot_t = tb.agg(F.sum("tc")).first()[0] or 0
    # every document gram maps to a raw-observed bucket by
    # construction, so raw-observed buckets suffice for scoring
    joined = rb.join(tb, "bucket", "left").select(
        "bucket",
        F.col("rc"),
        F.coalesce("tc", F.lit(0)).alias("tc"),
    )
    p = (F.col("tc") + 1) / F.lit(float(tot_t + n_buckets))
    q = (F.col("rc") + 1) / F.lit(float(tot_r + n_buckets))
    llr = F.floor(
        (F.log(p) - F.log(q)) * F.lit(1_000_000.0) + F.lit(0.5)
    ).cast("long")
    return (
        joined.select("bucket", "rc", "tc", llr.alias("llr_micro")),
        int(tot_r),
        int(tot_t),
    )


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    bigrams: bool = True,
) -> DataFrame:
    """Raw rows + ``llr_micro_sum``: the document's importance weight
    in micro-nats, Σ_b cnt_b · llr_micro(b) — an INTEGER sum, so
    partition order cannot change it. Documents with no grams (empty
    text) score 0. Plan: the per-doc profile joins the broadcast LLR
    table on bucket, one sum per doc, one join back to the full
    rows."""
    from cybersecurity_miw_spark.operators.dedup import staged

    # stage the per-doc profile: it feeds BOTH the model's raw bucket
    # totals and the scoring join below — one gram scan of raw total
    prof = staged(
        hashed_ngram_counts(raw, text_col, id_col, n_buckets, bigrams)
    )
    model, _, _ = _bucket_model(
        raw, target, text_col, id_col, n_buckets, bigrams,
        raw_profile=prof,
    )
    llr = model.select("bucket", "llr_micro")
    # bcast-bound: llr = bucket model (n_buckets-bounded, not sf-scaled)
    sums = (
        prof.join(F.broadcast(llr), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("cnt") * F.col("llr_micro")).alias("llr_micro_sum"))
    )
    return raw.join(sums, id_col, "left").withColumn(
        "llr_micro_sum", F.coalesce("llr_micro_sum", F.lit(0)).cast("long")
    )


def gumbel_micro(id_col: str = "doc_id", salt: str = "dsir-v1") -> F.Column:
    """Deterministic micro-nat Gumbel(0,1) perturbation from the md5
    uniform ``u = (h + 0.5) / 2³²`` (h = first 8 md5 hex digits of
    salt:id): ``floor(1e6 · (−ln(−ln u)) + 0.5)``. Same double in any
    IEEE engine — the sampling family's no-RNG discipline applied to
    the Gumbel top-k trick."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(2**32))
    return F.floor(
        -F.log(-F.log(u)) * F.lit(1_000_000.0) + F.lit(0.5)
    ).cast("long")


def dsir_select_to_budget(
    raw: DataFrame,
    target: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    n_buckets: int = DEFAULT_BUCKETS,
    bigrams: bool = True,
    grades: int = 1000,
    salt: str = "dsir-v1",
) -> DataFrame:
    """DSIR to a TOKEN budget instead of a document count — "the most
    target-like corpus that fits the training budget": grade each
    raw doc's importance weight onto a bounded integer grid
    (``grades`` steps between the corpus min and max weight — two
    scalars to the driver, the bounded-traffic precedent), then run
    :func:`~cybersecurity_miw_spark.operators.sampling.budget_select`
    greedily from the top grade down until the inclusive running
    token sum fills ``budget_tokens``.

    The grid is what makes this scale: budget_select's
    bucket-decomposed cumsum is bounded by the number of DISTINCT
    scores, and raw micro-nat weights are all-distinct (which would
    degrade it to one global window). Grading trades within-grade
    order for boundedness — inside a grade the walk order is the
    md5(salt:id) tiebreak, budget_select's documented contract.
    Returns the selected rows with ``llr_micro_sum`` and
    ``dsir_grade`` attached."""
    from cybersecurity_miw_spark.operators import sampling

    if budget_tokens < 0:
        raise ValueError(
            f"budget_tokens must be >= 0, got {budget_tokens}"
        )
    if grades < 1:
        raise ValueError(f"grades must be >= 1, got {grades}")
    from cybersecurity_miw_spark.operators.dedup import staged

    # budget_select references its input several times (bucket
    # totals, offsets, the boundary window, the output join) — stage
    # the weight chain ONCE or every reference re-runs both corpus
    # gram scans (the unstaged plan printed 54 exchanges)
    scored = staged(
        dsir_log_weights(
            raw, target, text_col, id_col, n_buckets, bigrams
        )
    )
    lo, hi = scored.agg(
        F.min("llr_micro_sum"), F.max("llr_micro_sum")
    ).first()
    if lo is None or hi is None:
        # empty raw corpus: min/max are null and int(hi) would raise
        # an opaque TypeError (ADVICE r15) — return the (empty) frame
        # with the contract schema instead
        return scored.withColumn("dsir_grade", F.lit(0).cast("int"))
    span = max(int(hi) - int(lo), 1)
    grade = F.floor(
        (F.col("llr_micro_sum") - F.lit(int(lo)))
        * F.lit(float(grades))
        / F.lit(float(span))
    ).cast("int")
    graded = scored.withColumn("dsir_grade", grade)
    picked = sampling.budget_select(
        graded,
        budget_tokens,
        score_col="dsir_grade",
        tokens_col=tokens_col,
        id_col=id_col,
        salt=salt,
    )
    return graded.join(picked.select(id_col), id_col, "semi")


def write_dsir_model(
    raw: DataFrame,
    target: DataFrame,
    model_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    bigrams: bool = True,
) -> dict:
    """Persist the DSIR model so scoring never rescans the corpora:
    one (bucket, llr_micro, rc) row per raw-observed bucket (rc — the
    raw corpus's bucket count — rides along as the drift monitor's
    reference distribution) plus the ``sidecar.DSIR`` family
    sidecar (n_buckets, bigrams, totals). ≤ n_buckets rows — the
    model is broadcast-sized by construction, the cheapest persisted
    store in the repo. Returns the recorded params. Published
    atomically with its sidecar staged inside the swap, so a
    concurrent scorer never reads a half-written model nor pairs new
    rows with the old totals."""
    from cybersecurity_miw_spark.sources.maintain import publish_table

    spark = raw.sparkSession
    joined, tot_r, tot_t = _bucket_model(
        raw, target, text_col, id_col, n_buckets, bigrams
    )
    model = joined.select(
        "bucket", "llr_micro", F.col("rc").cast("long").alias("rc")
    )
    params = {
        "n_buckets": n_buckets,
        "bigrams": bigrams,
        "tot_r": int(tot_r),
        "tot_t": int(tot_t),
    }
    publish_table(
        spark, model, model_dir,
        sidecar_texts=sidecar.staged(sidecar.DSIR, **params),
    )
    return params


def load_dsir_model(
    spark,
    model_dir: str,
    n_buckets: int | None = None,
    bigrams: bool | None = None,
) -> tuple[DataFrame, dict]:
    """Read a persisted DSIR model and its params, raising on a
    family mismatch when the caller pins expectations — hash buckets
    from different (n_buckets, bigrams) families silently mis-score,
    the mixed-family hazard class every store sidecar here guards."""
    params = sidecar.check(
        spark, model_dir, sidecar.DSIR, n_buckets=n_buckets, bigrams=bigrams
    )
    return spark.read.parquet(model_dir), params


def dsir_score_batch(
    batch: DataFrame,
    model_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score an incoming batch against the FROZEN persisted model —
    the incremental twin of :func:`dsir_log_weights`: batch rows gain
    ``llr_micro_sum`` without touching the raw or target corpora.
    Grams hashing to buckets the model never saw (vocabulary the raw
    corpus did not contain) contribute 0 — the conservative
    smoothing-consistent reading of an unseen feature. One gram
    explode over the BATCH only + one broadcast join."""
    spark = batch.sparkSession
    model, params = load_dsir_model(spark, model_dir)
    prof = hashed_ngram_counts(
        batch, text_col, id_col,
        int(params["n_buckets"]), bool(params["bigrams"]),
    )
    # bcast-bound: model = persisted LLR table (n_buckets-bounded)
    sums = (
        prof.join(F.broadcast(model.select("bucket", "llr_micro")), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("cnt") * F.col("llr_micro")).alias("llr_micro_sum"))
    )
    return batch.join(sums, id_col, "left").withColumn(
        "llr_micro_sum", F.coalesce("llr_micro_sum", F.lit(0)).cast("long")
    )


DSIR_DRIFT_DEFAULT_MICRO_NATS = 100_000  # 0.1 nats of JS divergence


def dsir_drift_report(
    batch: DataFrame,
    model_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_micro_nats: int = DSIR_DRIFT_DEFAULT_MICRO_NATS,
) -> dict:
    """The DSIR staleness monitor: Jensen-Shannon divergence (micro-
    nats, the split_word_divergence integer discipline) between the
    batch's hashed-gram bucket distribution and the model's stored
    RAW reference distribution. A drifted feed means the persisted
    importance weights no longer describe p_raw — scores are biased
    and the model should be rebuilt (:func:`rebuild_dsir_model`).
    Returns {js_micro_nats, n_batch_grams, threshold_micro_nats,
    stale}."""
    spark = batch.sparkSession
    model, params = load_dsir_model(spark, model_dir)
    prof = (
        hashed_ngram_counts(
            batch, text_col, id_col,
            int(params["n_buckets"]), bool(params["bigrams"]),
        )
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("bc"))
    )
    tot_b = prof.agg(F.sum("bc")).first()[0] or 0
    nb = int(params["n_buckets"])
    tot_r = int(params["tot_r"])
    # full outer: drifted vocab can land in buckets the model never
    # saw, and that absence is exactly the signal
    joined = model.select("bucket", "rc").join(
        prof, "bucket", "full_outer"
    ).select(
        F.coalesce("rc", F.lit(0)).alias("rc"),
        F.coalesce("bc", F.lit(0)).alias("bc"),
    )
    p = (F.col("bc") + 1) / F.lit(float(tot_b + nb))
    q = (F.col("rc") + 1) / F.lit(float(tot_r + nb))
    m = (p + q) / 2
    term = 0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)
    term_u = F.floor(term * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")
    js = joined.select(term_u.alias("_t")).agg(F.sum("_t")).first()[0] or 0
    # unseen-by-both buckets contribute one identical smoothing term
    # each; they are absent from the frame, so the sum is over
    # observed buckets only — conservative (drift only UNDERcounted
    # by the all-smoothing constant, identically on both engines)
    return {
        "js_micro_nats": int(js),
        "n_batch_grams": int(tot_b),
        "threshold_micro_nats": int(threshold_micro_nats),
        "stale": int(js) > int(threshold_micro_nats),
    }


def rebuild_dsir_model(
    raw: DataFrame,
    target: DataFrame,
    model_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """One-call remediation for a tripped drift monitor: retrain the
    LLR table on the CURRENT corpora with the SAME recorded family
    (n_buckets, bigrams read from the sidecar) and publish atomically
    over the live dir — the store-family rebuild contract."""
    spark = raw.sparkSession
    _, params = load_dsir_model(spark, model_dir)
    return write_dsir_model(
        raw, target, model_dir, text_col, id_col,
        int(params["n_buckets"]), bool(params["bigrams"]),
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    bigrams: bool = True,
    gumbel: bool = True,
    salt: str = "dsir-v1",
) -> DataFrame:
    """The paper's selection step: top-``k`` raw documents by
    ``llr_micro_sum + Gumbel_micro`` — Gumbel top-k IS sampling
    without replacement proportional to the importance weights
    (Gumbel-max in log space), and the md5-derived Gumbel makes the
    draw deterministic. ``gumbel=False`` degrades to hard top-k by
    weight (the paper's "top-k heuristic" baseline). Ties break on
    id. Returns the selected rows with ``llr_micro_sum`` and
    ``dsir_score`` attached; TakeOrdered, never a global sort."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    scored = dsir_log_weights(
        raw, target, text_col, id_col, n_buckets, bigrams
    )
    score = F.col("llr_micro_sum") + (
        gumbel_micro(id_col, salt) if gumbel else F.lit(0)
    )
    return (
        scored.withColumn("dsir_score", score.cast("long"))
        .orderBy(F.desc("dsir_score"), F.col(id_col).asc())
        .limit(k)
    )
