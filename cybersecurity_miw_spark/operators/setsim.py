"""Exact-threshold set-similarity self-join via prefix filtering
(the PPJoin family: Chaudhuri/Ganti/Kaushik SSJoin 2006, Xiao et al.
"Efficient Similarity Joins for Near Duplicate Detection" 2008 —
public algorithms, re-expressed as DataFrame ops).

This is the EXACT counterpart of the MinHash/LSH path
(reference parity: the miw engine has no similarity join at all —
this is beyond-reference surface for corpus dedup). LSH banding
trades recall for cost (the measured planted-pair S-curve in
SCALE.md: 0.97 @ J≈0.8 at the 112/16 default, <1.0 by
construction); prefix filtering emits EVERY pair with
Jaccard >= t — zero false negatives — while still never
materializing the all-pairs cross.

Why it is exact (the prefix-filter lemma, spelled out because the
safety of the whole operator rides on it): order every set's tokens
by one global canonical order (document frequency ascending, token
ascending — rarest first). For J(a,b) >= t the overlap o satisfies
o >= t/(1+t) * (|a|+|b|); with the size-ratio filter
|small| >= t*|large| this is >= ceil(t*|s|) for EACH side s. If two
sets share o >= alpha tokens, their prefixes of length
|s| - alpha + 1 must intersect (pigeonhole on the canonical order),
so prefixes of length |s| - ceil(t*|s|) + 1 are sufficient: an
equi-join on prefix tokens surfaces every qualifying pair. The
threshold is carried as integer permille (t_pm) so ceil() and the
final compare are exact integer arithmetic — no float-boundary
false negative (0.7*20 = 14.000000000000002 would otherwise shorten
a prefix).

100 TB shape: every stage is a uniform-key shuffle — token-frequency
agg (token key), canonical-order rebuild (token join + id agg),
prefix equi-join (token key), pair distinct, verify joins (id key).
Candidate volume is governed by the rarest-first ordering: frequent
shingles sort to the END of each set and never enter a prefix, so
hot tokens do not fan out. The verify pass touches candidates only
(the jaccard_pairs read pattern).

Positional filter (Xiao et al. 2008 §3, r9): each prefix hit carries
the matched token's 1-based canonical position, and the pair-key
aggregation (the same shuffle the plain ``distinct()`` already paid,
map-side partials) combines two sound overlap upper bounds, pruning
pairs whose tightest bound cannot reach
alpha = ceil(t/(1+t)·(|a|+|b|)) — the minimum overlap Jaccard >= t
requires:

* **generic bound**, valid for EVERY shared prefix token w at
  positions (i, j): the global canonical order splits the overlap
  into before-w / w / after-w parts, so
  o <= min(i-1, j-1) + 1 + min(|a|-i, |b|-j).
* **first-hit bound**: for the hit with MINIMAL position (the same
  row attains min(i) and min(j) — shared prefix tokens sort
  identically in both sets), no shared token can precede it: an
  earlier shared token would sort before w in BOTH sets, hence sit
  inside both prefixes and be a hit itself, contradicting
  minimality. So o <= 1 + min(|a|-min(i), |b|-min(j)) — the bound
  without the min(pos)-1 slack, the one that actually prunes
  same-size near-miss pairs.

Exact: qualifying pairs satisfy every bound (each is a true upper
bound on o, and o >= alpha). alpha is computed in integer permille
(ceil via (x + d - 1) div d), so no float boundary can prune a
qualifying pair. Headroom not implemented: PPJoin+'s suffix filter
(binary probe of the suffix beyond the prefix) prunes further per
candidate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cybersecurity_miw_spark import sidecar
from cybersecurity_miw_spark.operators.dedup import staged
from cybersecurity_miw_spark.operators.textstats import with_shingles


def _t_pm(threshold: float) -> int:
    """Threshold as integer permille — the exact-arithmetic carrier
    for ceil(t*|s|) and the final cross-multiplied compare."""
    t_pm = int(round(threshold * 1000))
    if not 0 < t_pm <= 1000:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    return t_pm


def ordered_by_freq(ex: DataFrame, freq: DataFrame, id_col: str) -> DataFrame:
    """(id, tok) pairs -> (id, toks, sz) with ``toks`` ordered by a
    SUPPLIED (tok, _df) frequency table: document frequency ascending,
    token ascending. Tokens absent from ``freq`` get _df = 0 — they
    sort first, which is both safe (any fixed total order satisfies
    the prefix lemma) and the right pruning guess (unseen = rare).
    One token-key join + one id-key agg."""
    return (
        ex.join(freq, "tok", "left")
        .withColumn("_df", F.coalesce("_df", F.lit(0)))
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_df", "tok"))),
                lambda s: s["tok"],
            ).alias("toks")
        )
        .withColumn("sz", F.size("toks"))
    )


def token_df_order(ex: DataFrame, id_col: str) -> DataFrame:
    """(id, tok) pairs -> (id, toks, sz) in global canonical order
    (document frequency over ``ex`` itself): one token-key agg, then
    :func:`ordered_by_freq`."""
    freq = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
    return ordered_by_freq(ex, freq, id_col)


def prefix_index(ordered: DataFrame, id_col: str, t_pm: int) -> DataFrame:
    """Explode only the prefix of each canonical-ordered set:
    p = sz - ceil(t*sz) + 1 tokens, integer-exact ceil. Carries the
    token's 1-based canonical position for the positional filter."""
    alpha = F.floor((F.lit(t_pm) * F.col("sz") + 999) / 1000).cast("int")
    pref_len = (F.col("sz") - alpha + 1).cast("int")
    return (
        ordered.select(
            id_col,
            "sz",
            F.posexplode(F.slice("toks", 1, pref_len)).alias("pos", "tok"),
        )
        .withColumn("pos", (F.col("pos") + 1).cast("int"))
    )


def _alpha(t_pm: int, sz_a, sz_b):
    """Minimum overlap Jaccard >= t requires:
    ceil(t/(1+t) * (|a|+|b|)), exact integer permille arithmetic."""
    num = F.lit(t_pm) * (sz_a + sz_b)
    den = F.lit(1000 + t_pm)
    return F.floor((num + den - F.lit(1)) / den).cast("long")


def _pos_bound(pos_a, pos_b, sz_a, sz_b):
    """Overlap upper bound from one shared prefix token at 1-based
    canonical positions (pos_a, pos_b): before-token overlap is at
    most min(pos)-1, the token itself is 1, after-token overlap is at
    most min(remaining)."""
    return (
        F.least(pos_a, pos_b)
        + F.least(sz_a - pos_a, sz_b - pos_b)
    ).cast("long")


def ppjoin_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """All pairs (id_a < id_b) whose word-``shingle_k``-shingle sets
    have Jaccard >= threshold — EXACT (no LSH false negatives).
    Returns (id_a, id_b, jaccard) with jaccard rounded to 6 d.p.
    (the jaccard_pairs convention)."""
    sh = staged(
        with_shingles(df, text_col, shingle_k, "_sh", keep=(id_col,))
    )
    cand = _ppjoin_candidates_from_shingled(sh, id_col, _t_pm(threshold))
    return _verify_pairs(sh, cand, id_col, _t_pm(threshold))


def _ppjoin_candidates_from_shingled(
    sh: DataFrame, id_col: str, t_pm: int
) -> DataFrame:
    ex = sh.select(id_col, F.explode("_sh").alias("tok"))
    pref = prefix_index(token_df_order(ex, id_col), id_col, t_pm)

    a = pref.select(
        F.col(id_col).alias("id_a"),
        F.col("sz").alias("sz_a"),
        F.col("pos").alias("pos_a"),
        "tok",
    )
    b = pref.select(
        F.col(id_col).alias("id_b"),
        F.col("sz").alias("sz_b"),
        F.col("pos").alias("pos_b"),
        "tok",
    )
    # positional filter: min generic bound over hits + first-hit bound
    # (min positions), combined in ONE pair-key aggregation — the same
    # shuffle the plain distinct() paid, with map-side min partials
    generic = _pos_bound(
        F.col("pos_a"), F.col("pos_b"), F.col("sz_a"), F.col("sz_b")
    )
    bound = F.least(
        F.col("_g"),
        F.lit(1)
        + F.least(
            F.col("sz_a") - F.col("_pa"), F.col("sz_b") - F.col("_pb")
        ),
    )
    cand = (
        a.join(b, "tok")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # size-ratio filter: J >= t forces min/max >= t
            & (
                F.lit(1000) * F.least("sz_a", "sz_b")
                >= F.lit(t_pm) * F.greatest("sz_a", "sz_b")
            )
        )
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(
            F.min(generic).alias("_g"),
            F.min("pos_a").alias("_pa"),
            F.min("pos_b").alias("_pb"),
        )
        .filter(bound >= _alpha(t_pm, F.col("sz_a"), F.col("sz_b")))
        .select("id_a", "id_b")
    )
    return cand


def _verify_pairs(
    sh: DataFrame, cand: DataFrame, id_col: str, t_pm: int
) -> DataFrame:
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sh_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sh_b"))
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size(F.array_union("_sh_a", "_sh_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("_i", inter)
        .withColumn("_u", union)
        # cross-multiplied integer compare — the exact threshold
        .filter(F.lit(1000) * F.col("_i") >= F.lit(t_pm) * F.col("_u"))
        .select(
            "id_a",
            "id_b",
            F.round(F.col("_i") / F.greatest(F.col("_u"), F.lit(1)), 6).alias(
                "jaccard"
            ),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_k: int = 3,
) -> DataFrame:
    """EXACT asymmetric containment join: all ordered pairs
    (contained_id ≠ container_id) with
    |sh(contained) ∩ sh(container)| / |sh(contained)| ≥ threshold —
    the quote/excerpt/wrapper-page detector. Symmetric Jaccard misses
    a small doc fully quoted inside a much larger one (the union
    term dilutes); span-level dedup sees only verbatim 8-gram runs.
    Containment at the shingle-set level catches both, exactly.

    Prefix filtering adapts (Chaudhuri/Ganti/Kaushik SSJoin family,
    containment variant): overlap must reach α = ⌈t·|A|⌉, which
    depends only on the CONTAINED side, so the probe side explodes
    the standard |A| − α + 1 rarest-first prefix
    (:func:`prefix_index`, same pigeonhole) while the container side
    indexes ALL its tokens (any of them may witness the overlap).
    The join keys are still probe-PREFIX tokens — rarest-first, so
    hot tokens never become join keys. Size filter: |B| ≥ ⌈t·|A|⌉
    (the overlap cannot exceed |B|). The positional and first-hit
    bounds hold verbatim: both docs list tokens in the one global
    order, so no shared token can precede the first join hit (it
    would itself be an earlier hit — the container side indexes
    everything), and the :func:`_pos_bound` pigeonhole only uses
    positions in that shared order. Verify fetches shingle arrays
    for candidates only; integer cross-multiplied threshold.

    Returns (contained_id, container_id, containment) with
    containment rounded to 6 d.p. Both directions of a mutual pair
    are emitted (containment is not symmetric)."""
    t_pm = _t_pm(threshold)
    sh = staged(
        with_shingles(df, text_col, shingle_k, "_sh", keep=(id_col,))
    )
    ex = sh.select(id_col, F.explode("_sh").alias("tok"))
    ordered = token_df_order(ex, id_col)
    pref = prefix_index(ordered, id_col, t_pm)
    full = ordered.select(
        id_col,
        "sz",
        F.posexplode("toks").alias("pos", "tok"),
    ).withColumn("pos", (F.col("pos") + 1).cast("int"))

    a = pref.select(
        F.col(id_col).alias("contained_id"),
        F.col("sz").alias("sz_a"),
        F.col("pos").alias("pos_a"),
        "tok",
    )
    b = full.select(
        F.col(id_col).alias("container_id"),
        F.col("sz").alias("sz_b"),
        F.col("pos").alias("pos_b"),
        "tok",
    )
    alpha = F.floor(
        (F.lit(t_pm) * F.col("sz_a") + 999) / 1000
    ).cast("long")
    generic = _pos_bound(
        F.col("pos_a"), F.col("pos_b"), F.col("sz_a"), F.col("sz_b")
    )
    bound = F.least(
        F.col("_g"),
        F.lit(1)
        + F.least(
            F.col("sz_a") - F.col("_pa"), F.col("sz_b") - F.col("_pb")
        ),
    )
    cand = (
        a.join(b, "tok")
        .filter(
            (F.col("contained_id") != F.col("container_id"))
            # overlap <= |B|: containment needs |B| >= ceil(t*|A|)
            & (F.lit(1000) * F.col("sz_b") >= F.lit(t_pm) * F.col("sz_a"))
        )
        .groupBy("contained_id", "container_id", "sz_a", "sz_b")
        .agg(
            F.min(generic).alias("_g"),
            F.min("pos_a").alias("_pa"),
            F.min("pos_b").alias("_pb"),
        )
        .filter(bound >= alpha)
        .select("contained_id", "container_id", "sz_a")
    )

    sa = sh.select(
        F.col(id_col).alias("contained_id"), F.col("_sh").alias("_sh_a")
    )
    sb = sh.select(
        F.col(id_col).alias("container_id"), F.col("_sh").alias("_sh_b")
    )
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    return (
        cand.join(sa, "contained_id")
        .join(sb, "container_id")
        .withColumn("_i", inter)
        .filter(F.lit(1000) * F.col("_i") >= F.lit(t_pm) * F.col("sz_a"))
        .select(
            "contained_id",
            "container_id",
            F.round(
                F.col("_i") / F.greatest(F.col("sz_a"), F.lit(1)), 6
            ).alias("containment"),
        )
    )


def containment_cross(
    contained: DataFrame,
    containers: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_k: int = 3,
) -> DataFrame:
    """Exact CROSS-CORPUS containment join: every pair with
    |sh(contained) ∩ sh(container)| / |sh(contained)| ≥ threshold,
    contained from the left corpus, container from the right — the
    quoted-excerpt decontamination primitive. An eval question copied
    verbatim inside a long train document has near-zero Jaccard
    against it (``ppjoin_cross`` cannot see it at any sane threshold)
    but containment 1.0; this is the GPT-3-style leakage case
    :func:`~cybersecurity_miw_spark.operators.dedup.
    flag_eval_ngram_overlap` flags heuristically and this join
    decides EXACTLY at a threshold.

    Same construction as :func:`containment_pairs` with the R-S
    twists of :func:`ppjoin_cross`: ONE token order from document
    frequency over the UNION of the corpora (the lemma needs a shared
    total order; union-df is also the best pruning order), contained
    side explodes rarest-first prefixes sized by α = ⌈t·|A|⌉,
    container side indexes ALL its tokens. With a small eval side the
    prefix join is eval-prefix-bounded. Returns
    (contained_id, container_id, containment)."""
    t_pm = _t_pm(threshold)
    sh_a = staged(
        with_shingles(contained, text_col, shingle_k, "_sh", keep=(id_col,))
    )
    sh_b = staged(
        with_shingles(containers, text_col, shingle_k, "_sh", keep=(id_col,))
    )
    ex_a = sh_a.select(id_col, F.explode("_sh").alias("tok"))
    ex_b = sh_b.select(id_col, F.explode("_sh").alias("tok"))
    freq = (
        ex_a.unionByName(ex_b)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    pref_a = prefix_index(
        ordered_by_freq(ex_a, freq, id_col), id_col, t_pm
    ).select(
        F.col(id_col).alias("contained_id"),
        F.col("sz").alias("sz_a"),
        F.col("pos").alias("pos_a"),
        "tok",
    )
    full_b = (
        ordered_by_freq(ex_b, freq, id_col)
        .select(id_col, "sz", F.posexplode("toks").alias("pos", "tok"))
        .withColumn("pos", (F.col("pos") + 1).cast("int"))
        .select(
            F.col(id_col).alias("container_id"),
            F.col("sz").alias("sz_b"),
            F.col("pos").alias("pos_b"),
            "tok",
        )
    )
    alpha = F.floor(
        (F.lit(t_pm) * F.col("sz_a") + 999) / 1000
    ).cast("long")
    generic = _pos_bound(
        F.col("pos_a"), F.col("pos_b"), F.col("sz_a"), F.col("sz_b")
    )
    bound = F.least(
        F.col("_g"),
        F.lit(1)
        + F.least(
            F.col("sz_a") - F.col("_pa"), F.col("sz_b") - F.col("_pb")
        ),
    )
    cand = (
        pref_a.join(full_b, "tok")
        .filter(F.lit(1000) * F.col("sz_b") >= F.lit(t_pm) * F.col("sz_a"))
        .groupBy("contained_id", "container_id", "sz_a", "sz_b")
        .agg(
            F.min(generic).alias("_g"),
            F.min("pos_a").alias("_pa"),
            F.min("pos_b").alias("_pb"),
        )
        .filter(bound >= alpha)
        .select("contained_id", "container_id", "sz_a")
    )
    sa = sh_a.select(
        F.col(id_col).alias("contained_id"), F.col("_sh").alias("_sh_a")
    )
    sb = sh_b.select(
        F.col(id_col).alias("container_id"), F.col("_sh").alias("_sh_b")
    )
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    return (
        cand.join(sa, "contained_id")
        .join(sb, "container_id")
        .withColumn("_i", inter)
        .filter(F.lit(1000) * F.col("_i") >= F.lit(t_pm) * F.col("sz_a"))
        .select(
            "contained_id",
            "container_id",
            F.round(
                F.col("_i") / F.greatest(F.col("sz_a"), F.lit(1)), 6
            ).alias("containment"),
        )
    )


def ppjoin_cross(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """Exact cross-corpus set-similarity join (R-S variant of
    :func:`ppjoin_pairs`): every (left, right) pair with shingle-set
    Jaccard >= threshold — the EXACT decontamination primitive
    (train-vs-eval leakage with zero banding false negatives,
    vs. the LSH-recall-bounded operators/dedup.py:cross_lsh_candidates).

    The prefix-filter lemma needs one total token order shared by
    both sides; document frequency over the UNION of the corpora is
    used because it is also the best pruning order (tokens hot in
    either corpus leave every prefix). Returns (id_l, id_r, jaccard).

    100 TB shape: identical to the self-join — uniform-key shuffles
    only, candidates bounded by rarest-first prefixes, verify
    touches candidate docs only. With a small eval side the prefix
    join's right input is eval-sized: the train corpus contributes
    prefixes but only eval-matching tokens survive the equi-join."""
    t_pm = _t_pm(threshold)
    sh_l = staged(
        with_shingles(left, text_col, shingle_k, "_sh", keep=(id_col,))
    )
    sh_r = staged(
        with_shingles(right, text_col, shingle_k, "_sh", keep=(id_col,))
    )
    ex_l = sh_l.select(id_col, F.explode("_sh").alias("tok"))
    ex_r = sh_r.select(id_col, F.explode("_sh").alias("tok"))
    freq = (
        ex_l.unionByName(ex_r)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("_df"))
    )

    def ordered(ex: DataFrame) -> DataFrame:
        return (
            ex.join(freq, "tok")
            .groupBy(id_col)
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_df", "tok"))),
                    lambda s: s["tok"],
                ).alias("toks")
            )
            .withColumn("sz", F.size("toks"))
        )

    pref_l = prefix_index(ordered(ex_l), id_col, t_pm).select(
        F.col(id_col).alias("id_l"),
        F.col("sz").alias("sz_l"),
        F.col("pos").alias("pos_l"),
        "tok",
    )
    pref_r = prefix_index(ordered(ex_r), id_col, t_pm).select(
        F.col(id_col).alias("id_r"),
        F.col("sz").alias("sz_r"),
        F.col("pos").alias("pos_r"),
        "tok",
    )
    generic = _pos_bound(
        F.col("pos_l"), F.col("pos_r"), F.col("sz_l"), F.col("sz_r")
    )
    bound = F.least(
        F.col("_g"),
        F.lit(1)
        + F.least(
            F.col("sz_l") - F.col("_pl"), F.col("sz_r") - F.col("_pr")
        ),
    )
    cand = (
        pref_l.join(pref_r, "tok")
        .filter(
            F.lit(1000) * F.least("sz_l", "sz_r")
            >= F.lit(t_pm) * F.greatest("sz_l", "sz_r")
        )
        .groupBy("id_l", "id_r", "sz_l", "sz_r")
        .agg(
            F.min(generic).alias("_g"),
            F.min("pos_l").alias("_pl"),
            F.min("pos_r").alias("_pr"),
        )
        .filter(bound >= _alpha(t_pm, F.col("sz_l"), F.col("sz_r")))
        .select("id_l", "id_r")
    )
    sa = sh_l.select(F.col(id_col).alias("id_l"), F.col("_sh").alias("_sh_l"))
    sb = sh_r.select(F.col(id_col).alias("id_r"), F.col("_sh").alias("_sh_r"))
    inter = F.size(F.array_intersect("_sh_l", "_sh_r"))
    union = F.size(F.array_union("_sh_l", "_sh_r"))
    return (
        cand.join(sa, "id_l")
        .join(sb, "id_r")
        .withColumn("_i", inter)
        .withColumn("_u", union)
        .filter(F.lit(1000) * F.col("_i") >= F.lit(t_pm) * F.col("_u"))
        .select(
            "id_l",
            "id_r",
            F.round(F.col("_i") / F.greatest(F.col("_u"), F.lit(1)), 6).alias(
                "jaccard"
            ),
        )
    )


# ---- incremental exact set-similarity (persisted prefix index) ----
#
# The setsim twin of the LSH band-store family (operators/dedup.py
# lsh_band_store / incremental_lsh_candidates): history participates
# through persisted (doc_id, sz, pos, tok) PREFIX rows plus a frozen
# (tok, _df) order table — signatures for 100 TB of history are never
# re-derived, and a new batch's cross-batch exact pairs cost
# batch-side work only. The canonical order is FROZEN at store
# creation: the prefix lemma needs one fixed total order shared by
# every row ever written, so later document-frequency drift must NOT
# reorder prefixes — it only degrades pruning quality (never
# correctness), and a periodic maintain.rewrite_table rebuild under
# fresh frequencies restores it. Unseen batch tokens order at _df=0
# (rarest-first guess, sound under the lemma).

# rebuild-threshold multiple for the frozen-order staleness monitor:
# SCALE.md r11 measured healthy drift at ≤ ~1× the creation baseline
# and the recurring-drift blowup at ×13.9 by its second batch, so any
# factor in the 3-5× band separates them cleanly
STALENESS_DEFAULT_FACTOR = 4.0


def _prefix_family(threshold: float, shingle_k: int) -> dict:
    """The prefix store's ``sidecar.PREFIX`` family keys: prefix
    lengths follow the threshold, recorded in per-mille."""
    return {"t_pm": _t_pm(threshold), "shingle_k": shingle_k}


def write_prefix_store_params(
    spark,
    store_dir: str,
    threshold: float,
    shingle_k: int = 3,
    baseline_cand_per_doc: float | None = None,
) -> None:
    """Record a prefix store's (threshold, shingle_k) in its
    ``sidecar.PREFIX`` sidecar. Prefix lengths depend on the
    threshold, so a store probed at a different threshold silently
    loses pairs — the same silent-zero-candidates hazard class as
    mixed MinHash families.

    ``baseline_cand_per_doc``: optional creation-time candidate
    volume per probe doc (:func:`measure_cand_per_doc` over the
    creation corpus), the reference point for the frozen-order
    staleness monitor (:func:`staleness_report`) — SCALE.md r11
    measured a ×66 cand/doc blowup under recurring vocabulary drift
    with NO correctness signal, so cost drift is only visible
    against a recorded baseline."""
    sidecar.write(
        spark, store_dir, sidecar.PREFIX,
        **_prefix_family(threshold, shingle_k),
        baseline_cand_per_doc=baseline_cand_per_doc,
    )


def load_prefix_store(
    spark,
    store_dir: str,
    threshold: float,
    shingle_k: int = 3,
):
    """Read a persisted prefix store, raising if its recorded
    (threshold, shingle_k) differ from the supplied parameters.
    Legacy stores without a sidecar load unchecked (caller owns the
    contract)."""
    return sidecar.load(
        spark, store_dir, sidecar.PREFIX,
        **_prefix_family(threshold, shingle_k),
    )


def measure_cand_per_doc(
    probe_docs: DataFrame,
    store: DataFrame,
    freq: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> float:
    """Candidates-per-probe-doc of ``probe_docs`` against a prefix
    store — the staleness monitor's unit. At store creation, probe
    the creation corpus against its own store to record the baseline
    (identical-id self-candidates are excluded so the number means
    "store rows a typical doc equi-joins", not "+1 for itself");
    later, compare each ingest batch's live value against it.
    Two batch-sized jobs (candidate count + probe count).

    Unit note (ADVICE r12 adjudication): when probe == store, the
    TOTAL count holds each unordered pair twice ((a,b) and (b,a)) —
    but the PER-DOC rate is still the monitoring unit, because each
    probe doc equi-joins its N−1 potential partners exactly once,
    the same fan-out a new doc sees against an N-doc history.
    Measured on an even/odd split of sf0.01 documents: self-probe
    with the ``!=`` filter = 0.0480 cand/doc, a disjoint batch
    against the same store = 0.0480 cand/doc; the proposed
    ``new_id < stored_id`` variant = 0.0240 — HALF the incremental
    unit, which would make the monitor trip at factor/2. Pinned by
    tests/test_setsim.py::test_self_probe_baseline_matches
    _disjoint_unit."""
    cand = incremental_ppjoin_candidates(
        probe_docs, store, freq, text_col, id_col, threshold, shingle_k
    ).filter(F.col("new_id") != F.col("stored_id"))
    n_docs = probe_docs.count()
    return cand.count() / max(n_docs, 1)


def staleness_report(
    n_candidates: int,
    n_docs: int,
    baseline_cand_per_doc: float | None,
    factor: float = STALENESS_DEFAULT_FACTOR,
) -> dict:
    """Grade one ingest batch's candidate volume against the store's
    creation-time baseline: ``stale`` is True when candidates-per-doc
    exceeds ``factor`` × baseline. Pure arithmetic — callers supply
    counts they already have (the flags sink counts candidates
    anyway). The frozen-order failure mode this catches is purely a
    COST degradation (correctness is order-independent by the prefix
    lemma): recurring drifted tokens are frozen-rare, fill every
    prefix on both sides, and candidate volume grows linearly with
    drifted history forever (×13.9 by the second drifted batch in
    SCALE.md r11's measurement, vs ≤ ~1× under healthy or
    distinct-vocab drift). Remediation: rebuild the store offline
    under a fresh token order (sources.maintain.rewrite_table swap)
    and re-record the baseline."""
    cand_per_doc = n_candidates / max(n_docs, 1)
    ratio = (
        cand_per_doc / baseline_cand_per_doc
        if baseline_cand_per_doc
        else None
    )
    return {
        "n_candidates": int(n_candidates),
        "n_docs": int(n_docs),
        "cand_per_doc": round(cand_per_doc, 3),
        "baseline_cand_per_doc": baseline_cand_per_doc,
        "staleness_ratio": round(ratio, 3) if ratio is not None else None,
        "stale": bool(ratio is not None and ratio > factor),
    }


def token_freq_table(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """The (tok, _df) document-frequency table to FREEZE alongside a
    prefix store — every later batch must order by this exact table."""
    sh = with_shingles(docs, text_col, shingle_k, "_sh", keep=(id_col,))
    ex = sh.select(id_col, F.explode("_sh").alias("tok"))
    return ex.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))


def prefix_store(
    docs: DataFrame,
    freq: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """The persistable prefix index rows for a corpus slice:
    (doc_id, sz, pos, tok) under the FROZEN ``freq`` order — append
    one batch's rows per ingest (computed with the same ``freq``).
    Partition or bucket the store on ``tok`` so the incremental
    equi-join prunes/co-locates."""
    t_pm = _t_pm(threshold)
    sh = with_shingles(docs, text_col, shingle_k, "_sh", keep=(id_col,))
    ex = sh.select(id_col, F.explode("_sh").alias("tok"))
    return prefix_index(ordered_by_freq(ex, freq, id_col), id_col, t_pm)


def incremental_ppjoin_candidates(
    new_docs: DataFrame,
    store: DataFrame,
    freq: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """Exact-candidate pairs of an incoming batch AGAINST THE
    PERSISTED PREFIX INDEX: (new_id, stored_id) surviving the prefix
    equi-join, size-ratio, and positional filters. Zero false
    negatives by the prefix lemma (both sides ordered by the same
    frozen ``freq``); history contributes index rows only.

    100 TB shape: batch prefixes are batch-sized; the equi-join on
    the uniform token key touches only store rows whose token occurs
    in the batch (partition/bucket the store by tok); the pair-key
    aggregation carries the positional bounds exactly as in
    :func:`ppjoin_pairs`."""
    t_pm = _t_pm(threshold)
    sh_n = with_shingles(new_docs, text_col, shingle_k, "_sh", keep=(id_col,))
    ex_n = sh_n.select(id_col, F.explode("_sh").alias("tok"))
    pref_n = prefix_index(
        ordered_by_freq(ex_n, freq, id_col), id_col, t_pm
    ).select(
        F.col(id_col).alias("new_id"),
        F.col("sz").alias("sz_n"),
        F.col("pos").alias("pos_n"),
        "tok",
    )
    pref_s = store.select(
        F.col(id_col).alias("stored_id"),
        F.col("sz").alias("sz_s"),
        F.col("pos").alias("pos_s"),
        "tok",
    )
    generic = _pos_bound(
        F.col("pos_n"), F.col("pos_s"), F.col("sz_n"), F.col("sz_s")
    )
    bound = F.least(
        F.col("_g"),
        F.lit(1)
        + F.least(
            F.col("sz_n") - F.col("_pn"), F.col("sz_s") - F.col("_ps")
        ),
    )
    return (
        pref_n.join(pref_s, "tok")
        # a doc is never a pair with itself: a streaming replay that
        # re-probes a batch against its own partially-appended store
        # rows (at-least-once recovery) must not emit (x, x) flags —
        # the r11 semantic-loop lesson, applied to the whole family
        .filter(F.col("new_id") != F.col("stored_id"))
        .filter(
            F.lit(1000) * F.least("sz_n", "sz_s")
            >= F.lit(t_pm) * F.greatest("sz_n", "sz_s")
        )
        .groupBy("new_id", "stored_id", "sz_n", "sz_s")
        .agg(
            F.min(generic).alias("_g"),
            F.min("pos_n").alias("_pn"),
            F.min("pos_s").alias("_ps"),
        )
        .filter(bound >= _alpha(t_pm, F.col("sz_n"), F.col("sz_s")))
        .select("new_id", "stored_id")
    )


def incremental_ppjoin_pairs(
    new_docs: DataFrame,
    history_docs: DataFrame,
    store: DataFrame,
    freq: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_k: int = 3,
    metrics: list | None = None,
    baseline_cand_per_doc: float | None = None,
    staleness_factor: float = STALENESS_DEFAULT_FACTOR,
) -> DataFrame:
    """The full incremental exact decision: prefix-index candidates
    (:func:`incremental_ppjoin_candidates`), then exact shingle-set
    Jaccard >= threshold computed by fetching text for ONLY the
    candidate docs on each side (semi-joins against the candidate id
    sets — history is never rescanned wholesale). Returns
    (new_id, stored_id, jaccard); equals
    ``ppjoin_cross(new, history)`` exactly (golden-checked), at
    batch-side cost.

    Pass a list as ``metrics`` to monitor frozen-order staleness:
    one :func:`staleness_report` dict is appended per call
    (candidates counted once on a localCheckpoint'ed frame — which
    the plan reuses for its three candidate references, so the
    monitored path trades one eager batch-sized job for two repeated
    candidate computations). ``baseline_cand_per_doc`` usually comes
    from the store's ``sidecar.PREFIX`` params; with no baseline the
    report still carries the live cand/doc (``stale`` stays False —
    nothing to compare against)."""
    t_pm = _t_pm(threshold)
    cand = incremental_ppjoin_candidates(
        new_docs, store, freq, text_col, id_col, threshold, shingle_k
    )
    if metrics is not None:
        cand = cand.localCheckpoint(eager=True)
        metrics.append(
            staleness_report(
                cand.count(),
                new_docs.count(),
                baseline_cand_per_doc,
                staleness_factor,
            )
        )
    new_pruned = new_docs.join(
        cand.select(F.col("new_id").alias(id_col)).distinct(),
        on=id_col,
        how="semi",
    )
    hist_pruned = history_docs.join(
        cand.select(F.col("stored_id").alias(id_col)).distinct(),
        on=id_col,
        how="semi",
    )
    sh_n = with_shingles(
        new_pruned, text_col, shingle_k, "_sh_n", keep=(id_col,)
    )
    sh_h = with_shingles(
        hist_pruned, text_col, shingle_k, "_sh_h", keep=(id_col,)
    )
    j = (
        cand.join(
            sh_n.select(F.col(id_col).alias("new_id"), "_sh_n"), "new_id"
        )
        .join(
            sh_h.select(F.col(id_col).alias("stored_id"), "_sh_h"),
            "stored_id",
        )
        .withColumn("_i", F.size(F.array_intersect("_sh_n", "_sh_h")))
        .withColumn("_u", F.size(F.array_union("_sh_n", "_sh_h")))
        .filter(F.lit(1000) * F.col("_i") >= F.lit(t_pm) * F.col("_u"))
    )
    return j.select(
        "new_id",
        "stored_id",
        F.round(F.col("_i") / F.greatest(F.col("_u"), F.lit(1)), 6).alias(
            "jaccard"
        ),
    )


# ---- store-backed incremental containment (decontamination loop) ----

def containment_store(
    containers: DataFrame,
    freq: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """The persistable CONTAINER-side index for incremental
    containment decontamination: (doc_id, sz, pos, tok) — every token
    of every container doc, positioned under the FROZEN ``freq``
    order (:func:`ordered_by_freq`; tokens absent from freq sort
    first). Unlike :func:`prefix_store` this is the FULL token index,
    because containment's overlap witness can be any container token
    (:func:`containment_pairs` rationale) — which also makes the
    store THRESHOLD-INDEPENDENT: only the probe side's prefix length
    depends on t, so one store serves every threshold. Partition or
    bucket on ``tok`` so batch probes prune/co-locate. Append new
    container batches computed with the same frozen ``freq``."""
    sh = with_shingles(containers, text_col, shingle_k, "_sh", keep=(id_col,))
    ex = sh.select(id_col, F.explode("_sh").alias("tok"))
    return (
        ordered_by_freq(ex, freq, id_col)
        .select(id_col, "sz", F.posexplode("toks").alias("pos", "tok"))
        .withColumn("pos", (F.col("pos") + 1).cast("int"))
    )


def _incremental_containment_cand(
    new_docs: DataFrame,
    store: DataFrame,
    freq: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_k: int,
) -> DataFrame:
    """(contained_id, container_id, sz_a) candidates of a probe batch
    against the persisted full-token container index — the
    :func:`containment_cross` candidate stage with the container side
    read from the store instead of recomputed, under the FROZEN
    order."""
    t_pm = _t_pm(threshold)
    sh_n = with_shingles(new_docs, text_col, shingle_k, "_sh", keep=(id_col,))
    ex_n = sh_n.select(id_col, F.explode("_sh").alias("tok"))
    pref_n = prefix_index(
        ordered_by_freq(ex_n, freq, id_col), id_col, t_pm
    ).select(
        F.col(id_col).alias("contained_id"),
        F.col("sz").alias("sz_a"),
        F.col("pos").alias("pos_a"),
        "tok",
    )
    full_s = store.select(
        F.col(id_col).alias("container_id"),
        F.col("sz").alias("sz_b"),
        F.col("pos").alias("pos_b"),
        "tok",
    )
    alpha = F.floor(
        (F.lit(t_pm) * F.col("sz_a") + 999) / 1000
    ).cast("long")
    generic = _pos_bound(
        F.col("pos_a"), F.col("pos_b"), F.col("sz_a"), F.col("sz_b")
    )
    bound = F.least(
        F.col("_g"),
        F.lit(1)
        + F.least(
            F.col("sz_a") - F.col("_pa"), F.col("sz_b") - F.col("_pb")
        ),
    )
    return (
        pref_n.join(full_s, "tok")
        # self-pair guard: a replayed batch probing its own
        # partially-appended store rows must not emit (x, x) —
        # containment_pairs applies the same filter on the self-join
        .filter(F.col("contained_id") != F.col("container_id"))
        .filter(F.lit(1000) * F.col("sz_b") >= F.lit(t_pm) * F.col("sz_a"))
        .groupBy("contained_id", "container_id", "sz_a", "sz_b")
        .agg(
            F.min(generic).alias("_g"),
            F.min("pos_a").alias("_pa"),
            F.min("pos_b").alias("_pb"),
        )
        .filter(bound >= alpha)
        .select("contained_id", "container_id", "sz_a")
    )


def incremental_containment_candidates(
    new_docs: DataFrame,
    store: DataFrame,
    freq: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_k: int = 3,
) -> DataFrame:
    """Candidate (contained_id, container_id) pairs of a probe batch
    against the persisted containment store — zero false negatives by
    the prefix pigeonhole (the probe prefix keeps sz−α+1 tokens; any
    qualifying overlap of ≥ α tokens must intersect it, and the store
    indexes EVERY container token so any witness hits the join)."""
    return _incremental_containment_cand(
        new_docs, store, freq, text_col, id_col, threshold, shingle_k
    ).select("contained_id", "container_id")


def incremental_containment_pairs(
    new_docs: DataFrame,
    container_docs: DataFrame,
    store: DataFrame,
    freq: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_k: int = 3,
    metrics: list | None = None,
    baseline_cand_per_doc: float | None = None,
    staleness_factor: float = STALENESS_DEFAULT_FACTOR,
) -> DataFrame:
    """The full incremental decontamination decision: probe an
    eval/ingest batch against the FROZEN train corpus through its
    persisted full-token index — candidates from
    :func:`incremental_containment_candidates`, then exact
    containment |sh(A) ∩ sh(B)| / |sh(A)| ≥ threshold verified by
    fetching text for ONLY the candidate docs on each side (the
    :func:`incremental_ppjoin_pairs` discipline — the train corpus
    is never rescanned wholesale, and the union token order is never
    recomputed: the store and ``freq`` are read as-is). Returns
    (contained_id, container_id, containment); equals the pooled
    :func:`containment_cross`` exactly for ANY frozen order
    (golden-checked — the prefix lemma is order-independent).

    Staleness monitoring (``metrics`` / ``baseline_cand_per_doc`` /
    ``staleness_factor``) works exactly as in
    :func:`incremental_ppjoin_pairs` — this family has the same
    frozen-order drift channel once container batches are appended
    under the frozen ``freq``."""
    t_pm = _t_pm(threshold)
    cand = _incremental_containment_cand(
        new_docs, store, freq, text_col, id_col, threshold, shingle_k
    )
    if metrics is not None:
        cand = cand.localCheckpoint(eager=True)
        metrics.append(
            staleness_report(
                cand.count(),
                new_docs.count(),
                baseline_cand_per_doc,
                staleness_factor,
            )
        )
    new_pruned = new_docs.join(
        cand.select(F.col("contained_id").alias(id_col)).distinct(),
        on=id_col,
        how="semi",
    )
    cont_pruned = container_docs.join(
        cand.select(F.col("container_id").alias(id_col)).distinct(),
        on=id_col,
        how="semi",
    )
    sh_a = with_shingles(
        new_pruned, text_col, shingle_k, "_sh_a", keep=(id_col,)
    )
    sh_b = with_shingles(
        cont_pruned, text_col, shingle_k, "_sh_b", keep=(id_col,)
    )
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    return (
        cand.join(
            sh_a.select(F.col(id_col).alias("contained_id"), "_sh_a"),
            "contained_id",
        )
        .join(
            sh_b.select(F.col(id_col).alias("container_id"), "_sh_b"),
            "container_id",
        )
        .withColumn("_i", inter)
        .filter(F.lit(1000) * F.col("_i") >= F.lit(t_pm) * F.col("sz_a"))
        .select(
            "contained_id",
            "container_id",
            F.round(
                F.col("_i") / F.greatest(F.col("sz_a"), F.lit(1)), 6
            ).alias("containment"),
        )
    )


def measure_containment_cand_per_doc(
    probe_docs: DataFrame,
    store: DataFrame,
    freq: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_k: int = 3,
) -> float:
    """Candidates-per-probe-doc against a containment store — the
    baseline unit for the staleness monitor (containment twin of
    :func:`measure_cand_per_doc`). Record it at store creation by
    probing a representative batch (e.g. the first eval slice)."""
    cand = incremental_containment_candidates(
        probe_docs, store, freq, text_col, id_col, threshold, shingle_k
    ).filter(F.col("contained_id") != F.col("container_id"))
    n_docs = probe_docs.count()
    return cand.count() / max(n_docs, 1)


def rebuild_prefix_store(
    spark,
    corpus: DataFrame,
    store_dir: str,
    freq_dir: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> dict:
    """The staleness monitor's remediation as ONE call (docs/
    MONITORING.md step 1-3): recompute the token order over the
    CURRENT corpus, rebuild the prefix index under it, re-measure the
    creation baseline (self-probe, identical-id pairs excluded), and
    publish store (+ frozen order, when ``freq_dir`` is given — the
    streaming loop's layout) atomically over the live directories
    (maintain.publish_table's temp-dir + rename dance; run in the
    same single-writer window compaction wants anyway). The stale
    sidecar is replaced, not carried — a rebuilt store with the old
    baseline would re-trip immediately. The baseline is measured on
    the checkpointed rebuild before the swap and the fresh sidecar is
    staged inside it, so a concurrent load never takes the new rows
    for a legacy store. Returns
    {'rows', 'baseline_cand_per_doc'}; correctness is unchanged by
    construction (any frozen order is exact), only candidate volume
    resets to the fresh-order level."""
    from cybersecurity_miw_spark.sources.maintain import publish_table

    freq = token_freq_table(
        corpus, text_col=text_col, id_col=id_col, shingle_k=shingle_k
    ).localCheckpoint(eager=True)
    store = prefix_store(
        corpus, freq, text_col=text_col, id_col=id_col,
        threshold=threshold, shingle_k=shingle_k,
    ).localCheckpoint(eager=True)
    baseline = measure_cand_per_doc(
        corpus, store, freq, text_col=text_col, id_col=id_col,
        threshold=threshold, shingle_k=shingle_k,
    )
    rows = publish_table(
        spark, store, store_dir, keep_sidecars=False,
        sidecar_texts=sidecar.staged(
            sidecar.PREFIX, **_prefix_family(threshold, shingle_k),
            baseline_cand_per_doc=baseline or None,
        ),
    )
    if freq_dir is not None:
        publish_table(spark, freq, freq_dir, keep_sidecars=False)
    return {"rows": rows, "baseline_cand_per_doc": baseline}


def rebuild_containment_store(
    spark,
    containers: DataFrame,
    store_dir: str,
    freq_dir: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    baseline_probe: DataFrame | None = None,
    baseline_threshold: float = 0.8,
) -> dict:
    """Containment twin of :func:`rebuild_prefix_store`: fresh
    container-side order, full-token index rebuilt and published
    atomically with its fresh sidecar staged inside the swap. The
    baseline needs a PROBE
    corpus (eval batches probe a containment store; the containers
    probing themselves is not the operating shape) — pass a
    representative batch as ``baseline_probe``, or omit it to leave
    the baseline unset until the first monitored run records one."""
    from cybersecurity_miw_spark.sources.maintain import publish_table

    freq = token_freq_table(
        containers, text_col=text_col, id_col=id_col, shingle_k=shingle_k
    ).localCheckpoint(eager=True)
    store = containment_store(
        containers, freq, text_col=text_col, id_col=id_col,
        shingle_k=shingle_k,
    ).localCheckpoint(eager=True)
    baseline = None
    if baseline_probe is not None:
        baseline = measure_containment_cand_per_doc(
            baseline_probe, store, freq, text_col=text_col, id_col=id_col,
            threshold=baseline_threshold, shingle_k=shingle_k,
        )
    rows = publish_table(
        spark, store, store_dir, keep_sidecars=False,
        sidecar_texts=sidecar.staged(
            sidecar.CONTAINMENT, shingle_k=shingle_k,
            baseline_cand_per_doc=baseline or None,
        ),
    )
    if freq_dir is not None:
        publish_table(spark, freq, freq_dir, keep_sidecars=False)
    return {"rows": rows, "baseline_cand_per_doc": baseline}
