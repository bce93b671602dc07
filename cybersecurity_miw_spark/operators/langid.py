"""Deterministic char-n-gram language identification (VERDICT r16
missing #1 / next-round #1).

The published web-curation recipes all gate on a real language ID —
C4 keeps pages langdetect scores ≥ 0.99 English (Raffel et al. 2020
§2.2), CCNet and RefinedWeb run fastText LID-176 (Penedo et al. 2023
§3.1), Dolma likewise — while this engine's previous ``lang_guess``
was a 4-language stopword heuristic. This module is the
production-grade replacement, built the *textcat* way (Cavnar &
Trenkle 1994, "N-Gram-Based Text Categorization"; same shape as CLD):
per-language character-trigram profiles derived from a SHIPPED sample
corpus (``data/lang_samples.tsv`` → ``data/lang_profiles.tsv``, the
``data/public_suffix_list.dat`` precedent), scored as integer
micro-nat log-likelihoods so every engine computes bit-identical
results, plus a Unicode-script gate for languages whose script alone
identifies them (zh/ja/ko/th/el/he/hi/ar).

Decision procedure per document (first ``cap`` chars, lowercased):

1. **Script gate** — count letters per Unicode script class. No
   letters at all → ``und``. A dominant (≥ 50%) non-alphabet script
   maps directly: kana presence ≥ 5% with Han+kana dominant → ``ja``,
   else Han → ``zh``; Hangul → ``ko``; Thai → ``th``; Greek → ``el``;
   Hebrew → ``he``; Devanagari → ``hi``; Arabic → ``ar``.
2. **Trigram scoring** (Latin/Cyrillic scripts — 21 profiled
   languages) — normalize to the letter alphabet (non-letters → one
   ``_``), pad with ``_``, explode char trigrams, join the broadcast
   profile table, and score every (doc, language) pair as

       score = Σ matched w_micro + n_unmatched · oov_micro(lang)

   with ``w_micro = floor(1e6·ln(count/total))`` from the profile
   corpus and ``oov_micro = floor(1e6·ln(0.5/total))`` (the
   add-half-count OOV floor). All integer arithmetic.
3. **Confidence** — ``und`` unless the best language's matched-gram
   fraction ≥ ``min_match_frac`` AND the best-vs-second total margin
   ≥ ``margin_micro``. The default margin 4 595 000 µnat = ln(99) is
   the log-space twin of C4 §2.2's "probability ≥ 0.99" gate: under
   the naive-Bayes reading of the scores, best − second ≥ ln(99)
   ⇔ P(best) ≥ 0.99 · (P(best)+P(second)).

100 TB plan shape: the gate is ~10 bounded ``regexp_count`` row
expressions; the trigram path explodes ≤ ``cap`` grams per doc
(bounded — language ID needs a prefix, not the document), LEFT-joins
a profile table of ~2k rows (broadcast by construction), and reduces
with ONE doc-keyed aggregation whose per-language conditional
partials collapse the gram rows to one row per doc before the
exchange. Nothing pairwise, nothing driver-side, no Python UDF.
"""

from __future__ import annotations

import math
import os
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_PROFILE_FILE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
    "lang_profiles.tsv",
)
DEFAULT_SAMPLE_FILE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
    "lang_samples.tsv",
)

# marker gram for the per-language OOV penalty row in the profile
# file — length ≠ 3, so it can never collide with a real trigram
OOV_GRAM = "*oov*"

# decision defaults (documented in the module docstring)
CAP_CHARS = 600
MIN_GRAMS = 6
MIN_MATCH_FRAC_MICRO = 200_000  # ≥ 20% of grams matched in winner
MARGIN_MICRO = 4_595_000  # ln(99) µnat — the C4 P≥0.99 gate
TOP_K_GRAMS = 200
UND = "und"

# the column names detect_language's pipeline creates (the indexed
# _mw_<i>/_nm_<i> aggregates are matched by pattern): a carry column
# of the same name would be shadowed or duplicated
_PIPELINE_COLS = frozenset({
    "_lo", "_p", "_n", "_gate", "_ch", "_g", "gram", "ws",
    "_a", "_bl", "_bs", "_bnm", "_ss",
    "lang", "lang_score_micro", "lang_margin_micro",
})


def _ranges(*ranges: tuple[int, int]) -> str:
    return "".join(f"{chr(a)}-{chr(b)}" for a, b in ranges)


def _cls(*ranges: tuple[int, int]) -> str:
    """A character class with LITERAL endpoints, valid verbatim in
    Java regex (Spark), RE2 (DuckDB), and Python ``re`` — one string,
    three engines, zero drift. No lookaheads/backrefs anywhere in
    this module: RE2 (the DuckDB twin's engine) has neither."""
    return "[" + _ranges(*ranges) + "]"


_LATIN_RANGES = (
    (ord("a"), ord("z")),
    (0x00DF, 0x00F6),  # ß…ö (Latin-1 letters, lowercase block)
    (0x00F8, 0x00FF),  # ø…ÿ
    (0x0100, 0x024F),  # Latin Extended-A/B (ā ă ę ı ș ť ơ ư …)
    (0x1E00, 0x1EFF),  # Latin Extended Additional (Vietnamese tones)
)
_CYRILLIC_RANGES = ((0x0400, 0x04FF),)

# the trigram alphabet: letters of the 21 profiled languages
# (lowercased Latin incl. every extension the samples use, plus
# Cyrillic). Everything else becomes '_' before gram extraction.
LETTER_CLASS = _cls(*_LATIN_RANGES, *_CYRILLIC_RANGES)
# a RUN of non-alphabet chars (negated class — engine-portable,
# unlike a lookahead) collapses to one '_'
NON_LETTER_RUN = "[^" + _ranges(*_LATIN_RANGES, *_CYRILLIC_RANGES) + "]+"

# script-gate classes (counted over the lowercased capped prefix)
SCRIPT_CLASSES: dict[str, str] = {
    "latin": _cls(*_LATIN_RANGES),
    "cyrillic": _cls(*_CYRILLIC_RANGES),
    "han": _cls((0x3400, 0x4DBF), (0x4E00, 0x9FFF), (0xF900, 0xFAFF)),
    "hiragana": _cls((0x3041, 0x3096)),
    "katakana": _cls((0x30A1, 0x30FA), (0xFF66, 0xFF9D)),
    "hangul": _cls((0xAC00, 0xD7A3), (0x1100, 0x11FF), (0x3130, 0x318F)),
    "thai": _cls((0x0E01, 0x0E5B)),
    "greek": _cls((0x0370, 0x03FF), (0x1F00, 0x1FFF)),
    "hebrew": _cls((0x0590, 0x05FF)),
    "devanagari": _cls((0x0900, 0x097F)),
    "arabic": _cls((0x0600, 0x06FF), (0x0750, 0x077F)),
}

# script → language for the single-language scripts; Han/kana handled
# as a special case (ja/zh) in the gate expression
SCRIPT_LANG = {
    "hangul": "ko",
    "thai": "th",
    "greek": "el",
    "hebrew": "he",
    "devanagari": "hi",
    "arabic": "ar",
}

# dominance thresholds, in micro-fraction of total letters
DOMINANT_MICRO = 500_000  # ≥ 50% of letters
KANA_MICRO = 50_000  # ≥ 5% kana (Japanese prose mixes kanji + kana)


# ---------------------------------------------------------------------------
# pure-Python reference twin (profile building + property tests)
# ---------------------------------------------------------------------------


def py_normalize(text: str, cap: int | None = None) -> str:
    """The exact normalization the Spark/DuckDB scorers apply:
    lowercase → cap → non-letters (runs) → single ``_`` → pad with
    ``_``. The builder and the property tests share it."""
    s = text.lower()
    if cap is not None:
        s = s[:cap]
    s = re.sub(NON_LETTER_RUN, "_", s)
    return "_" + s + "_"


def py_trigrams(text: str, cap: int | None = None) -> list[str]:
    p = py_normalize(text, cap)
    return [p[i : i + 3] for i in range(len(p) - 2)]


def build_profiles(
    samples: dict[str, list[str]],
    top_k: int = TOP_K_GRAMS,
) -> dict[str, dict]:
    """Derive integer micro-nat trigram profiles from a sample corpus
    — the deterministic build step behind
    ``data/lang_profiles.tsv`` (tools/build_lang_profiles.py). For
    each language: count trigrams over all samples, keep the
    ``top_k`` by (count desc, gram asc), weight each kept gram
    ``floor(1e6·ln(count/total))`` and price unseen grams at
    ``floor(1e6·ln(0.5/total))``."""
    out: dict[str, dict] = {}
    for lang in sorted(samples):
        counts: dict[str, int] = {}
        for s in samples[lang]:
            for g in py_trigrams(s):
                counts[g] = counts.get(g, 0) + 1
        total = sum(counts.values())
        if total == 0:
            raise ValueError(f"no trigrams for language {lang!r}")
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
        grams = {
            g: math.floor(1_000_000 * math.log(c / total)) for g, c in top
        }
        out[lang] = {
            "grams": grams,
            "oov_micro": math.floor(1_000_000 * math.log(0.5 / total)),
        }
    return out


def load_samples(path: str | None = None) -> dict[str, list[str]]:
    """Read the shipped ``lang<TAB>sentence`` sample corpus."""
    samples: dict[str, list[str]] = {}
    with open(path or DEFAULT_SAMPLE_FILE, encoding="utf-8") as fh:
        for line in fh:
            line = line.rstrip("\n")
            if not line or line.startswith("#"):
                continue
            lang, text = line.split("\t", 1)
            samples.setdefault(lang, []).append(text)
    if not samples:
        raise ValueError(f"no samples in {path or DEFAULT_SAMPLE_FILE}")
    return samples


def load_lang_profiles(path: str | None = None) -> dict[str, dict]:
    """Read the shipped profile TSV (``lang  gram  w_micro``; the
    ``*oov*`` row carries the language's OOV penalty) into the
    scoring dict. ~21 languages × ≤ 97 rows — broadcast-sized by
    construction at any corpus scale."""
    profiles: dict[str, dict] = {}
    with open(path or DEFAULT_PROFILE_FILE, encoding="utf-8") as fh:
        for line in fh:
            line = line.rstrip("\n")
            if not line or line.startswith("#"):
                continue
            lang, gram, w = line.split("\t")
            p = profiles.setdefault(lang, {"grams": {}, "oov_micro": None})
            if gram == OOV_GRAM:
                p["oov_micro"] = int(w)
            else:
                p["grams"][gram] = int(w)
    for lang, p in profiles.items():
        if p["oov_micro"] is None:
            raise ValueError(f"profile {lang!r} lacks its {OOV_GRAM} row")
        if not p["grams"]:
            raise ValueError(f"profile {lang!r} has no grams")
    if not profiles:
        raise ValueError(f"no profiles in {path or DEFAULT_PROFILE_FILE}")
    return profiles


def py_detect(
    text: str,
    profiles: dict[str, dict],
    cap: int = CAP_CHARS,
    min_grams: int = MIN_GRAMS,
    min_match_frac_micro: int = MIN_MATCH_FRAC_MICRO,
    margin_micro: int = MARGIN_MICRO,
) -> tuple[str, int | None, int | None]:
    """Pure-Python twin of :func:`detect_language` for one string —
    the property-test reference model. Returns
    (lang, score_micro, margin_micro)."""
    low = text.lower()[:cap]

    def _n(cls: str) -> int:
        return len(re.findall(cls, low))

    counts = {k: _n(v) for k, v in SCRIPT_CLASSES.items()}
    total = sum(counts.values())
    if total == 0:
        return (UND, None, None)
    kana = counts["hiragana"] + counts["katakana"]
    if (
        kana * 1_000_000 >= total * KANA_MICRO
        and (counts["han"] + kana) * 1_000_000 >= total * DOMINANT_MICRO
    ):
        return ("ja", None, None)
    if counts["han"] * 1_000_000 >= total * DOMINANT_MICRO:
        return ("zh", None, None)
    for script, lang in SCRIPT_LANG.items():
        if counts[script] * 1_000_000 >= total * DOMINANT_MICRO:
            return (lang, None, None)

    grams = py_trigrams(text, cap)
    n = len(grams)
    if n < min_grams:
        return (UND, None, None)
    scored = []
    for lang in sorted(profiles):
        p = profiles[lang]
        mw = sum(p["grams"].get(g, 0) for g in grams)
        nm = sum(1 for g in grams if g in p["grams"])
        score = mw + (n - nm) * p["oov_micro"]
        scored.append((-score, lang, nm, score))
    scored.sort()
    _, best_lang, best_nm, best_score = scored[0]
    second_score = scored[1][3]
    margin = best_score - second_score
    if best_nm * 1_000_000 < n * min_match_frac_micro:
        return (UND, best_score, margin)
    if margin < margin_micro:
        return (UND, best_score, margin)
    return (best_lang, best_score, margin)


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------


def _count(col: Column, cls: str) -> Column:
    return F.regexp_count(col, F.lit(cls))


def script_gate_expr(low: Column) -> Column:
    """The script-gate decision as one expression over the lowercased
    capped prefix: a language code for script-identified docs,
    ``'und'`` for letter-less docs, NULL when the doc should go to
    the trigram path."""
    counts = {k: _count(low, v) for k, v in SCRIPT_CLASSES.items()}
    total = sum(counts.values())
    kana = counts["hiragana"] + counts["katakana"]
    gate = F.when(total == 0, F.lit(UND)).when(
        (kana * 1_000_000 >= total * KANA_MICRO)
        & ((counts["han"] + kana) * 1_000_000 >= total * DOMINANT_MICRO),
        F.lit("ja"),
    )
    gate = gate.when(
        counts["han"] * 1_000_000 >= total * DOMINANT_MICRO, F.lit("zh")
    )
    for script, lang in SCRIPT_LANG.items():
        gate = gate.when(
            counts[script] * 1_000_000 >= total * DOMINANT_MICRO,
            F.lit(lang),
        )
    return gate


def normalize_expr(low: Column) -> Column:
    """Lowercased capped prefix → padded trigram alphabet string
    (the Spark spelling of :func:`py_normalize`)."""
    collapsed = F.regexp_replace(low, NON_LETTER_RUN, "_")
    return F.concat(F.lit("_"), collapsed, F.lit("_"))


# ---- SQL-string twins of the two builders above ----
#
# detect_language assembles its projections from these instead of the
# Column forms: the gate alone is ~11 regexp_counts referenced through
# ~40 binary ops, and building it Column-by-Column costs ~0.12 s of
# py4j round-trips per call (the lsh_bands name-form construction
# lesson — OPTIMIZATION_r18 finding 6). One parsed string is ~1 ms and
# yields the same expression tree. The character classes are LITERAL
# unicode endpoints (no backslashes, no quotes — see _cls), so
# embedding them in a single-quoted SQL literal is escape-free.
# tests/test_expr_string_builders.py pins string form ≡ Column form.


def _script_gate_sql(low: str) -> str:
    """:func:`script_gate_expr` over a column NAME, as one SQL string."""
    cnt = {k: f"regexp_count({low}, '{v}')" for k, v in SCRIPT_CLASSES.items()}
    total = "(0 + " + " + ".join(cnt[k] for k in SCRIPT_CLASSES) + ")"
    kana = f"({cnt['hiragana']} + {cnt['katakana']})"
    arms = [f"WHEN {total} = 0 THEN '{UND}'"]
    arms.append(
        f"WHEN {kana} * 1000000 >= {total} * {KANA_MICRO} AND "
        f"({cnt['han']} + {kana}) * 1000000 >= {total} * {DOMINANT_MICRO} "
        f"THEN 'ja'"
    )
    arms.append(
        f"WHEN {cnt['han']} * 1000000 >= {total} * {DOMINANT_MICRO} THEN 'zh'"
    )
    for script, lang in SCRIPT_LANG.items():
        arms.append(
            f"WHEN {cnt[script]} * 1000000 >= {total} * {DOMINANT_MICRO} "
            f"THEN '{lang}'"
        )
    return "CASE " + " ".join(arms) + " END"


def _normalize_sql(low: str) -> str:
    """:func:`normalize_expr` over a column NAME, as one SQL string."""
    return f"concat('_', regexp_replace({low}, '{NON_LETTER_RUN}', '_'), '_')"


def packed_profile_frame(spark, profiles: dict[str, dict], langs: list[str]):
    """ONE row per distinct profiled gram: ``(gram, ws)`` where
    ``ws[i]`` is ``langs[i]``'s w_micro for that gram (NULL when the
    gram is not in that language's profile) — the r19 join shape.

    Why: the per-(lang, gram) table LEFT-joined onto the gram rows
    EXPANDED them (measured 1.49M -> 4.43M rows at sf0.1: a common
    gram is in several languages' profiles), and every expanded row
    paid ~2·n_langs string-compare CASE aggregate updates. Packed,
    the join is 1:1 (gram is unique) and the aggregates index the
    array (`sum(ws[i])` / `count(ws[i])`) — same nulls, same sums,
    bit-identical scores (A/B: 0 differing rows), ~3x fewer rows into
    the partial aggregation at any scale. Broadcast-sized by
    construction, like :func:`profile_frames`."""
    import pandas as pd

    packed: dict[str, list] = {}
    n = len(langs)
    for i, lang in enumerate(langs):
        for g, w in profiles[lang]["grams"].items():
            packed.setdefault(g, [None] * n)[i] = w
    grams_sorted = sorted(packed)
    return spark.createDataFrame(
        pd.DataFrame(
            {"gram": grams_sorted, "ws": [packed[g] for g in grams_sorted]}
        ),
        "gram string, ws array<long>",
    )


def profile_frames(spark, profiles: dict[str, dict]):
    """(gram table, language table) Spark frames for a profile dict —
    both broadcast-sized by construction."""
    gram_rows = [
        (lang, g, w)
        for lang in sorted(profiles)
        for g, w in sorted(profiles[lang]["grams"].items())
    ]
    lang_rows = [
        (lang, profiles[lang]["oov_micro"]) for lang in sorted(profiles)
    ]
    # pandas input: with Arrow enabled the local rows ship to the JVM
    # as Arrow batches, so materializing these ≤4k-row reference
    # tables never launches Python workers on the executors (the
    # plain-list path pickles one slice per core and pays a worker
    # round-trip per task every time the broadcast side is built)
    import pandas as pd

    grams_df = spark.createDataFrame(
        pd.DataFrame(gram_rows, columns=["lang", "gram", "w_micro"]),
        "lang string, gram string, w_micro long",
    )
    langs_df = spark.createDataFrame(
        pd.DataFrame(lang_rows, columns=["lang", "oov_micro"]),
        "lang string, oov_micro long",
    )
    return grams_df, langs_df


def detect_language(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    profiles: dict[str, dict] | None = None,
    cap: int = CAP_CHARS,
    min_grams: int = MIN_GRAMS,
    min_match_frac_micro: int = MIN_MATCH_FRAC_MICRO,
    margin_micro: int = MARGIN_MICRO,
    carry: dict[str, Column] | None = None,
) -> DataFrame:
    """One row per input doc: ``(id_col, *carry, lang,
    lang_score_micro, lang_margin_micro)``. ``lang`` is a BCP-47-ish
    lowercase code or ``'und'``; the score/margin columns are NULL on
    the script-gate path (the gate is categorical, not
    likelihood-scored).

    ``carry`` (r19, §2.4 remove-shuffles): optional extra per-doc
    output columns, ``{name: expression over df's columns}``,
    computed in the FIRST projection and carried through the pipeline
    as additional group keys. Callers that would otherwise compute
    per-doc stats separately and JOIN them back on ``id_col`` (the
    old text_profile / lang_report shape) fuse into this one pipeline
    instead: at scale that removes the doc-keyed sort-merge join (two
    exchanges + sorts of n_docs rows) AND a second corpus scan; at
    sf0.1 it removed one job and ~0.5 s wall (A/B: 0 differing rows).
    Requires ``id_col`` to be unique per row (the module's standing
    one-row-per-doc contract — with duplicate ids the join shape
    multiplies rows where this shape groups them).

    Plan (r18 single-pipeline rewrite): ONE projection computes the
    gate + normalized trigram array; ``explode_outer`` keeps every
    doc alive (gated/short docs ride a NULL sentinel gram); the
    profile table broadcast-LEFT-joins onto the gram rows; and ONE
    ``groupBy(doc)`` with per-language conditional partial aggregates
    reduces straight to one row per doc. The r17 shape persisted the
    gate projection and joined it back to a two-level (doc, lang) /
    doc aggregation — one cache materialization, a sort-merge join,
    and an extra exchange that the conditional-aggregate shape makes
    unnecessary (r18 A/B: 2.6 → 1.2 s force at sf0.1, bit-identical;
    the partial aggregate means the exploded gram rows never cross an
    exchange at any scale). See the module docstring for the decision
    rules and their published citations."""
    carry = carry or {}
    for name in carry:
        if not re.fullmatch(r"[A-Za-z0-9_]+", name):
            raise ValueError(f"unsupported carry column name {name!r}")
        # Spark resolves column names case-insensitively
        low = name.lower()
        if (
            low in _PIPELINE_COLS
            or low == id_col.lower()
            or re.fullmatch(r"_(mw|nm)_[0-9]+", low)
        ):
            raise ValueError(
                f"carry column name {name!r} collides with a column "
                "detect_language uses itself (its internal columns, "
                f"its outputs or id_col {id_col!r})"
            )
    spark = df.sparkSession
    profiles = profiles if profiles is not None else load_lang_profiles()
    if len(profiles) < 2:
        raise ValueError(
            "detect_language needs >= 2 profiled languages (the "
            "margin gate compares best vs second-best)"
        )
    langs = sorted(profiles)
    grams_df = packed_profile_frame(spark, profiles, langs)
    # language codes are interpolated into generated SQL fragments
    # below (one parsed expr string instead of ~400 py4j Column calls
    # — construction is part of every query's wall); keep that safe
    for lang in langs:
        if not re.fullmatch(r"[A-Za-z0-9_-]+", lang):
            raise ValueError(f"unsupported language code {lang!r}")

    # stage the lowered capped prefix ONCE: the gate + normalize
    # reference it ~13 times, and CollapseProject keeps a
    # multiply-referenced alias in its own projection (the
    # with_shingles staging discipline). Every projection below is
    # assembled as SQL strings (the _script_gate_sql twins): the
    # Column-built chain cost ~0.5 s of py4j round-trips per call
    # (finding 6) for the identical trees.
    idq = f"`{id_col}`"
    cq = [f"`{n}`" for n in carry]  # carried through every projection
    staged = df.select(
        F.col(id_col),
        *[expr.alias(name) for name, expr in carry.items()],
        F.expr(
            f"lower(substring(coalesce(`{text_col}`, ''), 1, {int(cap)}))"
        ).alias("_lo"),
    )
    base = staged.selectExpr(
        idq,
        *cq,
        _script_gate_sql("_lo") + " AS _gate",
        _normalize_sql("_lo") + " AS _p",
    )
    base = base.selectExpr(idq, *cq, "_gate", "_p", "length(_p) - 2 AS _n")

    # Three plan-shape rules here, each a measured r17 bench catch at
    # sf0.1 (15 s → 1.3 s on the gram side):
    # 1. NEVER put the gate in a FILTER: predicate pushdown inlines
    #    the whole CASE into a Filter condition where every script
    #    regexp_count re-evaluates per CASE arm (~100 regex scans per
    #    row — filters get no codegen subexpression elimination;
    #    projections do, so the gate stays a PROJECT column and the
    #    trigram array is gated IN-projection with a WHEN — gated
    #    docs emit an empty array (a NULL sentinel row under
    #    explode_outer).
    # 2. No substring(p, i, 3) trigrams: UTF8String substring
    #    re-scans from the string start per call (O(cap²)/doc).
    # 3. (r19 revision of the r17 rule) Trigrams via ONE index lambda
    #    over sequence(1, size-2) with _ch STAGED in its own
    #    projection. The r17 zip_with(zip_with(slice…)) chain paid two
    #    interpreted HOF passes and two intermediate string
    #    allocations per gram; with _ch staged, CollapseProject does
    #    NOT inline split() into the lambda (plan-verified: one split
    #    per row) and the single-pass concat of three array lookups
    #    measured 20.4 -> 17.7 executor core-seconds / 1.90 -> 1.02 s
    #    wall on the gram subtree at sf0.1 (A/B: 0 differing rows,
    #    including gated/short/empty/null docs). The size guard keeps
    #    sequence() off empty arrays (sequence(1,0) would DESCEND and
    #    index out of bounds under ANSI).
    chars = base.selectExpr(
        idq,
        *cq,
        "_gate",
        "_n",
        f"CASE WHEN _gate IS NULL AND _n >= {int(min_grams)} "
        "THEN split(_p, '') "
        "ELSE CAST(array() AS ARRAY<STRING>) END AS _ch",
    )
    tri_arr = (
        "CASE WHEN size(_ch) >= 3 THEN "
        "transform(sequence(1, size(_ch) - 2), "
        "i -> concat(_ch[i - 1], _ch[i], _ch[i + 1])) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    # explode_outer: tri-path docs emit their ≤ cap grams, gated and
    # too-short docs emit ONE NULL-gram sentinel row — every doc
    # survives the generate, so no join back to the base is needed
    grams = chars.selectExpr(
        idq, *cq, "_gate", "_n", f"explode_outer({tri_arr}) AS _g"
    )
    # LEFT join: unmatched and sentinel grams keep their row with a
    # NULL ws and fall through every aggregate below. The packed
    # frame has ONE row per gram, so the join is 1:1 — no row
    # expansion (see packed_profile_frame). bcast-bound: the shipped
    # profile file (≤ ~2.3k distinct grams) — a data-file constant,
    # never sf-scaled.
    joined = grams.join(
        F.broadcast(grams_df), grams["_g"] == grams_df["gram"], "left"
    )
    # ONE aggregation straight to a row per doc: per-language matched
    # weight + matched count as array-indexed partial aggregates (the
    # groupBy keys _gate/_n are constant within a doc) — sum/count
    # skip the NULL slots exactly as the old per-(lang,gram) CASE
    # conditionals did (bit-identical, A/B-pinned). Rows reduce to
    # one per doc BEFORE the exchange — at any corpus size the
    # shuffle carries n_docs rows of 2·n_langs longs, never the
    # exploded grams.
    agg_exprs = []
    for i, lang in enumerate(langs):
        agg_exprs.append(F.expr(f"sum(ws[{i}])").alias(f"_mw_{i}"))
        agg_exprs.append(F.expr(f"count(ws[{i}])").alias(f"_nm_{i}"))
    per_doc = joined.groupBy(id_col, *carry, "_gate", "_n").agg(*agg_exprs)

    # score all languages in one parsed expression: ascending sort on
    # (-score, lang) = best score first, smallest code on ties —
    # deterministic argmax, same integer arithmetic as py_detect
    ent_strs = []
    for i, lang in enumerate(langs):
        oov = int(profiles[lang]["oov_micro"])
        sc = f"(coalesce(_mw_{i}, 0L) + (_n - _nm_{i}) * {oov}L)"
        ent_strs.append(
            f"struct(-{sc} AS ns, '{lang}' AS lang, _nm_{i} AS nm, "
            f"{sc} AS score)"
        )
    ranked = per_doc.selectExpr(
        idq,
        *cq,
        "_gate",
        "_n",
        "array_sort(array(" + ", ".join(ent_strs) + ")) AS _a",
    )
    best = ranked.selectExpr(
        idq,
        *cq,
        "_gate",
        "_n",
        "_a[0].lang AS _bl",
        "_a[0].score AS _bs",
        "_a[0].nm AS _bnm",
        "_a[1].score AS _ss",
    )
    tri_path = f"(_gate IS NULL AND _n >= {int(min_grams)})"
    lang_sql = (
        "CASE WHEN _gate IS NOT NULL THEN _gate "
        f"WHEN _n < {int(min_grams)} THEN '{UND}' "
        f"WHEN _bnm * 1000000 < _n * {int(min_match_frac_micro)} "
        f"THEN '{UND}' "
        f"WHEN _bs - _ss < {int(margin_micro)} THEN '{UND}' "
        "ELSE _bl END"
    )
    return best.selectExpr(
        idq,
        *cq,
        lang_sql + " AS lang",
        f"CASE WHEN {tri_path} THEN _bs ELSE CAST(NULL AS BIGINT) END "
        "AS lang_score_micro",
        f"CASE WHEN {tri_path} THEN _bs - _ss "
        "ELSE CAST(NULL AS BIGINT) END AS lang_margin_micro",
    )


def lang_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    profiles: dict[str, dict] | None = None,
    **kwargs,
) -> DataFrame:
    """Per-language corpus audit — the size table every multilingual
    recipe publishes (CCNet reports per-language corpus sizes;
    C4/mC4 data cards likewise): one row per detected language with
    ``(lang, n_docs, n_tokens, doc_share)``. Token counts use the
    CJK-robust :func:`~cybersecurity_miw_spark.operators.textstats.
    token_count`, so whitespace-free scripts report real volumes.

    Plan: the detect_language chain with the token count CARRIED as a
    fused per-doc column (r19 — the old shape computed it in a second
    corpus scan and joined back on the id key) + ONE count aggregation
    on the language key; ``doc_share`` is a window over the
    languages-bounded (≤ ~30 rows) aggregate — no driver-side total,
    no corpus-wide window."""
    from pyspark.sql.window import Window

    from cybersecurity_miw_spark.operators.textstats import token_count

    det = detect_language(
        df,
        text_col=text_col,
        id_col=id_col,
        profiles=profiles,
        carry={"_t": token_count(F.col(text_col))},
        **kwargs,
    ).select(id_col, "lang", "_t")
    per = (
        det
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_t").cast("long").alias("n_tokens"),
        )
    )
    total = F.sum("n_docs").over(Window.partitionBy())
    return per.withColumn(
        "doc_share",
        F.floor(
            F.col("n_docs") / total * F.lit(1_000_000.0) + F.lit(0.5)
        )
        / F.lit(1_000_000.0),
    )


def with_language(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "lang_guess",
    **kwargs,
) -> DataFrame:
    """``df`` + the detected language under ``out_col`` — the
    drop-in upgrade of the stopword ``lang_guess`` column (one
    id-keyed join; the profile side is broadcast)."""
    langs = detect_language(df, text_col, id_col, **kwargs).select(
        id_col, F.col("lang").alias(out_col)
    )
    return df.join(langs, id_col, "left")
