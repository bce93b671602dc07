"""Generate docs/QUERIES.md from the live catalog: every registered
query, its first docstring sentence, oracle coverage, and driver-
window membership. Run after adding queries:

    python tools/gen_query_index.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from cybersecurity_miw_spark.catalog import (  # noqa: E402
    ORACLE,
    QUERIES,
    _DRIVER_WINDOW,
)


# summaries for catalog functions registered without docstrings
# (older queries whose behavior is documented at their _SQL consts) —
# used only as a fallback; a docstring on the function wins
FALLBACK = {
    "miw_events_summary": "Flagship format-compiler pipeline: tokenize → typed derive → match → 6-aggregate groupBy on (day, etype) with ratio and union histogram.",
    "date_buckets": "P10 date parse + day/month/year bucketing through the glibc-faithful strptime compiler; shuffle-free narrow scan.",
    "match_substring_or": "F4 OR-logic multi-value substring match over the tokenized line.",
    "agg_union_count_histogram": "A9 union_count: per-group value histogram with bounded-memory two-level aggregation.",
    "order_topk_groups": "O1/O2 final ordering + top-K groups (logs desc, id asc) via TakeOrdered.",
    "tpch_q1_pricing_summary": "TPC-H Q1 pricing summary over lineitem (cents-scaled integer aggregates).",
    "tpch_q3_shipping_priority": "TPC-H Q3 shipping priority: 3-way join + revenue top-10.",
    "session_summary_30min": "30-minute-gap sessionization: per-session event count and span via one windowed pass.",
    "topn_events_per_user": "Top-N highest-value events per user; rank window on one hash exchange.",
    "dedup_exact_groups": "Exact duplicate groups by md5 text fingerprint (uniform groupBy key).",
    "minhash_signatures": "MinHash signatures over word 3-shingles; staged Spark hash arrays, permutation minima in one numpy Arrow kernel.",
    "minhash_lsh_candidates": "LSH banded candidate pairs: self-join on (band, band-hash), never all-pairs.",
    "near_dup_jaccard_confirm": "LSH candidates confirmed by exact shingle Jaccard >= threshold.",
    "simhash_band_candidates": "SimHash Hamming-band candidate pairs (md5-keyed bands).",
    "text_profile": "Per-doc language guess, token count, quality ratios, rolling-hash fingerprint — all JVM regexp/arith.",
    "tfidf_top_terms": "TF-IDF top terms per doc: df + tf joins, per-doc rank window.",
    "cosine_brute_topk": "Brute-force cosine top-k vs a query vector; TakeOrdered, no global sort.",
    "ann_lsh_topk": "Hyperplane-LSH ANN: bucket filter then TakeOrdered — partition-prunable at scale.",
    "embedding_near_dup_lsh": "Embedding near-duplicate pairs via LSH buckets; per-vector norms precomputed.",
    "tokenize_typed_projection": "P1-P3 delimiter/quote-aware tokenization with typed positional projection.",
    "atoi_prefix_parity": "P7 atoi-prefix int cast parity (digits consumed greedily, tail ignored).",
    "quote_strip_trim": "P5/P6 double-quote strip + whitespace chomp.",
    "unix_epoch_parse": "P10 %s epoch-seconds parse path.",
    "time_buckets": "P11 time-only hour/minute bucketing.",
    "url_retemplate": "P12 URL re-templating (value-bearing query params collapsed).",
    "kv_evtx_explode": "P13 evtxcsv k/v payload explosion into dynamic fields.",
    "kv_evtx2_explode": "P14 evtxcsv2 variant k/v explosion.",
    "dns_wire_decode": "P15 Microsoft-DNS wire-format name decode ((3)www(6)google(3)com(0)).",
    "match_exact_or": "F2/F4 exact-match OR over a value set.",
    "match_negative_exact": "F5 negative exact match (drop rows whose token equals any set value).",
    "semi_join_membership": "J1 semi-join membership against a file-backed match set.",
    "anti_join_membership": "J1 anti-join variant (negative membership).",
    "agg_union_sorted": "A8 union aggregate with sorted capped value list.",
    "agg_union_numeric_append": "A8 union over numeric values (append semantics twin).",
    "wc_wordcount": "2.8 wc companion app: word count over documents.",
    "dedup_exact_survivors": "Exact dedup survivor set (min doc_id per fingerprint).",
    "simhash_fingerprints": "64-bit SimHash fingerprints (xxhash64 default — rows-only by design).",
    "simhash_md5_fingerprints": "SimHash with md5-derived bit hashes (SQL-reproducible twin).",
    "pairwise_cosine_topk": "Guarded-broadcast pairwise cosine top-k (hard-errors beyond 10k queries).",
    "embedding_near_dup_pairs": "Exact embedding near-dup baseline (guarded pairwise).",
    "appname_id_suffix": "P16 appname tag: id suffixed with the app name.",
    "agg_count_a3": "A3 per-field non-empty count (intent semantics).",
    "agg_first_a12": "A12 first-value aggregate.",
    "app_string_match": "2.8 string_match companion app.",
    "embedding_l2_normalize": "L2-normalize embeddings (narrow projection).",
    "embedding_quantize_int8": "Symmetric int8 quantization of embeddings.",
}


import re

# a sentence ends at a "." followed by whitespace AND an
# uppercase/quote/paren/digit sentence start — "i.e. lowercase" and
# "e.g. foo" are not boundaries (VERDICT r10: the plain ". " split
# truncated a summary mid-clause at "i.e.")
_SENT_END = re.compile(r"\.(?=\s+[A-Z`\"'(0-9])")


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    m = _SENT_END.search(text)
    return text[: m.end()] if m else text


def render() -> str:
    """The full QUERIES.md text — deterministic, so the freshness test
    can exact-compare it against the committed file."""
    window = set(_DRIVER_WINDOW)
    lines = [
        "# Query catalog index",
        "",
        "Generated by `tools/gen_query_index.py` — do not edit by hand.",
        "",
        f"{len(QUERIES)} queries; {len(ORACLE)} with full-hash DuckDB "
        "oracles (the rest are rows-only by design: sketch estimates, "
        "iterative algorithms, xxhash-keyed fingerprints). "
        "`window` marks the 50 queries the round driver hash-verifies "
        "at sf0.01; every other oracled query gets the same full-hash "
        "check in `tests/test_oracle_parity.py`.",
        "",
        "| query | oracle | window | summary |",
        "|---|---|---|---|",
    ]
    for name, fn in QUERIES.items():
        summary = (
            first_sentence(fn.__doc__) or FALLBACK.get(name, "")
        ).replace("|", "\\|")
        lines.append(
            f"| `{name}` | {'sql' if name in ORACLE else 'rows-only'} "
            f"| {'yes' if name in window else ''} | {summary} |"
        )
    return "\n".join(lines) + "\n"


def main() -> None:
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "QUERIES.md",
    )
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        f.write(render())
    print(f"wrote {out}: {len(QUERIES)} queries")


if __name__ == "__main__":
    main()
