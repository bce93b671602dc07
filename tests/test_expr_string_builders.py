"""The r18 construction-cost fix gave lsh_bands and hyperplane_bucket
a column-NAME fast path that assembles the expression as one SQL
string instead of per-element py4j calls. The contract is that both
forms produce the IDENTICAL tree — these tests pin the observable
half of that contract (bit-identical results) so a future edit to
one path cannot silently diverge from the other."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cybersecurity_miw_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_lsh_bands_name_form_matches_column_form(docs):
    sig = dedup.with_signature(docs)
    old = sig.select(
        "doc_id", F.explode(dedup.lsh_bands(F.col("_sig"), 16, 7)).alias("b")
    )
    new = sig.select(
        "doc_id", F.explode(dedup.lsh_bands("_sig", 16, 7)).alias("b")
    )
    assert old.schema == new.schema
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


@pytest.mark.parametrize("offset", [0, 3])
def test_hyperplane_bucket_name_form_matches_column_form(emb, offset):
    dim = len(emb.select("embedding").first()[0])
    old = emb.select(
        "vec_id",
        similarity.hyperplane_bucket(
            F.col("embedding"), dim, 12, plane_offset=offset
        ).alias("b"),
    )
    new = emb.select(
        "vec_id",
        similarity.hyperplane_bucket(
            "embedding", dim, 12, plane_offset=offset
        ).alias("b"),
    )
    diff = (
        old.alias("o")
        .join(new.alias("n"), "vec_id")
        .filter(F.col("o.b") != F.col("n.b"))
        .count()
    )
    assert diff == 0


def test_with_shingles_string_form_matches_column_form(docs):
    from cybersecurity_miw_spark.operators import textstats

    new = textstats.with_shingles(docs, "text", 3, "_sh", keep=("doc_id",))
    # the pre-r18 Column-built chain, verbatim
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    staged = docs.select("doc_id", words.alias("_w"))
    old = staged.select(
        "doc_id",
        textstats.shingles_from_words(F.col("_w"), 3).alias("_sh"),
    )
    assert old.schema == new.schema
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_langid_gate_and_normalize_sql_match_column_form(docs):
    from cybersecurity_miw_spark.operators import langid

    low = F.lower(F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 600))
    staged = docs.select("doc_id", low.alias("_lo"))
    old = staged.select(
        "doc_id",
        langid.script_gate_expr(F.col("_lo")).alias("g"),
        langid.normalize_expr(F.col("_lo")).alias("p"),
    )
    new = staged.selectExpr(
        "doc_id",
        langid._script_gate_sql("_lo") + " AS g",
        langid._normalize_sql("_lo") + " AS p",
    )
    assert old.schema == new.schema
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_adc_dist_expr_matches_python_sum(spark):
    # 2 subspaces x 4 codes; every code combination present
    lut = [[7, 1, 9, 3], [2, 8, 5, 11]]
    rows = [(i, [i % 4, (i * 3) % 4]) for i in range(16)]
    df = spark.createDataFrame(rows, "id INT, codes ARRAY<INT>")
    got = {
        r["id"]: r["d"]
        for r in df.select(
            "id", similarity._adc_dist_expr(lut, "codes").alias("d")
        ).collect()
    }
    for i, codes in rows:
        assert got[i] == lut[0][codes[0]] + lut[1][codes[1]]


# ---- r18 expression memoization (derive/aggregate) ----


def test_derive_column_memo_identity_and_resolved_pos_key(spark):
    """derive_column memoizes per (app, field repr, resolved_pos):
    repeated calls return the cached Column, while two fields whose
    dataclass reprs match but whose RESOLVED positions differ (pos is
    auto-increment-resolved, excluded from repr) must not collide —
    they read different tokens."""
    from cybersecurity_miw_spark.operators import derive
    from cybersecurity_miw_spark.plans.logdef import LogDef

    ldef = LogDef.from_json(
        {
            "format_name": "memo_probe",
            "delims": ",",
            "fields": [
                {"name": "a", "type": "string"},
                {"name": "b", "type": "string"},
            ],
        }
    )
    fa, fb = ldef.fields
    assert fa.resolved_pos != fb.resolved_pos
    assert derive.derive_column(fa) is derive.derive_column(fa)  # cached
    # same repr shape, different resolved_pos -> different expressions
    df = spark.createDataFrame([(["x", "y"],)], "`_tokens` array<string>")
    row = df.select(
        derive.derive_column(fa).alias("a"), derive.derive_column(fb).alias("b")
    ).first()
    assert (row["a"], row["b"]) == ("x", "y")


def test_simple_agg_exprs_returns_fresh_list(spark):
    """Callers extend the returned list (aggregate() does `aggs +=`);
    the memo must hand out a copy or the cache would grow per call."""
    from cybersecurity_miw_spark.operators.aggregate import simple_agg_exprs
    from cybersecurity_miw_spark.plans.logdef import LogDef

    ldef = LogDef.from_json(
        {
            "format_name": "memo_probe2",
            "delims": ",",
            "fields": [
                {"name": "k", "type": "string", "key": True},
                {"name": "v", "type": "float", "aggregated": True,
                 "aggregation": "sum"},
            ],
        }
    )
    first = simple_agg_exprs(ldef)
    n = len(first)
    first.append(F.lit(1))
    assert len(simple_agg_exprs(ldef)) == n


def test_derive_memo_single_app_eviction(spark, monkeypatch):
    """r19 (ADVICE r18): the per-app memo holds ONE application's
    entries — an app-id change clears it (stale Column handles point
    into a dead JVM), and with no active session nothing is cached (a
    None-keyed entry could serve dead handles across restarts)."""
    from cybersecurity_miw_spark import cache
    from cybersecurity_miw_spark.operators import derive
    from cybersecurity_miw_spark.plans.logdef import LogDef

    ldef = LogDef.from_json(
        {
            "format_name": "memo_evict_probe",
            "delims": ",",
            "fields": [{"name": "a", "type": "string"}],
        }
    )
    fa = ldef.fields[0]
    key = ("derive_column", repr(fa), fa.resolved_pos)
    derive.derive_column(fa)
    assert cache._MEMO[key][0] == spark.sparkContext.applicationId
    # app change -> memo cleared, repopulated under the new owner only
    monkeypatch.setattr(derive, "_app_id", lambda: "app-after-restart")
    col = derive.derive_column(fa)
    assert cache._MEMO_APP == "app-after-restart"
    assert list(cache._MEMO) == [key]
    assert cache._MEMO[key][0] == "app-after-restart"
    assert derive.derive_column(fa) is col
    # no active session -> build without caching
    monkeypatch.setattr(derive, "_app_id", lambda: None)
    assert derive.derive_column(fa) is not col
    assert list(cache._MEMO) == [key] and cache._MEMO[key][1] is col


def test_app_memo_serves_only_the_building_app():
    """ADVICE: two live applications (or threads straddling a session
    restart) share the memo, yet an entry built under one app is never
    served to another, and no build runs under the memo's lock."""
    import sys
    import threading

    from cybersecurity_miw_spark import cache

    def build(app):
        assert not cache._MEMO_LOCK.locked()
        return (app, object())

    a = cache.app_memo("app-A", ("probe",), lambda: build("app-A"))
    assert cache.app_memo("app-A", ("probe",), lambda: build("app-A")) is a
    b = cache.app_memo("app-B", ("probe",), lambda: build("app-B"))
    assert b[0] == "app-B"
    assert cache.app_memo("app-A", ("probe",), lambda: build("app-A")) is not a

    # stress: more threads than cores, alternating apps on shared keys
    wrong: list = []

    def worker(i):
        for j in range(300):
            app = f"app-{(i + j) % 3}"
            got = cache.app_memo(app, ("probe", j % 4), lambda: (app, j))
            if got[0] != app:
                wrong.append((app, got[0]))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert wrong == []
