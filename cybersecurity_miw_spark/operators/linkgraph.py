"""Link-graph analytics — the crawl-frontier scoring layer on top of
outlink extraction (htmlextract.html_outlinks → URL canonicalization
→ this module): href resolution, in-degree / anchor-text indexing,
the domain-level graph, integer fixed-point PageRank, and frontier
ranking. These are the primitives a large-scale crawl curation loop
runs between "pages were fetched" and "which URLs do we fetch next"
(the OPIC/PageRank frontier ordering of Cho et al. 1998 and every
production crawler since; RefinedWeb §3.1 and Dolma both gate and
weight by domain-level aggregates of exactly this shape).

Scale design: every operator is a bounded composition of explodes,
uniform-key aggregations and joins on URL/domain keys — no
driver-side edge lists, no adjacency matrices. PageRank is the one
iterative op; it follows the engine's integer driver-loop discipline
(apps.kmeans_train_int): scores are LONG
micro-units, every per-iteration aggregate is a LONG sum of integer
divisions — partition order cannot change a single bit — and the
driver sees only scalars, never rows. The damping split is the
standard PageRank ``(1-d) + d·Σ in-mass``; by default dangling mass
is dropped (the common graph-library choice: nodes without
out-links do not redistribute; totals shrink, order — the only
thing a frontier consumes — is unaffected), and
``redistribute_dangling=True`` opts into the published Page et al.
uniform redistribution (one extra 1-row aggregate per iteration;
mass conserved up to integer dust).

href resolution (RFC 3986, bounded): absolute and protocol-relative
and root-relative references resolve exactly; path-relative
references merge against the base directory with a FIXED number of
dot-segment removal passes (``MAX_DOTSEG_PASSES``) — beyond that
depth the leftover ``../`` stays literal, documented rather than
looping unboundedly inside a row expression. Non-navigational
schemes (javascript:, mailto:, data:, tel:) and fragment-only
references resolve to NULL and drop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MICRO = 1_000_000
DEFAULT_DAMPING_MICRO = 850_000  # the canonical 0.85 (Page et al. 1999)
MAX_DOTSEG_PASSES = 4

_SKIP_SCHEMES = ("javascript:", "mailto:", "data:", "tel:")


def _base_parts(base: Column) -> tuple[Column, Column, Column, Column]:
    """(scheme, authority, directory-path, full-path) of an absolute
    base URL. The directory path is everything through the LAST '/'
    of the path segment (query/fragment stripped), '/' when the path
    is bare; the full path is the path segment verbatim (query-only
    references keep it whole, RFC 3986 §5.3)."""
    scheme = F.regexp_extract(base, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    authority = F.regexp_extract(base, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    path = F.regexp_extract(base, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    dirp = F.when(
        path.rlike("/"), F.regexp_replace(path, r"/[^/]*$", "/")
    ).otherwise(F.lit("/"))
    return scheme, authority, dirp, path


def resolve_href(base: Column, href: Column) -> Column:
    """RFC 3986 reference resolution as a pure row expression: an
    absolute target URL, or NULL for non-navigational references
    (empty, fragment-only, javascript:/mailto:/data:/tel:). The
    fragment is dropped from the result (crawl identity — the
    canonical_url contract). Dot-segments are removed with
    ``MAX_DOTSEG_PASSES`` bounded passes."""
    h = F.trim(F.coalesce(href, F.lit("")))
    # strip the fragment from the reference itself
    h = F.regexp_replace(h, r"#.*$", "")
    scheme, auth, dirp, fullp = _base_parts(base)
    lower = F.lower(h)
    is_skip = F.lit(False)
    for s in _SKIP_SCHEMES:
        is_skip = is_skip | lower.startswith(s)

    abs_url = F.when(h.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://"), h)
    proto_rel = F.when(h.startswith("//"), F.concat(scheme, F.lit(":"), h))
    root_rel = F.when(
        h.startswith("/"),
        F.concat(scheme, F.lit("://"), auth, h),
    )
    # query-only reference ('?page=2'): the base keeps its FULL path
    # (RFC 3986 §5.3 — not the directory merge), only the query is
    # replaced; the common pagination-href shape
    query_rel = F.when(
        h.startswith("?"),
        F.concat(scheme, F.lit("://"), auth, fullp, h),
    )
    path_rel = F.concat(scheme, F.lit("://"), auth, dirp, h)

    # a non-absolute BASE (no scheme://authority) cannot anchor a
    # relative reference — resolving against it would fabricate
    # '://'-malformed URLs that then flow into dedup/frontier keys;
    # absolute hrefs still resolve, everything else drops to NULL
    base_ok = auth != ""
    out = F.when(is_skip | (h == ""), F.lit(None).cast("string")).otherwise(
        F.coalesce(
            abs_url,
            F.when(
                base_ok,
                F.coalesce(proto_rel, root_rel, query_rel, path_rel),
            ),
        )
    )
    # bounded dot-segment removal on the PATH (never the authority):
    # "/./" collapses, then "/seg/../" collapses, a fixed number of
    # times — deeper ../ chains stay literal (documented bound)
    for _ in range(MAX_DOTSEG_PASSES):
        out = F.regexp_replace(out, r"(://[^/?#]*[^?#]*?)/\./", r"$1/")
        out = F.regexp_replace(
            out, r"(://[^/?#]*[^?#]*?)/[^/?#]+/\.\./", r"$1/"
        )
    # RFC 3986 remove_dot_segments drops '..' with an empty output
    # stack: a run of '../' left at the AUTHORITY ROOT after the
    # passes (the reference tried to climb above '/') collapses to
    # the root rather than surviving literally — caught by the
    # urljoin reference-model property suite
    out = F.regexp_replace(out, r"(://[^/?#]*)/(\.\./)+", r"$1/")
    return out


def outlink_edges(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    id_col: str = "doc_id",
    canonicalize: bool = True,
) -> DataFrame:
    """The production edge extractor: html_outlinks over the fetched
    pages, each href resolved against its page URL, canonicalized
    (urlcurate.canonical_url — tracking params, default ports, case),
    non-navigational links dropped. One row per surviving anchor:
    ``(id_col, src_url, dst_url, anchor_text, link_no)``. Pure
    row-expression chain on top of the outlink explode — zero
    exchanges; corpus-linear."""
    from cybersecurity_miw_spark.operators import htmlextract, urlcurate
    from cybersecurity_miw_spark.operators.derive import expr_memo

    links = htmlextract.html_outlinks(
        pages.select(id_col, url_col, html_col), html_col, id_col
    )
    # the canonicalization / href-resolution trees cost ~0.1 s EACH of
    # py4j construction per call (r19 streaming profile: outlink_edges
    # construction was 0.69 s of every micro-batch trigger) — memoized
    # per application, keyed by the column names they bind to
    src = pages.select(
        id_col,
        expr_memo(
            ("linkgraph.src_url", url_col, canonicalize),
            lambda: (
                urlcurate.canonical_url(F.col(url_col))
                if canonicalize
                else F.col(url_col)
            ),
        ).alias("src_url"),
        F.col(url_col).alias("_base"),
    )
    joined = links.join(src, id_col)

    def _build_dst() -> Column:
        d = resolve_href(F.col("_base"), F.col("href"))
        return urlcurate.canonical_url(d) if canonicalize else d

    dst = expr_memo(("linkgraph.dst_url", canonicalize), _build_dst)
    return (
        joined.select(
            id_col,
            "src_url",
            dst.alias("dst_url"),
            "anchor_text",
            "link_no",
        )
        .filter(F.col("dst_url").isNotNull())
    )


def url_in_degree(edges: DataFrame) -> DataFrame:
    """Per target URL: total in-link count and distinct linking
    pages — the cheapest frontier-priority signal. One uniform
    dst-key aggregation."""
    return edges.groupBy("dst_url").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.count_distinct("src_url").alias("n_src_pages"),
    )


def anchor_text_index(edges: DataFrame, k: int = 3) -> DataFrame:
    """The anchor-text index: per target URL its in-degree stats plus
    the top-``k`` anchor texts pointing at it (count desc, text asc —
    deterministic), the classic relevance signal retrieval and
    crawl-prioritization both read (anchor text describes the TARGET
    page — Brin & Page 1998 §2.2). Empty anchor texts are excluded
    from the top-k (they describe nothing) but still count in
    ``n_links``.

    Plan: one (dst, text) count agg, one dst-partitioned window for
    the top-k rank, one dst-key re-agg with an order-struct sort —
    no joins, k-bounded output arrays."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    counts = (
        edges.filter(F.col("anchor_text") != "")
        .groupBy("dst_url", "anchor_text")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("dst_url").orderBy(
        F.col("n").desc(), F.col("anchor_text").asc()
    )
    topk = (
        counts.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .groupBy("dst_url")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("_r", "anchor_text"))
                ),
                lambda s: s["anchor_text"],
            ).alias("top_anchors")
        )
    )
    return url_in_degree(edges).join(topk, "dst_url", "left").select(
        "dst_url",
        "n_links",
        "n_src_pages",
        F.coalesce(
            "top_anchors", F.array().cast("array<string>")
        ).alias("top_anchors"),
    )


def domain_link_graph(
    edges: DataFrame,
    include_internal: bool = False,
) -> DataFrame:
    """The domain-level graph: edges aggregated to registrable-domain
    ("eTLD+1") endpoints — ``(src_domain, dst_domain, n_links,
    n_src_pages)`` — the granularity published curation recipes
    actually weight and block at (RefinedWeb §3.1 domain rules,
    Dolma's domain blocklists). ``include_internal=False`` (default)
    drops same-domain edges: navigation chrome, not endorsement.

    Plan: host extraction is a row expression; the PSL resolution
    runs ONCE over the DISTINCT host set (bounded candidate explode +
    broadcast rule join — urlcurate.registrable_domain), then maps
    back onto the host-pair aggregate. Hosts are corpus-vocabulary-
    bounded, never edge-scaled, so the expensive step is
    vocabulary-sized."""
    from cybersecurity_miw_spark.operators import urlcurate

    pairs = edges.select(
        urlcurate.url_host(F.col("src_url")).alias("_sh"),
        urlcurate.url_host(F.col("dst_url")).alias("_dh"),
        "src_url",
    ).filter((F.col("_sh") != "") & (F.col("_dh") != ""))
    agg = pairs.groupBy("_sh", "_dh").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.count_distinct("src_url").alias("n_src_pages"),
    )
    hosts = (
        agg.select(F.col("_sh").alias("host"))
        .union(agg.select(F.col("_dh").alias("host")))
        .distinct()
    )
    doms = urlcurate.registrable_domain(
        hosts, host_col="host", id_col="host", out_col="_dom"
    ).select("host", "_dom")
    out = (
        agg.join(doms.withColumnRenamed("host", "_sh").withColumnRenamed("_dom", "src_domain"), "_sh")
        .join(doms.withColumnRenamed("host", "_dh").withColumnRenamed("_dom", "dst_domain"), "_dh")
        .filter(
            F.col("src_domain").isNotNull() & F.col("dst_domain").isNotNull()
        )
    )
    if not include_internal:
        out = out.filter(F.col("src_domain") != F.col("dst_domain"))
    return out.groupBy("src_domain", "dst_domain").agg(
        F.sum("n_links").alias("n_links"),
        F.sum("n_src_pages").alias("n_src_pages"),
    )


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping_micro: int = DEFAULT_DAMPING_MICRO,
    checkpoint: bool = True,
    redistribute_dangling: bool = False,
) -> DataFrame:
    """Integer fixed-point PageRank over the SIMPLE graph of distinct
    ``(src_url, dst_url)`` edges (parallel anchors collapse — one
    page endorses another once): ``(url, pr_micro)`` after ``iters``
    synchronous iterations from a uniform start of 1e6 micro-units
    per node, ``pr' = (1e6 - d) + (d · Σ_in (pr_src div out_deg_src))
    div 1e6`` with all arithmetic in LONGs — bit-identical under any
    partitioning, the apps.kmeans_train_int discipline. Self-loops
    are removed (a page cannot endorse itself).

    ``redistribute_dangling=False`` (default) drops dangling mass —
    nodes without out-links do not redistribute (the common
    graph-library variant; totals shrink, order is unaffected).
    ``redistribute_dangling=True`` implements the published
    algorithm (Page et al. 1999: dangling mass returns uniformly):
    each iteration one extra 1-row LONG-sum computes the dangling
    nodes' total mass, and every node's in-mass gains ``dm div N``
    before damping — mass is conserved up to integer-division dust.
    On real web graphs a large fraction of nodes is dangling, so the
    default deflates scores NON-uniformly (nodes fed by dangling-
    heavy neighborhoods lose more); turn this on when absolute score
    magnitudes matter (cross-crawl comparisons, score thresholds).

    Plan per iteration: one join of the edge list against the
    current scores on the uniform src key, one dst-key LONG-sum, one
    left join back onto the node set — two shuffles, both on
    URL keys; the out-degree is joined ONCE before the loop and the
    staged edge frame is reused by every iteration. The dangling
    term adds one 1-row aggregate broadcast-crossed onto the node
    set (never a per-node join), and the node count N rides the same
    pattern — a 1-row aggregate broadcast, never a driver collect.
    Driver traffic: ZERO rows (fixed iteration count, the oracle-able
    variant; pass ``checkpoint=False`` only for short unrolled-oracle
    runs)."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not (0 < damping_micro < MICRO):
        raise ValueError(
            f"damping_micro must be in (0, 1e6), got {damping_micro}"
        )
    from cybersecurity_miw_spark.operators.dedup import staged

    # stage the simple graph itself: deg, ed, nodes and dang all
    # derive from e, and without the persist each derived frame's
    # first materialization re-runs the caller's edge-extraction
    # subtree plus the distinct (r18 plan audit: three recomputations)
    e = staged(
        edges.select("src_url", "dst_url")
        .filter(F.col("src_url") != F.col("dst_url"))
        .distinct()
    )
    deg = e.groupBy("src_url").agg(F.count(F.lit(1)).alias("_deg"))
    ed = staged(e.join(deg, "src_url"))
    nodes = staged(
        e.select(F.col("src_url").alias("url"))
        .union(e.select(F.col("dst_url").alias("url")))
        .distinct()
    )
    if redistribute_dangling:
        dang = staged(
            nodes.join(deg, nodes["url"] == deg["src_url"], "left_anti")
        )
        # N as a ONE-row aggregate folded into the plan instead of a
        # driver-collected scalar: the old nodes.count() ran a whole
        # job (materializing the staged edge subtree) at query
        # CONSTRUCTION time — ~0.3-0.5 s before the first real job at
        # sf0.1, and at scale a full extra pass unless the persist
        # held. greatest(_nn, 1) keeps the empty-graph div guard the
        # scalar form spelled as `count() or 1`.
        n_df = nodes.agg(F.count(F.lit(1)).cast("long").alias("_nn"))
    base = MICRO - int(damping_micro)
    score = nodes.select("url", F.lit(MICRO).cast("long").alias("pr_micro"))
    for _ in range(iters):
        inc = (
            ed.join(score, ed["src_url"] == score["url"])
            .select(
                "dst_url",
                F.expr("div(pr_micro, _deg)").alias("_c"),
            )
            .groupBy("dst_url")
            .agg(F.sum("_c").alias("_in"))
        )
        joined = nodes.join(inc, nodes["url"] == inc["dst_url"], "left")
        if redistribute_dangling:
            dm = dang.join(score, "url").agg(
                F.coalesce(F.sum("pr_micro"), F.lit(0))
                .cast("long")
                .alias("_dm")
            )
            # bcast-bound: _dm = ONE row (this iteration's total
            # dangling mass); _nn = ONE row (the node count); the
            # uniform share is a row expression
            joined = joined.crossJoin(F.broadcast(dm)).crossJoin(
                F.broadcast(n_df)
            )
            in_expr = "(coalesce(_in, 0) + div(_dm, greatest(_nn, 1L)))"
        else:
            in_expr = "coalesce(_in, 0)"
        # overflow-safe exact multiply: d·inc div 1e6 computed as
        # d·(inc div 1e6) + (d·(inc mod 1e6)) div 1e6 — algebraically
        # identical (q·M·d is divisible by M), but the intermediate
        # never exceeds d·(total_mass div 1e6) ≈ d·n, so a supernode
        # absorbing the whole graph's mass stays inside a long at
        # billions of nodes (the naive product d·inc overflows near
        # n ≈ 10^7 in that worst case)
        d = int(damping_micro)
        score = joined.select(
            "url",
            (
                F.lit(base)
                + F.expr(
                    f"{d} * div({in_expr}, {MICRO}) "
                    f"+ div(({in_expr} % {MICRO}) * {d}, {MICRO})"
                )
            ).cast("long").alias("pr_micro"),
        )
        if checkpoint:
            # truncate the per-iteration lineage — without this,
            # iteration N replans N joins
            score = score.localCheckpoint(eager=True)
    return score


def fetch_schedule(
    frontier: DataFrame,
    url_col: str = "dst_url",
    score_col: str = "frontier_score",
    per_host_k: int | None = None,
    host_delays: DataFrame | None = None,
    default_delay_ms: int | None = None,
) -> DataFrame:
    """Politeness-aware fetch ordering: the frontier interleaved BY
    HOST so consecutive fetches never hammer one server — each URL
    gets its within-host rank (score desc, url asc) and the global
    ``fetch_order`` sorts by ``(host_rank, -score)``: every host's
    best URL first, then every host's second, … (the standard
    breadth-polite schedule; Cho et al.'s politeness constraint as
    an ordering rather than a rate limiter — the actual delay is the
    fetcher's job). ``per_host_k`` caps how many URLs per host enter
    the schedule at all (the per-site crawl budget).

    TIME dimension (opt-in): pass ``host_delays`` — a ``(host,
    crawl_delay_ms)`` table, e.g. :func:`~cybersecurity_miw_spark.
    operators.robots.robots_crawl_delays` — and/or
    ``default_delay_ms`` (a GLOBAL politeness floor: hosts with no
    declaration use it, and a declaration below it is raised to it),
    and each URL additionally gets ``fetch_slot_ms = (host_rank−1) ·
    delay``: the earliest fetch time relative to the host's first
    fetch that honors the per-host minimum interval. A fetcher
    draining in ``fetch_slot_ms`` order (ties by score desc, url)
    never violates any host's declared delay while still running
    hosts fully in parallel. Pure integer rank arithmetic — the
    SQL-twinnable form of a rate limiter.

    Plan: one host-partitioned window (frontiers are host-diverse by
    construction — the hot-host case is exactly what the cap
    bounds), plus one host-key left join ONLY when ``host_delays``
    is given (host-roster-bounded, broadcast-able). Output adds
    ``host`` and ``host_rank`` (and ``fetch_slot_ms`` in timed
    mode); the fetch order IS ``orderBy(host_rank, score desc,
    url)`` — stated as a contract instead of a baked-in sort so
    callers compose it with their own limit/shard steps."""
    from pyspark.sql import Window

    from cybersecurity_miw_spark.operators import urlcurate

    if per_host_k is not None and per_host_k < 1:
        raise ValueError(f"per_host_k must be >= 1, got {per_host_k}")
    if default_delay_ms is not None and default_delay_ms < 0:
        raise ValueError(
            f"default_delay_ms must be >= 0, got {default_delay_ms}"
        )
    w = Window.partitionBy("host").orderBy(
        F.col(score_col).desc(), F.col(url_col).asc()
    )
    out = frontier.withColumn(
        "host", urlcurate.url_host(F.col(url_col))
    ).withColumn("host_rank", F.row_number().over(w))
    if per_host_k is not None:
        out = out.filter(F.col("host_rank") <= per_host_k)
    if host_delays is not None or default_delay_ms is not None:
        default = F.lit(int(default_delay_ms or 0)).cast("long")
        if host_delays is not None:
            out = out.join(
                host_delays.select(
                    "host",
                    F.col("crawl_delay_ms").cast("long").alias("_cdms"),
                ),
                "host",
                "left",
            )
            delay = F.greatest(F.coalesce("_cdms", default), default)
        else:
            delay = default
        out = out.withColumn(
            "fetch_slot_ms",
            ((F.col("host_rank") - 1).cast("long") * delay).alias(
                "fetch_slot_ms"
            ),
        )
        if host_delays is not None:
            out = out.drop("_cdms")
    return out


def domain_quality_scores(
    docs: DataFrame,
    url_col: str = "url",
    score_col: str = "clf_score_micro",
) -> DataFrame:
    """Aggregate a per-document model score to the registrable-domain
    level: ``(domain, score_micro, n_docs)`` with ``score_micro`` the
    exact integer mean (LONG-sum div count) — the domain prior
    :func:`crawl_frontier` consumes, closing the loop between the
    quality classifier (operators/qualityclf.py) and fetch
    prioritization (the RefinedWeb/Dolma domain-weighting shape:
    judge domains by the pages already curated, steer the crawler
    toward the good ones).

    Plan: host row expression → one domain-key LONG-sum agg, with
    the PSL resolution over the DISTINCT host vocabulary (the
    domain_link_graph decomposition)."""
    from cybersecurity_miw_spark.operators import urlcurate

    hp = docs.select(
        urlcurate.url_host(F.col(url_col)).alias("_h"),
        F.col(score_col).cast("long").alias("_s"),
    ).filter(F.col("_h") != "")
    agg = hp.groupBy("_h").agg(
        F.sum("_s").alias("_sum"), F.count(F.lit(1)).alias("_n")
    )
    hosts = agg.select(F.col("_h").alias("host")).distinct()
    doms = urlcurate.registrable_domain(
        hosts, host_col="host", id_col="host", out_col="_dom"
    ).select(F.col("host").alias("_h"), "_dom")
    return (
        agg.join(doms, "_h")
        .filter(F.col("_dom").isNotNull())
        .groupBy(F.col("_dom").alias("domain"))
        .agg(
            F.expr("div(sum(_sum), sum(_n))").alias("score_micro"),
            F.sum("_n").alias("n_docs"),
        )
    )


def crawl_frontier(
    edges: DataFrame,
    seen_urls: DataFrame,
    domain_scores: DataFrame | None = None,
) -> DataFrame:
    """Frontier expansion: the target URLs NOT yet crawled (anti-join
    against ``seen_urls(url)`` — pass the URL store or the page set),
    each with its in-degree evidence and an optional domain prior,
    ordered by ``frontier_score`` = in-links weighted by the source
    domain count (breadth of endorsement beats raw volume — the OPIC
    intuition) times the domain prior when given. Output:
    ``(url, n_links, n_src_pages, frontier_score)`` — rank/limit is
    the caller's (it composes with order_topk_groups).

    ``domain_scores``: optional ``(domain, score_micro)`` — e.g. a
    domain-aggregated quality-classifier score — joined via the
    target's registrable domain; missing domains weight 1e6 (neutral).
    """
    from cybersecurity_miw_spark.operators import urlcurate

    deg = url_in_degree(edges)
    fresh = deg.join(
        seen_urls.select(F.col(seen_urls.columns[0]).alias("dst_url")),
        "dst_url",
        "left_anti",
    )
    score = F.col("n_links") * F.col("n_src_pages")
    if domain_scores is not None:
        hosts = fresh.select(
            urlcurate.url_host(F.col("dst_url")).alias("host")
        ).distinct()
        doms = urlcurate.registrable_domain(
            hosts, host_col="host", id_col="host", out_col="_dom"
        )
        fresh = (
            fresh.withColumn(
                "_h", urlcurate.url_host(F.col("dst_url"))
            )
            .join(doms.withColumnRenamed("host", "_h"), "_h", "left")
            .join(
                domain_scores.select(
                    F.col(domain_scores.columns[0]).alias("_dom"),
                    F.col(domain_scores.columns[1]).alias("_dscore"),
                ),
                "_dom",
                "left",
            )
        )
        score = F.expr(
            "div(n_links * n_src_pages * coalesce(_dscore, 1000000), "
            "1000000)"
        )
    return fresh.select(
        "dst_url",
        "n_links",
        "n_src_pages",
        score.cast("long").alias("frontier_score"),
    )
