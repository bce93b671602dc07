"""Streaming corpus ingest with incremental exact dedup — the full
production curation loop the batch store operators
(operators/dedup.py fingerprint_store / dedup_against_store) imply:

    docs land as files → each micro-batch is anti-joined against the
    PERSISTED fingerprint store → accepted docs append to the corpus
    sink → the accepted batch's new fingerprints append to the store.

This is what "dedup 100 TB continuously" actually means at cluster
scale: history is only ever touched through its fingerprint index
(one uniform-key anti-join per batch), never rescanned; the store
grows by exactly the accepted batch's distinct fingerprints; and the
checkpoint makes redelivered files idempotent — a file replayed after
a crash re-enters the batch, hits its own (already stored)
fingerprints, and is dropped.

Input lines are tab-separated ``doc_id<TAB>text`` (the simplest
landing format that survives newlines-in-text being pre-escaped);
both sinks are plain parquet directories readable by any batch job.

Within-batch duplicates are also collapsed (min doc_id wins), so the
accepted output is duplicate-free across the entire ingest history —
the streaming twin of ``dedup_against_store``, golden-checked against
it by running the same files through the batch path.

:func:`streaming_near_dup_flags` is the near-dup sibling: batch LSH
bands joined against the persisted band store, candidate pairs
appended to a flags sink, the batch's bands appended to the store.

Every loop here is a per-trigger body plugged into
:func:`~cybersecurity_miw_spark.streaming.loop.micro_batch_loop`, which
owns the file reader, the per-trigger cache scope and the checkpointed
writer; loops of one family share one body and pass in only the
family's operator functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cybersecurity_miw_spark import sidecar
from cybersecurity_miw_spark.operators.dedup import (
    dedup_against_store,
    fingerprint_store,
)
from cybersecurity_miw_spark.operators.textstats import fingerprint
from cybersecurity_miw_spark.streaming.loop import (  # noqa: F401 (re-export)
    StaleStoreError,
    _raise_if_stale,
    _read_store_if_present,
    _stale_gate,
    micro_batch_loop,
)

DOC_LINE_SCHEMA = "doc_id long, text string"


def _enforce_stale(
    reports: list | None, start: int, on_stale: str, loop: str
) -> None:
    """Delegated-monitor variant of :func:`_raise_if_stale`: check the
    reports an inner operator appended during this trigger."""
    if on_stale != "raise" or reports is None:
        return
    for r in reports[start:]:
        _raise_if_stale(r, on_stale, loop)


def parse_doc_lines(lines: DataFrame) -> DataFrame:
    """``doc_id<TAB>text`` lines → typed columns (JVM from_csv with a
    tab separator, no UDF)."""
    return lines.select(
        F.from_csv(
            F.col("value"), DOC_LINE_SCHEMA, {"sep": "\t"}
        ).alias("d")
    ).select("d.*")


def _fingerprint_dedup(df: DataFrame, store: DataFrame | None) -> DataFrame:
    """Exact text dedup of a batch: rows whose text fingerprint is not
    in ``store`` and that are their fingerprint's min-id representative
    (dedup_against_store); before the store exists, the batch-internal
    min-id rule alone."""
    if store is not None:
        return dedup_against_store(df, store)
    keep = (
        df.select("doc_id", fingerprint(F.col("text")).alias("_fp"))
        .groupBy("_fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return df.join(keep.select("doc_id"), on="doc_id", how="left_semi")


def _url_dedup(df: DataFrame, store: DataFrame | None) -> DataFrame:
    """:func:`_fingerprint_dedup` keyed on the canonical URL
    (urlcurate.url_dedup_against_store / url_exact_dedup)."""
    from cybersecurity_miw_spark.operators import urlcurate

    if store is not None:
        return urlcurate.url_dedup_against_store(df, store)
    return urlcurate.url_exact_dedup(df)


def _exact_dedup_loop(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    corpus_dir: str,
    store_dir: str,
    available_now: bool,
    metrics: list | None,
    max_files_per_trigger: int | None,
    *,
    parse,
    dedup,
    store_rows,
) -> StreamingQuery:
    """The exact-dedup ingest loop shared by the text- and URL-keyed
    variants: ``dedup(batch, store)`` picks each batch's accepted docs,
    which append to ``corpus_dir`` while ``store_rows(accepted)``
    extends the persisted store."""

    def body(batch_df: DataFrame, batch_id: int) -> None:
        # materialize the batch once: the store dedup reads it twice
        # (tag + semi-join), and the metrics count is free
        batch_df = batch_df.localCheckpoint(eager=True)
        store = _read_store_if_present(batch_df.sparkSession, store_dir)
        # materialize once: both appends read the same accepted set
        accepted = dedup(batch_df, store).localCheckpoint(eager=True)
        if metrics is not None:
            n_batch = batch_df.count()  # cached checkpoint
            n_acc = accepted.count()
            metrics.append({
                "batch_id": batch_id,
                "n_batch": n_batch,
                "n_accepted": n_acc,
                "n_rejected": n_batch - n_acc,
            })
        accepted.write.mode("append").parquet(corpus_dir)
        store_rows(accepted).write.mode("append").parquet(store_dir)

    return micro_batch_loop(
        spark, input_dir, checkpoint_dir, body, parse=parse,
        max_files_per_trigger=max_files_per_trigger,
        available_now=available_now,
    )


def _monitor_store(
    metrics: list,
    n_cand: int,
    n_docs: int,
    sess: SparkSession,
    store_dir: str,
    fam: sidecar.Family,
    family: dict,
    staleness_factor: float | None,
    on_stale: str,
    loop: str,
) -> None:
    """The band-store ingest monitor of one store-joined trigger: on
    the first trigger WITH candidates, merge the baseline later
    triggers compare against into the store's ``fam`` sidecar,
    together with this stream's ``family`` (a legacy store without a
    sidecar adopts it; a zero baseline would make every later ratio
    undefined); then append the ``setsim.staleness_report`` and apply
    the ``on_stale`` policy."""
    from cybersecurity_miw_spark.operators import setsim

    stored = sidecar.read(sess, store_dir, fam) or {}
    baseline = stored.get("baseline_cand_per_doc")
    if baseline is None and n_docs > 0 and n_cand > 0:
        baseline = n_cand / n_docs
        sidecar.merge(
            sess, store_dir, fam, **family, baseline_cand_per_doc=baseline
        )
    report = setsim.staleness_report(
        n_cand,
        n_docs,
        baseline,
        staleness_factor
        if staleness_factor is not None
        else setsim.STALENESS_DEFAULT_FACTOR,
    )
    metrics.append(report)
    _raise_if_stale(report, on_stale, loop)


def streaming_dedup_ingest(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    corpus_dir: str,
    store_dir: str,
    available_now: bool = True,
    metrics: list | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Continuous exact-dedup ingest. Each micro-batch:

    1. reads the persisted fingerprint store (absent on first batch),
    2. keeps batch docs whose fingerprint is NOT in the store and who
       are their batch's min-id representative (dedup_against_store),
    3. appends accepted docs to ``corpus_dir`` and their fingerprints
       to ``store_dir`` — both plain parquet appends, so a crash
       between the two writes is healed by the NEXT batch (a doc
       whose fingerprint append was lost is simply re-accepted if
       redelivered; a doc whose corpus append was lost but store
       append survived is the one loss mode, documented — wrap the
       two appends in a table format with multi-table transactions
       when exactly-once across BOTH sinks is required).

    State lives entirely in the store parquet (not the state store),
    so the query restarts cheaply and any batch job can read or
    rebuild the store (fingerprint_store over the corpus).

    Pass a list as ``metrics`` to monitor the dedup rate without
    scanning the sinks: one ``{'batch_id', 'n_batch', 'n_accepted',
    'n_rejected'}`` dict is appended per micro-batch. (An Observation
    is NOT used here deliberately: dedup_against_store references the
    batch twice in one plan — fingerprint tagging and the final
    semi-join — so an observed input node would double-count. Instead
    the batch is localCheckpoint'ed once — which the join wants
    anyway, it halves the batch-file scans — and the counts read the
    cached checkpoint.)"""
    return _exact_dedup_loop(
        spark, input_dir, checkpoint_dir, corpus_dir, store_dir,
        available_now, metrics, max_files_per_trigger,
        parse=parse_doc_lines,
        dedup=_fingerprint_dedup,
        store_rows=fingerprint_store,
    )


def streaming_near_dup_flags(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    flags_dir: str,
    band_store_dir: str,
    num_hashes: int | None = None,
    bands: int | None = None,
    shingle_k: int = 3,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    max_store_bucket_width: int | None = None,
    fenced_dir: str | None = None,
    metrics: list | None = None,
    staleness_factor: float | None = None,
    on_stale: str = "report",
) -> StreamingQuery:
    """The near-dup half of the continuous ingest loop: each
    micro-batch computes its LSH bands, joins them against the
    PERSISTED band store (history = index rows, never text), appends
    the resulting (new_id, stored_id) candidate pairs to
    ``flags_dir``, and appends its own bands to the store — so later
    batches see this batch as history.

    Within-batch near-dups surface too: the batch's bands are in the
    join's build side only after the store append, so batch-internal
    pairs are found by unioning a batch self-join — cheaper than
    waiting a trigger, and it keeps "every pair is flagged exactly
    once, when its second member arrives" as the contract. Downstream
    decides what to do with flags (drop, cluster via
    dup_clusters, or human review); flagging and deletion are
    deliberately decoupled, matching the batch operators.

    ``max_store_bucket_width`` fences history mega-templates out of
    the per-trigger join (W pair rows per matching batch doc, EVERY
    trigger, otherwise — the one cost that grows with history skew,
    not batch size); batch docs hitting a fenced bucket are routed to
    ``fenced_dir`` as (new_id, band, band_hash, store_width) template
    matches when that sink is given.

    Per trigger the batch is banded ONCE (the signature computation is
    the dominant narrow stage): the checkpointed bands feed the store
    append, the within-batch self-join, the store join, and the
    fenced-hit report. A ``sidecar.LSH`` sidecar written inside
    the store records (num_hashes, bands, shingle_k); a restart with
    different parameters raises instead of silently joining two
    incompatible hash families (old-family band hashes never match
    new-family ones — candidates would quietly drop to zero). Sidecar
    I/O goes through the Hadoop FS API (fsutil), so the guard works
    for hdfs:// and s3a:// stores, not just local paths (ADVICE r8);
    the same sidecar guards the batch path
    (:func:`~cybersecurity_miw_spark.operators.dedup.
    incremental_lsh_candidates` given a store path).

    Pass a list as ``metrics`` to monitor store-candidate volume
    (the degradation channel the width fence bounds per-bucket but
    nothing watched in aggregate): each store-joined trigger appends
    a ``setsim.staleness_report`` dict — store candidates per batch
    doc vs the creation-time baseline, ``stale`` above
    ``staleness_factor`` × baseline (default
    setsim.STALENESS_DEFAULT_FACTOR). The baseline is recorded
    automatically into the ``sidecar.LSH`` sidecar on the FIRST
    store-joined trigger (or pre-record one with
    ``sidecar.write(..., baseline_cand_per_doc=...)``).
    The candidate count rides the Observation API on the store-join
    subtree, so monitoring adds no extra job — the count is collected
    while the flags sink writes.

    ``on_stale`` wires the monitor to a POLICY (VERDICT r14 #3):
    ``"report"`` (default) only appends the report dict;
    ``"raise"`` activates the monitor even without a ``metrics`` list
    and fails the trigger with :class:`StaleStoreError` when it
    grades stale — the query dies BEFORE the checkpoint commits, the
    operator runs the documented one-call rebuild offline, and a
    restart replays the tripped batch. Auto-rebuild mid-stream is
    deliberately not offered: frozen hash families / token orders /
    quantizers are load-bearing, so failing fast is the only honest
    in-stream action (docs/MONITORING.md)."""
    from cybersecurity_miw_spark.operators.dedup import (
        DEFAULT_BANDS,
        DEFAULT_NUM_HASHES,
        lsh_band_store,
        pairs_from_bands,
    )

    if num_hashes is None:
        num_hashes = DEFAULT_NUM_HASHES
    if bands is None:
        bands = DEFAULT_BANDS

    family = {"num_hashes": num_hashes, "bands": bands, "shingle_k": shingle_k}
    sidecar.check(spark, band_store_dir, sidecar.LSH, **family)
    metrics = _stale_gate(metrics, on_stale)

    def body(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        bands_new = lsh_band_store(
            batch_df, num_hashes=num_hashes, bands=bands, shingle_k=shingle_k
        ).localCheckpoint(eager=True)
        store = _read_store_if_present(sess, band_store_dir)
        within = pairs_from_bands(bands_new).select(
            F.col("id_b").alias("new_id"), F.col("id_a").alias("stored_id")
        )
        obs = None
        if store is not None:
            sb = store.withColumnRenamed("doc_id", "stored_id")
            widths = None
            if max_store_bucket_width is not None:
                # ONE history-index width aggregation per trigger
                # serves both the guard and the fenced-hit report
                widths = (
                    store.groupBy("band", "band_hash")
                    .agg(F.count(F.lit(1)).alias("_w"))
                    .localCheckpoint(eager=True)
                )
                ok = widths.filter(
                    F.col("_w") <= max_store_bucket_width
                ).select("band", "band_hash")
                sb = sb.join(ok, on=["band", "band_hash"], how="left_semi")
            nb = bands_new.withColumnRenamed("doc_id", "new_id")
            cross = (
                nb.join(sb, on=["band", "band_hash"])
                .select("new_id", "stored_id")
                .distinct()
            )
            if metrics is not None:
                # Observation on the store-join subtree: the count is
                # collected as a side effect of the flags write — no
                # second pass over the join
                from pyspark.sql import Observation

                obs = Observation()
                cross = cross.observe(
                    obs, F.count(F.lit(1)).alias("n_store_candidates")
                )
            flags = cross.unionByName(within).distinct()
            if widths is not None and fenced_dir:
                wide = widths.filter(
                    F.col("_w") > max_store_bucket_width
                ).select(
                    "band", "band_hash",
                    F.col("_w").alias("store_width"),
                )
                (
                    nb.join(wide, on=["band", "band_hash"])
                    .select("new_id", "band", "band_hash", "store_width")
                    .distinct()
                    .write.mode("append")
                    .parquet(fenced_dir)
                )
        else:
            flags = within
        flags.write.mode("append").parquet(flags_dir)
        if obs is not None:
            # batch doc count = band rows // bands. lsh_bands emits
            # EXACTLY `bands` struct rows per doc — empty/sub-shingle
            # texts still get the constant md5('') band hashes — so
            # this equals the distinct-doc count for unique doc_ids
            # without the distinct's extra shuffle per trigger
            # (ADVICE r13 reverting the r12 distinct form, which
            # changed cost but not the unit).
            n_docs = bands_new.count() // max(bands, 1)
            n_cand = obs.get["n_store_candidates"]
            _monitor_store(
                metrics, n_cand, n_docs,
                sess, band_store_dir, sidecar.LSH, family,
                staleness_factor, on_stale, "streaming_near_dup_flags",
            )
        bands_new.write.mode("append").parquet(band_store_dir)
        sidecar.merge(sess, band_store_dir, sidecar.LSH, **family)

    return micro_batch_loop(
        spark, input_dir, checkpoint_dir, body, parse=parse_doc_lines,
        max_files_per_trigger=max_files_per_trigger,
        available_now=available_now,
    )


def streaming_semantic_flags(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    flags_dir: str,
    vec_store_dir: str,
    dim: int = 64,
    n_planes: int = 4,
    threshold: float = 0.85,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    metrics: list | None = None,
    staleness_factor: float | None = None,
    on_stale: str = "report",
) -> StreamingQuery:
    """The SEMANTIC half of the continuous ingest loop — the
    embedding sibling of :func:`streaming_near_dup_flags`, completing
    the streaming side of the store-backed quadriad: each micro-batch
    embeds its docs (hashed_embedding; swap in a real encoder
    upstream by streaming (id, vector) rows instead), joins its
    hyperplane buckets against the PERSISTED embedding bucket store,
    appends (new_id, stored_id, cos_sim) pairs at cosine ≥ threshold
    to ``flags_dir``, and appends its own (id, bucket, vector) rows
    to the store — later batches see this batch as history.

    Within-batch semantic pairs surface in the same trigger (batch
    self-join through :func:`cosine_near_dup_lsh`), keeping the
    "every pair is flagged exactly once, when its second member
    arrives" contract. A ``sidecar.SEMANTIC`` sidecar records
    (dim, n_planes): restarting with a different plane family raises
    instead of silently joining incompatible buckets to zero
    candidates.

    100 TB shape: per trigger, the batch is embedded ONCE
    (localCheckpoint), the store join is bucket-pruned (partition the
    store by ``bucket``), and history participates through index rows
    only — the vector rides in the store so the exact-cosine confirm
    never rescans source text.

    Replay caveat (same as the other ingest loops): the store append
    runs before the streaming checkpoint commits, so a foreachBatch
    retry re-joins the batch against its own partially-written store
    rows — duplicate store rows and duplicate flag pairs are possible
    under at-least-once recovery (dedupe downstream on
    (new_id, stored_id)); self-pairs are guarded out inside
    :func:`incremental_semantic_pairs`.

    Pass a list as ``metrics`` for the family's ingest monitor: each
    store-joined trigger appends a ``setsim.staleness_report`` over
    store-pair rows per batch doc (Observation on the store-join
    subtree — counted while the flags sink writes), baseline
    auto-recorded into that sidecar on the first
    store-joined trigger with pairs. A hot hyperplane bucket (the
    occupancy channel ``suggested_planes`` bounds by schedule)
    inflates this ratio; ``stale`` above ``staleness_factor`` ×
    baseline (default setsim.STALENESS_DEFAULT_FACTOR). ``on_stale``:
    the family policy hook — see :func:`streaming_near_dup_flags`
    ("raise" fails the trigger with :class:`StaleStoreError` before
    its checkpoint commits; rebuild offline, restart, replay)."""
    from cybersecurity_miw_spark.operators.similarity import (
        cosine_near_dup_lsh,
        embedding_bucket_store,
        incremental_semantic_pairs,
    )
    from cybersecurity_miw_spark.operators.textstats import hashed_embedding

    metrics = _stale_gate(metrics, on_stale)
    family = {"dim": dim, "n_planes": n_planes}
    sidecar.check(spark, vec_store_dir, sidecar.SEMANTIC, **family)

    def body(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        vecs = (
            hashed_embedding(batch_df, dim=dim)
            .select(F.col("doc_id").alias("vec_id"), "embedding")
            .localCheckpoint(eager=True)
        )
        bucketed = embedding_bucket_store(
            vecs, dim, n_planes
        ).localCheckpoint(eager=True)
        within = cosine_near_dup_lsh(
            vecs, threshold, dim, n_planes
        ).select(
            F.col("id_b").alias("new_id"),
            F.col("id_a").alias("stored_id"),
            "cos_sim",
        )
        store = _read_store_if_present(sess, vec_store_dir)
        obs = None
        if store is not None:
            cross = incremental_semantic_pairs(
                vecs, store, threshold, dim, n_planes
            )
            if metrics is not None:
                from pyspark.sql import Observation

                obs = Observation()
                cross = cross.observe(
                    obs, F.count(F.lit(1)).alias("n_store_pairs")
                )
            flags = cross.unionByName(within).distinct()
        else:
            flags = within
        flags.write.mode("append").parquet(flags_dir)
        if obs is not None:
            n_docs = vecs.count()  # cached checkpoint
            n_pairs = obs.get["n_store_pairs"]
            _monitor_store(
                metrics, n_pairs, n_docs,
                sess, vec_store_dir, sidecar.SEMANTIC, family,
                staleness_factor, on_stale, "streaming_semantic_flags",
            )
        bucketed.write.mode("append").parquet(vec_store_dir)
        sidecar.merge(sess, vec_store_dir, sidecar.SEMANTIC, **family)

    return micro_batch_loop(
        spark, input_dir, checkpoint_dir, body, parse=parse_doc_lines,
        max_files_per_trigger=max_files_per_trigger,
        available_now=available_now,
    )


def streaming_containment_flags(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    flags_dir: str,
    store_dir: str,
    containers_dir: str,
    freq_dir: str,
    threshold: float = 0.8,
    shingle_k: int = 3,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    metrics: list | None = None,
    staleness_factor: float | None = None,
    on_stale: str = "report",
) -> StreamingQuery:
    """Continuous decontamination — the containment member of the
    streaming flag family, and the one whose store is FROZEN by
    design: candidate documents stream in and each micro-batch is
    probed against a fixed train corpus's persisted full-token index
    (:func:`~cybersecurity_miw_spark.operators.setsim.
    containment_store` at ``store_dir``, its creation-time order at
    ``freq_dir``), appending
    (contained_id, container_id, containment) rows at ≥ threshold to
    ``flags_dir``. Unlike the dedup loops nothing is appended to the
    store: the decontamination question is "is this new doc quoted
    inside the frozen corpus" (or, with the corpora swapped, "does
    this new train doc contain a frozen eval item"), so batches never
    become containers. To grow the container corpus, append
    ``containment_store(batch, freq)`` rows offline and rebuild under
    a fresh order when the staleness monitor trips.

    ``containers_dir`` holds the container corpus text (parquet,
    doc_id/text) — read PRUNED per trigger: the exact-containment
    verify fetches text only for candidate container docs
    (:func:`~cybersecurity_miw_spark.operators.setsim.
    incremental_containment_pairs` semi-join discipline), so the
    frozen corpus is never rescanned wholesale.

    The shingle-width sidecar is checked once before the stream
    starts; ``metrics`` attaches the per-trigger staleness report
    (baseline from the ``sidecar.CONTAINMENT`` sidecar — record
    it at store creation with
    ``sidecar.write(..., baseline_cand_per_doc=
    measure_containment_cand_per_doc(...))``);
    ``on_stale``: the family policy hook — see
    :func:`streaming_near_dup_flags`.

    Exactly-once note: the flags append is the ONLY sink, so a
    foreachBatch replay can duplicate flag rows (dedupe downstream on
    the pair key) but never lose one; there is no second sink to
    torn-write against."""
    from cybersecurity_miw_spark.operators.setsim import (
        STALENESS_DEFAULT_FACTOR,
        incremental_containment_pairs,
    )

    metrics = _stale_gate(metrics, on_stale)
    # fail fast on a width mismatch BEFORE any batch runs
    stored = sidecar.check(
        spark, store_dir, sidecar.CONTAINMENT, shingle_k=shingle_k
    )
    store = spark.read.parquet(store_dir)
    freq = spark.read.parquet(freq_dir)
    containers = spark.read.parquet(containers_dir)
    baseline = (stored or {}).get("baseline_cand_per_doc")
    factor = (
        staleness_factor
        if staleness_factor is not None
        else STALENESS_DEFAULT_FACTOR
    )

    def body(batch_df: DataFrame, batch_id: int) -> None:
        start = len(metrics) if metrics is not None else 0
        pairs = incremental_containment_pairs(
            batch_df,
            containers,
            store,
            freq,
            threshold=threshold,
            shingle_k=shingle_k,
            metrics=metrics,
            baseline_cand_per_doc=baseline,
            staleness_factor=factor,
        )
        _enforce_stale(metrics, start, on_stale, "streaming_containment_flags")
        pairs.write.mode("append").parquet(flags_dir)

    return micro_batch_loop(
        spark, input_dir, checkpoint_dir, body, parse=parse_doc_lines,
        max_files_per_trigger=max_files_per_trigger,
        available_now=available_now,
    )


def streaming_setsim_flags(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    flags_dir: str,
    store_dir: str,
    freq_dir: str,
    history_dir: str,
    threshold: float = 0.5,
    shingle_k: int = 3,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    metrics: list | None = None,
    staleness_factor: float | None = None,
    on_stale: str = "report",
) -> StreamingQuery:
    """EXACT near-dup flags over a continuous ingest — the
    zero-false-negative member of the streaming flag family
    (LSH/semantic trade recall for cost; this one trades the prefix
    join's larger-but-fenced candidate volume for exactness): each
    micro-batch computes its prefix rows under the FROZEN token order,
    joins them against the persisted prefix store, verifies exact
    Jaccard ≥ threshold on candidate docs only
    (:func:`~cybersecurity_miw_spark.operators.setsim.
    incremental_ppjoin_pairs`), appends
    (new_id, stored_id, jaccard) to ``flags_dir``, then appends its
    own prefix rows to the store and its text to ``history_dir`` —
    later batches see this batch as history through index rows; text
    is read candidate-pruned only.

    Self-bootstrapping: the FIRST trigger freezes the token order on
    its own batch (token_freq_table → ``freq_dir``), builds the
    store, records the creation-time candidates-per-doc baseline in
    the ``sidecar.PREFIX`` sidecar, and flags its within-batch
    pairs. Every later trigger reads the frozen order as-is. This is
    exactly the frozen-order regime whose cost-staleness r11
    measured: pass ``metrics`` to get the per-trigger
    ``staleness_report`` against the recorded baseline (``stale``
    above ``staleness_factor`` × it, default
    setsim.STALENESS_DEFAULT_FACTOR) — rebuild offline under a fresh
    order (maintain.rewrite_table) when it trips. ``on_stale``: the
    family policy hook — see :func:`streaming_near_dup_flags`.

    Within-batch pairs surface in the same trigger
    (:func:`~cybersecurity_miw_spark.operators.setsim.ppjoin_pairs`
    batch self-join, exact under its own order — the prefix lemma
    needs no cross-batch order agreement for a self-join), keeping
    the "every pair flagged exactly once, when its second member
    arrives" family contract; drained flags equal the pooled
    ``ppjoin_pairs`` over all ingested docs (golden).

    Replay caveat (the family's standard at-least-once note): the
    store/history appends run before the checkpoint commits, so a
    foreachBatch retry can duplicate flag rows and store rows —
    dedupe downstream on the pair key; (x, x) self-pairs are guarded
    out inside the candidate join itself."""
    from cybersecurity_miw_spark.operators.setsim import (
        STALENESS_DEFAULT_FACTOR,
        _prefix_family,
        incremental_ppjoin_pairs,
        measure_cand_per_doc,
        ppjoin_pairs,
        prefix_store,
        token_freq_table,
        write_prefix_store_params,
    )

    metrics = _stale_gate(metrics, on_stale)
    family = _prefix_family(threshold, shingle_k)
    # fail fast on a family mismatch BEFORE any batch runs
    sidecar.check(spark, store_dir, sidecar.PREFIX, **family)
    factor = (
        staleness_factor
        if staleness_factor is not None
        else STALENESS_DEFAULT_FACTOR
    )

    def body(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint(eager=True)
        within = ppjoin_pairs(
            batch_df, threshold=threshold, shingle_k=shingle_k
        ).select(
            F.col("id_b").alias("new_id"),
            F.col("id_a").alias("stored_id"),
            "jaccard",
        )
        # the sidecar marks a bootstrapped store: it is written after
        # the first trigger's appends
        stored = sidecar.check(sess, store_dir, sidecar.PREFIX, **family)
        if stored is not None:
            store = sess.read.parquet(store_dir)
            freq = sess.read.parquet(freq_dir)
            hist = sess.read.parquet(history_dir)
            start = len(metrics) if metrics is not None else 0
            cross = incremental_ppjoin_pairs(
                batch_df, hist, store, freq,
                threshold=threshold, shingle_k=shingle_k,
                metrics=metrics,
                baseline_cand_per_doc=stored.get("baseline_cand_per_doc"),
                staleness_factor=factor,
            )
            _enforce_stale(metrics, start, on_stale, "streaming_setsim_flags")
            flags = cross.unionByName(within)
        else:
            # first trigger: freeze the order on this batch
            freq = token_freq_table(
                batch_df, shingle_k=shingle_k
            ).localCheckpoint(eager=True)
            freq.write.mode("overwrite").parquet(freq_dir)
            flags = within
        flags.write.mode("append").parquet(flags_dir)
        # append AFTER the store join: this batch must not be its
        # own history (the LSH loop's ordering discipline)
        prefix_store(
            batch_df, freq, threshold=threshold, shingle_k=shingle_k
        ).write.mode("append").parquet(store_dir)
        batch_df.write.mode("append").parquet(history_dir)
        if stored is None:
            base = measure_cand_per_doc(
                batch_df,
                sess.read.parquet(store_dir),
                freq,
                threshold=threshold,
                shingle_k=shingle_k,
            )
            write_prefix_store_params(
                sess, store_dir, threshold, shingle_k,
                baseline_cand_per_doc=base or None,
            )

    return micro_batch_loop(
        spark, input_dir, checkpoint_dir, body, parse=parse_doc_lines,
        max_files_per_trigger=max_files_per_trigger,
        available_now=available_now,
    )


def _hamming_band_flags(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    flags_dir: str,
    band_store_dir: str,
    available_now: bool,
    max_files_per_trigger: int | None,
    metrics: list | None,
    staleness_factor: float | None,
    on_stale: str,
    *,
    fam: sidecar.Family,
    family: dict,
    opts: dict,
    candidates,
    store_candidates,
    band_rows,
    loop: str,
    **source,
) -> StreamingQuery:
    """The Hamming-band flags loop shared by the SimHash (text) and
    perceptual-hash (media) store families. Each family supplies its
    ``fam`` sidecar with the ``family`` keys it records, and its
    operators, all called with ``opts``: ``candidates(batch)`` (the
    within-batch band self-join), ``store_candidates(batch, store)``
    (the join against the persisted index) and ``band_rows(batch)``
    (the rows the batch appends to it); ``source`` selects the input
    (forwarded to :func:`micro_batch_loop`)."""
    metrics = _stale_gate(metrics, on_stale)
    sidecar.check(spark, band_store_dir, fam, **family)

    def body(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint(eager=True)
        within = candidates(batch_df, **opts).select(
            F.col("id_b").alias("new_id"),
            F.col("id_a").alias("stored_id"),
        )
        # detect the store by DATA presence (the minhash-loop probe),
        # not the params sidecar: a store built externally without
        # its sidecar must still be joined from the first trigger, or
        # cross-run pairs are silently missed (ADVICE r14)
        store = _read_store_if_present(sess, band_store_dir)
        n_cand = None
        if store is not None:
            cross = store_candidates(batch_df, store, **opts)
            if metrics is not None:
                # candidates ARE the flags (no verify stage): one
                # checkpoint serves both the count and the union
                cross = cross.localCheckpoint(eager=True)
                n_cand = cross.count()
            flags = cross.unionByName(within).distinct()
        else:
            flags = within
        flags.write.mode("append").parquet(flags_dir)
        if n_cand is not None:
            n_docs = batch_df.count()  # cached checkpoint
            _monitor_store(
                metrics, n_cand, n_docs,
                sess, band_store_dir, fam, family,
                staleness_factor, on_stale, loop,
            )
        band_rows(batch_df, **opts).write.mode("append").parquet(
            band_store_dir
        )
        sidecar.merge(sess, band_store_dir, fam, **family)

    return micro_batch_loop(
        spark, input_dir, checkpoint_dir, body,
        max_files_per_trigger=max_files_per_trigger,
        available_now=available_now,
        **source,
    )


def streaming_simhash_flags(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    flags_dir: str,
    band_store_dir: str,
    band_bits: int = 16,
    hash_fn: str = "xxhash64",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    metrics: list | None = None,
    staleness_factor: float | None = None,
    on_stale: str = "report",
) -> StreamingQuery:
    """SimHash near-dup flags over a continuous ingest — the last
    batch store family to get its streaming loop (exact/MinHash/
    semantic/exact-setsim/containment already have theirs): each
    micro-batch computes its Hamming-band rows, joins them against
    the PERSISTED SimHash index, appends (new_id, stored_id)
    candidate pairs to ``flags_dir``, and appends its own band rows
    to the store. Within-batch candidates surface in the same trigger
    (batch band self-join), keeping the "every pair flagged exactly
    once, when its second member arrives" contract; the
    ``sidecar.SIMHASH`` sidecar fails a restart with a different
    (band_bits, hash_fn) family fast. SimHash trades MinHash's
    shingle-set Jaccard for bit-level cosine-ish similarity at 4-5
    small int rows per doc — the cheapest of the store families per
    stored row, the usual choice when index size dominates.

    ``metrics`` attaches the family's ingest monitor: store
    candidates per batch doc vs a baseline auto-recorded on the
    first store-joined trigger with candidates (stale above
    ``staleness_factor`` × it); ``on_stale``: the family policy hook
    — see :func:`streaming_near_dup_flags`. Replay caveat as the
    other loops: appends precede the checkpoint commit, so
    at-least-once recovery can duplicate flag/store rows (never
    lose); self-pairs are guarded in
    :func:`~cybersecurity_miw_spark.operators.dedup.
    incremental_simhash_candidates`'s join."""
    from cybersecurity_miw_spark.operators import dedup

    family = {"band_bits": band_bits, "hash_fn": hash_fn}
    return _hamming_band_flags(
        spark, input_dir, checkpoint_dir, flags_dir, band_store_dir,
        available_now, max_files_per_trigger, metrics, staleness_factor,
        on_stale,
        fam=sidecar.SIMHASH,
        family=family,
        opts=family,
        candidates=dedup.simhash_dedup_candidates,
        store_candidates=dedup.incremental_simhash_candidates,
        band_rows=dedup.simhash_band_store,
        loop="streaming_simhash_flags",
        parse=parse_doc_lines,
    )


def streaming_phash_flags(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    flags_dir: str,
    band_store_dir: str,
    bits: int | None = None,
    band_bits: int | None = None,
    payload_col: str = "payload",
    id_col: str = "media_id",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    metrics: list | None = None,
    staleness_factor: float | None = None,
    on_stale: str = "report",
) -> StreamingQuery:
    """Perceptual-hash (aHash) near-dup flags over a continuous BINARY
    MEDIA ingest — the phash store family's streaming twin, completing
    the house contract every other band store satisfies (exact /
    MinHash / SimHash / semantic / setsim / containment,
    VERDICT r13 #3). Each micro-batch of ``(media_id, payload)``
    parquet fingerprints its payloads (pure JVM expressions —
    ``operators/multimodal.py:with_phash``), joins its Hamming-band
    rows against the PERSISTED phash index, appends
    ``(new_id, stored_id)`` candidate pairs to ``flags_dir``, and
    appends its own 4-int-rows-per-asset band rows to the store —
    payload bytes never enter the store and history is never
    rescanned. Within-batch near-dups surface in the same trigger
    (batch band self-join), keeping the "every pair flagged exactly
    once, when its second member arrives" contract; the
    ``sidecar.PHASH`` sidecar fails a restart with a different
    (bits, band_bits) family fast, BEFORE the stream starts.

    ``metrics`` attaches the family's ingest monitor: store candidates
    per batch asset vs a baseline auto-recorded on the first
    store-joined trigger with candidates (stale above
    ``staleness_factor`` × it) — a re-encode burst of a stored
    template (the media analog of the text template burst) trips it;
    ``on_stale``: the family policy hook — see
    :func:`streaming_near_dup_flags`. Replay caveat as the other
    loops: appends precede the checkpoint
    commit, so at-least-once recovery can duplicate flag/store rows
    (never lose); (x, x) self-pairs are guarded in
    ``incremental_phash_candidates``'s join."""
    from cybersecurity_miw_spark.operators import multimodal as mm

    bits = mm.PHASH_DEFAULT_BITS if bits is None else bits
    band_bits = mm.PHASH_DEFAULT_BAND_BITS if band_bits is None else band_bits
    family = {"bits": bits, "band_bits": band_bits}
    return _hamming_band_flags(
        spark, input_dir, checkpoint_dir, flags_dir, band_store_dir,
        available_now, max_files_per_trigger, metrics, staleness_factor,
        on_stale,
        fam=sidecar.PHASH,
        family=family,
        opts={**family, "payload_col": payload_col, "id_col": id_col},
        candidates=mm.phash_dedup_candidates,
        store_candidates=mm.incremental_phash_candidates,
        band_rows=mm.phash_band_store,
        loop="streaming_phash_flags",
        schema=f"{id_col} LONG, {payload_col} BINARY",
        not_null=(id_col,),
    )


def streaming_ivf_append(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    index_dir: str,
    centroids: list[list[float]],
    codebooks: list[list[list[int]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int | None = None,
    residual: bool = False,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    metrics: list | None = None,
    staleness_factor: float | None = None,
    on_stale: str = "report",
) -> StreamingQuery:
    """Continuous ANN index maintenance — the IVF/PQ index's streaming
    twin, completing the symmetry every dedup band store already has
    (each monitored store family: batch append + streaming loop +
    one-call rebuild): embedding batches land as
    ``(vec_id, embedding)`` parquet, every micro-batch is encoded
    with the FROZEN trained quantizer and appended to the
    cell-partitioned layout via ``append_to_ivf_index`` — the
    existing index is never read or rewritten, the append touches
    only the cell directories the batch lands in, and probe-limited
    queries keep pruning at the file index while the stream runs.

    The ``sidecar.IVF`` quantizer fingerprint is checked BEFORE
    the stream starts (a restart with retrained centroids/codebooks
    fails fast — mixed codes are never comparable) and again inside
    every append (the batch path's guard, unchanged). ``metrics``
    attaches the distortion monitor: one
    :func:`~cybersecurity_miw_spark.operators.similarity.
    distortion_report` per trigger — mean assigned-centroid
    distortion of THE BATCH vs the training-time baseline, ``stale``
    above ``staleness_factor`` × it; a drifted embedding stream trips
    it and the remediation is the one-call
    :func:`~cybersecurity_miw_spark.operators.similarity.
    rebuild_ivf_index` (in the single-writer window, then restart
    the stream with the fresh quantizer); ``on_stale``: the family
    policy hook — see :func:`streaming_near_dup_flags` (note the
    tripped batch HAS been appended when the monitor runs — the
    replay after rebuild re-encodes it under the fresh quantizer,
    the stale rows die with the rebuilt layout). Replay caveat as the
    other loops: the append precedes the checkpoint commit, so
    at-least-once recovery can duplicate (id, code) rows — top-k
    queries tolerate duplicates (same id, same score); compact with
    ``compact_ann_index_cell`` in maintenance windows."""
    from cybersecurity_miw_spark.operators import similarity

    metrics = _stale_gate(metrics, on_stale)
    eff_scale = similarity.PQ_SCALE if scale is None else scale
    sidecar.check(
        spark, index_dir, sidecar.IVF,
        quantizer=similarity.quantizer_fingerprint(
            centroids, codebooks, eff_scale, residual
        ),
    )

    def body(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        start = len(metrics) if metrics is not None else 0
        similarity.append_to_ivf_index(
            batch_df.localCheckpoint(eager=True),
            centroids,
            codebooks,
            index_dir,
            vec_col=vec_col,
            id_col=id_col,
            scale=eff_scale,
            residual=residual,
            metrics=metrics,
            staleness_factor=(
                staleness_factor
                if staleness_factor is not None
                else similarity.DISTORTION_DEFAULT_FACTOR
            ),
        )
        _enforce_stale(metrics, start, on_stale, "streaming_ivf_append")

    return micro_batch_loop(
        spark, input_dir, checkpoint_dir, body,
        schema=f"{id_col} LONG, {vec_col} ARRAY<DOUBLE>",
        not_null=(id_col, vec_col),
        max_files_per_trigger=max_files_per_trigger,
        available_now=available_now,
    )


def _frozen_model_scores(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    scores_dir: str,
    model_dir: str,
    available_now: bool,
    max_files_per_trigger: int | None,
    metrics: list | None,
    threshold_micro_nats: int | None,
    on_stale: str,
    *,
    load,
    drift_report,
    score,
    columns: tuple[str, ...],
    default_threshold: int,
    loop: str,
) -> StreamingQuery:
    """The frozen-model scoring loop shared by the DSIR, quality
    classifier and n-gram LM feeds. Each model family supplies its
    ``load(spark, model_dir)`` (the before-start check),
    ``drift_report(batch, model_dir, threshold_micro_nats=...)``,
    ``score(batch, model_dir)`` and the ``columns`` the scores sink
    keeps."""
    metrics = _stale_gate(metrics, on_stale)
    # fail fast: model + sidecar must exist and parse before start
    load(spark, model_dir)
    thresh = (
        threshold_micro_nats
        if threshold_micro_nats is not None
        else default_threshold
    )

    def body(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.localCheckpoint(eager=True)
        if batch_df.rdd.isEmpty():
            return
        if metrics is not None:
            report = drift_report(
                batch_df, model_dir, threshold_micro_nats=thresh
            )
            metrics.append(report)
            # a drifted batch must not reach the scores feed: raise
            # BEFORE the append, so the restart replays it against the
            # rebuilt model
            _raise_if_stale(report, on_stale, loop)
        score(batch_df, model_dir).select(*columns).write.mode(
            "append"
        ).parquet(scores_dir)

    return micro_batch_loop(
        spark, input_dir, checkpoint_dir, body, parse=parse_doc_lines,
        max_files_per_trigger=max_files_per_trigger,
        available_now=available_now,
    )


def streaming_dsir_scores(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    scores_dir: str,
    model_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    metrics: list | None = None,
    threshold_micro_nats: int | None = None,
    on_stale: str = "report",
) -> StreamingQuery:
    """Continuous DSIR scoring (operators/dsir.py — Xie et al., arXiv
    2302.03169) against a FROZEN persisted model: each micro-batch of
    ``doc_id<TAB>text`` lines gains ``llr_micro_sum`` from the
    n_buckets-bounded broadcast LLR table and is appended to
    ``scores_dir`` — the selection feed of a streaming curation
    pipeline (rank/threshold downstream; the md5 Gumbel column is a
    deterministic function of doc_id, so Gumbel top-k over any window
    of the scores is reproducible after the fact).

    Unlike the band-store loops this one cannot bootstrap its store —
    scoring without a model is meaningless — so a missing or
    family-mismatched ``sidecar.DSIR`` sidecar fails BEFORE the stream
    starts. Per trigger the drift monitor
    (:func:`~cybersecurity_miw_spark.operators.dsir.dsir_drift_report`
    — JS divergence of the batch's bucket distribution vs the model's
    stored raw reference, micro-nat integers) appends to ``metrics``;
    a drifted feed means the frozen weights are BIASED for this
    batch, so ``on_stale="raise"`` fails the trigger before its
    scores are appended and before the checkpoint commits — offline
    :func:`~cybersecurity_miw_spark.operators.dsir.rebuild_dsir_model`
    then a restart replays the tripped batch with fresh weights (the
    family's remediation contract, docs/MONITORING.md). Replay caveat
    as the other loops: at-least-once appends can duplicate score
    rows after a crash, never lose them."""
    from cybersecurity_miw_spark.operators import dsir

    return _frozen_model_scores(
        spark, input_dir, checkpoint_dir, scores_dir, model_dir,
        available_now, max_files_per_trigger, metrics,
        threshold_micro_nats, on_stale,
        load=dsir.load_dsir_model,
        drift_report=dsir.dsir_drift_report,
        score=dsir.dsir_score_batch,
        columns=("doc_id", "llr_micro_sum"),
        default_threshold=dsir.DSIR_DRIFT_DEFAULT_MICRO_NATS,
        loop="streaming_dsir_scores",
    )


def streaming_clf_scores(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    scores_dir: str,
    model_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    metrics: list | None = None,
    threshold_micro_nats: int | None = None,
    on_stale: str = "report",
) -> StreamingQuery:
    """Continuous quality-classifier scoring
    (operators/qualityclf.py — the fastText-recipe selection gate)
    against a FROZEN persisted model: each micro-batch of
    ``doc_id<TAB>text`` lines gains ``clf_score_micro`` (exact long
    micro-logits from the dim-bounded broadcast weight table) and is
    appended to ``scores_dir`` — thresholds and top-k downstream are
    monotone in P(target), so selection over any window of the feed
    is reproducible after the fact.

    The dsir-scoring loop's contract verbatim: a missing or
    dim-mismatched ``sidecar.CLF`` sidecar fails BEFORE the stream
    starts; per trigger the drift monitor
    (:func:`~cybersecurity_miw_spark.operators.qualityclf.
    quality_clf_drift_report` — JS divergence of the batch's hashed-
    feature distribution vs the model's stored raw reference) appends
    to ``metrics``; ``on_stale="raise"`` fails the trigger before
    its scores are appended and before the checkpoint commits, so
    offline :func:`~cybersecurity_miw_spark.operators.qualityclf.
    rebuild_quality_model` then a restart replays the tripped batch
    against the fresh decision boundary (docs/MONITORING.md). Replay
    caveat as the other loops: at-least-once appends can duplicate
    score rows after a crash, never lose them."""
    from cybersecurity_miw_spark.operators import qualityclf

    return _frozen_model_scores(
        spark, input_dir, checkpoint_dir, scores_dir, model_dir,
        available_now, max_files_per_trigger, metrics,
        threshold_micro_nats, on_stale,
        load=qualityclf.load_quality_model,
        drift_report=qualityclf.quality_clf_drift_report,
        score=qualityclf.score_with_model,
        columns=("doc_id", "clf_score_micro"),
        default_threshold=qualityclf.CLF_DRIFT_DEFAULT_MICRO_NATS,
        loop="streaming_clf_scores",
    )


def streaming_lm_scores(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    scores_dir: str,
    model_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    metrics: list | None = None,
    threshold_micro_nats: int | None = None,
    on_stale: str = "report",
) -> StreamingQuery:
    """Continuous perplexity scoring (operators/ngramlm.py — the
    CCNet §4.3 LM gate) against a FROZEN persisted model: each
    micro-batch of ``doc_id<TAB>text`` lines gains ``n_lm_tokens`` /
    ``lp_micro_sum`` / ``nlp_micro_tok`` (exact long micro-nats from
    the vocab-bounded model join) and is appended to ``scores_dir``
    — bucket cuts and keep-thresholds downstream are monotone in
    ``nlp_micro_tok``, so selection over any window of the feed is
    reproducible after the fact.

    The clf-scoring loop's contract verbatim: a missing or
    order-mismatched ``sidecar.LM`` sidecar fails BEFORE the stream
    starts; per trigger the drift monitor
    (:func:`~cybersecurity_miw_spark.operators.ngramlm.
    lm_drift_report` — JS divergence of the batch's unigram
    distribution vs the model's stored counts) appends to
    ``metrics``; ``on_stale="raise"`` fails the trigger before its
    scores are appended and before the checkpoint commits, so
    offline :func:`~cybersecurity_miw_spark.operators.ngramlm.
    rebuild_lm_model` then a restart replays the tripped batch
    against the fresh model (docs/MONITORING.md). Replay caveat as
    the other loops: at-least-once appends can duplicate score rows
    after a crash, never lose them."""
    from cybersecurity_miw_spark.operators import ngramlm

    return _frozen_model_scores(
        spark, input_dir, checkpoint_dir, scores_dir, model_dir,
        available_now, max_files_per_trigger, metrics,
        threshold_micro_nats, on_stale,
        load=ngramlm.load_lm_model,
        drift_report=ngramlm.lm_drift_report,
        score=ngramlm.score_with_lm_model,
        columns=("doc_id", "n_lm_tokens", "lp_micro_sum", "nlp_micro_tok"),
        default_threshold=ngramlm.LM_DRIFT_DEFAULT_MICRO_NATS,
        loop="streaming_lm_scores",
    )


URL_LINE_SCHEMA = "doc_id LONG, url STRING, text STRING"


def parse_url_doc_lines(lines: DataFrame) -> DataFrame:
    """``doc_id<TAB>url<TAB>text`` lines → typed columns (JVM
    from_csv, tab separator, no UDF) — the crawl-feed line shape the
    URL ingest loop consumes. Text must not contain raw tabs (the
    usual TSV contract; land JSON/parquet and adapt the reader when
    it can)."""
    return lines.select(
        F.from_csv(
            F.col("value"), URL_LINE_SCHEMA, {"sep": "\t"}
        ).alias("d")
    ).select("d.*")


def streaming_url_dedup_ingest(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    corpus_dir: str,
    store_dir: str,
    available_now: bool = True,
    metrics: list | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Continuous URL-exact dedup ingest — the crawl-feed twin of
    :func:`streaming_dedup_ingest` ("one document per page" decided
    continuously, the C4/RefinedWeb stage-one rule as a stream).
    Each micro-batch of ``doc_id<TAB>url<TAB>text`` lines:

    1. reads the persisted URL fingerprint store (absent on first
       batch),
    2. keeps batch docs whose CANONICAL URL
       (urlcurate.canonical_url) is not in the store and who are
       their batch's min-id representative
       (urlcurate.url_dedup_against_store),
    3. appends accepted docs to ``corpus_dir`` and their canonical
       fingerprints to ``store_dir``.

    Same two-append crash-healing contract, cache-scope discipline,
    backpressure cap, and ``metrics`` dicts ({'batch_id', 'n_batch',
    'n_accepted', 'n_rejected'}) as the text-fingerprint loop; state
    lives entirely in the store parquet, rebuildable by any batch
    job (``url_fingerprint_store`` over the corpus)."""
    from cybersecurity_miw_spark.operators import urlcurate

    return _exact_dedup_loop(
        spark, input_dir, checkpoint_dir, corpus_dir, store_dir,
        available_now, metrics, max_files_per_trigger,
        parse=parse_url_doc_lines,
        dedup=_url_dedup,
        store_rows=urlcurate.url_fingerprint_store,
    )


def streaming_crawl_curate_ingest(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    corpus_dir: str,
    url_store_dir: str,
    fp_store_dir: str,
    lang_allow: tuple | None = None,
    min_words: int = 3,
    max_link_frac: float = 0.5,
    available_now: bool = True,
    metrics: list | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """The full r17 crawl→dataset chain as ONE continuous ingest loop
    — the streaming composition of the stages
    ``curate_documents(url_col=..., html_col=..., lang_allow=...)``
    runs in batch. Each micro-batch of ``doc_id<TAB>url<TAB>html``
    lines:

    1. **URL dedup** — canonical-URL min-id within the batch, plus an
       anti-join against the persisted PROCESSED-URL store (see
       below), so a page is curated at most once across the whole
       crawl history;
    2. **HTML→text extraction** — ``htmlextract.extract_main_text``
       (tag strip + entity decode + jusText-lite boilerplate line
       filter); pages that extract to nothing fall to the next gate;
    3. **language gate** (``lang_allow``, optional) — keep only docs
       the char-trigram classifier confidently assigns to an allowed
       language (empty extractions are ``und`` and drop here);
    4. **text-fingerprint dedup** — min-id within the batch on the
       EXTRACTED text's fingerprint, plus an anti-join against the
       persisted text store (same page body under a different URL,
       the mirror-site case);
    5. appends accepted ``(doc_id, url, text, lang)`` rows to
       ``corpus_dir``, accepted text fingerprints to
       ``fp_store_dir``, and — deliberately — the URL fingerprints
       of every URL-stage SURVIVOR (not just finally-accepted docs)
       to ``url_store_dir``: the URL store records *processed*
       pages, so a page rejected by the text gates is not re-curated
       on every future fetch. Rebuildable: the corpus anti-join
       rebuild only restores ACCEPTED urls; a full rebuild needs the
       crawl log, which is why the store is append-managed here.

    Same crash-healing contract as the sibling loops: the three
    appends are idempotent under checkpoint replay (replayed docs hit
    their own stored fingerprints and drop), cache scope is
    per-batch, and ``metrics`` records the per-stage funnel
    ({'batch_id', 'n_batch', 'n_url_new', 'n_lang_kept',
    'n_accepted'})."""
    from cybersecurity_miw_spark.operators import (
        htmlextract,
        langid,
        urlcurate,
    )

    lang_profiles = langid.load_lang_profiles() if lang_allow is not None else None

    def body(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint(eager=True)
        n_batch = batch_df.count() if metrics is not None else None

        # 1. URL stage (processed-URL store)
        url_new = _url_dedup(
            batch_df, _read_store_if_present(sess, url_store_dir)
        ).localCheckpoint(eager=True)

        # 2. extraction (the landing 'text' column carries HTML)
        pages = url_new.withColumnRenamed("text", "html")
        extracted = htmlextract.extract_main_text(
            pages,
            html_col="html",
            id_col="doc_id",
            min_words=min_words,
            max_link_frac=max_link_frac,
        ).select("doc_id", "text")
        curated = pages.select("doc_id", "url").join(extracted, "doc_id")

        # 3. language gate
        if lang_allow is not None:
            langs = langid.detect_language(
                curated, profiles=lang_profiles
            ).select("doc_id", "lang")
            curated = curated.join(langs, "doc_id").filter(
                F.col("lang").isin(*[str(x) for x in lang_allow])
            )
        curated = curated.localCheckpoint(eager=True)

        # 4. text-fingerprint stage
        accepted = _fingerprint_dedup(
            curated, _read_store_if_present(sess, fp_store_dir)
        ).localCheckpoint(eager=True)

        if metrics is not None:
            metrics.append({
                "batch_id": batch_id,
                "n_batch": n_batch,
                "n_url_new": url_new.count(),
                "n_lang_kept": curated.count(),
                "n_accepted": accepted.count(),
            })
        accepted.write.mode("append").parquet(corpus_dir)
        fingerprint_store(accepted).write.mode("append").parquet(
            fp_store_dir
        )
        urlcurate.url_fingerprint_store(url_new).write.mode(
            "append"
        ).parquet(url_store_dir)

    return micro_batch_loop(
        spark, input_dir, checkpoint_dir, body, parse=parse_url_doc_lines,
        max_files_per_trigger=max_files_per_trigger,
        available_now=available_now,
    )


def streaming_frontier_ingest(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    frontier_dir: str,
    url_store_dir: str,
    robots_dir: str | None = None,
    agent: str = "*",
    available_now: bool = True,
    metrics: list | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """The DISCOVERY half of the crawl loop — the frontier twin of
    :func:`streaming_crawl_curate_ingest` (which handles content;
    the two loops share the processed-URL store). Each micro-batch
    of fetched ``doc_id<TAB>url<TAB>html`` pages:

    1. **outlink extraction** — ``linkgraph.outlink_edges`` (href
       resolution against the page URL + canonicalization);
    2. **unseen filter** — anti-join the canonical targets against
       the persisted PROCESSED-URL store at ``url_store_dir`` (the
       same store the curation loop appends to), so already-crawled
       pages never re-enter the frontier;
    3. **robots gate** (optional) — when ``robots_dir`` holds a
       ``(host, robots_txt)`` parquet table of fetched robots
       bodies, disallowed targets drop (robots.robots_allowed,
       RFC 9309);
    4. appends one ``(batch_id, url_fingerprint, url, n_links,
       n_src_pages)`` row per surviving target to ``frontier_dir``.

    The frontier is a COUNT store, so idempotency under checkpoint
    replay works differently from the fingerprint stores: a replayed
    trigger re-appends the same ``(batch_id, url_fingerprint)`` rows,
    and :func:`read_frontier` / :func:`compact_frontier_store`
    collapse exact replays with a per-(batch, target) max BEFORE
    summing across batches — counts never double under at-least-once
    delivery. ``metrics`` records the per-stage funnel
    ({'batch_id', 'n_pages', 'n_edges', 'n_unseen', 'n_emitted'})."""
    from cybersecurity_miw_spark.operators import linkgraph, robots

    def body(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        # r19 (§5 / VERDICT r18 #8): the per-stage eager
        # localCheckpoints exist ONLY so the metrics funnel's
        # count() actions don't recompute the upstream stage —
        # with metrics=None they were four extra jobs per trigger
        # for a single-consumer chain whose one real action is the
        # final append (measured 3.19 -> 2.11 s/batch at the
        # 12-batch fixture after gating them). This loop reads
        # url_store_dir / robots_dir and writes frontier_dir —
        # disjoint paths, so the lazy plan has no read-your-write
        # hazard (unlike the curate loop, whose pre-append
        # checkpoint snapshots the store it appends to — keep
        # that one).
        want_metrics = metrics is not None
        if want_metrics:
            batch_df = batch_df.localCheckpoint(eager=True)
        n_pages = batch_df.count() if want_metrics else None
        pages = batch_df.withColumnRenamed("text", "html")
        edges = linkgraph.outlink_edges(pages)
        if want_metrics:
            edges = edges.localCheckpoint(eager=True)
        n_edges = edges.count() if want_metrics else None

        deg = linkgraph.url_in_degree(edges)
        store = _read_store_if_present(sess, url_store_dir)
        if store is not None:
            fresh = deg.join(
                store.select("url_fingerprint"),
                F.md5(deg["dst_url"]) == F.col("url_fingerprint"),
                "left_anti",
            )
        else:
            fresh = deg
        if want_metrics:
            fresh = fresh.localCheckpoint(eager=True)
        n_unseen = fresh.count() if want_metrics else None

        if robots_dir is not None:
            robots_docs = _read_store_if_present(sess, robots_dir)
            if robots_docs is not None:
                rules = robots.parse_robots(robots_docs)
                fresh = robots.robots_allowed(
                    fresh, rules, agent=agent, url_col="dst_url"
                ).filter(F.col("allowed")).drop(
                    "allowed", "matched_rule", "matched_type"
                )

        out = fresh.select(
            F.lit(int(batch_id)).alias("batch_id"),
            F.md5("dst_url").alias("url_fingerprint"),
            F.col("dst_url").alias("url"),
            F.col("n_links").cast("long"),
            F.col("n_src_pages").cast("long"),
        )
        if want_metrics:
            out = out.localCheckpoint(eager=True)
        n_emitted = out.count() if want_metrics else None
        out.write.mode("append").parquet(frontier_dir)
        if metrics is not None:
            metrics.append({
                "batch_id": int(batch_id),
                "n_pages": n_pages,
                "n_edges": n_edges,
                "n_unseen": n_unseen,
                "n_emitted": n_emitted,
            })

    return micro_batch_loop(
        spark, input_dir, checkpoint_dir, body, parse=parse_url_doc_lines,
        max_files_per_trigger=max_files_per_trigger,
        available_now=available_now,
    )


def read_frontier(
    spark: SparkSession,
    frontier_dir: str,
    url_store_dir: str | None = None,
) -> DataFrame:
    """Aggregate the frontier count store into the fetch-priority
    view: per target URL the cross-batch evidence sums and the
    breadth-weighted ``frontier_score``. Exact checkpoint replays
    collapse first (max per (batch_id, url_fingerprint) — the
    documented at-least-once contract), then batches sum. Pass
    ``url_store_dir`` to also drop targets crawled SINCE their
    frontier rows were written."""
    df = spark.read.parquet(frontier_dir)
    per_batch = df.groupBy("batch_id", "url_fingerprint").agg(
        F.max("url").alias("url"),
        F.max("n_links").alias("n_links"),
        F.max("n_src_pages").alias("n_src_pages"),
    )
    agg = per_batch.groupBy("url_fingerprint").agg(
        F.max("url").alias("url"),
        F.sum("n_links").alias("n_links"),
        F.sum("n_src_pages").alias("n_src_pages"),
    )
    if url_store_dir is not None:
        store = _read_store_if_present(spark, url_store_dir)
        if store is not None:
            agg = agg.join(
                store.select("url_fingerprint"), "url_fingerprint",
                "left_anti",
            )
    return agg.select(
        "url",
        "n_links",
        "n_src_pages",
        (F.col("n_links") * F.col("n_src_pages")).cast("long").alias(
            "frontier_score"
        ),
    )


def compact_frontier_store(
    spark: SparkSession, frontier_dir: str, target_files: int = 1
) -> dict:
    """Compact the frontier count store: collapse exact replay
    duplicates and merge each target's batches into ONE row
    (batch_id = the max contributing batch — later appends still
    merge correctly because read_frontier's per-batch max only has
    to defend WITHIN a batch id), rewritten atomically — the
    rewrite_table lifecycle every store family here has."""
    from cybersecurity_miw_spark.sources.maintain import rewrite_table

    def collapse(df: DataFrame) -> DataFrame:
        per_batch = df.groupBy("batch_id", "url_fingerprint").agg(
            F.max("url").alias("url"),
            F.max("n_links").alias("n_links"),
            F.max("n_src_pages").alias("n_src_pages"),
        )
        return per_batch.groupBy("url_fingerprint").agg(
            F.max("batch_id").alias("batch_id"),
            F.max("url").alias("url"),
            F.sum("n_links").alias("n_links"),
            F.sum("n_src_pages").alias("n_src_pages"),
        ).select(
            "batch_id", "url_fingerprint", "url", "n_links", "n_src_pages"
        )

    return rewrite_table(spark, frontier_dir, collapse, target_files)
