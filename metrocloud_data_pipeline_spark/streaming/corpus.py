"""Streaming corpus ingest — the crawl-arrival path for the curation
operators (SURVEY §2.16).

At 100 TB the training corpus is not loaded once; crawl batches arrive
continuously. This wires the batch curation operators (which are pure
DataFrame transforms) into Structured Streaming exactly the way the
sensor path does (streaming/pipeline.py): a file/Kafka source feeds
foreachBatch, and every micro-batch goes through

  1. in-batch exact dedup (normalized-text digest, keep min doc_id),
  2. incremental cross-corpus dedup — anti-join against the DIGEST
     column of everything already ingested (at scale: a digest-bucketed
     side table maintained by the same job; here: a column-pruned read
     of the target table),
  2.5. (optional) incremental NEAR-dup screen — MinHash-LSH candidates
     against the standing corpus + exact Jaccard verify
     (llm.dedup.cross_corpus_jaccard); the batch band frame broadcasts
     so store rows never shuffle,
  3. hard quality rules (llm.curation.quality_filter),

and only the surviving rows append to the corpus store. Rejects are
optionally recorded with their reason for ingest observability — the
same valid/rejects dual-stream shape as OP-T9/T10.

The append is effectively-once: re-delivered micro-batches lose their
rows to step 2 (their digests are already in the store), the same
idempotence argument as maintenance.idempotent_append for OP-ST6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..llm.curation import quality_filter
from ..llm.dedup import cross_corpus_jaccard, text_digest, unigram_bands
from ..operators.maintenance import (
    overwrite_batch_partition,
    read_store_or_none,
    recover_store,
)
from .pipeline import _metrics_row, _parquet_stream, _start_micro_batches

DOCUMENT_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def _ensure_band_index(
    spark: SparkSession, store: DataFrame, band_index_path: str
) -> DataFrame | None:
    """Return a band index guaranteed to cover every doc in the corpus
    store, repairing it first if it has fallen behind. Returns None only
    if the repair itself cannot make the index trustworthy.

    Two real divergence modes exist (both permanent screening gaps if
    trusted blindly, because later batches screen ONLY against the
    index):
      - bootstrap: the stream is started with band_index_path against a
        pre-existing corpus store — the index starts empty and would
        only ever hold post-start docs;
      - crash gap: a kill between the corpus append and the band append
        leaves docs in the store with no band rows, and the retried
        batch sees them as duplicate_in_corpus (kept is empty), so
        their band rows would never be written.

    Detection is doc_id COVERAGE (store ids anti-joined against index
    ids), not a row-count product: a doc whose text normalizes to
    nothing yields no MinHash signature and can never be banded, and a
    count-based check (index rows == store docs x BANDS) would fail
    forever on such a doc — every batch re-running the repair AND
    re-banding the whole corpus, a silent permanent regression. With
    the anti-join, an unbandable doc costs one doc-sized no-op repair
    attempt per batch (bounded, and correctly absent from screening —
    a doc with no signature has no bands to collide on). Repair bands
    exactly the missing docs and appends them — batch-sized after a
    crash, store-sized once at bootstrap. Parquet job commits are
    all-or-nothing, so partial per-doc band sets do not occur."""
    idx = read_store_or_none(spark, band_index_path)
    store_ids = store.select("doc_id")
    if idx is not None:
        idx_ids = idx.select("doc_id").distinct()
        missing_ids = store_ids.join(idx_ids, "doc_id", "left_anti")
        if missing_ids.isEmpty():
            # ghost check: index rows for docs absent from the store
            # (should be impossible — bands append strictly after their
            # docs) — refuse to screen against them
            if not idx_ids.join(store_ids, "doc_id", "left_anti").isEmpty():  # pragma: no cover - defensive
                return None
            return idx
    else:
        missing_ids = store_ids.distinct()
    missing_docs = store.select("doc_id", "text").join(missing_ids, "doc_id", "left_semi")
    # at-least-once append by design: the repair bands exactly the
    # docs PROVEN missing by the anti-join above, so a re-run cannot
    # write a doc's band rows twice (they stop being missing)
    unigram_bands(missing_docs).write.mode("append").parquet(band_index_path)
    repaired = spark.read.parquet(band_index_path)
    if not repaired.select("doc_id").distinct().join(
        store_ids, "doc_id", "left_anti"
    ).isEmpty():  # pragma: no cover - defensive
        return None
    return repaired


def load_lm_counts(spark: SparkSession, lm_counts_path: str) -> DataFrame:
    """Aggregate the per-batch LM deltas run_corpus_ingest_stream
    maintains into the corpus-wide (token, c_raw, c_tgt) state —
    curation.lm_token_counts is mergeable by summation, so the log-
    structured layout reads back exactly as if computed over the whole
    store. Feed this to curation.dsir_score_rows to weight ARRIVING
    docs against the standing corpus without rescanning its text."""
    return (
        spark.read.parquet(lm_counts_path)
        .groupBy("token")
        .agg(F.sum("c_raw").alias("c_raw"), F.sum("c_tgt").alias("c_tgt"))
    )


def stream_document_files(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based document stream (stands in for the crawl-delivery
    bus; swap for a Kafka reader in a deployed pipeline)."""
    return _parquet_stream(spark, DOCUMENT_SCHEMA, path, max_files_per_trigger)


def curate_batch(
    batch: DataFrame,
    existing_digests: DataFrame | None = None,
    min_tokens: int = 3,
    corpus_docs: DataFrame | None = None,
    near_dup_threshold: float = 0.95,
    corpus_bands: DataFrame | None = None,
    quality_mode: str = "basic",
    decontam_mode: str = "off",
    bench_grams: DataFrame | None = None,
    bloom: tuple[bytes, int, int] | None = None,
    decontam_n: int = 6,
    decontam_threshold: float = 0.0,
    decontam_max_gram_df: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch of corpus curation -> (kept, rejected-with-reason).

    Pure batch-DataFrame logic so it is unit-testable outside streaming
    and reusable for backfills. The batch side is small relative to the
    store, so its digests broadcast into the anti-join and store rows
    never shuffle (same direction argument as dedup.cross_corpus_exact).

    quality_mode selects the ingest quality gate on top of the dedup
    stages: 'basic' = quality_filter's hard rules (token bounds, mean
    token length, TTR); 'gopher' adds the full Gopher Table A1
    non-repetition panel (per-rule reject reasons via
    gopher_quality_panel(with_reasons=True) — the SAME rule list as
    the registered query, so the gate and the audit can't drift);
    'c4' adds the C4 page decision (>= 3 surviving sentences, no
    lorem-ipsum, no brace); 'strict' applies both. Every added gate is
    a stateless map-only expression over the batch — nothing new is
    stateful, so streaming semantics are unchanged.

    decontam_mode ('off' | 'exact' | 'bloom') is the BENCHMARK
    DECONTAMINATION gate (VERDICT r14 #4 — the last curation stage
    that existed batch-only): an arriving doc whose n-gram overlap
    with the eval-set union exceeds decontam_threshold (as a fraction
    of its distinct grams; the default 0.0 rejects on ANY shared
    gram) is rejected with reason 'contaminated_benchmark'. The
    eval-set state is built ONCE at stream start and passed in
    prebuilt: 'exact' probes a broadcast distinct gram-hash frame
    (`bench_grams`), 'bloom' probes a broadcast bitmap
    (`bloom=(bitmap, m, k)` from build_ngram_bloom — the form that
    survives an eval union too big to broadcast as a set; its
    fpp-bounded false positives can only over-remove, never leak —
    but under BLOOM the any-gram default is a foot-gun: per-gram fpp
    amplifies to a 1-(1-fpp)^G per-doc rate, so pair bloom with a
    threshold >= fpp; run_corpus_ingest_stream enforces this).
    The gate runs LAST, after the quality gates: those are map-only
    filters, so the n-gram explode — the gate's one real cost — runs
    over the fewest rows. Registered batch keys (decontaminate_ngram,
    decontaminate_ngram_bloom, decontaminate_bloom_audit) stay the
    oracle anchors for both probe forms."""
    if quality_mode not in ("basic", "gopher", "c4", "strict"):
        raise ValueError(f"curate_batch: unknown quality_mode {quality_mode!r}")
    if decontam_mode not in ("off", "exact", "bloom"):
        raise ValueError(f"curate_batch: unknown decontam_mode {decontam_mode!r}")
    if decontam_mode == "exact" and bench_grams is None:
        raise ValueError("curate_batch: decontam_mode='exact' needs bench_grams=")
    if decontam_mode == "bloom" and bloom is None:
        raise ValueError("curate_batch: decontam_mode='bloom' needs bloom=(bitmap, m, k)")
    digested = batch.withColumn("digest", text_digest(F.col("text")))

    # 0. fail-loud validity split. A NULL text row has a NULL digest
    # and a NULL doc_id row has no identity for the keep-min rule; both
    # would VANISH from kept AND rejected at the digest equi-join below
    # (NULL keys never match an inner join) — a silent drop, the exact
    # accounting failure the rejects stream exists to prevent (found by
    # the streaming edge-parity fixture, r11). Route them to rejected
    # with an explicit reason instead; every input row now lands in
    # exactly one of (kept, rejected).
    invalid = digested.where(F.col("doc_id").isNull() | F.col("digest").isNull())
    invalid_rejects = invalid.select(
        "doc_id",
        "digest",
        F.when(F.col("doc_id").isNull(), F.lit("null_doc_id"))
        .otherwise(F.lit("null_text"))
        .alias("reason"),
    )
    digested = digested.where(
        F.col("doc_id").isNotNull() & F.col("digest").isNotNull()
    )

    # 1. in-batch exact dedup: keep the smallest doc_id per digest
    w_keep = digested.groupBy("digest").agg(F.min("doc_id").alias("_keep_id"))
    deduped = digested.join(F.broadcast(w_keep), "digest").where(
        F.col("doc_id") == F.col("_keep_id")
    )
    in_batch_dropped = digested.join(F.broadcast(w_keep), "digest").where(
        F.col("doc_id") != F.col("_keep_id")
    )

    # 2. incremental cross-corpus dedup against the standing store
    if existing_digests is not None:
        known = existing_digests.select("digest").distinct()
        fresh = deduped.join(known, "digest", "left_anti")
        cross_dropped = deduped.join(known, "digest", "left_semi")
    else:
        fresh = deduped
        cross_dropped = deduped.limit(0)

    # 2.5 (optional) NEAR-dup screen against the standing corpus:
    # MinHash-LSH candidates + exact Jaccard verify (the
    # dedup_incremental_jaccard decision, wired into the arrival path).
    # The matched-id set is batch-bounded and localCheckpoint()ed so the
    # keep/drop split doesn't re-run the banding pipeline per consumer.
    if corpus_docs is not None:
        # corpus_bands may arrive pre-built (the band-index table this
        # same stream maintains — then NO corpus re-banding happens and
        # the store is only tokenized for matched candidates); otherwise
        # band the store HERE and pass the rows in, so the screen runs as
        # ONE eager action — the checkpoint of the verified ids below —
        # with no separate candidate checkpoint inside
        # cross_corpus_jaccard; the persist is released once that action
        # has run
        own_persist = corpus_bands is None
        if own_persist:
            corpus_bands = unigram_bands(corpus_docs.select("doc_id", "text")).persist()
        try:
            nd_ids = (
                cross_corpus_jaccard(
                    fresh.select("doc_id", "text"),
                    corpus_docs.select("doc_id", "text"),
                    threshold=near_dup_threshold,
                    corpus_bands=corpus_bands,
                )
                .select(F.col("doc_new").alias("doc_id"))
                .distinct()
                .localCheckpoint()
            )
        finally:
            if own_persist:
                corpus_bands.unpersist()
        near_dropped = fresh.join(F.broadcast(nd_ids), "doc_id", "left_semi")
        fresh = fresh.join(F.broadcast(nd_ids), "doc_id", "left_anti")
    else:
        near_dropped = fresh.limit(0)

    # 3. hard quality rules; carry the reason string for rejects.
    # EVERY gate below is the passthrough (no-join) form: the gate
    # functions are pure per-row projections, so keep/drop is a filter
    # over ONE projection of the batch. The previous join-back-on-
    # doc_id form re-executed the batch's dedup lineage per gate and
    # paid a shuffle join — measured +50% per batch for the strict
    # panel gates at the 10x fixture (PROBE_r10 §b) before this rewire.
    batch_cols = [c for c in fresh.columns if c != "_keep_id"]
    flagged = quality_filter(fresh, min_tokens=min_tokens, passthrough=True)
    kept = flagged.where(F.col("keep")).select(*batch_cols)
    quality_dropped = flagged.where(~F.col("keep"))

    # 3b. optional panel gates (map-only, stateless)
    gopher_dropped = kept.limit(0).withColumn("reject_reasons", F.lit(""))
    if quality_mode in ("gopher", "strict"):
        from ..llm.curation import gopher_quality_panel

        gp = gopher_quality_panel(kept, with_reasons=True, passthrough=True)
        gopher_dropped = gp.where(~F.col("gopher_pass"))
        kept = gp.where(F.col("gopher_pass")).select(*batch_cols)
    c4_dropped = kept.limit(0).withColumn("reject_reasons", F.lit(""))
    if quality_mode in ("c4", "strict"):
        from ..llm.curation import c4_line_filter

        c4 = c4_line_filter(kept, passthrough=True).withColumn(
            "reject_reasons",
            F.array_join(
                F.array_compact(
                    F.array(
                        F.when(F.col("n_sentences") < 3, F.lit("c4_too_few_sentences")),
                        F.when(F.col("has_lorem_ipsum"), F.lit("c4_lorem_ipsum")),
                        F.when(F.col("has_brace"), F.lit("c4_brace")),
                    )
                ),
                ",",
            ),
        )
        c4_dropped = c4.where(~F.col("c4_keep"))
        kept = c4.where(F.col("c4_keep")).select(*batch_cols)

    # 4. benchmark decontamination gate (stateless per batch; the
    # eval-set state — gram frame or bitmap — arrives prebuilt). The
    # contaminated-id set is batch-bounded and localCheckpoint()ed so
    # the keep/drop split doesn't re-run the gram explode per consumer
    # (the nd_ids shape above).
    decontam_dropped = kept.limit(0)
    if decontam_mode != "off":
        from ..llm.curation import contamination_check, contamination_check_bloom

        # materialize the survivors ONCE before the gram explode: the
        # gate's report, the keep/drop split, and every downstream
        # consumer otherwise re-execute the batch's whole dedup +
        # quality lineage (the bad_ids checkpoint below runs eagerly)
        kept = kept.localCheckpoint()
        if decontam_mode == "exact":
            report = contamination_check(
                kept, n=decontam_n, bench_grams=bench_grams,
                max_gram_df=decontam_max_gram_df,
            )
        else:
            report = contamination_check_bloom(
                kept, n=decontam_n, bloom=bloom,
                max_gram_df=decontam_max_gram_df,
            )
        bad_ids = (
            report.where(F.col("contamination_frac") > decontam_threshold)
            .select("doc_id")
            .localCheckpoint()
        )
        decontam_dropped = kept.join(F.broadcast(bad_ids), "doc_id", "left_semi")
        kept = kept.join(F.broadcast(bad_ids), "doc_id", "left_anti")

    rejected = (
        in_batch_dropped.select("doc_id", "digest", F.lit("duplicate_in_batch").alias("reason"))
        .unionByName(
            cross_dropped.select(
                "doc_id", "digest", F.lit("duplicate_in_corpus").alias("reason")
            )
        )
        .unionByName(
            near_dropped.select(
                "doc_id", "digest", F.lit("near_duplicate_in_corpus").alias("reason")
            )
        )
        .unionByName(
            quality_dropped.select(
                "doc_id", "digest", F.col("reject_reasons").alias("reason")
            )
        )
        .unionByName(
            gopher_dropped.select(
                "doc_id", "digest", F.col("reject_reasons").alias("reason")
            )
        )
        .unionByName(
            c4_dropped.select(
                "doc_id", "digest", F.col("reject_reasons").alias("reason")
            )
        )
        .unionByName(
            decontam_dropped.select(
                "doc_id", "digest", F.lit("contaminated_benchmark").alias("reason")
            )
        )
        .unionByName(invalid_rejects)
    )
    return kept, rejected


def run_corpus_ingest_stream(
    doc_stream: DataFrame,
    table_path: str,
    checkpoint_path: str,
    rejects_path: str | None = None,
    metrics_path: str | None = None,
    min_tokens: int = 3,
    quality_mode: str = "basic",
    near_dup_screen: bool = False,
    near_dup_threshold: float = 0.95,
    band_index_path: str | None = None,
    compact_every_batches: int | None = None,
    lm_counts_path: str | None = None,
    lm_target=None,
    decontam_mode: str = "off",
    benchmark: DataFrame | None = None,
    decontam_n: int = 6,
    decontam_threshold: float = 0.0,
    decontam_fpp: float = 0.01,
    decontam_max_gram_df: int | None = None,
) -> StreamingQuery:
    """Wire curate_batch into foreachBatch against a parquet store.

    band_index_path (with near_dup_screen) maintains the MinHash band
    index incrementally: each batch screens against the stored
    (doc_id, band, bucket) rows instead of re-banding the whole corpus
    — the full-corpus signature pass is paid once per DOCUMENT, not
    once per batch — and appends the kept docs' band rows after the
    corpus append. The store text is then only tokenized for matched
    candidates (verification), never scanned for hashing.

    Each micro-batch reads ONLY the digest column of the standing store
    (column-pruned parquet scan; at scale a digest-bucketed index table
    maintained alongside the store) before appending survivors.
    metrics_path appends one observability row per batch — ingested /
    kept / per-reason reject counts and kept char mass, the corpus
    analog of the sensor pipeline's per-batch pipeline_metrics — so
    crawl-quality drift (e.g. a source going boilerplate) shows up as a
    queryable trend, not a log line.

    lm_counts_path maintains the DSIR unigram-LM state incrementally
    (curation.lm_token_counts deltas, one partition per batch_id): the
    importance-resampling weights for ARRIVING docs are then scored
    against load_lm_counts() without ever rescanning corpus text — the
    LM is part of the corpus like the band index is. `lm_target` is
    the boolean Column marking the target slice (defaults to none of
    the corpus). Effectively-once: the delta lands via dynamic
    partition overwrite keyed by batch_id BEFORE the corpus append, so
    a crash between the two re-delivers a batch whose kept set (and
    therefore delta) is recomputed identically, and a re-delivery
    after the append keeps an empty kept set whose empty delta
    overwrites nothing.

    quality_mode ('basic' | 'gopher' | 'c4' | 'strict') selects the
    ingest quality gate (see curate_batch) — validated HERE so a typo
    fails at stream start, not inside the first micro-batch.

    decontam_mode ('off' | 'exact' | 'bloom') arms the BENCHMARK
    DECONTAMINATION gate (VERDICT r14 #4): `benchmark` (bench_id/text,
    or any doc_id/text frame) is reduced ONCE at stream start to its
    probe form — the distinct gram-hash frame (exact,
    localCheckpoint()ed so no batch re-explodes the eval set) or the
    Bloom bitmap (bloom, the broadcast-bitmap shape of
    contamination_check_bloom) — and every micro-batch probes against
    that standing state, rejecting contaminated arrivals with reason
    'contaminated_benchmark' and an n_contaminated metrics column.
    The eval set is fixed for the stream's lifetime by construction
    (same contract as the LM state: update = restart the stream, so a
    mid-stream eval-set edit can never half-apply)."""
    if quality_mode not in ("basic", "gopher", "c4", "strict"):
        raise ValueError(
            f"run_corpus_ingest_stream: unknown quality_mode {quality_mode!r}"
        )
    if decontam_mode not in ("off", "exact", "bloom"):
        raise ValueError(
            f"run_corpus_ingest_stream: unknown decontam_mode {decontam_mode!r}"
        )
    if decontam_mode != "off" and benchmark is None:
        raise ValueError(
            "run_corpus_ingest_stream: decontam_mode needs a benchmark frame"
        )
    if decontam_mode == "bloom" and decontam_threshold < decontam_fpp:
        # the any-gram default is UNUSABLE under a Bloom probe: the
        # per-gram false-positive rate amplifies to a per-doc rate of
        # 1-(1-fpp)^G — at fpp 1% a clean 100-gram doc is flagged with
        # p~0.63, and the 10x stream probe measured 49,993 of 50,000
        # arrivals rejected on false positives alone. A clean doc's FP
        # fraction concentrates around fpp, so any threshold >= fpp
        # separates FP noise from real overlap (3-5x fpp is a sane
        # margin); a zero-leak-tolerance policy that really wants
        # any-gram rejection should use decontam_mode='exact'.
        raise ValueError(
            f"run_corpus_ingest_stream: decontam_threshold="
            f"{decontam_threshold} < fpp={decontam_fpp} under bloom mode "
            "rejects ~1-(1-fpp)^G of CLEAN docs by false positives alone; "
            "set decontam_threshold >= fpp (typically 3-5x) or use "
            "decontam_mode='exact' for any-gram semantics"
        )
    spark = doc_stream.sparkSession

    # build the eval-set probe state ONCE, before the stream starts
    bench_grams = None
    bloom = None
    if decontam_mode != "off":
        from ..llm.curation import build_ngram_bloom, ngram_hashes

        id_col = "bench_id" if "bench_id" in benchmark.columns else "doc_id"
        if decontam_mode == "exact":
            bench_grams = (
                ngram_hashes(benchmark, decontam_n, id_col=id_col)
                .select("gh")
                .distinct()
                .localCheckpoint()
            )
        else:
            bloom = build_ngram_bloom(
                benchmark, n=decontam_n, fpp=decontam_fpp, id_col=id_col
            )

    def _process(batch: DataFrame, batch_id: int) -> None:
        # the inline compaction below swaps stores via swap_store — if a
        # prior run died mid-swap, restore the aside copy before reading
        recover_store(table_path)
        if band_index_path is not None:
            recover_store(band_index_path)
        store = read_store_or_none(spark, table_path)
        if store is not None:
            existing = store.select("digest")
            # near-dup screen reads (doc_id, text) only — the store scan
            # stays column-pruned; with band_index_path the stored band
            # rows replace the re-banding pass entirely
            corpus_docs = store.select("doc_id", "text") if near_dup_screen else None
        else:
            existing = None  # first batch: store does not exist yet
            corpus_docs = None
        corpus_bands = None
        if corpus_docs is not None and band_index_path is not None:
            # NEVER trust the index blindly: bootstrap/crash gaps (docs
            # in the store with no band rows) would otherwise let their
            # near-dups through forever — repair before screening
            corpus_bands = _ensure_band_index(spark, store, band_index_path)
        kept, rejected = curate_batch(
            batch,
            existing_digests=existing,
            min_tokens=min_tokens,
            corpus_docs=corpus_docs,
            near_dup_threshold=near_dup_threshold,
            corpus_bands=corpus_bands,
            quality_mode=quality_mode,
            decontam_mode=decontam_mode,
            bench_grams=bench_grams,
            bloom=bloom,
            decontam_n=decontam_n,
            decontam_threshold=decontam_threshold,
            decontam_max_gram_df=decontam_max_gram_df,
        )
        panel_gates = quality_mode != "basic" or decontam_mode != "off"
        if (
            (near_dup_screen and band_index_path is not None)
            or lm_counts_path is not None
            or panel_gates
        ):
            # the band/LM appends below re-evaluate kept AFTER the
            # corpus append; materialize it now so every consumer
            # (metrics, corpus append, band rows, LM deltas) reads one
            # pre-append snapshot — otherwise the store anti-join would
            # see the batch's own just-appended rows and emit nothing
            # (read-your-own-writes). Also materialized whenever the
            # PANEL gates are on: the Gopher/C4 projections are heavy
            # string HOFs, and without a checkpoint each consumer
            # (metrics agg, rejects write, corpus append) re-executes
            # them over the whole batch — measured as most of the
            # strict-mode per-batch overhead at the 10x fixture
            # (PROBE_r10 §b round 3)
            kept = kept.localCheckpoint()
        if panel_gates and rejects_path is not None and metrics_path is not None:
            # same double-evaluation shape on the reject side (agg +
            # write both re-run the dropped gates' projections)
            rejected = rejected.localCheckpoint()
        stats = None
        if metrics_path is not None:
            # aggregate BEFORE appending: kept's plan anti-joins the
            # store's lazy file listing, so an after-append recompute
            # would see the batch's own rows and undercount (read-your-
            # own-writes); the 1-row aggregates are bounded driver data
            k = kept.agg(
                F.count(F.lit(1)).alias("n_kept"),
                F.coalesce(F.sum("n_chars"), F.lit(0)).alias("kept_chars"),
            ).first()
            r = rejected.agg(
                F.count(F.lit(1)).alias("n_rejected"),
                F.count_if(F.col("reason") == "duplicate_in_batch").alias("n_dup_in_batch"),
                F.count_if(F.col("reason") == "duplicate_in_corpus").alias("n_dup_in_corpus"),
                F.count_if(F.col("reason") == "near_duplicate_in_corpus").alias(
                    "n_near_dup_in_corpus"
                ),
                # invalid rows (null text / null doc_id, curate_batch
                # step 0) counted apart: they are malformed ARRIVALS,
                # not quality failures — lumping them into the quality
                # counter would misread a broken upstream feed as a
                # corpus-quality drift
                F.count_if(F.col("reason").isin("null_text", "null_doc_id")).alias(
                    "n_invalid"
                ),
                # counted apart from quality for the same reason as
                # n_invalid: a contaminated doc is an eval-set overlap,
                # not a corpus-quality drift — and the gate's whole
                # point is that this count is visible per batch
                F.count_if(F.col("reason") == "contaminated_benchmark").alias(
                    "n_contaminated"
                ),
            ).first()
            stats = (
                batch_id,
                int(k.n_kept) + int(r.n_rejected),
                int(k.n_kept),
                int(k.kept_chars),
                int(r.n_rejected),
                int(r.n_dup_in_batch),
                int(r.n_dup_in_corpus),
                int(r.n_near_dup_in_corpus),
                int(r.n_rejected)
                - int(r.n_dup_in_batch)
                - int(r.n_dup_in_corpus)
                - int(r.n_near_dup_in_corpus)
                - int(r.n_invalid)
                - int(r.n_contaminated),
                int(r.n_invalid),
                int(r.n_contaminated),
            )
        # rejects BEFORE the kept append: rejected's corpus semi-join
        # also reads the store's file listing, and an after-append
        # recompute would flag the batch's own just-appended docs as
        # corpus duplicates. Effectively-once (r14): redelivery
        # rewrites this batch's partition — note the REPLAY of a batch
        # that crashed after the corpus append legitimately rewrites it
        # with a LARGER set (the formerly-kept docs now reject as
        # duplicate_in_corpus, pointing at their store copy), which is
        # the honest record of what the replay did; what can no longer
        # happen is the same reject row appearing twice.
        if rejects_path is not None:
            overwrite_batch_partition(rejected, rejects_path, batch_id)
        if lm_counts_path is not None:
            # BEFORE the corpus append: a crash between the delta and
            # the append re-delivers the batch with the same kept set,
            # and the batch_id-keyed dynamic overwrite rewrites the
            # partition with identical rows (see docstring)
            from ..llm.curation import lm_token_counts, lm_token_rows

            tgt = lm_target if lm_target is not None else F.lit(False)
            # kept goes through UNPROJECTED: lm_target may reference any
            # DOCUMENT_SCHEMA column (lang, n_chars, ...), and
            # lm_token_rows projects down to (doc_id, is_target, token)
            # itself. overwrite_batch_partition binds the conf to the
            # BATCH's session by construction (foreachBatch hands an
            # isolated clone; a mode set on the outer session leaves
            # the clone on static overwrite — measured, r12)
            delta = lm_token_counts(lm_token_rows(kept, tgt))
            overwrite_batch_partition(delta, lm_counts_path, batch_id)
        # at-least-once append by design: the store carries no batch_id
        # partitioning (compaction rewrites its layout), and redelivery
        # is made effectively-once UPSTREAM by the digest anti-join —
        # a replayed batch's formerly-kept docs reject as
        # duplicate_in_corpus, so this append lands them at most once
        kept.write.mode("append").parquet(table_path)
        if near_dup_screen and band_index_path is not None:
            # keep the band index tracking the corpus: band the KEPT
            # docs only (batch-sized) and append — kept's plan reads the
            # pre-append store listing, so this never double-bands
            # at-least-once append by design: on redelivery kept is
            # empty (digest anti-join), so no duplicate band rows; a
            # crash BETWEEN the corpus append and this write leaves a
            # gap that _ensure_band_index detects and repairs before
            # the next screen
            unigram_bands(kept.select("doc_id", "text")).write.mode("append").parquet(
                band_index_path
            )
        if compact_every_batches and batch_id % compact_every_batches == (
            compact_every_batches - 1
        ):
            # OP-ST7-shape periodic maintenance, inline between batches:
            # one file set lands per micro-batch per sink, and after
            # thousands of batches FILE COUNT (not bytes) dominates the
            # per-batch store re-listing — rewrite the append sinks down
            # to a bounded file count (atomic staging swap; the next
            # batch re-lists and sees the compacted layout)
            from ..operators.maintenance import compact_append_store

            compact_append_store(spark, table_path, sort_cols=["digest"])
            if band_index_path is not None:
                compact_append_store(spark, band_index_path, sort_cols=["bucket"])
        if stats is not None:
            # n_invalid (added r11) sits LAST so a metrics table started
            # before it existed is a strict column-prefix of this schema:
            # appends merge cleanly and mergeSchema readers see NULL
            # n_invalid on old rows instead of silently misreading a
            # shifted column (ADVICE r11). Effectively-once (r14): one
            # row per batch_id, rewritten under redelivery — batch_id
            # is the partition key now, not a data column
            # on the BATCH-bound clone, not the shared outer session:
            # two concurrent streams interleaving the overwrite conf's
            # set/restore on one session could land a STATIC overwrite
            # that wipes prior partitions (r14 review)
            # n_contaminated (added r15) sits after n_invalid for the
            # same strict column-prefix evolution reason
            metrics_row = _metrics_row(
                batch.sparkSession,
                "n_ingested long, n_kept long, kept_chars long, "
                "n_rejected long, n_dup_in_batch long, n_dup_in_corpus long, "
                "n_near_dup_in_corpus long, n_quality_rejected long, "
                "n_invalid long, n_contaminated long",
                stats[1:],
            )
            overwrite_batch_partition(metrics_row, metrics_path, batch_id)

    return _start_micro_batches(doc_stream, _process, checkpoint_path)
