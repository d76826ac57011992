"""Streaming ANN serving — micro-batched vector search against a
standing IVF corpus (SURVEY §2.16).

The batch ANN operators (llm/similarity.py) answer "neighbors of the
corpus within itself"; a serving tier answers a continuous ARRIVAL of
external query vectors. This wires knn_join_ivf's external-query mode
into Structured Streaming the same way corpus ingest does: a file
source of query batches feeds foreachBatch, and each micro-batch is
scored against the pre-built corpus layout:

- the coarse quantizer is resolved ONCE at stream start
  (similarity.coarse_quantizer: k-means trained by default, the
  measured-good operating point); every micro-batch probes the same
  lists the corpus was listed by;
- with `corpus_table` a bucketed ivf_corpus_table, the corpus side of
  the probe join reads bucket-to-bucket — per batch the only moving
  data is the (small) query band: batch rows broadcast, corpus rows
  never shuffle. A pre-built table REQUIRES its persisted quantizer
  ((codebook, fingerprint) from load_ivf_quantizer) — knn_join_ivf
  refuses the combination otherwise, because probing a layout with a
  different quantizer's list_ids returns silently wrong neighbors;
- run_ann_serving_stream_pq serves from the COMPRESSED corpus instead:
  the persisted ivfpq_corpus_table codes (4 B/vector) + its codebook
  tables are the only thing read per batch — the float corpus is never
  touched after ingest, which is the 100 TB serving tier;
- results land in parquet partitioned by batch_id with DYNAMIC
  partition overwrite: a re-delivered micro-batch rewrites exactly its
  own partition with identical (deterministic) content, so the sink is
  effectively-once without any read-back — stronger than the
  append+anti-join shape corpus ingest needs, because here the
  partition key (batch_id) fully identifies the write.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..llm.similarity import (
    coarse_quantizer,
    escalate_underfilled,
    ivfpq_topk_batch,
    knn_join_ivf,
    load_ivf_quantizer,
    load_pq_codebook,
)

QUERY_SCHEMA = "vec_id long, embedding array<float>"


def stream_query_vectors(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based query-vector stream (stands in for the request bus;
    swap for a Kafka reader in a deployed serving tier)."""
    reader = spark.readStream.schema(QUERY_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def _write_effectively_once(result: DataFrame, batch_id: int, output_path: str) -> None:
    """Dynamic partition overwrite keyed by batch_id: a re-delivered
    batch rewrites exactly its own partition with the same
    deterministic rows — effectively-once with no read-back."""
    from ..operators.maintenance import dynamic_partition_overwrite

    with dynamic_partition_overwrite(result.sparkSession):
        (
            result.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(output_path)
        )



def _write_serving_metrics(
    spark: SparkSession,
    metrics_path: str,
    batch: DataFrame,
    batch_id: int,
    output_path: str,
    k: int,
    t_start: float,
) -> None:
    """One observability row per served micro-batch — the ANN twin of
    corpus ingest's per-batch metrics table: query/result counts, the
    UNDERFILLED count (queries that got fewer than k neighbors — the
    first symptom of a too-selective codes/corpus filter or too-small
    nprobe, PROBE_r11 §h), and wall-clock. Counts read back the batch's
    own just-written partition instead of re-executing the scoring plan;
    all frames are batch-bounded. A batch that wrote NOTHING (possible
    on the very first trigger) is handled without a read-back — see the
    guard below. Effectively-once like the result sink (r14): one row
    per batch_id via dynamic partition overwrite — a re-delivered
    batch rewrites its own row instead of appending a second one."""
    import time

    from ..operators.maintenance import overwrite_batch_partition

    q_ids = batch.select(F.col("vec_id").alias("q_id")).distinct()
    n_queries = q_ids.count()
    try:
        written = spark.read.parquet(output_path).where(
            F.col("batch_id") == batch_id
        )
        n_results = written.count()
    except AnalysisException:
        # a batch whose every result row was dropped (all zero-norm
        # queries, or a fully starved corpus/codes filter) writes NO
        # parquet files — when it is also the FIRST batch there is
        # nothing at output_path to infer a schema from, and an
        # unguarded read would kill the stream exactly on the
        # degenerate batch the metrics exist to surface (ADVICE r11)
        written = None
        n_results = 0
    if written is None or n_results == 0:
        # every query got 0 < k neighbors
        n_underfilled = n_queries
    else:
        per_q = written.groupBy("q_id").agg(F.count(F.lit(1)).alias("_n"))
        n_underfilled = (
            q_ids.join(per_q, "q_id", "left")
            .where(F.coalesce(F.col("_n"), F.lit(0)) < k)
            .count()
        )
    metrics_row = spark.createDataFrame(
        [(
            n_queries,
            n_results,
            n_underfilled,
            int((time.monotonic() - t_start) * 1000),
        )],
        "n_queries long, n_results long, n_underfilled long, wall_ms long",
    )
    overwrite_batch_partition(metrics_row, metrics_path, batch_id)


def run_ann_serving_stream(
    query_stream: DataFrame,
    corpus: DataFrame,
    output_path: str,
    checkpoint_path: str,
    k: int = 10,
    nprobe: int = 4,
    stride: int | None = None,
    corpus_table: DataFrame | None = None,
    available_now: bool = True,
    codebook=None,
    codebook_fingerprint: str | None = None,
    quantizer: str | None = None,
    train_k: int | None = None,
    corpus_filter=None,
    metrics_path: str | None = None,
    underfill_escalation: str | None = None,
    underfill_nprobe: int | None = None,
) -> StreamingQuery:
    """Score each micro-batch of query vectors against the corpus and
    append (batch_id, q_id, vec_id, label, cosine_sim, rank) rows.

    `corpus_filter` (boolean Column over corpus columns) serves
    FILTERED search: every batch's candidates are restricted to rows
    satisfying the predicate before the probe join (knn_join_ivf's
    corpus_filter — on a bucketed corpus_table the predicate reaches
    the scan). Size nprobe to the predicate's selectivity and audit
    with knn_filtered_recall_report before deploying: pre-filtering
    thins probed lists, recall is not free (PROBE_r11 §h).

    `underfill_escalation` ("reprobe" | "brute") closes the starvation
    loop metrics_path only OBSERVES (n_underfilled): per micro-batch,
    queries that got fewer than k valid neighbors — a filter-starved
    probe set, the measured min-recall-0.00 case of PROBE_r11 §l — are
    re-answered via escalate_underfilled before the write, so the sink
    never silently carries short result sets. "reprobe" re-runs exactly
    the starved queries at `underfill_nprobe` (default 4x nprobe;
    bounded cost, recall not guaranteed); "brute" falls back to the
    exact filtered scan (recall 1.0 for the starved queries, cost
    |starved| x |filtered corpus| — fine when starvation is the
    pathological tail it should be). A re-delivered batch escalates
    identically, so the dynamic-partition sink stays effectively-once.

    With no `codebook`, the coarse quantizer is resolved from the
    corpus once, here, before the stream starts (coarse_quantizer:
    trained by default, quantizer="stride" or stride= for the
    training-free sample; train once at deploy, serve forever).

    Pass corpus_table (a bucketed ivf_corpus_table) to skip per-batch
    corpus re-listing AND make the corpus side of every batch's probe
    join exchange-free — its persisted quantizer is REQUIRED alongside:
    codebook, codebook_fingerprint = the (ids, code) and fp from
    load_ivf_quantizer(spark, f"{table}_quantizer")."""
    if underfill_escalation not in (None, "reprobe", "brute"):
        # refuse at stream START, not inside the first starved batch
        raise ValueError(
            "run_ann_serving_stream: underfill_escalation must be None, "
            f"'reprobe' or 'brute', got {underfill_escalation!r}"
        )
    if corpus_table is not None and (codebook is None or codebook_fingerprint is None):
        # refuse at stream START (not inside the first micro-batch,
        # where the same knn_join_ivf guard would kill the stream
        # mid-flight): a pre-built layout needs BOTH halves of its
        # persisted quantizer
        raise ValueError(
            "run_ann_serving_stream: a pre-built corpus_table must come "
            "with its persisted quantizer — load_ivf_quantizer(spark, "
            "f'{table}_quantizer') and pass codebook + codebook_fingerprint"
        )
    # resolve (and validate) the quantizer at stream START, not inside
    # the first micro-batch; every batch then probes this one codebook
    codebook = coarse_quantizer(
        corpus, codebook, quantizer, stride, train_k, fn="run_ann_serving_stream"
    )

    def _process(batch: DataFrame, batch_id: int) -> None:
        import time

        t_start = time.monotonic()
        if not batch.head(1):
            return
        result = knn_join_ivf(
            corpus,
            k=k,
            nprobe=nprobe,
            listed=corpus_table,
            queries=batch.select("vec_id", "embedding"),
            codebook=codebook,
            codebook_fingerprint=codebook_fingerprint,
            corpus_filter=corpus_filter,
        )
        # a NULL cosine is an undefined similarity (zero-norm query or
        # zero-norm corpus row — failed encoder outputs): serving must
        # not emit it as a "neighbor". NULLs sort last in the desc rank
        # window, so non-null ranks are unchanged by this filter; a
        # zero-norm query yields NO rows rather than k arbitrary ones
        # ranked by NULL-tie accident (streaming edge-parity, r11).
        result = result.where(F.col("cosine_sim").isNotNull())
        if underfill_escalation is not None:
            # the splice reads the first pass three times (underfill
            # counts, anti-join, union) — pin and materialize it so the
            # probe join runs once per trigger, not three times
            first = result.persist()
            first.count()
            result = escalate_underfilled(
                first,
                corpus,
                k=k,
                queries=batch.select("vec_id", "embedding"),
                corpus_filter=corpus_filter,
                mode=underfill_escalation,
                nprobe=(
                    underfill_nprobe if underfill_nprobe is not None else 4 * nprobe
                ),
                listed=corpus_table,
                codebook=codebook,
                codebook_fingerprint=codebook_fingerprint,
                # escalated rows obey the same undefined-similarity
                # contract as the first pass
            ).where(F.col("cosine_sim").isNotNull())
            _write_effectively_once(result, batch_id, output_path)
            first.unpersist()
        else:
            _write_effectively_once(result, batch_id, output_path)
        if metrics_path is not None:
            _write_serving_metrics(
                result.sparkSession, metrics_path, batch, batch_id,
                output_path, k, t_start,
            )

    writer = query_stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_ann_serving_stream_pq(
    spark: SparkSession,
    query_stream: DataFrame,
    table_name: str,
    output_path: str,
    checkpoint_path: str,
    k: int = 10,
    nprobe: int = 4,
    available_now: bool = True,
    refine_factor: int | None = None,
    corpus: DataFrame | None = None,
    codes_filter=None,
    metrics_path: str | None = None,
) -> StreamingQuery:
    """Serve ANN micro-batches from the COMPRESSED persisted index —
    the ivfpq_corpus_table codes (4 B/vector, bucketed by list_id) plus
    its two persisted quantizer tables. Emits (batch_id, q_id, vec_id,
    adc_dist2, rank) rows with the same effectively-once sink as the
    float path — or, with `refine_factor` set, (batch_id, q_id, vec_id,
    cosine_sim, rank) through the refined path: ADC retrieves
    refine_factor*k candidates per query and ONLY those rows' float
    vectors are fetched from `corpus` for the exact re-rank
    (ivfpq_topk_batch_refined, FAISS IndexRefineFlat — PROBE_r09: pure
    ADC saturates at 0.64-0.72 recall in dense clusters; refined holds
    >= 0.96 at 10x). `corpus` is the float (vec_id, embedding) table
    and is REQUIRED with refine_factor: the candidate fetch is a
    selective vec_id join, never a corpus scan.

    `codes_filter` (boolean Column over codes-table columns — build the
    table with ivfpq_corpus_table(attach_cols=[...]) so the predicate
    columns ride the codes rows) serves FILTERED search at the
    compressed tier; same nprobe-vs-selectivity recall caveat as the
    float path (PROBE_r11 §h).

    This is the 100 TB serving tier: per batch the only reads are the
    probed lists' code buckets (plus rf*k float rows per query when
    refining). Both quantizer halves reload from the catalog (codebook
    = load_pq_codebook, coarse = load_ivf_quantizer on
    f"{table}_coarse", fingerprint re-verified) — nothing is re-derived
    from live embeddings, so serving stays consistent with the stored
    list_id column no matter how the corpus drifts after the build."""
    from ..llm.similarity import ivfpq_topk_batch_refined

    if refine_factor is not None and corpus is None:
        # refuse at stream START, not inside the first micro-batch
        raise ValueError(
            "run_ann_serving_stream_pq: refine_factor requires the float "
            "corpus frame (vec_id, embedding) — the exact re-rank fetches "
            "candidates' float rows from it"
        )
    # resolve once at stream start so a missing/corrupt sidecar fails
    # HERE, not inside the first micro-batch
    codebooks = load_pq_codebook(spark, table_name)
    cent_ids, cent_code, _fp = load_ivf_quantizer(spark, f"{table_name}_coarse")
    codes = spark.table(table_name)

    def _process(batch: DataFrame, batch_id: int) -> None:
        import time

        t_start = time.monotonic()
        if not batch.head(1):
            return
        if refine_factor is not None:
            result = ivfpq_topk_batch_refined(
                batch.select("vec_id", "embedding"),
                codes,
                codebooks,
                (cent_ids, cent_code),
                corpus,
                k=k,
                nprobe=nprobe,
                refine_factor=refine_factor,
                codes_filter=codes_filter,
            )
            # same undefined-similarity contract as the float path: the
            # exact re-rank scores by cosine, so zero-norm rows surface
            # as NULLs here too and must not serve as neighbors. (The
            # pure-ADC branch below is L2 over quantized codes — always
            # defined, even for a zero query — and stays unfiltered.)
            result = result.where(F.col("cosine_sim").isNotNull())
        else:
            result = ivfpq_topk_batch(
                batch.select("vec_id", "embedding"),
                codes,
                codebooks,
                (cent_ids, cent_code),
                k=k,
                nprobe=nprobe,
                codes_filter=codes_filter,
            )
        _write_effectively_once(result, batch_id, output_path)
        if metrics_path is not None:
            _write_serving_metrics(
                result.sparkSession, metrics_path, batch, batch_id,
                output_path, k, t_start,
            )

    writer = query_stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
