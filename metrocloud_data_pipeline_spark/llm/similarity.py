"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k of a query vector against the
  corpus — one broadcast of the query + a single scan; the baseline.
- embedding_norm_stats: per-label norm statistics (sanity/qa surface).
- lsh_topk: random-hyperplane LSH bucketing — the scale path: candidates
  share >= 1 hyperplane-sign band with the query, so only a fraction of
  the corpus is scored. Recall < 1 by construction; verified in tests
  against the brute-force baseline.
- cosine_near_dup_pairs: all-pairs near-duplicate detection by embedding
  cosine via LSH banding then exact verification on candidates.

All vector math is built-in (zip_with + aggregate fold in DOUBLE) — at
larger dims swap the scoring stage for an Arrow-batched pandas_udf doing
a BLAS matmul per batch; the surrounding plan (broadcast query, bucket
prefilter) is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import iterate_partials, round6


def _dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sq_norm(a) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_col(a, b) -> Column:
    # try_divide, not /: a zero-norm vector (a failed encoder output —
    # present in any real 100 TB corpus) makes the denominator 0, which
    # under ANSI mode ABORTS the whole job. NULL is also exactly what
    # the DuckDB oracles produce for x/0.0, so the twins stay
    # hash-identical; desc rankings put NULLs last on both engines and
    # threshold filters drop them on both.
    return F.try_divide(_dot(a, b), F.sqrt(_sq_norm(a)) * F.sqrt(_sq_norm(b)))


def cosine_batch() -> Column:
    """Arrow-batched cosine for BULK pair scoring (pandas_udf + numpy:
    one vectorized matmul per batch). Measured 2.5x faster than the
    built-in higher-order-function fold at ~1M pairs x dim 64, and the
    gap widens with dims. Use on rows-only paths (IVF assignment, LSH
    verification); oracle-checked queries keep cosine_col, whose
    sequential fold is bit-identical to the DuckDB twin.

    Zero-norm rows return a true NULL via a pandas nullable Float64
    series + pd.NA. That round-trips through the Arrow pandas-UDF
    serializer as SQL NULL on this repo's pins (pandas 2.x /
    pyarrow >= 12); older stacks may raise or coerce NA to NaN — which
    Spark ranks GREATEST in desc top-k, the exact bug this guards
    against. tests/test_oracle_edge_parity_embeddings.py pins that a NULL
    (not NaN) actually reaches Spark, so a pin downgrade fails loudly
    instead of silently re-promoting junk vectors."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no type hints: under `from __future__ import annotations` they are
    # strings that pandas_udf cannot resolve against function-local imports
    @pandas_udf("double")
    def cos(a, b):
        A = np.vstack(a.values).astype(np.float64)
        B = np.vstack(b.values).astype(np.float64)
        num = (A * B).sum(1)
        den = np.sqrt((A * A).sum(1)) * np.sqrt((B * B).sum(1))
        # zero-norm guard mirroring cosine_col's try_divide: a true
        # NULL (nullable Float64 + pd.NA), NOT NaN — Spark ranks NaN
        # GREATEST, so a zero-norm junk vector would win every desc
        # top-k; NULL sorts last like the codegen path
        ok = den > 0.0
        out = pd.Series(
            np.where(ok, num / np.where(ok, den, 1.0), 0.0), dtype="Float64"
        )
        out[~ok] = pd.NA
        return out

    return cos


def brute_force_topk(embeddings: DataFrame, query_vec_id: int, k: int = 10) -> DataFrame:
    """Exact cosine top-k for one stored query vector.

    The 1-row query is broadcast (stays a BroadcastNestedLoopJoin over a
    single row); scoring is one scan; top-k is TakeOrderedAndProject."""
    q = embeddings.where(F.col("vec_id") == query_vec_id).select(F.col("embedding").alias("q_emb"))
    scored = (
        embeddings.where(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            round6(cosine_col(F.col("embedding"), F.col("q_emb"))).alias("cosine_sim"),
        )
    )
    return scored.orderBy(F.desc("cosine_sim"), F.asc("vec_id")).limit(k)


def embedding_norm_stats(embeddings: DataFrame) -> DataFrame:
    """Per-label embedding-norm statistics (corpus QA)."""
    norm = F.sqrt(_sq_norm(F.col("embedding")))
    return (
        embeddings.select("label", norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("vec_count"),
            round6(F.avg("norm")).alias("avg_norm"),
            round6(F.min("norm")).alias("min_norm"),
            round6(F.max("norm")).alias("max_norm"),
        )
    )


def _hyperplane(dim: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane (pure Python,
    driver-side, tiny) — values derived from a splitmix-style integer mix
    so runs are reproducible without numpy RNG state."""
    vals = []
    x = seed * 0x9E3779B97F4A7C15 & (2**64 - 1)
    for _ in range(dim):
        x = (x ^ (x >> 30)) * 0xBF58476D1CE4E5B9 & (2**64 - 1)
        x = (x ^ (x >> 27)) * 0x94D049BB133111EB & (2**64 - 1)
        x ^= x >> 31
        vals.append((x / 2**64) * 2.0 - 1.0)
    return vals


def signs_col(vec, planes: list[list[float]]) -> Column:
    """Bit-sign signature of a vector against a set of hyperplanes."""
    bits = []
    for i, p in enumerate(planes):
        lit_plane = F.array(*[F.lit(v) for v in p])
        bits.append(F.when(_dot(vec, lit_plane) >= 0, F.lit(1)).otherwise(F.lit(0)).alias(f"b{i}"))
    return F.concat_ws("", *bits)


def band_sigs_col(vec, dim: int, bands: int, planes_per_band: int, seed0: int) -> Column:
    """Array of per-band hyperplane-sign signatures.

    Banded LSH (OR over bands of AND-ed planes): two vectors are
    candidates when ANY band signature matches — tunable recall, unlike
    a single all-planes bucket whose recall collapses as planes grow."""
    out = []
    for b in range(bands):
        planes = [_hyperplane(dim, seed0 + b * planes_per_band + i) for i in range(planes_per_band)]
        out.append(signs_col(vec, planes))
    return F.array(*out)


def lsh_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    dim: int = 64,
    bands: int = 8,
    planes_per_band: int = 4,
) -> DataFrame:
    """Approximate cosine top-k: score only vectors sharing at least one
    hyperplane band with the query. At 100 TB, band signatures are
    computed once at ingest and stored (bucketed layout); the probe is a
    partition-pruned bucket lookup + small exact scoring."""
    sigs = band_sigs_col(F.col("embedding"), dim, bands, planes_per_band, seed0=1)
    with_sig = embeddings.withColumn("band_sigs", sigs)
    q = with_sig.where(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb"), F.col("band_sigs").alias("q_sigs")
    )
    cands = (
        with_sig.where(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(q))
        .where(F.arrays_overlap(_tag_bands("band_sigs"), _tag_bands("q_sigs")))
    )
    scored = cands.select(
        "vec_id",
        "label",
        round6(cosine_col(F.col("embedding"), F.col("q_emb"))).alias("cosine_sim"),
    )
    return scored.orderBy(F.desc("cosine_sim"), F.asc("vec_id")).limit(k)


def _tag_bands(col_name: str) -> Column:
    """Prefix each band signature with its index so arrays_overlap only
    matches same-band signatures."""
    return F.transform(
        F.col(col_name), lambda sig, i: F.concat(i.cast("string"), F.lit(":"), sig)
    )


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    bands: int = 6,
    planes_per_band: int = 2,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: banded-LSH self-join (pairs
    sharing >= 1 band are scored) then exact cosine verification.

    The self-join keys on (band_idx, signature) after an explode — a
    shuffle proportional to bands x corpus, with bucket-local pair
    generation; AQE splits hot buckets."""
    with_sig = embeddings.withColumn(
        "band_sigs", band_sigs_col(F.col("embedding"), dim, bands, planes_per_band, seed0=101)
    )
    exploded = with_sig.select(
        "vec_id", "embedding", F.posexplode("band_sigs").alias("band", "sig")
    )
    a = exploded.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"), "band", "sig"
    )
    b = exploded.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"), "band", "sig"
    )
    cos = cosine_batch()
    # score and threshold BEFORE deduplicating: the band join already
    # shuffles rows carrying both embedding arrays, but scoring them in
    # the same stage (Arrow matmul; band-duplicates re-score at worst
    # `bands` times) means the dedup exchange moves only the qualifying
    # (vec_a, vec_b, sim) triples instead of a second pass of wide
    # embedding rows. Scores of a pair's duplicates are identical
    # (round6, deterministic), so id-keyed dropDuplicates is exact.
    scored = (
        a.join(b, ["band", "sig"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", round6(cos(F.col("emb_a"), F.col("emb_b"))).alias("cosine_sim"))
    )
    return scored.where(F.col("cosine_sim") >= threshold).dropDuplicates(["vec_a", "vec_b"])


def cosine_near_dup_exact(
    embeddings: DataFrame, threshold: float = 0.4, max_vecs: int | None = None
) -> DataFrame:
    """Exact all-pairs embedding-cosine near-duplicates.

    The verification baseline for cosine_near_dup_pairs: a non-equi
    self-join (vec_a < vec_b) scores every pair — quadratic. max_vecs
    bounds the audited slice deterministically (vec_id < max_vecs), the
    guard that keeps the exact form runnable at corpus scale.

    Why a cap rather than LSH-candidates-then-verify: at threshold 0.4
    the angle is ~66°, where a random hyperplane agrees with probability
    1 - θ/π ≈ 0.63 versus 0.5 for orthogonal pairs — too small a gap
    for any band scheme to hold recall ~1 without also admitting most
    of the corpus as candidates (quadratic again). Sub-0.5-cosine
    near-dup detection has no sub-quadratic exact-recall form; the
    high-threshold regime belongs to cosine_near_dup_pairs (LSH) and
    ANN probes to IVF (ivf_topk)."""
    if max_vecs is not None:
        embeddings = embeddings.where(F.col("vec_id") < max_vecs)
    a = embeddings.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    b = embeddings.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    scored = (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", round6(cosine_col(F.col("emb_a"), F.col("emb_b"))).alias("cosine_sim"))
    )
    return scored.where(F.col("cosine_sim") >= threshold)


def _stride_sample(embeddings: DataFrame, stride: int) -> DataFrame:
    """The training-free centroid frame (list_id, c_emb): a deterministic
    1-in-stride sample of the corpus, each centroid named by its vec_id."""
    return embeddings.where(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("list_id"), F.col("embedding").alias("c_emb")
    )


def _collect_codebook(centroids: DataFrame):
    """Driver-side (list_ids, unit-normalized codebook matrix) from the
    centroid frame — tiny by construction (1-in-stride sample)."""
    import numpy as np

    rows = centroids.orderBy("list_id").collect()
    ids = np.array([r.list_id for r in rows], dtype=np.int64)
    code = np.vstack([r.c_emb for r in rows]).astype(np.float64)
    code /= np.linalg.norm(code, axis=1, keepdims=True)
    return ids, code


def _unit_codebook(code):
    """Row-normalize a centroid matrix; an all-zero centroid stays zero."""
    import numpy as np

    norms = np.linalg.norm(code, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return code / norms


def _list_ranker():
    """The list-ranking kernel of every coarse-quantizer consumer:
    rank_lists(vectors, list_ids, code, n) -> [rows, n] list_ids, each
    row's n nearest lists by cosine against the unit-normalized
    codebook `code`, ties to the smaller list_id (every codebook is
    sorted by list_id, so a stable sort on -similarity does it).

    Built in a closure so the pandas UDFs that call it ship it to the
    Python workers by value: a module-level function pickles by
    reference, and the workers need not be able to import this
    package."""
    import numpy as np

    def rank_lists(vectors, list_ids, code, n):
        a = np.vstack(vectors).astype(np.float64)
        # zero-norm guard (failed-encoder rows): dividing by a 0 norm
        # makes the row all-NaN and the sort below pick a list by NaN
        # accident (plus a numpy warning per batch); a zero row instead
        # dots to 0 with every centroid and lands in the first lists
        # deterministically — its cosine is NULL downstream either way,
        # so it can never rank as a neighbor
        norms = np.linalg.norm(a, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        sims = (a / norms) @ code.T
        return list_ids[np.argsort(-sims, axis=1, kind="stable")[:, :n]]

    return rank_lists


# Cap for the auto-trained coarse quantizer: list structure should
# track cluster structure, not corpus size (PROBE_r06, see
# coarse_quantizer).
DEFAULT_TRAIN_K = 32

# Minimum training points per centroid when auto-sizing (FAISS's
# clustering guidance warns below ~39 points/centroid): more lists than
# the data can populate over-segments natural clusters and scatters
# true neighbors — the same failure mode as the stride sample, measured
# as recall 0.77 on a 90-vector/3-cluster corpus at k=32 vs 1.0 sized.
TRAIN_POINTS_PER_LIST = 39


def _auto_train_k(embeddings: DataFrame) -> int:
    """Auto-size the trained coarse quantizer: at most one list per
    TRAIN_POINTS_PER_LIST corpus vectors, capped at DEFAULT_TRAIN_K.
    Costs one column-pruned count — the default convenience path; a
    deploy-scale caller trains once with an explicit k near its known
    cluster structure and passes the codebook through."""
    n = embeddings.count()
    return max(1, min(DEFAULT_TRAIN_K, n // TRAIN_POINTS_PER_LIST))


def coarse_quantizer(
    embeddings: DataFrame,
    codebook=None,
    quantizer: str | None = None,
    stride: int | None = None,
    train_k: int | None = None,
    n_iter: int = 4,
    fn: str = "coarse_quantizer",
):
    """Resolve the coarse quantizer of an IVF index: (list_ids sorted
    ascending, unit-normalized [n_lists, dim] codebook). Every IVF
    entry point resolves its codebook here, once, and probes with it.

    Policy. The default is a k-means TRAINED codebook
    (trained_codebook, n_iter shuffle-free corpus scans), auto-sized by
    _auto_train_k (one count) unless `train_k` is given. PROBE_r06
    measured the training-free stride sample collapsing to recall@10
    0.41 avg / 0.00 min at 100k clustered vectors (its list count is
    tied to corpus SIZE and over-segments every natural cluster) while
    the trained codebook holds 1.00 at 1x and 10x. `quantizer="stride"`
    gives the training-free 1-in-`stride` sample back (default 31; for
    uniform corpora, where list count should track size). A caller's
    `codebook` is returned as is: train once at deploy, serve forever.

    Conflicts raise instead of being silently resolved (ADVICE r7/r8:
    callers passing stride=7 got auto-trained codebooks, with no
    signal): `stride=` alone implies quantizer="stride"; `stride=`
    together with quantizer="trained" or with an explicit `codebook`
    raises, since neither takes a stride; an unknown quantizer raises.
    `fn` names the calling entry point in the message."""
    if quantizer not in (None, "trained", "stride"):
        raise ValueError(f"{fn}: unknown quantizer {quantizer!r}")
    if stride is not None and (codebook is not None or quantizer == "trained"):
        given = "an explicit codebook" if codebook is not None else "quantizer='trained'"
        raise ValueError(
            f"{fn}: stride={stride} was passed together with {given}, which "
            "takes no stride — the training-free sample stride names would "
            "be silently ignored; drop one of the two"
        )
    if codebook is not None:
        return codebook
    if quantizer == "stride" or stride is not None:
        return _collect_codebook(_stride_sample(embeddings, 31 if stride is None else stride))
    k = train_k if train_k is not None else _auto_train_k(embeddings)
    return trained_codebook(embeddings, k=k, n_iter=n_iter)


def quantizer_fingerprint(ids, code) -> str:
    """Deterministic fingerprint of a coarse quantizer — sha256 over the
    exact int64 list_ids + float64 centroid bytes. Persisted with every
    ivf_corpus_table so a serving path can PROVE the codebook it probes
    with is the one the table was bucketed by (a trained codebook's
    list_ids 0..k-1 partially overlap a stride sample's vec_id multiples,
    so a mismatch returns silently wrong neighbors instead of erroring
    — this check turns that into a loud failure)."""
    import hashlib

    import numpy as np

    h = hashlib.sha256()
    h.update(np.ascontiguousarray(np.asarray(ids, dtype=np.int64)).tobytes())
    h.update(np.ascontiguousarray(np.asarray(code, dtype=np.float64)).tobytes())
    return h.hexdigest()


def _persist_quantizer(spark, name: str, ids, code) -> str:
    """Write a coarse quantizer as a tiny catalog table (list_id, c_emb,
    fp) — the index's codebook is part of the index, not a per-session
    artifact. float64 round-trips parquet exactly, so the fingerprint
    re-verifies bit-for-bit on reload."""
    fp = quantizer_fingerprint(ids, code)
    rows = [(int(i), [float(x) for x in v], fp) for i, v in zip(ids, code)]
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.createDataFrame(
        rows, "list_id long, c_emb array<double>, fp string"
    ).write.mode("overwrite").saveAsTable(name)
    return fp


def load_ivf_quantizer(spark, table_name: str):
    """Rehydrate the coarse quantizer persisted next to an
    ivf_corpus_table (as `<table>_quantizer`) or ivfpq_corpus_table (as
    `<table>_coarse`). Returns (ids, code, fingerprint) with the
    fingerprint re-verified against the reloaded bytes — pass all three
    through to knn_join_ivf so the probe path is validated against the
    layout it reads."""
    import numpy as np

    rows = spark.table(table_name).orderBy("list_id").collect()
    ids = np.array([r.list_id for r in rows], dtype=np.int64)
    code = np.vstack([r.c_emb for r in rows]).astype(np.float64)
    fp = rows[0].fp
    if quantizer_fingerprint(ids, code) != fp:
        raise ValueError(
            f"load_ivf_quantizer: {table_name} is corrupt — stored fingerprint "
            "does not match the reloaded centroid bytes"
        )
    return ids, code, fp


def ivf_assignments(
    embeddings: DataFrame,
    stride: int = 31,
    codebook=None,
    attach_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse index: (centroids, list assignments).

    Centroids are a deterministic 1-in-stride sample of the corpus
    (_stride_sample) — a training-free quantizer that scales the list
    count with corpus size. The codebook is collected and broadcast
    as one dense matrix (the FAISS pattern — fine up to ~1M centroids at
    these dims) and assignment is a single narrow pass: per Arrow batch,
    one BLAS matmul against the codebook + argmax. No candidate join, no
    shuffle — the earlier corpus x centroids join + max_by materialized
    N*C pair rows and shuffled them, which is exactly what dies at
    100 TB. Ties break to the smallest list_id (_list_ranker). At scale
    this runs once at ingest and the corpus is written bucketed by
    list_id, so probes prune to nprobe buckets. Pass a precollected
    `codebook` (from coarse_quantizer) to share one driver-side resolve
    across consumers."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    centroids = _stride_sample(embeddings, stride)
    ids, code = codebook if codebook is not None else _collect_codebook(centroids)
    bc = embeddings.sparkSession.sparkContext.broadcast((ids, code))
    rank_lists = _list_ranker()

    @pandas_udf("long")
    def nearest_list(emb):
        list_ids, codebook = bc.value
        return pd.Series(rank_lists(emb.values, list_ids, codebook, 1)[:, 0])

    # attach_cols rides extra columns (e.g. the vector itself) through
    # the SAME narrow projection, so consumers that need the listed
    # corpus avoid a vec_id self-join back onto embeddings
    assign = embeddings.select(
        "vec_id", *(attach_cols or []), nearest_list(F.col("embedding")).alias("list_id")
    )
    return centroids, assign


def knn_join_ivf_table(
    spark,
    table_name: str,
    embeddings: DataFrame | None = None,
    k: int = 10,
    nprobe: int = 4,
    queries: DataFrame | None = None,
    max_queries: int | None = None,
) -> DataFrame:
    """knn_join_ivf against a persisted ivf_corpus_table, loading the
    LISTED corpus and its quantizer from the SAME table name in one
    call — the supported way to combine them. knn_join_ivf's
    fingerprint check proves the codebook OBJECT matches a persisted
    quantizer's bytes (stale in-session codebooks, hand-edited tuples),
    but it cannot prove which TABLE that quantizer belongs to; this
    loader closes that gap by construction (both halves come from one
    name). For self-query mode pass `embeddings` (the corpus frame the
    query side iterates); external serving passes `queries`."""
    listed = spark.table(table_name)
    ids, code, fp = load_ivf_quantizer(spark, f"{table_name}_quantizer")
    return knn_join_ivf(
        embeddings if embeddings is not None else listed,
        k=k,
        nprobe=nprobe,
        listed=listed,
        queries=queries,
        max_queries=max_queries,
        codebook=(ids, code),
        codebook_fingerprint=fp,
    )


def ivf_index(
    embeddings: DataFrame, stride: int = 31
) -> tuple[DataFrame, DataFrame]:
    """Build-once IVF index: ivf_assignments with the assignment table
    persisted, for the build-at-ingest / probe-many pattern — repeated
    ivf_topk calls share one assignment pass instead of re-scoring the
    corpus per query. At 100 TB the equivalent is writing the corpus
    bucketed by list_id (maintenance.write_bucketed); this is the
    in-session form."""
    centroids, assign = ivf_assignments(embeddings, stride=stride)
    return centroids, assign.persist()


def knn_join_brute(
    embeddings: DataFrame,
    k: int = 10,
    max_queries: int | None = None,
    corpus_filter=None,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Exact batch kNN: top-k cosine neighbors for EVERY vector in the
    query slice (vec_id < max_queries; None = all) — the per-document
    neighbor lists embedding-based curation consumes (semantic dedup,
    diversity sampling, hard-negative mining), not a single probe.

    The query slice broadcasts against one corpus scan (|q| x n scored
    rows), then a per-query window takes the top k. This is the exact
    AUDIT form — the |q| x n blowup is the quadratic guard max_queries
    exists for; the corpus-scale path is knn_join_ivf, which scores
    only nprobe lists per query.

    `corpus_filter` (a boolean Column over the corpus columns, e.g.
    F.col("label") == 1) restricts the CANDIDATE side only — filtered
    search, "top-k among rows satisfying a predicate". Queries are
    never filtered: any vector may search a filtered corpus. On the
    exact path the filter simply shrinks the scan (predicate pushdown
    applies); recall semantics are exact by construction.

    `queries` (a (vec_id, embedding) frame) scores an EXPLICIT query
    set instead of the vec_id<max_queries self-slice — the exact
    fallback escalate_underfilled uses for starved filtered queries.
    The self-match exclusion stays active in both modes: for a
    self-slice it is required, for external queries (ids never collide
    with corpus vec_ids by the knn_join_ivf contract) it is a no-op —
    which also makes the function safe for the in-between case where
    `queries` is a subset of the corpus itself."""
    from pyspark.sql.window import Window

    q_src = queries if queries is not None else embeddings
    q = q_src.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    if max_queries is not None:
        q = q.where(F.col("q_id") < max_queries)
    corpus = embeddings if corpus_filter is None else embeddings.where(corpus_filter)
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "label",
            round6(cosine_col(F.col("embedding"), F.col("q_emb"))).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "vec_id", "label", "cosine_sim", "rank")
    )


def embed_decontaminate(
    corpus: DataFrame, eval_set: DataFrame, threshold: float = 0.9
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic twin of
    decontaminate_ngram (llm/curation.py): for every corpus vector,
    the nearest EVAL-SET vector's cosine and a contaminated flag at
    `threshold`. N-gram overlap misses paraphrased/translated benchmark
    leakage; embedding similarity is how the published decontamination
    pipelines catch it (e.g. the paraphrase-aware followups to GPT-3's
    13-gram rule).

    Plan: the eval set is benchmark-sized (thousands), the corpus is
    not — eval broadcasts, the corpus scans ONCE, and the per-vector
    top-1 is a map-side-combinable struct-max aggregate (ties to the
    smaller eval id via negated-id ordering), so the exchange carries
    ONE row per corpus vector, never the corpus x eval cross product.
    The |corpus| x |eval| scoring work itself is irreducible for the
    exact form; the banded/ANN path (knn_join_ivf with queries=eval)
    bounds it when the eval set grows. Returns (vec_id, eval_vec_id,
    max_sim, contaminated) — every corpus vector reports, so the
    output is also the audit trail."""
    ev = eval_set.select(
        F.col("vec_id").alias("eval_vec_id"), F.col("embedding").alias("e_emb")
    )
    if not ev.head(1):
        # an empty eval set would make every corpus row silently vanish
        # from the report (inner cross join) — the caller almost
        # certainly selected the wrong slice; fail loudly instead
        raise ValueError(
            "embed_decontaminate: eval_set is empty — every corpus vector "
            "would silently drop from the report; check the eval slice"
        )
    # r16: fan the corpus side out — the |corpus| x |eval| cosine
    # expressions ran 0.60 s of this 1.12 s query on one local scan
    # task (the knn_join_ivf single-split pattern); no-op at scale.
    from ..functions.partitioning import fan_out_scan

    scored = (
        fan_out_scan(corpus.select("vec_id", "embedding"))
        .crossJoin(F.broadcast(ev))
        .select(
            "vec_id",
            "eval_vec_id",
            round6(cosine_col(F.col("embedding"), F.col("e_emb"))).alias("sim"),
        )
    )
    best = scored.groupBy("vec_id").agg(
        F.max(
            F.struct(F.col("sim"), (-F.col("eval_vec_id")).alias("nid"))
        ).alias("_k")
    )
    return best.select(
        "vec_id",
        (-F.col("_k.nid")).alias("eval_vec_id"),
        F.col("_k.sim").alias("max_sim"),
        (F.col("_k.sim") >= F.lit(float(threshold))).alias("contaminated"),
    )


def ivf_corpus_table(
    embeddings: DataFrame,
    table_name: str,
    stride: int | None = None,
    num_buckets: int = 32,
    codebook=None,
    quantizer: str | None = None,
    train_k: int | None = None,
) -> str:
    """Materialize the IVF-listed corpus — (list_id, vec_id, label,
    embedding) — as a table BUCKETED on list_id, the build-at-ingest
    form of ivf_index for corpora queried repeatedly. knn_join_ivf's
    corpus-side join keys on list_id, so against this layout the
    planner reads bucket-to-bucket and the corpus side needs NO
    exchange — at 100 TB the corpus shuffle is the join's dominant
    cost, and it disappears (measured by tools/scale_probe.py).

    The coarse quantizer is `codebook`, or resolved from `quantizer`,
    `stride` and `train_k` by coarse_quantizer (trained by default).
    It is persisted alongside as `<table>_quantizer` with a byte
    fingerprint — reload it with load_ivf_quantizer and hand
    (codebook, fingerprint) to knn_join_ivf, which REFUSES a pre-listed
    corpus without the matching quantizer (probing a table with a
    different codebook's list_ids returns silently wrong neighbors)."""
    from ..operators.maintenance import _fs_delete, write_bucketed

    # resolve (and so validate) the quantizer before touching the
    # existing index (ADVICE r8: validation used to run AFTER the drop
    # loop, so the rejected call this check exists for destroyed a
    # previously persisted serving index and THEN raised)
    codebook = coarse_quantizer(
        embeddings, codebook, quantizer, stride, train_k, fn="ivf_corpus_table"
    )

    # a previous session may have left the managed location behind
    # without a catalog entry (saveAsTable then refuses the name even
    # in overwrite mode) — drop both the entry and any orphan dir
    spark = embeddings.sparkSession
    for t in (table_name, f"{table_name}_quantizer"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        wh = spark.conf.get("spark.sql.warehouse.dir")
        _fs_delete(f"{wh.rstrip('/')}/{t.lower()}")

    _, assign = ivf_assignments(embeddings, codebook=codebook)
    listed = assign.join(embeddings, "vec_id")
    write_bucketed(listed, table_name, "list_id", num_buckets=num_buckets)
    _persist_quantizer(spark, f"{table_name}_quantizer", *codebook)
    return table_name


def knn_join_ivf(
    embeddings: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    stride: int | None = None,
    listed: DataFrame | None = None,
    max_queries: int | None = None,
    queries: DataFrame | None = None,
    codebook=None,
    quantizer: str | None = None,
    train_k: int | None = None,
    codebook_fingerprint: str | None = None,
    corpus_filter=None,
    exclude_self: bool = False,
) -> DataFrame:
    """Batch ANN over the whole corpus: every vector gets its top-k
    neighbors, scoring only the members of its nprobe nearest IVF lists
    — corpus x (nprobe/stride) candidate pairs instead of corpus².

    `corpus_filter` (boolean Column over corpus columns) = FILTERED
    ANN: candidates are restricted to rows satisfying the predicate,
    applied to the listed corpus BEFORE the probe join (pre-filtering —
    with a bucketed corpus table the predicate pushes into the scan,
    so non-matching buckets' rows never reach the join). The caveat
    every filtered-ANN system carries: the probe still selects lists
    by the UNfiltered geometry, so a highly selective filter can leave
    fewer than k candidates in the probed lists — raise nprobe with
    selectivity, and audit with knn_filtered_recall_report (which
    compares against the exact filtered answer). Queries are never
    filtered.

    Plan shape at 100 TB: centroid selection per query is one Arrow
    batch pass against the broadcast codebook (same as assignment); the
    probe explode carries each query nprobe times into a join keyed on
    list_id — with the corpus written bucketed by list_id
    (maintenance.write_bucketed) that join is bucket-pruned and
    shuffle-free on the corpus side; candidate scoring is a vectorized
    matmul per Arrow batch; the final top-k window shuffles only
    (q_id, vec_id, sim) rows, k-boundable. Recall < 1 by construction —
    measured against knn_join_brute in tests.

    Pass `listed` (an ivf_corpus_table, bucketed on list_id, built with
    the SAME stride) to skip the assignment pass and make the corpus
    side of the probe join exchange-free.

    Pass `queries` (a (vec_id, embedding) frame) to run EXTERNAL-query
    serving instead of the self-join default: the batch of queries is
    scored against the corpus, self-match exclusion is skipped (an
    external query id never collides with a corpus vec_id by contract),
    and the corpus-side plan is untouched — this is the micro-batch
    body of streaming/ann.py. `exclude_self=True` keeps the self-match
    exclusion active even with external queries — required when the
    query frame is a SUBSET of the corpus (escalate_underfilled's
    re-probe of starved self-ANN queries), harmless otherwise.

    The coarse quantizer is `codebook` ((list_ids, unit-normalized
    [n_lists, dim] matrix), e.g. from coarse_quantizer) or resolved here
    from `quantizer`, `stride` and `train_k` by coarse_quantizer
    (trained by default); one driver-side resolve serves both the
    assignment and the per-query probe selection.

    A pre-built `listed` corpus REQUIRES the quantizer it was bucketed
    by: pass `codebook` + `codebook_fingerprint` from
    load_ivf_quantizer(spark, f"{table}_quantizer"). Probing a table
    against any other codebook silently returns wrong neighbors (a
    trained codebook's 0..k-1 list_ids partially collide with a stride
    sample's vec_id multiples), so this raises instead of guessing.
    Scope of the check: it binds the codebook OBJECT to a persisted
    quantizer's exact bytes (catches stale/mixed in-session codebooks);
    it cannot know which table a bare DataFrame came from — pair the
    halves through knn_join_ivf_table, which loads both from one table
    name, to close that by construction."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.window import Window

    if listed is not None and codebook is None:
        raise ValueError(
            "knn_join_ivf: a pre-listed corpus must come with the quantizer "
            "it was built with — load_ivf_quantizer(spark, f'{table}_quantizer') "
            "and pass codebook=(ids, code), codebook_fingerprint=fp"
        )
    ids, code = coarse_quantizer(
        embeddings, codebook, quantizer, stride, train_k, fn="knn_join_ivf"
    )
    if listed is not None and (
        codebook_fingerprint is None
        or quantizer_fingerprint(ids, code) != codebook_fingerprint
    ):
        raise ValueError(
            "knn_join_ivf: codebook does not match the fingerprint persisted "
            "with the listed corpus table — probing a layout with a different "
            "quantizer's list_ids returns silently wrong neighbors"
        )
    bc = embeddings.sparkSession.sparkContext.broadcast((ids, code, nprobe))
    rank_lists = _list_ranker()

    @pandas_udf("array<long>")
    def nearest_lists(emb):
        list_ids, codebook, npr = bc.value
        return pd.Series(list(rank_lists(emb.values, list_ids, codebook, npr)))

    if listed is None:
        # assignment is a pure per-row map: attach it as a COLUMN
        # (element 1 of the stable top-npr = argmax, ties to the
        # smallest list_id — identical to ivf_assignments) instead of
        # computing an (vec_id, list_id) frame and self-joining it back
        # onto the corpus. The join form cost a full corpus self-join
        # exchange at scale for nothing. ALL corpus columns ride the
        # projection (not just vec_id/embedding/label) so corpus_filter
        # may reference any metadata column — the float-path twin of
        # ivfpq_corpus_table's attach_cols (ADVICE r11); Catalyst prunes
        # the unreferenced ones right back out of the scan.
        # r15: the corpus side is the STREAM side of the probe BHJ, so
        # the assignment kernel AND the post-join cosine kernel both
        # run at the scan's parallelism — a single-file local corpus
        # planned one split and serialized ~1M-pair Arrow scoring onto
        # one core. fan_out_scan round-robins it up to the session
        # parallelism only when the scan is narrower (no-op at scale).
        from ..functions.partitioning import fan_out_scan

        # r16 width re-sweep (VERDICT r15 #2): isolated medians 3.62 s
        # at width 8, 3.27 s at 16, 3.61 s at 32 with overlapping
        # spreads — full width kept (the post-join cosine kernel is
        # ~31k pairs/task at 32, real work, and at-scale the scan is
        # wide anyway); no rows_per_task hint.
        # list_id must be non-nullable: for a nullable key the probe
        # join infers isnotnull(nearest_lists(...)[1]), which Spark
        # evaluates below the round-robin, running the kernel a second
        # time, serially on the scan split. nearest_lists always returns
        # at least one id and no list is numbered -1, so the coalesce
        # fallback never fires.
        listed = fan_out_scan(embeddings).select(
            "*",
            F.coalesce(
                F.element_at(nearest_lists(F.col("embedding")), 1), F.lit(-1).cast("long")
            ).alias("list_id"),
        )

    if corpus_filter is not None:
        # filtered ANN: prune the corpus side before the probe join —
        # on a bucketed table this reaches the parquet scan
        listed = listed.where(corpus_filter)

    # max_queries bounds the QUERY side only (audit/recall sampling) —
    # the corpus side still scores in full, so sampled results match
    # the full run's rows for those queries exactly
    q_side = queries if queries is not None else embeddings
    if max_queries is not None:
        q_side = q_side.where(F.col("vec_id") < max_queries)
    probes = q_side.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.explode(nearest_lists(F.col("embedding"))).alias("list_id"),
    )
    cos = cosine_batch()
    joined = probes.join(listed, "list_id")
    if queries is None or exclude_self:
        # self-ANN: a vector is not its own neighbor
        joined = joined.where(F.col("vec_id") != F.col("q_id"))
    scored = (
        joined
        .select(
            "q_id",
            "vec_id",
            "label",
            round6(cos(F.col("embedding"), F.col("q_emb"))).alias("cosine_sim"),
        )
        # no dedup needed: ivf_assignments places each vector in exactly ONE
        # list (argmax centroid) and nearest_lists emits distinct list_ids per
        # query, so a (q_id, vec_id) pair can meet at most once — a
        # dropDuplicates here would be a pure no-op costing a full exchange
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "vec_id", "label", "cosine_sim", "rank")
    )


def ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    nprobe: int = 4,
    stride: int = 31,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe the nprobe centroid lists nearest the
    query and score only their members — the other scale path next to
    hyperplane LSH (lsh_topk). Pass index=ivf_index(embeddings) to
    amortize the assignment pass across queries. Recall < 1 by
    construction; measured against brute_force_topk in tests."""
    if index is not None:
        centroids, assign = index
    else:
        centroids, assign = ivf_assignments(
            embeddings, stride=stride, attach_cols=["embedding", "label"]
        )
    q = embeddings.where(F.col("vec_id") == query_vec_id).select(F.col("embedding").alias("q_emb"))
    probe_lists = (
        centroids.join(F.broadcast(q))
        .select("list_id", cosine_col(F.col("c_emb"), F.col("q_emb")).alias("qc_cos"))
        .orderBy(F.desc("qc_cos"), F.asc("list_id"))
        .limit(nprobe)
        .select("list_id")
    )
    if index is None:
        # assign carries embedding+label in the same projection (the
        # assignment is a pure per-row map), so probe_lists joins onto
        # the listed corpus directly — no members->embeddings vec_id
        # rejoin
        cands = assign.join(F.broadcast(probe_lists), "list_id").where(
            F.col("vec_id") != query_vec_id
        )
    else:
        # a precomputed index stores only (vec_id, list_id): semi-join
        # the member ids, then fetch their vectors
        members = assign.join(F.broadcast(probe_lists), "list_id").select("vec_id")
        cands = embeddings.join(members, "vec_id").where(F.col("vec_id") != query_vec_id)
    scored = cands.join(F.broadcast(q)).select(
        "vec_id",
        "label",
        round6(cosine_col(F.col("embedding"), F.col("q_emb"))).alias("cosine_sim"),
    )
    return scored.orderBy(F.desc("cosine_sim"), F.asc("vec_id")).limit(k)


# --- distributed k-means (Lloyd's) ------------------------------------------


def _nearest_centroid():
    """The nearest-centroid kernel of k-means training and assignment:
    nearest(a, cb) -> (labels [n], d2 [n, k]) for rows a [n, d] against
    the codebook cb [k, d], where d2 = ||c||^2 - 2 a.c is the squared
    distance less the row's own ||a||^2 (constant per row, so the
    argmin is the same). Built in a closure so the kernels that call it
    ship it to the Python workers by value (see _list_ranker)."""
    import numpy as np

    def nearest(a, cb):
        d2 = (cb * cb).sum(axis=1)[None, :] - 2.0 * (a @ cb.T)
        return np.argmin(d2, axis=1), d2

    return nearest


def _lloyd(name: str, embeddings: DataFrame, seeds, m: int, n_iter: int, vec_col: str):
    """Lloyd's iterations over an [m, k, dim//m] codebook tensor, all m
    subspaces in the same pass (m=1 is plain k-means); returns
    (codebooks, inertia trace per iteration). Subspace j of centroid i
    is seeded from the j-th slice of seeds[i]. Each iteration is one
    iterate_partials pass whose (subspace, cluster, count, vector-sum,
    inertia) partials are reduced on the driver. Empty clusters keep
    their previous centroid (standard Lloyd fallback)."""
    import numpy as np

    k, dim = len(seeds), len(seeds[0][vec_col])
    code = np.ascontiguousarray(
        np.asarray([r[vec_col] for r in seeds], dtype=np.float64)
        .reshape(k, m, dim // m)
        .transpose(1, 0, 2)
    )
    nearest = _nearest_centroid()

    def kernel(cb, batches):
        import pandas as pd

        mm, kk, dd = cb.shape
        for pdf in batches:
            a = np.vstack(pdf["v"].values).astype(np.float64)  # [n, dim]
            rows = []
            for j in range(mm):
                s = a[:, j * dd:(j + 1) * dd]  # [n, d_sub]
                lab, d2 = nearest(s, cb[j])
                sn2 = (s * s).sum(axis=1)
                for c in np.unique(lab):
                    msk = lab == c
                    rows.append(
                        (
                            j,
                            int(c),
                            int(msk.sum()),
                            s[msk].sum(axis=0).tolist(),
                            float((sn2[msk] + d2[msk, c]).sum()),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["subspace", "cluster", "n", "psum", "pinertia"]
            )

    trace: list[float] = []

    def update(code, rows):
        sums = np.zeros(code.shape)
        counts = np.zeros(code.shape[:2], dtype=np.int64)
        inertia = 0.0
        for r in rows:
            sums[r.subspace, r.cluster] += np.array(r.psum)
            counts[r.subspace, r.cluster] += r.n
            inertia += r.pinertia
        trace.append(inertia)
        code = code.copy()
        nz = counts > 0
        code[nz] = sums[nz] / counts[nz][:, None]
        return code

    code = iterate_partials(
        name,
        embeddings.select(F.col(vec_col).alias("v")),
        kernel,
        "subspace int, cluster long, n long, psum array<double>, pinertia double",
        update,
        code,
        n_iter,
    )
    return code, trace


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 16,
    n_iter: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Distributed Lloyd's k-means over an embedding column; returns
    (codebook ndarray [k, dim], inertia trace per iteration). The m=1
    case of pq_fit's training loop (_lloyd over iterate_partials).

    Deterministic: seeds are the k smallest-id vectors, and the
    iterate_partials reduction is total-ordered, so repeated runs
    converge identically."""
    seeds = (
        embeddings.select(id_col, vec_col).orderBy(F.col(id_col)).limit(k).collect()
    )
    if not seeds:
        raise ValueError("kmeans_fit: empty input frame")
    # fewer vectors than clusters: fit the len(seeds) < k that exist
    # (every vector its own centroid) rather than fabricating empty ones
    code, trace = _lloyd("kmeans_fit", embeddings, seeds, 1, n_iter, vec_col)
    return code[0], trace


def kmeans_assign(
    embeddings: DataFrame,
    codebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    attach_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, cluster_id, sq_dist[, attach_cols...]) for a fitted
    codebook: one broadcast + one narrow Arrow pass, same shape as
    ivf_assignments. attach_cols carries input columns through the
    projection so consumers that need them (e.g. semdedup's
    cluster-local pair join) never rejoin the corpus on id — the
    assignment stays a pure per-row map."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    bc = embeddings.sparkSession.sparkContext.broadcast(np.asarray(codebook, dtype=np.float64))
    nearest_centroid = _nearest_centroid()

    @pandas_udf("struct<cluster_id: long, sq_dist: double>")
    def nearest(emb):
        a = np.vstack(emb.values).astype(np.float64)
        lab, d2 = nearest_centroid(a, bc.value)
        an2 = (a * a).sum(axis=1)
        return pd.DataFrame(
            {"cluster_id": lab, "sq_dist": an2 + d2[np.arange(len(lab)), lab]}
        )

    return embeddings.select(
        F.col(id_col), nearest(F.col(vec_col)).alias("_r"), *[F.col(c) for c in attach_cols]
    ).select(
        id_col,
        F.col("_r.cluster_id").alias("cluster_id"),
        F.col("_r.sq_dist").alias("sq_dist"),
        *attach_cols,
    )


def kmeans_cluster_stats(
    embeddings: DataFrame, k: int = 16, n_iter: int = 4
) -> DataFrame:
    """Fit + assign + per-cluster rollup (size, mean squared distance):
    the semantic-clustering summary used for diversity-aware corpus
    mixing. Input is cached for the duration of the iterations."""
    cached = embeddings.select("vec_id", "embedding").persist()
    try:
        code, _ = kmeans_fit(cached, k=k, n_iter=n_iter)
        assign = kmeans_assign(cached, code)
        return (
            assign.groupBy("cluster_id")
            .agg(
                F.count(F.lit(1)).alias("n_vecs"),
                round6(F.avg("sq_dist")).alias("mean_sq_dist"),
            )
            .orderBy("cluster_id")
        )
    finally:
        # the returned frame still references cached partitions; Spark
        # recomputes transparently if they are evicted after unpersist
        cached.unpersist()


# --- distributed PCA --------------------------------------------------------

def pca_fit(embeddings: DataFrame, k: int = 8, vec_col: str = "embedding"):
    """PCA over an embedding column; returns (components [k, dim],
    mean [dim], explained_variance_ratio [k]).

    One iterate_partials pass (no state) emits per-Arrow-batch
    partial sums of the vectors and their Gram matrix (dim + dim^2
    doubles per batch, flattened); the driver assembles the covariance
    and eigendecomposes it (dim x dim, trivial at embedding dims; the
    corpus never shuffles and is scanned once). Deterministic: each
    component's sign is fixed by making its largest-|loading| entry
    positive (eigenvectors are otherwise sign-ambiguous)."""
    import numpy as np

    def kernel(_, batches):
        import pandas as pd

        for pdf in batches:
            a = np.vstack(pdf["v"].values).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [len(a)],
                    "psum": [a.sum(axis=0).tolist()],
                    "pouter": [(a.T @ a).ravel().tolist()],
                }
            )

    def update(_, rows):
        dim = len(rows[0].psum)
        s = np.zeros(dim)
        g = np.zeros((dim, dim))
        n = 0
        for r in rows:
            s += np.array(r.psum)
            g += np.array(r.pouter).reshape(dim, dim)
            n += r.n
        mean = s / n
        cov = g / n - np.outer(mean, mean)
        evals, evecs = np.linalg.eigh(cov)  # ascending
        order = np.argsort(evals)[::-1][:k]
        comps = evecs[:, order].T  # [k, dim]
        # sign convention: largest-|loading| coordinate positive
        for i in range(comps.shape[0]):
            j = int(np.argmax(np.abs(comps[i])))
            if comps[i, j] < 0:
                comps[i] = -comps[i]
        ratio = evals[order] / evals.sum()
        return comps, mean, ratio

    return iterate_partials(
        "pca_fit",
        embeddings.select(F.col(vec_col).alias("v")),
        kernel,
        "n long, psum array<double>, pouter array<double>",
        update,
    )


def pca_project(
    embeddings: DataFrame,
    components,
    mean,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "reduced",
) -> DataFrame:
    """Project vectors onto fitted components: one broadcast + one
    narrow Arrow pass. The reduced column feeds the same ANN operators
    (cosine/IVF) at a fraction of the per-vector cost — the standard
    pre-ANN dimensionality reduction at corpus scale."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    bc = embeddings.sparkSession.sparkContext.broadcast(
        (np.asarray(components, dtype=np.float64), np.asarray(mean, dtype=np.float64))
    )

    @pandas_udf("array<double>")
    def proj(emb):
        comps, mu = bc.value
        a = np.vstack(emb.values).astype(np.float64) - mu
        red = a @ comps.T
        return pd.Series(list(red))

    return embeddings.select(F.col(id_col), proj(F.col(vec_col)).alias(out_col))


def pca_variance_report(embeddings: DataFrame, k: int = 8) -> DataFrame:
    """Fit + per-component explained-variance rollup — the "how many
    dimensions does this corpus actually have" report that sizes the
    reduced ANN index. Rows-only by design (eigendecomposition is
    floating-point; orthonormality/trace/ordering invariants in
    pytest)."""
    comps, mean, ratio = pca_fit(embeddings, k=k)
    spark = embeddings.sparkSession
    rows = [
        (i, round(float(r), 6), round(float(c), 6))
        for i, (r, c) in enumerate(zip(ratio, ratio.cumsum()))
    ]
    return spark.createDataFrame(
        rows, "component int, variance_ratio double, cum_variance_ratio double"
    )


def kmeans_ivf_index(
    embeddings: DataFrame, k: int = 16, n_iter: int = 4
) -> tuple[DataFrame, DataFrame]:
    """IVF index with a TRAINED coarse quantizer: Lloyd's k-means
    centroids instead of ivf_assignments' 1-in-stride sample. Drop-in
    for ivf_topk(index=...) — same (centroids, assignments) contract.
    Trained lists track the corpus's actual density (balanced list
    sizes, better recall at equal nprobe); the stride sample remains
    the training-free default where an extra n_iter corpus scans at
    build time aren't warranted."""
    cached = embeddings.select("vec_id", "embedding", "label").persist()
    try:
        code, _ = kmeans_fit(cached, k=k, n_iter=n_iter)
        spark = embeddings.sparkSession
        centroids = spark.createDataFrame(
            [(i, [float(x) for x in code[i]]) for i in range(len(code))],
            "list_id long, c_emb array<float>",
        )
        assign = kmeans_assign(cached, code).select(
            "vec_id", F.col("cluster_id").alias("list_id")
        )
        return centroids, assign.persist()
    finally:
        cached.unpersist()


def semdedup_pairs(
    embeddings: DataFrame,
    k: int = 16,
    n_iter: int = 4,
    threshold: float = 0.95,
) -> DataFrame:
    """Semantic-dedup candidate pairs, SemDeDup shape (Abbas et al.
    2023, arXiv:2303.09540): k-means-cluster the embedding space, then
    score cosine pairs ONLY within each cluster — the clustering bounds
    the pair search the way LSH bands do, but with trained,
    density-tracking buckets.

    Scale shape: one k-means fit (broadcast codebook, mapInPandas
    partial sums — corpus never shuffles during iterations), one narrow
    assignment pass, then a self-join keyed on cluster_id: pair
    generation is cluster-local, sum over clusters of n_c², with AQE
    skew-splitting any over-dense cluster. Raise k as the corpus grows
    (SemDeDup uses k ~ sqrt(n)) to keep clusters bounded. Within-cluster
    scoring is exact (round6 cosine); misses are exactly the near-dup
    pairs k-means separates — measured against cosine_near_dup_exact
    in pytest on separable data (where the miss set is empty)."""
    cached = embeddings.select("vec_id", "embedding").persist()
    try:
        code, _ = kmeans_fit(cached, k=k, n_iter=n_iter)
        # cluster attached as a projected COLUMN (pure per-row map), not
        # a (vec_id, cluster) frame rejoined onto the corpus — the join
        # form would cost a corpus self-join exchange at scale for
        # nothing (same shape as knn_join_ivf's assignment)
        clustered = kmeans_assign(cached, code, attach_cols=("embedding",)).select(
            "vec_id", "cluster_id", "embedding"
        )
        a = clustered.select(
            F.col("cluster_id"), F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a")
        )
        b = clustered.select(
            F.col("cluster_id"), F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b")
        )
        cos = cosine_batch()
        pairs = (
            a.join(b, "cluster_id")
            .where(F.col("vec_a") < F.col("vec_b"))
            .select(
                "cluster_id",
                "vec_a",
                "vec_b",
                round6(cos(F.col("emb_a"), F.col("emb_b"))).alias("cosine_sim"),
            )
            .where(F.col("cosine_sim") >= threshold)
        )
        # Materialize WHILE the corpus cache is alive (r15): the old
        # finally-unpersist fired on RETURN — before the lazy pair frame
        # ever executed — so both self-join sides re-scanned the corpus
        # and re-ran the assignment kernel cache-less, defeating the
        # persist the docstring promises. The pair frame is
        # near-dup-sized (tiny vs the corpus), so eager-checkpointing it
        # here costs one small materialization and lets the cache serve
        # BOTH join sides exactly as designed; lineage truncation also
        # frees the cache for real (nothing downstream references it).
        # Tradeoff (ADVICE r15): localCheckpoint makes this call EAGER
        # (the k-means fit + self-join run here, not at the caller's
        # action) and stores the pair frame only in executor storage —
        # unrecoverable on executor loss and unsafe under dynamic
        # allocation. At cluster scale prefer reliable checkpointing
        # (spark.sparkContext.setCheckpointDir + .checkpoint()) or
        # writing the pair frame to storage and reading it back.
        return pairs.localCheckpoint()
    finally:
        cached.unpersist()


def semdedup_keep_list(
    embeddings: DataFrame,
    k: int = 16,
    n_iter: int = 4,
    threshold: float = 0.95,
) -> DataFrame:
    """End-to-end SemDeDup decision: one row per vector with its
    cluster, keep flag, and (for dropped rows) the kept near-duplicate
    that displaced it. Keep rule is deterministic keep-first: a vector
    is dropped iff some SMALLER-id vector in its cluster matches at
    >= threshold (the min-id member of every semantic-dup group
    survives; transitive chains collapse onto their minimum the same
    way dedup_keep_list's connected components do for token dups).

    The pair frame is near-dup-sized (tiny vs the corpus), so the
    keep decision is a broadcast-able left join back onto the corpus —
    one scan at 100 TB, same economics as dedup_keep_list.

    kept_dup is resolved through the keep set: the min-id displacer of
    a dropped vector may itself be dropped (transitive chain (1,2),
    (2,3) with no (1,3) pair — 3's displacer 2 loses to 1), so the
    pointer is chased through the displaced mapping until it lands on a
    SURVIVING vector — pointer doubling over the (tiny) displaced
    frame, O(log chain) rounds with the same only-decreases sum probe
    as duplicate_clusters."""
    pairs = semdedup_pairs(embeddings, k=k, n_iter=n_iter, threshold=threshold)
    displaced = pairs.groupBy(F.col("vec_b").alias("vec_id")).agg(
        F.min("vec_a").alias("kept_dup")
    ).localCheckpoint()

    def _sum(frame: DataFrame):
        return frame.agg(F.sum(F.col("kept_dup").cast("decimal(38,0)"))).collect()[0][0]

    prev = _sum(displaced)
    for _ in range(20):
        displaced = (
            displaced.alias("x")
            .join(
                displaced.alias("y"),
                F.col("x.kept_dup") == F.col("y.vec_id"),
                "left",
            )
            .select(
                F.col("x.vec_id").alias("vec_id"),
                F.coalesce(F.col("y.kept_dup"), F.col("x.kept_dup")).alias("kept_dup"),
            )
            .localCheckpoint()
        )
        cur = _sum(displaced)
        if cur == prev:  # chased pointers only ever decrease
            break
        prev = cur
    return (
        embeddings.select("vec_id")
        .join(F.broadcast(displaced), "vec_id", "left")
        .select(
            "vec_id",
            F.col("kept_dup").isNull().alias("keep"),
            "kept_dup",
        )
    )


def trained_codebook(embeddings: DataFrame, k: int = 256, n_iter: int = 4):
    """K-means-trained IVF coarse quantizer in the shape knn_join_ivf's
    `codebook` expects: (list_ids 0..k-1, unit-normalized [k, dim]
    centroid matrix). The training pass is kmeans_fit (corpus never
    shuffles, n_iter scans); size k near the corpus's natural cluster
    count — the stride sample is the training-free default, this is the
    recall upgrade for clustered corpora (FAISS's IVF-train step)."""
    import numpy as np

    code, _ = kmeans_fit(embeddings, k=k, n_iter=n_iter)
    return np.arange(code.shape[0], dtype=np.int64), _unit_codebook(code)


def knn_recall_report(
    embeddings: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    stride: int | None = None,
    max_queries: int = 200,
    codebook=None,
    quantizer: str | None = None,
    train_k: int | None = None,
) -> DataFrame:
    """ANN quality audit: per-query recall@k of knn_join_ivf against
    the exact knn_join_brute answer over a bounded query sample — the
    dashboard number an ANN serving tier publishes next to its latency.

    One row per sampled query: (q_id, n_hits, recall). Both sides
    restrict to the same deterministic sample (q_id < max_queries);
    the IVF side still scores against the FULL corpus, so the recall
    measured is the production operating point, not a subset artifact.
    The overlap join keys on (q_id, vec_id) — both sides are k rows per
    query, so the audit's own cost is max_queries x k rows, trivial
    next to either ANN pass."""
    ivf = knn_join_ivf(
        embeddings,
        k=k,
        nprobe=nprobe,
        stride=stride,
        max_queries=max_queries,
        codebook=codebook,
        quantizer=quantizer,
        train_k=train_k,
    ).select("q_id", "vec_id")
    brute = knn_join_brute(embeddings, k=k, max_queries=max_queries).select(
        "q_id", "vec_id"
    )
    hits = ivf.join(brute, ["q_id", "vec_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    per_q = brute.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        per_q.join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            round6(
                F.coalesce("n_hits", F.lit(0)).cast("double") / F.col("n_exact").cast("double")
            ).alias("recall"),
        )
    )



def escalate_underfilled(
    first_pass: DataFrame,
    embeddings: DataFrame,
    k: int = 10,
    queries: DataFrame | None = None,
    max_queries: int | None = None,
    corpus_filter=None,
    mode: str = "brute",
    nprobe: int | None = None,
    listed: DataFrame | None = None,
    codebook=None,
    codebook_fingerprint: str | None = None,
) -> DataFrame:
    """Self-correct UNDERFILLED ANN results — the closing half of the
    filtered-search loop (VERDICT r11 #2): a query whose filtered true
    neighbors all live outside its probed lists gets fewer than k rows
    back, silently (measured min recall 0.00 at 10x on the ~9% label
    slice, PROBE_r11 §l). This splices a second, stronger pass over
    EXACTLY the starved queries into the first-pass result:

    - find queries with fewer than k `first_pass` rows (including
      zero). Zero-norm queries are excluded — every similarity they
      produce is NULL by the undefined-cosine contract, so no amount of
      re-probing can fill them;
    - re-answer those queries with `mode="brute"` (exact filtered scan,
      knn_join_brute — recall 1.0 by construction, cost |starved| x
      |filtered corpus|) or `mode="reprobe"` (knn_join_ivf at a widened
      `nprobe` against the first pass's `codebook` — bounded cost,
      recall improves but is not guaranteed);
    - REPLACE the starved queries' first-pass rows with the escalated
      answer (ranks are per-query, so the splice is seam-free), leaving
      every well-filled query's rows byte-identical.

    The starved set is the pathological tail by construction — at a
    sane operating point it is empty and both extra passes reduce to
    cheap empty joins — so the escalation is safe to leave always-on in
    a serving tier (run_ann_serving_stream wires it per micro-batch).
    A filtered corpus with fewer than k rows TOTAL stays "starved"
    forever (even the exact answer is short); the brute answer is then
    complete-by-definition and re-escalating it is a no-op worth its
    audit row, not a failure.

    `queries=None` means first_pass was self-ANN (every corpus vector
    its own query): the re-probe then keeps self-match exclusion active
    (exclude_self) so an escalated query cannot return itself. Pass the
    same `max_queries` / `corpus_filter` / layout kwargs (`listed`,
    `codebook`, `codebook_fingerprint`) as the first pass. A reprobe
    REQUIRES the first pass's `codebook`: a reprobe against a freshly
    resolved, DIFFERENT layout than the one that starved would answer a
    different question."""
    if mode not in ("brute", "reprobe"):
        raise ValueError(
            f"escalate_underfilled: mode must be 'brute' or 'reprobe', got {mode!r}"
        )
    if mode == "reprobe" and nprobe is None:
        raise ValueError(
            "escalate_underfilled: mode='reprobe' needs the widened nprobe — "
            "pass the first-pass value scaled by the escalation factor"
        )
    if mode == "reprobe" and codebook is None:
        raise ValueError(
            "escalate_underfilled: mode='reprobe' needs the codebook the first "
            "pass probed with — a reprobe on another layout answers a "
            "different question"
        )
    q_side = queries if queries is not None else embeddings
    q_side = q_side.select("vec_id", "embedding")
    if max_queries is not None:
        q_side = q_side.where(F.col("vec_id") < max_queries)
    counts = first_pass.groupBy("q_id").agg(F.count(F.lit(1)).alias("_n"))
    starved = (
        q_side.where(_sq_norm(F.col("embedding")) > 0)
        .join(counts, F.col("vec_id") == F.col("q_id"), "left")
        .where(F.coalesce(F.col("_n"), F.lit(0)) < k)
        .select("vec_id", "embedding")
    )
    if mode == "brute":
        fixed = knn_join_brute(
            embeddings, k=k, corpus_filter=corpus_filter, queries=starved
        )
    else:
        fixed = knn_join_ivf(
            embeddings,
            k=k,
            nprobe=nprobe,
            queries=starved,
            corpus_filter=corpus_filter,
            listed=listed,
            codebook=codebook,
            codebook_fingerprint=codebook_fingerprint,
            exclude_self=queries is None,
        )
    keep = first_pass.join(
        starved.select(F.col("vec_id").alias("q_id")), "q_id", "left_anti"
    )
    return keep.unionByName(fixed)


def knn_filtered_recall_report(
    embeddings: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    max_queries: int = 200,
    corpus_filter=None,
    codebook=None,
    train_k: int | None = None,
    escalation: str | None = None,
) -> DataFrame:
    """Recall audit for FILTERED ANN: per-query recall@k of
    knn_join_ivf(corpus_filter=...) against the exact filtered brute
    answer over the same query sample — the number that tells you
    whether the current nprobe survives the predicate's selectivity
    (pre-filtering thins every probed list; the probe geometry is
    unfiltered, so recall degrades as the filter sharpens — raise
    nprobe until this report says the operating point holds).

    Same bounded shape as knn_recall_report: both sides k rows per
    query, audit cost max_queries x k rows.

    `escalation` ("brute" | "reprobe" at 4x nprobe) additionally runs
    escalate_underfilled over the IVF side and reports the corrected
    recall alongside the raw one — (q_id, n_hits, recall,
    n_hits_escalated, recall_escalated) — so the audit shows exactly
    what the serving tier's underfill self-correction buys at this
    operating point. With escalation unset the 3-column raw report is
    unchanged. Both passes probe the same codebook, resolved once."""
    codebook = coarse_quantizer(
        embeddings, codebook, train_k=train_k, fn="knn_filtered_recall_report"
    )
    first = knn_join_ivf(
        embeddings,
        k=k,
        nprobe=nprobe,
        max_queries=max_queries,
        codebook=codebook,
        corpus_filter=corpus_filter,
    )
    ivf = first.select("q_id", "vec_id")
    brute = knn_join_brute(
        embeddings, k=k, max_queries=max_queries, corpus_filter=corpus_filter
    ).select("q_id", "vec_id")
    hits = ivf.join(brute, ["q_id", "vec_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    per_q = brute.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_exact"))
    report = per_q.join(hits, "q_id", "left").select(
        "q_id",
        F.col("n_exact"),
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        round6(
            F.coalesce("n_hits", F.lit(0)).cast("double")
            / F.col("n_exact").cast("double")
        ).alias("recall"),
    )
    if escalation is None:
        return report.select("q_id", "n_hits", "recall")
    esc = escalate_underfilled(
        first,
        embeddings,
        k=k,
        max_queries=max_queries,
        corpus_filter=corpus_filter,
        mode=escalation,
        nprobe=4 * nprobe,
        codebook=codebook,
    ).select("q_id", "vec_id")
    esc_hits = esc.join(brute, ["q_id", "vec_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_hits_escalated")
    )
    return (
        report.join(esc_hits, "q_id", "left")
        .select(
            "q_id",
            "n_hits",
            "recall",
            F.coalesce("n_hits_escalated", F.lit(0)).alias("n_hits_escalated"),
            round6(
                F.coalesce("n_hits_escalated", F.lit(0)).cast("double")
                / F.col("n_exact").cast("double")
            ).alias("recall_escalated"),
        )
    )

def quantize_embeddings_int8(
    embeddings: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column —
    the 4x storage/bandwidth reduction an ANN serving corpus takes
    before anything else at 100 TB (FAISS SQ8 shape). scale =
    max|x|/127; q = clamp(round_half_away(x/scale), ±127).

    One narrow Arrow pass (mapInPandas, float64 math so the quantizer
    is bit-portable across engines); no shuffle. Rounding is explicit
    half-away-from-zero — numpy's default bankers' rounding differs
    from SQL ROUND exactly at the .5 boundaries an oracle would
    compare."""
    import numpy as np
    import pandas as pd

    out_schema = (
        "vec_id long, scale double, qvec array<int>, max_abs_err double, mse double"
    )

    def run(batches):
        for pdf in batches:
            res = []
            for vid, emb in zip(pdf["vec_id"].values, pdf[vec_col].values):
                x = np.asarray(emb, dtype=np.float64)
                m = float(np.abs(x).max()) if x.size else 0.0
                scale = m / 127.0
                if scale == 0.0:
                    q = np.zeros_like(x)
                else:
                    r = x / scale
                    q = np.where(r >= 0, np.floor(r + 0.5), np.ceil(r - 0.5))
                    q = np.clip(q, -127, 127)
                err = x - q * scale
                res.append(
                    (
                        int(vid),
                        scale,
                        [int(v) for v in q],
                        float(np.abs(err).max()) if x.size else 0.0,
                        float((err * err).mean()) if x.size else 0.0,
                    )
                )
            yield pd.DataFrame(
                res, columns=["vec_id", "scale", "qvec", "max_abs_err", "mse"]
            )

    return embeddings.select("vec_id", vec_col).mapInPandas(run, schema=out_schema)


def embed_quantize_stats(embeddings: DataFrame) -> DataFrame:
    """Per-vector quantization audit: scale + reconstruction error of
    the int8 representation, rounded for engine-portable comparison.
    The number that says whether SQ8 is safe for this corpus's recall
    target before committing the 4x-smaller layout."""
    q = quantize_embeddings_int8(embeddings)
    return q.select(
        "vec_id",
        round6(F.col("scale")).alias("scale"),
        round6(F.col("max_abs_err")).alias("max_abs_err"),
        round6(F.col("mse") * 1e6).alias("mse_x1e6"),
    )


# --- product quantization (FAISS PQ; Jegou et al., TPAMI 2011) --------------

def pq_fit(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 16,
    n_iter: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train product-quantization codebooks: the embedding is split into
    m equal subvectors and each subspace gets its own k-centroid
    codebook (k-means), so a vector stores as m small codes —
    dim x 4 bytes -> m bytes, the 16-32x compression that makes a
    100 TB ANN corpus fit in RAM-adjacent storage (FAISS's PQ).

    Returns codebooks ndarray [m, k, dim//m] + per-iteration inertia.

    Scale shape: ALL m subspaces train in the SAME pass — one
    iterate_partials pass per iteration emits (subspace, cluster,
    count, vector-sum) partials for every subspace from each Arrow
    batch, so the corpus is scanned n_iter times total, never
    m x n_iter, and only ~partitions x m x k tiny rows reach the driver
    reduce. Seeds are the k smallest-id vectors, as in kmeans_fit."""
    seeds = (
        embeddings.select(id_col, vec_col).orderBy(F.col(id_col)).limit(k).collect()
    )
    if len(seeds) < k:
        raise ValueError(f"pq_fit: need at least k={k} vectors, have {len(seeds)}")
    dim = len(seeds[0][vec_col])
    if dim % m != 0:
        raise ValueError(f"pq_fit: dim {dim} not divisible by m={m}")
    return _lloyd("pq_fit", embeddings, seeds, m, n_iter, vec_col)


def pq_encode(
    embeddings: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as its m per-subspace nearest-centroid codes
    plus reconstruction diagnostics — one narrow Arrow pass against the
    broadcast [m, k, d_sub] codebook tensor, no shuffle (the same
    assignment-as-projection shape as ivf_assignments)."""
    import numpy as np

    sc = embeddings.sparkSession.sparkContext
    bc = sc.broadcast(np.asarray(codebooks, dtype=np.float64))
    out_schema = f"{id_col} long, codes array<int>, mse double"

    def run(batches):
        import pandas as pd

        cb = bc.value
        mm, kk, dd = cb.shape
        for pdf in batches:
            a = np.vstack(pdf[vec_col].values).astype(np.float64)
            n = a.shape[0]
            codes = np.zeros((n, mm), dtype=np.int32)
            err = np.zeros(n)
            for j in range(mm):
                s = a[:, j * dd:(j + 1) * dd]
                cj = cb[j]
                d2 = (s * s).sum(axis=1)[:, None] + (cj * cj).sum(axis=1)[None, :] - 2.0 * (s @ cj.T)
                lab = np.argmin(d2, axis=1)
                codes[:, j] = lab
                err += np.maximum(d2[np.arange(n), lab], 0.0)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "codes": list(codes),
                    "mse": err / a.shape[1],
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(run, out_schema)


def embed_pq_stats(
    embeddings: DataFrame, m: int = 4, k: int = 16, n_iter: int = 4
) -> DataFrame:
    """Per-vector PQ audit (the PQ sibling of embed_quantize_stats):
    codes + reconstruction MSE at dim*4/m bytes-per-vector compression.
    Rows-only by design (iterative k-means training); determinism,
    code-range, and SQ8-vs-PQ error-ordering invariants in pytest."""
    code, _ = pq_fit(embeddings, m=m, k=k, n_iter=n_iter)
    enc = pq_encode(embeddings, code)
    return enc.select(
        "vec_id",
        # scalar-typed for the harness canon (array cells don't hash)
        F.array_join(F.transform("codes", lambda c: c.cast("string")), ",").alias(
            "codes"
        ),
        round6(F.col("mse") * 1e6).alias("mse_x1e6"),
    )


def pq_adc_topk(
    embeddings: DataFrame,
    codebooks,
    query_vec,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    full-precision, each corpus vector is scored from its codes via a
    per-subspace lookup table — m table lookups per vector instead of a
    dim-length dot product. Scores squared L2 distance (ascending).
    One encode-and-score Arrow pass + a k-row TakeOrdered."""
    import numpy as np

    q = np.asarray(query_vec, dtype=np.float64)
    cb = np.asarray(codebooks, dtype=np.float64)
    mm, kk, dd = cb.shape
    # LUT[j][c] = ||q_j - cb[j][c]||^2
    lut = np.stack(
        [((q[j * dd:(j + 1) * dd][None, :] - cb[j]) ** 2).sum(axis=1) for j in range(mm)]
    )
    enc = pq_encode(embeddings, cb, id_col=id_col, vec_col=vec_col)
    sc = embeddings.sparkSession.sparkContext
    bc = sc.broadcast(lut)

    def score(batches):
        import pandas as pd

        tbl = bc.value
        for pdf in batches:
            codes = np.vstack(pdf["codes"].values)
            d2 = tbl[np.arange(mm)[None, :], codes].sum(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col].values, "adc_dist2": d2})

    return (
        enc.mapInPandas(score, f"{id_col} long, adc_dist2 double")
        .orderBy("adc_dist2", id_col)
        .limit(topk)
    )


def ivfpq_topk(
    embeddings: DataFrame,
    query_vec,
    k: int = 10,
    nprobe: int = 4,
    stride: int | None = None,
    m: int = 4,
    pq_k: int = 16,
    n_iter: int = 4,
    codes: DataFrame | None = None,
    codebooks=None,
    coarse=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantizer: str | None = None,
    train_k: int | None = None,
) -> DataFrame:
    """IVF-PQ search — the full FAISS IndexIVFPQ architecture composed
    from the engine's primitives: the coarse IVF quantizer prunes the
    corpus to the query's nprobe nearest lists, and the survivors are
    scored from their PRODUCT-QUANTIZED codes via the ADC lookup table
    — so neither pass touches the float vectors (m table lookups per
    candidate), which is how a 100 TB ANN corpus serves from codes that
    fit hot storage. Distances are squared L2 over the PQ
    reconstruction (ascending).

    At ingest the corpus is encoded once (`codes` = pq_encode output
    WITH a list_id column, e.g. persisted bucketed by list_id so probes
    prune physically); pass `codebooks` AND `coarse` (the (ids, code)
    coarse quantizer from load_ivf_quantizer(spark, f"{table}_coarse"))
    alongside — re-deriving coarse centroids from the LIVE embeddings
    frame would silently select lists inconsistent with the stored
    list_id column whenever the corpus has drifted since the build, so
    a persisted `codes` without `coarse` raises. When `codes` is
    omitted, everything derives here (one corpus pass + the k-means
    fit).

    Recall < 1 twice over (coarse pruning + PQ distortion) — bounds and
    planted-cluster behavior pytest-gated, same contract as knn_ivf."""
    import numpy as np

    if codes is not None and coarse is None:
        raise ValueError(
            "ivfpq_topk: a pre-encoded codes frame must come with the coarse "
            "quantizer it was listed by — load_ivf_quantizer(spark, "
            "f'{table}_coarse') and pass coarse=(ids, code)"
        )
    vecs = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    coarse = coarse_quantizer(
        vecs, coarse, quantizer, stride, train_k, n_iter, fn="ivfpq_topk"
    )
    cent_ids, cent_code = coarse
    q = np.asarray(query_vec, dtype=np.float64)
    if codebooks is None:
        codebooks = pq_fit(embeddings, m=m, k=pq_k, n_iter=n_iter, id_col=id_col, vec_col=vec_col)[0]
    cb = np.asarray(codebooks, dtype=np.float64)
    mm, kk, dd = cb.shape
    if codes is None:
        _, listed = ivf_assignments(vecs, codebook=coarse, attach_cols=["embedding"])
        listed = listed.select(
            F.col("vec_id").alias(id_col), F.col("embedding").alias(vec_col), "list_id"
        )
        enc = pq_encode(listed.select(id_col, vec_col, "list_id"), cb, id_col=id_col, vec_col=vec_col)
        codes = enc.join(listed.select(id_col, "list_id"), id_col)

    # coarse probe: nprobe nearest centroid lists against the SAME
    # quantizer the codes were listed by (driver-side, k rows)
    probe = _list_ranker()(
        [q], np.asarray(cent_ids, dtype=np.int64), _unit_codebook(cent_code), nprobe
    )[0]

    # ADC lookup table for the query
    lut = np.stack(
        [((q[j * dd:(j + 1) * dd][None, :] - cb[j]) ** 2).sum(axis=1) for j in range(mm)]
    )
    sc = embeddings.sparkSession.sparkContext
    bc = sc.broadcast(lut)

    def score(batches):
        import pandas as pd

        tbl = bc.value
        for pdf in batches:
            cd = np.vstack(pdf["codes"].values)
            d2 = tbl[np.arange(mm)[None, :], cd].sum(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col].values, "adc_dist2": d2})

    pruned = codes.where(F.col("list_id").isin([int(p) for p in probe]))
    return (
        pruned.select(id_col, "codes")
        .mapInPandas(score, f"{id_col} long, adc_dist2 double")
        .orderBy("adc_dist2", id_col)
        .limit(k)
    )


def ivfpq_corpus_table(
    embeddings: DataFrame,
    table_name: str,
    stride: int | None = None,
    m: int = 4,
    pq_k: int = 16,
    n_iter: int = 4,
    num_buckets: int = 32,
    quantizer: str | None = None,
    coarse_codebook=None,
    train_k: int | None = None,
    attach_cols: list[str] | None = None,
):
    """Materialize the COMPRESSED ANN corpus — (vec_id, list_id, codes)
    bucketed on list_id — plus BOTH halves of the index's quantizer
    state persisted alongside: the PQ codebook tensor as
    `<table>_codebook` (one row per (subspace, cluster) centroid) and
    the COARSE quantizer as `<table>_coarse` (load_ivf_quantizer
    schema, fingerprinted) — the centroids the codes were listed by
    are part of the index; re-deriving them from live embeddings at
    probe time would drift the moment the corpus changes. This is the
    encode-once-at-ingest layout ivfpq_topk serves from: probes read
    only their lists' buckets and score m-byte codes, so the float
    corpus is never touched after this build (FAISS's IndexIVFPQ
    persisted as plain bucketed parquet tables).

    Returns (codebook ndarray, codes table name). Reload the codebook
    in a later session with load_pq_codebook(spark, table_name) and
    the coarse quantizer with
    load_ivf_quantizer(spark, f"{table_name}_coarse")."""
    from ..operators.maintenance import _fs_delete, write_bucketed

    spark = embeddings.sparkSession
    # the COARSE quantizer is resolved like every other ANN surface's
    # (coarse_quantizer: trained by default), and BEFORE the destructive
    # drop of a previous index (ADVICE r8: a rejected call used to
    # delete the persisted tables and THEN raise)
    coarse_codebook = coarse_quantizer(
        embeddings, coarse_codebook, quantizer, stride, train_k, fn="ivfpq_corpus_table"
    )

    for t in (table_name, f"{table_name}_codebook", f"{table_name}_coarse"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        wh = spark.conf.get("spark.sql.warehouse.dir")
        _fs_delete(f"{wh.rstrip('/')}/{t.lower()}")

    cb, _ = pq_fit(embeddings, m=m, k=pq_k, n_iter=n_iter)
    # attach_cols (e.g. ["label"]) ride the codes rows so
    # ivfpq_topk_batch(codes_filter=...) can serve FILTERED search
    # straight off the compressed layout — metadata is part of the
    # index, same argument as the quantizers
    extra = list(attach_cols or [])
    _, listed = ivf_assignments(
        embeddings, codebook=coarse_codebook, attach_cols=["embedding", *extra]
    )
    _persist_quantizer(spark, f"{table_name}_coarse", *coarse_codebook)
    enc = pq_encode(listed.select("vec_id", "embedding", "list_id"), cb)
    codes = enc.join(listed.select("vec_id", "list_id", *extra), "vec_id").select(
        "vec_id", "list_id", "codes", *extra
    )
    write_bucketed(codes, table_name, "list_id", num_buckets=num_buckets)
    rows = [
        (j, c, [float(x) for x in cb[j, c]])
        for j in range(cb.shape[0])
        for c in range(cb.shape[1])
    ]
    spark.createDataFrame(
        rows, "subspace int, cluster int, centroid array<double>"
    ).write.mode("overwrite").saveAsTable(f"{table_name}_codebook")
    return cb, table_name


def load_pq_codebook(spark, table_name: str):
    """Rehydrate the [m, k, d_sub] codebook tensor persisted by
    ivfpq_corpus_table (cross-session serving: the codebook is part of
    the index, not a per-query artifact)."""
    import numpy as np

    rows = spark.table(f"{table_name}_codebook").collect()
    m = 1 + max(r["subspace"] for r in rows)
    k = 1 + max(r["cluster"] for r in rows)
    d = len(rows[0]["centroid"])
    cb = np.zeros((m, k, d))
    for r in rows:
        cb[r["subspace"], r["cluster"]] = r["centroid"]
    return cb


def ivfpq_topk_batch_table(
    spark,
    table_name: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """ivfpq_topk_batch against a persisted ivfpq_corpus_table, loading
    the codes AND both quantizer halves from the SAME table name — the
    IVFPQ twin of knn_join_ivf_table: mixing table A's codes with table
    B's quantizers cannot happen by construction."""
    codes = spark.table(table_name)
    cb = load_pq_codebook(spark, table_name)
    cids, ccode, _fp = load_ivf_quantizer(spark, f"{table_name}_coarse")
    return ivfpq_topk_batch(
        queries, codes, cb, (cids, ccode), k=k, nprobe=nprobe
    )


def ivfpq_topk_batch(
    queries: DataFrame,
    codes: DataFrame,
    codebooks,
    coarse,
    k: int = 10,
    nprobe: int = 4,
    codes_filter=None,
) -> DataFrame:
    """Batched IVF-PQ search for a FRAME of external query vectors
    against a pre-encoded codes corpus — the distributed serving form
    of ivfpq_topk (which answers one driver-side query). This is the
    100 TB ANN serving tier's inner loop: the float corpus is never
    read, candidates are scored from 4-byte codes.

    queries: (vec_id, embedding); codes: (vec_id, list_id, codes) from
    spark.table(<ivfpq_corpus_table>); codebooks: the [m, k, d_sub] PQ
    tensor (load_pq_codebook); coarse: the (ids, code) coarse quantizer
    the codes were LISTED by (load_ivf_quantizer on f"{table}_coarse" —
    never re-derived from live embeddings, which drifts the moment the
    corpus changes).

    Plan shape: per-query probe selection is one Arrow pass against the
    broadcast coarse codebook; the probe explode joins codes on
    list_id (bucket-pruned against the persisted layout, so the code
    side never shuffles); ADC scoring is one mapInPandas pass that
    reconstructs candidates subspace-by-subspace from the broadcast PQ
    tensor — per candidate it is exactly the LUT sum ivfpq_topk
    computes (sum_j ||q_j - c_{j,code_j}||^2), vectorized across the
    batch; the final top-k window moves only (q_id, vec_id, dist)
    rows. Returns (q_id, vec_id, adc_dist2, rank), ascending distance,
    ties to the smaller vec_id.

    `codes_filter` (boolean Column over codes-table columns) = FILTERED
    search at the compressed tier: build the table with
    ivfpq_corpus_table(attach_cols=["label", ...]) so the predicate
    columns ride the codes rows, and the filter prunes candidates
    BEFORE the probe join (pushdown into the bucketed scan). Same
    recall caveat as knn_join_ivf(corpus_filter=...): probe geometry is
    unfiltered — scale nprobe with selectivity."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.window import Window

    cent_ids, cent_code = coarse
    sc = queries.sparkSession.sparkContext
    bc_coarse = sc.broadcast(
        (np.asarray(cent_ids, dtype=np.int64), _unit_codebook(cent_code), int(nprobe))
    )
    bc_pq = sc.broadcast(np.asarray(codebooks, dtype=np.float64))
    rank_lists = _list_ranker()

    @pandas_udf("array<long>")
    def nearest_lists(emb):
        ids, code, npr = bc_coarse.value
        return pd.Series(list(rank_lists(emb.values, ids, code, npr)))

    probes = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.explode(nearest_lists(F.col("embedding"))).alias("list_id"),
    )
    if codes_filter is not None:
        codes = codes.where(codes_filter)
    cand = probes.join(codes.select("list_id", "vec_id", "codes"), "list_id").select(
        "q_id", "q_emb", "vec_id", "codes"
    )

    def score(batches):
        cb = bc_pq.value
        mm, kk, dd = cb.shape
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.vstack(pdf["q_emb"].values).astype(np.float64)
            cd = np.vstack(pdf["codes"].values)
            d2 = np.zeros(len(pdf))
            for j in range(mm):
                diff = q[:, j * dd:(j + 1) * dd] - cb[j][cd[:, j]]
                d2 += (diff * diff).sum(axis=1)
            yield pd.DataFrame(
                {"q_id": pdf["q_id"].values, "vec_id": pdf["vec_id"].values, "adc_dist2": d2}
            )

    scored = cand.mapInPandas(score, "q_id long, vec_id long, adc_dist2 double")
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_dist2"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "vec_id", "adc_dist2", "rank")
    )


def ivfpq_topk_batch_refined(
    queries: DataFrame,
    codes: DataFrame,
    codebooks,
    coarse,
    corpus: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    refine_factor: int = 4,
    exclude_self: bool = False,
    codes_filter=None,
) -> DataFrame:
    """IVF-PQ retrieve + exact re-rank — FAISS's IndexRefineFlat
    pattern, the production shape for serving out of a compressed
    corpus when the answer needs FINE ordering: ADC retrieves
    refine_factor*k candidates from the 4-byte codes (the corpus-scale
    pruning stage, float corpus untouched), then ONLY those candidates'
    float vectors are fetched and re-scored with exact cosine.

    Why it exists (measured, PROBE_r09): inside a dense cluster the
    exact top-k ordering sits BELOW PQ reconstruction resolution —
    pure-ADC recall@10 vs brute is 0.28 at m=4/pq_k=256 and still 0.73
    at 16 bytes/vector on 10k planted-cluster vectors, while the
    candidate SET almost always contains the true neighbors. Re-ranking
    refine_factor*k candidates restores the ordering at a float-fetch
    cost of rk rows per query — at 100 TB the codes prune 99.99% and
    the float reads stay candidate-bounded (a selective join on vec_id
    against the float table, never a corpus scan).

    corpus: the float (vec_id, embedding) table the codes were encoded
    from. exclude_self drops q_id==vec_id candidates before the re-rank
    (corpus-member queries auditing themselves); external-query serving
    leaves it False. Returns (q_id, vec_id, cosine_sim, rank),
    descending similarity, ties to the smaller vec_id."""
    from pyspark.sql.window import Window

    n_cand = refine_factor * k + (1 if exclude_self else 0)
    # codes_filter applies at the ADC stage (candidates restricted
    # before retrieval), so the float fetch below is already
    # predicate-scoped — filtered search never touches non-matching
    # float rows either
    cand = ivfpq_topk_batch(
        queries, codes, codebooks, coarse, k=n_cand, nprobe=nprobe,
        codes_filter=codes_filter,
    ).select("q_id", "vec_id")
    if exclude_self:
        cand = cand.where(F.col("vec_id") != F.col("q_id"))
    qe = queries.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    # the query batch is micro-batch/audit-sized next to the corpus:
    # broadcast it onto the candidate list, then fetch ONLY the
    # candidates' float rows (selective vec_id join, candidate-bounded)
    scored = (
        cand.join(F.broadcast(qe), "q_id")
        .join(corpus.select("vec_id", "embedding"), "vec_id")
        .select(
            "q_id",
            "vec_id",
            round6(cosine_col(F.col("embedding"), F.col("q_emb"))).alias(
                "cosine_sim"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "vec_id", "cosine_sim", "rank")
    )


def _derive_ivfpq_index(
    embeddings: DataFrame,
    m: int = 4,
    pq_k: int = 16,
    n_iter: int = 4,
    codebooks=None,
    coarse=None,
    train_k: int | None = None,
):
    """Build the in-place IVF-PQ index the audits run against when no
    persisted table is supplied: PQ codebooks (pq_fit), the trained
    coarse quantizer, one assignment pass, one encode pass — the exact
    build ivfpq_corpus_table persists. Returns (codes, codebooks,
    coarse) so a SWEEP over serving knobs derives the index ONCE."""
    import numpy as np

    if codebooks is None:
        codebooks = pq_fit(embeddings, m=m, k=pq_k, n_iter=n_iter)[0]
    coarse = coarse_quantizer(
        embeddings, coarse, train_k=train_k, n_iter=n_iter, fn="_derive_ivfpq_index"
    )
    _, listed = ivf_assignments(
        embeddings, codebook=coarse, attach_cols=["embedding"]
    )
    cb = np.asarray(codebooks, dtype=np.float64)
    enc = pq_encode(listed.select("vec_id", "embedding", "list_id"), cb)
    codes = enc.join(listed.select("vec_id", "list_id"), "vec_id").select(
        "vec_id", "list_id", "codes"
    )
    return codes, codebooks, coarse


def ivfpq_recall_report(
    embeddings: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    max_queries: int = 200,
    m: int = 4,
    pq_k: int = 16,
    n_iter: int = 4,
    codes: DataFrame | None = None,
    codebooks=None,
    coarse=None,
    train_k: int | None = None,
    refine_factor: int | None = None,
) -> DataFrame:
    """IVF-PQ quality audit: per-query recall@k of ivfpq_topk_batch
    against the exact knn_join_brute answer over a bounded query
    sample — knn_recall_report's twin for the COMPRESSED serving tier,
    where recall degrades twice (coarse pruning AND PQ reconstruction
    distortion) and the report is how a deployment picks (m, pq_k,
    nprobe, refine_factor) against its own corpus. With refine_factor
    set, the audited path is ivfpq_topk_batch_refined (ADC retrieve
    rf*k -> exact re-rank) — the operating point that recovers fine
    ordering PQ resolution alone cannot (PROBE_r09).

    One row per sampled query: (q_id, n_hits, recall). Both sides
    restrict to the same deterministic sample (q_id < max_queries); the
    PQ side still probes the FULL codes corpus, so the number is the
    production operating point. Queries are corpus members, so the PQ
    side asks for k+1 and drops self-matches before re-ranking (the
    external-query serving path has no self to exclude). Metric note:
    ADC ranks by squared L2 over the PQ reconstruction while the exact
    side ranks by cosine — identical orderings on (near-)unit-norm
    embeddings, and exactly what the serving tier returns, which is the
    thing the audit should measure.

    Pass (codes, codebooks, coarse) from a persisted ivfpq_corpus_table
    to audit the LIVE index; with codes omitted the index derives here
    (pq_fit + the trained coarse default + one encode pass — the same
    build ivfpq_corpus_table persists). A pre-encoded codes frame
    without both quantizer halves raises: re-deriving either from live
    embeddings drifts the moment the corpus changes."""
    from pyspark.sql.window import Window

    if codes is None:
        codes, codebooks, coarse = _derive_ivfpq_index(
            embeddings, m=m, pq_k=pq_k, n_iter=n_iter,
            codebooks=codebooks, coarse=coarse, train_k=train_k,
        )
    elif codebooks is None or coarse is None:
        raise ValueError(
            "ivfpq_recall_report: a pre-encoded codes frame must come with "
            "BOTH quantizer halves — load_pq_codebook(spark, table) and "
            "load_ivf_quantizer(spark, f'{table}_coarse')"
        )

    qs = embeddings.where(F.col("vec_id") < max_queries).select(
        "vec_id", "embedding"
    )
    if refine_factor is not None:
        pq_topk = ivfpq_topk_batch_refined(
            qs, codes, codebooks, coarse, embeddings,
            k=k, nprobe=nprobe, refine_factor=refine_factor, exclude_self=True,
        ).select("q_id", "vec_id")
    else:
        pq = ivfpq_topk_batch(qs, codes, codebooks, coarse, k=k + 1, nprobe=nprobe)
        w = Window.partitionBy("q_id").orderBy(F.asc("adc_dist2"), F.asc("vec_id"))
        pq_topk = (
            pq.where(F.col("vec_id") != F.col("q_id"))
            .withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= k)
            .select("q_id", "vec_id")
        )
    brute = knn_join_brute(embeddings, k=k, max_queries=max_queries).select(
        "q_id", "vec_id"
    )
    hits = pq_topk.join(brute, ["q_id", "vec_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    per_q = brute.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return per_q.join(hits, "q_id", "left").select(
        "q_id",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        round6(
            F.coalesce("n_hits", F.lit(0)).cast("double")
            / F.col("n_exact").cast("double")
        ).alias("recall"),
    )


def ivfpq_refine_sweep(
    embeddings: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    max_queries: int = 100,
    factors: tuple[int, ...] = (1, 2, 4, 8),
    m: int = 4,
    pq_k: int = 16,
    n_iter: int = 4,
    train_k: int | None = None,
) -> DataFrame:
    """The refine-factor tuning curve for the compressed serving tier:
    mean/min recall@k of the refined IVF-PQ path at each refine factor,
    against the exact brute answer — the table an operator reads to
    pick refine_factor (float-fetch cost grows linearly in rf; recall
    saturates). rf=1 re-ranks exactly the ADC top-k, so its recall
    EQUALS the pure-ADC operating point (same candidate set; recall is
    set overlap, unaffected by reordering).

    The index derives ONCE (_derive_ivfpq_index) and every factor
    audits the same codes/quantizers — the sweep measures rf, not
    training noise. The driver loop is over len(factors) bounded audit
    jobs (each max_queries x k rows), the same economics as running
    the recall report N times; the output is a tiny local frame.

    One row per factor: (refine_factor, n_queries, mean_recall,
    min_recall), ascending rf. Monotone non-decreasing mean recall is
    pytest-gated on the planted-cluster corpus."""
    if not factors or any(int(f) < 1 for f in factors):
        raise ValueError(f"ivfpq_refine_sweep: factors must be >= 1, got {factors!r}")
    codes, codebooks, coarse = _derive_ivfpq_index(
        embeddings, m=m, pq_k=pq_k, n_iter=n_iter, train_k=train_k
    )
    codes = codes.localCheckpoint()  # len(factors) consumers, one encode pass
    rows = []
    for rf in sorted(set(int(f) for f in factors)):
        rep = ivfpq_recall_report(
            embeddings,
            k=k,
            nprobe=nprobe,
            max_queries=max_queries,
            codes=codes,
            codebooks=codebooks,
            coarse=coarse,
            refine_factor=rf,
        )
        agg = rep.agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("recall").alias("mean_r"),
            F.min("recall").alias("min_r"),
        ).collect()[0]
        rows.append(
            (
                rf,
                int(agg["n"]),
                round(float(agg["mean_r"] or 0.0), 6),
                round(float(agg["min_r"] or 0.0), 6),
            )
        )
    return embeddings.sparkSession.createDataFrame(
        rows, "refine_factor int, n_queries long, mean_recall double, min_recall double"
    )


def diverse_sample(
    embeddings: DataFrame,
    frac: float = 0.1,
    k: int = 16,
    n_iter: int = 4,
    exact: bool = True,
    salt: str = "diverse-v1",
) -> DataFrame:
    """Cluster-stratified embedding-space sampling: draw ~frac of the
    corpus while preserving every embedding-space region — per k-means
    cluster, a deterministic uniform draw keeps ceil(frac * cluster
    size) members, so tail clusters keep representation that a global
    uniform sample of a skewed corpus would lose. The curation use is
    a diversity-preserving subset for expensive downstream passes
    (human eval, quality-classifier training, embedding re-runs).

    exact=True: per-cluster quota via a rank window ordered by the
    hash draw (ties to vec_id) — exactly ceil(frac*n_c) per cluster;
    the window shuffles once on cluster_id. exact=False: keep iff
    draw < frac — binomially-approximate per-cluster counts but
    MAP-ONLY after assignment (no shuffle at all), the 100 TB form.

    The draw is sample_uniform_col's md5 construction (pure function
    of (salt, vec_id) — stable across runs, partitionings, engines;
    rand(seed) is none of those). Output: every vector as
    (vec_id, cluster_id, sample_u, keep)."""
    if not 0.0 < frac <= 1.0:
        raise ValueError(f"diverse_sample: frac={frac} must be in (0, 1]")
    from .curation import sample_uniform_col

    codebook, _ = kmeans_fit(embeddings, k=k, n_iter=n_iter)
    assign = kmeans_assign(embeddings, codebook).select("vec_id", "cluster_id")
    u = sample_uniform_col(salt, id_col="vec_id")
    drawn = assign.select("vec_id", "cluster_id", round6(u).alias("sample_u"))
    if not exact:
        return drawn.withColumn("keep", F.col("sample_u") < frac)
    from pyspark.sql.window import Window

    w = Window.partitionBy("cluster_id").orderBy("sample_u", "vec_id")
    sizes = drawn.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("_n"))
    return (
        drawn.withColumn("_rk", F.row_number().over(w))
        .join(F.broadcast(sizes), "cluster_id")
        .select(
            "vec_id",
            "cluster_id",
            "sample_u",
            (F.col("_rk") <= F.ceil(F.col("_n") * frac)).alias("keep"),
        )
    )


def label_centroids(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(label, centroid array<double>) — per-label mean vector, each
    component rounded to 6 decimals so the downstream nearest-centroid
    argmax sees a bit-portable centroid (a mean over floats differs in
    final ulps across engines/orders; the rounding pins it).

    Plan shape: posexplode + (label, pos) partial agg — map-side
    combine reduces every task to labels x dim rows — then one
    dim-bounded rebuild; the result is broadcast-sized (labels x dim
    doubles)."""
    per_dim = (
        embeddings.select("label", F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("cv"))
    )
    return per_dim.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))), lambda s: s["cv"]
        ).alias("centroid")
    )


def embed_label_purity(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Label purity of the embedding space: assign every vector to its
    nearest LABEL CENTROID by cosine and report, per label, how many of
    its members come home — the fast audit that a labeled embedding
    column actually separates its classes (low purity = the labels are
    noise or the embedder ignores them) before the labels are trusted
    for stratified sampling or eval-set construction.

    Ties in the argmax break to the smaller centroid label on both
    engines. Plan shape: centroids are labels x dim (broadcast); the
    corpus scans ONCE against the broadcast via a codegen cosine fold
    and the per-vector argmax is a map-side struct-max, so the only
    exchange carries one small row per vector; the purity rollup is
    label-sized."""
    cents = label_centroids(embeddings, vec_col=vec_col).select(
        F.col("label").alias("c_label"), "centroid"
    )
    scored = embeddings.select("vec_id", "label", vec_col).crossJoin(
        F.broadcast(cents)
    )
    cos = cosine_col(F.col(vec_col), F.col("centroid"))
    best = (
        scored.select(
            "vec_id",
            "label",
            F.struct(cos.alias("cos"), (-F.col("c_label")).alias("neg_label")).alias("_s"),
        )
        .groupBy("vec_id", "label")
        .agg(F.max("_s").alias("_best"))
        .select("vec_id", "label", (-F.col("_best.neg_label")).alias("best_label"))
    )
    return (
        best.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum((F.col("best_label") == F.col("label")).cast("long")).alias("n_correct"),
        )
        .select(
            "label",
            "n_vecs",
            "n_correct",
            round6(F.col("n_correct").cast("double") / F.col("n_vecs").cast("double")).alias(
                "purity"
            ),
        )
    )


def embed_centroid_drift(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Embedding-distribution drift between the corpus's two
    deterministic halves (even/odd vec_id — the order-free stand-in
    for successive ingest batches): per label, the cosine between the
    halves' centroids and both half sizes. A centroid cosine sagging
    below ~0.99 on refreshed data is the re-embed / retrain-the-IVF-
    codebook signal (quantizer_fingerprint guards against serving the
    WRONG index; this guards against serving a stale-but-matching
    one). Centroid components round to 6 decimals on both engines so
    the report is bit-portable (the embed_label_purity convention).

    Plan shape: ONE posexplode scan partial-aggregated to
    (label, half, dim) — state is 2 x labels x dim — then a
    label-keyed pairing of the two half-centroids and a codegen
    cosine fold; nothing corpus-sized survives the first agg."""
    half = (F.col("vec_id") % 2).cast("int")
    per_dim = (
        embeddings.select("label", half.alias("half"), F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("label", "half", "pos")
        .agg(
            F.round(F.avg(F.col("v").cast("double")), 6).alias("cv"),
        )
    )
    cents = per_dim.groupBy("label", "half").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))), lambda s: s["cv"]
        ).alias("centroid")
    )
    sizes = (
        embeddings.select("label", half.alias("half"))
        .groupBy("label", "half")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = cents.where(F.col("half") == 0).select(
        "label", F.col("centroid").alias("cent_a")
    )
    b = cents.where(F.col("half") == 1).select(
        "label", F.col("centroid").alias("cent_b")
    )
    na = sizes.where(F.col("half") == 0).select("label", F.col("n").alias("n_even"))
    nb = sizes.where(F.col("half") == 1).select("label", F.col("n").alias("n_odd"))
    return (
        a.join(b, "label")
        .join(na, "label")
        .join(nb, "label")
        .select(
            "label",
            "n_even",
            "n_odd",
            round6(cosine_col(F.col("cent_a"), F.col("cent_b"))).alias("centroid_cos"),
        )
    )
