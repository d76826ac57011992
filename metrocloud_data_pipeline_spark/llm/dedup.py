"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the whole point of these at 100 TB):
- exact_dedup: hash-groupBy on a digest of normalized text — shuffle
  carries (digest, doc_id), never the text bytes.
- MinHash+LSH: shingle -> k minhashes -> band buckets -> self-join on
  (band, bucket). Candidate pairs are pairs sharing >=1 band bucket —
  the classic sub-quadratic near-dup pipeline (Broder '97; standard in
  LLM-corpus dedup). All hashing via xxhash64 with per-permutation
  seeds: built-in, JVM-side, no UDF.
- SimHash: 64-bit hyperplane signature from token hashes; near-dups =
  signatures at small Hamming distance, bucketed by 4x16-bit chunks.
- n-gram (token-set) Jaccard: exact pair similarity via token explode +
  self-join; quadratic in the worst case, so use LSH candidates first at
  scale (`token_jaccard_pairs_lsh` runs its exact Jaccard verify step on
  the candidate pairs only).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import round6

_WS = r"\s+"


def _norm_text(c: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(c)), _WS, " ")


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups keyed by md5 of normalized text.

    Returns (text_hash, dup_count, keep_doc_id): keeper = min doc_id.
    The shuffle key is the 32-char digest, so the wide text column is
    pruned before the exchange."""
    return (
        docs.select(F.md5(_norm_text(F.col(text_col))).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min("doc_id").alias("keep_doc_id"))
    )


def exact_chunk_dedup(chunks: DataFrame) -> DataFrame:
    """Chunk-digest dedup for the RAG path: exact duplicate CHUNK
    groups keyed by md5 of the lowercased chunk text — composed from
    chunk_documents (llm/text.py), whose windows are already
    whitespace-normalized. Boilerplate passages (headers, footers,
    license blocks, quoted snippets) duplicate at chunk granularity
    long before whole documents do, and an embedding cache that keys
    on chunk digests skips re-embedding every repeated window — at
    RAG-corpus scale the chunk table is several times the doc table,
    so this digest groupBy is the difference between embedding the
    corpus and embedding its distinct passages.

    Same plan shape as exact_dedup: the shuffle key is the 32-char
    digest (wide chunk text pruned before the exchange), map-side
    combine collapses repeats early. The keeper is the lexicographic
    min (doc_id, chunk_id) pair — one struct-min aggregate, no second
    pass. Returns (chunk_hash, dup_count, keep_doc_id,
    keep_chunk_id)."""
    return (
        chunks.select(
            F.md5(F.lower(F.col("chunk_text"))).alias("chunk_hash"),
            "doc_id",
            "chunk_id",
        )
        .groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min(F.struct("doc_id", "chunk_id")).alias("_keep"),
        )
        .select(
            "chunk_hash",
            "dup_count",
            F.col("_keep.doc_id").alias("keep_doc_id"),
            F.col("_keep.chunk_id").alias("keep_chunk_id"),
        )
    )


def shingles(docs: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, shingle-hash) pairs: k-token shingles hashed to 64-bit.

    Grams are assembled by zipping k shifted slices of the token array
    (arrays_zip of slice(toks, 1..k, n-k+1)) and exploding — a pure
    narrow projection: no shuffle at all, everything inside codegen.
    Measured 1.7x faster at sf0.1 than the previous lead()-window
    formulation (whose WindowExec shuffled and sorted by doc_id) and
    7.5x+ over transform() lambdas (HOFs evaluate interpreted, per
    element). Duplicate shingles within a doc are NOT removed: min() is
    duplicate-blind, so the MinHash signature is identical and we skip
    a distinct shuffle. A doc with fewer than k tokens emits its whole
    text as one shingle (slice caps at one gram; concat_ws skips the
    nulls arrays_zip pads with)."""
    toks = F.split(_norm_text(F.col(text_col)), " ")
    m = F.greatest(F.size(toks) - (k - 1), F.lit(1))
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, m).alias(f"t{i}") for i in range(k)])
    gram = F.concat_ws(" ", *[F.col(f"g.t{i}") for i in range(k)])
    return docs.select("doc_id", F.explode(zipped).alias("g")).select(
        "doc_id", F.xxhash64(gram).alias("shingle")
    )


def minhash_signatures(docs: DataFrame, num_perm: int = 64, k: int = 3) -> DataFrame:
    """MinHash signature per doc: num_perm permutations, each the min of
    xxhash64(shingle, seed=i) over the doc's shingles.

    One groupBy over exploded shingles; signature assembled as an array
    column. Cost: |shingles| x num_perm cheap hashes, all JVM-side.

    Deliberately explode+groupBy, NOT a row-local nested
    transform/array_min over the shingle array: higher-order-function
    lambdas are interpreted per element (outside whole-stage codegen),
    and the "shuffle-free" formulation measured ~35x slower at sf0.1
    (460 s vs 13 s). The shuffle here is cheap — map-side partial min
    combine means only per-partition partial signatures move."""
    sh = shingles(docs, k=k)
    aggs = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}") for i in range(num_perm)
    ]
    sig = sh.groupBy("doc_id").agg(*aggs)
    return sig.select("doc_id", F.array(*[f"h{i}" for i in range(num_perm)]).alias("signature"))


def _band_buckets(signatures: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(doc_id, band, bucket) rows: each band of the signature hashed to
    a 64-bit bucket id. Pure narrow projection (posexplode of a
    transform over the signature array) — no shuffle."""
    return signatures.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.xxhash64(
                    F.concat_ws(",", F.slice("signature", i * rows_per_band + 1, rows_per_band)), i
                ),
            )
        ).alias("band", "bucket"),
    )


def lsh_dropped_buckets(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int = 500,
) -> DataFrame:
    """Accounting twin of lsh_candidate_pairs' hot-bucket guard: the
    (band, bucket, n_docs) rows that the cap would drop. At 100 TB this
    is the dashboard query a dedup pipeline runs alongside the dedup
    itself — dropped buckets are almost always boilerplate (headers,
    licenses, templates), and their count/size is the signal that the
    banding parameters or a pre-filter need tuning."""
    b = _band_buckets(signatures, bands, rows_per_band)
    return (
        b.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > max_bucket_size)
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int | None = 500,
) -> DataFrame:
    """LSH banding: hash each band of the signature to a bucket; docs
    sharing any (band, bucket) are candidate near-duplicates.

    The self-join keys on (band, bucket) — sub-quadratic as long as
    buckets stay small; AQE's skew-join splitting spreads moderately hot
    buckets across tasks. max_bucket_size is the 100 TB guard: a bucket
    of n docs emits n(n-1)/2 pairs, so one boilerplate bucket of 1M docs
    would alone produce 5e11 candidates — buckets over the cap are
    dropped entirely (their members still pair through their other
    bands; standard practice in corpus-scale MinHash dedup). The cap is
    ON by default (500 — far above any honest near-dup cluster in a
    deduplicated ingest batch); pass None to opt out for exhaustive
    small-corpus audits. lsh_dropped_buckets() reports what a given cap
    discards."""
    b = _band_buckets(signatures, bands, rows_per_band)
    if max_bucket_size is not None:
        # sizes is a cheap partial-agg shuffle (map-side combine shrinks
        # it to distinct buckets per partition) and the OVER-cap set is
        # tiny by construction (a handful of boilerplate buckets), so it
        # broadcasts and the guard costs b NO shuffle at all. The
        # window-count alternative (count over partitionBy(band, bucket))
        # measured 5-10x WORSE on hot-bucket band frames: it forces a
        # full unsalted shuffle+sort of every band row, twice (once per
        # self-join side), concentrated on exactly the skewed buckets
        # the cap exists to tame — 49 s vs 4-10 s on the sf0.1 unigram
        # frame (10.5 M candidate pairs), and no better than noise on
        # the well-spread minhash frame.
        sizes = b.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_n"))
        b = b.join(
            F.broadcast(sizes.where(F.col("_n") > max_bucket_size)),
            ["band", "bucket"],
            "left_anti",
        )
    left = b.alias("a")
    right = b.alias("b")
    return (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_jaccard_estimate(signatures: DataFrame, pairs: DataFrame) -> DataFrame:
    """Estimated Jaccard for candidate pairs = fraction of agreeing
    signature positions (zip_with over the two signature arrays)."""
    a = signatures.select(F.col("doc_id").alias("doc_a"), F.col("signature").alias("sig_a"))
    b = signatures.select(F.col("doc_id").alias("doc_b"), F.col("signature").alias("sig_b"))
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            round6(agree.cast("double") / F.size("sig_a")).alias("est_jaccard"),
        )
    )


def minhash_dedup(
    docs: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    k: int = 3,
    max_bucket_size: int | None = 500,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures -> banded candidates
    -> estimate filter. Returns pairs with est_jaccard >= threshold.
    The hot-bucket cap defaults ON (see lsh_candidate_pairs); None opts
    out."""
    # The signature subtree feeds three consumers (band explode + both
    # estimate joins); without persist it recomputes per consumer.
    # Signatures are num_perm longs per doc — ~3 orders of magnitude
    # smaller than the text they summarize — so caching them is cheap at
    # any scale (measured 2.2x on the full pipeline at sf0.1).
    sigs = minhash_signatures(docs, num_perm=num_perm, k=k).persist()
    pairs = lsh_candidate_pairs(
        sigs, bands=bands, rows_per_band=num_perm // bands, max_bucket_size=max_bucket_size
    )
    est = minhash_jaccard_estimate(sigs, pairs)
    return est.where(F.col("est_jaccard") >= threshold)


def simhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document from token xxhash64s.

    For each bit position, sum +/-1 contributions across token hashes and
    take the sign. Explode tokens -> ONE groupBy(doc_id) with 64
    conditional sums: codegen'd hash aggregation with map-side partial
    combine (same lesson as minhash_signatures — the row-local
    F.aggregate fold over the token array is interpreted per element and
    measured 1.7x slower at sf0.1). Bit masks are driver-side constants;
    bit 63 uses the signed two's-complement mask, which sum semantics
    handle exactly; disjoint masks make the signature the SUM of per-bit
    terms."""
    th = docs.select(
        "doc_id",
        F.explode_outer(F.array_distinct(F.split(_norm_text(F.col(text_col)), " "))).alias("tok"),
    ).select("doc_id", F.xxhash64("tok").alias("h"))
    aggs = []
    for bit in range(64):
        mask = (1 << bit) if bit < 63 else -(1 << 63)
        vote = F.sum(F.when(F.col("h").bitwiseAND(F.lit(mask)) != 0, 1).otherwise(-1))
        aggs.append(F.when(vote > 0, F.lit(mask)).otherwise(F.lit(0)).cast("long").alias(f"_b{bit}"))
    sig = F.col("_b0")
    for i in range(1, 64):
        sig = sig + F.col(f"_b{i}")
    return th.groupBy("doc_id").agg(*aggs).select("doc_id", sig.alias("simhash"))


def simhash_dedup(docs: DataFrame, max_hamming: int = 3, text_col: str = "text") -> DataFrame:
    """SimHash near-dup pipeline: signatures (persisted — both sides of
    the bucket self-join read them; 8 bytes/doc, measured 1.5x at sf0.1)
    -> chunk-bucket candidates -> exact Hamming verify."""
    sigs = simhash_signatures(docs, text_col=text_col).persist()
    return simhash_candidate_pairs(sigs, max_hamming=max_hamming)


def simhash_candidate_pairs(signatures: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup candidates: bucket by each of four 16-bit chunks (pigeonhole:
    Hamming distance <=3 over 64 bits guarantees one identical chunk),
    join within buckets, verify exact Hamming distance <= max_hamming.

    PRECONDITION (ADVICE r15): `signatures` must carry ONE row per
    doc_id. The r15 first-matching-chunk emit replaced the post-join
    distinct, so duplicate doc_id input rows now surface as duplicate
    (doc_a, doc_b) output rows instead of being collapsed.
    simhash_signatures satisfies this by construction (one groupBy
    doc_id aggregate); callers feeding external signature frames must
    dropDuplicates('doc_id') first."""
    chunked = signatures.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), i * 16).bitwiseAND(F.lit(0xFFFF))
                    for i in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    a, b = chunked.alias("a"), chunked.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    hamming = F.bit_count(xor)
    # Emit each qualifying pair exactly ONCE — at its FIRST matching
    # chunk — instead of deduplicating with a distinct (r15): a pair
    # matching in m chunks used to produce m join rows and pay a full
    # exchange of the qualifying-pair set to collapse them. Both
    # simhashes are present on the join output, so "this is the first
    # matching chunk" is a pure codegen predicate: every lower chunk of
    # the XOR is non-zero (a zero 16-bit XOR slice IS a chunk match).
    # The pair set, values, and multiplicity (one row per pair) are
    # identical to the distinct form — guaranteed by pigeonhole the
    # same way the candidate generation is — and the plan loses its
    # only post-join exchange.
    chunk_differs = [
        F.shiftrightunsigned(xor, i * 16).bitwiseAND(F.lit(0xFFFF)) != 0
        for i in range(4)
    ]
    first_match = F.col("a.chunk_idx") == F.lit(0)
    prefix_all_differ = chunk_differs[0]
    for i in range(1, 4):
        first_match = first_match | (
            (F.col("a.chunk_idx") == F.lit(i)) & prefix_all_differ
        )
        if i < 3:
            prefix_all_differ = prefix_all_differ & chunk_differs[i]
    # Hamming-verify BEFORE projecting: the verify is a codegen'd
    # xor+popcount on the join output; no exchange follows it.
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where((hamming <= max_hamming) & first_match)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
    )


def token_jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact token-set Jaccard over all pairs sharing >= 1 token.

    explode distinct tokens -> self-join on token -> |A∩B| per pair ->
    Jaccard with per-doc set sizes. Quadratic against a common-vocab
    corpus: at scale, run on LSH candidates instead (minhash_dedup)."""
    toks = docs.select("doc_id", F.explode(F.array_distinct(F.split(_norm_text(F.col("text")), " "))).alias("tok"))
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    a, b = toks.alias("a"), toks.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    jac = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            round6(
                F.col("inter").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
    )
    return jac.where(F.col("jaccard") >= threshold)


def token_jaccard_pairs_lsh(
    docs: DataFrame,
    threshold: float = 0.95,
    num_perm: int = 128,
    bands: int = 32,
    max_bucket_size: int | None = 500,
    fail_on_dropped_buckets: bool = False,
) -> DataFrame:
    """Scale form of token_jaccard_pairs: MinHash-LSH candidates over the
    SAME unigram token sets, then EXACT Jaccard verification on the
    candidate pairs only — identical output, sub-quadratic plan.

    Candidate recall at 128 perms / 32 bands of 4: a pair with true
    Jaccard J misses every band with probability (1 - J^4)^32 — at
    J = 0.95 that is ~4e-24, so the exact-verify step sees every
    qualifying pair (the all-pairs token self-join it replaces pairs
    every pair of docs sharing ONE common token — quadratic against a
    shared vocabulary). Verification computes true Jaccard from the two
    distinct-token arrays (array_intersect — native expression, no
    shuffle beyond the two signature joins), matching
    token_jaccard_pairs' value bit-for-bit."""
    toks = docs.select(
        "doc_id", F.array_distinct(F.split(_norm_text(F.col("text")), " ")).alias("toks")
    )
    # banding reads the signatures up to three times (both join sides +
    # the bucket-size guard); same persist rationale as minhash_dedup.
    sigs = minhash_signatures(docs, num_perm=num_perm, k=1).persist()
    if fail_on_dropped_buckets and max_bucket_size is not None:
        # Callers whose contract is "EVERY qualifying pair" (e.g. the
        # oracle-checked queries, whose DuckDB twin computes the uncapped
        # answer) opt in here: if the cap would discard any bucket, the
        # capped result may silently diverge from that contract — fail
        # loudly instead. One extra banding pass over the persisted
        # signatures; limit(1) stops at the first offending bucket.
        dropped = lsh_dropped_buckets(
            sigs,
            bands=bands,
            rows_per_band=num_perm // bands,
            max_bucket_size=max_bucket_size,
        ).limit(1)
        hit = dropped.collect()
        if hit:
            r = hit[0]
            raise ValueError(
                f"token_jaccard_pairs_lsh: band {r['band']} bucket {r['bucket']} "
                f"holds {r['n_docs']} docs (> max_bucket_size={max_bucket_size}); "
                "the cap would drop qualifying pairs — raise the cap or "
                "pre-filter the boilerplate bucket"
            )
    pairs = lsh_candidate_pairs(
        sigs, bands=bands, rows_per_band=num_perm // bands, max_bucket_size=max_bucket_size
    )
    a = toks.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    b = toks.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = round6(
        inter.cast("double")
        / (F.size("toks_a") + F.size("toks_b") - inter).cast("double")
    )
    out = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )
    return out.where(F.col("jaccard") >= threshold)


def keep_best_list(
    docs: DataFrame, clusters: DataFrame, quality_col: str = "n_chars"
) -> DataFrame:
    """Quality-aware dedup decision: in each near-dup cluster KEEP the
    member with the highest `quality_col` (ties to the smallest
    doc_id); unclustered docs keep. The min-id keeper (dedup_keep_list)
    discards arbitrarily; real pipelines keep the best copy — longest /
    cleanest — because near-dup clusters routinely mix a full document
    with its truncated or boilerplate-wrapped variants, and dropping
    the full copy loses content.

    clusters: (doc_id, cluster_id) from duplicate_clusters — dup-
    bounded, small. The per-cluster winner is one map-side-combinable
    struct-max over that small frame, broadcast back onto the corpus
    labels: the corpus itself is scanned once and never shuffles.
    Returns (doc_id, cluster_id, keep) — same contract as
    dedup_keep_list, so downstream `where(keep)` is unchanged."""
    labeled = docs.select("doc_id", F.col(quality_col).alias("_q")).join(
        clusters, "doc_id", "left"
    )
    winners = (
        labeled.where(F.col("cluster_id").isNotNull())
        .groupBy("cluster_id")
        .agg(
            F.max(F.struct(F.col("_q"), (-F.col("doc_id")).alias("nid"))).alias("_w")
        )
        .select("cluster_id", (-F.col("_w.nid")).alias("_keep_doc_id"))
    )
    return labeled.join(F.broadcast(winners), "cluster_id", "left").select(
        "doc_id",
        "cluster_id",
        (
            F.col("cluster_id").isNull() | (F.col("doc_id") == F.col("_keep_doc_id"))
        ).alias("keep"),
    )


def duplicate_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over near-duplicate pairs: groups of
    transitively-linked docs get one cluster_id (the component's min
    doc_id), so keep-one-per-cluster dedup can pick a representative.

    Algorithm: hash-min label propagation WITH pointer doubling — each
    round a doc's label shrinks to the min of (its label, its
    neighbors' labels, its label's label). The label-of-label hop
    halves the distance to the component minimum every round, so
    convergence is O(log diameter) rounds, not O(diameter) — a
    342-doc chain converges in ~9 rounds, not 342.

    Scale shape: state is one (doc_id, cluster_id) row per doc that
    appears in a pair — orders of magnitude smaller than the corpus
    (only near-dup docs enter). Each round is two equi-joins + one
    min-aggregate on that state; `localCheckpoint()` truncates lineage
    so plan depth stays constant across rounds, and the convergence
    probe is a single exact-sum aggregate over the checkpointed state
    (labels only decrease, so an unchanged sum means converged) —
    never an old-vs-new join or a full materialization. This
    is the standard Spark shape for iterative graph algorithms
    (GraphX/GraphFrames CC does the same driver-coordinated rounds).
    """
    # materialize the pair list ONCE — the symmetrizing union below reads
    # it from checkpoint instead of evaluating the (expensive) candidate
    # pipeline per branch
    p = pairs.select("doc_a", "doc_b").localCheckpoint()
    edges = (
        p.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(p.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .persist()
    )
    # seed with min over the direct neighborhood (not just self): a
    # near-dup CLIQUE — the overwhelmingly common component shape —
    # is already converged after this one aggregate, so the loop's
    # first probe exits immediately
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("m"))
        .select(F.col("src").alias("doc_id"), F.least("src", "m").alias("cluster_id"))
        .localCheckpoint()
    )
    # convergence probe: labels only ever decrease, so the exact label
    # sum strictly decreases iff ANY label changed — one aggregate over
    # the checkpointed state per round instead of an old-vs-new
    # equi-join. decimal(38,0) keeps the sum exact (no double rounding)
    # far past any realistic state size (~1e19 rows x max long).
    def label_sum(frame: DataFrame):
        return frame.agg(F.sum(F.col("cluster_id").cast("decimal(38,0)"))).collect()[0][0]

    prev_sum = label_sum(labels)
    for _ in range(max_iter):
        nbr = edges.join(labels, edges["src"] == labels["doc_id"]).select(
            F.col("dst").alias("doc_id"), "cluster_id"
        )
        hop = (
            labels.alias("x")
            .join(labels.alias("y"), F.col("x.cluster_id") == F.col("y.doc_id"))
            .select(F.col("x.doc_id").alias("doc_id"), F.col("y.cluster_id").alias("cluster_id"))
        )
        new = (
            labels.unionByName(nbr)
            .unionByName(hop)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint()
        )
        labels = new
        cur_sum = label_sum(labels)
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    edges.unpersist()
    return labels.withColumn(
        "cluster_size", F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
    )


def cross_corpus_exact(
    incoming: DataFrame, corpus: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Incremental-ingest dedup: for every incoming document, how many
    exact (normalized-text) duplicates already exist in the reference
    corpus, and the earliest such corpus doc. The decision a training
    pipeline makes on every new crawl batch before it touches the main
    store.

    Direction matters at scale: the corpus is the 100 TB side and the
    incoming batch is small, so the INCOMING digests broadcast and the
    corpus scan streams against them — corpus rows never shuffle. The
    match aggregate is then at most |incoming|-sized. Wide text columns
    are reduced to 32-char digests before any join on either side."""
    inc = incoming.select("doc_id", F.md5(_norm_text(F.col(text_col))).alias("digest"))
    corp = corpus.select(
        F.col("doc_id").alias("_c_doc"), F.md5(_norm_text(F.col(text_col))).alias("digest")
    )
    matches = (
        corp.join(F.broadcast(inc.select("digest").distinct()), "digest")
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("n_dupes_in_corpus"),
            F.min("_c_doc").alias("first_dup_doc_id"),
        )
    )
    return (
        inc.join(F.broadcast(matches), "digest", "left")
        .select(
            "doc_id",
            "digest",
            F.coalesce("n_dupes_in_corpus", F.lit(0)).alias("n_dupes_in_corpus"),
            "first_dup_doc_id",
        )
    )


def minhash_band_table(
    docs: DataFrame,
    table_name: str,
    num_perm: int = 128,
    bands: int = 32,
    num_buckets: int = 32,
) -> str:
    """Materialize the standing corpus's LSH band index — (doc_id, band,
    bucket) — as a bucketed table, the build-at-ingest form of the
    banding pass for corpora that screen incoming crawl batches
    repeatedly (the MinHash twin of similarity.ivf_corpus_table).

    At 100 TB the expensive part of incremental near-dup is NOT the
    candidate join (the batch side broadcasts) — it is re-tokenizing,
    re-hashing, and re-banding the standing corpus on every batch. This
    table amortizes that full-corpus pass across every future batch:
    cross_corpus_jaccard reads it instead of recomputing, and appends
    each accepted batch's band rows so the index tracks the corpus.

    k=1 shingles (unigram token sets) to match token_jaccard_pairs_lsh /
    cross_corpus_jaccard verification semantics."""
    from ..operators.maintenance import _fs_delete, write_bucketed

    spark = docs.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    wh = spark.conf.get("spark.sql.warehouse.dir")
    _fs_delete(f"{wh.rstrip('/')}/{table_name.lower()}")

    sigs = minhash_signatures(docs, num_perm=num_perm, k=1)
    band_frame = _band_buckets(sigs, bands, num_perm // bands)
    write_bucketed(band_frame, table_name, "bucket", num_buckets=num_buckets)
    return table_name


def cross_corpus_jaccard(
    incoming: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.95,
    num_perm: int = 128,
    bands: int = 32,
    max_bucket_size: int | None = 500,
    fail_on_dropped_buckets: bool = False,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental NEAR-dup ingest gate: for every incoming doc, the
    standing-corpus docs whose exact token-set Jaccard clears the
    threshold — the fuzzy sibling of cross_corpus_exact, and the
    decision that keeps paraphrased/boilerplate-shifted duplicates out
    of the main store batch by batch.

    Pipeline: MinHash both sides (k=1 unigram sets, same semantics as
    token_jaccard_pairs_lsh), band into buckets, join the BATCH band
    frame against the CORPUS band frame on (band, bucket) for
    candidates, then verify exactly via array_intersect on the two
    distinct-token arrays. Recall bound is the banding one (~4e-24 miss
    at J=0.95, 128/32) — candidates only, never corpus x batch.

    Scale shape: the batch band frame is |batch| x bands rows and
    BROADCASTS — the corpus band side streams through the join with no
    exchange. Verification joins candidates (small) to each side's
    token arrays; the corpus side is filtered to matched doc_ids before
    tokenization, so corpus text is only tokenized for docs that share
    a bucket with the batch. Pass corpus_bands (a minhash_band_table)
    to skip the corpus re-banding pass entirely — then NO full corpus
    scan happens unless a candidate matches.

    The hot-bucket cap applies to the CORPUS side (boilerplate buckets
    live there); fail_on_dropped_buckets mirrors
    token_jaccard_pairs_lsh's every-qualifying-pair contract."""
    rpb = num_perm // bands
    inc_sigs = minhash_signatures(incoming, num_perm=num_perm, k=1)
    inc_bands = _band_buckets(inc_sigs, bands, rpb).select(
        F.col("doc_id").alias("doc_new"), "band", "bucket"
    )
    own_persist = corpus_bands is None
    if own_persist:
        # the corpus band frame feeds BOTH the hot-bucket guard and the
        # candidate join; persist so the (expensive) corpus signature
        # pass runs once — same rationale and CacheManager-reuse
        # methodology as token_jaccard_pairs_lsh's persisted signatures.
        # A band row is (doc_id, band, bucket) — 3 longs — so this is
        # ~bands x |corpus| longs, negligible next to the text. The
        # cache entry is OWNED here: the candidate set (batch-bounded)
        # is checkpointed below and the bands released before returning,
        # so repeated standalone calls never accumulate dead cache
        # entries (streaming callers pass corpus_bands and manage their
        # own persist lifetime).
        corpus_bands = _band_buckets(
            minhash_signatures(corpus, num_perm=num_perm, k=1), bands, rpb
        ).persist()
    try:
        corp_bands = corpus_bands.select(
            F.col("doc_id").alias("doc_corpus"), "band", "bucket"
        )
        if max_bucket_size is not None:
            sizes = corp_bands.groupBy("band", "bucket").agg(
                F.count(F.lit(1)).alias("_n")
            )
            hot = sizes.where(F.col("_n") > max_bucket_size)
            if fail_on_dropped_buckets:
                hit = hot.limit(1).collect()
                if hit:
                    r = hit[0]
                    raise ValueError(
                        f"cross_corpus_jaccard: band {r['band']} bucket {r['bucket']} "
                        f"holds {r['_n']} corpus docs (> max_bucket_size="
                        f"{max_bucket_size}); the cap would drop qualifying pairs"
                    )
            corp_bands = corp_bands.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
        cands = (
            corp_bands.join(F.broadcast(inc_bands), ["band", "bucket"])
            .select("doc_new", "doc_corpus")
            .distinct()
        )
        if own_persist:
            # materialize the (batch-bounded) candidate ids so the
            # returned plan no longer references the band cache
            cands = cands.localCheckpoint()
    finally:
        if own_persist:
            corpus_bands.unpersist()
    toks = lambda df: df.select(  # noqa: E731
        "doc_id", F.array_distinct(F.split(_norm_text(F.col("text")), " ")).alias("toks")
    )
    a = toks(incoming).select(F.col("doc_id").alias("doc_new"), F.col("toks").alias("toks_a"))
    b = toks(corpus).select(F.col("doc_id").alias("doc_corpus"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = round6(
        inter.cast("double") / (F.size("toks_a") + F.size("toks_b") - inter).cast("double")
    )
    return (
        cands.join(a, "doc_new")
        .join(b, "doc_corpus")
        .select("doc_new", "doc_corpus", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def token_jaccard_pairs_prefix(
    docs: DataFrame,
    threshold: float = 0.95,
    entropy_guard: bool = True,
    min_vocab_ratio: float = 0.5,
) -> DataFrame:
    """Exact Jaccard pairs via prefix filtering (the AllPairs/PPJoin
    family, Bayardo et al., WWW '07) — the exactness-GUARANTEED
    sub-quadratic path next to token_jaccard_pairs_lsh's 1-minus-4e-24
    probabilistic one.

    Order every document's distinct tokens by global rarity (document
    frequency, token as tiebreak). If J(A,B) >= t then the two docs'
    prefixes — the first |X| - ceil(t|X|) + 1 tokens of each — must
    share at least one token (removing a prefix-disjoint doc's whole
    prefix still can't push the overlap above t). So: join prefixes on
    token, verify candidates exactly. Zero false negatives by theorem,
    not by signature-collision odds.

    Scale shape: df aggregate (map-side combined) -> per-doc rank
    window (shuffle on doc_id; rows are (doc_id, tok, df) triples) ->
    prefix explode -> self-join keyed on the RAREST tokens of each doc,
    which is exactly the anti-skew choice (a stopword never enters a
    prefix unless a doc consists of stopwords). Caveat measured on the
    synthetic low-entropy corpus (31-token vocabulary): when every
    token is common, prefixes degenerate toward all-pairs — on real
    Zipfian text the prefix join keys are the distribution's long tail.
    The exact verify reuses the array_intersect expression shared with
    the LSH path, so all three formulations are value-identical.

    entropy_guard (default on) turns that caveat into a refusal instead
    of a silent quadratic run: before the candidate join, one cheap
    aggregate over the (already-needed) document-frequency frame checks
    vocabulary size against min_vocab_ratio x n_docs — when every token
    is common (vocab far smaller than the corpus), prefixes stop
    pruning and the join degenerates toward all-pairs, so the call
    raises and points at token_jaccard_pairs_lsh (banded + capped, the
    path built for low-entropy corpora). Pass entropy_guard=False only
    when exactness on a known-small degenerate corpus is the point."""
    from pyspark.sql.window import Window

    toks = docs.select(
        "doc_id", F.array_distinct(F.split(_norm_text(F.col("text")), " ")).alias("toks")
    )
    exploded = toks.select("doc_id", F.explode("toks").alias("tok"))
    df_tok = exploded.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    if entropy_guard:
        stats = df_tok.agg(F.count(F.lit(1)).alias("vocab")).collect()[0]
        n_docs = docs.count()
        if n_docs > 1 and stats["vocab"] < min_vocab_ratio * n_docs:
            raise ValueError(
                f"token_jaccard_pairs_prefix: vocabulary of {stats['vocab']} distinct "
                f"tokens across {n_docs} docs (< {min_vocab_ratio} x n_docs) — prefix "
                "filtering cannot prune a low-entropy corpus and the candidate join "
                "degenerates toward all-pairs. Use token_jaccard_pairs_lsh (banded "
                "MinHash + exact verify) for this corpus, or pass "
                "entropy_guard=False to force the exact path."
            )
    ranked = (
        exploded.join(df_tok, "tok")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.col("df"), F.col("tok"))
            ),
        )
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )
    # round before ceil: t*n computed in floats can land a hair ABOVE a
    # mathematically-integral product (0.7*10 -> 7.000000000000001),
    # which would ceil one higher, shorten the prefix, and break the
    # no-false-negative guarantee
    prefix = ranked.where(
        F.col("rn")
        <= F.col("n") - F.ceil(F.round(F.lit(threshold) * F.col("n"), 9)) + 1
    ).select("doc_id", "tok")
    cands = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    a = toks.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    b = toks.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = round6(
        inter.cast("double")
        / (F.size("toks_a") + F.size("toks_b") - inter).cast("double")
    )
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_recall_report(
    docs: DataFrame,
    k: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    max_docs: int = 200,
    min_jaccard: float = 0.2,
    n_buckets: int = 5,
    max_bucket_size: int | None = 500,
) -> DataFrame:
    """MinHash-LSH quality audit — knn_recall_report's twin for the
    dedup tier: measured candidate recall per TRUE-Jaccard bucket
    against the banding S-curve an operator tunes (num_perm, bands)
    with.

    Ground truth: exact shingle-set Jaccard over every pair inside a
    deterministic doc sample (doc_id < max_docs), computed from the
    distinct hashed-shingle sets (xxhash64 collisions are negligible
    at audit scale). The LSH side bands the FULL corpus — bucket
    occupancy, the cap, and hot-bucket behavior are the production
    operating point, not a subset artifact — and is then restricted to
    pairs with both ends in the sample.

    One row per Jaccard bucket of width 1/n_buckets starting at the
    bucket containing min_jaccard:

      bucket_lo       inclusive lower edge (jaccard 1.0 joins the top)
      n_true_pairs    exact pairs in the bucket
      n_caught        of those, surfaced as LSH candidates
      recall          n_caught / n_true_pairs
      expected_recall mean over the bucket of 1 - (1 - J^r)^b, the
                      banding hit probability at r = num_perm/bands

    A measured recall sitting far under expected at mid-J flags a cap
    dropping honest buckets; expected itself shows where the S-curve
    cuts for the chosen (r, b). Audit cost: one banding pass over the
    corpus plus sample-bounded pair joins (max_docs^2/2 rows) — rows-
    only by design (the seeded xxhash64 permutations have no SQL twin)."""
    rows_per_band = num_perm // bands
    if rows_per_band * bands != num_perm:
        raise ValueError(
            f"minhash_recall_report: bands={bands} must divide num_perm={num_perm}"
        )
    sample = docs.where(F.col("doc_id") < max_docs)
    sets_ = (
        shingles(sample, k=k)
        .distinct()
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sh"))
    )
    a = sets_.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sets_.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter).cast("double")
    truth = (
        a.join(F.broadcast(b), F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= min_jaccard)
    )
    cand = (
        lsh_candidate_pairs(
            minhash_signatures(docs, num_perm=num_perm, k=k),
            bands=bands,
            rows_per_band=rows_per_band,
            max_bucket_size=max_bucket_size,
        )
        .where((F.col("doc_a") < max_docs) & (F.col("doc_b") < max_docs))
        .withColumn("caught", F.lit(1))
    )
    scored = truth.join(cand, ["doc_a", "doc_b"], "left")
    bucket_lo = (
        F.least(F.floor(F.col("jaccard") * n_buckets), F.lit(n_buckets - 1))
        / F.lit(float(n_buckets))
    )
    hit_p = F.lit(1.0) - F.pow(
        F.lit(1.0) - F.pow(F.col("jaccard"), F.lit(float(rows_per_band))),
        F.lit(float(bands)),
    )
    return (
        scored.select(
            bucket_lo.alias("bucket_lo"),
            F.coalesce("caught", F.lit(0)).alias("caught"),
            hit_p.alias("hit_p"),
        )
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            F.sum("caught").alias("n_caught"),
            round6(F.avg(F.col("caught").cast("double"))).alias("recall"),
            round6(F.avg("hit_p")).alias("expected_recall"),
        )
        .orderBy("bucket_lo")
    )


def source_overlap_matrix(
    docs: DataFrame, n: int = 8, max_sources_per_gram: int = 64
) -> DataFrame:
    """Cross-source n-gram overlap matrix: for each source pair, how
    many DISTINCT n-token grams the two share — the "which corpora
    copy from which" audit run before mixing sources (e.g. successive
    CommonCrawl snapshots overlap heavily; a mixing plan that ignores
    it double-counts the shared text). Symmetric; emitted once per
    pair with src_a < src_b.

    Plan shape: distinct (gram-hash, source) via a map-side-combined
    agg (shuffle bounded by distinct grams, never gram occurrences),
    then grams are folded to their source SET (bounded by the source
    count) and pairs explode combinationally from sets of size >= 2 —
    only grams that actually cross sources survive to the pair stage,
    so the explode is sized by the overlap, not the corpus. Grams in
    more than max_sources_per_gram sources (stopword-grams at corpus
    scale: C(s,2) pairs each) are dropped FAIL-LOUD via the
    dropped_grams accounting row (source='__dropped_grams__') rather
    than silently, mirroring lsh_dropped_buckets."""
    from .curation import _gram_rows
    from ..functions.partitioning import fan_out_scan

    # r16: fan the raw text out before the 8-gram assembly — the
    # tokenize + md5 + (gh, source) partial agg otherwise ran 1.03 s of
    # this 1.48 s query on ONE local scan task (timeline-measured).
    # Isolated A/B: 1.478 -> 1.038 s at matched sentinels. The same
    # move measured WORSE on the decontaminate family (1.38 -> 1.70 s:
    # their distinct's map-side partial already bounds the following
    # exchange) and is NOT applied there. No-op at real scan widths.
    grams = (
        _gram_rows(fan_out_scan(docs.select("source", "text")), n, id_col="source")
        .select(F.md5("gram").alias("gh"), "source")
        .groupBy("gh", "source")
        .agg(F.lit(1).alias("_one"))
        .groupBy("gh")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .where(F.size("srcs") >= 2)
    )
    kept = grams.where(F.size("srcs") <= max_sources_per_gram)
    dropped = grams.where(F.size("srcs") > max_sources_per_gram).agg(
        F.count(F.lit(1)).alias("shared_grams")
    )
    pairs = kept.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.slice("srcs", 1, F.size("srcs") - 1),
                    lambda a, i: F.transform(
                        F.slice("srcs", i + 2, F.size("srcs")),
                        lambda b: F.struct(a.alias("src_a"), b.alias("src_b")),
                    ),
                )
            )
        ).alias("p")
    )
    matrix = pairs.groupBy(
        F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b")
    ).agg(F.count(F.lit(1)).alias("shared_grams"))
    audit = dropped.where(F.col("shared_grams") > 0).select(
        F.lit("__dropped_grams__").alias("src_a"),
        F.lit("__dropped_grams__").alias("src_b"),
        "shared_grams",
    )
    return matrix.unionByName(audit)


def lsh_band_planner(
    spark,
    num_perm: int = 64,
    threshold: float = 0.8,
    grid: int = 100,
) -> DataFrame:
    """MinHash-LSH banding planner: for every (bands, rows_per_band)
    factorization of num_perm, the S-curve's false-positive and
    false-negative mass around the target Jaccard threshold —
    fp = mean of P(candidate | J) over J < t, fn = mean of
    1 - P(candidate | J) over J >= t, P = 1 - (1 - J^r)^b (Leskovec
    et al., MMDS ch.3) — plus the curve midpoint (1/b)^(1/r). The
    table an operator reads to pick banding BEFORE paying a corpus
    pass; minhash_recall_report then audits the chosen banding against
    measured recall.

    Pure closed-form arithmetic on a generated (factorization x J-grid)
    frame — no input tables, executes in milliseconds anywhere; grid
    midpoint sampling ((i+0.5)/grid) keeps both integrand endpoints
    finite and the Riemann sums engine-portable at 6 decimals."""
    if num_perm <= 0:
        raise ValueError(f"lsh_band_planner: num_perm must be > 0, got {num_perm}")
    if not (0.0 < threshold < 1.0):
        raise ValueError(f"lsh_band_planner: threshold must be in (0,1), got {threshold}")
    facts = spark.range(1, num_perm + 1).where(
        F.lit(num_perm) % F.col("id") == 0
    ).select(
        F.col("id").cast("int").alias("bands"),
        (F.lit(num_perm) / F.col("id")).cast("int").alias("rows_per_band"),
    )
    pts = spark.range(grid).select(
        ((F.col("id").cast("double") + 0.5) / F.lit(float(grid))).alias("j")
    )
    t = float(threshold)
    p_cand = 1.0 - F.pow(
        1.0 - F.pow(F.col("j"), F.col("rows_per_band").cast("double")),
        F.col("bands").cast("double"),
    )
    g = float(grid)
    return (
        facts.crossJoin(pts)
        .groupBy("bands", "rows_per_band")
        .agg(
            round6(
                F.sum(F.when(F.col("j") < t, p_cand).otherwise(F.lit(0.0))) / F.lit(g)
            ).alias("fp_mass"),
            round6(
                F.sum(F.when(F.col("j") >= t, 1.0 - p_cand).otherwise(F.lit(0.0)))
                / F.lit(g)
            ).alias("fn_mass"),
        )
        .select(
            "bands",
            "rows_per_band",
            "fp_mass",
            "fn_mass",
            round6(F.col("fp_mass") + F.col("fn_mass")).alias("total_err"),
            round6(
                F.pow(
                    1.0 / F.col("bands").cast("double"),
                    1.0 / F.col("rows_per_band").cast("double"),
                )
            ).alias("midpoint_j"),
        )
    )


def minhash_precision_report(
    docs: DataFrame,
    k: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    max_docs: int = 200,
    threshold: float = 0.5,
    n_buckets: int = 5,
    max_bucket_size: int | None = 500,
) -> DataFrame:
    """The PRECISION half of the MinHash-LSH audit —
    minhash_recall_report's complement: of the candidate pairs the
    banding surfaces, how many are TRUE near-dups at the target
    Jaccard threshold, bucketed by the signature's own Jaccard
    ESTIMATE. Recall says what the banding misses; precision prices
    the exact-verify stage (a low-precision banding wastes its
    verify budget on false candidates — the knob is bands/rows, and
    this table shows where the estimate decile turns junk).

    Same sampling frame as the recall twin: LSH bands the FULL corpus
    (production bucket occupancy), candidates are then restricted to
    the deterministic doc_id < max_docs sample where exact shingle-set
    Jaccard is affordable. One row per estimate bucket:

      bucket_lo    inclusive lower edge of the estimate bucket
      n_candidates candidate pairs whose estimate lands here
      n_true       of those, exact Jaccard >= threshold
      precision    n_true / n_candidates
      mean_true_j  mean exact Jaccard of the bucket's candidates

    Rows-only by design (seeded xxhash64 permutations have no SQL
    twin); the planted-corpus pytest pins the monotone shape."""
    rows_per_band = num_perm // bands
    if rows_per_band * bands != num_perm:
        raise ValueError(
            f"minhash_precision_report: bands={bands} must divide num_perm={num_perm}"
        )
    sigs = minhash_signatures(docs, num_perm=num_perm, k=k)
    cand = (
        lsh_candidate_pairs(
            sigs,
            bands=bands,
            rows_per_band=rows_per_band,
            max_bucket_size=max_bucket_size,
        )
        .where((F.col("doc_a") < max_docs) & (F.col("doc_b") < max_docs))
        .select("doc_a", "doc_b")
        .distinct()
    )
    est = minhash_jaccard_estimate(sigs, cand)
    sample = docs.where(F.col("doc_id") < max_docs)
    sets_ = (
        shingles(sample, k=k)
        .distinct()
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sh"))
    )
    withsets = (
        est.join(
            sets_.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            sets_.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
            "doc_b",
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter).cast("double")
    bucket_lo = (
        F.least(F.floor(F.col("est_jaccard") * n_buckets), F.lit(n_buckets - 1))
        / F.lit(float(n_buckets))
    )
    return (
        withsets.select(
            bucket_lo.alias("bucket_lo"),
            jac.alias("true_j"),
        )
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum((F.col("true_j") >= threshold).cast("long")).alias("n_true"),
            round6(F.avg((F.col("true_j") >= threshold).cast("double"))).alias(
                "precision"
            ),
            round6(F.avg("true_j")).alias("mean_true_j"),
        )
        .orderBy("bucket_lo")
    )


def dedup_impact_by_source(docs: DataFrame) -> DataFrame:
    """Per-source exact-dedup impact: how many documents (and how much
    token mass) each source LOSES under keep-min-doc_id exact dedup —
    the table that names the redundant sources in a mixture (a source
    whose mass is mostly removed duplicates contributes storage cost,
    not signal; CommonCrawl snapshot N+1 against snapshot N is the
    canonical case). Keeper attribution is exact_dedup's rule (global
    min doc_id per normalized digest), so impact here always sums to
    exactly what exact_dedup would drop.

    Plan shape: one scan computes (digest, source, token count); the
    keeper resolves in ONE digest-keyed partial agg (wide text pruned
    before the exchange, as in exact_dedup); a broadcast-back join
    marks losers and the source rollup is map-side combined."""
    from .text import tokens_col

    nt = F.when(F.col("text").isNull(), F.lit(0)).otherwise(F.size(tokens_col()))
    sig = docs.select(
        F.md5(_norm_text(F.col("text"))).alias("digest"),
        "doc_id",
        "source",
        nt.cast("long").alias("nt"),
    )
    keep = sig.groupBy("digest").agg(F.min("doc_id").alias("_keep"))
    marked = sig.join(keep, "digest").select(
        "source",
        "nt",
        (F.col("doc_id") != F.col("_keep")).cast("long").alias("removed"),
    )
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("removed").alias("n_removed"),
        F.sum(F.col("removed") * F.col("nt")).alias("tokens_removed"),
        round6(
            F.sum("removed").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("frac_docs_removed"),
    )
