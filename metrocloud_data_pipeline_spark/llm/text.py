"""Text-analysis operators for a training-data pipeline.

All hot-path logic is built-in column expressions (JVM, codegen) — no
Python UDFs — so each op is a single scan at 100 TB:

- tokenize / token_stats: whitespace tokenization + counts.
- quality_score: length/diversity heuristics (type-token ratio).
- language_id: n-gram/stopword-overlap heuristic vs small per-language
  profiles (broadcast join; returns best-scoring language).
- fingerprint: deterministic document fingerprint (md5 of normalized
  prefix + length bucket) for cheap near-exact clustering.

The text tier's tokenizer rules live here once, and llm/curation.py and
llm/dedup.py use them:
- norm_text: lowercase, trim, collapse whitespace runs to one space —
  the normalized form every gram, digest and token-set key reads;
- _zip_grams: the gram assembly (zip shifted slices of a token array,
  join each position's tokens);
- _gram_rows / _tagged_gram_rows: the (id, gram) and (id, n, gram)
  occurrence rows over normalized text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import round6
from ..functions.partitioning import fan_out_scan

_WS = r"\s+"


def norm_text(c: F.Column) -> F.Column:
    """Lowercased, trimmed text with each whitespace run collapsed to one
    space. `trim` strips spaces only, so a leading tab or trailing
    newline survives as one edge space."""
    return F.regexp_replace(F.lower(F.trim(c)), _WS, " ")


def tokens_col(text=None) -> F.Column:
    """Whitespace tokens of trimmed text (empty text -> empty array)."""
    trimmed = F.trim(F.col("text") if text is None else text)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, _WS)
    )


def _zip_grams(
    toks: F.Column, ns: tuple, sep: str = " ", whole: bool = False
) -> tuple[F.Column, list[F.Column]]:
    """The gram assembly: arrays_zip of max(ns) shifted slices of the
    token array `toks`, one struct per start position p of a complete
    min(ns)-gram. Field t{j} is token p+j, null past the end (arrays_zip
    pads the shorter slices). With `whole`, an array shorter than
    min(ns) still gives position 0, so its whole text is one gram.

    Returns (zipped, grams): explode or posexplode `zipped` as `g`;
    grams[i] joins the first ns[i] tokens of g with `sep` (concat_ws
    skips the nulls). A narrow projection inside codegen: no shuffle and
    no per-document sort, where the lead()-window form it replaced
    shuffled and sorted by document before a single gram existed
    (1.5-1.7x at sf0.1), and 7.5x+ over transform() lambdas, which
    evaluate interpreted, per element."""
    m = F.greatest(F.size(toks) - (min(ns) - 1), F.lit(1 if whole else 0))
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, m).alias(f"t{j}") for j in range(max(ns))])
    return zipped, [F.concat_ws(sep, *[F.col(f"g.t{j}") for j in range(n)]) for n in ns]


def _gram_rows(docs: DataFrame, n: int, id_col: str = "doc_id") -> DataFrame:
    """(id, gram) rows, one per gram OCCURRENCE: n consecutive tokens of
    norm_text joined by single spaces — the gram stream of the
    contamination probes, the corpus LMs (bigram_surprisal,
    kn_surprisal) and the per-source panels. Complete grams only: a doc
    shorter than n tokens contributes none (empty text splits to one ""
    token, so it gives a "" unigram). The explode inherits the input's
    split count; callers whose explode feeds an eager checkpoint fan the
    input out first (fan_out_scan)."""
    zipped, (gram,) = _zip_grams(F.col("_toks"), (n,))
    return (
        docs.select(F.col(id_col), F.split(norm_text(F.col("text")), " ").alias("_toks"))
        .select(F.col(id_col), F.explode(zipped).alias("g"))
        .select(F.col(id_col), gram.alias("gram"))
    )


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-document token counts + chars/token ratio."""
    toks = tokens_col()
    return docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(toks).cast("int").alias("token_count"),
        F.size(F.array_distinct(toks)).cast("int").alias("uniq_token_count"),
    ).withColumn(
        "chars_per_token",
        round6(F.col("n_chars").cast("double") / F.col("token_count").cast("double")),
    )


def quality_score(docs: DataFrame, target_chars: float = 400.0) -> DataFrame:
    """Deterministic quality heuristic: length saturation x lexical
    diversity (type-token ratio). Score in [0, 1]."""
    toks = tokens_col()
    n_tok = F.size(toks).cast("double")
    uniq = F.size(F.array_distinct(toks)).cast("double")
    ttr = uniq / n_tok
    length_part = F.least(F.lit(1.0), F.col("n_chars").cast("double") / F.lit(target_chars))
    return docs.select(
        "doc_id",
        "lang",
        F.size(toks).cast("int").alias("token_count"),
        F.size(F.array_distinct(toks)).cast("int").alias("uniq_token_count"),
        round6(ttr).alias("type_token_ratio"),
        round6(length_part * ttr).alias("quality_score"),
    )


# Tiny per-language stopword profiles for the heuristic language-ID.
# Real pipelines plug in fastText/CLD3 via a pandas_udf; the engine-side
# pattern (broadcast profiles + overlap scoring, one scan) is the same.
LANGUAGE_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "you", "that"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "que"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "im", "ein"],
    "zh": ["的", "一", "是", "不", "了", "在", "人", "有", "我", "他"],
}


def language_id(docs: DataFrame) -> DataFrame:
    """Stopword-overlap language ID as ONE map-only expression (r15):
    per language, hits = |distinct doc tokens ∩ profile| via
    array_intersect against literal profile arrays (the profiles are a
    few dozen words — they belong in the plan, not in a joined frame);
    the winner is greatest() over (hits, lang) structs, which is
    bit-identical to the old explode + broadcast-join + two
    aggregations + join-back pipeline: per-language hit counts match
    the distinct-token join counts, the struct order reproduces
    max_by(cand_lang, struct(hits, cand_lang)) (max hits, ties to the
    lexically larger language), and zero-hit docs fall through to
    ('unknown', 0) exactly as the old left join's null did. Zero
    shuffles, zero joins at any scale — the old shape paid two
    doc_id-keyed exchanges plus a corpus join-back."""
    du = F.array_distinct(tokens_col())
    cands = [
        F.struct(
            F.size(
                F.array_intersect(du, F.array(*[F.lit(w) for w in sorted(set(words))]))
            ).cast("long").alias("hits"),
            F.lit(lang).alias("l"),
        )
        for lang, words in LANGUAGE_PROFILES.items()
    ]
    best = F.greatest(*cands) if len(cands) > 1 else cands[0]
    has_hit = best["hits"] > 0
    return docs.select(
        "doc_id",
        "lang",
        F.when(has_hit, best["l"]).otherwise(F.lit("unknown")).alias("predicted_lang"),
        F.when(has_hit, best["hits"]).otherwise(F.lit(0).cast("long")).alias(
            "stopword_hits"
        ),
    )


# GPT-2-style pre-tokenizer pattern, RE2-compatible (no lookahead) so
# the DuckDB oracle twin applies the identical regex: contraction
# suffixes, space-prefixed letter runs, digit runs, punctuation runs.
BPE_SPLIT_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"


def bpe_token_stats(docs: DataFrame) -> DataFrame:
    """Subword-style token counting: whitespace tokens next to a BPE-ish
    regex split (the GPT-2 pre-tokenizer shape). The ratio approximates
    tokens-per-word — a corpus-QA signal for tokenizer cost estimation.
    One scan, regexp_count in codegen, no UDF."""
    ws = F.size(tokens_col())
    bpe = F.regexp_count(F.col("text"), F.lit(BPE_SPLIT_PATTERN))
    return docs.select(
        "doc_id",
        "lang",
        ws.cast("int").alias("ws_token_count"),
        bpe.cast("int").alias("bpe_token_count"),
        round6(bpe.cast("double") / ws.cast("double")).alias("bpe_per_ws_token"),
    )


def fingerprint(docs: DataFrame, prefix_chars: int = 64) -> DataFrame:
    """Cheap document fingerprint: md5 over the whitespace-normalized
    prefix, plus a length bucket — groups trivially-identical docs
    without a full-text compare."""
    return docs.select(
        "doc_id",
        F.md5(F.substring(norm_text(F.col("text")), 1, prefix_chars)).alias("prefix_fp"),
        F.floor(F.col("n_chars") / 100).cast("int").alias("len_bucket"),
    )


def winnow_fingerprints(docs: DataFrame, k: int = 4, w: int = 5) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD '03):
    md5 each k-token gram, slide a w-gram window per document, keep the
    window-minimum hash, emit the distinct (doc_id, fp) set.

    md5 (not xxhash64) so the oracle twin is bit-identical in DuckDB.
    Gram assembly is _zip_grams, posexploded — its pos IS the gram
    position, so the md5 is computed map-side and the only shuffle is
    the window-min's (doc_id, pos) sort over fixed-width hash rows. A
    doc shorter than k tokens emits its whole text as one gram.
    Matching fp overlap between two docs localizes shared passages,
    not just whole-doc similarity."""
    from pyspark.sql.window import Window

    zipped, (gram,) = _zip_grams(F.col("_toks"), (k,), whole=True)
    # r16 measured NEGATIVE, reverted: fanning the text ahead of this
    # explode (the KN/substring move) A/B'd at 1.40 -> 1.67 s on
    # winnow_overlap_pairs and flat on the other two winnow consumers —
    # the ~300 short-string md5s/doc are cheap enough that the
    # round-robin exchange costs what the parallel hashing saves (the
    # window exchange that follows carries every gram row either way,
    # but it is ALSO the stage boundary, so the scan stage was never
    # the whole-query serializer here the way the KN eager checkpoints
    # were).
    gh = (
        docs.select("doc_id", F.split(norm_text(F.col("text")), " ").alias("_toks"))
        .select("doc_id", F.posexplode(zipped).alias("pos", "g"))
        .select("doc_id", "pos", F.md5(gram).alias("gh"))
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    return gh.select("doc_id", F.min("gh").over(win).alias("fp")).distinct()


def tfidf_top_terms(docs: DataFrame, k: int = 5) -> DataFrame:
    """Per-document top-k keywords by smoothed TF-IDF
    (idf = ln((1+N)/(1+df)) + 1, the scikit-learn smoothing so no term
    gets a zero or negative weight).

    Shape at scale: term explode -> (doc_id, term) count (one shuffle,
    map-side combined) -> document-frequency aggregate over the SAME
    frame (vocabulary-sized, map-side combined) -> rejoin on term ->
    per-doc top-k window on doc_id. The df frame is |vocab| rows — far
    smaller than the corpus but not guaranteed broadcastable, so the
    rejoin is a shuffle join on term (AQE skew-split absorbs stopword-
    hot keys; a per-term window would put one stopword's whole posting
    list in a single task, which is why df is NOT a window count). The
    corpus doc count rides in as a broadcast 1-row aggregate over just
    the id column. Ordering uses the ROUNDED score (+ term as tiebreak)
    so ranks are identical cross-engine.

    The tf frame feeds two consumers (the df aggregate and the score
    join) and Spark plans the branches independently — without
    materialization the explode+count subtree executes TWICE and the
    corpus is scanned twice, so tf is checkpointed once — the "write
    the term-frequency table, then derive df from it" step every batch
    TF-IDF pipeline has; at 100 TB that checkpoint is a cluster-store
    write instead of a second corpus pass."""
    from pyspark.sql.window import Window

    terms = docs.select("doc_id", F.explode(tokens_col(F.lower(F.col("text")))).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")).localCheckpoint()
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("_n"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            round6(
                F.col("tf").cast("double")
                * (
                    F.log(
                        (F.lit(1.0) + F.col("_n").cast("double"))
                        / (F.lit(1.0) + F.col("df").cast("double"))
                    )
                    + F.lit(1.0)
                )
            ).alias("tfidf"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return scored.withColumn("rnk", F.row_number().over(win)).where(F.col("rnk") <= k)


def vocab_coverage(docs: DataFrame, top_n: int = 100) -> DataFrame:
    """Corpus vocabulary head: the top_n most frequent terms with their
    share of all token occurrences and the cumulative coverage — the
    standard tokenizer-budget question ("how much of the corpus do the
    first N vocabulary entries cover?").

    Term counting is one map-side-combined aggregate; the top-N pick is
    TakeOrderedAndProject (no global sort of the vocabulary); the
    cumulative window then runs over only top_n rows in a single tiny
    partition. The corpus-total divisor is a broadcast 1-row aggregate
    of the vocabulary frame, not a second corpus scan."""
    from pyspark.sql.window import Window

    # vocabulary-sized and consumed twice (top-N pick + corpus-total
    # divisor): checkpoint so the corpus explode provably runs once —
    # same rationale as tfidf's tf materialization (exchange reuse is
    # best-effort, not contractual)
    counts = (
        docs.select(F.explode(tokens_col(F.lower(F.col("text")))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("term_count"))
        .localCheckpoint()
    )
    total = counts.select(F.sum("term_count").alias("_total"))
    head = counts.orderBy(F.col("term_count").desc(), F.col("term")).limit(top_n)
    order_win = Window.orderBy(F.col("term_count").desc(), F.col("term"))
    win = order_win.rowsBetween(Window.unboundedPreceding, 0)
    return (
        head.crossJoin(F.broadcast(total))
        .withColumn("rnk", F.row_number().over(order_win))
        .select(
            "rnk",
            "term",
            "term_count",
            round6(F.col("term_count").cast("double") / F.col("_total").cast("double")).alias(
                "share"
            ),
            round6(
                F.sum("term_count").over(win).cast("double") / F.col("_total").cast("double")
            ).alias("cum_share"),
        )
    )


def unigram_surprisal(docs: DataFrame) -> DataFrame:
    """Per-document mean unigram surprisal in bits/token — the language-
    model quality signal (CCNet-style): documents whose words are
    globally rare score high; boilerplate scores low. The "LM" is the
    corpus's own unigram distribution, so the score is fully
    deterministic and oracle-checkable (no trained artifact).

    surprisal(doc) = -mean over tokens of log2 p(term),
    p(term) = corpus_count(term) / corpus_tokens.

    Derived entirely from the (doc_id, term, tf) frame: term totals and
    the corpus total aggregate from tf (map-side combined), then one
    shuffle rejoin on term and a per-doc aggregate. tf is checkpointed
    once (shared by the probability and scoring branches — same
    rationale as tfidf_top_terms)."""
    terms = docs.select("doc_id", F.explode(tokens_col(F.lower(F.col("text")))).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")).localCheckpoint()
    term_counts = tf.groupBy("term").agg(F.sum("tf").alias("term_count"))
    total = term_counts.select(F.sum("term_count").alias("_total"))
    ln2 = 0.6931471805599453
    return (
        tf.join(term_counts, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("token_count"),
            round6(
                -F.sum(
                    F.col("tf").cast("double")
                    * F.log(
                        F.col("term_count").cast("double") / F.col("_total").cast("double")
                    )
                )
                / F.sum("tf").cast("double")
                / F.lit(ln2)
            ).alias("bits_per_token"),
        )
    )


def winnow_overlap_pairs(
    docs: DataFrame,
    min_shared: int = 5,
    k: int = 4,
    w: int = 5,
    max_fp_docs: int | None = 500,
) -> DataFrame:
    """Shared-passage detection: pairs of documents sharing at least
    min_shared winnowing fingerprints — the plagiarism/quote/boilerplate
    relationship whole-document similarity misses (a long doc quoting a
    paragraph of another scores near-zero Jaccard but lights up here;
    Schleimer et al.'s original MOSS use case).

    Plan: the distinct (doc_id, fp) set self-joins on fp — sub-quadratic
    while fingerprints stay selective. max_fp_docs is the hot-key guard
    (same boilerplate economics as the LSH bucket cap, same explicit
    trade-off: a fingerprint occurring in more docs than the cap is
    boilerplate, not a passage worth attributing, and one such fp in a
    million docs would alone emit 5e11 pairs). The fp frame is
    checkpointed: three consumers (both join sides + the cap guard),
    one corpus pass."""
    fps = winnow_fingerprints(docs, k=k, w=w).localCheckpoint()
    if max_fp_docs is not None:
        hot = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_fp_docs)
        )
        fps = fps.join(F.broadcast(hot), "fp", "left_anti")
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )


def substring_dup_spans(docs: DataFrame, min_tokens: int = 50) -> DataFrame:
    """Exact-substring deduplication with EXCISE SPANS (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better",
    ExactSubstr): per document, the maximal token ranges covered by
    some >= min_tokens-token substring that occurs MORE THAN ONCE in
    the corpus (cross-doc or self-repeat, the paper's definition) —
    the ranges a training pipeline excises, where
    winnow_overlap_pairs only names the document PAIRS that share
    passages.

    The paper builds a corpus suffix array; the equivalent distributed
    decomposition: a token is inside a duplicated >=L substring iff it
    is covered by a duplicated L-gram (every window of a longer dup is
    itself a dup, and any dup L-gram is itself a qualifying
    substring), so dup-marking L-grams and UNIONING their [pos,
    pos+L-1] intervals reproduces the paper's excise set exactly — no
    suffix array, three shuffles, all linear in corpus tokens:

      1. gram assembly is _zip_grams (narrow, codegen, md5 map-side);
         docs shorter than L emit nothing (a doc that short cannot
         contain a >=L dup);
      2. dup marking: count per gram hash (map-side partial combine
         collapses boilerplate hot keys before the exchange), then a
         left-semi join of positions against the >=2 hashes (AQE
         splits skewed hashes);
      3. interval union per doc: fixed-length intervals sorted by pos
         merge iff next_pos - prev_pos <= L, so one lag + running-sum
         window (the gaps-and-islands shape w4 sessions use) emits
         maximal spans.

    Output: (doc_id, span_start, span_end, n_tokens, dup_group) in
    TOKEN offsets of the whitespace-normalized document; dup_group =
    md5 of the span's text, so byte-identical excised passages share a
    group id corpus-wide. The span-text lookup joins the span list
    (dup-sized, small) back to the token arrays — broadcast-able
    whenever dup coverage is sparse, AQE decides. Unlike the banded
    near-dup paths there is NO quadratic anywhere: every stage is
    bounded by the corpus gram count."""
    from pyspark.sql.window import Window

    L = int(min_tokens)
    if L < 2:
        raise ValueError(f"substring_dup_spans: min_tokens must be >= 2, got {L}")
    # r16: fan the raw text out before tokenization — the eager token
    # checkpoint otherwise materializes at the scan's width (ONE local
    # task), serializing the tokenize AND pinning the gram assembly +
    # md5 that read the checkpoint to that width. No-op at scale.
    toks = (
        fan_out_scan(docs.select("doc_id", "text"))
        .select("doc_id", F.split(norm_text(F.col("text")), " ").alias("_toks"))
        .where(F.size("_toks") >= L)
        .localCheckpoint()  # two consumers: gram assembly + span-text lookup
    )
    zipped, (gram,) = _zip_grams(F.col("_toks"), (L,))
    grams = (
        toks.select("doc_id", F.posexplode(zipped).alias("pos", "g"))
        .select("doc_id", F.col("pos").cast("long").alias("pos"), F.md5(gram).alias("gh"))
    )
    dup = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("_n")).where(F.col("_n") >= 2)
    dup_pos = grams.join(dup.select("gh"), "gh", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = dup_pos.withColumn(
        "_new",
        F.when(F.col("pos") - F.lag("pos").over(w) <= L, F.lit(0)).otherwise(F.lit(1)),
    ).withColumn("_island", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    spans = islands.groupBy("doc_id", "_island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(L - 1)).alias("span_end"),
    )
    return (
        toks.join(spans, "doc_id")
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("n_tokens"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.slice(
                        F.col("_toks"),
                        (F.col("span_start") + 1).cast("int"),
                        (F.col("span_end") - F.col("span_start") + 1).cast("int"),
                    ),
                )
            ).alias("dup_group"),
        )
    )


def excise_dup_spans(
    docs: DataFrame, min_tokens: int = 50, spans: DataFrame | None = None
) -> DataFrame:
    """APPLY ExactSubstr dedup (Lee et al. 2022): return the corpus
    with every duplicated >= min_tokens-token span REMOVED — the
    cleaned training text, where substring_dup_spans only reports the
    ranges. Text is emitted in the same normalized form the spans were
    computed over (lowercased, whitespace-collapsed) so offsets are
    exact by construction — which is also what the paper's pipeline
    trains on.

    Plan: spans collapse to one (doc_id, [span...]) row per affected
    doc (dup-bounded, small) and LEFT-join the token arrays; removal
    is a per-token codegen filter against the doc's own span list
    (spans per doc are few — islands are maximal and non-overlapping,
    so the exists() probe is O(spans) per token with no explode and no
    second shuffle). Unaffected docs pass through untouched. Pass a
    precomputed `spans` frame to reuse one substring_dup_spans pass
    across report + excise.

    Returns (doc_id, clean_text, n_tokens_removed)."""
    if spans is None:
        spans = substring_dup_spans(docs, min_tokens=min_tokens)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans"),
        F.sum("n_tokens").cast("long").alias("n_tokens_removed"),
    )
    toks = docs.select("doc_id", F.split(norm_text(F.col("text")), " ").alias("_toks"))
    kept = F.when(F.col("_spans").isNull(), F.col("_toks")).otherwise(
        F.filter(
            "_toks",
            lambda t, i: ~F.exists(
                "_spans",
                lambda s: (i >= s.getField("span_start"))
                & (i <= s.getField("span_end")),
            ),
        )
    )
    return toks.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.concat_ws(" ", kept).alias("clean_text"),
        F.coalesce("n_tokens_removed", F.lit(0)).alias("n_tokens_removed"),
    )


def token_count_histogram(docs: DataFrame, width: int = 50) -> DataFrame:
    """Fixed-width histogram of per-document token counts — the
    length-distribution panel behind packing (seq_pack_summary) and
    truncation decisions: pick max_seq_len / pack bin sizes from the
    actual mass, not a guess.

    One scan into a histogram-bin-sized aggregate (map-side combined);
    bins are floor(token_count / width), reported with their bounds and
    doc/token mass. Empty-text docs count as zero-token rows in bin 0."""
    toks = tokens_col()
    binned = docs.select(
        (F.floor(F.size(toks) / F.lit(width))).cast("long").alias("bin"),
        F.size(toks).cast("long").alias("_n_tok"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n_tok").alias("total_tokens"),
            F.min("_n_tok").alias("min_tokens"),
            F.max("_n_tok").alias("max_tokens"),
        )
        .select(
            "bin",
            (F.col("bin") * width).alias("bin_lo"),
            ((F.col("bin") + 1) * width - 1).alias("bin_hi"),
            "n_docs",
            "total_tokens",
            "min_tokens",
            "max_tokens",
        )
    )


def bigram_surprisal(docs: DataFrame) -> DataFrame:
    """Per-document mean BIGRAM surprisal in bits — the next step up
    from unigram_surprisal's bag-of-words LM: repetitive/templated text
    whose word PAIRS are globally common scores low even when its
    individual words are rare, which is exactly the boilerplate the
    unigram filter misses. The LM is the corpus's own MLE bigram model
    P(t|p) = c(p,t) / c(p,·), so the score is deterministic and
    oracle-checkable (no trained artifact).

    Pipeline: bigrams come from _gram_rows (no window over positions)
    over the fanned-out text, explode once; the (doc, bigram, prev)
    frame is checkpointed and feeds BOTH count aggregates and the
    scoring join — one pass over the text, two map-side-combined
    aggregates, one shuffle rejoin. Hot contexts (stopwords) are the
    skew; AQE splits them — same posture as tfidf's term join. Docs
    with < 2 tokens emit no row (no bigram to score)."""
    rows = (
        _gram_rows(fan_out_scan(docs.select("doc_id", "text")), 2)
        .withColumn("prev", F.substring_index("gram", " ", 1))
        .localCheckpoint()
    )
    c2 = rows.groupBy("gram").agg(F.count(F.lit(1)).alias("cb"))
    c1 = rows.groupBy("prev").agg(F.count(F.lit(1)).alias("cp"))
    ln2 = 0.6931471805599453
    return (
        rows.join(c2, "gram")
        .join(c1, "prev")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("bigram_count"),
            round6(
                -F.sum(F.log(F.col("cb").cast("double") / F.col("cp").cast("double")))
                / F.count(F.lit(1)).cast("double")
                / F.lit(ln2)
            ).alias("bits_per_bigram"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Token-window document chunking — the retrieval/embedding prep
    step every RAG or long-context pipeline runs before embedding: each
    doc is cut into windows of `chunk_tokens` whitespace tokens whose
    starts advance by `chunk_tokens - overlap`, so consecutive chunks
    share `overlap` tokens of context and no token is lost. The final
    window may be short; a doc shorter than one window yields exactly
    one chunk; empty docs yield none.

    Pure codegen, one scan, no shuffle: chunk starts come from
    sequence() over the token count, the window text from slice() +
    array_join — the same executor-side grid-explode shape as
    gapfill's calendar. Chunk ids are deterministic (start-ordered), so
    a re-run or an incremental re-chunk of changed docs produces
    identical rows — the property the downstream embedding cache keys
    on. Returns (doc_id, chunk_id, n_tokens, chunk_text)."""
    if chunk_tokens <= 0 or not (0 <= overlap < chunk_tokens):
        raise ValueError(
            "chunk_documents: need chunk_tokens > 0 and 0 <= overlap < "
            "chunk_tokens — any other combination silently loses tokens"
        )
    step = chunk_tokens - overlap
    n = F.size(F.col("_toks"))
    # starts: 0, step, 2*step, ... covering every token (the last
    # window may be short); one window for any non-empty doc
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.ceil((n - F.lit(chunk_tokens)) / F.lit(step)), F.lit(0)).cast("long") * step,
        F.lit(step),
    )
    return (
        docs.select("doc_id", tokens_col().alias("_toks"))
        .where(F.size("_toks") > 0)
        .select("doc_id", "_toks", F.explode(starts).alias("_start"))
        .select(
            "doc_id",
            (F.col("_start") / step).cast("int").alias("chunk_id"),
            F.least(
                F.lit(chunk_tokens), F.size("_toks") - F.col("_start")
            ).cast("int").alias("n_tokens"),
            F.array_join(
                F.slice("_toks", F.col("_start") + 1, F.lit(chunk_tokens)), " "
            ).alias("chunk_text"),
        )
    )


def _syms_col() -> F.Column:
    """Character symbols of `word` plus the '</w>' end marker — the
    initial BPE symbol sequence, shared by training and encoding so
    the two can never disagree on the alphabet."""
    chars = F.filter(F.split(F.col("word"), ""), lambda c: c != F.lit(""))
    return F.concat(chars, F.array(F.lit("</w>")))


def _merge_pair(syms, a: str, b: str) -> list:
    """Greedy left-to-right single-pair merge — THE merge semantics of
    BPE, shared by training's apply step and encoding's replay so the
    two can never diverge (a disagreement would silently skew segment
    counts)."""
    ab = a + b
    res = []
    i = 0
    L = len(syms)
    while i < L:
        if i + 1 < L and syms[i] == a and syms[i + 1] == b:
            res.append(ab)
            i += 2
        else:
            res.append(syms[i])
            i += 1
    return res


def bpe_word_state(docs: DataFrame) -> DataFrame:
    """The word-frequency dictionary BPE trains on: (word, count, syms)
    with each word split into character symbols plus a word-end marker
    (Sennrich's '</w>'). This is the key scale property of classic BPE
    training — every round operates on the DISTINCT-word state (vocab-
    sized), never the raw corpus; the corpus is scanned exactly once,
    here."""
    words = (
        docs.select(F.explode(tokens_col()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    return words.select("word", "count", _syms_col().alias("syms"))


def bpe_train_merges(
    docs: DataFrame, n_merges: int = 16, min_count: int = 2
):
    """Byte-pair-encoding merge training (Sennrich et al. 2016) at
    corpus scale — the tokenizer-training step of a pretraining
    pipeline, run distributed: each round counts all adjacent symbol
    pairs across the word dictionary (weighted by word frequency,
    map-side-combined JVM aggregate), takes the most frequent pair to
    the driver (1 row; ties break lexicographically so training is
    bit-deterministic), and rewrites the vocab-sized state with the
    pair merged (one Arrow pass against the broadcast pair). Stops
    early when no pair reaches min_count — the standard termination.

    Scale shape: the corpus is scanned ONCE (bpe_word_state); every
    round after that touches only the distinct-word state, checkpointed
    per round to keep lineage flat. Driver traffic is 1 row per round.
    This is the map-reduce formulation HF/sentencepiece-style trainers
    use for the count step, with the merge-apply kept distributed too.

    Returns (merges, state): merges = [(rank, left, right, pair_count)],
    state = the final (word, count, syms) frame — the trained
    segmentation of every corpus word."""
    import pandas as pd

    state = bpe_word_state(docs).localCheckpoint(eager=True)
    sc = docs.sparkSession.sparkContext
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        m = F.size("syms") - 1
        pairs = (
            state.where(F.size("syms") >= 2)
            .select(
                "count",
                F.explode(
                    F.zip_with(
                        F.slice("syms", 1, F.greatest(m, F.lit(0))),
                        F.slice("syms", 2, F.greatest(m, F.lit(0))),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
            )
            .groupBy("p")
            .agg(F.sum("count").alias("n"))
            .orderBy(F.desc("n"), F.asc("p.l"), F.asc("p.r"))
            .limit(1)
            .collect()
        )
        if not pairs or pairs[0]["n"] < min_count:
            break
        left, right, n = pairs[0]["p"]["l"], pairs[0]["p"]["r"], pairs[0]["n"]
        merges.append((rank, left, right, int(n)))
        bc = sc.broadcast((left, right))

        def apply_merge(batches):
            a, b = bc.value
            for pdf in batches:
                out = [_merge_pair(list(syms), a, b) for syms in pdf["syms"].values]
                yield pd.DataFrame(
                    {"word": pdf["word"], "count": pdf["count"], "syms": out}
                )

        state = state.mapInPandas(
            apply_merge, "word string, count long, syms array<string>"
        ).localCheckpoint(eager=True)
        # the EAGER checkpoint above is load-bearing twice over: it is
        # what lets bc be destroyed here (a lazy plan would read a dead
        # broadcast), AND what pins this round's (a, b) before bc is
        # rebound next round. Destroying frees executor memory that
        # would otherwise accumulate one broadcast per merge round.
        bc.destroy()
    return merges, state


def bpe_fingerprint(merges) -> str:
    """Deterministic fingerprint of a trained BPE merge list — sha256
    over the exact (rank, left, right, pair_count) sequence, field- and
    record-delimited so no two distinct lists collide by concatenation.
    The tokenizer is part of the dataset contract: retokenizing a
    corpus with merges that differ from the ones its token counts were
    computed with silently skews every downstream length/packing
    decision, so persistence carries this fingerprint and reload
    re-verifies it (the quantizer_fingerprint pattern from the ANN
    index, similarity.py)."""
    import hashlib

    h = hashlib.sha256()
    for rank, left, right, n in merges:
        h.update(f"{rank}\x1f{left}\x1f{right}\x1f{n}\x1e".encode("utf-8"))
    return h.hexdigest()


def persist_bpe_merges(spark, table_name: str, merges) -> str:
    """Write trained BPE merges (bpe_train_merges output) as a tiny
    catalog table (rank, left, right, pair_count, fp) — train once at
    corpus build, encode forever: the merge list is part of the corpus
    artifact, not a per-session value. Strings and int64 round-trip
    parquet exactly, so the fingerprint re-verifies bit-for-bit on
    reload. Returns the fingerprint."""
    if not merges:
        raise ValueError(
            "persist_bpe_merges: refusing to persist an empty merge list — "
            "training stopped before its first merge (min_count never "
            "reached); an empty tokenizer table could not be re-verified"
        )
    from ..operators.maintenance import _fs_delete

    fp = bpe_fingerprint(merges)
    rows = [(int(r), left, right, int(n), fp) for r, left, right, n in merges]
    # a previous session may have left the managed location behind
    # without a catalog entry (saveAsTable then refuses the name even
    # in overwrite mode) — drop both the entry and any orphan dir
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    wh = spark.conf.get("spark.sql.warehouse.dir")
    _fs_delete(f"{wh.rstrip('/')}/{table_name.lower()}")
    spark.createDataFrame(
        rows, "rank int, left string, right string, pair_count long, fp string"
    ).write.mode("overwrite").saveAsTable(table_name)
    return fp


def load_bpe_merges(spark, table_name: str):
    """Rehydrate a persisted BPE merge table. Returns (merges, fp) with
    the fingerprint re-verified against the reloaded rows — a mismatch
    (hand-edited table, partial write, wrong table) raises instead of
    silently encoding with a different tokenizer. The merges list is
    bpe_train_merges-shaped, so it feeds bpe_segment_stats directly."""
    rows = spark.table(table_name).orderBy("rank").collect()
    if not rows:
        raise ValueError(f"load_bpe_merges: {table_name} is empty")
    merges = [(int(r["rank"]), r["left"], r["right"], int(r["pair_count"])) for r in rows]
    fp = rows[0]["fp"]
    if bpe_fingerprint(merges) != fp:
        raise ValueError(
            f"load_bpe_merges: {table_name} is corrupt — stored fingerprint "
            "does not match the reloaded merge rows"
        )
    return merges, fp


def bpe_segment_stats(docs: DataFrame, merges) -> DataFrame:
    """Apply trained BPE merges (bpe_train_merges output) to a document
    frame — the encode side of the tokenizer: per DISTINCT word the
    merges replay in rank order (the standard greedy BPE encode), then
    doc tokens map through the segmentation. The expensive part is
    vocab-sized (one Arrow pass over distinct words against the
    broadcast merge list); the per-doc rollup is one shuffle join on
    word + one aggregate — the corpus text is scanned once.

    Returns (doc_id, word_count, bpe_token_count, bpe_per_word):
    the exact subword cost of the corpus under THIS tokenizer, the
    number bpe_token_stats approximates with a regex."""
    import pandas as pd

    merge_list = [(m[1], m[2]) for m in merges]
    sc = docs.sparkSession.sparkContext
    bc = sc.broadcast(merge_list)

    words = (
        docs.select(F.explode(tokens_col()).alias("word")).distinct()
    )
    state = words.select("word", _syms_col().alias("syms"))

    def encode(batches):
        ms = bc.value
        for pdf in batches:
            counts = []
            for syms in pdf["syms"].values:
                syms = list(syms)
                for a, b in ms:
                    syms = _merge_pair(syms, a, b)
                counts.append(len(syms))
            yield pd.DataFrame({"word": pdf["word"], "n_syms": counts})

    seg = state.mapInPandas(encode, "word string, n_syms int")
    toks = docs.select("doc_id", F.explode(tokens_col()).alias("word"))
    return (
        toks.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("word_count"),
            F.sum("n_syms").cast("long").alias("bpe_token_count"),
            round6(
                F.sum("n_syms").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("bpe_per_word"),
        )
    )


def sentence_span_dedup(docs: DataFrame, span_sentences: int = 3) -> DataFrame:
    """C4's three-sentence-span deduplication (Raffel et al. 2020
    §2.2): any span of `span_sentences` consecutive sentences that
    occurs more than once in the CORPUS is removed from every
    occurrence except the first — the span-granularity complement of
    the token-granularity ExactSubstr pair (substring_dup_spans /
    excise_dup_spans).

    Conventions shared with the oracle: sentences are the non-empty
    trimmed whitespace-collapsed segments between terminal-punctuation
    runs ([.!?]+); spans hash md5 over the chr(31)-joined sentences;
    the keeper is the lexicographic (doc_id, start) minimum; removal
    is the POSITION UNION of non-keeper duplicate spans; clean_text
    re-joins surviving sentences with single spaces (punctuation does
    not survive the sentence split — C4 trains on the cleaned stream).

    Per doc: (doc_id, n_sentences, n_spans, n_dup_spans,
    removed_sentences, clean_text); untouched docs pass through, docs
    shorter than one span emit zero spans.

    Plan shape: sentence split is a map-only projection (recomputed by
    the rebuild side rather than checkpointed — two cheap scans beat
    materializing a 100 TB sentence column); ONE corpus shuffle on the
    16-byte span hash with map-side combine; duplicate spans and the
    covered-index lists are dup-bounded (tiny), so the rebuild is a
    left join + per-sentence codegen filter, no explode and no second
    corpus shuffle. Linear in corpus sentences, no pair blowup."""
    k = span_sentences
    if k < 1:
        raise ValueError(f"sentence_span_dedup: span_sentences={k} must be >= 1")
    txt = F.coalesce(F.col("text"), F.lit(""))
    sents = F.filter(
        F.transform(
            F.split(txt, r"[.!?]+"),
            lambda s: F.regexp_replace(F.trim(s), _WS, " "),
        ),
        lambda s: F.length(s) > 0,
    )
    base = docs.select("doc_id", sents.alias("_sents"))

    zipped, (span_text,) = _zip_grams(F.col("_sents"), (k,), sep="\x1f")
    spans = (
        base.select("doc_id", F.posexplode(zipped).alias("start", "g"))
        .select("doc_id", "start", F.md5(span_text).alias("h"))
    )
    agg = spans.groupBy("h").agg(
        F.count(F.lit(1)).alias("_c"),
        F.min(F.struct("doc_id", "start")).alias("_kp"),
    )
    nonkeep = (
        spans.join(agg.where(F.col("_c") >= 2), "h")
        .where(
            (F.col("doc_id") != F.col("_kp.doc_id"))
            | (F.col("start") != F.col("_kp.start"))
        )
        .select("doc_id", "start")
    )
    covered = (
        nonkeep.select(
            "doc_id",
            F.explode(F.sequence(F.col("start"), F.col("start") + F.lit(k - 1))).alias("sidx"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("sidx").alias("_cov"))
    )
    n_dup = nonkeep.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_ndup"))

    kept = F.when(F.col("_cov").isNull(), F.col("_sents")).otherwise(
        F.filter("_sents", lambda s, i: ~F.exists("_cov", lambda c: c == i))
    )
    return (
        base.join(covered, "doc_id", "left")
        .join(n_dup, "doc_id", "left")
        .select(
            "doc_id",
            F.size("_sents").cast("long").alias("n_sentences"),
            F.greatest(F.size("_sents") - (k - 1), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("_ndup", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce(F.size("_cov"), F.lit(0)).cast("long").alias("removed_sentences"),
            F.array_join(kept, " ").alias("clean_text"),
        )
    )


def subword_fertility_stats(docs: DataFrame, piece_len: int = 4) -> DataFrame:
    """Per-language tokenizer-fertility audit — the numbers you check
    before committing to a tokenizer for a multilingual corpus: words,
    mean word length, subword pieces per word ("fertility", the
    tokens-per-word blowup that makes under-served languages expensive
    to train on), and chars per piece (the bytes-per-token analogue).
    The subword stand-in is deterministic fixed-width chunking
    (ceil(len/piece_len) pieces per word) so the metric is exactly
    reproducible corpus-wide without a trained vocab; swap in
    bpe_segment_stats for the trained-tokenizer form.

    Plan shape: one scan, token explode, partial-agg groupBy on `lang`
    (low cardinality) — map-side combines reduce each executor's
    contribution to a handful of rows, so the shuffle is bytes-sized at
    100 TB."""
    wlen = F.length("word").cast("double")
    pieces = F.ceil(wlen / F.lit(float(piece_len))).cast("long")
    return (
        docs.where(F.length(F.trim("text")) > 0)
        .select("lang", F.explode(tokens_col()).alias("word"))
        .select("lang", wlen.alias("_wl"), pieces.alias("_pc"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            round6(F.avg("_wl")).alias("avg_word_len"),
            round6(F.sum("_pc").cast("double") / F.count(F.lit(1))).alias(
                "pieces_per_word"
            ),
            round6(F.sum("_wl") / F.sum("_pc").cast("double")).alias(
                "chars_per_piece"
            ),
        )
    )


def _tagged_gram_rows(docs: DataFrame, ns: tuple, id_col: str) -> DataFrame:
    """(id, n, gram) rows for EVERY n in `ns` from ONE pass over the
    text (r15): the per-n union form scanned + normalized + split the
    corpus once per n. Here _zip_grams zips the token array with its
    max(ns)-1 shifted slices once; each position then emits its (n,
    gram) struct for every n whose gram is complete there (t{n-1}
    non-null), via a literal struct array + array_compact + explode,
    all inside codegen (no interpreted HOF lambdas). Gram strings and
    multiplicities are identical to _gram_rows for each n.

    The RAW TEXT projection is fan_out_scan'd: fusing the per-n
    subplans also fused their scan-stage work onto ONE task on a
    single-split local scan (the per-n union got len(ns)-way
    parallelism for free from its independent subplans) — measured
    3.3 s fused-on-one-task vs 2.1 s union at sf0.1 before the
    fan-out; no-op at any real scan width. The split happens AFTER
    the exchange so compact strings cross it, not token arrays
    (per-element array serialization made the exchange cost what the
    parallelism saved on the first cut)."""
    # A duplicate n in `ns` would emit the same (n, gram) struct twice
    # per position and double-count total_grams into one merged agg row
    # (the old per-n union emitted two separate identical rows instead)
    # — dedupe up front so both shapes agree (ADVICE r15).
    ns = tuple(sorted(set(ns)))
    zipped, grams = _zip_grams(F.col("_toks"), ns)
    per_pos = [
        F.when(
            F.col(f"g.t{n - 1}").isNotNull(),
            F.struct(F.lit(n).cast("int").alias("n"), gram.alias("gram")),
        )
        for n, gram in zip(ns, grams)
    ]
    return (
        fan_out_scan(docs.select(F.col(id_col), "text"))
        .select(F.col(id_col), F.split(norm_text(F.col("text")), " ").alias("_toks"))
        .select(F.col(id_col), F.explode(zipped).alias("g"))
        .select(F.col(id_col), F.explode(F.array_compact(F.array(*per_pos))).alias("t"))
        .select(F.col(id_col), F.col("t.n").alias("n"), F.col("t.gram").alias("gram"))
    )


def ngram_diversity(docs: DataFrame, ns: tuple = (1, 2, 3)) -> DataFrame:
    """Per-source n-gram diversity (distinct-n): distinct n-grams over
    total n-gram occurrences, the self-repetition measure used to
    detect template/boilerplate-heavy sources (low distinct-2/3 means
    the source repeats itself; Zhu et al. 2018 "Texygen" use the same
    ratio as Distinct-n). One output row per (source, n).

    Plan shape (r15): ONE corpus scan emits the tagged (source, n,
    gram) stream for all n's (_tagged_gram_rows) into a two-stage agg
    keyed on (source, n, gram) — map-side combine collapses repeats
    before the shuffle, so shuffle volume is bounded by DISTINCT grams
    per source, not corpus tokens. The previous per-n union scanned
    and tokenized the corpus len(ns) times for the same exploded row
    count. At 100 TB swap count_distinct for approx_count_distinct to
    keep the gram agg sketch-sized (ngram_diversity_approx; the exact
    form here is the oracle-checkable one)."""
    g = _tagged_gram_rows(docs, ns, id_col="source")
    return (
        g.groupBy("source", "n")
        .agg(
            F.count(F.lit(1)).alias("total_grams"),
            F.count_distinct("gram").alias("distinct_grams"),
        )
        .select(
            "source",
            "n",
            "total_grams",
            "distinct_grams",
            round6(
                F.col("distinct_grams").cast("double")
                / F.col("total_grams").cast("double")
            ).alias("diversity"),
        )
    )


def char_entropy_panel(docs: DataFrame, low_bits: float = 3.5) -> DataFrame:
    """Per-document character-level Shannon entropy (bits/char) over
    whitespace-normalized lowercase text, with a low-entropy flag —
    the cheap screen for degenerate content (repeated characters,
    base64 blobs read LOW/HIGH extremes; natural language sits ~4
    bits). CCNet and RefinedWeb both carry a character-statistics
    screen of this family ahead of the LM filter.

    Plan shape: normalize + per-position char explode, then a
    (doc_id, char) partial agg — per-doc state is alphabet-sized, and
    map-side combine collapses each doc's chars before the shuffle, so
    the exchange carries ~|alphabet| rows per doc, not one row per
    character. Entropy folds in a second doc-keyed agg. Linear, two
    narrow shuffles, no UDFs."""
    chars = F.filter(F.split(norm_text(F.col("text")), ""), lambda c: c != F.lit(""))
    # r16: fan the raw text out before the per-CHARACTER explode — the
    # split-to-chars + (doc, char) partial agg ran 0.53 s of this
    # 0.91 s query on one local scan task (timeline); unlike the token-
    # level combines the per-doc work here is thousands of array cells.
    # Isolated A/B below; no-op at real scan widths.
    counts = (
        fan_out_scan(docs.where(F.length(F.trim("text")) > 0).select("doc_id", "text"))
        .select("doc_id", F.explode(chars).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ln2 = 0.6931471805599453
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_chars_norm"),
            (
                -F.sum(
                    F.col("cnt").cast("double")
                    * F.log(F.col("cnt").cast("double"))
                )
            ).alias("_s"),
        )
        .select(
            "doc_id",
            F.col("n_chars_norm").cast("long").alias("n_chars_norm"),
            round6(
                (
                    F.col("_s") / F.col("n_chars_norm").cast("double")
                    + F.log(F.col("n_chars_norm").cast("double"))
                )
                / F.lit(ln2)
            ).alias("entropy_bits"),
        )
        .withColumn("low_entropy", F.col("entropy_bits") < F.lit(low_bits))
    )


def zipf_slope_by_source(docs: DataFrame, top_n: int = 100) -> DataFrame:
    """Zipf rank-frequency fit per source: OLS slope and r^2 of
    ln(freq) ~ ln(rank) over the top_n most frequent tokens — the
    vocabulary-health check (natural language sits near slope -1;
    generated/templated text and OCR noise bend the curve; Piantadosi
    2014 reviews the regularity). One row per source.

    Ranks are fully tiebroken (count desc, token asc) so the top_n cut
    is bit-deterministic. Plan shape: token explode + (source, token)
    partial-agg count, one per-source rank window over the VOCAB-sized
    count frame (never corpus tokens), then the OLS moments fold in a
    single map-side-combined agg — 2 narrow shuffles, all codegen."""
    from pyspark.sql import Window

    counts = (
        _gram_rows(docs, 1, id_col="source")
        .groupBy("source", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(F.col("cnt").desc(), F.col("gram"))
    ranked = (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
        .select(
            "source",
            F.log(F.col("rank").cast("double")).alias("x"),
            F.log(F.col("cnt").cast("double")).alias("y"),
        )
    )
    n = F.count(F.lit(1)).cast("double")
    sx, sy = F.sum("x"), F.sum("y")
    sxx = F.sum(F.col("x") * F.col("x"))
    syy = F.sum(F.col("y") * F.col("y"))
    sxy = F.sum(F.col("x") * F.col("y"))
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    # degenerate sources (one ranked term -> var_x = 0; all counts
    # equal -> var_y = 0) emit NULL instead of inf/NaN, on both engines
    slope = F.when(var_x != 0, cov_n / var_x)
    r2 = F.when((var_x != 0) & (var_y != 0), (cov_n * cov_n) / (var_x * var_y))
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_terms"),
        round6(slope).alias("zipf_slope"),
        round6(r2).alias("r2"),
    )


def kn_surprisal(
    docs: DataFrame, order: int, discount: float = 0.75, n_buckets: int | None = None
) -> DataFrame:
    """Per-document mean n-gram surprisal in bits under interpolated
    Kneser-Ney at `order` n (Kneser & Ney 1995; Chen & Goodman 1999 §3,
    the smoothing KenLM and hence CCNet's perplexity filter use):

      P_n(wn|w1..wn-1) = max(c(w1..wn)-D, 0)/c(w1..wn-1,.)
                         + D N1+(w1..wn-1,.)/c(w1..wn-1,.) P_n-1
      P_k(wn|h)        = max(cc_k-D, 0)/ccsum_k + D nfwd_k/ccsum_k P_k-1
      P_1(wn)          = N1+(.,wn) / B

    Below the top order the counts are CONTINUATION counts: cc_k is the
    number of distinct words ahead of the k-word suffix among the
    order-(k+1) types, ccsum_k / nfwd_k sum / count them per (k-1)-word
    history h, N1+(.,wn) counts distinct predecessors among the order-2
    types and B is their number. So each level's frame is an aggregate
    of the level above, shrinking as it descends. Self-scoring a corpus
    leaves no unseen gram: the discount's redistribution (versatile
    continuations cheap, template-locked ones expensive) is the whole
    signal separating this from bigram_surprisal's MLE.

    Keys: n_buckets=None keeps exact gram strings (oracle-checkable).
    An int hashes every gram component (the top history m{n-1}, each
    suffix s{k} and its history m{k-1}) via pmod(xxhash64, n_buckets),
    the dsir_hashed_weights move: a type is the distinct hashed tuple,
    so two grams merge only when every component collides, and every
    normalizer is keyed by one hashed column, so it takes at most
    n_buckets distinct keys by construction. The occurrence frame then carries
    one 64-bit tuple hash (tid) instead of the components, which ride
    only in the bounded type frame (min() per tid: identical within a
    tid up to a ~2^-64 tuple collision, min for determinism under one).

    Plan shape: the gram rows and each level frame are checkpointed, n
    eager materializations. The gram rows feed both the type
    aggregation and the per-doc fold (checkpointing one consumer only
    re-ran the explode for the other: 16 s vs 9 s at sf0.1), and
    dropping the level chain measured 3.85 -> 4.66 s (r16). Each
    level's checkpoint carries its own normalizers as window columns,
    the way KenLM's estimator computes them in the same sorted pass as
    the adjusted counts (Heafield et al. 2013): csum and nfwd over the
    history m{k-1}, and at order 2 nback over the word s1. Below the
    top order the level above is repartitioned by m{k-1} before its
    group-by, so the aggregation and the history window share one
    shuffle. B is an Observation on the order-2 checkpoint and enters
    the order-2 probability as a literal. Scoring then chains up from
    order 2 with no aggregation, cross join or hint: each level's
    probability is computed on its own frame and joined into the level
    above by that level's key (the suffix string, or its component
    tuple when hashed), so the type frame is shuffled once, not once
    per level. The trade: every level row that shares one history
    lands in one window task, where a broadcast stats join once kept
    rows of a hot single-word key (the order-2 history, the current
    word) spread over tasks; exact multi-word histories were shuffled
    by history either way.

    Returns (doc_id, gram_count, kn_bits_per_gram); docs with fewer
    than n tokens emit no row."""
    from pyspark.sql import Observation, Window

    n, d = int(order), float(discount)
    hashed = n_buckets is not None
    # components of a gram w1..wn: m{n-1} is its history w1..w{n-1},
    # s{k} its last k words and m{k-1} the first k-1 of those (the
    # history at level k); s1 is the current word
    g = F.col("gram")
    comp = [(f"m{n - 1}", F.substring_index(g, " ", n - 1))]
    for k in range(n - 1, 0, -1):
        s = F.substring_index(g, " ", -k)
        comp.append((f"s{k}", s))
        if k > 1:
            comp.append((f"m{k - 1}", F.substring_index(s, " ", k - 1)))
    names = [c for c, _ in comp]
    # a lower level's group-by columns: its suffix and everything under it
    below = {k: names[names.index(f"s{k}"):] for k in range(2, n)}
    count = F.count(F.lit(1))
    # the raw text is fanned out before tokenization (r16): the explode
    # otherwise inherits the documents scan's split count, ONE task
    # locally, so the eager gram checkpoint ran serially (2.0 s of a
    # 4.6 s kn5 query on one core); no-op at any real scan width
    rows = _gram_rows(fan_out_scan(docs.select("doc_id", "text")), n)
    if not hashed:
        occ = rows.localCheckpoint()
        top, keys = "gram", {k: [f"s{k}"] for k in below}
        types = occ.groupBy(top).agg(count.alias("c")).select(
            top, "c", *[e.alias(c) for c, e in comp]
        )
    else:
        b = F.lit(int(n_buckets))
        h = lambda c: F.pmod(F.xxhash64(c), b)  # noqa: E731
        top, keys = "tid", dict(below)
        rows = (
            rows.select("doc_id", h(g).alias("h"), *[h(e).alias(c) for c, e in comp])
            .select("doc_id", F.xxhash64("h", *names).alias(top), *names)
            .localCheckpoint()
        )
        occ = rows.select("doc_id", top)
        types = rows.groupBy(top).agg(count.alias("c"), *[F.min(c).alias(c) for c in names])
    keys[n] = [top]
    # each level carries its own normalizers: csum / nfwd per history
    # m{k-1}, and at order 2 nback per word plus the btypes total
    total, levels = Observation(), {}
    for k in range(n, 1, -1):
        frame = types if k == n else (
            levels[k + 1].repartition(f"m{k - 1}").groupBy(*below[k]).agg(count.alias("c"))
        )
        hist = Window.partitionBy(f"m{k - 1}")
        frame = frame.withColumns({"csum": F.sum("c").over(hist), "nfwd": count.over(hist)})
        if k == 2:
            frame = frame.withColumn("nback", count.over(Window.partitionBy("s1"))).observe(
                total, count.alias("btypes")
            )
        levels[k] = frame.localCheckpoint()

    # `lower` scales the backoff weight w by the lower order; order 2
    # multiplies by nback, then divides by btypes, in the oracles' order
    def p_level(lower):
        w = F.lit(d) * F.col("nfwd").cast("double") / F.col("csum").cast("double")
        c = F.greatest(F.col("c").cast("double") - F.lit(d), F.lit(0.0))
        return (c / F.col("csum").cast("double") + lower(w)).alias("p")

    nback, btypes = F.col("nback").cast("double"), F.lit(float(total.get["btypes"]))
    p = levels[2].select(*keys[2], p_level(lambda w: w * nback / btypes))
    for k in range(3, n + 1):
        p = levels[k].join(p, keys[k - 1]).select(*keys[k], p_level(lambda w: w * F.col("p")))
    ln2 = 0.6931471805599453
    return occ.join(p, top).groupBy("doc_id").agg(
        count.cast("long").alias("gram_count"),
        round6(-F.sum(F.log("p")) / count.cast("double") / F.lit(ln2)).alias("kn_bits_per_gram"),
    )


def kn_bigram_surprisal(docs: DataFrame, discount: float = 0.75) -> DataFrame:
    """kn_surprisal at order 2 with exact keys:
    P_KN(t|p) = max(c(p,t)-D, 0)/c(p,.) + D N1+(p,.)/c(p,.) N1+(.,t)/B,
    where N1+(.,t) is the continuation probability that makes
    "Francisco" cheap only after "San". Returns
    (doc_id, bigram_count, kn_bits_per_bigram)."""
    return kn_surprisal(docs, 2, discount).toDF("doc_id", "bigram_count", "kn_bits_per_bigram")


def kn_trigram_surprisal(docs: DataFrame, discount: float = 0.75) -> DataFrame:
    """kn_surprisal at order 3 with exact keys, the closest
    oracle-checkable stand-in for the 5-gram KenLM behind CCNet's
    filter. Returns (doc_id, trigram_count, kn3_bits_per_trigram)."""
    return kn_surprisal(docs, 3, discount).toDF(
        "doc_id", "trigram_count", "kn3_bits_per_trigram"
    )


def kn5_surprisal_hashed(
    docs: DataFrame, discount: float = 0.75, n_buckets: int = 1 << 22
) -> DataFrame:
    """kn_surprisal at order 5, the published KenLM order for CCNet's
    perplexity filter (Wenzek et al. 2020 §3.3), with hashed keys.
    Default 2^22: at sf0.01 (24k gram types) the per-doc Spearman vs
    the effectively-exact 2^62 twin is 0.9138 at 2^20, 0.9788 at 2^22
    and 0.9957 at 2^24 (PROBE_r12 §a), so 2^22 is the smallest power
    clearing the 0.95 fidelity floor with margin, at ~32 MB of
    fixed-width keys per context frame. Seeded-hash output has no
    DuckDB oracle (the dedup_minhash contract): the parity gate checks
    its rows only and the Spearman pytest pins its fidelity. Returns
    (doc_id, gram5_count, kn5h_bits_per_gram)."""
    return kn_surprisal(docs, 5, discount, n_buckets).toDF(
        "doc_id", "gram5_count", "kn5h_bits_per_gram"
    )


def winnow_similar_topk(
    docs: DataFrame,
    top_k: int = 3,
    min_shared: int = 2,
    k: int = 4,
    w: int = 5,
    max_fp_docs: int | None = 500,
) -> DataFrame:
    """Per-document most-similar neighbors by shared winnowing
    fingerprints — the "show me this document's copies/sources" lookup
    (MOSS's result view, where winnow_overlap_pairs is the corpus-wide
    edge list): for each doc, the top_k docs sharing >= min_shared
    fingerprints, ranked by shared count with doc-id tiebreak.

    Plan shape: the distinct (doc_id, fp) frame (checkpointed, one
    corpus pass) self-joins on fp with the same max_fp_docs
    boilerplate guard as winnow_overlap_pairs, aggregates to DIRECTED
    pair counts (map-side combined), then one per-doc rank window over
    the pair frame (pair-bounded, never corpus-bounded) keeps the
    top_k. Output: doc_id, sim_doc, shared_fps, rank."""
    from pyspark.sql import Window

    fps = winnow_fingerprints(docs, k=k, w=w).localCheckpoint()
    if max_fp_docs is not None:
        hot = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_fp_docs)
        )
        fps = fps.join(F.broadcast(hot), "fp", "left_anti")
    a = fps.select(F.col("doc_id").alias("doc_id"), "fp")
    b = fps.select(F.col("doc_id").alias("sim_doc"), "fp")
    pairs = (
        a.join(b, "fp")
        .where(F.col("doc_id") != F.col("sim_doc"))
        .groupBy("doc_id", "sim_doc")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )
    wnd = Window.partitionBy("doc_id").orderBy(
        F.col("shared_fps").desc(), F.col("sim_doc")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(wnd).cast("int"))
        .where(F.col("rank") <= top_k)
    )


def langid_confusion(docs: DataFrame) -> DataFrame:
    """Confusion matrix of the declared `lang` column against the
    stopword-overlap language ID — the audit run before TRUSTING
    either side (crawl-declared language metadata is famously wrong;
    a heuristic ID has known blind spots): per (lang, predicted_lang),
    document count and the share of the declared language it
    represents. A strong diagonal certifies the metadata; a smeared
    row is the language to re-identify with a real classifier.

    Plan shape: language_id's one scan + broadcast profile join, then
    a (lang, predicted) partial agg and one lang-partitioned window
    over the languages x languages result frame (tiny)."""
    from pyspark.sql import Window

    pred = language_id(docs)
    counts = pred.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("lang")
    return counts.select(
        "lang",
        "predicted_lang",
        "n_docs",
        round6(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(w).cast("double")
        ).alias("frac_of_lang"),
    )


def langid_trained_report(
    docs: DataFrame,
    n_buckets: int = 32,
    max_langs: int = 8,
    n_iter: int = 25,
    lr: float = 1.0,
) -> DataFrame:
    """Trained language ID — the production-shaped upgrade of the
    stopword heuristic (fastText's role in the CommonCrawl pipelines,
    Joulin et al. 2017's hashed-n-gram recipe made deterministic):
    hashed character-trigram frequency features, one-vs-rest logistic
    regression per declared language via the deterministic lr_fit
    machinery, argmax scoring as one codegen expression. The output is
    the audit langid_confusion exists to demand: per declared
    language, document count and agreement of BOTH predictors with the
    declared label, side by side.

    Rows-only by design (iterative fit); determinism and
    beats-the-heuristic-on-planted-multilingual-text invariants are
    pytest-gated. Trains on the corpus's own declared labels — the
    self-distillation bootstrap used when no external classifier is
    allowed in the pipeline; langid_confusion is the smeared-metadata
    caveat to that choice.

    Plan shape: one char-trigram explode folded to (doc, bucket)
    counts, rebuilt into an n_buckets-wide frequency frame
    (checkpointed once); each per-language fit is n_iter narrow
    mapInPandas passes over that SMALL frame (corpus text never
    rescanned); scoring + the heuristic comparison is one broadcast
    profile join and a languages-sized aggregate. At 100 TB the
    feature frame is docs x n_buckets doubles — the only thing the
    optimizer ever shuffles."""
    from .curation import lr_fit_ovr

    # null declared lang coalesced to '' (the ccnet_perplexity_buckets
    # convention): left raw, predicted == lang evaluates to NULL for
    # the whole group and the report's match counts/agreements go NULL
    # instead of 0 — and a NULL class label would poison the argmax
    base = docs.select(
        "doc_id",
        F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
        norm_text(F.col("text")).alias("t"),
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length("t") - F.lit(2), F.lit(0))),
        lambda i: F.pmod(F.xxhash64(F.col("t").substr(i, F.lit(3))), F.lit(n_buckets)),
    )
    rows = base.where(F.length("t") >= 3).select(
        "doc_id", F.explode(grams).alias("bucket")
    )
    cnt = rows.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("c"))
    per_doc = cnt.groupBy("doc_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("bucket", "c")))
        ).alias("m"),
        F.sum("c").alias("tot"),
    )
    cols = [f"f{b}" for b in range(n_buckets)]
    feats = (
        base.select("doc_id", "lang")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            *[
                (
                    F.coalesce(F.col("m")[F.lit(b)], F.lit(0)).cast("double")
                    / F.greatest(F.col("tot"), F.lit(1)).cast("double")
                ).alias(f"f{b}")
                for b in range(n_buckets)
            ],
        )
        .localCheckpoint()
    )
    langs = [
        r["lang"]
        for r in feats.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("lang"))
        .limit(max_langs)
        .collect()
    ]
    # all K sigmoid heads fit in ONE distributed pass per iteration
    # (lr_fit_ovr) — K separate lr_fit loops measured 30.6 s at sf0.1
    # vs 14.5 s joint; per-class trajectories match the independent
    # fits to float-noise (OvR gradients are class-independent under
    # full-batch GD + zero init; pytest pins 1e-9 agreement and
    # bit-exact refit determinism)
    # no language means no document (every doc has a lang, '' at
    # worst): nothing to fit, and no document to label
    fitted = lr_fit_ovr(feats, cols, "lang", langs, n_iter=n_iter, lr=lr) if langs else {}
    scores = []
    for lang in langs:
        w, b = fitted[lang]
        z = F.lit(float(b))
        for c, wi in zip(cols, w):
            z = z + F.col(c) * F.lit(float(wi))
        scores.append(F.struct(z.alias("z"), F.lit(lang).alias("l")))
    # argmax over per-class linear scores (sigmoid is monotone); ties
    # break toward the lexically-larger language name, deterministically
    trained_lang = (
        F.array_max(F.array(*scores)).getField("l") if scores else F.lit(None).cast("string")
    )
    trained = feats.select("doc_id", "lang", trained_lang.alias("trained_lang"))
    heur = language_id(docs).select("doc_id", "predicted_lang")
    both = trained.join(heur, "doc_id")
    return both.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("predicted_lang") == F.col("lang")).cast("long")).alias(
            "heur_match"
        ),
        F.sum((F.col("trained_lang") == F.col("lang")).cast("long")).alias(
            "trained_match"
        ),
        round6(
            F.avg((F.col("predicted_lang") == F.col("lang")).cast("double"))
        ).alias("heur_agreement"),
        round6(
            F.avg((F.col("trained_lang") == F.col("lang")).cast("double"))
        ).alias("trained_agreement"),
    )


def ngram_diversity_approx(
    docs: DataFrame, ns: tuple = (1, 2, 3), rsd: float = 0.02
) -> DataFrame:
    """The 100 TB form ngram_diversity's docstring promises: distinct
    gram counts via HyperLogLog++ (approx_count_distinct at `rsd`
    relative error) so the per-source agg state is sketch-sized
    instead of distinct-gram-sized — the same exact/approx twinning as
    dq_profile_events_approx. Same output shape; diversity inherits
    the sketch's error bound. Shares the exact twin's one-scan tagged
    gram stream (r15); the HLL sketch is a pure function of the gram
    VALUE SET, so the fused stream estimates identically to the per-n
    union it replaced."""
    g = _tagged_gram_rows(docs, ns, id_col="source")
    return (
        g.groupBy("source", "n")
        .agg(
            F.count(F.lit(1)).alias("total_grams"),
            F.approx_count_distinct("gram", rsd).alias("distinct_grams"),
        )
        .select(
            "source",
            "n",
            "total_grams",
            "distinct_grams",
            round6(
                F.col("distinct_grams").cast("double")
                / F.col("total_grams").cast("double")
            ).alias("diversity"),
        )
    )
