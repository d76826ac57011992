"""Corpus-curation operators for a training-data pipeline.

The curation stages a pretraining corpus passes between raw crawl and
the tokenizer, each designed as a single declarative plan:

- contamination_check: benchmark-decontamination via n-gram-hash overlap
  (explode doc n-grams once, broadcast the benchmark's gram set).
- weighted_sample: deterministic per-source sampling (domain mixing) —
  the keep decision is a pure function of (salt, doc_id), so a re-run
  or a resumed job selects the identical subset with no stored state.
- pack_sequences: greedy first-fit-decreasing packing of documents into
  fixed token windows; only (doc_id, token_count) ever crosses into
  Python, never text.
- clean_text / clean_stats: HTML/URL/e-mail stripping with RE2-safe
  patterns shared verbatim with the DuckDB oracle.
- quality_filter: Gopher-style hard rules with per-rule reasons.

Everything except the pack step is built-in column expressions (JVM,
codegen). The reference has no corpus layer — this extends SURVEY §2.11.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import iterate_partials, round6
from .text import _gram_rows, norm_text, tokens_col

# --- n-gram contamination ----------------------------------------------------


def ngram_hashes(docs: DataFrame, n: int, id_col: str = "doc_id") -> DataFrame:
    """Distinct (id, md5-of-n-token-gram) pairs — the membership form of
    _gram_rows used for contamination probes."""
    return (
        _gram_rows(docs, n, id_col).select(F.col(id_col), F.md5("gram").alias("gh")).distinct()
    )


def build_ngram_bloom(
    benchmark: DataFrame | None = None, n: int = 6, fpp: float = 0.01,
    id_col: str = "bench_id",
    gram_hashes: DataFrame | None = None,
) -> tuple[bytes, int, int]:
    """Build a Bloom filter over the benchmark's distinct n-gram hashes
    -> (bitmap bytes, m bits, k hashes). Standard sizing: m =
    ceil(-N ln fpp / ln(2)^2), k = round(m/N ln 2) (Bloom 1970). The
    k probe positions for gram-hash gh are pmod(xxhash64(i, gh), m)
    for i in 0..k-1 — pure JVM expressions, so build and probe can
    never hash differently.

    Distributed build with a bounded driver collect: each PARTITION of
    the position set ORs its own m-bit numpy bitmap inside one Arrow
    kernel and emits a single bitmap row; the driver ORs one bitmap
    per partition (never per-gram rows). At 10 bits/gram (fpp 1%) the
    result is ~10-20x smaller than broadcasting the gram-hash SET —
    the reason this tier exists: a 100M-gram benchmark union is a
    ~125 MB bitmap vs multi-GB of hashes, and the probe side stays a
    map-only scan."""
    import math

    import numpy as np
    import pandas as pd

    # ONE explode+distinct pass over the benchmark union feeds both the
    # sizing count and the position build (ADVICE r14 #4 — this is the
    # most expensive scan here; localCheckpoint materializes it once).
    # `gram_hashes` accepts a prebuilt (ideally checkpointed) distinct
    # gh frame so a caller that also needs the set (the audit, the
    # streaming gate) never re-explodes the benchmark (r15).
    if gram_hashes is not None:
        gh = gram_hashes.select("gh")
    else:
        if benchmark is None:
            raise ValueError(
                "build_ngram_bloom: pass benchmark= or a prebuilt "
                "gram_hashes= distinct-gh frame"
            )
        gh = (
            ngram_hashes(benchmark, n, id_col=id_col)
            .select("gh")
            .distinct()
            .localCheckpoint()
        )
    n_grams = gh.count()
    if n_grams == 0:
        return b"\x00", 8, 1
    m = max(8, int(math.ceil(-n_grams * math.log(fpp) / (math.log(2) ** 2))))
    m = (m + 7) & ~7  # whole bytes
    k = max(1, round(m / n_grams * math.log(2)))
    positions = (
        gh.select(
            F.explode(
                F.array(
                    *[F.pmod(F.xxhash64(F.lit(i), F.col("gh")), F.lit(m))
                      for i in range(k)]
                )
            ).alias("pos")
        )
    )

    def _partition_bitmap(batches):
        bm = np.zeros(m // 8, dtype=np.uint8)
        for pdf in batches:
            pos = pdf["pos"].to_numpy(dtype=np.int64)
            np.bitwise_or.at(bm, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        yield pd.DataFrame({"bm": [bm.tobytes()]})

    parts = positions.mapInPandas(_partition_bitmap, schema="bm binary").collect()
    out = np.zeros(m // 8, dtype=np.uint8)
    for row in parts:
        out |= np.frombuffer(row.bm, dtype=np.uint8)
    return out.tobytes(), m, k


def _might_contain_udf(bitmap: bytes):
    """Arrow membership probe over a Bloom bitmap: boolean pandas_udf
    taking the k-position array column. The bitmap rides task
    serialization like a broadcast variable."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    bm = np.frombuffer(bitmap, dtype=np.uint8)

    # no type hints: under `from __future__ import annotations` they are
    # strings pandas_udf cannot resolve (the similarity.py convention)
    @pandas_udf("boolean")
    def might_contain(pos_arrays):
        if len(pos_arrays) == 0:  # np.stack refuses an empty batch
            return pd.Series([], dtype=bool)
        mat = np.stack(pos_arrays.to_numpy())  # (rows, k) int64
        bits = (bm[mat >> 3] >> (mat & 7).astype(np.uint8)) & 1
        return pd.Series(bits.all(axis=1))

    return might_contain


def contamination_check_pair(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 6,
    fpp: float = 0.01,
) -> DataFrame:
    """Per-doc EXACT and BLOOM contamination counts from ONE corpus
    gram pass and ONE benchmark gram pass (r15, guide §2.4): the audit
    previously ran both tiers independently — two corpus-sized
    explode+distinct shuffles and two benchmark explodes — then joined
    the reports. Here the checkpointed benchmark gh set feeds BOTH the
    bitmap build and the broadcast exact probe, and each corpus gram
    carries its exact flag (broadcast join) and bloom flag (Arrow
    bitmap probe) into a single per-doc aggregation. Counts are
    identical to running the tiers separately (same gram normalization,
    same md5 hashes, same bitmap positions). Emits every doc:
    (doc_id, _total, _exact, _bloom), zeros for gram-less docs."""
    bench_gh = (
        ngram_hashes(benchmark, n, id_col="bench_id")
        .select("gh")
        .distinct()
        .localCheckpoint()
    )
    bitmap, m, k = build_ngram_bloom(n=n, fpp=fpp, gram_hashes=bench_gh)
    might_contain = _might_contain_udf(bitmap)
    flagged = (
        ngram_hashes(docs, n)
        .select(
            "doc_id",
            "gh",
            F.array(
                *[F.pmod(F.xxhash64(F.lit(i), F.col("gh")), F.lit(m))
                  for i in range(k)]
            ).alias("_pos"),
        )
        .join(F.broadcast(bench_gh.withColumn("hit", F.lit(True))), "gh", "left")
        .select(
            "doc_id",
            F.coalesce("hit", F.lit(False)).alias("_ex"),
            might_contain("_pos").alias("_bl"),
        )
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_total"),
        F.count_if(F.col("_ex")).alias("_exact"),
        F.count_if(F.col("_bl")).alias("_bloom"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_total", F.lit(0)).alias("_total"),
            F.coalesce("_exact", F.lit(0)).alias("_exact"),
            F.coalesce("_bloom", F.lit(0)).alias("_bloom"),
        )
    )


def contamination_check_bloom(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    n: int = 6,
    fpp: float = 0.01,
    bloom: tuple[bytes, int, int] | None = None,
    max_gram_df: int | None = None,
) -> DataFrame:
    """The Bloom-filter tier of benchmark decontamination — same report
    shape as contamination_check (doc_id, total_ngrams,
    contaminated_ngrams, contamination_frac) with membership answered
    by a broadcast BITMAP instead of a broadcast gram-hash set.

    Guarantees: NO false negatives — every gram the exact probe flags
    is flagged here (both sides hash the same md5 gram string through
    the same JVM xxhash64 positions), so a downstream quarantine at
    any threshold can only over-remove, never leak benchmark text into
    training. False positives are bounded by fpp per PROBED gram
    (pinned with an envelope test); a doc's contaminated_ngrams is
    therefore an upper bound on the exact count.

    Plan shape at 100 TB: ONE corpus scan -> gram explode -> k
    position expressions (JVM codegen) -> one Arrow bitmap-lookup
    kernel (the bitmap rides task serialization like a broadcast var)
    -> the same per-doc aggregation as the exact form. Zero shuffle on
    the probe side beyond the final doc_id agg; the build side
    aggregates one bitmap per partition. Use this form when the
    benchmark union is too big to broadcast as a set; audit FPR with
    the exact twin on a sample.

    `bloom` accepts a prebuilt (bitmap, m, k) from build_ngram_bloom —
    the streaming ingest gate builds the filter ONCE at stream start
    and probes every micro-batch against it (the fpp arg is then
    unused); with benchmark=None the build is skipped entirely."""
    if bloom is None:
        if benchmark is None:
            raise ValueError(
                "contamination_check_bloom: pass benchmark= to build, or "
                "bloom=(bitmap, m, k) prebuilt"
            )
        bloom = build_ngram_bloom(benchmark, n=n, fpp=fpp)
    bitmap, m, k = bloom
    might_contain = _might_contain_udf(bitmap)

    gh_frame = ngram_hashes(docs, n)
    if max_gram_df is not None:
        # see _gram_df_cut: under a Bloom probe a HOT gram's FP status
        # is deterministic — cutting ubiquitous grams is what keeps the
        # per-doc FP fraction at ~fpp instead of fpp-times-hot-gram-df
        gh_frame = _gram_df_cut(gh_frame, max_gram_df)
    doc_grams = gh_frame.select(
        "doc_id",
        F.array(
            *[F.pmod(F.xxhash64(F.lit(i), F.col("gh")), F.lit(m))
              for i in range(k)]
        ).alias("_pos"),
    )
    per_doc = (
        doc_grams.select("doc_id", might_contain("_pos").alias("hit"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("total_ngrams"),
            F.count_if(F.col("hit")).alias("contaminated_ngrams"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("total_ngrams", F.lit(0)).alias("total_ngrams"),
            F.coalesce("contaminated_ngrams", F.lit(0)).alias("contaminated_ngrams"),
            round6(
                F.when(
                    F.coalesce("total_ngrams", F.lit(0)) > 0,
                    F.coalesce("contaminated_ngrams", F.lit(0)).cast("double")
                    / F.col("total_ngrams").cast("double"),
                ).otherwise(F.lit(0.0))
            ).alias("contamination_frac"),
        )
    )


def repetition_stats(docs: DataFrame, n: int = 2) -> DataFrame:
    """Gopher-style repetition signals: per document, how much of it is
    repeated n-grams — `dup_ngram_frac` (fraction of gram occurrences
    that are repeats of an earlier occurrence) and `top_ngram_frac`
    (share held by the single most frequent gram). High values flag
    boilerplate/spam for removal before training.

    Plan shape: one scan + per-doc gram window + two partial-agg
    groupBys, all keyed by doc_id so the gram count never becomes a
    global shuffle; a 100 TB corpus aggregates per-doc in map-side
    combines. Every doc is emitted (short docs get zeros)."""
    counts = _gram_rows(docs, n).groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_ngrams"),
        F.count(F.lit(1)).alias("distinct_ngrams"),
        F.max("cnt").alias("top_ngram_count"),
    )
    total = F.coalesce("n_ngrams", F.lit(0))
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            total.alias("n_ngrams"),
            F.coalesce("distinct_ngrams", F.lit(0)).alias("distinct_ngrams"),
            F.coalesce("top_ngram_count", F.lit(0)).alias("top_ngram_count"),
            round6(
                F.when(
                    total > 0,
                    F.lit(1.0) - F.col("distinct_ngrams").cast("double") / F.col("n_ngrams"),
                ).otherwise(F.lit(0.0))
            ).alias("dup_ngram_frac"),
            round6(
                F.when(
                    total > 0, F.col("top_ngram_count").cast("double") / F.col("n_ngrams")
                ).otherwise(F.lit(0.0))
            ).alias("top_ngram_frac"),
        )
    )


_PANEL_STAT_COLS = (
    ["doc_id", "_chars", "_nlines", "_dup_lines", "_line_chars", "_dup_line_chars"]
    + [f"_top{n}_chars" for n in (2, 3, 4)]
    + [f"_cov{n}_chars" for n in range(5, 11)]
)


def repetition_panel(docs: DataFrame) -> DataFrame:
    """The FULL Gopher repetition filter panel (Rae et al. 2021, Table
    A1) — repetition_stats covers two of the published signals; real
    pipelines threshold all of them. Per document:

      dup_line_frac        fraction of lines occurring more than once
      dup_line_char_frac   char share of those repeated lines
      top_ngram_char_frac_{2,3,4}
                           char share of the single most frequent
                           n-gram (count x gram token-chars; ties to
                           the lexicographically smallest gram)
      dup_ngram_char_frac_{5..10}
                           char share of token positions COVERED by
                           any within-doc duplicated n-gram (coverage
                           UNION, so overlapping repeats count once —
                           the paper's "characters contained within
                           duplicate n-grams")

    Conventions, shared with the oracle: text lowercased; lines split
    on newline then per-line whitespace-normalized, empties dropped;
    grams over the fully whitespace-collapsed token stream; every char
    fraction uses NON-SEPARATOR characters (sum of token lengths) in
    both numerator and denominator; docs with no content report zeros.

    Plan shape (r15, guide §1.1/§4.2/§8): every signal is a pure
    function of ONE document's text, so the whole panel is a single
    map-only Arrow kernel — one scan, ZERO exchanges, no joins. The
    kernel emits only exact INTEGER per-doc stats (char sums, dup-line
    counts, top-gram char products, coverage-union char sums); all
    float division and rounding stay in Catalyst expressions, so the
    output is bit-identical to the former 10-aggregation/8-join form
    (verified at sf0.001/0.01/0.1) and the oracle semantics are
    untouched. The former shape shuffled the 6x-replicated n=5..10
    gram stream, a distinct position union, a pivot, and the per-n
    top-gram counts — all corpus-sized exchanges this form simply does
    not have; at 100 TB the panel is embarrassingly parallel."""
    import re as _re

    _ws = _re.compile(r"[ \t\n\x0b\f\r]+")  # Java regex \s (ASCII), not py \s

    def _doc_stats(doc_id, text):
        if not isinstance(text, str):  # None/NaN from a NULL text cell
            return (doc_id,) + (0,) * 14
        # lines: lower -> split \n -> trim(' ') -> ws-collapse -> drop empty
        lcnt: dict = {}
        for raw in text.lower().split("\n"):
            ln = _ws.sub(" ", raw.strip(" "))
            if ln:
                lcnt[ln] = lcnt.get(ln, 0) + 1
        nlines = dup_lines = line_chars = dup_line_chars = 0
        for ln, c in lcnt.items():
            ll = len(ln)
            nlines += c
            line_chars += c * ll
            if c >= 2:
                dup_lines += c
                dup_line_chars += c * ll
        # tokens: trim(' ') -> lower -> ws-collapse -> split(' ')
        toks = _ws.sub(" ", text.strip(" ").lower()).split(" ")
        chars = sum(len(t) for t in toks if t)
        stats = [doc_id, chars, nlines, dup_lines, line_chars, dup_line_chars]
        ntok = len(toks)
        for n in (2, 3, 4):
            best = 0
            if ntok >= n:
                g: dict = {}
                for i in range(ntok - n + 1):
                    k = " ".join(toks[i : i + n])
                    g[k] = g.get(k, 0) + 1
                maxc = max(g.values())
                gram = min(k for k, v in g.items() if v == maxc)
                best = maxc * (len(gram) - (n - 1))
            stats.append(best)
        for n in range(5, 11):
            tot = 0
            if ntok >= n:
                g2: dict = {}
                for i in range(ntok - n + 1):
                    g2.setdefault(" ".join(toks[i : i + n]), []).append(i)
                covered: set = set()
                for poss in g2.values():
                    if len(poss) >= 2:
                        for s in poss:
                            covered.update(range(s, s + n))
                tot = sum(len(toks[p]) for p in covered if toks[p])
            stats.append(tot)
        return tuple(stats)

    def _kernel(batches):
        import pandas as pd

        cols = _PANEL_STAT_COLS
        for b in batches:
            ids = b["doc_id"].tolist()
            txts = b["text"].tolist()
            yield pd.DataFrame(
                [_doc_stats(i, t) for i, t in zip(ids, txts)], columns=cols
            )

    from ..functions.partitioning import fan_out_scan

    joined = fan_out_scan(docs.select("doc_id", "text")).mapInPandas(
        _kernel, ", ".join(f"{c} long" for c in _PANEL_STAT_COLS)
    )
    chars = F.coalesce("_chars", F.lit(0))
    nlines = F.coalesce("_nlines", F.lit(0))
    lchars = F.coalesce("_line_chars", F.lit(0))

    def frac(num, den):
        return round6(
            F.when(den > 0, F.coalesce(num, F.lit(0)).cast("double") / den).otherwise(0.0)
        )

    out_cols = [
        F.col("doc_id"),
        frac(F.col("_dup_lines"), nlines).alias("dup_line_frac"),
        frac(F.col("_dup_line_chars"), lchars).alias("dup_line_char_frac"),
    ]
    for n in (2, 3, 4):
        out_cols.append(frac(F.col(f"_top{n}_chars"), chars).alias(f"top_ngram_char_frac_{n}"))
    for n in range(5, 11):
        out_cols.append(frac(F.col(f"_cov{n}_chars"), chars).alias(f"dup_ngram_char_frac_{n}"))
    return joined.select(*out_cols)


# Gopher's "contains at least two of" required English words (Rae et
# al. 2021, Table A1) — presence, not frequency.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# Line-start markers treated as bullets: common bullet glyphs as a
# first character, or the markdown forms "- " / "* " (marker + space,
# so hyphenated words and leading negatives don't count).
_BULLET_GLYPHS = ("•", "‣", "▪", "●", "◦")


def _occurrences(col: F.Column, needle: str) -> F.Column:
    """Non-overlapping occurrence count of a literal needle (length
    delta under removal — no regex, so '...' needs no escaping)."""
    removed = F.replace(col, F.lit(needle), F.lit(""))
    return (F.length(col) - F.length(removed)) / F.lit(len(needle))


def gopher_quality_panel(
    docs: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    with_reasons: bool = False,
    passthrough: bool = False,
) -> DataFrame:
    """The NON-repetition half of the Gopher quality filter (Rae et al.
    2021, Table A1) — repetition_panel carries the other ten signals.
    Per document:

      n_words              whitespace words (lowercased, collapsed)
      mean_word_len        word chars / words
      symbol_word_ratio    ('#' + '...' + unicode-ellipsis counts) / words
      bullet_line_frac     lines starting with a bullet glyph or '- '/'* '
      ellipsis_line_frac   lines ending with '...' or the one-char ellipsis
      alpha_word_frac      words containing at least one [a-z]
      stopword_hits        how many of Gopher's 8 required words appear
      gopher_pass          the paper's conjunction: 50 <= words <= 100k,
                           3 <= mean word len <= 10, symbol ratio <= 0.1,
                           bullet lines <= 90%, ellipsis lines <= 30%,
                           alpha words >= 80%, >= 2 required stopwords

    Conventions shared with the oracle (and with repetition_panel):
    text lowercased; words from the whitespace-collapsed stream with
    empties dropped; lines split on newline, per-line whitespace-
    normalized, empties dropped; ratios 0 when the denominator is 0.

    Plan shape: every signal is a per-row higher-order-function
    expression over the token/line arrays — ZERO shuffles, one scan,
    fully codegen. At 100 TB this is a map-only pass; the repetition
    panel's per-doc aggregations are the expensive half, this one is
    free. Reference has no corpus layer (SURVEY §2.11 extension).

    passthrough=True carries every input column through next to the
    signal columns (same contract as quality_filter — the streaming
    gate's no-join form; input columns must not collide with the
    signal names)."""
    lt = F.lower(F.col("text"))
    toks = F.filter(F.split(norm_text(F.col("text")), " "), lambda t: F.length(t) > 0)
    lines = F.filter(
        F.transform(
            F.split(lt, "\n"), lambda l: F.regexp_replace(F.trim(l), r"\s+", " ")
        ),
        lambda l: F.length(l) > 0,
    )

    def is_bullet(l):
        first = l.substr(1, 1)
        return first.isin(*_BULLET_GLYPHS) | l.startswith("- ") | l.startswith("* ")

    def is_ellipsis(l):
        return l.endswith("...") | l.endswith("…")

    carry = docs.columns if passthrough else ["doc_id"]
    base = docs.select(
        *carry,
        F.size(toks).cast("long").alias("n_words"),
        F.length(F.concat_ws("", toks)).cast("long").alias("_word_chars"),
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("long").alias("_alpha_words"),
        F.size(
            F.array_intersect(
                F.array_distinct(toks), F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
            )
        ).cast("long").alias("stopword_hits"),
        (
            _occurrences(lt, "#") + _occurrences(lt, "...") + _occurrences(lt, "…")
        ).alias("_symbols"),
        F.size(lines).cast("long").alias("_n_lines"),
        F.size(F.filter(lines, is_bullet)).cast("long").alias("_bullet_lines"),
        F.size(F.filter(lines, is_ellipsis)).cast("long").alias("_ellipsis_lines"),
    )

    def frac(num, den):
        return round6(
            F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(0.0)
        )

    n_words = F.col("n_words")
    scored = base.select(
        *carry,
        "n_words",
        frac(F.col("_word_chars"), n_words).alias("mean_word_len"),
        frac(F.col("_symbols"), n_words).alias("symbol_word_ratio"),
        frac(F.col("_bullet_lines"), F.col("_n_lines")).alias("bullet_line_frac"),
        frac(F.col("_ellipsis_lines"), F.col("_n_lines")).alias("ellipsis_line_frac"),
        frac(F.col("_alpha_words"), n_words).alias("alpha_word_frac"),
        "stopword_hits",
    )
    # single rule list drives BOTH the pass conjunction and the reject
    # reasons — the streaming ingest gate and the registered query can
    # never disagree on a threshold
    rules = [
        (n_words.between(min_words, max_words), "word_count"),
        (
            F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len),
            "mean_word_len",
        ),
        (F.col("symbol_word_ratio") <= max_symbol_word_ratio, "symbol_ratio"),
        (F.col("bullet_line_frac") <= max_bullet_line_frac, "bullet_lines"),
        (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac, "ellipsis_lines"),
        (F.col("alpha_word_frac") >= min_alpha_word_frac, "alpha_words"),
        (F.col("stopword_hits") >= min_stopword_hits, "stopwords"),
    ]
    from functools import reduce as _reduce

    out = scored.withColumn(
        "gopher_pass", _reduce(lambda a, b: a & b, [ok for ok, _ in rules])
    )
    if not with_reasons:
        return out
    fails = F.array_compact(
        F.array(*[F.when(~ok, F.lit(f"gopher_{name}")) for ok, name in rules])
    )
    return out.withColumn("reject_reasons", F.array_join(fails, ","))


# C4's "end quotation mark" terminal set alongside . ! ? (Raffel et
# al. 2020 §2.2) — straight and curly closing quotes.
_C4_TERMINALS = (".", "!", "?", '"', "”")


def c4_line_filter(
    docs: DataFrame,
    min_words: int = 5,
    min_sentences: int = 3,
    passthrough: bool = False,
) -> DataFrame:
    """The C4 cleaning pass (Raffel et al. 2020, §2.2): per document,
    keep only lines that end in a terminal punctuation mark, contain at
    least `min_words` words, and do not mention "javascript"; then apply
    the page-level rules — at least `min_sentences` sentences survive,
    no "lorem ipsum", no curly brace. Emits per-doc line accounting,
    the CLEANED text (kept lines joined by newline — the actual
    training-corpus product), and the page keep decision.

    Conventions shared with the oracle: lines split on newline, trimmed
    and whitespace-collapsed, empties dropped, ORIGINAL case preserved
    in the cleaned text; drop reasons are mutually exclusive with
    precedence no-terminal-punct > too-short > javascript; sentences
    are terminal-punctuation runs ([.!?]+) in the cleaned text; the
    "javascript" and "lorem ipsum" probes are case-insensitive. The
    paper's bad-words list is deliberately omitted (externally
    licensed); the hook is the same line-predicate shape.

    Plan shape: per-row higher-order functions over the line array —
    zero shuffles, one map-only codegen scan. The 100 TB corpus pays a
    single pass and writes the cleaned column alongside the flags.
    Null text behaves as empty text (zero counts, empty clean_text,
    not kept) so the cleaned column is never null downstream."""
    txt = F.coalesce(F.col("text"), F.lit(""))
    lines = F.filter(
        F.transform(
            F.split(txt, "\n"),
            lambda l: F.regexp_replace(F.trim(l), r"\s+", " "),
        ),
        lambda l: F.length(l) > 0,
    )

    def terminal(l):
        return l.substr(F.length(l), F.lit(1)).isin(*_C4_TERMINALS)

    def enough_words(l):
        return F.size(F.split(l, " ")) >= min_words

    def has_js(l):
        return F.lower(l).contains("javascript")

    kept = F.filter(lines, lambda l: terminal(l) & enough_words(l) & ~has_js(l))
    clean = F.array_join(kept, "\n")
    n_sentences = F.regexp_count(clean, F.lit(r"[.!?]+"))
    has_lorem = F.lower(txt).contains("lorem ipsum")
    has_brace = txt.contains("{")
    # passthrough: the streaming gate's no-join form (see quality_filter)
    carry = docs.columns if passthrough else ["doc_id"]
    return docs.select(
        *carry,
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("kept_lines"),
        F.size(F.filter(lines, lambda l: ~terminal(l))).cast("long").alias("dropped_no_punct"),
        F.size(F.filter(lines, lambda l: terminal(l) & ~enough_words(l)))
        .cast("long")
        .alias("dropped_short"),
        F.size(F.filter(lines, lambda l: terminal(l) & enough_words(l) & has_js(l)))
        .cast("long")
        .alias("dropped_js"),
        n_sentences.cast("long").alias("n_sentences"),
        has_lorem.alias("has_lorem_ipsum"),
        has_brace.alias("has_brace"),
        (
            (n_sentences >= min_sentences) & ~has_lorem & ~has_brace
        ).alias("c4_keep"),
        clean.alias("clean_text"),
    )


def _gram_df_cut(doc_grams: DataFrame, max_gram_df: int) -> DataFrame:
    """Drop grams occurring in more than max_gram_df docs of the PROBED
    frame before contamination scoring — the near-dup hot-key df-cut
    applied to decontamination (r15). Two reasons, one per probe mode:
    a ubiquitous gram (boilerplate, stopword runs) carries no
    eval-overlap identity signal for the exact probe, and under the
    BLOOM probe its false-positive status is DETERMINISTIC — one hot
    gram landing on a set bit inflates every doc containing it, which
    is how a 1% per-gram fpp was measured amplifying to a 4.2% mean
    per-doc FP fraction on a corpus with shared wrapper sentences
    (PROBE_r15 §f). Cost: one bounded agg + semi-join over gram
    hashes, never text."""
    keep = (
        doc_grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= max_gram_df)
        .select("gh")
    )
    return doc_grams.join(keep, "gh", "left_semi")


def contamination_check(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    n: int = 8,
    bench_grams: DataFrame | None = None,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Benchmark decontamination: per document, the fraction of its
    distinct n-gram hashes that also occur anywhere in the benchmark
    set (eval suites, held-out test sets).

    Plan shape at 100 TB: the corpus side is one scan + one explode +
    ONE per-doc aggregation — the benchmark's distinct gram set is tiny
    by construction (eval suites are MBs, corpora are TBs), so it is
    BROADCAST and the membership probe is a broadcast left join whose
    hit flag folds into the same aggregation that counts total grams
    (count + count_if, no second pass over the gram set). Emits every
    doc (zero-gram docs included, frac 0.0); filter
    `contamination_frac >= t` downstream to quarantine.

    `bench_grams` accepts a prebuilt distinct-gh frame (one `gh`
    column) — the streaming ingest gate materializes it ONCE at
    stream start instead of re-exploding the benchmark per batch.
    `max_gram_df` drops grams occurring in more than that many probed
    docs before scoring (see _gram_df_cut) — total_ngrams then counts
    DISTINCTIVE grams only, which is what the fraction should be
    normalized by when boilerplate is present."""
    doc_grams = ngram_hashes(docs, n)
    if max_gram_df is not None:
        doc_grams = _gram_df_cut(doc_grams, max_gram_df)
    if bench_grams is None:
        if benchmark is None:
            raise ValueError(
                "contamination_check: pass benchmark= or a prebuilt "
                "bench_grams= distinct-gh frame"
            )
        bench_grams = ngram_hashes(benchmark, n, id_col="bench_id").select("gh").distinct()
    bench_grams = bench_grams.select("gh").withColumn("hit", F.lit(True))
    per_doc = (
        doc_grams.join(F.broadcast(bench_grams), "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("total_ngrams"),
            F.count_if(F.coalesce("hit", F.lit(False))).alias("contaminated_ngrams"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("total_ngrams", F.lit(0)).alias("total_ngrams"),
            F.coalesce("contaminated_ngrams", F.lit(0)).alias("contaminated_ngrams"),
            round6(
                F.when(
                    F.coalesce("total_ngrams", F.lit(0)) > 0,
                    F.coalesce("contaminated_ngrams", F.lit(0)).cast("double")
                    / F.col("total_ngrams").cast("double"),
                ).otherwise(F.lit(0.0))
            ).alias("contamination_frac"),
        )
    )


# --- deterministic weighted sampling (domain mixing) -------------------------

_HASH_SPACE = float(2**32)


def dsir_importance_weights(
    docs: DataFrame,
    target,
    alpha: float = 0.5,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling" — the published
    method behind targeting a pretraining mix at a domain): per-doc
    mean log2 likelihood ratio between a TARGET unigram LM and the
    raw-corpus unigram LM, both Laplace-smoothed over the raw
    vocabulary. Docs whose token distribution looks like the target
    slice score high; resampling/thresholding on the weight shifts the
    corpus toward the target domain. `target` is a boolean Column
    selecting the in-corpus target slice (e.g. source == 'wiki').

    Pipeline: ONE tokenization pass (checkpointed) feeds both LM count
    aggregates — c_raw and c_tgt come out of a single groupBy with a
    conditional count, so the raw corpus is never scanned twice; the
    three scalars (token totals + vocab) ride a broadcast 1-row cross
    join; scoring is the same shuffle rejoin on token as tfidf/
    surprisal (AQE absorbs stopword-hot keys). The registered query
    uses exact token identity so a SQL oracle reproduces it bit-for-
    bit; at 100 TB swap the token key for pmod(xxhash64(token), 2^k) —
    DSIR's hashed-feature form — which bounds LM state at the cost of
    oracle-checkability (the plan is unchanged).

    Returns (doc_id, n_tokens, bits_per_token)."""
    rows = lm_token_rows(docs, target).localCheckpoint()
    return dsir_score_rows(rows, lm_token_counts(rows), alpha=alpha)


def dsir_importance_weights_hashed(
    docs: DataFrame,
    target,
    alpha: float = 0.5,
    hash_bits: int = 18,
) -> DataFrame:
    """DSIR importance weights over HASHED n-gram features — the form
    Xie et al. 2023 actually run at scale: each token maps to
    pmod(xxhash64(token), 2^hash_bits), so the LM state is BOUNDED at
    2^hash_bits rows regardless of corpus vocabulary (at 100 TB the
    exact form's (token, c_raw, c_tgt) frame grows with the open
    vocabulary; the hashed form is a fixed-width array that fits
    broadcast/serving budgets). The plan is IDENTICAL to
    dsir_importance_weights — one tokenization pass, one conditional-
    count groupBy, one scoring rejoin — only the join key narrows from
    string to long, which also shrinks the shuffle. Collisions blur
    the LM slightly (two tokens share a bucket's counts); the
    exact-vs-hashed rank correlation is pytest-gated >= 0.95 at
    hash_bits=18, and rows-only at the driver (the bucket ids are
    hash-dependent, not SQL-reproducible).

    Returns (doc_id, n_tokens, bits_per_token), same contract as the
    exact form."""
    rows = lm_token_rows(docs, target).select(
        "doc_id",
        "is_target",
        F.pmod(F.xxhash64("token"), F.lit(2 ** int(hash_bits))).alias("token"),
    ).localCheckpoint()
    return dsir_score_rows(rows, lm_token_counts(rows), alpha=alpha)


def lm_token_rows(docs: DataFrame, target) -> DataFrame:
    """(doc_id, is_target, token) occurrence rows over whitespace-
    normalized lowercase text — the single tokenization pass both DSIR
    LM aggregates and the scoring join consume."""
    return docs.select(
        "doc_id",
        target.cast("boolean").alias("is_target"),
        F.explode(F.split(norm_text(F.col("text")), " ")).alias("token"),
    )


def lm_token_counts(rows: DataFrame) -> DataFrame:
    """The DSIR LM state: (token, c_raw, c_tgt) from one conditional-
    count groupBy. MERGEABLE by summation — per-batch deltas of this
    frame add up to the full-corpus counts, which is what lets the
    corpus ingest stream maintain the LM incrementally
    (streaming/corpus.py lm_counts_path) instead of rescanning the
    corpus per scoring run."""
    return rows.groupBy("token").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.count(F.when(F.col("is_target"), 1)).alias("c_tgt"),
    )


def dsir_score_rows(
    rows: DataFrame, stats: DataFrame, alpha: float = 0.5
) -> DataFrame:
    """Score tokenized docs against an LM-count frame (lm_token_counts
    shape) — split out so arriving docs can be scored against the
    STANDING corpus's maintained counts without touching corpus text.
    Tokens absent from the counts contribute the pure-smoothing ratio
    (both LMs back off to alpha), exactly as if they had count 0."""
    totals = stats.agg(
        F.sum("c_raw").alias("n_raw"),
        F.sum("c_tgt").alias("n_tgt"),
        F.count(F.lit(1)).alias("v"),
    )
    a = F.lit(float(alpha))
    joined = (
        rows.join(stats, "token", "left")
        .select(
            "doc_id",
            F.coalesce("c_raw", F.lit(0)).alias("c_raw"),
            F.coalesce("c_tgt", F.lit(0)).alias("c_tgt"),
        )
        .crossJoin(F.broadcast(totals))
    )
    lr = (
        F.log((F.col("c_tgt") + a) / (F.col("n_tgt") + a * F.col("v")))
        - F.log((F.col("c_raw") + a) / (F.col("n_raw") + a * F.col("v")))
    )
    ln2 = 0.6931471805599453
    return (
        joined.select("doc_id", lr.alias("log_ratio"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            round6(
                F.sum("log_ratio") / F.count(F.lit(1)).cast("double") / F.lit(ln2)
            ).alias("bits_per_token"),
        )
    )


def _standardizer(frame: DataFrame, feature_cols: list[str], label_col: str, label_type: str):
    """The LR fits' inputs: the (x array<double>, y label_type) frame
    their kernels read, and the per-feature (mean, population std) from
    one aggregate, a zero std read as 1. The fits train on standardized
    features so one learning rate fits unscaled inputs."""
    import numpy as np

    d = len(feature_cols)
    stats = frame.agg(
        *[F.avg(c).alias(f"m{i}") for i, c in enumerate(feature_cols)],
        *[F.stddev_pop(c).alias(f"s{i}") for i, c in enumerate(feature_cols)],
    ).first()
    mu = np.array([stats[f"m{i}"] for i in range(d)], dtype=np.float64)
    sd = np.array([stats[f"s{i}"] or 0.0 for i in range(d)], dtype=np.float64)
    sd[sd == 0.0] = 1.0
    vecs = frame.select(
        F.array(*[F.col(c).cast("double") for c in feature_cols]).alias("x"),
        F.col(label_col).cast(label_type).alias("y"),
    )
    return vecs, mu, sd


def _raw_space(wb, mu, sd):
    """Fold the standardization back into raw-space (weights, bias):
    z = w·(x-mu)/sd + b  ->  (w/sd)·x + (b - w·(mu/sd))."""
    return wb[:-1] / sd, float(wb[-1] - (wb[:-1] * (mu / sd)).sum())


def lr_fit(
    frame: DataFrame,
    feature_cols: list[str],
    label_col: str,
    n_iter: int = 50,
    lr: float = 0.5,
):
    """Distributed batch-gradient logistic regression — the trainable
    quality classifier real pretraining pipelines run after the
    heuristic gates (GPT-3's LR filter over quality features; CCNet's
    LM-based scoring): features are cheap per-doc statistics, labels a
    small seed set (a trusted slice, human tags, or a stronger model's
    verdicts), and the fitted scorer generalizes the seed to the whole
    corpus as one codegen expression (lr_score_col).

    Deterministic: full-batch gradient, zero-init weights, and each
    iteration one iterate_partials pass whose per-Arrow-batch
    (count, loss, gradient-sum) partials reduce in total order —
    repeated fits are bit-identical, so the fitted weights are a
    reproducible artifact of the corpus snapshot. Features are
    standardized internally (mean/std from one aggregate) so one
    learning rate fits unscaled inputs; returned weights are FOLDED
    BACK to raw feature space.

    Returns (weights [d], bias, loss trace)."""
    import numpy as np

    vecs, mu, sd = _standardizer(frame, feature_cols, label_col, "double")

    def kernel(wb, batches):
        import pandas as pd

        for pdf in batches:
            x = (np.vstack(pdf["x"].values).astype(np.float64) - mu) / sd
            y = pdf["y"].values.astype(np.float64)
            z = x @ wb[:-1] + wb[-1]
            p = 1.0 / (1.0 + np.exp(-z))
            g = np.concatenate([(p - y) @ x, [(p - y).sum()]])
            eps = 1e-12
            loss = -(y * np.log(p + eps) + (1 - y) * np.log(1 - p + eps)).sum()
            yield pd.DataFrame(
                {"n": [len(y)], "loss": [float(loss)], "g": [g.tolist()]}
            )

    trace: list[float] = []

    def update(w, rows):
        grad = np.zeros(len(w))
        loss = 0.0
        n = 0
        for r in rows:
            grad += np.array(r.g)
            loss += r.loss
            n += r.n
        trace.append(loss / n)
        return w - lr * grad / n

    # w: [weights..., bias] in standardized space
    w = iterate_partials(
        "lr_fit",
        vecs,
        kernel,
        "n long, loss double, g array<double>",
        update,
        np.zeros(len(feature_cols) + 1),
        n_iter,
    )
    raw_w, raw_b = _raw_space(w, mu, sd)
    return raw_w, raw_b, trace


def lr_fit_ovr(
    frame: DataFrame,
    feature_cols: list[str],
    label_col: str,
    classes: list[str],
    n_iter: int = 25,
    lr: float = 0.5,
):
    """One-vs-rest logistic regression for ALL classes in one
    distributed pass per iteration — the multi-class form of lr_fit
    (fastText's training shape: the K sigmoid heads share every
    feature computation). K independent lr_fit calls cost K x n_iter
    corpus passes; this costs n_iter, with the per-batch partial a
    K x (d+1) gradient matrix instead of a vector. Same construction
    as lr_fit: zero init, full-batch gradient, iterate_partials'
    total-ordered reduce, standardization folded back to raw space.
    Measured on langid_trained_report at sf0.1: 30.6 s -> ~7 s
    (5 classes).

    Returns {class: (weights [d], bias)} in raw feature space."""
    import numpy as np

    vecs, mu, sd = _standardizer(frame, feature_cols, label_col, "string")
    class_idx = {c: i for i, c in enumerate(classes)}

    def kernel(wb, batches):
        import pandas as pd

        kk = wb.shape[0]
        for pdf in batches:
            x = (np.vstack(pdf["x"].values).astype(np.float64) - mu) / sd
            y = np.zeros((len(pdf), kk))
            for r, lab in enumerate(pdf["y"].values):
                j = class_idx.get(lab)
                if j is not None:
                    y[r, j] = 1.0
            z = x @ wb[:, :-1].T + wb[:, -1]
            p = 1.0 / (1.0 + np.exp(-z))
            err = p - y  # n x k
            g = np.hstack([err.T @ x, err.sum(axis=0)[:, None]])  # k x (d+1)
            yield pd.DataFrame({"n": [len(pdf)], "g": [g.ravel().tolist()]})

    def update(w, rows):
        grad = np.zeros(w.shape)
        n = 0
        for r in rows:
            grad += np.array(r.g).reshape(w.shape)
            n += r.n
        return w - lr * grad / n

    # per class: [weights..., bias] in standardized space
    w = iterate_partials(
        "lr_fit_ovr",
        vecs,
        kernel,
        "n long, g array<double>",
        update,
        np.zeros((len(classes), len(feature_cols) + 1)),
        n_iter,
    )
    return {c: _raw_space(w[i], mu, sd) for c, i in class_idx.items()}


def lr_score_col(feature_cols: list[str], weights, bias: float) -> F.Column:
    """sigmoid(w.x + b) as a pure codegen Column — scoring the full
    corpus with a fitted lr_fit classifier is a narrow projection, no
    Python anywhere."""
    z = F.lit(float(bias))
    for c, w in zip(feature_cols, weights):
        z = z + F.col(c).cast("double") * F.lit(float(w))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def quality_lr_score(docs: DataFrame, n_iter: int = 50, lr: float = 0.5) -> DataFrame:
    """End-to-end trained quality scoring: engineer the cheap per-doc
    features (token count, type-token ratio, chars/token), weak-label a
    seed from the corpus's own extremes (top/bottom length-saturation x
    diversity heuristic — the bootstrap real pipelines use when no
    human labels exist yet), fit the deterministic LR on the seed, and
    score EVERY doc with the resulting codegen expression.

    Rows-only by design (iterative fit); separability, determinism and
    agreement-with-heuristic invariants are pytest-gated. Returns
    (doc_id, token_count, type_token_ratio, quality_prob)."""
    from .text import quality_score

    feats = quality_score(docs).select(
        "doc_id",
        "token_count",
        "type_token_ratio",
        "quality_score",
    ).withColumn(
        "log_tokens", F.log(F.col("token_count").cast("double") + F.lit(1.0))
    )
    feats = feats.localCheckpoint()
    cols = ["log_tokens", "type_token_ratio"]
    # weak seed: heuristic extremes. Exact percentile keeps the seed
    # (and therefore the fit) bit-deterministic for the test/oracle
    # surface; at 100 TB swap for approx_percentile(..., 1e-4) — the
    # seed boundary needs no exactness, only stability, and the exact
    # aggregate's state is distinct-value-sized
    qs = feats.agg(
        F.expr("percentile(quality_score, 0.25)").alias("lo"),
        F.expr("percentile(quality_score, 0.75)").alias("hi"),
    ).first()
    if qs["lo"] is None:
        # no doc has a quality score, so the seed is empty and lr_fit
        # would raise: score with an untrained model (zero weights, NaN
        # bias), so each quality_prob is NaN or NULL, never made up
        w, b = [0.0] * len(cols), float("nan")
    else:
        seed = feats.where(
            (F.col("quality_score") <= qs["lo"]) | (F.col("quality_score") >= qs["hi"])
        ).withColumn("y", (F.col("quality_score") >= qs["hi"]).cast("int"))
        w, b, _ = lr_fit(seed, cols, "y", n_iter=n_iter, lr=lr)
    return feats.select(
        "doc_id",
        "token_count",
        "type_token_ratio",
        round6(lr_score_col(cols, w, b)).alias("quality_prob"),
    )


def sample_uniform_col(salt: str, id_col: str = "doc_id") -> F.Column:
    """Deterministic uniform-ish u in [0,1) from (salt, id): the first 8
    hex digits of md5 as a 32-bit integer. Pure function of its inputs —
    portable bit-for-bit to any engine with md5 (the DuckDB oracle uses
    the identical expression), and stable across runs/partitionings,
    which `rand(seed)` is not (it seeds per-partition)."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8), 16, 10)
    return h.cast("bigint").cast("double") / F.lit(_HASH_SPACE)


def weighted_sample(
    docs: DataFrame,
    rates: dict[str, float],
    salt: str = "mix-v1",
    default_rate: float = 0.0,
    source_col: str = "source",
) -> DataFrame:
    """Domain mixing: keep each document with its source's rate
    (a 0.3-rate source contributes ~30% of its docs), decided by the
    deterministic per-doc hash — no shuffle, no state, one scan with
    the rate table broadcast. Sources absent from `rates` fall back to
    default_rate (0.0 = drop unlisted domains)."""
    spark = docs.sparkSession
    rate_df = spark.createDataFrame(list(rates.items()), f"{source_col} string, rate double")
    u = sample_uniform_col(salt)
    return (
        docs.join(F.broadcast(rate_df), source_col, "left")
        .withColumn("rate", F.coalesce("rate", F.lit(default_rate)))
        .withColumn("sample_u", round6(u))
        .where(F.col("sample_u") < F.col("rate"))
    )


def assign_splits(
    docs: DataFrame,
    fractions: dict[str, float] | None = None,
    salt: str = "split-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test assignment: each doc lands in the
    split whose cumulative-fraction interval contains its hash-uniform
    u. Pure function of (salt, id) — adding or removing OTHER docs
    never moves an existing doc across splits (unlike randomSplit,
    whose assignment depends on partitioning), so eval sets stay fixed
    as the corpus grows. The LAST entry absorbs any remainder.

    The comparison uses the ROUNDED u on both engine and oracle sides,
    so interval-boundary docs land identically everywhere. One scan,
    no shuffle, no state."""
    fractions = fractions or {"train": 0.9, "val": 0.05, "test": 0.05}
    u = round6(sample_uniform_col(salt, id_col))
    names = list(fractions)
    split = None
    cum = 0.0
    for name in names[:-1]:
        cum += fractions[name]
        cond = u < F.lit(round(cum, 9))
        split = F.when(cond, name) if split is None else split.when(cond, name)
    split = split.otherwise(names[-1]) if split is not None else F.lit(names[-1])
    return docs.withColumn("sample_u", u).withColumn("split", split)


# --- sequence packing --------------------------------------------------------


def pack_sequences(
    docs: DataFrame,
    max_tokens: int = 1024,
    buckets: int = 32,
) -> DataFrame:
    """Greedy first-fit-decreasing packing of documents into fixed-size
    token windows (training-context assembly). Returns one row per doc:
    (doc_id, token_count, bucket, pack_id, oversize).

    Scale design: the only data that crosses into Python is
    (doc_id, token_count) — 16 bytes/doc, pruned BEFORE the shuffle, so
    a 100 TB corpus presents as a few GB of counts. Docs are split into
    `buckets` independent packing problems by an explicit hash column
    (pmod(xxhash64(doc_id))), each solved in one applyInPandas group —
    parallelism = buckets, deterministic because the bucket assignment
    is a column function, not a partitioner side-effect, and the greedy
    order (token_count desc, doc_id) is a total order. FFD wastes at
    most ~22% vs optimal (classic bound); packs never exceed max_tokens
    except oversize singletons (token_count > max_tokens), flagged for
    downstream truncation/chunking rather than silently dropped."""
    counts = docs.select(
        "doc_id",
        F.least(F.size(tokens_col()), F.lit(2**31 - 1)).cast("long").alias("token_count"),
    ).withColumn("bucket", F.pmod(F.xxhash64("doc_id"), F.lit(buckets)).cast("int"))

    out_schema = (
        "doc_id long, token_count long, bucket int, pack_id long, oversize boolean"
    )

    def pack(pdf):
        import pandas as pd

        pdf = pdf.sort_values(["token_count", "doc_id"], ascending=[False, True]).reset_index(
            drop=True
        )
        bucket = int(pdf["bucket"].iloc[0]) if len(pdf) else 0
        pack_ids, oversize = [], []
        # open packs: list of [remaining_capacity, pack_id]; first-fit
        # over packs in creation order
        packs: list[list[int]] = []
        next_id = 0
        for tc in pdf["token_count"]:
            tc = int(tc)
            if tc > max_tokens:
                pack_ids.append(next_id)
                oversize.append(True)
                next_id += 1
                continue
            placed = False
            for p in packs:
                if p[0] >= tc:
                    p[0] -= tc
                    pack_ids.append(p[1])
                    placed = True
                    break
            if not placed:
                packs.append([max_tokens - tc, next_id])
                pack_ids.append(next_id)
                next_id += 1
            oversize.append(False)
        pdf["pack_id"] = pd.Series(pack_ids, dtype="int64") + bucket * (1 << 40)
        pdf["oversize"] = pd.Series(oversize, dtype="bool")
        return pdf[["doc_id", "token_count", "bucket", "pack_id", "oversize"]]

    return counts.groupBy("bucket").applyInPandas(pack, out_schema)


def pack_summary(assignments: DataFrame, max_tokens: int = 1024) -> DataFrame:
    """Per-pack rollup of pack_sequences output: doc count, token total,
    fill ratio — the packing-efficiency report."""
    return assignments.groupBy("bucket", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("token_count").alias("pack_tokens"),
        F.max(F.col("oversize").cast("int")).cast("boolean").alias("oversize"),
        round6(F.sum("token_count").cast("double") / F.lit(float(max_tokens))).alias("fill_ratio"),
    )


# --- cleaning / PII shaping --------------------------------------------------

# RE2-safe (no lookaround/backreference): the DuckDB oracle runs these
# very patterns, so counts and cleaned lengths match bit-for-bit.
HTML_TAG_RE = r"<[^>]+>"
URL_RE = r"https?://[^\s]+"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"


def clean_text_col(text=None) -> F.Column:
    """Cleaning chain: drop HTML tags, redact URLs/e-mails to typed
    placeholder tokens, collapse whitespace, trim. Order matters (tags
    first so `<a href=...>` URLs don't half-survive; e-mails after URLs
    so mailto-ish text inside URLs is already gone)."""
    c = F.col("text") if text is None else text
    c = F.regexp_replace(c, HTML_TAG_RE, " ")
    c = F.regexp_replace(c, URL_RE, "<URL>")
    c = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def clean_stats(docs: DataFrame) -> DataFrame:
    """Per-doc cleaning report: artifact counts and cleaned length —
    the corpus-QA view of what cleaning would remove. One scan, all
    regexp_count/regexp_replace in codegen."""
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(HTML_TAG_RE)).cast("int").alias("n_html_tags"),
        F.regexp_count(F.col("text"), F.lit(URL_RE)).cast("int").alias("n_urls"),
        F.regexp_count(F.col("text"), F.lit(EMAIL_RE)).cast("int").alias("n_emails"),
        F.length(clean_text_col()).cast("int").alias("clean_chars"),
        F.col("n_chars").cast("int").alias("raw_chars"),
    )


# --- PII detection / redaction ----------------------------------------------
#
# RE2-safe like the cleaning patterns above (no lookaround/backreference,
# \b and (?:...) only — both Java regex and RE2 use leftmost-first greedy
# semantics for these), so the DuckDB oracle reproduces every match.
PII_EMAIL_RE = EMAIL_RE
PII_SSN_RE = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"
PII_IPV4_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
PII_PHONE_RE = r"(?:\+[0-9]{1,2}[ .-]?)?\b\(?[0-9]{3}\)?[ .-]?[0-9]{3}[ .-]?[0-9]{4}\b"

# Redaction order is part of the contract: e-mails first (their local
# parts can contain digit runs), then the digit-shaped identifiers from
# most to least specific — SSN (3-2-4 with dashes), IPv4 (dotted quads),
# phone (broadest digit pattern) last so it cannot eat the others.
PII_STAGES = [
    ("email", PII_EMAIL_RE, "<EMAIL>"),
    ("ssn", PII_SSN_RE, "<SSN>"),
    ("ipv4", PII_IPV4_RE, "<IP>"),
    ("phone", PII_PHONE_RE, "<PHONE>"),
]


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Typed PII redaction: e-mail / SSN / IPv4 / phone -> placeholder
    tokens, with a per-type match count taken at the stage where the
    pattern is applied (counts are stage-sequential, so a digit run
    consumed by an earlier stage is not double-counted by a later one).

    Single scan, all regexp_count/regexp_replace in whole-stage codegen;
    no shuffle, no UDF — at 100 TB this is a map-only pass that
    co-travels with whatever scan feeds it."""
    c = F.col(text_col)
    out = docs
    for name, pat, token in PII_STAGES:
        out = out.withColumn(f"n_{name}", F.regexp_count(c, F.lit(pat)).cast("int"))
        c = F.regexp_replace(c, pat, token)
    return out.withColumn("scrubbed_text", c)


def pii_stats(docs: DataFrame) -> DataFrame:
    """Per-doc PII report: typed counts + scrubbed length (the QA view
    a curation pipeline keeps; the scrubbed text itself stays in the
    engine). Deterministic, oracle-checkable."""
    scrubbed = pii_scrub(docs)
    return scrubbed.select(
        "doc_id",
        "n_email",
        "n_ssn",
        "n_ipv4",
        "n_phone",
        (F.col("n_email") + F.col("n_ssn") + F.col("n_ipv4") + F.col("n_phone") > 0).alias(
            "has_pii"
        ),
        F.length("scrubbed_text").cast("int").alias("scrubbed_chars"),
    )


# --- Gopher-style quality filter ---------------------------------------------


def quality_filter(
    docs: DataFrame,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_mean_tok_len: float = 1.5,
    max_mean_tok_len: float = 12.0,
    min_ttr: float = 0.2,
    passthrough: bool = False,
) -> DataFrame:
    """Hard quality rules in the Gopher/C4 style: token-count bounds,
    mean-token-length band, type-token-ratio floor. Emits every doc with
    keep boolean + comma-joined reasons (scalar output — no array
    columns cross a result canonicalizer). One scan, no shuffle.

    passthrough=True carries EVERY input column through alongside the
    verdict columns — the streaming ingest gate consumes this form so
    the keep/drop split is a pure filter on one projection instead of
    a doc_id join back to the batch (which re-executes the batch's
    dedup lineage and pays a shuffle; measured 50% per-batch overhead
    for the strict gates before the r10 rewire, PROBE_r10 §b)."""
    toks = tokens_col()
    n_tok = F.size(toks).cast("double")
    # mean token length as total-token-chars / n: concat_ws('') counts
    # the token characters JVM-side without a per-token lambda.
    # try_divide, not /: a ZERO-TOKEN doc (empty/whitespace-only text —
    # present in any real crawl batch) makes n_tok 0, and under ANSI
    # mode a plain divide ABORTS the whole pass — on the streaming
    # ingest path that kills the micro-batch, not just the row (found
    # by the streaming edge-parity fixture, r11). The doc still fails
    # too_few_tokens, so keep/reasons are unchanged; the registered
    # oracle pre-filters empty text on both engines, so hashes are
    # unchanged too.
    mean_len = F.try_divide(F.length(F.concat_ws("", toks)).cast("double"), n_tok)
    ttr = F.try_divide(F.size(F.array_distinct(toks)).cast("double"), n_tok)
    rules = [
        # NULL text -> NULL n_tok -> every comparison rule is NULL ->
        # no reason fires -> keep would be TRUE: a null-text doc
        # sailing through a quality gate is the silent-keep twin of the
        # divide abort. Explicit rule; n_tok is non-null for any
        # non-null text (tokens_col maps empty to []), so the
        # registered query (which filters null/empty text) never fires it.
        (n_tok.isNull(), "null_text"),
        (n_tok < min_tokens, "too_few_tokens"),
        (n_tok > max_tokens, "too_many_tokens"),
        (mean_len < min_mean_tok_len, "mean_token_too_short"),
        (mean_len > max_mean_tok_len, "mean_token_too_long"),
        (ttr < min_ttr, "low_type_token_ratio"),
    ]
    reasons = F.array_compact(F.array(*[F.when(cond, F.lit(name)) for cond, name in rules]))
    carry = docs.columns if passthrough else ["doc_id", "lang"]
    return docs.select(
        *carry,
        F.size(toks).cast("int").alias("token_count"),
        round6(mean_len).alias("mean_token_len"),
        round6(ttr).alias("type_token_ratio"),
        (F.size(reasons) == 0).alias("keep"),
        F.array_join(reasons, ",").alias("reject_reasons"),
    )


# --- temperature-scaled source mixing ---------------------------------------


def temperature_mix(docs: DataFrame, alpha: float = 0.5, source_col: str = "source") -> DataFrame:
    """Temperature-scaled domain mixing weights (the multilingual-LM
    sampling rule: p_s proportional to n_s^alpha). alpha=1 reproduces
    natural proportions; alpha->0 flattens toward uniform; 0<alpha<1
    upsamples small sources without letting any source dominate.

    Per source: doc/token mass, the normalized sampling weight, and the
    effective epochs a one-total-token-budget run would make over that
    source (weight * total_tokens / n_tokens — >1 means the source is
    repeated). One corpus scan into a sources-sized aggregate; the
    normalizer rides along as a broadcast 1-row aggregate of the tiny
    per-source frame, so no driver-side collect and no second scan."""
    toks = tokens_col()
    per_source = (
        docs.select(F.col(source_col).alias("source"), F.size(toks).alias("_n_tok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n_tok").alias("n_tokens"),
        )
    )
    mass = F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))
    # sources-sized and consumed twice (normalizer + output): checkpoint
    # so the corpus scan provably runs once (exchange reuse is
    # best-effort, not contractual)
    weighted = per_source.withColumn("_mass", mass).localCheckpoint()
    totals = weighted.select(
        F.sum("_mass").alias("_mass_total"), F.sum("n_tokens").alias("_tok_total")
    )
    return (
        weighted.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            round6(F.col("_mass") / F.col("_mass_total")).alias("mix_weight"),
            round6(
                (F.col("_mass") / F.col("_mass_total"))
                * F.col("_tok_total").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("effective_epochs"),
        )
    )


def quality_quantile_filter(
    docs: DataFrame,
    q: float = 0.25,
    target_chars: float = 400.0,
) -> DataFrame:
    """Corpus-relative quality gate: score every document (the same
    deterministic length x diversity heuristic as text.quality_score),
    take the exact q-quantile of the ROUNDED scores corpus-wide, keep
    documents at or above it. Unlike quality_filter's fixed rules, the
    threshold adapts to the corpus — the usual "drop the worst quartile"
    curation step.

    Two passes over the scores, not the corpus: the per-doc score frame
    feeds both the 1-row exact-percentile aggregate (broadcast back via
    crossJoin — no driver collect) and the filter, so it is checkpointed
    once (16-byte rows; re-reading them beats re-tokenizing
    the corpus per consumer, and Spark plans the two consumers as
    independent subtrees otherwise). The quantile is
    interpolated from round6-ed scores and itself round6-ed before the
    comparison, so the keep decision is bit-identical cross-engine.
    At 100 TB the exact percentile's single-pass merge is fine (it
    aggregates doubles, not rows); approx_percentile is the documented
    fallback if the score cardinality ever explodes."""
    from .text import quality_score

    scored = (
        quality_score(docs, target_chars=target_chars)
        .select("doc_id", "quality_score")
        .localCheckpoint()
    )
    thr = scored.select(
        round6(F.expr(f"percentile(quality_score, {q})")).alias("threshold")
    )
    return (
        scored.crossJoin(F.broadcast(thr))
        .where(F.col("quality_score") >= F.col("threshold"))
        .select("doc_id", "quality_score", "threshold")
    )


def cap_per_source(
    docs: DataFrame,
    max_docs: int = 1000,
    salt: str = "cap-v1",
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Domain cap: keep at most max_docs documents per source, chosen by
    the salted per-doc hash (deterministic, rerun-stable, unbiased by
    ingest order) — the "no single domain dominates the corpus" rule.

    One rank window per source over (hash, id) — the shuffle is by
    source, the same key the rows aggregate on everywhere else, and the
    per-partition sort is over tiny (source, u, id) triples. A source
    with a billion docs is one window partition: at that scale pre-prune
    with a cheap WHERE u < (generous estimate) before ranking, which
    this operator's salted-uniform u makes exact-in-expectation."""
    from pyspark.sql.window import Window

    u = round6(sample_uniform_col(salt, id_col))
    w = Window.partitionBy(source_col).orderBy("sample_u", id_col)
    return (
        docs.withColumn("sample_u", u)
        .withColumn("source_rank", F.row_number().over(w))
        .where(F.col("source_rank") <= max_docs)
    )


def shard_manifest(
    docs: DataFrame,
    n_shards: int = 16,
    salt: str = "shard-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic corpus shuffle + sharding: the manifest that writes
    a training corpus as n_shards files in reproducible random order.
    Each doc's shard is floor(u * n) of its salted-hash uniform (balanced
    in expectation, multinomial deviation ~sqrt(n_docs/n_shards)); its
    position within the shard is the rank of (u, id) there — re-running
    on a grown corpus keeps every old doc in its shard (pure function of
    salt+id), only positions shift.

    One scan + one shuffle keyed by shard — the same exchange the shard
    WRITE itself needs, so the manifest is free when fused with the
    writer; per-shard sort is over (u, id) pairs only."""
    from pyspark.sql.window import Window

    u = round6(sample_uniform_col(salt, id_col))
    w = Window.partitionBy("shard_id").orderBy("sample_u", id_col)
    return (
        docs.withColumn("sample_u", u)
        .withColumn(
            "shard_id", F.least(F.floor(F.col("sample_u") * n_shards), F.lit(n_shards - 1)).cast("int")
        )
        .withColumn("shard_pos", F.row_number().over(w))
        .select(id_col, "sample_u", "shard_id", "shard_pos")
    )


def quality_quantile_filter_approx(
    docs: DataFrame,
    q: float = 0.25,
    target_chars: float = 400.0,
    accuracy: int = 10_000,
) -> DataFrame:
    """Scale twin of quality_quantile_filter: approx_percentile
    (Greenwald-Khanna sketch, bounded state at any score cardinality)
    replaces the exact percentile — the same pattern as
    a9_daily_quality_approx. Threshold differs from exact by at most
    1/accuracy of rank, so the kept set can differ near the boundary;
    rows-only by design with exact-vs-approx agreement asserted in
    pytest."""
    from .text import quality_score

    scored = quality_score(docs, target_chars=target_chars).select("doc_id", "quality_score")
    scored = scored.localCheckpoint()
    thr = scored.select(
        round6(
            F.expr(f"approx_percentile(quality_score, {q}, {accuracy})")
        ).alias("threshold")
    )
    return (
        scored.crossJoin(F.broadcast(thr))
        .where(F.col("quality_score") >= F.col("threshold"))
        .select("doc_id", "quality_score", "threshold")
    )


def write_training_shards(
    docs: DataFrame,
    path: str,
    n_shards: int = 16,
    salt: str = "shard-v1",
    id_col: str = "doc_id",
) -> None:
    """Materialize the shard_manifest layout: the corpus written as
    shard_id=K parquet directories, each file's rows in the manifest's
    deterministic (sample_u, id) order — the reproducible-random
    training-file layout a data loader streams sequentially.

    One scan + ONE exchange (repartition by shard — the same shuffle the
    manifest's rank window needs, here doing double duty as the write
    partitioning) + an in-partition sort; no global sort, no window.
    Re-running after corpus growth rewrites shards with old docs still
    in their original shard (shard is a pure function of salt+id)."""
    u = round6(sample_uniform_col(salt, id_col))
    sharded = docs.withColumn("sample_u", u).withColumn(
        "shard_id",
        F.least(F.floor(F.col("sample_u") * n_shards), F.lit(n_shards - 1)).cast("int"),
    )
    (
        sharded.repartition(n_shards, "shard_id")
        .sortWithinPartitions("shard_id", "sample_u", id_col)
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(path)
    )


def quality_deciles(
    docs: DataFrame, target_chars: float = 400.0, n_bins: int = 10
) -> DataFrame:
    """Curriculum binning: every document labeled with its corpus-
    relative quality decile (1 = worst .. n_bins = best) — the bucket
    column quality-aware mixture sampling and curricula key on.

    The n_bins-1 exact percentile thresholds come from ONE aggregate
    over the scores (percentile takes the fraction array in a single
    pass) and broadcast back; binning is a codegen CASE over the
    rounded thresholds, so the decile decision is bit-stable
    cross-engine. Two passes over the 16-byte score frame
    (checkpointed), one over the corpus."""
    from .text import quality_score

    scored = quality_score(docs, target_chars=target_chars).select(
        "doc_id", "quality_score"
    ).localCheckpoint()
    fracs = ", ".join(str(round(i / n_bins, 9)) for i in range(1, n_bins))
    thr = scored.select(
        F.expr(f"percentile(quality_score, array({fracs}))").alias("_thr")
    ).select(*[round6(F.col("_thr")[i]).alias(f"_t{i}") for i in range(n_bins - 1)])
    binned = scored.crossJoin(F.broadcast(thr))
    decile = F.lit(1)
    for i in range(n_bins - 1):
        decile = decile + (F.col("quality_score") > F.col(f"_t{i}")).cast("int")
    return binned.select("doc_id", "quality_score", decile.alias("decile"))


def source_scorecard(docs: DataFrame, target_chars: float = 400.0) -> DataFrame:
    """Crawl-source scorecard: per source, document/token mass, mean
    quality score, and corpus token share — the decision table behind
    source up/down-weighting (pair with temperature_mix /
    weighted_sample). One corpus scan into a sources-sized aggregate;
    the corpus-total divisor broadcasts back."""
    toks = tokens_col()
    n_tok = F.size(toks).cast("double")
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tok
    q = F.least(F.lit(1.0), F.col("n_chars").cast("double") / F.lit(target_chars)) * ttr
    per_source = (
        docs.select("source", F.size(toks).alias("_n_tok"), q.alias("_q"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n_tok").cast("long").alias("total_tokens"),
            round6(F.avg("_q")).alias("avg_quality"),
        )
        # sources-sized, consumed twice: checkpoint = one corpus scan
        .localCheckpoint()
    )
    tot = per_source.select(F.sum("total_tokens").alias("_tok_total"))
    return (
        per_source.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "avg_quality",
            round6(
                F.col("total_tokens").cast("double") / F.col("_tok_total").cast("double")
            ).alias("token_share"),
        )
    )


def split_leakage_report(
    docs: DataFrame,
    fractions: dict[str, float] | None = None,
    salt: str = "split-v1",
    text_col: str = "text",
) -> DataFrame:
    """Train/eval contamination audit: normalized-exact duplicate groups
    that SPAN split boundaries — each reported row is an eval-set
    member leaking training signal (the in-house twin of benchmark
    decontamination; run it before every release cut).

    One scan: split assignment and the text digest are both pure row
    maps, so the only shuffle is the digest groupBy with the wide text
    column pruned before the exchange. Near-dup leakage (paraphrases
    across splits) composes the same split column with
    dedup.cross_corpus_jaccard on the per-split slices."""
    from .dedup import text_digest

    assigned = assign_splits(docs, fractions=fractions, salt=salt)
    keyed = assigned.select(text_digest(F.col(text_col)).alias("text_hash"), "split")
    return (
        keyed.groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.size(F.collect_set("split")).alias("n_splits"),
            F.array_join(F.array_sort(F.collect_set("split")), ",").alias("splits"),
        )
        .where(F.col("n_splits") > 1)
    )


def pack_token_ranges(
    docs: DataFrame,
    capacity: int = 512,
    n_shards: int = 16,
    salt: str = "pack-v1",
    id_col: str = "doc_id",
) -> DataFrame:
    """Contiguous shuffle-concatenate-chop packing — the OTHER standard
    sequence-packing discipline next to pack_sequences' first-fit:
    documents are laid end-to-end in deterministic shuffled order and
    the token stream is chopped into fixed `capacity` windows, so a
    document may STRADDLE a window boundary (it gets split at training
    time rather than leaving slack). This is the layout T5/GPT-style
    span-corruption pipelines use; unlike FFD it is pure window
    algebra — fully SQL-expressible and hash-gate checkable.

    Per doc: its shard (salted-hash, same discipline as shard_manifest),
    the token offset where it starts within the shard's stream, the
    window its first token lands in, the offset inside that window, and
    whether it straddles into the next window.

    Scale shape: ONE window (running token sum) partitioned by shard —
    never a global single-task cumsum; everything else is a projection.
    The shard count is the parallelism knob, exactly as in the shard
    writer this feeds."""
    from pyspark.sql.window import Window

    from .text import tokens_col

    u = round6(sample_uniform_col(salt, id_col))
    base = docs.select(
        F.col(id_col),
        F.size(tokens_col()).cast("long").alias("n_tokens"),
    ).withColumn("sample_u", u).withColumn(
        "shard_id",
        F.least(F.floor(F.col("sample_u") * n_shards), F.lit(n_shards - 1)).cast("int"),
    )
    w = Window.partitionBy("shard_id").orderBy("sample_u", id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offset = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return base.select(
        id_col,
        "shard_id",
        "n_tokens",
        offset.alias("stream_offset"),
        F.floor(offset / capacity).cast("long").alias("window_id"),
        (offset % capacity).cast("long").alias("offset_in_window"),
        (
            (offset % capacity) + F.col("n_tokens") > capacity
        ).alias("straddles"),
    )


def budget_select(
    docs: DataFrame,
    token_budget: int,
    target_chars: float = 400.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-budget corpus selection: keep the highest-quality documents
    whose cumulative token mass fits `token_budget` — "give me the best
    N-billion tokens", the final sizing decision after cleaning and
    dedup. Deterministic total order: (quality_score desc, doc_id).

    Scale shape — deliberately NOT one global cumsum window (a single
    task sorting the corpus): quality scores are already round6-bucketed,
    so (1) one aggregate reduces the corpus to per-score token totals
    (score-cardinality-sized, <= 1e6 rows), (2) a tiny window over that
    frame computes the running total per score DESC and finds the
    boundary score, (3) docs strictly above the boundary keep outright
    (broadcast threshold), and (4) ONLY the boundary score's docs --
    one score-bucket, not the corpus -- pay an ordered cumsum to fill
    the remaining budget doc-by-doc. Output: every doc with its
    quality, token count, and keep flag."""
    from pyspark.sql.window import Window

    from .text import quality_score

    scored = quality_score(docs, target_chars=target_chars).select(
        id_col, "quality_score", F.col("token_count").cast("long").alias("n_tokens")
    ).localCheckpoint()
    per_score = scored.groupBy("quality_score").agg(
        F.sum("n_tokens").alias("score_tokens")
    )
    wd = Window.orderBy(F.desc("quality_score")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = per_score.withColumn("cum_tokens", F.sum("score_tokens").over(wd))
    # boundary = highest score whose cumulative total EXCEEDS the budget
    # (scores above it fit fully); may be absent (everything fits)
    boundary = ranked.where(F.col("cum_tokens") > token_budget).orderBy(
        F.desc("quality_score")
    ).limit(1)
    b = boundary.collect()
    if not b:
        return scored.select(id_col, "quality_score", "n_tokens", F.lit(True).alias("keep"))
    b_score = b[0]["quality_score"]
    b_remaining = token_budget - (b[0]["cum_tokens"] - b[0]["score_tokens"])
    wb = Window.orderBy(id_col).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    at_boundary = scored.where(F.col("quality_score") == b_score).withColumn(
        "_cum", F.sum("n_tokens").over(wb)
    )
    return (
        scored.where(F.col("quality_score") > b_score)
        .select(id_col, "quality_score", "n_tokens", F.lit(True).alias("keep"))
        .unionByName(
            at_boundary.select(
                id_col,
                "quality_score",
                "n_tokens",
                (F.col("_cum") <= b_remaining).alias("keep"),
            )
        )
        .unionByName(
            scored.where(F.col("quality_score") < b_score).select(
                id_col, "quality_score", "n_tokens", F.lit(False).alias("keep")
            )
        )
    )


def boilerplate_line_filter(docs: DataFrame, min_docs: int = 3) -> DataFrame:
    """CCNet-style corpus-level boilerplate removal (Wenzek et al.
    2020 §3.1 paragraph dedup): a line whose normalized hash appears in
    at least `min_docs` DISTINCT documents is navigation/footer/license
    boilerplate and is removed from every document (unlike
    sentence_span_dedup, no occurrence survives — boilerplate carries
    no training signal at all). Within-doc repeats of a non-boilerplate
    line survive untouched.

    Conventions shared with the oracle: lines lowercased, split on
    newline, whitespace-collapsed, empties dropped; membership keyed on
    md5 of the normalized line; clean_text re-joins surviving lines
    with newlines; null text behaves as empty.

    Per doc: (doc_id, n_lines, removed_lines, clean_text).

    Plan shape: one distinct (doc_id, hash) pass + a count keyed on the
    16-byte hash (both map-side combined), the boilerplate set joined
    back on the same hash key, and per-doc membership arrays collected
    (bounded by the doc's own boilerplate lines). The rebuild is a
    left join + per-line codegen filter against that array — the
    corpus text itself never shuffles. Linear in corpus lines."""
    txt = F.coalesce(F.col("text"), F.lit(""))
    lines_col = F.filter(
        F.transform(
            F.split(F.lower(txt), "\n"),
            lambda l: F.regexp_replace(F.trim(l), r"\s+", " "),
        ),
        lambda l: F.length(l) > 0,
    )
    base = docs.select("doc_id", lines_col.alias("_lines"))
    occurrences = base.select(
        "doc_id", F.explode("_lines").alias("line")
    ).select("doc_id", F.md5("line").alias("h"))
    present = occurrences.distinct()
    bp = (
        present.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") >= min_docs)
        .select("h")
    )
    per_doc_bp = (
        present.join(bp, "h")
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("_bp"))
    )
    kept = F.when(F.col("_bp").isNull(), F.col("_lines")).otherwise(
        F.filter("_lines", lambda l: ~F.exists("_bp", lambda b: b == F.md5(l)))
    )
    return base.join(per_doc_bp, "doc_id", "left").select(
        "doc_id",
        F.size("_lines").cast("long").alias("n_lines"),
        (F.size("_lines") - F.size(kept)).cast("long").alias("removed_lines"),
        F.array_join(kept, "\n").alias("clean_text"),
    )


def ccnet_perplexity_buckets(
    docs: DataFrame, mode: str = "exact", surprisal: DataFrame | None = None
) -> DataFrame:
    """CCNet's perplexity bucketing (Wenzek et al. 2020 §3.3): split
    each language's documents into head / middle / tail thirds by
    language-model score — head (lowest perplexity) is the
    highest-quality slice a pretraining mix upsamples. The LM is the
    corpus's own unigram distribution (unigram_surprisal, the
    deterministic stand-in for CCNet's KenLM); pass `surprisal=` to
    reuse a precomputed pass.

    mode='exact': SQL-ntile(3) semantics — rank-exact thirds over
    (lang ORDER BY bits_per_token, doc_id), bit-portable to the SQL
    oracle (the ordering key is the ROUNDED bits value plus doc_id, so
    cross-engine float noise cannot flip an ordering). Since r13 this
    DELEGATES to ccnet_perplexity_buckets_distributed (VERDICT r12 #6):
    identical output row-for-row (pytest-pinned at 3 partition counts),
    but no per-language single-task sort — the plan survives a dominant
    language at 100 TB.

    mode='exact_window': the original one-window ntile(3) form, kept
    ONLY as the audit-scale test oracle the distributed form is pinned
    against (and as the cheapest shape for tiny in-memory frames). It
    sorts each language in ONE task — never register a production key
    on it; no registered key plans it since r13.

    NOTE on laziness: the distributed form is EAGER by construction
    (range partition + localCheckpoint + a bounded driver fold), so
    mode='exact' executes Spark jobs at call time and downstream
    filters do not push below the bucketing — global per-language rank
    cannot be computed lazily over an unseen subset anyway. A caller
    that wants a fully lazy frame for a small audit corpus should ask
    for mode='exact_window' explicitly.

    mode='approx': the production form CCNet itself uses — per-lang
    tercile CUTOFFS from percentile_approx (a tiny aggregate),
    broadcast back, bucket by comparison. No per-lang sort, no
    single-task skew: one map-side pass after a sketch-sized agg.
    Bucket edges can differ from exact by the sketch tolerance at the
    boundaries (pytest gates >= 95% agreement); rows-only semantics.

    Output: (doc_id, lang, token_count, bits_per_token, ppl_bucket)
    with null lang coalesced to ''."""
    from .text import unigram_surprisal

    if mode not in ("exact", "exact_window", "approx"):
        raise ValueError(f"ccnet_perplexity_buckets: unknown mode {mode!r}")
    if mode == "exact":
        return ccnet_perplexity_buckets_distributed(docs, surprisal=surprisal)
    nonempty = docs.where(F.length(F.trim(F.col("text"))) > 0)
    if surprisal is None:
        surprisal = unigram_surprisal(nonempty)
    langs = nonempty.select(
        "doc_id", F.coalesce(F.col("lang"), F.lit("")).alias("lang")
    )
    scored = surprisal.join(langs, "doc_id")
    if mode == "exact_window":
        from pyspark.sql.window import Window

        t = F.ntile(3).over(
            Window.partitionBy("lang").orderBy("bits_per_token", "doc_id")
        )
        bucket = (
            F.when(t == 1, F.lit("head")).when(t == 2, F.lit("middle")).otherwise(F.lit("tail"))
        )
        return scored.select(
            "doc_id", "lang", "token_count", "bits_per_token", bucket.alias("ppl_bucket")
        )
    cuts = scored.groupBy("lang").agg(
        F.percentile_approx("bits_per_token", [1.0 / 3.0, 2.0 / 3.0], 10_000).alias("_c")
    )
    bucket = (
        F.when(F.col("bits_per_token") <= F.col("_c")[0], F.lit("head"))
        .when(F.col("bits_per_token") <= F.col("_c")[1], F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scored.join(F.broadcast(cuts), "lang").select(
        "doc_id", "lang", "token_count", "bits_per_token", bucket.alias("ppl_bucket")
    )


def ccnet_perplexity_buckets_distributed(
    docs: DataFrame,
    surprisal: DataFrame | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """The SCALE-EXACT form of ccnet_perplexity_buckets (r12), closing
    mode='exact''s documented limitation: SQL-ntile(3) semantics —
    rank-exact thirds, larger buckets first, (bits_per_token, doc_id)
    ordering — with NO per-language single-task sort. mode='exact''s
    window puts each language in one task, which is wrong at 100 TB
    where one language dominates; mode='approx' trades boundary
    exactness for scale. This form is exact AND distributed:

    1. range-partition the scored frame on (lang, bits_per_token,
       doc_id) and sort within partitions — a language may span many
       partitions, but its rows are globally ordered across them;
    2. one bounded aggregate counts rows per (partition, lang)
       (#partitions x #languages rows — driver-safe at any corpus
       size) and a driver fold turns it into per-(partition, lang)
       global rank OFFSETS plus per-language totals;
    3. one mapInPandas pass assigns each row its global rank (offset +
       running per-language position inside the partition; batches of
       a partition arrive in order, so a closure counter suffices) and
       the closed-form ntile tile: base = N // 3, rem = N % 3, the
       first rem buckets hold base + 1 rows.

    Output IDENTICAL to mode='exact' — same columns, same DuckDB
    oracle, row-for-row equality pinned by pytest — at two extra
    bounded exchanges and zero skew sensitivity. The localCheckpoint
    freezes the range partitioning so the count pass and the rank pass
    see the same layout.

    Measured (PROBE_r12 §e, 94% of rows in one language, local[32],
    forced evaluation): 10 M rows — window 18.7 s vs THIS 5.3 s
    (3.5x; the window serializes 9.4 M rows into one sort task);
    50 k rows — window 0.48 s vs this 1.26 s (overhead-bound). The
    window form stays the cheaper audit-scale oracle twin; this is
    the form that survives a dominant language at corpus scale."""
    from .text import unigram_surprisal

    nonempty = docs.where(F.length(F.trim(F.col("text"))) > 0)
    if surprisal is None:
        surprisal = unigram_surprisal(nonempty)
    langs = nonempty.select(
        "doc_id", F.coalesce(F.col("lang"), F.lit("")).alias("lang")
    )
    scored = surprisal.join(langs, "doc_id").select(
        "doc_id", "lang", "token_count", "bits_per_token"
    )
    spark = scored.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    part = (
        scored.repartitionByRange(n_parts, "lang", "bits_per_token", "doc_id")
        .sortWithinPartitions("lang", "bits_per_token", "doc_id")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = (
        part.groupBy("_pid", "lang").agg(F.count(F.lit(1)).alias("n")).collect()
    )  # bounded: #partitions x #languages rows
    totals: dict[str, int] = {}
    offsets: dict[tuple[int, str], int] = {}
    for r in sorted(counts, key=lambda r: (r["lang"], r["_pid"])):
        offsets[(r["_pid"], r["lang"])] = totals.get(r["lang"], 0)
        totals[r["lang"]] = totals.get(r["lang"], 0) + r["n"]

    names = ("head", "middle", "tail")

    def assign(batches):
        seen: dict[str, int] = {}  # fresh per partition; persists across its batches
        for pdf in batches:
            buckets = []
            for pid, lang in zip(pdf["_pid"], pdf["lang"]):
                r = offsets[(int(pid), lang)] + seen.get(lang, 0)
                seen[lang] = seen.get(lang, 0) + 1
                n = totals[lang]
                base, rem = divmod(n, 3)
                if base == 0:
                    tile = r
                elif r < rem * (base + 1):
                    tile = r // (base + 1)
                else:
                    tile = rem + (r - rem * (base + 1)) // base
                buckets.append(names[tile])
            yield pdf.assign(ppl_bucket=buckets)[
                ["doc_id", "lang", "token_count", "bits_per_token", "ppl_bucket"]
            ]

    return part.mapInPandas(
        assign,
        schema="doc_id long, lang string, token_count long, "
        "bits_per_token double, ppl_bucket string",
    )


def corpus_filter_funnel(docs: DataFrame) -> DataFrame:
    """The curation-pipeline survival funnel — the dashboard a corpus
    build publishes: how many documents survive each successive gate,
    in the order a real pipeline runs them (cheap map-only panels
    first, the shuffling dedup last):

      stage 0 'all'     the raw corpus
      stage 1 'gopher'  + gopher_quality_panel pass (Rae et al. 2021)
      stage 2 'c4'      + c4_line_filter page keep (Raffel et al. 2020)
      stage 3 'dedup'   + exact-dedup keeper (min doc_id per normalized
                          md5 digest) AMONG THE SURVIVORS of stages
                          1-2 — dedup after filtering, as deployed

    Output: (stage, stage_name, n_docs, frac_of_corpus), 4 rows.

    Plan shape (r15): ONE map-only projection computes digest + both
    panel flags side by side (the panels are pure per-row expressions,
    so chaining them through their passthrough form costs nothing —
    the previous join-of-three-projections-of-the-same-scan shape paid
    two corpus self-joins on doc_id plus a digest join-back, 8 jobs /
    2 SortMergeJoins at sf0.1, for values derivable in one pass), and
    ONE aggregate produces all four funnel counts: the dedup-keeper
    count is count(DISTINCT digest) over survivors — the keeper set
    has exactly one member per surviving digest group, so counting
    keepers IS counting distinct survivor digests, no keeper join
    needed. At 100 TB: one scan, one distinct-aggregate exchange."""
    from .dedup import text_digest

    flags = c4_line_filter(
        gopher_quality_panel(docs, passthrough=True), passthrough=True
    ).select(
        "doc_id",
        text_digest(F.col("text")).alias("_digest"),
        "gopher_pass",
        "c4_keep",
    )
    surv = F.col("gopher_pass") & F.col("c4_keep")
    row = flags.agg(
        F.count(F.lit(1)).alias("c0"),
        F.sum(F.when(F.col("gopher_pass"), 1).otherwise(0)).alias("c1"),
        F.sum(F.when(surv, 1).otherwise(0)).alias("c2"),
        F.count_distinct(F.when(surv, F.col("_digest"))).alias("c3"),
    )
    return row.select(
        F.expr(
            "stack(4, 0, 'all', c0, 1, 'gopher', c1, 2, 'c4', c2, 3, 'dedup', c3)"
        ).alias("stage", "stage_name", "n_docs"),
        F.col("c0").alias("_total"),
    ).select(
        "stage",
        "stage_name",
        F.col("n_docs").cast("long").alias("n_docs"),
        round6(
            F.when(
                F.col("_total") > 0,
                F.col("n_docs").cast("double") / F.col("_total").cast("double"),
            ).otherwise(0.0)
        ).alias("frac_of_corpus"),
    )


def quality_rank_fusion(docs: DataFrame, k: int = 60, top_n: int = 50) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of independent
    quality signals into one selection order — the standard way to
    combine heterogeneous quality scores (length, lexical diversity,
    density) without calibrating them onto a common scale. Signals
    here are the deterministic trio every pipeline already has: token
    count (longer is better, saturating), type-token ratio (diversity),
    and chars-per-token (density; closer-to-typical is better, ranked
    ascending by |ratio - 5|). rrf = sum_i 1/(k + rank_i); top_n docs
    by fused score, doc_id tiebreak.

    Plan shape: one scan computes all three signals from the token
    array (codegen, no shuffle), three global rank windows over the
    SAME single-partition sort of a 4-column projection (rank state is
    row-sized, not text-sized), one final top-n. Global windows on a
    100 TB corpus rank the PROJECTED signal frame (~16 bytes/doc);
    for fleet-scale selection swap rank() for percent_rank over
    range-partitioned quantiles — semantics identical at the top end."""
    from ..llm.text import tokens_col

    toks = tokens_col()
    sig = docs.where(F.length(F.trim("text")) > 0).select(
        "doc_id",
        F.size(toks).cast("double").alias("_nt"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("_ttr"),
        (F.col("n_chars").cast("double") / F.size(toks)).alias("_cpt"),
    )
    from pyspark.sql import Window

    w_len = Window.orderBy(F.col("_nt").desc(), F.col("doc_id"))
    w_ttr = Window.orderBy(F.col("_ttr").desc(), F.col("doc_id"))
    w_cpt = Window.orderBy(F.abs(F.col("_cpt") - F.lit(5.0)), F.col("doc_id"))
    ranked = sig.select(
        "doc_id",
        F.rank().over(w_len).cast("long").alias("rank_len"),
        F.rank().over(w_ttr).cast("long").alias("rank_ttr"),
        F.rank().over(w_cpt).cast("long").alias("rank_cpt"),
    )
    kf = float(k)
    rrf = (
        1.0 / (F.lit(kf) + F.col("rank_len"))
        + 1.0 / (F.lit(kf) + F.col("rank_ttr"))
        + 1.0 / (F.lit(kf) + F.col("rank_cpt"))
    )
    from ..functions.numeric import round6

    return (
        ranked.select("doc_id", "rank_len", "rank_ttr", "rank_cpt", round6(rrf).alias("rrf_score"))
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
        .limit(top_n)
    )


def source_js_divergence(docs: DataFrame) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (bits) between per-source
    unigram distributions — the distributional-distance matrix a
    mixture designer reads next to dedup_source_overlap: overlap says
    who SHARES text, JSD says whose language is interchangeable (low
    JSD sources are redundant in a mixture; high JSD sources add
    coverage). Lin 1991; bounded [0, 1] bit.

    The off-support mass needs no full-outer join: tokens present in
    only one side contribute exactly 0.5*ln2 per unit of probability
    mass, so JSD folds from the INNER join plus each side's shared
    mass: jsd_nats = sum_shared 0.5*(pa*ln(pa/m) + pb*ln(pb/m))
    + 0.5*ln2*((1 - sum pa) + (1 - sum pb)), m = (pa+pb)/2. Source
    pairs with fully disjoint vocabularies never reach the join and
    are (consistently, both engines) absent — their JSD is the
    definitional maximum 1 bit.

    Plan shape: one token explode + (source, token) partial-agg count,
    totals broadcast back, and ONE inner self-join on token whose
    fan-out is C(sources_with_token, 2) <= C(n_sources, 2) per
    distinct token — vocab-bounded, never corpus-bounded; the pair agg
    map-side combines to n_sources^2/2 rows. At fleet scale with
    thousands of sources, pre-hash tokens into 2^k buckets (the DSIR
    move) to bound the join fan-out."""
    cnt = (
        _gram_rows(docs, 1, id_col="source")
        .groupBy("source", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnt.groupBy("source").agg(F.sum("c").alias("n"))
    p = cnt.join(F.broadcast(tot), "source").select(
        "source", "gram", (F.col("c").cast("double") / F.col("n").cast("double")).alias("p")
    )
    a = p.select(
        F.col("source").alias("src_a"), "gram", F.col("p").alias("pa")
    )
    b = p.select(
        F.col("source").alias("src_b"), "gram", F.col("p").alias("pb")
    )
    joined = a.join(b, "gram").where(F.col("src_a") < F.col("src_b"))
    m = (F.col("pa") + F.col("pb")) / 2.0
    term = 0.5 * (
        F.col("pa") * F.log(F.col("pa") / m) + F.col("pb") * F.log(F.col("pb") / m)
    )
    ln2 = 0.6931471805599453
    return (
        joined.groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).alias("shared_vocab"),
            F.sum(term).alias("_shared_nats"),
            F.sum("pa").alias("_mass_a"),
            F.sum("pb").alias("_mass_b"),
        )
        .select(
            "src_a",
            "src_b",
            "shared_vocab",
            round6(
                (
                    F.col("_shared_nats")
                    + 0.5 * ln2 * ((1.0 - F.col("_mass_a")) + (1.0 - F.col("_mass_b")))
                )
                / F.lit(ln2)
            ).alias("jsd_bits"),
        )
    )


def mixture_epoch_plan(
    docs: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    max_epochs: float = 10.0,
) -> DataFrame:
    """Training-mixture epoch plan: given target source weights and a
    total token budget, how many EPOCHS (repeat factor) of each source
    the sampler must draw — the table every pretraining data card
    publishes (LLaMA Table 1's "Epochs" column; Muennighoff et al.
    2023 bound useful repetition, hence the cap). Sources absent from
    `weights` get weight 0 (excluded but still reported); epochs above
    max_epochs are capped with the shortfall visible (`capped`,
    realized < target), never silently.

    Plan shape: one token-count scan partial-aggregated to source
    grain, the weight list broadcast from the driver (it is
    configuration, not data), pure arithmetic after that — the plan
    frame is n_sources rows."""
    if token_budget <= 0:
        raise ValueError(f"mixture_epoch_plan: token_budget must be > 0, got {token_budget}")
    if max_epochs <= 0:
        raise ValueError(f"mixture_epoch_plan: max_epochs must be > 0, got {max_epochs}")
    wsum = float(sum(weights.values()))
    if wsum <= 0:
        raise ValueError("mixture_epoch_plan: weights must sum > 0")
    from .text import tokens_col as _tokens_col

    spark = docs.sparkSession
    wdf = spark.createDataFrame(
        [(s, float(w)) for s, w in sorted(weights.items())], "source string, weight double"
    )
    # size(NULL array) is -1 in Spark: null text must count 0 tokens,
    # matching the oracle's coalesce(len(...), 0)
    nt = F.when(F.col("text").isNull(), F.lit(0)).otherwise(F.size(_tokens_col()))
    avail = (
        docs.select("source", nt.cast("long").alias("_nt"))
        .groupBy("source")
        .agg(F.sum("_nt").alias("avail_tokens"))
    )
    j = avail.join(F.broadcast(wdf), "source", "left").select(
        "source",
        "avail_tokens",
        (F.coalesce("weight", F.lit(0.0)) / F.lit(wsum)).alias("_wn"),
    )
    target = F.col("_wn") * F.lit(float(token_budget))
    # a source with zero available tokens has undefined demand: NULL
    # epochs (not a division error / inf), capped false, 0 realized
    has = F.col("avail_tokens") > 0
    epochs = F.when(has, target / F.col("avail_tokens").cast("double"))
    # guard least() too: Spark's least() skips NULLs (least(NULL, 5) = 5)
    eff = F.when(has, F.least(epochs, F.lit(float(max_epochs))))
    return j.select(
        "source",
        "avail_tokens",
        round6(F.col("_wn")).alias("weight_norm"),
        round6(target).alias("target_tokens"),
        round6(epochs).alias("epochs"),
        round6(eff).alias("effective_epochs"),
        round6(
            F.when(has, eff * F.col("avail_tokens").cast("double")).otherwise(F.lit(0.0))
        ).alias("realized_tokens"),
        F.coalesce(epochs > F.lit(float(max_epochs)), F.lit(False)).alias("capped"),
    )


def doc_outlier_panel(docs: DataFrame) -> DataFrame:
    """Robust document-outlier screen: per doc, a 3-MAD flag on each of
    the three cheap shape signals (token count, type-token ratio,
    chars-per-token) against CORPUS medians — the distribution-free
    twin of the fixed-threshold Gopher bounds (a corpus's own shape
    sets the envelope, so a code-heavy or CJK corpus doesn't mass-flag
    under English constants). Flags are comparisons against 3*MAD (the
    a16_mad_outliers rule — never a division, so zero-MAD signals are
    naturally quiet).

    Plan shape: one token-array scan reduces to a 3-column signal
    frame; corpus median and MAD are each ONE exact-percentile
    aggregate row broadcast back (two passes over the doc-count-sized
    signal frame, the a16 two-pass shape); the flag stage is map-only.
    Nothing here ever reshuffles text."""
    from .text import tokens_col

    toks = tokens_col()
    sig = docs.where(F.length(F.trim("text")) > 0).select(
        "doc_id",
        F.size(toks).cast("double").alias("nt"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("ttr"),
        (F.col("n_chars").cast("double") / F.size(toks)).alias("cpt"),
    )
    med = sig.agg(
        F.percentile("nt", 0.5).alias("med_nt"),
        F.percentile("ttr", 0.5).alias("med_ttr"),
        F.percentile("cpt", 0.5).alias("med_cpt"),
    )
    with_med = sig.crossJoin(F.broadcast(med)).localCheckpoint()
    mad = with_med.agg(
        F.percentile(F.abs(F.col("nt") - F.col("med_nt")), 0.5).alias("mad_nt"),
        F.percentile(F.abs(F.col("ttr") - F.col("med_ttr")), 0.5).alias("mad_ttr"),
        F.percentile(F.abs(F.col("cpt") - F.col("med_cpt")), 0.5).alias("mad_cpt"),
    )
    out_len = F.abs(F.col("nt") - F.col("med_nt")) > 3 * F.col("mad_nt")
    out_ttr = F.abs(F.col("ttr") - F.col("med_ttr")) > 3 * F.col("mad_ttr")
    out_cpt = F.abs(F.col("cpt") - F.col("med_cpt")) > 3 * F.col("mad_cpt")
    return with_med.crossJoin(F.broadcast(mad)).select(
        "doc_id",
        F.col("nt").cast("long").alias("token_count"),
        out_len.alias("out_len"),
        out_ttr.alias("out_ttr"),
        out_cpt.alias("out_cpt"),
        (out_len.cast("int") + out_ttr.cast("int") + out_cpt.cast("int")).alias("n_flags"),
    )


def corpus_datacard(docs: DataFrame) -> DataFrame:
    """The data-card summary a corpus release publishes (Gebru et al.
    2021 "Datasheets"; every pretraining data card carries this tall
    table): corpus size, token volume, duplication rate, source/
    language counts and concentration (top share + Herfindahl index),
    and mean document shape — one (metric, value) row each, so the
    dashboard is a single query and diffs across corpus versions are
    row-wise.

    Plan shape: ONE scan reduces to a per-doc signal projection
    (digest, source, lang, token count); every metric folds from that
    frame via map-side-combined aggregates (a distinct-digest count,
    two small group-bys for concentration, one global row); unions are
    of 1-row frames. Text never shuffles — the digest does."""
    from .dedup import text_digest

    nt = F.when(F.col("text").isNull(), F.lit(0)).otherwise(F.size(tokens_col()))
    sig = docs.select(
        text_digest(F.col("text")).alias("digest"),
        "source",
        "lang",
        nt.cast("long").alias("nt"),
    ).localCheckpoint()

    base = sig.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("nt").cast("double").alias("n_tokens"),
        F.count_distinct("digest").cast("double").alias("n_distinct"),
        F.count_distinct("source").cast("double").alias("n_sources"),
        F.count_distinct("lang").cast("double").alias("n_langs"),
    )

    def conc(col):
        per = sig.groupBy(col).agg(F.count(F.lit(1)).cast("double").alias("c"))
        return per.agg(
            (F.max("c") / F.sum("c")).alias("top_share"),
            (F.sum(F.col("c") * F.col("c")) / (F.sum("c") * F.sum("c"))).alias("hhi"),
        )

    s_conc = conc("source").select(
        F.col("top_share").alias("s_top"), F.col("hhi").alias("s_hhi")
    )
    l_conc = conc("lang").select(
        F.col("top_share").alias("l_top"), F.col("hhi").alias("l_hhi")
    )
    # one wide row (3 one-row frames cross-joined), unpivoted via stack —
    # the funnel's shape: 3 passes over the checkpointed signal frame
    # instead of one per metric
    wide = base.crossJoin(s_conc).crossJoin(l_conc)
    pairs = [
        ("n_docs", F.col("n_docs")),
        ("n_tokens", F.col("n_tokens")),
        ("mean_tokens_per_doc", F.col("n_tokens") / F.col("n_docs")),
        ("dup_rate", 1.0 - F.col("n_distinct") / F.col("n_docs")),
        ("n_sources", F.col("n_sources")),
        ("n_langs", F.col("n_langs")),
        ("top_source_share", F.col("s_top")),
        ("source_hhi", F.col("s_hhi")),
        ("top_lang_share", F.col("l_top")),
        ("lang_hhi", F.col("l_hhi")),
    ]
    stacked = F.explode(
        F.array(
            *[
                F.struct(F.lit(n).alias("metric"), round6(v).alias("value"))
                for n, v in pairs
            ]
        )
    )
    return wide.select(stacked.alias("m")).select("m.metric", "m.value")


def context_length_plan(
    docs: DataFrame, context_sizes: tuple = (512, 2048, 8192)
) -> DataFrame:
    """Context-length planning table: for each candidate training
    context size, how much of the corpus fits whole and how many
    tokens a truncate-at-context policy keeps — the table read when
    choosing sequence length (and whether chunk_documents /
    pack_sequences is worth its shuffle) for a corpus whose length
    distribution is fat-tailed. One row per context size:
    n_docs, n_docs_fit, frac_docs_fit, tokens_total, tokens_kept
    (sum of min(len, c)), frac_tokens_kept.

    Plan shape: ONE token-count scan crossJoined against the
    broadcast-size context list (len(context_sizes) rows), folded by a
    map-side-combined agg keyed on the context size — corpus cost is
    one scan regardless of how many sizes are evaluated."""
    if not context_sizes or any(c <= 0 for c in context_sizes):
        raise ValueError(
            f"context_length_plan: context sizes must be positive, got {context_sizes}"
        )
    from .text import tokens_col

    spark = docs.sparkSession
    sizes = spark.createDataFrame(
        [(int(c),) for c in sorted(context_sizes)], "context_size int"
    )
    nt = F.when(F.col("text").isNull(), F.lit(0)).otherwise(F.size(tokens_col()))
    sig = docs.select(nt.cast("long").alias("nt"))
    return (
        sig.crossJoin(F.broadcast(sizes))
        .groupBy("context_size")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("nt") <= F.col("context_size")).cast("long")).alias("n_docs_fit"),
            round6(F.avg((F.col("nt") <= F.col("context_size")).cast("double"))).alias(
                "frac_docs_fit"
            ),
            F.sum("nt").alias("tokens_total"),
            F.sum(F.least(F.col("nt"), F.col("context_size").cast("long"))).alias(
                "tokens_kept"
            ),
            round6(
                F.when(
                    F.sum("nt") > 0,
                    F.sum(
                        F.least(F.col("nt"), F.col("context_size").cast("long"))
                    ).cast("double")
                    / F.sum("nt").cast("double"),
                )
            ).alias("frac_tokens_kept"),
        )
    )


def sample_mix_audit(
    docs: DataFrame,
    rates: dict[str, float],
    salt: str = "mix-v1",
    default_rate: float = 0.0,
) -> DataFrame:
    """Mixture-realization audit for weighted_sample: per source, the
    REALIZED keep rate of the deterministic hash sampler next to its
    target, with the absolute gap — the check run after any sampling
    config change, because a finite source realizes its rate only in
    expectation (a 50-doc source at rate 0.25 can land anywhere near
    12/50) and a fat gap on a small source is a re-salt signal, not a
    bug. Realized counts are exact, not estimates: the md5 draw is a
    pure function of (salt, doc_id), so this audit is reproducible
    bit-for-bit — and oracle-checkable — unlike anything built on
    rand(seed).

    Plan shape: one scan computes the draw (codegen md5), one
    partial-agg groupBy on source folds kept/total together — the
    sample is never materialized separately from the audit."""
    spark = docs.sparkSession
    rate_df = spark.createDataFrame(
        sorted(rates.items()), "source string, rate double"
    )
    u = round6(sample_uniform_col(salt))
    j = (
        docs.join(F.broadcast(rate_df), "source", "left")
        .select(
            "source",
            F.coalesce("rate", F.lit(float(default_rate))).alias("rate"),
            u.alias("su"),
        )
    )
    kept = (F.col("su") < F.col("rate")).cast("long")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept).alias("n_sampled"),
            round6(F.first("rate")).alias("target_rate"),
            round6(F.sum(kept).cast("double") / F.count(F.lit(1))).alias(
                "realized_rate"
            ),
            round6(
                F.abs(
                    F.sum(kept).cast("double") / F.count(F.lit(1)) - F.first("rate")
                )
            ).alias("abs_gap"),
        )
    )


def quality_signal_correlation(docs: DataFrame) -> DataFrame:
    """Spearman rank correlation between the corpus's quality signals
    (token count, type-token ratio, chars-per-token, unigram
    bits-per-token) — the filter-design meta-analysis: two signals
    with |rho| near 1 are redundant gates (keep the cheaper one), and
    a proposed filter that correlates with nothing is measuring
    something new. Ranks are fully tiebroken by doc_id (a documented
    departure from tie-corrected Spearman — deterministic and
    engine-portable, which mid-rank averaging over float ties is not),
    and the surprisal signal is ranked on its ROUNDED value, so the
    rank permutation is bit-identical on both engines.

    Plan shape: the shape signals are one scan; surprisal reuses
    unigram_surprisal's two-aggregate pipeline; four global rank
    windows run over the doc-count-sized 5-column projection; the six
    signal pairs explode per row (6x fan-out of 3 ints) and fold in
    ONE map-side-combined aggregate whose sums are exact integers.
    At corpus scales where n * sum(rank^2) nears 2^53, swap the exact
    global ranks for percent_rank over range-partitioned quantiles."""
    from pyspark.sql import Window

    from .text import tokens_col, unigram_surprisal

    live = docs.where(F.length(F.trim("text")) > 0)
    toks = tokens_col()
    sig = live.select(
        "doc_id",
        F.size(toks).cast("double").alias("nt"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("ttr"),
        (F.col("n_chars").cast("double") / F.size(toks)).alias("cpt"),
    )
    bits = unigram_surprisal(live).select(
        "doc_id", F.col("bits_per_token").alias("bits")
    )
    j = sig.join(bits, "doc_id")

    def rk(col):
        return F.row_number().over(Window.orderBy(F.col(col), F.col("doc_id"))).cast(
            "long"
        )

    ranked = j.select(
        "doc_id",
        rk("bits").alias("r_bits"),
        rk("cpt").alias("r_cpt"),
        rk("nt").alias("r_nt"),
        rk("ttr").alias("r_ttr"),
    )
    names = ["bits", "cpt", "nt", "ttr"]
    pairs = [
        F.struct(
            F.lit(a).alias("signal_a"),
            F.lit(b).alias("signal_b"),
            F.col(f"r_{a}").alias("ra"),
            F.col(f"r_{b}").alias("rb"),
        )
        for i, a in enumerate(names)
        for b in names[i + 1 :]
    ]
    exploded = ranked.select(F.explode(F.array(*pairs)).alias("p")).select(
        "p.signal_a", "p.signal_b", "p.ra", "p.rb"
    )
    n = F.count(F.lit(1)).cast("double")
    sa, sb = F.sum("ra").cast("double"), F.sum("rb").cast("double")
    sab = F.sum(F.col("ra") * F.col("rb")).cast("double")
    saa = F.sum(F.col("ra") * F.col("ra")).cast("double")
    sbb = F.sum(F.col("rb") * F.col("rb")).cast("double")
    var_prod = (n * saa - sa * sa) * (n * sbb - sb * sb)
    # a single-doc corpus has zero rank variance: NULL, not a divide error
    rho = F.when(var_prod > 0, (n * sab - sa * sb) / F.sqrt(var_prod))
    return exploded.groupBy("signal_a", "signal_b").agg(
        F.count(F.lit(1)).alias("n_docs"),
        round6(rho).alias("spearman_rho"),
    )


def shard_skew_report(
    docs: DataFrame, n_shards: int = 16, salt: str = "shard-v1"
) -> DataFrame:
    """Token-mass balance across the deterministic training shards
    (shard_manifest's layout): per shard, doc and token counts, token
    share, and multiple-of-mean — the check that hash sharding
    balanced the WORK, not just the doc count (a shard that drew the
    long-document tail makes its data-loader rank the epoch
    straggler). Doc counts deviate multinomially ~sqrt(n/k); token
    mass adds length variance on top, which is exactly what this
    report measures and doc-count monitoring misses.

    Plan shape: one scan computes (shard draw, token count) per doc
    (codegen md5 + split, no manifest join — the draw is the SAME pure
    function shard_manifest uses, so the two cannot disagree), one
    shard-keyed partial agg, and the 1-row mean broadcasts back."""
    from .text import tokens_col

    u = round6(sample_uniform_col(salt))
    nt = F.when(F.col("text").isNull(), F.lit(0)).otherwise(F.size(tokens_col()))
    per_doc = docs.select(
        F.least(F.floor(u * n_shards), F.lit(n_shards - 1))
        .cast("int")
        .alias("shard_id"),
        nt.cast("long").alias("nt"),
    )
    per_shard = per_doc.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("nt").alias("n_tokens")
    )
    stats = per_shard.agg(
        F.sum("n_tokens").alias("_total"), F.avg("n_tokens").alias("_mean")
    )
    # an all-empty corpus has zero token mass: NULL shares, not a
    # divide error
    has = F.col("_total") > 0
    return per_shard.crossJoin(F.broadcast(stats)).select(
        "shard_id",
        "n_docs",
        "n_tokens",
        round6(
            F.when(has, F.col("n_tokens").cast("double") / F.col("_total").cast("double"))
        ).alias("token_share"),
        round6(F.when(has, F.col("n_tokens").cast("double") / F.col("_mean"))).alias(
            "x_mean"
        ),
    )


def source_filter_funnel(docs: DataFrame) -> DataFrame:
    """corpus_filter_funnel broken out PER SOURCE — the mixture
    designer's view: which sources die at which gate (a source whose
    mass is mostly Gopher-rejected is low-quality; one that clears the
    panels but evaporates at dedup is redundant — different remedies,
    indistinguishable in the corpus-level funnel). Per source:
    n_all, n_gopher (panel pass), n_c4 (+page keep), n_kept (exact-
    dedup keeper among survivors, GLOBAL keeper rule — a doc that
    loses its text to another source's keeper counts as removed here,
    exactly as deployed), frac_kept.

    Plan shape (r15): identical gates to corpus_filter_funnel — and
    the same restructure: ONE map-only projection carries source,
    digest and both panel flags (no corpus self-joins), the per-source
    head counts are one source-keyed partial agg, and the kept count
    attributes each surviving digest group to its keeper's source via
    min_by(source, doc_id) in the digest aggregate — so the previous
    corpus-sized digest join-back (flags ⋈ keep) collapses to a
    sources-sized broadcast join of two aggregates. At 100 TB: one
    scan, one source-keyed exchange, one digest-keyed exchange over
    survivors only, one broadcast of a #sources-row frame."""
    from .dedup import text_digest

    flags = c4_line_filter(
        gopher_quality_panel(docs, passthrough=True), passthrough=True
    ).select(
        "doc_id",
        "source",
        text_digest(F.col("text")).alias("_digest"),
        "gopher_pass",
        "c4_keep",
    )
    surv = F.col("gopher_pass") & F.col("c4_keep")
    head = flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(F.col("gopher_pass").cast("long")).alias("n_gopher"),
        F.sum(surv.cast("long")).alias("n_c4"),
    )
    kept = (
        flags.where(surv)
        .groupBy("_digest")
        .agg(F.min_by("source", "doc_id").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("_n_kept"))
    )
    n_kept = F.coalesce("_n_kept", F.lit(0))
    return head.join(F.broadcast(kept), "source", "left").select(
        "source",
        "n_all",
        "n_gopher",
        "n_c4",
        n_kept.cast("long").alias("n_kept"),
        round6(n_kept.cast("double") / F.col("n_all").cast("double")).alias(
            "frac_kept"
        ),
    )
