"""Corpus-curation tests: decontamination, weighted sampling, sequence
packing, cleaning, quality filtering (llm/curation.py)."""

from __future__ import annotations

import os

import pytest

from __spark_entry__ import SF0001_DIR
from metrocloud_data_pipeline_spark.llm import curation


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank", "en", "src0", 63),
        (1, "the quick brown fox jumps over the lazy dog near the river bank", "en", "src1", 63),
        (2, "completely different text about training data pipelines at scale", "en", "src0", 64),
        (3, "short", "en", "src2", 5),
        (4, "aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa", "en", "src1", 47),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")


def test_contamination_exact_copy_and_clean_doc(spark, docs):
    bench = docs.where("doc_id = 0").selectExpr("doc_id AS bench_id", "text")
    out = {r["doc_id"]: r for r in curation.contamination_check(docs, bench, n=4).collect()}
    assert out[0]["contamination_frac"] == 1.0       # is the benchmark
    assert out[1]["contamination_frac"] == 1.0       # exact copy of it
    assert out[2]["contamination_frac"] == 0.0       # unrelated
    assert out[3]["total_ngrams"] == 0               # shorter than n -> no grams
    assert out[3]["contamination_frac"] == 0.0
    # 13-token doc has 10 complete 4-grams
    assert out[0]["total_ngrams"] == 10


def test_contamination_bloom_superset_fpr_and_determinism(spark, docs):
    """The Bloom decontamination tier's pinned laws (r14, rows-only
    key decontaminate_ngram_bloom):
    - NO FALSE NEGATIVES: per doc, bloom contaminated_ngrams >= exact,
      with identical total_ngrams — a quarantine can over-remove but
      never leak benchmark text;
    - exact-copy/benchmark docs read frac 1.0 exactly (every true gram
      must hit);
    - FPR envelope: a large DISJOINT-vocabulary probe set observes a
      false-positive rate within a small multiple of the configured
      fpp;
    - deterministic across builds (same bitmap, same verdicts)."""
    bench = docs.where("doc_id = 0").selectExpr("doc_id AS bench_id", "text")
    exact = {r["doc_id"]: r for r in
             curation.contamination_check(docs, bench, n=4).collect()}
    bloom = {r["doc_id"]: r for r in
             curation.contamination_check_bloom(docs, bench, n=4).collect()}
    assert set(exact) == set(bloom)
    for d in exact:
        assert bloom[d]["total_ngrams"] == exact[d]["total_ngrams"]
        assert (bloom[d]["contaminated_ngrams"]
                >= exact[d]["contaminated_ngrams"]), d
    assert bloom[0]["contamination_frac"] == 1.0
    assert bloom[1]["contamination_frac"] == 1.0
    assert bloom[3]["total_ngrams"] == 0

    # FPR envelope: 2,000 probe docs over a vocabulary disjoint from
    # the benchmark's -> every hit is a false positive. At fpp=0.01
    # the observed rate concentrates near 0.01; 0.05 is a generous cap.
    probe = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(10))) for i in range(2000)],
        "doc_id long, text string",
    ).selectExpr("doc_id", "text", "'en' lang", "'s' source", "0 n_chars")
    fp = curation.contamination_check_bloom(probe, bench, n=4, fpp=0.01)
    agg = fp.selectExpr(
        "sum(contaminated_ngrams) hits", "sum(total_ngrams) grams"
    ).collect()[0]
    assert agg.grams == 2000 * 7
    assert agg.hits / agg.grams < 0.05, agg

    # determinism: a rebuilt bitmap yields byte-identical bits
    bm1, m1, k1 = curation.build_ngram_bloom(bench, n=4)
    bm2, m2, k2 = curation.build_ngram_bloom(bench, n=4)
    assert (bm1, m1, k1) == (bm2, m2, k2)

    # empty benchmark: nothing flags, nothing crashes
    empty = bench.limit(0)
    z = curation.contamination_check_bloom(docs, empty, n=4).collect()
    assert all(r["contaminated_ngrams"] == 0 for r in z)


def test_bloom_audit_self_asserts_on_false_negatives(spark, docs):
    """The registered decontaminate_bloom_audit key is SELF-ASSERTING:
    a clean corpus yields one row with superset_violations == 0 and a
    small observed FPR; a seeded false negative (simulated by feeding
    the raise_error branch a violating join) kills the query — so the
    driver's rows-only check turns red if the law ever breaks."""
    from pyspark.sql import functions as F

    from metrocloud_data_pipeline_spark.queries import SPARK_QUERIES

    # a tiny sf-dir stand-in: write the docs fixture as documents.parquet
    import tempfile

    d = tempfile.mkdtemp()
    docs.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    row = SPARK_QUERIES["decontaminate_bloom_audit"](spark, d).collect()[0]
    assert row.superset_violations == 0
    assert row.n_docs == 5
    assert 0.0 <= row.observed_fpr < 0.05

    # the raise_error branch has real teeth: a violating aggregate dies
    viol = spark.createDataFrame([(1,)], "v long").select(
        F.when(F.col("v") == 0, F.lit(0)).otherwise(
            F.raise_error(F.lit("bloom decontamination FALSE NEGATIVES"))
            .cast("long")
        ).alias("superset_violations")
    )
    with pytest.raises(Exception, match="FALSE NEGATIVES"):
        viol.collect()


def test_contamination_partial_overlap(spark, docs):
    bench = spark.createDataFrame(
        [(100, "fox jumps over the lazy dog and then stops")],
        "bench_id long, text string",
    )
    out = {r["doc_id"]: r for r in curation.contamination_check(docs, bench, n=4).collect()}
    # doc 0 shares the 4-grams inside "fox jumps over the lazy dog": 3 of its 10
    assert out[0]["contaminated_ngrams"] == 3
    assert out[0]["contamination_frac"] == pytest.approx(3 / 10, abs=1e-6)


def test_weighted_sample_deterministic_and_rate_bounded(spark, docs):
    big = spark.range(2000).selectExpr("id AS doc_id", "'x' AS text", "'en' AS lang",
                                       "concat('src', id % 2) AS source", "1 AS n_chars")
    rates = {"src0": 0.3, "src1": 1.0}
    a = {r["doc_id"] for r in curation.weighted_sample(big, rates, salt="s1").collect()}
    b = {r["doc_id"] for r in curation.weighted_sample(big, rates, salt="s1").collect()}
    assert a == b  # rerun-stable
    kept0 = sum(1 for r in curation.weighted_sample(big, rates, salt="s1").collect()
                if r["source"] == "src0")
    assert 0.2 < kept0 / 1000 < 0.4          # ~30% of src0's 1000 docs
    kept1 = sum(1 for r in curation.weighted_sample(big, rates, salt="s1").collect()
                if r["source"] == "src1")
    assert kept1 == 1000                      # rate 1.0 keeps all
    # different salt -> different subset (overwhelmingly likely)
    c = {r["doc_id"] for r in curation.weighted_sample(big, rates, salt="s2").collect()}
    assert a != c


def test_weighted_sample_unlisted_sources_drop(spark, docs):
    out = curation.weighted_sample(docs, {"src0": 1.0}, salt="s").collect()
    assert {r["source"] for r in out} == {"src0"}


def test_pack_sequences_invariants(spark):
    big = spark.range(500).selectExpr(
        "id AS doc_id",
        # token counts 1..120 via repeat: doc i has (i % 120) + 1 tokens
        "array_join(transform(sequence(1, CAST(id % 120 AS INT) + 1), x -> 'w'), ' ') AS text",
    )
    out = curation.pack_sequences(big, max_tokens=128, buckets=4).collect()
    assert len(out) == 500                                   # every doc assigned
    assert {r["doc_id"] for r in out} == set(range(500))
    from collections import defaultdict

    fill = defaultdict(int)
    for r in out:
        assert not r["oversize"]                             # none exceed 128 here
        fill[r["pack_id"]] += r["token_count"]
    assert all(v <= 128 for v in fill.values())              # capacity respected
    # FFD should be reasonably tight: average fill of non-trailing packs > 60%
    total_tokens = sum(r["token_count"] for r in out)
    assert total_tokens / (len(fill) * 128) > 0.6


def test_pack_sequences_oversize_and_determinism(spark):
    rows = [(1, " ".join(["w"] * 300)), (2, "w w"), (3, " ".join(["w"] * 100))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, curation.pack_sequences(docs, max_tokens=128, buckets=2).collect()))
    b = sorted(map(tuple, curation.pack_sequences(docs, max_tokens=128, buckets=2).collect()))
    assert a == b
    by_id = {r[0]: r for r in a}
    assert by_id[1][4] is True                               # 300 tokens -> oversize
    assert by_id[2][4] is False and by_id[3][4] is False


def test_clean_text_and_stats(spark):
    rows = [(1, "Hello <b>world</b> visit https://x.io/a?b=1 or mail a.b@c-d.org now", "en", "srcx", 68)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    cleaned = docs.select(curation.clean_text_col().alias("t")).first()["t"]
    assert cleaned == "Hello world visit <URL> or mail <EMAIL> now"
    s = curation.clean_stats(docs).first()
    assert (s["n_html_tags"], s["n_urls"], s["n_emails"]) == (2, 1, 1)
    assert s["clean_chars"] == len(cleaned)


def test_quality_filter_rules(spark, docs):
    out = {r["doc_id"]: r for r in curation.quality_filter(docs, min_tokens=10).collect()}
    assert out[0]["keep"] is True and out[0]["reject_reasons"] == ""
    assert out[3]["keep"] is False and "too_few_tokens" in out[3]["reject_reasons"]
    # doc 4: 12 identical tokens -> TTR 1/12 < 0.2
    assert out[4]["keep"] is False
    assert "low_type_token_ratio" in out[4]["reject_reasons"]


def test_repetition_stats(spark, docs):
    out = {r["doc_id"]: r for r in curation.repetition_stats(docs, n=2).collect()}
    # doc 4: 12 identical tokens -> 11 bigrams, all "aaa aaa"
    assert out[4]["n_ngrams"] == 11
    assert out[4]["distinct_ngrams"] == 1
    assert out[4]["top_ngram_count"] == 11
    assert out[4]["top_ngram_frac"] == 1.0
    assert out[4]["dup_ngram_frac"] == round(1 - 1 / 11, 6)
    # doc 0: "the" appears 3x but every bigram is distinct except none repeat
    assert out[0]["n_ngrams"] == 12
    assert out[0]["dup_ngram_frac"] == 0.0
    # doc 3: single token -> no bigrams, zeros not nulls
    assert out[3]["n_ngrams"] == 0
    assert out[3]["dup_ngram_frac"] == 0.0


def test_assign_splits_deterministic_and_total(spark, docs):
    a = curation.assign_splits(docs).select("doc_id", "split", "sample_u").collect()
    b = curation.assign_splits(docs).select("doc_id", "split", "sample_u").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # rerun-stable
    assert {r["split"] for r in a} <= {"train", "val", "test"}
    assert len(a) == docs.count()  # every doc assigned exactly once
    for r in a:
        if r["sample_u"] < 0.9:
            assert r["split"] == "train"
        elif r["sample_u"] < 0.95:
            assert r["split"] == "val"
        else:
            assert r["split"] == "test"


def test_assign_splits_stable_under_corpus_growth(spark, docs):
    """Adding docs must not move existing docs across splits."""
    small = curation.assign_splits(docs.where("doc_id <= 2"))
    grown = curation.assign_splits(docs)
    small_map = {r["doc_id"]: r["split"] for r in small.collect()}
    grown_map = {r["doc_id"]: r["split"] for r in grown.collect()}
    assert all(grown_map[k] == v for k, v in small_map.items())


# --- PII scrub ---------------------------------------------------------------

PII_ROWS = [
    (0, "contact me at jane.doe+spam@example.co.uk or call (415) 555-0132 today", "en", "src0", 70),
    (1, "server 192.168.1.100 responded; backup at 10.0.0.7", "en", "src0", 50),
    (2, "ssn on file: 078-05-1120, phone +1 415-555-0199", "en", "src1", 47),
    (3, "no identifiers in this sentence at all", "en", "src1", 38),
    (4, "double email a@b.com and c@d.org plus 555-123-4567", "en", "src2", 50),
]
PII_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def test_pii_scrub_counts_and_redaction(spark):
    docs = spark.createDataFrame(PII_ROWS, PII_SCHEMA)
    out = {r["doc_id"]: r for r in curation.pii_scrub(docs).collect()}
    assert out[0]["n_email"] == 1 and out[0]["n_phone"] == 1
    assert "<EMAIL>" in out[0]["scrubbed_text"] and "<PHONE>" in out[0]["scrubbed_text"]
    assert "jane.doe" not in out[0]["scrubbed_text"]
    assert out[1]["n_ipv4"] == 2 and "<IP>" in out[1]["scrubbed_text"]
    assert "192.168.1.100" not in out[1]["scrubbed_text"]
    assert out[2]["n_ssn"] == 1 and out[2]["n_phone"] == 1
    assert "<SSN>" in out[2]["scrubbed_text"] and "078-05-1120" not in out[2]["scrubbed_text"]
    assert out[3]["n_email"] == out[3]["n_ssn"] == out[3]["n_ipv4"] == out[3]["n_phone"] == 0
    assert out[3]["scrubbed_text"] == PII_ROWS[3][1]  # untouched
    assert out[4]["n_email"] == 2 and out[4]["n_phone"] == 1


def test_pii_stage_order_no_double_count(spark):
    # an SSN-shaped digit run must be consumed by the SSN stage, not
    # double-counted by the broader phone stage; dotted quads likewise
    docs = spark.createDataFrame(
        [(0, "078-05-1120 and 10.20.30.40", "en", "s", 27)], PII_SCHEMA
    )
    r = curation.pii_scrub(docs).collect()[0]
    assert r["n_ssn"] == 1 and r["n_ipv4"] == 1 and r["n_phone"] == 0
    assert r["scrubbed_text"] == "<SSN> and <IP>"


def test_pii_stats_matches_duckdb_oracle(spark, tmp_path):
    """Run the registered query and its oracle on a PII-laden corpus —
    the sf corpora are synthetic word soup, so the real regex parity
    (Java vs RE2) is only exercised here."""
    import duckdb

    from metrocloud_data_pipeline_spark.queries import ORACLE_SQL, SPARK_QUERIES

    docs = spark.createDataFrame(PII_ROWS, PII_SCHEMA)
    pq = str(tmp_path / "documents.parquet")
    docs.toPandas().to_parquet(pq)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{pq}'")
    oracle = con.sql(ORACLE_SQL["pii_scrub_stats"]).df().sort_values("doc_id").reset_index(drop=True)
    got = curation.pii_stats(docs).toPandas().sort_values("doc_id").reset_index(drop=True)
    cols = ["doc_id", "n_email", "n_ssn", "n_ipv4", "n_phone", "has_pii", "scrubbed_chars"]
    assert got[cols].astype(str).values.tolist() == oracle[cols].astype(str).values.tolist()


def test_cap_per_source_deterministic_and_bounded(spark):
    from metrocloud_data_pipeline_spark.llm import curation

    rows = [(i, f"doc number {i} text", "en", f"s{i % 3}", 15) for i in range(30)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = curation.cap_per_source(docs, max_docs=4).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) == {"s0", "s1", "s2"}
    assert all(len(v) == 4 for v in by_src.values())
    # rerun selects the identical subset; a different salt selects another
    again = {r["doc_id"] for r in curation.cap_per_source(docs, max_docs=4).collect()}
    assert again == {r["doc_id"] for r in out}
    other = {r["doc_id"] for r in curation.cap_per_source(docs, max_docs=4, salt="x").collect()}
    assert other != again


def test_shard_manifest_matches_duckdb_and_is_stable(spark):
    """In-process oracle twin (the query enters the driver window next
    round): identical md5-derived shard + position on both engines, and
    growing the corpus never moves an existing doc across shards."""
    import duckdb

    from metrocloud_data_pipeline_spark.queries import ORACLE_SQL, SPARK_QUERIES

    sf = "/root/testdata/sf0.001"
    got = (
        SPARK_QUERIES["shard_manifest"](spark, sf)
        .orderBy("doc_id")
        .toPandas()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    want = con.execute(
        ORACLE_SQL["shard_manifest"] + " ORDER BY doc_id"
    ).df()
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert got["shard_id"].tolist() == want["shard_id"].tolist()
    assert got["shard_pos"].tolist() == want["shard_pos"].tolist()
    assert got["sample_u"].tolist() == want["sample_u"].tolist()

    # shard stability: restricting the corpus leaves shard_id unchanged
    from metrocloud_data_pipeline_spark.llm import curation
    from metrocloud_data_pipeline_spark.sources import load

    docs = load(spark, sf, "documents")
    full = {r["doc_id"]: r["shard_id"] for r in curation.shard_manifest(docs).collect()}
    half = {r["doc_id"]: r["shard_id"]
            for r in curation.shard_manifest(docs.where("doc_id % 2 = 0")).collect()}
    assert all(full[d] == s for d, s in half.items())


def test_write_training_shards_matches_manifest(spark, tmp_path):
    from metrocloud_data_pipeline_spark.llm import curation
    from metrocloud_data_pipeline_spark.sources import load

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "shards")
    curation.write_training_shards(docs, path, n_shards=4)

    manifest = curation.shard_manifest(docs, n_shards=4)
    written = spark.read.option("basePath", path).parquet(path)
    # every doc in exactly the manifest's shard
    want = {(r["doc_id"], r["shard_id"]) for r in manifest.collect()}
    got = {(r["doc_id"], r["shard_id"]) for r in written.collect()}
    assert got == want
    # within a shard file, rows are stored in manifest order
    import pyarrow.parquet as pq
    import glob

    for d in glob.glob(path + "/shard_id=*"):
        rows = []
        for f in sorted(glob.glob(d + "/*.parquet")):
            t = pq.read_table(f, columns=["doc_id", "sample_u"]).to_pydict()
            rows += list(zip(t["sample_u"], t["doc_id"]))
        assert rows == sorted(rows)


def test_quantile_filter_approx_agrees_with_exact(spark):
    from metrocloud_data_pipeline_spark.llm import curation
    from metrocloud_data_pipeline_spark.sources import load

    docs = load(spark, "/root/testdata/sf0.001", "documents").where("length(trim(text)) > 0")
    exact = {r["doc_id"] for r in curation.quality_quantile_filter(docs).collect()}
    approx = {r["doc_id"] for r in curation.quality_quantile_filter_approx(docs).collect()}
    # at accuracy=10000 over ~50 docs the sketch is exact
    assert approx == exact


def test_quality_deciles_balanced_bins(spark):
    from metrocloud_data_pipeline_spark.llm import curation

    # 40 docs with strictly increasing quality -> exactly 4 per decile
    rows = [
        (i, " ".join(f"w{j}" for j in range(2 + i)), "en", "s", 10 * (2 + i))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    out = curation.quality_deciles(docs, n_bins=10).collect()
    from collections import Counter

    sizes = Counter(r["decile"] for r in out)
    assert set(sizes) == set(range(1, 11))
    assert all(v == 4 for v in sizes.values())
    # decile order tracks score order
    by_doc = {r["doc_id"]: r["decile"] for r in out}
    assert by_doc[0] == 1 and by_doc[39] == 10


def test_source_scorecard_shares_sum_to_one(spark):
    from metrocloud_data_pipeline_spark.llm import curation

    rows = [(i, "some reasonable words here now", "en", f"s{i % 4}", 30) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    out = curation.source_scorecard(docs).collect()
    assert len(out) == 4
    assert sum(r["token_share"] for r in out) == pytest.approx(1.0, abs=1e-5)
    assert all(r["total_tokens"] == 25 for r in out)


def test_profile_table_null_and_distinct_counts(spark):
    from metrocloud_data_pipeline_spark.operators import quality as Q

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "a", None), (3, None, 2.5), (3, "b", 2.5)],
        "id long, s string, v double",
    )
    out = {r["column"]: r for r in Q.profile_table(df).collect()}
    assert out["id"]["n_rows"] == 4 and out["id"]["n_null"] == 0
    assert out["id"]["n_distinct"] == 3
    assert out["s"]["n_null"] == 1 and out["s"]["n_distinct"] == 2
    assert out["s"]["min_value"] == "a" and out["s"]["max_value"] == "b"
    assert out["v"]["n_null"] == 1 and out["v"]["min_value"] == "1.5"


def test_split_leakage_report_flags_cross_split_dup(spark):
    import hashlib

    def u(doc_id):
        h = hashlib.md5(f"split-v1{doc_id}".encode()).hexdigest()[:8]
        return round(int(h, 16) / 4294967296.0, 6)

    def split_of(doc_id):
        x = u(doc_id)
        return "train" if x < 0.9 else ("val" if x < 0.95 else "test")

    train_id = next(i for i in range(1000) if split_of(i) == "train")
    test_id = next(i for i in range(1000) if split_of(i) == "test")
    val_id = next(i for i in range(1000) if split_of(i) == "val")
    leaked = "this exact document appears in two splits"
    rows = [
        (train_id, leaked),
        (test_id, leaked.upper() + "  "),            # normalizes equal -> leak
        (val_id, "a unique val-only document here"),  # no leak
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = curation.split_leakage_report(docs).collect()
    assert len(out) == 1
    assert out[0]["n_docs"] == 2 and out[0]["n_splits"] == 2
    assert out[0]["splits"] == "test,train"


def test_profile_table_approx_agrees_with_exact(spark):
    """HLL twin: identical report shape, NDV within the sketch's error
    bound of the exact profiler, everything else byte-identical."""
    from pyspark.sql import functions as F

    from metrocloud_data_pipeline_spark.operators import quality as Q

    df = spark.range(0, 5000).select(
        F.col("id"),
        (F.col("id") % 137).alias("k"),
        F.when(F.col("id") % 10 != 0, F.col("id") % 50).alias("sparse"),
    )
    exact = {r["column"]: r for r in Q.profile_table(df).collect()}
    approx = {r["column"]: r for r in Q.profile_table_approx(df, rsd=0.02).collect()}
    assert set(exact) == set(approx) == {"id", "k", "sparse"}
    for c in exact:
        e, a = exact[c], approx[c]
        assert (a["n_rows"], a["n_null"], a["min_value"], a["max_value"]) == (
            e["n_rows"], e["n_null"], e["min_value"], e["max_value"]
        )
        # HLL++ at rsd=0.02: allow 3 sigma ≈ 6% relative error
        assert abs(a["n_distinct_approx"] - e["n_distinct"]) <= max(1, 0.06 * e["n_distinct"])


def test_pack_token_ranges_contiguous_and_straddles(spark):
    from pyspark.sql import functions as F

    rows = [(i, " ".join(f"w{j}" for j in range(20 + i)), "en", "s", 100)
            for i in range(30)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = curation.pack_token_ranges(docs, capacity=64, n_shards=4).collect()
    assert len(out) == 30
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard_id"], []).append(r)
    for shard, rs in by_shard.items():
        rs = sorted(rs, key=lambda r: r["stream_offset"])
        # offsets tile the shard's token stream exactly — no gaps/overlap
        expect = 0
        for r in rs:
            assert r["stream_offset"] == expect
            assert r["window_id"] == r["stream_offset"] // 64
            assert r["offset_in_window"] == r["stream_offset"] % 64
            assert r["straddles"] == (r["offset_in_window"] + r["n_tokens"] > 64)
            expect += r["n_tokens"]


def test_budget_select_maximal_and_deterministic(spark):
    from pyspark.sql import functions as F

    rows = [(i, " ".join(f"tok{i}x{j}" for j in range(10 + (i % 5) * 10)), "en", "s",
             60 * (1 + i % 7)) for i in range(40)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = curation.budget_select(docs, token_budget=500)
    rows_out = out.collect()
    assert len(rows_out) == 40  # every doc gets a decision
    kept = [r for r in rows_out if r["keep"]]
    kept_tokens = sum(r["n_tokens"] for r in kept)
    assert kept_tokens <= 500
    # maximality under the greedy order: the best-ranked dropped doc
    # would not have fit
    dropped = sorted((r for r in rows_out if not r["keep"]),
                     key=lambda r: (-r["quality_score"], r["doc_id"]))
    assert dropped and kept_tokens + dropped[0]["n_tokens"] > 500
    # rerun identical (pure function of salt-free ordering)
    again = {(r["doc_id"], r["keep"]) for r in curation.budget_select(docs, token_budget=500).collect()}
    assert again == {(r["doc_id"], r["keep"]) for r in rows_out}
    # budget >= corpus: everything kept
    all_kept = curation.budget_select(docs, token_budget=10**9).collect()
    assert all(r["keep"] for r in all_kept)


# --- r7 additions: DSIR importance weights + trained LR quality filter ------


def test_dsir_importance_weights_rank_target_like_docs(spark):
    """Docs sharing the target slice's vocabulary must outscore docs
    that don't, and a doc OF the target slice scores highest; weights
    are a pure function of the corpus (rerun identical)."""
    tgt_text = "alpha beta gamma delta alpha beta"
    rows = [
        (1, tgt_text, "en", "tgt", 30),                       # the target slice
        (2, "alpha beta gamma epsilon", "en", "raw", 24),      # target-like
        (3, "zeta eta theta iota kappa", "en", "raw", 25),     # disjoint vocab
        (4, tgt_text, "en", "raw", 30),                        # exact copy, raw
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    from pyspark.sql import functions as F

    out = {r["doc_id"]: r for r in curation.dsir_importance_weights(
        docs, target=F.col("source") == "tgt"
    ).collect()}
    assert set(out) == {1, 2, 3, 4}
    # a verbatim copy of target text scores identically to the target doc
    assert out[4]["bits_per_token"] == out[1]["bits_per_token"]
    # target-like beats vocabulary-disjoint
    assert out[2]["bits_per_token"] > out[3]["bits_per_token"]
    assert out[1]["bits_per_token"] > out[3]["bits_per_token"]
    # token counts are the doc's own
    assert out[1]["n_tokens"] == 6 and out[3]["n_tokens"] == 5
    again = {r["doc_id"]: r["bits_per_token"] for r in curation.dsir_importance_weights(
        docs, target=F.col("source") == "tgt"
    ).collect()}
    assert again == {k: v["bits_per_token"] for k, v in out.items()}


@pytest.mark.slow
def test_lr_fit_separable_deterministic_and_converges(spark):
    """Batch-GD logistic regression: on linearly separable data the
    fitted scorer classifies perfectly, the loss trace decreases, and
    repeated fits are bit-identical (total-order partial reduction)."""
    rows = [(float(i), 1 if i >= 10 else 0) for i in range(20)]
    df = spark.createDataFrame(rows, "x double, y int").repartition(4)
    w, b, trace = curation.lr_fit(df, ["x"], "y", n_iter=60, lr=0.5)
    assert trace[-1] < trace[0]
    scored = df.select(
        "y", curation.lr_score_col(["x"], w, b).alias("p")
    ).collect()
    assert all((r["p"] >= 0.5) == (r["y"] == 1) for r in scored)
    w2, b2, trace2 = curation.lr_fit(df, ["x"], "y", n_iter=60, lr=0.5)
    assert list(w) == list(w2) and b == b2 and trace == trace2


def test_gate_passthrough_form_matches_default(spark):
    """passthrough=True (the streaming no-join gate form) must carry
    every input column AND produce verdict columns identical to the
    default projection — the registered queries use the default form,
    the ingest gates the passthrough form, and this pins that they can
    never diverge."""
    from pyspark.sql import functions as F

    rows = [
        (0, "the cat and that have with be to of it sat here. " * 3, "en", "s0", 147),
        (1, "x", "en", "s1", 1),
        (2, "lorem ipsum { " + "word " * 60, "es", None, 314),
        (3, None, None, "s2", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    for fn, verdict_cols in (
        (lambda d, **kw: curation.quality_filter(d, **kw), ["keep", "reject_reasons"]),
        (
            lambda d, **kw: curation.gopher_quality_panel(d, with_reasons=True, **kw),
            ["gopher_pass", "reject_reasons"],
        ),
        (lambda d, **kw: curation.c4_line_filter(d, **kw), ["c4_keep", "n_sentences"]),
    ):
        base = {r["doc_id"]: r for r in fn(docs).select("doc_id", *verdict_cols).collect()}
        thru = fn(docs, passthrough=True)
        assert set(docs.columns) <= set(thru.columns)  # every input column carried
        got = {r["doc_id"]: r for r in thru.select("doc_id", *verdict_cols, "source").collect()}
        assert set(got) == set(base)
        for i, r in base.items():
            for c in verdict_cols:
                assert got[i][c] == r[c], (c, i)
        # carried columns are the input values, untouched
        src = {r["doc_id"]: r["source"] for r in docs.collect()}
        assert {i: got[i]["source"] for i in got} == src


@pytest.mark.slow
def test_lr_fit_ovr_matches_independent_binary_fits(spark):
    """The joint one-pass-per-iteration OvR fit must reproduce K
    independent lr_fit runs to float-noise tolerance: OvR gradients
    are class-independent under full-batch GD + zero init, so any
    drift beyond the last-ULP BLAS summation-order difference
    (matrix-gradient dgemm vs per-class vector path) is an
    implementation bug. The joint form itself must be bit-identical
    across refits — that is the determinism contract the registered
    query relies on."""
    rows = [
        (float(i), float((i * 7) % 5), ["a", "b", "c"][i % 3]) for i in range(24)
    ]
    df = spark.createDataFrame(rows, "x double, z double, lab string").repartition(4)
    from pyspark.sql import functions as F

    fitted = curation.lr_fit_ovr(df, ["x", "z"], "lab", ["a", "b", "c"], n_iter=30, lr=0.5)
    for cls in ("a", "b", "c"):
        solo = df.withColumn("y", (F.col("lab") == cls).cast("int"))
        w, b, _ = curation.lr_fit(solo, ["x", "z"], "y", n_iter=30, lr=0.5)
        jw, jb = fitted[cls]
        assert jb == pytest.approx(b, rel=1e-9, abs=1e-12), cls
        for a_, b_ in zip(jw, w):
            assert a_ == pytest.approx(b_, rel=1e-9, abs=1e-12), cls
    again = curation.lr_fit_ovr(df, ["x", "z"], "lab", ["a", "b", "c"], n_iter=30, lr=0.5)
    assert all(
        list(again[c][0]) == list(fitted[c][0]) and again[c][1] == fitted[c][1]
        for c in ("a", "b", "c")
    )


@pytest.mark.slow
def test_quality_lr_score_agrees_with_heuristic_extremes(spark):
    """The weak-seed trained classifier must reproduce the heuristic's
    verdict on the extremes it was seeded from: long diverse docs score
    high, one-word-repeated junk scores low; output is deterministic."""
    good = " ".join(f"word{i}" for i in range(60))
    junk = "spam " * 30
    rows = (
        [(i, good + f" extra{i}", "en", "s", 400) for i in range(8)]
        + [(100 + i, junk.strip(), "en", "s", 149) for i in range(8)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: r["quality_prob"] for r in
           curation.quality_lr_score(docs, n_iter=60).collect()}
    assert len(out) == 16
    good_p = [out[i] for i in range(8)]
    junk_p = [out[100 + i] for i in range(8)]
    assert min(good_p) > max(junk_p)
    again = {r["doc_id"]: r["quality_prob"] for r in
             curation.quality_lr_score(docs, n_iter=60).collect()}
    assert again == out


def test_dsir_hashed_rank_correlates_with_exact(spark):
    """The hashed-feature DSIR form (token -> pmod(xxhash64, 2^18))
    must preserve the exact form's ranking: Spearman rank correlation
    >= 0.95 over the sf0.01 documents table (verdict r8 #7 gate).
    Collisions blur individual bucket counts but not the ordering at
    18 bits over a ~10^4-token vocabulary."""
    import os

    import numpy as np
    import pytest as _pytest

    from pyspark.sql import functions as F

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        _pytest.skip("sf0.01 testdata not present")
    from metrocloud_data_pipeline_spark.sources import load

    docs = load(spark, sf_dir, "documents")
    tgt = F.col("source") == "src0"
    exact = {r["doc_id"]: r["bits_per_token"]
             for r in curation.dsir_importance_weights(docs, target=tgt).collect()}
    hashed = {r["doc_id"]: r["bits_per_token"]
              for r in curation.dsir_importance_weights_hashed(
                  docs, target=tgt, hash_bits=18).collect()}
    assert set(exact) == set(hashed)
    ids = sorted(exact)
    a = np.array([exact[i] for i in ids])
    b = np.array([hashed[i] for i in ids])
    # Spearman: Pearson correlation of the rank transforms
    ra = np.argsort(np.argsort(a)).astype(float)
    rb = np.argsort(np.argsort(b)).astype(float)
    rho = float(np.corrcoef(ra, rb)[0, 1])
    assert rho >= 0.95, f"exact-vs-hashed Spearman {rho:.4f} < 0.95"
    # n_tokens is hash-invariant (same tokenization pass)
    n_exact = {r["doc_id"]: r["n_tokens"]
               for r in curation.dsir_importance_weights(docs, target=tgt).collect()}
    n_hashed = {r["doc_id"]: r["n_tokens"]
                for r in curation.dsir_importance_weights_hashed(
                    docs, target=tgt).collect()}
    assert n_exact == n_hashed


def test_repetition_panel_gopher_signals(spark):
    """The full Gopher Table A1 panel on hand-computed fixtures:
    repeated lines, heavy bigram repetition, a duplicated 9-gram's
    coverage union, empty docs, and a clean doc."""
    rows = [
        (1, "line one\nline one\nunique line"),
        (2, "a b a b a b a b a b"),
        (3, "p q r s t u v w x p q r s t u v w x zz"),
        (4, ""),
        (5, "just some plain unique words here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in curation.repetition_panel(docs).collect()}
    assert set(out) == {1, 2, 3, 4, 5}

    # doc 1: "line one" x2 of 3 lines -> 2/3; chars 8+8 of 8+8+11=27
    assert out[1]["dup_line_frac"] == round(2 / 3, 6)
    assert out[1]["dup_line_char_frac"] == round(16 / 27, 6)
    assert out[1]["dup_ngram_char_frac_5"] == 0.0

    # doc 2: 10 single-char tokens; top bigram "a b" occurs 5x -> 10/10;
    # every position covered by a dup 5..8-gram; no dup 9/10-gram
    assert out[2]["top_ngram_char_frac_2"] == 1.0
    for n in (5, 6, 7, 8):
        assert out[2][f"dup_ngram_char_frac_{n}"] == 1.0
    assert out[2]["dup_ngram_char_frac_9"] == 0.0

    # doc 3: dup 9-gram at pos 0 and 9 covers tokens 0..17 of 19
    # single-char tokens + "zz" (20 chars total) -> 18/20
    assert out[3]["dup_ngram_char_frac_9"] == 0.9
    assert out[3]["dup_ngram_char_frac_10"] == 0.0

    # doc 4 (empty): all-zero row, still reported
    assert all(out[4][c] == 0.0 for c in out[4].asDict() if c != "doc_id")

    # doc 5 (clean): no dup lines, no dup >=5-grams; unique top bigram
    # = one occurrence's char share ("just some" = 8 of 28 chars)
    assert out[5]["dup_line_frac"] == 0.0
    assert out[5]["top_ngram_char_frac_2"] == round(8 / 28, 6)
    assert out[5]["dup_ngram_char_frac_5"] == 0.0


def test_gopher_quality_panel_signals(spark):
    """The non-repetition Gopher Table A1 rules on hand-computed
    fixtures: a passing doc, bullet/ellipsis line fractions, symbol
    ratio, non-alpha words, and the empty doc."""
    good = " ".join(
        ["the quick brown foxes jumped with grace and that was fine to see have some"] * 5
    )
    rows = [
        (1, good),
        (2, "• item one\n• item two\n- item three\n-5 degrees out"),
        (3, "to be continued...\nmore text…\nplain line"),
        (4, "# one two... three… hmm...."),
        (5, "123 456 789 000"),
        (6, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in curation.gopher_quality_panel(docs).collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6}

    # doc 1: 75 words, mean 60/15 = 4.0 chars, 6 required stopwords,
    # all alphabetic, no symbols/bullets/ellipses -> passes every rule
    r1 = out[1]
    assert r1["n_words"] == 75
    assert r1["mean_word_len"] == 4.0
    assert r1["alpha_word_frac"] == 1.0
    assert r1["stopword_hits"] == 6
    assert r1["symbol_word_ratio"] == 0.0
    assert r1["gopher_pass"] is True

    # doc 2: bullet glyph x2 + "- " x1 = 3 bullet lines of 4; the
    # "-5 degrees" line is NOT a bullet (no marker+space)
    assert out[2]["bullet_line_frac"] == 0.75
    assert out[2]["gopher_pass"] is False  # word count rule

    # doc 3: "..." and the one-char ellipsis end 2 of 3 lines
    assert out[3]["ellipsis_line_frac"] == round(2 / 3, 6)

    # doc 4: symbols = one '#' + "two..." + "three…" + "hmm...." (the
    # 4-dot run holds ONE non-overlapping '...') = 4 over 5 words;
    # alpha words exclude the bare '#'
    r4 = out[4]
    assert r4["n_words"] == 5
    assert r4["symbol_word_ratio"] == 0.8
    assert r4["alpha_word_frac"] == 0.8

    # doc 5: no word contains a letter
    assert out[5]["alpha_word_frac"] == 0.0
    assert out[5]["stopword_hits"] == 0

    # doc 6 (empty): zero row, still reported, fails
    r6 = out[6]
    assert r6["n_words"] == 0
    assert r6["mean_word_len"] == 0.0
    assert r6["gopher_pass"] is False


def test_c4_line_filter_rules(spark):
    """C4 line + page rules on hand-computed fixtures: terminal-punct
    precedence, the five-word floor, javascript lines, lorem ipsum /
    brace page drops, and the three-sentence floor."""
    good = (
        "This is a perfectly fine sentence with words.\n"
        "Another complete sentence follows right here today!\n"
        "Does a question also count as terminal?\n"
        "short line.\n"
        "no terminal punctuation here at all\n"
        "Please enable javascript to view this page.\n"
    )
    rows = [
        (1, good),
        (2, "Lorem Ipsum dolor sit amet, consectetur adipiscing elit.\n"
            "A second real sentence sits right here.\n"
            "A third real sentence sits right here.\n"),
        (3, "function f() { return 1; }\n"
            "One real sentence lives in this document today.\n"
            "Two real sentences live in this document today.\n"
            "Three real sentences live in this document today.\n"),
        (4, "Only two sentences survive the line rules here.\n"
            "So the page fails the sentence floor anyway.\n"),
        (5, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in curation.c4_line_filter(docs).collect()}
    assert set(out) == {1, 2, 3, 4, 5}

    # doc 1: 6 lines -> 3 kept; "short line." fails the word floor,
    # the bare line fails terminal punct, the javascript line is cut
    r1 = out[1]
    assert r1["n_lines"] == 6
    assert r1["kept_lines"] == 3
    assert r1["dropped_no_punct"] == 1
    assert r1["dropped_short"] == 1
    assert r1["dropped_js"] == 1
    assert r1["n_sentences"] == 3
    assert r1["c4_keep"] is True
    assert r1["clean_text"].count("\n") == 2

    # doc 2: three clean sentences but the lorem-ipsum page rule fires
    assert out[2]["kept_lines"] == 3
    assert out[2]["has_lorem_ipsum"] is True
    assert out[2]["c4_keep"] is False

    # doc 3: the brace page rule fires even though 3 sentences survive
    assert out[3]["n_sentences"] == 3
    assert out[3]["has_brace"] is True
    assert out[3]["c4_keep"] is False

    # doc 4: clean page, only 2 sentences -> sentence floor fails
    assert out[4]["kept_lines"] == 2
    assert out[4]["n_sentences"] == 2
    assert out[4]["c4_keep"] is False

    # doc 5 (empty): zero counts, empty clean text, not kept
    r5 = out[5]
    assert r5["n_lines"] == 0 and r5["kept_lines"] == 0
    assert r5["clean_text"] == ""
    assert r5["c4_keep"] is False


def test_boilerplate_line_filter(spark):
    """Corpus-level boilerplate: a line in >= 3 distinct docs is
    removed everywhere (case/spacing-normalized); within-doc repeats of
    honest lines survive; empty/null docs pass through."""
    rows = [
        (1, "Home | About\nReal content number one.\nCopyright 2020 Corp"),
        (2, "Home | About\nDifferent real content here.\nCopyright 2020 Corp"),
        (3, "HOME | about\nThird body text.\ncopyright 2020   corp"),
        (4, "Unique page body.\nRepeated inner line.\nRepeated inner line."),
        (5, ""),
        (6, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in curation.boilerplate_line_filter(docs).collect()}
    for d in (1, 2, 3):
        assert out[d]["n_lines"] == 3
        assert out[d]["removed_lines"] == 2, d
        assert "copyright" not in out[d]["clean_text"]
        assert "home" not in out[d]["clean_text"]
    # within-doc duplicate (2 occurrences, 1 doc) is NOT boilerplate
    assert out[4]["removed_lines"] == 0
    assert out[4]["clean_text"].count("repeated inner line.") == 2
    for d in (5, 6):
        assert out[d]["n_lines"] == 0 and out[d]["clean_text"] == ""


def test_ccnet_perplexity_buckets_exact_and_approx(spark):
    """Exact ntile thirds per lang; the approx-threshold production
    form agrees with exact on >= 95% of docs at fixture scale."""
    import random
    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(50)]
    rows = []
    for i in range(90):
        lang = "en" if i % 2 == 0 else "fi"
        # vary rarity: low ids draw common words -> low surprisal
        hi = 5 + (i % 45)
        toks = [vocab[rng.randrange(0, hi)] for _ in range(30)]
        rows.append((i, " ".join(toks), lang, "s", 0))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    exact = {r["doc_id"]: r for r in
             curation.ccnet_perplexity_buckets(docs, mode="exact").collect()}
    # thirds are balanced per lang (45 docs -> 15/15/15)
    for lang in ("en", "fi"):
        sizes = {}
        for r in exact.values():
            if r["lang"] == lang:
                sizes[r["ppl_bucket"]] = sizes.get(r["ppl_bucket"], 0) + 1
        assert sizes == {"head": 15, "middle": 15, "tail": 15}, sizes
    # head has lower mean bits than tail
    import statistics
    head = [r["bits_per_token"] for r in exact.values() if r["ppl_bucket"] == "head"]
    tail = [r["bits_per_token"] for r in exact.values() if r["ppl_bucket"] == "tail"]
    assert statistics.mean(head) < statistics.mean(tail)

    approx = {r["doc_id"]: r["ppl_bucket"] for r in
              curation.ccnet_perplexity_buckets(docs, mode="approx").collect()}
    agree = sum(1 for d in exact if approx[d] == exact[d]["ppl_bucket"])
    assert agree / len(exact) >= 0.95, f"approx/exact agreement {agree}/{len(exact)}"

    with pytest.raises(ValueError, match="unknown mode"):
        curation.ccnet_perplexity_buckets(docs, mode="bogus")

    # the SCALE-EXACT distributed form (r12): row-for-row identical to
    # the one-window ntile form at every partition count, including
    # counts that force one language to SPAN partitions (the case the
    # window form cannot distribute) and the tiny-language edge (N < 3
    # docs gets head/middle per SQL ntile, never tail). Since r13
    # mode='exact' DELEGATES to the distributed form and the window
    # shape survives only as mode='exact_window', this test's oracle.
    tiny = rows + [(1000, "w0 w1 w2", "sv", "s", 0), (1001, "w0 w1", "sv", "s", 0)]
    docs2 = spark.createDataFrame(
        tiny, "doc_id long, text string, lang string, source string, n_chars long"
    )
    exact2 = {r["doc_id"]: r["ppl_bucket"] for r in
              curation.ccnet_perplexity_buckets(docs2, mode="exact_window").collect()}
    for nparts in (1, 7, 32):
        dist = {r["doc_id"]: r["ppl_bucket"] for r in
                curation.ccnet_perplexity_buckets_distributed(
                    docs2, num_partitions=nparts
                ).collect()}
        assert dist == exact2, f"nparts={nparts}"
    # the delegated default takes the distributed path and matches too
    delegated = {r["doc_id"]: r["ppl_bucket"] for r in
                 curation.ccnet_perplexity_buckets(docs2, mode="exact").collect()}
    assert delegated == exact2
    assert {exact2[1000], exact2[1001]} == {"head", "middle"}  # N=2: no tail


def test_ccnet_perplexity_buckets_kn5_invariants(spark):
    """Pinned invariants for the rows-only ccnet_perplexity_buckets_kn5
    key (NO_ORACLE_REASONS: seeded xxhash64 KN-5 scoring), on a GRADED
    fixture where the predictability ordering is unambiguous — docs 0-9
    repeat one phrase (low bits at every LM order), 10-19 are unique
    rare tokens (high bits), 20-39 interpolate. On such a corpus the
    order-5 and order-3 KN scores must order documents the same way;
    on an unstructured corpus (e.g. the synthetic testdata, where no
    doc is more 5-gram-predictable than another) the two orders can
    legitimately disagree, so agreement is pinned HERE, not there."""
    import random

    import pyspark.sql.functions as F

    from metrocloud_data_pipeline_spark.llm import text as t

    rng = random.Random(3)
    rows = []
    for i in range(10):  # maximally predictable
        rows.append((i, "the cat sat on the mat and then " * 15, "en", "s", 0))
    for i in range(10, 20):  # maximally unpredictable
        rows.append((i, " ".join(f"z{i}_{j}" for j in range(120)), "en", "s", 0))
    base = "the cat sat on the mat and then".split()
    for i in range(20, 40):  # graded mixture
        frac = (i - 20) / 20.0
        toks = [
            base[j % 8] if rng.random() > frac else f"q{i}_{j}"
            for j in range(120)
        ]
        rows.append((i, " ".join(toks), "en", "s", 0))
    rows.append((1000, "w0 w1 w2 w3", "en", "s", 0))  # 4 tokens: no 5-gram
    rows.append((1001, "w0 w1 w2 w3 w4", "en", "s", 0))  # exactly 5: one gram
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )

    def buckets(sur):
        return {
            r["doc_id"]: r["ppl_bucket"]
            for r in curation.ccnet_perplexity_buckets(
                docs, mode="exact", surprisal=sur
            ).collect()
        }

    s5 = t.kn5_surprisal_hashed(docs, discount=0.75).select(
        "doc_id",
        F.col("gram5_count").alias("token_count"),
        F.col("kn5h_bits_per_gram").alias("bits_per_token"),
    )
    s3 = t.kn_trigram_surprisal(docs, discount=0.75).select(
        "doc_id",
        F.col("trigram_count").alias("token_count"),
        F.col("kn3_bits_per_trigram").alias("bits_per_token"),
    )
    kn5, kn3 = buckets(s5), buckets(s3)

    # exclusion contract: < 5 tokens carries no 5-gram score
    assert 1000 not in kn5 and 1001 in kn5
    # ntile balance over the 41 scored docs (40 graded + the 5-token
    # edge doc): larger buckets first, 14/14/13
    sizes = {}
    for b in kn5.values():
        sizes[b] = sizes.get(b, 0) + 1
    assert sizes == {"head": 14, "middle": 14, "tail": 13}, sizes
    # the unambiguous extreme lands where CCNet puts it, under BOTH
    # LM orders. (The all-singleton docs 10-19 are NOT pinned to tail:
    # self-scoring KN leaves no unseen gram, so a doc of never-repeated
    # tokens scores mid-range at order 5 — the redistribution mass is
    # the whole signal — while mixed common/rare docs spread wider.)
    assert all(kn5[i] == "head" for i in range(10))
    assert all(kn3[i] == "head" for i in range(10))
    # agreement with the oracle-backed kn3 twin where a true
    # predictability gradient exists: measured 0.756 bucket agreement
    # (Spearman 0.888), ZERO head<->tail flips; floors leave noise
    # margin on the graded middle band
    common = set(kn5) & set(kn3)
    agree = sum(1 for d in common if kn5[d] == kn3[d])
    assert agree / len(common) >= 0.65, f"kn5/kn3 agreement {agree}/{len(common)}"
    flips = sum(1 for d in common if {kn5[d], kn3[d]} == {"head", "tail"})
    assert flips <= 2, f"head<->tail flips: {flips}"
    # seeded hash => deterministic across runs
    assert buckets(s5) == kn5


def test_corpus_filter_funnel_stages(spark):
    """Funnel counts on fixtures that exercise every stage: two docs
    pass everything but are exact dups (keeper survives), one fails
    gopher, one fails only c4, plus an empty doc."""
    passing = " ".join(
        ["The quick brown foxes jumped with grace and that was fine to see have some."] * 7
    )
    no_stop = " ".join(
        f"w{i}a unique varied token stream flows here nicely again today." for i in range(9)
    )
    braced = " ".join(
        f"The sentence number {i} talks with all of that detail here." for i in range(9)
    ) + " { }"
    rows = [
        (1, passing),
        (2, passing.upper()),   # normalized exact dup of 1; passes panels
        (3, no_stop),           # fails gopher (stopword rule)
        (4, braced),            # passes gopher, fails c4 (brace)
        (5, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["stage_name"]: r for r in curation.corpus_filter_funnel(docs).collect()}
    assert out["all"]["n_docs"] == 5
    assert out["gopher"]["n_docs"] == 3          # 1, 2, 4 survive the panel
    assert out["c4"]["n_docs"] == 2              # 4 drops on the brace
    assert out["dedup"]["n_docs"] == 1           # 2 collapses into 1
    assert out["all"]["frac_of_corpus"] == 1.0
    assert out["dedup"]["frac_of_corpus"] == 0.2
    assert [out[k]["stage"] for k in ("all", "gopher", "c4", "dedup")] == [0, 1, 2, 3]


def test_contamination_max_gram_df_cuts_hot_grams(spark):
    """The r15 hot-gram df-cut (_gram_df_cut): a gram occurring in more
    than max_gram_df probed docs is excluded from BOTH probe forms
    before scoring. Motivation is the deterministic-FP amplification
    the 10x stream probe measured (a 1% per-gram fpp inflating to a
    4.2% mean per-doc FP fraction via shared wrapper sentences,
    PROBE_r15 §f): under a Bloom bitmap a hot gram's FP status is
    fixed, so one unlucky ubiquitous gram taxes every doc. The cut is
    the fingerprint df-cut discipline applied to grams — ubiquitous
    grams carry no eval-overlap identity signal for the exact probe
    either."""
    from pyspark.sql import functions as F

    boiler = "this exact boilerplate footer sentence appears on every single page"
    rows = [
        (i, f"unique body {i} with its own distinct words w{i}a w{i}b w{i}c . "
            + boiler, "en", "s", 100)
        for i in range(6)
    ] + [
        # doc 100 shares a RARE 6-gram run with the benchmark (same
        # " . " separator as the other docs, so every boiler-side
        # gram — boundary grams included — reaches df 7 and is cut)
        (100, "the secret benchmark answer sequence is forty two exactly here . "
              + boiler, "en", "s", 100),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    bench = spark.createDataFrame(
        [(1, "the secret benchmark answer sequence is forty two exactly here . "
             + boiler)],
        "bench_id long, text string",
    )
    # without the cut: every doc flags (the boilerplate grams are in
    # the benchmark and in all 7 docs)
    out = {
        r["doc_id"]: r["contamination_frac"]
        for r in curation.contamination_check(docs, bench, n=6).collect()
    }
    assert all(f > 0 for f in out.values())
    # with the cut at 6 (boiler grams occur in all 7 docs > 6): only
    # the genuinely-overlapping doc flags, in BOTH probe forms
    for fn, kw in (
        (curation.contamination_check, {}),
        (curation.contamination_check_bloom, {"fpp": 0.01}),
    ):
        got = {
            r["doc_id"]: r["contamination_frac"]
            for r in fn(docs, bench, n=6, max_gram_df=6, **kw).collect()
        }
        # threshold-cut like real usage: the bloom form retains its
        # fpp-bounded per-gram false positives (a tiny bitmap here, so
        # an FP gram is worth ~1/11 of a doc) — what the cut removes
        # is the HOT-gram amplification, so the genuine overlap doc
        # separates cleanly at 0.25 in both forms
        flagged = {d for d, f in got.items() if f > 0.25}
        assert flagged == {100}, (fn.__name__, got)
        # the fraction is normalized by the doc's DISTINCTIVE grams
        assert got[100] > 0.3, (fn.__name__, got[100])
        if fn is curation.contamination_check:
            # the exact probe has no FP term at all post-cut
            assert {d for d, f in got.items() if f > 0} == {100}, got


# (build, execute) jobs of a warm builder call and its noop write. The
# build side is only the builder's localCheckpoint chain: the KN
# builders checkpoint their gram rows and every level, each level with
# its own normalizer columns, and the ccnet bucketings add the exact
# rank form's eager passes to their scorer's. So the KN execute side is
# the scoring joins and the per-doc fold, with no stats re-aggregated.
# dedup_exact and knn_join_ivf build lazily once the table schemas and
# the trained codebook are known.
CURATION_JOBS = {
    "kn_bigram_surprisal": (6, 3),
    "kn_trigram_surprisal": (8, 4),
    "kn5_surprisal_hashed": (12, 6),
    "ccnet_perplexity_buckets_kn3": (17, 1),
    "ccnet_perplexity_buckets_kn5": (23, 1),
    "dedup_exact": (0, 2),
    "knn_join_ivf": (0, 4),
}


@pytest.mark.skipif(not os.path.isdir(SF0001_DIR), reason=f"testdata dir {SF0001_DIR} not present")
def test_curation_build_job_budget(spark):
    """Tripwire on the curation builders' jobs, the counterpart of
    test_ingest_job_budget: after one warm call, a second builder call
    starts no job beyond its checkpoints, and executing the result
    starts no job beyond its own shuffles. A new eager count/collect, a
    schema inference in sources.load, or a normalizer recomputed at
    execute time breaks the budget loudly."""
    from metrocloud_data_pipeline_spark.queries import get_queries

    assert not spark.streams.active, "another streaming query would add jobs to the count"
    jobs = spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs
    qs = get_queries()

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    for key in CURATION_JOBS:
        noop(qs[key](spark, SF0001_DIR))
    spent = {}
    for key in CURATION_JOBS:
        j0 = jobs()
        df = qs[key](spark, SF0001_DIR)
        j1 = jobs()
        noop(df)
        spent[key] = (j1 - j0, jobs() - j1)
    over = {
        k: (b, e) for k, (b, e) in spent.items()
        if b > CURATION_JOBS[k][0] or e > CURATION_JOBS[k][1]
    }
    assert not over, f"over budget: {over} (spent {spent})"
