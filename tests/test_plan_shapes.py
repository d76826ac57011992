"""Plan-SHAPE regression gate (VERDICT r10 advice #4).

tests/test_plans.py pins qualitative plan properties (pushdown,
broadcast, no cartesian); nothing diffed the NUMERIC shape — so a new
shuffle, a lost broadcast (SortMergeJoin creeping in), or an accidental
Python stage only surfaced as noisy bench timing. This module pins
per-query (exchanges, python-stages, SortMergeJoin count) upper bounds
for ~20 sentinel queries: the bench worst-5, the TPC-H heads, and one
per llm/operator family.

Two layers:
- a no-Spark check that parses the committed PLANS.md (regenerated by
  `python tools/dump_plans.py` after plan-affecting changes) — ~1 ms,
  runs on every pytest invocation;
- a live-Spark twin over a 5-query subset that builds the plans fresh,
  so a regression fails even when PLANS.md is stale.

Bounds are UPPER bounds (current value as of r11): a plan that gets
BETTER (fewer exchanges) passes; regenerate PLANS.md and tighten the
constant here when that happens. On failure: read the query's
.explain("formatted"), find the new Exchange / SortMergeJoin /
ArrowEvalPython, and either fix the plan or — if the new shape is
deliberate and justified — update the bound in the same commit with a
comment saying why.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]

# query -> (max_exchanges, max_python_stages, max_sortmergejoins)
# Values = the r11 PLANS.md shape. python_stages counts the DELIBERATE
# Arrow kernels (knn_join_ivf's coarse assignment); everything else is 0.
SENTINEL_BOUNDS: dict[str, tuple[int, int, int]] = {
    # bench worst-5 (BENCH_LOCAL / BENCH_FULL_LOCAL)
    # r15: the panel is ONE map-only Arrow kernel emitting integer
    # per-doc stats (division/rounding stay in Catalyst) — zero joins;
    # the single python stage is the kernel, and the one allowed
    # exchange is fan_out_scan's scale-adaptive round-robin, present
    # only when the scan is narrower than the session parallelism.
    "text_repetition_panel": (1, 1, 0),
    "dedup_embed_semdedup": (0, 0, 0),    # downstream of localCheckpoint
    # r15: +1 exchange = fan_out_scan's scale-adaptive round-robin on
    # the corpus side (present only when the scan is narrower than the
    # session parallelism — it parallelizes the assignment AND cosine
    # Arrow kernels, which otherwise ran at the single-split scan width)
    # 3 Arrow stages = query-side probe lists, corpus assignment and the
    # post-join cosine; a 4th is the corpus assignment run again below
    # the round-robin (a nullable list_id, see knn_join_ivf)
    "knn_join_ivf": (2, 3, 0),
    # downstream of the checkpointed level frames, which carry their own
    # normalizers (csum/nfwd per history, nback, an observed btypes): the
    # one exchange is the per-doc fold; the level joins are broadcast
    # at this scale, one per order above 2 plus the gram-row join
    "kn_bigram_surprisal": (1, 0, 0),
    "kn_trigram_surprisal": (1, 0, 0),
    "kn5_surprisal_hashed": (1, 0, 0),
    # r15: +1 exchange = fan_out_scan's scale-adaptive round-robin ahead
    # of the Expand rollup (the x5 replicas + partial agg otherwise run
    # at the single-split scan's width of one task; 3.45 -> 2.41 s)
    "dq_profile_events": (3, 0, 0),       # exact Expand rollup (HLL twin exists)
    # TPC-H heads: all-broadcast star joins, 1-2 exchanges
    "h1_pricing_summary": (1, 0, 0),
    "h2_min_cost_supplier": (2, 0, 0),
    "h5_local_supplier_volume": (1, 0, 0),
    "h8_market_share": (1, 0, 0),
    "h9_nation_profit": (1, 0, 0),
    "h21_late_suppliers": (2, 0, 0),
    # one per llm/operator family
    "dedup_exact": (1, 0, 0),             # digest-keyed, text pruned pre-shuffle
    "dedup_minhash": (3, 0, 0),           # band -> bucket-join -> verify
    "tfidf_top_terms": (3, 0, 0),         # downstream of checkpointed tf
    "dsir_hashed_weights": (4, 0, 0),     # hashed-LM importance weights
    "gopher_quality_panel": (0, 0, 0),    # map-only HOF panel: NO shuffle
    "seq_pack_ranges": (1, 0, 0),         # packing window
    "w10_m4_downsample": (1, 0, 0),       # M4 per-pixel-bucket agg
    "w4_user_sessions": (1, 0, 0),        # sessionization window
    "a1_device_summary": (1, 0, 0),       # plain keyed agg
    # r12 additions: the real-media chains are two deliberate Arrow
    # stages (synth + decode) over a doc_id-pruned scan, no shuffle;
    # the distributed ntile reports downstream-of-checkpoint (one
    # Arrow rank stage, zero exchanges — the two bounded exchanges
    # live in the checkpointed prefix, docstring carries full shape)
    "media_audio_features": (1, 2, 0),    # r15: +1 = tone-synth fan_out_scan
    "media_video_features": (0, 2, 0),
    "ccnet_perplexity_buckets_exact_dist": (0, 1, 0),
    # r14 promotions (VERDICT r13 #4): near-dup reports downstream of
    # the checkpointed fingerprint frame — 3 bounded aggs (sizes /
    # df-cut / shared-count, each over hash-sized rows, never payloads)
    # and every join broadcast; the KN-5 bucketing is the distributed
    # ntile shape (one Arrow rank stage, exchanges in the checkpointed
    # prefix like its kn3/exact_dist siblings)
    "media_video_near_dup": (3, 0, 0),
    "ccnet_perplexity_buckets_kn5": (0, 1, 0),
    # r15 promotions (VERDICT r14 #3): the container probe is the
    # map-only pre-pass (0 exchanges; 4 Arrow stages = synth + probe
    # kernels over the id-pruned scan); the recall report composes
    # synth + recontainer + the near-dup chain (its 8 exchanges are
    # the near-dup aggs over hash-sized rows, doubled corpus); the
    # bloom probe's contract is a SHUFFLE-FREE probe side — its 2
    # exchanges are the per-doc agg + exact-twin join in the audit
    # composition, never a gram-level shuffle (the bitmap build's
    # partition-OR collect runs eagerly at build time)
    "media_container_probe": (1, 4, 0),   # r15: +1 = tone-synth fan_out_scan
    "media_neardup_recall_report": (8, 3, 0),
    "decontaminate_ngram_bloom": (2, 1, 0),
    # r15: the audit is ONE fused corpus gram pass (exact flag via
    # broadcast join + bloom flag via the bitmap kernel into a single
    # per-doc agg) — 3 exchanges, down from 5 in the run-both-tiers-
    # then-join form
    "decontaminate_bloom_audit": (3, 1, 0),
}

ROW_RE = re.compile(
    r"^\| (?P<name>[a-z0-9_]+) \| (?P<joins>[^|]*) \| (?P<exchanges>\d+) "
    r"\| [^|]* \| \d+ \| (?P<python>\d+) \|",
    re.M,
)


def _plans_md_rows() -> dict[str, dict]:
    text = (REPO / "PLANS.md").read_text()
    rows = {}
    for m in ROW_RE.finditer(text):
        joins = m.group("joins")
        smj = 0
        sm = re.search(r"SortMergeJoin(?:×(\d+))?", joins)
        if sm:
            smj = int(sm.group(1) or 1)
        rows[m.group("name")] = {
            "exchanges": int(m.group("exchanges")),
            "python": int(m.group("python")),
            "smj": smj,
        }
    return rows


def test_plans_md_parses_and_covers_sentinels():
    rows = _plans_md_rows()
    assert len(rows) > 100, "PLANS.md table failed to parse"
    missing = set(SENTINEL_BOUNDS) - set(rows)
    assert not missing, f"sentinels absent from PLANS.md: {sorted(missing)}"


@pytest.mark.parametrize("name", sorted(SENTINEL_BOUNDS))
def test_sentinel_plan_shape_from_plans_md(name):
    rows = _plans_md_rows()
    got = rows[name]
    max_ex, max_py, max_smj = SENTINEL_BOUNDS[name]
    assert got["exchanges"] <= max_ex, (
        f"{name}: {got['exchanges']} exchanges > pinned {max_ex} — a new "
        "shuffle crept into the plan (or PLANS.md was regenerated after a "
        "deliberate shape change without updating SENTINEL_BOUNDS)"
    )
    assert got["python"] <= max_py, (
        f"{name}: {got['python']} Python stages > pinned {max_py} — an "
        "expression fell out of codegen into a Python/Arrow stage"
    )
    assert got["smj"] <= max_smj, (
        f"{name}: {got['smj']} SortMergeJoins > pinned {max_smj} — a "
        "broadcast join degraded to a sort-merge join"
    )


# live twin: PLANS.md can be stale between regenerations; these build
# the plan fresh. Subset chosen for coverage of each failure mode at
# minimal cost: a multi-join TPC-H head (broadcast loss), the Arrow
# ANN path (python creep), a shuffle-agg (exchange creep), and the
# map-only panel (any shuffle at all is a regression).
LIVE_SUBSET = [
    "h2_min_cost_supplier",
    "knn_join_ivf",
    "dedup_exact",
    "gopher_quality_panel",
    "w4_user_sessions",
]


@pytest.mark.parametrize("name", LIVE_SUBSET)
def test_sentinel_plan_shape_live(spark, name):
    sys.path.insert(0, str(REPO / "tools"))
    from dump_plans import plan_string, summarize

    from metrocloud_data_pipeline_spark.queries import get_queries

    df = get_queries()[name](spark, "/root/testdata/sf0.001")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        s = summarize(plan_string(df))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    max_ex, max_py, max_smj = SENTINEL_BOUNDS[name]
    assert s["exchanges"] <= max_ex, (name, s)
    assert s["python_stages"] <= max_py, (name, s)
    assert s["joins"].get("SortMergeJoin", 0) <= max_smj, (name, s)


def test_knn_join_ivf_assigns_each_side_once(spark):
    """The IVF assignment kernel runs once per side: one nearest_lists
    stage for the query probes, one for the corpus. A nullable corpus
    list_id lets the join infer isnotnull(nearest_lists(...)[1]), which
    Spark evaluates below fan_out_scan's round-robin, so the corpus side
    ran the kernel twice, the first time serially on the scan's single
    split."""
    sys.path.insert(0, str(REPO / "tools"))
    from dump_plans import plan_string

    from __spark_entry__ import SF0001_DIR
    from metrocloud_data_pipeline_spark.queries import get_queries

    df = get_queries()["knn_join_ivf"](spark, SF0001_DIR)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_string(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert len(re.findall(r"^Arguments: \[nearest_lists\(", plan, re.M)) == 2, plan
