"""Registry consistency gates — no Spark session, ~1 ms.

Round 8 shipped a query registered via @q but absent from QUERY_ORDER;
the assertion inside get_queries() then broke EVERY consumer (driver
correctness run, driver bench, pytest collection of the smoke module).
These tests make that mismatch a single, clearly-named failure instead
of a suite-wide collapse — run them first, they import nothing heavy.
"""

from __future__ import annotations

from metrocloud_data_pipeline_spark import queries as q


def test_query_order_matches_registered_queries():
    missing = set(q.SPARK_QUERIES) - set(q.QUERY_ORDER)
    extra = set(q.QUERY_ORDER) - set(q.SPARK_QUERIES)
    assert not missing, f"registered via @q but absent from QUERY_ORDER: {sorted(missing)}"
    assert not extra, f"in QUERY_ORDER but never registered: {sorted(extra)}"


def test_query_order_has_no_duplicates():
    dupes = [n for n in set(q.QUERY_ORDER) if q.QUERY_ORDER.count(n) > 1]
    assert not dupes, f"duplicate QUERY_ORDER entries: {sorted(dupes)}"


def test_oracle_keys_are_registered_queries():
    extra = set(q.ORACLE_SQL) - set(q.SPARK_QUERIES)
    assert not extra, f"oracle SQL with no queries() entry: {sorted(extra)}"


def test_get_queries_returns_full_ordered_registry():
    got = q.get_queries()
    assert list(got) == q.QUERY_ORDER
    assert len(got) == len(q.SPARK_QUERIES)


def test_driver_freshness_debt_is_in_the_window():
    """Every query whose newest green driver CORRECTNESS row is >= 6
    rounds old must sit inside the 50-slot driver window, i.e. the next
    driver run will refresh it.  The round-9 tree violated this
    (seq_pack_summary age 6 sat below the cutoff while new keys took
    the window), which let a quarter of the surface go 4+ rounds
    without a hard-signal row.  Threshold 6, not 5: a 50-slot window
    over a ~200-key registry cycles in ~4.1 rounds, and an n+1-key
    backlog legitimately parks exactly one key one extra round (the
    r10 case: 51 stale keys).  Fix on failure: move the named keys to
    the head of QUERY_ORDER.
    """
    import sys
    sys.path.insert(0, str(__import__("pathlib").Path(__file__).resolve().parents[1] / "tools"))
    from freshness import staleness_report

    rep = staleness_report(q.QUERY_ORDER, window=50, max_age=6)
    assert not rep["stale_outside_window"], (
        "stale queries outside the driver window (name, age, position): "
        f"{rep['stale_outside_window']}"
    )


def test_new_keys_have_registration_round():
    """A key with no driver row in any CORRECTNESS artifact must be in
    FIRST_REGISTERED_ROUND (tools/freshness.py) so the freshness gate
    can age it from its birth round instead of skipping it forever."""
    import sys
    sys.path.insert(0, str(__import__("pathlib").Path(__file__).resolve().parents[1] / "tools"))
    from freshness import FIRST_REGISTERED_ROUND, latest_green_rounds

    latest, _ = latest_green_rounds()
    never_checked = [
        name for name in q.QUERY_ORDER
        if name not in latest and name not in FIRST_REGISTERED_ROUND
    ]
    assert not never_checked, (
        "queries with no driver row and no registration round recorded: "
        f"{never_checked} — add them to FIRST_REGISTERED_ROUND"
    )


def test_oracles_are_nonempty_single_statements():
    for name, sql in q.ORACLE_SQL.items():
        assert sql.strip(), f"{name}: empty oracle"
        # a trailing semicolon or second statement breaks the driver's
        # duckdb .execute(...).df() single-result contract
        assert ";" not in sql.strip().rstrip(";"), f"{name}: multi-statement oracle"


def test_new_key_velocity_is_capped():
    """At most NEW_KEY_CAP registered keys may lack a driver row while
    any freshness debt exists (a never-checked key, or any key at
    age >= 4). The 50-slot window re-verifies ~a quarter of the surface
    per round; a round that registers 11+ new keys while old ones wait
    regrows the r9 backlog (51 rows stuck at age 5+) mechanically, not
    through any one bad decision. r10 held to 3 new keys by discipline;
    this makes the cap structural (VERDICT r10 advice #3)."""
    import sys
    sys.path.insert(0, str(__import__("pathlib").Path(__file__).resolve().parents[1] / "tools"))
    from freshness import latest_green_rounds, staleness_report

    NEW_KEY_CAP = 10

    latest, _ = latest_green_rounds()
    never_checked = [n for n in q.QUERY_ORDER if n not in latest]
    rep = staleness_report(q.QUERY_ORDER, window=50, max_age=4)
    any_debt = never_checked or any(
        a is not None and a >= 4 for a in rep["ages"].values()
    )
    if any_debt:
        assert len(never_checked) <= NEW_KEY_CAP, (
            f"{len(never_checked)} keys have never earned a driver row "
            f"({never_checked}) while freshness debt exists — cap is "
            f"{NEW_KEY_CAP}; let the window catch up before registering more"
        )


def test_no_oracle_keys_each_carry_a_sanctioned_reason():
    """The driver's rows-only check is deliberately weaker than the
    hash gate, so the no-oracle class may only grow EXPLAINED (VERDICT
    r11 #5): exact set equality between the actual no-oracle key set
    and the reason registry — an unexplained new rows-only key fails,
    as does a stale reason for a key that gained an oracle — and every
    reason must name a sanctioned category (non-portable hash / seeded
    or trained model / approximate sketch / iterative algorithm) plus
    the test module holding its pinned invariant."""
    no_oracle = set(q.SPARK_QUERIES) - set(q.ORACLE_SQL)
    unexplained = no_oracle - set(q.NO_ORACLE_REASONS)
    stale = set(q.NO_ORACLE_REASONS) - no_oracle
    assert not unexplained, (
        f"rows-only keys without a reason in NO_ORACLE_REASONS: "
        f"{sorted(unexplained)} — either add the oracle_sql twin or "
        "document why none can exist and where the pinned invariant lives"
    )
    assert not stale, (
        f"NO_ORACLE_REASONS entries for keys that now have oracles (or "
        f"were removed): {sorted(stale)}"
    )
    SANCTIONED = ("hash", "seeded", "trained", "sketch", "iterative")
    for name, reason in q.NO_ORACLE_REASONS.items():
        assert any(m in reason for m in SANCTIONED), (
            f"{name}: reason names no sanctioned category {SANCTIONED}: "
            f"{reason!r}"
        )
        assert "tests/test_" in reason or "oracle-checked" in reason, (
            f"{name}: reason does not say where the pinned invariant "
            f"lives: {reason!r}"
        )


def test_no_oracle_reasons_point_at_real_test_modules():
    """A reason citing tests/test_x.py must cite a module that exists —
    a stale pointer is as useless as no pointer."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1]
    for name, reason in q.NO_ORACLE_REASONS.items():
        for mod in re.findall(r"tests/test_[a-z_]+\.py", reason):
            assert (root / mod).exists(), f"{name}: {mod} does not exist"


def test_single_table_oracle_keys_have_edge_parity_coverage():
    """Every oracle-backed key reading exactly ONE of the three
    edge-fixtured tables (documents / events / embeddings) must appear
    in that table's edge-parity module — the r12 completeness sweep
    that found three real divergences (bigram -0.0, winnow null-text
    row, media null-payload conflation) made a standing gate, so a new
    key cannot silently skip pathological-input coverage.

    r13 extends the gate to the JOIN layer (VERDICT r12 #3): every
    oracle-backed key whose load set is any subset of the TPC-H star
    tables — multi-table joins AND the star single-table keys no other
    module fixtures — must appear in test_oracle_edge_parity_joins.py's
    JOIN_QUERIES, which runs them over null join keys, dangling FKs,
    empty join sides, null measures, and duplicate-key fact bursts."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1]
    src = (root / "metrocloud_data_pipeline_spark" / "queries.py").read_text()
    parts = re.split(r'@q\(\s*\n?\s*"([a-z0-9_]+)"', src)

    def module_list(fname: str, var: str) -> set[str]:
        t = (root / "tests" / fname).read_text()
        body = re.search(rf"{var} = \[(.*?)\]", t, re.S).group(1)
        return set(re.findall(r'"([a-z0-9_]+)"', body))

    covered = {
        "documents": module_list("test_oracle_edge_parity.py", "DOC_QUERIES"),
        "events": module_list("test_oracle_edge_parity_events.py", "EVENT_QUERIES"),
        "embeddings": module_list(
            "test_oracle_edge_parity_embeddings.py", "EMB_QUERIES"
        ),
    }
    join_covered = module_list("test_oracle_edge_parity_joins.py", "JOIN_QUERIES")
    STAR_TABLES = {
        "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    }
    oracle_keys = set(q.ORACLE_SQL)
    missing: list[tuple[str, str]] = []
    for i in range(1, len(parts), 2):
        name, body = parts[i], parts[i + 1].split("\n@q(")[0]
        tables = set(
            re.findall(r'load\(\s*spark,\s*sf_dir,\s*"(\w+)"', body, re.S)
        )
        # the readings() helper is an events load — the first scan
        # missed 21 readings-family keys this way (and 4 of them were
        # hiding real divergences)
        if re.search(r"\breadings\(spark, sf_dir\)", body):
            tables.add("events")
        if name not in oracle_keys or not tables:
            continue
        if tables <= STAR_TABLES:
            if name not in join_covered:
                missing.append(("star-join", name))
            continue
        if len(tables) != 1:
            continue
        (table,) = tables
        if table in covered and name not in covered[table]:
            missing.append((table, name))
    assert not missing, (
        f"oracle-backed keys absent from their edge-parity module: "
        f"{sorted(missing)} — add each to the module's query list "
        "(and fix whatever the pathological fixture then finds)"
    )


def test_streaming_partition_overwrite_uses_batch_bound_session():
    """foreachBatch hands each micro-batch a frame bound to an ISOLATED
    session clone; a partitionOverwriteMode set on the outer session
    never reaches the clone, the 'dynamic' overwrite silently runs
    STATIC, and every micro-batch deletes all prior partitions — the
    r13 media-sink bug, invisible to single-batch tests. Gate: inside
    streaming modules, dynamic_partition_overwrite may only take a
    session reached through a DataFrame (.sparkSession), never a bare
    outer-session variable."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1]
    bad: list[tuple[str, str]] = []
    for path in sorted(
        (root / "metrocloud_data_pipeline_spark" / "streaming").glob("*.py")
    ):
        for call in re.findall(
            r"with dynamic_partition_overwrite\(([^)]*)\)", path.read_text()
        ):
            if ".sparkSession" not in call:
                bad.append((path.name, call.strip()))
    assert not bad, (
        f"streaming dynamic_partition_overwrite calls not bound to the "
        f"micro-batch session: {bad} — pass <frame>.sparkSession, not the "
        "outer session"
    )


def test_streaming_appends_carry_an_at_least_once_justification():
    """Every sink a foreachBatch body writes must be effectively-once
    under redelivery (overwrite_batch_partition — batch_id dynamic
    partition overwrite) UNLESS an at-least-once append is explicitly
    justified in place: r13's side-sinks (rejects/metrics/alerts) were
    plain appends, so a crash-replay silently duplicated accounting
    rows even though every primary data store was effectively-once
    (VERDICT r13 #2). Gate: any mode("append") inside a streaming
    module must carry an 'at-least-once' marker comment within the 12
    preceding lines stating WHY redelivery cannot duplicate its rows
    (e.g. the corpus append, whose replayed rows are rejected upstream
    by the digest anti-join)."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    bad: list[tuple[str, int]] = []
    for path in sorted(
        (root / "metrocloud_data_pipeline_spark" / "streaming").glob("*.py")
    ):
        lines = path.read_text().splitlines()
        for i, line in enumerate(lines):
            if 'mode("append")' not in line and "mode('append')" not in line:
                continue
            window = "\n".join(lines[max(0, i - 12) : i + 1])
            if "at-least-once" not in window:
                bad.append((path.name, i + 1))
    assert not bad, (
        f"unjustified append sinks in streaming modules: {bad} — use "
        "maintenance.overwrite_batch_partition for effectively-once, or "
        "add an 'at-least-once append by design: <why redelivery cannot "
        "duplicate>' comment"
    )


def test_streaming_runners_share_one_start_path_and_one_batch_sink():
    """Every streaming runner starts through pipeline._start_micro_batches
    (foreachBatch behind a checkpoint, one trigger spelling) and lands
    every batch_id-keyed table through
    maintenance.overwrite_batch_partition. A runner that wires its own
    stream writer, or writes its own batch_id partitions, forks the
    effectively-once contract into a copy that the crash-replay and
    session-clone fixes above no longer cover. Gate: 'writeStream'
    appears exactly once under streaming/, and no streaming module
    spells partitionBy("batch_id")."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    starts: list[tuple[str, int]] = []
    batch_sinks: list[str] = []
    for path in sorted(
        (root / "metrocloud_data_pipeline_spark" / "streaming").glob("*.py")
    ):
        text = path.read_text()
        if text.count("writeStream"):
            starts.append((path.name, text.count("writeStream")))
        if 'partitionBy("batch_id")' in text or "partitionBy('batch_id')" in text:
            batch_sinks.append(path.name)
    assert starts == [("pipeline.py", 1)], (
        f"streaming writer sites: {starts} — start every runner through "
        "pipeline._start_micro_batches"
    )
    assert not batch_sinks, (
        f"batch_id-partitioned writes outside maintenance: {batch_sinks} — "
        "use maintenance.overwrite_batch_partition"
    )


def test_media_near_dup_tier_has_one_audit_one_guard_and_no_offset_option():
    """llm/multimodal.py decides each media near-dup rule once: the
    `errors` mode is checked in _is_lenient, a planted copy is made in
    _planted_copies (the one mapInPandas that keeps its input schema),
    and the planted-copy id offset is the RECONTAINER_ID_OFFSET
    constant the oracles hard-code. A second copy of any of these is
    a fork the recall oracles and the decode-guard tests no longer
    cover. Gate: 'errors not in (' and 'schema=media.schema' appear
    exactly once, and no def takes id_offset."""
    import ast
    import pathlib

    path = (
        pathlib.Path(__file__).resolve().parents[1]
        / "metrocloud_data_pipeline_spark" / "llm" / "multimodal.py"
    )
    text = path.read_text()
    assert text.count("errors not in (") == 1, (
        "validate errors modes through multimodal._is_lenient"
    )
    assert text.count("schema=media.schema") == 1, (
        "make planted copies through multimodal._planted_copies"
    )
    offset_defs = [
        node.name
        for node in ast.walk(ast.parse(text))
        if isinstance(node, ast.FunctionDef)
        and "id_offset" in [a.arg for a in node.args.args + node.args.kwonlyargs]
    ]
    assert not offset_defs, (
        f"id_offset parameters: {offset_defs} — planted copies sit at "
        "RECONTAINER_ID_OFFSET, which the oracles hard-code"
    )


def test_dedup_tier_defines_each_rule_once():
    """llm/dedup.py is the one home of each dedup rule: the text digest
    (text_digest), the exact set-Jaccard (_set_jaccard) and the unigram
    band spec (unigram_bands over _band_buckets). A second copy is a
    fork the oracles and the stored band index no longer cover, and a
    function taking both num_perm and corpus_bands accepts a banding the
    stored index cannot honour. Gate: 'md5(norm_text' appears once in
    the package, 'F.array_intersect' once in dedup.py, no module names a
    private _norm_text copy, no other module names _band_buckets, and no
    def takes both num_perm and corpus_bands."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "metrocloud_data_pipeline_spark"
    texts = {p: p.read_text() for p in pkg.rglob("*.py")}
    dedup_py = pkg / "llm" / "dedup.py"
    assert sum(t.count("md5(norm_text") for t in texts.values()) == 1, (
        "digest normalized text through dedup.text_digest"
    )
    assert texts[dedup_py].count("F.array_intersect") == 1, (
        "compute set Jaccard through dedup._set_jaccard"
    )
    copies = [str(p.relative_to(pkg)) for p, t in texts.items() if "_norm_text" in t]
    assert not copies, f"_norm_text in {copies} — normalize through text.norm_text"
    leaks = [
        f"{p.relative_to(pkg)}: _band_buckets"
        for p, t in texts.items()
        if p != dedup_py and "_band_buckets" in t
    ]
    assert not leaks, f"private dedup rules used outside dedup.py: {leaks}"
    both = [
        f"{p.relative_to(pkg)}:{node.name}"
        for p, t in texts.items()
        for node in ast.walk(ast.parse(t))
        if isinstance(node, ast.FunctionDef)
        and {"num_perm", "corpus_bands"}
        <= {a.arg for a in node.args.args + node.args.kwonlyargs}
    ]
    assert not both, (
        f"num_perm next to corpus_bands: {both} — a stored band index is "
        "built at dedup.NUM_PERM / dedup.BANDS only"
    )


def test_text_tier_defines_each_rule_once():
    """llm/text.py is the one home of the text tier's tokenizer rules:
    the normalizer (norm_text), the gram assembly (_zip_grams) and the
    (id, gram) row constructor (_gram_rows); llm/curation.py and
    llm/dedup.py import them. A second copy is a fork the row hashes of
    the generated corpora cannot see, because none of them holds an
    edge text where two spellings differ. Gate: 'F.lower(F.trim(',
    'F.arrays_zip(' and 'def _gram_rows(' appear once in the package,
    all in text.py; the retired constructors _lm_gram_rows and
    _term_rows are gone; and no llm module imports _gram_rows from
    curation."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "metrocloud_data_pipeline_spark"
    texts = {p: p.read_text() for p in pkg.rglob("*.py")}
    rules = (
        ("F.lower(F.trim(", "text.norm_text"),
        ("F.arrays_zip(", "text._zip_grams"),
        ("def _gram_rows(", "text._gram_rows"),
    )
    for rule, home in rules:
        sites = {
            p.relative_to(pkg).as_posix(): t.count(rule) for p, t in texts.items() if rule in t
        }
        assert sites == {"llm/text.py": 1}, f"{rule} at {sites} — use {home}"
    retired = [
        f"{p.relative_to(pkg)}: {name}"
        for p, t in texts.items()
        for name in ("_lm_gram_rows", "_term_rows")
        if name in t
    ]
    assert not retired, f"retired gram constructors: {retired} — use text._gram_rows"
    imports = [
        p.relative_to(pkg).as_posix()
        for p, t in texts.items()
        if p.parent == pkg / "llm"
        for node in ast.walk(ast.parse(t))
        if isinstance(node, ast.ImportFrom)
        and (node.module or "").split(".")[-1] == "curation"
        and "_gram_rows" in [a.name for a in node.names]
    ]
    assert not imports, f"_gram_rows imported from curation in {imports} — it lives in text.py"


def test_anomaly_thresholds_are_read_by_one_lookup():
    """S.ANOMALY_THRESHOLDS (OP-T7) has one reader, the expression
    helper ingest.threshold_bounds; detect_anomalies and
    streaming.pipeline.alert_columns flag through it. A thresholds
    frame built from the table's rows is the other shape this gate
    refuses: joined per micro-batch, it costs a broadcast job each
    time, and a second copy can drift from the first. Gate: outside
    schema.py, every ANOMALY_THRESHOLDS reference sits inside
    ingest.threshold_bounds, and no createDataFrame call in the
    package builds threshold rows."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "metrocloud_data_pipeline_spark"
    readers, frames = set(), []
    for p in pkg.rglob("*.py"):
        rel = p.relative_to(pkg).as_posix()
        text = p.read_text()
        tree = ast.parse(text)
        for top in tree.body:
            for node in ast.walk(top):
                name = node.attr if isinstance(node, ast.Attribute) else getattr(node, "id", None)
                if name == "ANOMALY_THRESHOLDS" and rel != "schema.py":
                    readers.add((rel, getattr(top, "name", "<module>")))
                if isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "createDataFrame":
                    if "thr" in ast.get_source_segment(text, node).lower():
                        frames.append(f"{rel}:{node.lineno}")
    outside = {r for r in readers if r != ("operators/ingest.py", "threshold_bounds")}
    assert readers and not outside, f"ANOMALY_THRESHOLDS read at {sorted(outside)} — use ingest.threshold_bounds"
    assert not frames, f"threshold rows built as a frame at {frames} — use ingest.threshold_bounds"


def test_natural_key_dedup_is_one_helper():
    """maintenance._dedup_on_natural_key is the one ON CONFLICT stand-in:
    idempotent_append passes it the stored keys and sources.jdbc_io
    .write_jdbc calls it without, so the dedup and the stored-key drop
    share one aggregation. Gate: one definition, and neither sink
    spells its own dropDuplicates or left_anti join."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "metrocloud_data_pipeline_spark"
    texts = {p.relative_to(pkg).as_posix(): p.read_text() for p in pkg.rglob("*.py")}
    homes = {p: t.count("def _dedup_on_natural_key(") for p, t in texts.items() if "def _dedup_on_natural_key(" in t}
    assert homes == {"operators/maintenance.py": 1}, homes
    for rel, name in (("operators/maintenance.py", "idempotent_append"), ("sources/jdbc_io.py", "write_jdbc")):
        text = texts[rel]
        fn = next(n for n in ast.walk(ast.parse(text)) if isinstance(n, ast.FunctionDef) and n.name == name)
        used = {getattr(n, "attr", getattr(n, "id", None)) for n in ast.walk(fn)}
        strings = {n.value for n in ast.walk(fn) if isinstance(n, ast.Constant)}
        assert "_dedup_on_natural_key" in used, name
        assert "dropDuplicates" not in used and "left_anti" not in strings, f"{name} dedups outside the one helper"
