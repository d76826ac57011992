"""Property-based checks (SURVEY.md §5.2 item 3) — hypothesis generates
raw-message batches shaped like the simulator's value models; the
invariants mirror database_utils.py:341-395 and the adapter contracts.

One DataFrame per example keeps Spark roundtrips bounded
(max_examples is small; each example carries a whole batch of rows).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from metrocloud_data_pipeline_spark import schema as S
from metrocloud_data_pipeline_spark.operators import ingest

ANCHOR = "2025-09-26 12:00:00"
ANCHOR_EPOCH = 1758888000  # 2025-09-26T12:00:00Z

_maybe_float = st.one_of(st.none(), st.floats(min_value=-1e6, max_value=1e6, allow_nan=False))

raw_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.just(""), st.text(alphabet="abcdef0123456789:", min_size=1, max_size=17)),  # device_id
        st.one_of(st.none(), st.just("ruuvitag")),                          # device_type
        st.one_of(                                                          # timestamp string
            st.none(),
            st.integers(min_value=0, max_value=2_000_000_000).map(str),    # epoch (incl. relative < 1e7)
            st.just("2025-09-26T10:00:00Z"),
            st.just("not-a-timestamp"),
        ),
        _maybe_float,  # temperature
        _maybe_float,  # humidity
        _maybe_float,  # pressure
        _maybe_float,  # acceleration_x
        _maybe_float,  # battery_voltage
    ),
    min_size=1,
    max_size=12,
)

def _df(spark, rows):
    # pad generated tuples out to the full raw schema (fan_out requires
    # every channel column to exist; absent channels are null)
    from metrocloud_data_pipeline_spark import schema as _S

    full = [
        (d, t, ts, temp, hum, pres, ax, None, None, bv, None, None, None)
        for (d, t, ts, temp, hum, pres, ax, bv) in rows
    ]
    return spark.createDataFrame(full, _S.RAW_RUUVITAG_SCHEMA)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=raw_rows)
def test_fanout_row_count_equals_present_channels(spark, rows):
    # OP-T1 invariant: one output row per non-null sensor channel of each
    # raw message (ruuvitag_adapter.py:333-379), regardless of input mix
    out = ingest.fan_out(_df(spark, rows))
    channels = ("temperature", "humidity", "pressure", "acceleration_x", "battery_voltage")
    expected = sum(sum(1 for c, v in zip(channels, r[3:]) if v is not None) for r in rows)
    assert out.count() == expected


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=raw_rows)
@pytest.mark.slow
def test_validation_never_passes_bad_rows(spark, rows):
    # OP-T9/T10 invariant: the valid stream has no null/empty required
    # fields and no out-of-domain values; valid+rejected == input
    valid, rejected = ingest.normalize_raw(_df(spark, rows), anchor=ANCHOR)
    n_in = ingest.fan_out(_df(spark, rows)).count()
    assert valid.count() + rejected.count() == n_in
    bad = valid.where(
        F.col("device_id").isNull() | (F.col("device_id") == "")
        | F.col("device_type").isNull() | (F.col("device_type") == "")
        | F.col("unit").isNull() | (F.col("unit") == "")
        | F.col("timestamp").isNull()
        | (F.col("battery_level").isNotNull() & ~F.col("battery_level").between(0.0, 100.0))
        | (F.col("latitude").isNotNull() & ~F.col("latitude").between(-90.0, 90.0))
        | (F.col("longitude").isNotNull() & ~F.col("longitude").between(-180.0, 180.0))
        | ~F.col("status").isin(list(S.DEVICE_STATUSES))
    )
    assert bad.count() == 0


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=raw_rows)
@pytest.mark.slow
def test_clamp_bounds_all_timestamps(spark, rows):
    # OP-T11 invariant: every normalized timestamp lies within the clamp
    # window of the anchor (timescaledb_sink.py:151-160)
    valid, _ = ingest.normalize_raw(_df(spark, rows), anchor=ANCHOR)
    secs = S.CLAMP_WINDOW_HOURS * 3600
    outside = valid.where(F.abs(F.unix_timestamp("timestamp") - F.lit(ANCHOR_EPOCH)) > secs)
    assert outside.count() == 0


# --- interval_join vs the naive range join ---------------------------------

_iv_events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),          # key
        st.integers(min_value=0, max_value=10_000),     # ts offset sec
    ),
    min_size=1,
    max_size=20,
)
_iv_intervals = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),          # key
        st.integers(min_value=0, max_value=10_000),     # start offset sec
        st.integers(min_value=-600, max_value=5_000),   # length sec (may be negative -> reversed)
    ),
    min_size=1,
    max_size=10,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_iv_events, _iv_intervals)
@pytest.mark.slow
def test_interval_join_matches_naive_range_join(spark, evs, ivs):
    # the bucketed equi-join must return EXACTLY the pairs the naive
    # (non-scalable) BETWEEN join returns, for arbitrary bucket
    # alignment, multi-bucket spans, and reversed intervals
    import datetime as dt

    from metrocloud_data_pipeline_spark.operators import temporal

    t0 = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(k, t0 + dt.timedelta(seconds=s), i) for i, (k, s) in enumerate(evs)],
        "k long, ts timestamp, ev_id long",
    )
    iv = spark.createDataFrame(
        [
            (k, t0 + dt.timedelta(seconds=s), t0 + dt.timedelta(seconds=s + ln), i)
            for i, (k, s, ln) in enumerate(ivs)
        ],
        "k long, start timestamp, end timestamp, iv_id long",
    )
    got = {
        (r["ev_id"], r["iv_id"])
        for r in temporal.interval_join(
            ev, iv, key_col="k", bucket_width="15 minutes"
        ).collect()
    }
    naive = {
        (r["ev_id"], r["iv_id"])
        for r in ev.alias("e")
        .join(
            iv.alias("i"),
            (F.col("e.k") == F.col("i.k"))
            & F.col("e.ts").between(F.col("i.start"), F.col("i.end")),
        )
        .collect()
    }
    assert got == naive


# --- tfidf_top_terms vs an independent pandas reference ----------------------

_words = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"])
_doc_texts = st.lists(
    st.lists(_words, min_size=1, max_size=12).map(" ".join),
    min_size=2,
    max_size=8,
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=_doc_texts)
def test_tfidf_matches_pandas_reference(spark, texts):
    import math
    from collections import Counter

    from metrocloud_data_pipeline_spark.llm import text as llm_text

    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {
        (r["doc_id"], r["rnk"]): (r["term"], r["tf"], r["tfidf"])
        for r in llm_text.tfidf_top_terms(docs, k=3).collect()
    }

    n = len(texts)
    tfs = {i: Counter(t.split()) for i, t in enumerate(texts)}
    df = Counter(term for c in tfs.values() for term in c)
    for i, c in tfs.items():
        scored = sorted(
            (
                (round(tf * (math.log((1 + n) / (1 + df[term])) + 1), 6), term, tf)
                for term, tf in c.items()
            ),
            key=lambda x: (-x[0], x[1]),
        )[:3]
        for rnk, (score, term, tf) in enumerate(scored, start=1):
            assert got[(i, rnk)] == (term, tf, score), (i, rnk, scored)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma delta epsilon zeta eta theta".split()),
            min_size=1,
            max_size=8,
        ).map(" ".join),
        min_size=2,
        max_size=14,
    )
)
@pytest.mark.slow
def test_cross_corpus_jaccard_matches_naive_cross_pairs(spark, texts):
    # the LSH-candidates + exact-verify incremental gate must equal the
    # naive incoming x corpus all-pairs answer (banding miss probability
    # at J>=0.9 with 128 perms / 32 bands is ~1e-30 — effectively exact)
    from metrocloud_data_pipeline_spark.llm import dedup

    docs = [(i, t) for i, t in enumerate(texts)]
    incoming = spark.createDataFrame(
        [d for d in docs if d[0] % 3 == 0], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [d for d in docs if d[0] % 3 != 0], "doc_id long, text string"
    )
    got = {
        (r["doc_new"], r["doc_corpus"], r["jaccard"])
        for r in dedup.cross_corpus_jaccard(incoming, corpus, threshold=0.9).collect()
    }

    def toks(t):
        return set(t.lower().split())

    want = set()
    for i, ti in docs:
        if i % 3 != 0:
            continue
        for j, tj in docs:
            if j % 3 == 0:
                continue
            inter = len(toks(ti) & toks(tj))
            union = len(toks(ti) | toks(tj))
            jac = round(inter / union, 6)
            if jac >= 0.9:
                want.add((i, j, jac))
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    dim_rows=st.lists(
        st.tuples(st.integers(0, 5), st.sampled_from(["a", "b", "c"])),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    ),
    upd_rows=st.lists(
        st.tuples(st.integers(0, 7), st.sampled_from(["a", "b", "c", "d"])),
        min_size=0,
        max_size=6,
        unique_by=lambda t: t[0],
    ),
)
@pytest.mark.slow
def test_scd2_merge_invariants(spark, dim_rows, upd_rows):
    # for ANY current-only dimension and dedup'd update batch: exactly
    # one open version per key afterward, closed rows end at the
    # effective ts, and total rows = old + changed + unseen-key inserts
    import datetime as dt

    from metrocloud_data_pipeline_spark.operators.maintenance import scd2_merge

    t0, t1 = dt.datetime(2020, 1, 1), dt.datetime(2024, 1, 1)
    dim = spark.createDataFrame(
        [(k, v, t0, None) for k, v in dim_rows],
        "k long, attr string, valid_from timestamp, valid_to timestamp",
    )
    updates = spark.createDataFrame(
        [(k, v, t1) for k, v in upd_rows], "k long, attr string, effective_ts timestamp"
    )
    out = scd2_merge(dim, updates, "k", ["attr"]).collect()

    cur = dict(dim_rows)
    upd = dict(upd_rows)
    changed = {k for k in upd if k in cur and upd[k] != cur[k]}
    new_keys = {k for k in upd if k not in cur}
    assert len(out) == len(dim_rows) + len(changed) + len(new_keys)
    open_rows = [r for r in out if r["valid_to"] is None]
    assert sorted(r["k"] for r in open_rows) == sorted(set(cur) | new_keys)
    for r in open_rows:
        expect = upd[r["k"]] if r["k"] in changed or r["k"] in new_keys else cur[r["k"]]
        assert r["attr"] == expect
    for r in out:
        if r["valid_to"] is not None:
            assert r["k"] in changed and r["valid_to"] == t1 and r["attr"] == cur[r["k"]]


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 4),                         # user
            st.integers(0, 50),                        # second offset
            st.sampled_from(["view", "click", "purchase", "error"]),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_funnel_matches_naive_python(spark, events):
    # the chained-window funnel must equal a brute-force per-user walk
    # for ANY event soup (duplicate timestamps, missing steps, noise
    # event types, users entering mid-funnel)
    import datetime as dt

    from metrocloud_data_pipeline_spark.operators import temporal

    t0 = dt.datetime(2024, 1, 1)
    rows = [(u, t0 + dt.timedelta(seconds=s), typ) for u, s, typ in events]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    steps = ["view", "click", "purchase"]
    got = {r["step"]: r["n_keys"] for r in temporal.funnel_steps(df, steps).collect()}

    def reach(user_rows):
        t_prev = None
        out = []
        for step in steps:
            cand = [
                t for (t, typ) in user_rows
                if typ == step and (t_prev is None or t > t_prev)
            ]
            if not cand:
                return out
            t_prev = min(cand)
            out.append(step)
        return out

    by_user = {}
    for u, t, typ in rows:
        by_user.setdefault(u, []).append((t, typ))
    want = {i + 1: 0 for i in range(len(steps))}
    for u, urows in by_user.items():
        for i in range(len(reach(urows))):
            want[i + 1] += 1
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    visits=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 20), st.integers(0, 23)),
        min_size=1,
        max_size=40,
    )
)
def test_cohort_retention_matches_naive_python(spark, visits):
    # (user, day-offset-from-jan1, hour) soup: the per-key day-set
    # reduction must equal a brute-force cohort walk, including
    # duplicate same-day visits and the max_offset cap
    import datetime as dt

    from metrocloud_data_pipeline_spark.operators import temporal

    rows = [
        (u, dt.datetime(2024, 1, 1 + d, h)) for u, d, h in visits
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {(str(r["cohort_day"]), r["day_offset"]): (r["n_active"], r["cohort_size"], r["retention_pct"])
           for r in temporal.cohort_retention(df, max_offset_days=7).collect()}

    by_user = {}
    for u, t in rows:
        by_user.setdefault(u, set()).add(t.date())
    cohort_of = {u: min(days) for u, days in by_user.items()}
    sizes = {}
    for u, c in cohort_of.items():
        sizes[c] = sizes.get(c, 0) + 1
    want = {}
    for u, days in by_user.items():
        c = cohort_of[u]
        for d in days:
            off = (d - c).days
            if off <= 7:
                key = (str(c), off)
                want[key] = want.get(key, 0) + 1
    want_full = {
        k: (n, sizes[dt.date.fromisoformat(k[0])],
            round(100.0 * n / sizes[dt.date.fromisoformat(k[0])], 6))
        for k, n in want.items()
    }
    assert got == want_full


# --- r6 temporal operators vs naive Python references ------------------------

_series = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),           # device
        st.integers(min_value=0, max_value=20_000),      # ts offset sec
        st.floats(min_value=-100, max_value=100, allow_nan=False),  # value
    ),
    min_size=1,
    max_size=25,
)


def _series_df(spark, rows):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    uniq = [(i, f"d{k}", t0 + dt.timedelta(seconds=off), float(v))
            for i, (k, off, v) in enumerate(rows)]
    return uniq, spark.createDataFrame(
        uniq, "reading_id long, device_id string, ts timestamp, value double"
    )


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_series)
def test_gapfill_tiles_span_and_carries(spark, rows):
    from metrocloud_data_pipeline_spark.operators import temporal

    uniq, df = _series_df(spark, rows)
    out = temporal.gapfill_resample(df, bucket="1 hour").collect()
    by_dev = {}
    for r in out:
        by_dev.setdefault(r["device_id"], []).append(r)
    for dev, rs in by_dev.items():
        rs = sorted(rs, key=lambda r: r["bucket_ts"])
        # grid is dense: consecutive buckets exactly 1h apart, span = observed span
        for a, b in zip(rs, rs[1:]):
            assert (b["bucket_ts"] - a["bucket_ts"]).total_seconds() == 3600
        obs = [r for r in rs if not r["is_gap"]]
        assert rs[0]["is_gap"] is False and rs[-1]["is_gap"] is False
        assert sum(r["n_readings"] for r in rs) == sum(1 for u in uniq if u[1] == dev)
        # LOCF: filled equals the most recent observed bucket average
        last = None
        for r in rs:
            if not r["is_gap"]:
                last = r["avg_value"]
            assert r["filled_value"] == last


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_series)
def test_counter_delta_matches_naive(spark, rows):
    from collections import defaultdict

    from metrocloud_data_pipeline_spark.operators import temporal

    uniq, df = _series_df(spark, rows)
    out = {(r["device_id"], r["bucket_ts"]): r
           for r in temporal.counter_delta(df, bucket="1 day").collect()}
    # naive reference
    want = defaultdict(lambda: [0, 0.0])  # (dev, day) -> [resets, increase]
    prev = {}
    for i, dev, ts, v in sorted(uniq, key=lambda u: (u[1], u[2], u[0])):
        day = ts.replace(hour=0, minute=0, second=0, microsecond=0)
        if dev in prev:
            d = v - prev[dev]
            if d >= 0:
                want[(dev, day)][1] += d
            else:
                want[(dev, day)][0] += 1
                want[(dev, day)][1] += v
        prev[dev] = v
    for (dev, day), (resets, inc) in want.items():
        r = out[(dev, day)]
        assert r["n_resets"] == resets
        assert abs(r["counter_increase"] - round(inc, 6)) < 1e-6


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_series)
def test_m4_roles_are_true_extrema(spark, rows):
    from collections import defaultdict

    from metrocloud_data_pipeline_spark.operators import temporal

    uniq, df = _series_df(spark, rows)
    out = temporal.m4_downsample(df, bucket="1 hour").collect()
    groups = defaultdict(list)
    for i, dev, ts, v in uniq:
        b = ts.replace(minute=0, second=0, microsecond=0)
        groups[(dev, b)].append((ts, v, i))
    roles = defaultdict(dict)
    for r in out:
        roles[(r["device_id"], r["bucket_ts"])][r["role"]] = r
    assert set(roles) == set(groups)
    for key, pts in groups.items():
        rr = roles[key]
        assert set(rr) == {"first", "last", "min", "max"}
        assert rr["first"]["reading_id"] == min(pts, key=lambda p: (p[0], p[2]))[2]
        assert rr["last"]["reading_id"] == max(pts, key=lambda p: (p[0], p[2]))[2]
        assert rr["min"]["value"] == min(v for _, v, _ in pts)
        assert rr["max"]["value"] == max(v for _, v, _ in pts)


# --- r7 operator invariants --------------------------------------------------

_doc_texts = st.lists(
    st.text(alphabet="ab cd", min_size=0, max_size=60),
    min_size=1,
    max_size=8,
)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=_doc_texts)
def test_chunking_reconstructs_token_stream(spark, texts):
    """chunk_documents invariant (any corpus): dropping each chunk's
    overlap prefix (after chunk 0) and concatenating reconstructs the
    doc's exact token stream — no token lost, none duplicated."""
    from metrocloud_data_pipeline_spark.llm import text as T

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    ct, ov = 7, 3
    out = T.chunk_documents(docs, chunk_tokens=ct, overlap=ov).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, txt in enumerate(texts):
        toks = txt.split()
        if not toks:
            assert i not in by_doc
            continue
        chunks = sorted(by_doc[i], key=lambda r: r["chunk_id"])
        rebuilt = chunks[0]["chunk_text"].split()
        for c in chunks[1:]:
            rebuilt += c["chunk_text"].split()[ov:]
        assert rebuilt == toks, (txt, [c["chunk_text"] for c in chunks])
        # every chunk's token count matches its text
        assert all(len(c["chunk_text"].split()) == c["n_tokens"] for c in chunks)


_values = st.lists(
    st.floats(min_value=-500.0, max_value=500.0, allow_nan=False),
    min_size=1,
    max_size=30,
)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(vals=_values)
def test_value_histogram_conserves_count(spark, vals):
    """histogram invariant (any values): bucket counts sum to the row
    count (under/overflow slots catch everything), and every bucket id
    is within [0, nbuckets+1]."""
    from metrocloud_data_pipeline_spark.operators.analytics import value_histogram

    df = spark.createDataFrame(
        [("t", float(v)) for v in vals], "device_type string, value double"
    )
    out = value_histogram(df, lo=0.0, hi=100.0, nbuckets=5).collect()
    assert sum(r["n_values"] for r in out) == len(vals)
    assert all(0 <= r["bucket"] <= 6 for r in out)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(vals=st.lists(st.integers(min_value=0, max_value=40000), min_size=1, max_size=20))
def test_gapfill_interpolate_bounded_by_brackets(spark, vals):
    """interpolation invariant (any series): every generated value lies
    within [min, max] of the two bracketing observed bucket averages
    (linear blends never overshoot), and observed rows pass through."""
    from datetime import datetime, timedelta

    from metrocloud_data_pipeline_spark.operators import temporal

    base = datetime(2024, 1, 1)
    # values land in hour buckets 0, 3, 6, ... so interior gaps exist
    rows = [
        ("d", base + timedelta(hours=3 * i), v / 100.0)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "device_id string, ts timestamp, value double")
    out = sorted(
        temporal.gapfill_interpolate(df, bucket="1 hour").collect(),
        key=lambda r: r["bucket_ts"],
    )
    obs = [r for r in out if not r["is_gap"]]
    assert len(obs) == len(vals)
    for r in out:
        if r["is_gap"]:
            lo_side = [o["avg_value"] for o in obs if o["bucket_ts"] < r["bucket_ts"]]
            hi_side = [o["avg_value"] for o in obs if o["bucket_ts"] > r["bucket_ts"]]
            pv, nv = lo_side[-1], hi_side[0]
            assert min(pv, nv) - 1e-6 <= r["interp_value"] <= max(pv, nv) + 1e-6
        else:
            assert r["interp_value"] == r["avg_value"]


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from("aa bb cc dd".split()),
            min_size=0,
            max_size=12,
        ).map(" ".join),
        min_size=2,
        max_size=8,
    )
)
def test_substring_spans_and_excise_match_naive(spark, texts):
    """substring_dup_spans + excise_dup_spans vs a brute-force Python
    reference on random small-alphabet corpora (dense with duplicated
    3-grams by construction): same spans, same dup_group digests, same
    cleaned text, same removed-token accounting."""
    import hashlib
    import re as _re
    from collections import Counter

    from metrocloud_data_pipeline_spark.llm import text as llm_text

    L = 3
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )

    toks = {i: _re.sub(r"\s+", " ", t.lower().strip()).split(" ")
            for i, t in enumerate(texts)}
    grams = Counter()
    positions = {}
    for i, ts in toks.items():
        positions[i] = []
        for p in range(len(ts) - L + 1):
            g = tuple(ts[p:p + L])
            grams[g] += 1
            positions[i].append((p, g))
    want_spans = set()
    covered = {}
    for i, ps in positions.items():
        dup = sorted(p for p, g in ps if grams[g] >= 2)
        covered[i] = set()
        if not dup:
            continue
        start = prev = dup[0]
        runs = []
        for p in dup[1:]:
            if p - prev <= L:
                prev = p
            else:
                runs.append((start, prev + L - 1))
                start = prev = p
        runs.append((start, prev + L - 1))
        for s, e in runs:
            covered[i].update(range(s, e + 1))
            grp = hashlib.md5(" ".join(toks[i][s:e + 1]).encode()).hexdigest()
            want_spans.add((i, s, e, e - s + 1, grp))

    got_spans = set(
        (r["doc_id"], r["span_start"], r["span_end"], r["n_tokens"], r["dup_group"])
        for r in llm_text.substring_dup_spans(docs, min_tokens=L).collect()
    )
    assert got_spans == want_spans

    got_clean = {
        r["doc_id"]: (r["clean_text"], r["n_tokens_removed"])
        for r in llm_text.excise_dup_spans(docs, min_tokens=L).collect()
    }
    want_clean = {
        i: (
            " ".join(t for p, t in enumerate(ts) if p not in covered[i]),
            len(covered[i]),
        )
        for i, ts in toks.items()
    }
    assert got_clean == want_clean


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from("aa bb cc".split()),
            min_size=0,
            max_size=14,
        ).map(" ".join),
        min_size=1,
        max_size=5,
    )
)
def test_repetition_panel_matches_naive(spark, texts):
    """All ten Gopher panel signals vs a brute-force recomputation on
    random 3-token-alphabet corpora (saturated with repeats by
    construction, incl. empty docs)."""
    from collections import Counter

    from metrocloud_data_pipeline_spark.llm import curation as llm_curation

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict() for r in llm_curation.repetition_panel(docs).collect()}

    for i, t in enumerate(texts):
        toks = [x for x in t.lower().strip().split() if x]
        chars = sum(len(x) for x in toks)
        want = {"doc_id": i}
        lines = [" ".join(l.split()) for l in t.lower().split("\n")]
        lines = [l for l in lines if l]
        lcnt = Counter(lines)
        nl = len(lines)
        lch = sum(len(l) for l in lines)
        want["dup_line_frac"] = round(
            sum(c for c in lcnt.values() if c >= 2) / nl, 6) if nl else 0.0
        want["dup_line_char_frac"] = round(
            sum(c * len(l) for l, c in lcnt.items() if c >= 2) / lch, 6) if lch else 0.0
        for n in (2, 3, 4):
            gc = Counter(tuple(toks[p:p + n]) for p in range(len(toks) - n + 1))
            if gc and chars:
                top = max(gc.items(), key=lambda kv: (kv[1], [-ord(c) for c in " ".join(kv[0])]))
                # tie-break: max count, then lexicographically SMALLEST gram
                best = min((g for g, c in gc.items() if c == top[1]))
                want[f"top_ngram_char_frac_{n}"] = round(
                    gc[best] * sum(len(x) for x in best) / chars, 6)
            else:
                want[f"top_ngram_char_frac_{n}"] = 0.0
        for n in range(5, 11):
            gc = Counter(tuple(toks[p:p + n]) for p in range(len(toks) - n + 1))
            covered = set()
            for p in range(len(toks) - n + 1):
                if gc[tuple(toks[p:p + n])] >= 2:
                    covered.update(range(p, p + n))
            want[f"dup_ngram_char_frac_{n}"] = round(
                sum(len(toks[p]) for p in covered) / chars, 6) if chars else 0.0
        assert got[i] == want, (i, t, got[i], want)


# --- Kneser-Ney surprisal vs a naive reference, every registered order -----

_kn_corpus = st.lists(
    st.lists(st.sampled_from("a b c d aa bb".split()), min_size=0, max_size=8),
    min_size=1,
    max_size=8,
)


def _naive_kn(rows, order, D=0.75):
    """Direct transcription of the interpolated-KN recursion in
    kn_surprisal's docstring at any order — dict arithmetic, no frames."""
    import math
    from collections import Counter

    grams_per_doc, counts = {}, Counter()
    for doc_id, toks in rows:
        gs = [tuple(toks[i:i + order]) for i in range(len(toks) - order + 1)]
        if gs:
            grams_per_doc[doc_id] = gs
            counts.update(gs)
    # raw counts at the top order; below it, continuation counts: the
    # distinct words ahead of each suffix among the level-above types
    level = {order: counts}
    for k in range(order - 1, 1, -1):
        level[k] = Counter(g[1:] for g in level[k + 1])
    csum = {k: Counter() for k in level}
    nfwd = {k: Counter() for k in level}
    for k, cnt in level.items():
        for g, c in cnt.items():
            csum[k][g[:-1]] += c
            nfwd[k][g[:-1]] += 1
    nback = Counter(g[-1] for g in level[2])
    B = len(level[2])

    def prob(g):
        k, h = len(g), g[:-1]
        head = max(level[k][g] - D, 0) / csum[k][h]
        w = D * nfwd[k][h] / csum[k][h]
        return head + (w * nback[g[-1]] / B if k == 2 else w * prob(g[1:]))

    return {
        doc_id: (len(gs), sum(-math.log2(prob(g)) for g in gs) / len(gs))
        for doc_id, gs in grams_per_doc.items()
    }


# builder -> (order, kwargs, count column, bits column); kn5 at 2^62
# buckets is effectively exact, so it answers to the same reference
_KN_BUILDERS = {
    "kn_bigram_surprisal": (2, {}, "bigram_count", "kn_bits_per_bigram"),
    "kn_trigram_surprisal": (3, {}, "trigram_count", "kn3_bits_per_trigram"),
    "kn5_surprisal_hashed": (5, {"n_buckets": 1 << 62}, "gram5_count", "kn5h_bits_per_gram"),
}


@pytest.mark.parametrize("builder", list(_KN_BUILDERS))
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(corpus=_kn_corpus)
def test_kn_matches_naive_reference(spark, builder, corpus):
    from metrocloud_data_pipeline_spark.llm import text as llm_text

    order, kwargs, n_col, bits_col = _KN_BUILDERS[builder]
    rows = [(i, toks) for i, toks in enumerate(corpus)]
    docs = spark.createDataFrame(
        [(i, " ".join(toks), "en", "s0", len(" ".join(toks))) for i, toks in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).where(F.length(F.trim("text")) > 0)
    got = {
        r["doc_id"]: (r[n_col], r[bits_col])
        for r in getattr(llm_text, builder)(docs, **kwargs).collect()
    }
    want = _naive_kn(rows, order)
    assert set(got) == set(want)
    for doc_id, (n, bits) in want.items():
        assert got[doc_id][0] == n
        assert abs(got[doc_id][1] - round(bits, 6)) < 2e-6, (doc_id, got[doc_id], bits)


# --- r12: pure-codec round-trips (no Spark; plain hypothesis) ---------------

_png_pixels = st.integers(min_value=1, max_value=9).flatmap(
    lambda w: st.integers(min_value=1, max_value=9).flatmap(
        lambda h: st.tuples(
            st.just(w),
            st.lists(
                st.lists(st.integers(0, 255), min_size=w, max_size=w),
                min_size=h,
                max_size=h,
            ),
            st.lists(st.integers(0, 4), min_size=h, max_size=h),  # per-row filter
        )
    )
)


@given(_png_pixels)
@settings(max_examples=60, deadline=None)
def test_png_decode_roundtrips_any_filter_sequence(case):
    """Random grayscale pixels hand-encoded with a RANDOM per-row
    filter sequence (independent residual computation per the PNG
    spec) must decode back pixel-exact — the randomized pin on the
    Sub/Up/Average/Paeth reconstruction, where an off-by-one in the
    left/up/corner predecessors corrupts silently."""
    import struct
    import zlib

    from metrocloud_data_pipeline_spark.llm import multimodal as mm

    w, pixels, filters = case
    h = len(pixels)
    prev = [0] * w
    scanlines = []
    for y in range(h):
        cur, f, res = pixels[y], filters[y], []
        for x in range(w):
            a = cur[x - 1] if x >= 1 else 0
            b = prev[x]
            c = prev[x - 1] if x >= 1 else 0
            if f == 0:
                r = cur[x]
            elif f == 1:
                r = (cur[x] - a) & 255
            elif f == 2:
                r = (cur[x] - b) & 255
            elif f == 3:
                r = (cur[x] - (a + b) // 2) & 255
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                r = (cur[x] - pred) & 255
            res.append(r)
        scanlines.append(bytes([f]) + bytes(res))
        prev = cur

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"".join(scanlines)))
        + chunk(b"IEND", b"")
    )
    decoded = mm._png_decode(png)
    assert [[int(v) for v in row[:, 0]] for row in decoded] == pixels
    # and the fallback encoder's output re-decodes to the same pixels
    assert mm._png_decode(mm._png_encode(decoded)).tolist() == decoded.tolist()


@given(
    st.integers(min_value=1, max_value=4),   # frames
    st.integers(min_value=1, max_value=6),   # width (exercises stride padding)
    st.integers(min_value=1, max_value=5),   # height
    st.integers(min_value=0, max_value=2**32 - 1),  # pixel seed
)
@settings(max_examples=60, deadline=None)
def test_avi_roundtrip_any_geometry(n, w, h, seed):
    """Random RGB frames of random geometry round-trip pixel-exact
    through the AVI encoder/decoder — widths not divisible by 4
    exercise the DIB stride padding, the seed varies content so the
    bottom-up/BGR transforms can't cancel out unnoticed."""
    import numpy as np

    from metrocloud_data_pipeline_spark.llm import multimodal as mm

    rng = np.random.default_rng(seed)
    frames = rng.integers(0, 256, size=(n, h, w, 3), dtype=np.uint8)
    decoded, period_ms = mm._avi_decode(mm._avi_encode(frames, fps=25.0))
    assert period_ms == 40.0
    assert decoded.tolist() == frames.tolist()


@given(
    st.integers(min_value=1, max_value=3),          # channels
    st.sampled_from([1, 2, 3, 4]),                  # sample width (bytes)
    st.integers(min_value=0, max_value=2**32 - 1),  # sample seed
)
@settings(max_examples=40, deadline=None)
def test_wav_feature_total_energy_tracks_amplitude(channels, sampwidth, seed):
    """For ANY PCM width/channel count, _wav_audio_feature must (a)
    return dim finite non-negative values, and (b) rank a louder copy
    of the same signal at least as high in total log-energy — the
    monotonicity that makes the feature usable for silence/clipping
    gates."""
    import math
    import struct
    import wave
    from io import BytesIO

    import numpy as np

    from metrocloud_data_pipeline_spark.llm import multimodal as mm

    rng = np.random.default_rng(seed)
    sr, n = 4000, 600
    base = rng.uniform(-0.4, 0.4, size=n)

    def encode(scale):
        buf = BytesIO()
        with wave.open(buf, "wb") as wv:
            wv.setnchannels(channels)
            wv.setsampwidth(sampwidth)
            wv.setframerate(sr)
            frames = bytearray()
            for s in base * scale:
                if sampwidth == 1:
                    packed = struct.pack("B", int(s * 127) + 128)
                elif sampwidth == 2:
                    packed = struct.pack("<h", int(s * 32767))
                elif sampwidth == 3:
                    v = int(s * ((1 << 23) - 1)) & 0xFFFFFF
                    packed = bytes((v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF))
                else:
                    packed = struct.pack("<i", int(s * 2147483647))
                frames += packed * channels
            wv.writeframes(bytes(frames))
        return buf.getvalue()

    quiet = mm._wav_audio_feature(encode(0.5), 8)
    loud = mm._wav_audio_feature(encode(1.0), 8)
    for f in (quiet, loud):
        assert len(f) == 8 and all(math.isfinite(v) and v >= 0.0 for v in f)
    assert sum(loud) >= sum(quiet) - 1e-9


@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32)),
            st.one_of(st.none(), st.text(max_size=12)),
            st.integers(min_value=-(2**40), max_value=2**40),
            st.one_of(st.none(), st.booleans()),
            st.one_of(st.none(), st.dictionaries(st.text(min_size=1, max_size=5), st.text(max_size=5), max_size=3)),
            st.one_of(st.none(), st.lists(st.text(max_size=5), max_size=3)),
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=80, deadline=None)
def test_avro_codec_roundtrips_random_records(rows):
    """Random records through the spec codec (encode -> decode must be
    the identity, Confluent framing included) — the randomized twin of
    the wire-byte pytests, exercising union branches, negative zig-zag
    longs, empty/unicode strings, and map/array nulls together."""
    import json as _json
    import math

    from metrocloud_data_pipeline_spark.sources import avro_codec as ac

    schema = ac.parse_schema(_json.dumps({
        "type": "record", "name": "r", "fields": [
            {"name": "value", "type": ["null", "double"]},
            {"name": "unit", "type": ["null", "string"]},
            {"name": "seq", "type": "long"},
            {"name": "ok", "type": ["null", "boolean"]},
            {"name": "meta", "type": ["null", {"type": "map", "values": "string"}]},
            {"name": "tags", "type": ["null", {"type": "array", "items": "string"}]},
        ],
    }))
    for value, unit, seq, ok, meta, tags in rows:
        rec = {"value": value, "unit": unit, "seq": seq, "ok": ok,
               "meta": meta, "tags": tags}
        for framed, sid in ((False, None), (True, 7)):
            wire = ac.encode_record(schema, rec, schema_id=sid)
            back = ac.decode_record(schema, wire, confluent_framed=framed)
            for k in rec:
                if k == "value" and rec[k] is not None:
                    assert back[k] == rec[k] or math.isclose(back[k], rec[k], rel_tol=0, abs_tol=0)
                else:
                    assert back[k] == rec[k], (k, rec[k], back[k])


@given(
    st.sampled_from(
        ["wav", "png", "avi", "mp3", "flac", "mp4", "jpeg", "ogg",
         "gif", "bmp", "webp", "probe"]
    ),
    st.sampled_from(["truncate", "flip", "len_corrupt", "garbage"]),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=264, deadline=None)  # 11 kinds x 4 modes: ~6 examples per cell
def test_media_decoders_fail_loud_on_corrupted_containers(kind, mode, seed):
    """Corruption fuzz over all three real decoders (r13): arbitrary
    truncations, byte flips, length-field corruption, and pure garbage
    must either decode successfully (a flip in pixel/sample data is
    legal content) or raise the documented NotImplementedError /
    ValueError — NEVER a raw struct.error / IndexError / numpy
    exception, and never an unbounded allocation. One adversarial
    payload in a crawl must not take an executor down."""
    import math
    import struct
    import wave
    from io import BytesIO

    import numpy as np

    from metrocloud_data_pipeline_spark.llm import multimodal as mm

    rng = np.random.default_rng(seed)

    if kind == "wav":
        buf = BytesIO()
        with wave.open(buf, "wb") as wv:
            wv.setnchannels(1)
            wv.setsampwidth(2)
            wv.setframerate(8000)
            wv.writeframes(
                b"".join(
                    struct.pack("<h", int(0.3 * 32767 * math.sin(i / 3.0)))
                    for i in range(400)
                )
            )
        payload = bytearray(buf.getvalue())
        decode = lambda b: mm._wav_audio_feature(b, 4)  # noqa: E731
    elif kind == "png":
        px = np.array([[[10, 20, 30], [200, 100, 50]],
                       [[0, 0, 0], [255, 255, 255]]], dtype=np.uint8)
        payload = bytearray(mm._png_encode(px))
        decode = mm._png_decode
    elif kind == "mp3":
        # r14: the pure MPEG frame-header walk joins the fuzz matrix
        payload = bytearray(mm._mp3_encode_headers(n_frames=4, id3=True))
        decode = mm._mp3_parse
    elif kind == "flac":
        payload = bytearray(mm._flac_encode_header(2000, 8000))
        decode = mm._flac_probe
    elif kind == "mp4":
        # r15: the ISO-BMFF box walk joins the fuzz matrix
        payload = bytearray(mm._mp4_encode_headers())
        decode = mm._mp4_probe
    elif kind == "jpeg":
        # r15: the JPEG marker walk joins the fuzz matrix
        payload = bytearray(mm._jpeg_encode_headers(64, 48))
        decode = mm._jpeg_probe
    elif kind == "ogg":
        # r15: the CRC-verified Ogg page walk joins the fuzz matrix
        payload = bytearray(mm._ogg_encode(2000, 8000))
        decode = mm._ogg_probe
    elif kind == "gif":
        # r15: the GIF block walk joins the fuzz matrix
        payload = bytearray(mm._gif_encode_headers(12, 7, 3))
        decode = mm._gif_probe
    elif kind == "bmp":
        # r15: the BMP header probe joins the fuzz matrix
        payload = bytearray(mm._bmp_encode_headers(11, 5))
        decode = mm._bmp_probe
    elif kind == "webp":
        # r15: the WebP chunk probe joins the fuzz matrix
        payload = bytearray(mm._webp_encode_headers(160, 90))
        decode = mm._webp_probe
    elif kind == "probe":
        # the magic-byte probe dispatcher over a WAV body — must route
        # corrupted bytes to the documented contract, never raw errors
        buf = BytesIO()
        with wave.open(buf, "wb") as wv:
            wv.setnchannels(1)
            wv.setsampwidth(2)
            wv.setframerate(8000)
            wv.writeframes(b"\x01\x02" * 200)
        payload = bytearray(buf.getvalue())
        decode = mm._probe_payload
    else:
        frames = np.arange(2 * 2 * 3 * 3, dtype=np.uint8).reshape(2, 2, 3, 3)
        payload = bytearray(mm._avi_encode(frames, fps=25.0))
        decode = mm._avi_decode

    if mode == "truncate":
        cut = int(rng.integers(0, len(payload)))
        corrupted = bytes(payload[:cut])
    elif mode == "flip":
        i = int(rng.integers(0, len(payload)))
        payload[i] ^= int(rng.integers(1, 256))
        corrupted = bytes(payload)
    elif mode == "len_corrupt":
        # overwrite 4 bytes at a random offset with an extreme length
        i = int(rng.integers(0, max(1, len(payload) - 4)))
        payload[i : i + 4] = struct.pack("<I", 0xFFFFFF00)
        corrupted = bytes(payload)
    else:
        corrupted = bytes(rng.integers(0, 256, size=int(rng.integers(0, 200)), dtype=np.uint8))

    try:
        out = decode(corrupted)
    except (NotImplementedError, ValueError):
        return  # the documented fail-loud contract
    # success is legal (content-only corruption) — but the output must
    # be well-formed, not a half-parsed artifact
    if kind == "wav":
        assert isinstance(out, list) and len(out) == 4
    elif kind == "png":
        assert out.ndim == 3
    elif kind == "mp3":
        assert out["n_frames"] >= 1 and out["sample_rate"] > 0
    elif kind == "flac":
        assert out["sample_rate"] > 0
    elif kind == "mp4":
        assert out["container"] == "mp4" and out["duration_ms"] >= 0
    elif kind == "jpeg":
        assert out["container"] == "jpeg" and out["width"] >= 1
    elif kind == "ogg":
        # a surviving flip can only be in inert packet bytes the CRC
        # covers — so success means a byte-identical-to-valid page set
        assert out["container"].startswith("ogg-") and out["n_frames"] >= 0
    elif kind == "gif":
        assert out["container"] == "gif" and out["n_frames"] >= 1
    elif kind == "bmp":
        assert out["container"] == "bmp" and out["width"] >= 1
    elif kind == "webp":
        assert out["container"] == "webp" and out["width"] >= 1
    elif kind == "probe":
        assert out["container"] in (
            "wav", "avi", "png", "mp3", "flac", "mp4", "jpeg",
            "gif", "bmp", "webp", "ogg-vorbis", "ogg-opus",
        )
        # a flip in a WAV/FLAC length field can legitimately declare an
        # EMPTY (0-sample) stream — a well-formed answer, not an escape
        # (found by hypothesis on this very assertion, r14); mp3/avi
        # parsers refuse frameless streams, so >= 1 holds there
        if out["container"] in ("mp3", "avi"):
            assert out["n_frames"] >= 1
        else:
            assert out["n_frames"] >= 0
    else:
        frames_out, period = out
        assert frames_out.ndim == 4 and period > 0
