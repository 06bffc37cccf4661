"""sessionize_scalable ≡ sessionize (bucket-and-stitch window-form parity).

The scalable form exists to kill the hot-key straggler (SCALE_RUN.json skew:
1.61× at x32 with a 25%-hot user on the window form). It must be bit-equal
to the window form on session ids — these tests pin that on:

- random timelines (many users, random gaps straddling the 30-min threshold)
- one hot user owning most events (the shape the rewrite targets)
- sessions that SPAN slice boundaries (the stitch path)
- sessions aligned exactly AT the gap threshold (> opens, == continues)
- single-event users, equal-timestamp ties, tiny n_slices (forced stitches)
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from seoul_big_data_spark.operators.windows import sessionize, sessionize_scalable


def _mk(spark, rows):
    df = spark.createDataFrame(rows, "user_id bigint, tss bigint").select(
        "user_id", F.timestamp_seconds("tss").alias("ts")
    )
    return df


def _ids(df):
    out = df.select("user_id", F.col("ts").cast("long").alias("tss"), "session_id")
    return sorted(out.collect())


def _assert_equiv(spark, rows, n_slices, hot_threshold=0):
    """hot_threshold=0 marks EVERY key hot — forcing the slice-and-stitch
    path the r10 hot-routing would otherwise skip on these small frames."""
    df = _mk(spark, rows)
    a = _ids(sessionize(df, "user_id", "ts", gap_minutes=30))
    b = _ids(
        sessionize_scalable(
            df, "user_id", "ts", gap_minutes=30, n_slices=n_slices,
            hot_threshold=hot_threshold,
        )
    )
    assert a == b


@pytest.mark.parametrize("n_slices", [2, 7, 64])
def test_random_timelines(spark, n_slices):
    rng = random.Random(42 + n_slices)
    rows = []
    for u in range(25):
        t = rng.randrange(0, 10_000)
        for _ in range(rng.randrange(1, 60)):
            # gaps hug the 1800 s threshold from both sides
            t += rng.choice([1, 30, 1799, 1800, 1801, 5000, 40_000])
            rows.append((u, t))
    _assert_equiv(spark, rows, n_slices)


def test_hot_user_with_boundary_spans(spark):
    rng = random.Random(7)
    rows = []
    t = 0
    for _ in range(4000):  # one user, 25x everyone else, mostly tight gaps
        t += rng.choice([5, 10, 60, 1799, 2000])
        rows.append((1, t))
    for u in range(2, 12):
        tu = rng.randrange(0, t)
        for _ in range(40):
            tu += rng.choice([60, 3600])
            rows.append((u, tu))
    # few slices → almost every session crosses a slice boundary
    _assert_equiv(spark, rows, n_slices=5)


def test_threshold_exact(spark):
    # == gap continues the session; +1 opens a new one — across a forced
    # slice boundary too (2 slices over a 2*1800 range puts the pair in
    # different slices).
    rows = [(1, 0), (1, 1800), (1, 3600), (2, 0), (2, 1801)]
    _assert_equiv(spark, rows, n_slices=2)


def test_ties_single_events_and_constant_time(spark):
    rows = [
        (1, 100), (1, 100), (1, 100),      # equal-second ties
        (2, 500),                          # single event
        (3, 0), (3, 0), (3, 90_000),       # tie then huge gap
    ]
    _assert_equiv(spark, rows, n_slices=16)
    # degenerate: all events at one instant (lo == hi ⇒ width guard)
    _assert_equiv(spark, [(1, 7), (2, 7), (1, 7)], n_slices=64)


def test_session_count_matches_definition(spark):
    # independent oracle: brute-force per-user session count in Python
    rng = random.Random(3)
    rows = []
    for u in range(8):
        t = 0
        for _ in range(200):
            t += rng.choice([10, 1801, 7200])
            rows.append((u, t))
    df = _mk(spark, rows)
    got = (
        sessionize_scalable(df, "user_id", "ts", gap_minutes=30, n_slices=9, hot_threshold=0)
        .groupBy("user_id")
        .agg(F.max("session_id").alias("n_sess"))
        .collect()
    )
    want = {}
    per_user: dict[int, list[int]] = {}
    for u, t in rows:
        per_user.setdefault(u, []).append(t)
    for u, ts in per_user.items():
        ts.sort()
        n = 1
        for a, b in zip(ts, ts[1:]):
            if b - a > 1800:
                n += 1
        want[u] = n
    assert {r["user_id"]: r["n_sess"] for r in got} == want


def test_gap_units_microseconds_matches_window_form(spark):
    # the attribution/path queries sessionize on unix_micros with a
    # 1.8e9 µs gap — sub-second gaps must count (second-truncation would
    # merge sessions the µs form splits)
    rng = random.Random(99)
    rows = []
    for u in range(10):
        t = rng.randrange(0, 10**9)
        for _ in range(300):
            t += rng.choice(
                [500_000, 1_799_999_999, 1_800_000_000, 1_800_000_001, 10**10]
            )
            rows.append((u, t))
    df = spark.createDataFrame(rows, "user_id bigint, tus bigint").withColumn(
        "event_id", F.monotonically_increasing_id()
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    gap = F.col("tus") - F.lag("tus").over(w)
    want = df.withColumn(
        "session_id",
        F.sum(
            F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    got = sessionize_scalable(
        df, "user_id", "tus", gap_units=1_800_000_000,
        tiebreak_cols=["event_id"], n_slices=7, hot_threshold=0,
    )
    cols = ["user_id", "tus", "event_id", "session_id"]
    assert sorted(want.select(cols).collect()) == sorted(got.select(cols).collect())


def _agg_ref(df):
    """Window-form session stats: the ground truth the fused form must hit."""
    s = sessionize(df, "user_id", "ts", gap_minutes=30)
    tss = F.col("ts").cast("long")
    return sorted(
        s.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min(tss).alias("lo"),
            F.max(tss).alias("hi"),
        )
        .collect()
    )


@pytest.mark.parametrize("n_slices", [2, 7, 64])
def test_sessionize_agg_scalable_matches_window_form(spark, n_slices):
    """The session-grain fused form (local aggs per (user, slice, local
    session) + merge aggs after the stitch) must reproduce the window
    form's per-session aggregates exactly — including sessions whose
    fragments span multiple slices (count merges by sum, bounds by
    min/max)."""
    from seoul_big_data_spark.operators.windows import sessionize_agg_scalable

    rng = random.Random(99 + n_slices)
    rows = []
    for u in range(20):
        t = rng.randrange(0, 5_000)
        for _ in range(rng.randrange(1, 80)):
            t += rng.choice([1, 30, 1799, 1800, 1801, 5000, 40_000])
            rows.append((u, t))
    # hot user: 60% of all events, long runs without a session break —
    # fragments guaranteed to span slices at small n_slices
    t = 0
    for _ in range(600):
        t += rng.choice([1, 200, 1700])
        rows.append((999, t))
    df = _mk(spark, rows)
    got = sorted(
        sessionize_agg_scalable(
            df,
            "user_id",
            "ts",
            local_aggs=[F.count("*").alias("n_events")],
            merge_aggs=[
                F.sum("n_events").alias("n_events"),
                F.min("s_first_tss").alias("lo"),
                F.max("s_last_tss").alias("hi"),
            ],
            gap_minutes=30,
            n_slices=n_slices,
            hot_threshold=0,
        ).collect()
    )
    assert got == _agg_ref(df)


@pytest.mark.parametrize("n_slices", [2, 7, 64])
def test_gap_moments_scalable_matches_flat_gaps(spark, n_slices):
    """Fused per-(key, slice) gap moments ∪ boundary-gap moments must sum
    to the flat window form's moments exactly (integer gaps — the decimal
    sums are order-independent)."""
    from seoul_big_data_spark.operators.windows import gap_moments_scalable

    rng = random.Random(1234 + n_slices)
    rows = []
    for u in range(15):
        t = rng.randrange(0, 3_000)
        for _ in range(rng.randrange(1, 70)):
            t += rng.randrange(1, 9_000)
            rows.append((u, t))
    rows.append((777, 42))  # single-event key: zero gaps, must vanish
    df = spark.createDataFrame(rows, "user_id bigint, tss bigint")
    fused = (
        gap_moments_scalable(
            df,
            part_cols=["user_id"],
            ts_col="tss",
            gap_col="g",
            n_slices=n_slices,
            hot_threshold=0,
        )
        .groupBy("user_id")
        .agg(
            F.sum("n_gaps").alias("n"),
            F.sum("s").alias("s"),
            F.sum("ssq").alias("ssq"),
        )
        .filter(F.col("n") > 0)
    )
    w = Window.partitionBy("user_id").orderBy("tss")
    gd = (F.col("tss") - F.lag("tss").over(w)).cast("decimal(19,0)")
    flat = (
        df.select("user_id", gd.alias("g"))
        .filter(F.col("g").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("g").alias("n"),
            F.sum("g").alias("s"),
            F.sum(F.col("g") * F.col("g")).alias("ssq"),
        )
    )
    a = sorted((r["user_id"], r["n"], int(r["s"]), int(r["ssq"])) for r in fused.collect())
    b = sorted((r["user_id"], r["n"], int(r["s"]), int(r["ssq"])) for r in flat.collect())
    assert a == b
    assert 777 not in {r[0] for r in a}


def test_fused_local_agg_rides_the_window_stage(spark):
    """The session-grain fusion's load-bearing plan property: the
    local-session aggregate's grouping keys (user, _slice, _ls) are a
    superset of the bucket window's partition keys (user, _slice), so
    Catalyst must plan NO Exchange between the WindowExec and the
    HashAggregate above it — the corpus collapses to session grain inside
    the window stage. If partitioning propagation ever breaks (a Spark
    upgrade, an accidental projection that re-aliases the keys), the
    corpus gets a second full shuffle and every measured claim about the
    fused form dies silently — this pins it."""
    from seoul_big_data_spark.operators.windows import sessionize_agg_scalable

    rows = [(u, 1000 * u + 7 * i) for u in range(5) for i in range(40)]
    df = _mk(spark, rows)
    out = sessionize_agg_scalable(
        df,
        "user_id",
        "ts",
        local_aggs=[F.count("*").alias("n")],
        merge_aggs=[F.sum("n").alias("n")],
        gap_minutes=30,
        n_slices=8,
        hot_threshold=0,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    # locate the partial aggregate keyed by _ls and the Window below it;
    # plan strings print parent above child, so any Exchange between them
    # would appear in the slice
    agg_idx = next(
        i for i, ln in enumerate(lines) if "HashAggregate" in ln and "_ls" in ln
    )
    win_idx = next(
        i for i in range(agg_idx + 1, len(lines)) if "Window" in lines[i]
    )
    between = "\n".join(lines[agg_idx : win_idx + 1])
    assert "Exchange" not in between, between


def test_fused_forms_on_empty_and_singleton_frames(spark):
    """Degenerate inputs through the fused forms: an EMPTY frame exercises
    _range_probe's (0, 0) sentinel (every slice expression must still
    evaluate), and a single-row frame is the smallest stitch. Both must
    match the window form (empty → empty, singleton → one session of 1)."""
    from seoul_big_data_spark.operators.windows import (
        gap_moments_scalable,
        sessionize_agg_scalable,
    )

    def stats(df):
        return sorted(
            sessionize_agg_scalable(
                df,
                "user_id",
                "ts",
                local_aggs=[F.count("*").alias("n")],
                merge_aggs=[F.sum("n").alias("n")],
                gap_minutes=30,
                n_slices=4,
            ).collect()
        )

    empty = _mk(spark, []).filter(F.lit(False))
    assert stats(empty) == []
    single = _mk(spark, [(7, 1000)])
    assert [tuple(r) for r in stats(single)] == [(7, 1, 1)]
    g = gap_moments_scalable(
        empty.select("user_id", F.col("ts").cast("long").alias("tss")),
        part_cols=["user_id"],
        ts_col="tss",
        gap_col="g",
        n_slices=4,
    )
    assert g.count() == 0


def test_hot_routing_mixed_population_row_level(spark):
    """r10 hot routing INSIDE sessionize_scalable: hot user sliced, cold
    users at slice 0 — union must equal the window form over everything,
    at thresholds putting the split at every interesting place."""
    rng = random.Random(31)
    rows = []
    t = 0
    for _ in range(2000):  # hot user
        t += rng.choice([5, 1799, 1801, 4000])
        rows.append((1, t))
    for u in range(2, 25):
        tu = rng.randrange(0, t)
        for _ in range(35):
            tu += rng.choice([60, 1800, 2000])
            rows.append((u, tu))
    df = _mk(spark, rows)
    want = _ids(sessionize(df, "user_id", "ts", gap_minutes=30))
    for thr in (0, 100, 10**9):  # all-hot / mixed / all-cold routes
        got = _ids(
            sessionize_scalable(
                df, "user_id", "ts", gap_minutes=30, n_slices=6,
                hot_threshold=thr,
            )
        )
        assert want == got, f"hot_threshold={thr}"


def test_hot_routing_mixed_population_fused(spark):
    rng = random.Random(67)
    rows = []
    t = 0
    for _ in range(1500):
        t += rng.choice([5, 1799, 1801, 4000])
        rows.append((1, t))
    for u in range(2, 20):
        tu = rng.randrange(0, t)
        for _ in range(30):
            tu += rng.choice([60, 1800, 2000])
            rows.append((u, tu))
    from seoul_big_data_spark.operators.windows import sessionize_agg_scalable

    df = _mk(spark, rows)
    ref = _agg_ref(df)
    for thr in (0, 100, 10**9):
        got = sorted(
            sessionize_agg_scalable(
                df,
                "user_id",
                "ts",
                local_aggs=[F.count("*").alias("n_events")],
                merge_aggs=[
                    F.sum("n_events").alias("n_events"),
                    F.min("s_first_tss").alias("lo"),
                    F.max("s_last_tss").alias("hi"),
                ],
                gap_minutes=30,
                n_slices=6,
                hot_threshold=thr,
            ).collect()
        )
        assert got == ref, f"hot_threshold={thr}"


def test_hot_routing_gap_moments_mixed(spark):
    from seoul_big_data_spark.operators.windows import gap_moments_scalable

    rng = random.Random(11)
    rows = [(1, rng.randrange(0, 10**7)) for _ in range(1200)]  # hot key
    for u in range(2, 15):
        rows += [(u, rng.randrange(0, 10**7)) for _ in range(40)]
    rows.append((777, 42))  # single-event key
    df = spark.createDataFrame(rows, "user_id bigint, tss bigint")
    w = Window.partitionBy("user_id").orderBy("tss")
    gd = (F.col("tss") - F.lag("tss").over(w)).cast("decimal(19,0)")
    flat = (
        df.select("user_id", gd.alias("g"))
        .filter(F.col("g").isNotNull())
        .groupBy("user_id")
        .agg(F.count("g").alias("n"), F.sum("g").alias("s"),
             F.sum(F.col("g") * F.col("g")).alias("ssq"))
    )
    b = sorted((r["user_id"], r["n"], int(r["s"]), int(r["ssq"]))
               for r in flat.collect())
    for thr in (0, 100, 10**9):
        fused = (
            gap_moments_scalable(
                df, part_cols=["user_id"], ts_col="tss", gap_col="g",
                n_slices=5, hot_threshold=thr,
            )
            .groupBy("user_id")
            .agg(F.sum("n_gaps").alias("n"), F.sum("s").alias("s"),
                 F.sum("ssq").alias("ssq"))
            .filter(F.col("n") > 0)
        )
        a = sorted((r["user_id"], r["n"], int(r["s"]), int(r["ssq"]))
                   for r in fused.collect())
        assert a == b, f"hot_threshold={thr}"


def test_agg_scalable_reserved_column_assertion(spark):
    from seoul_big_data_spark.operators.windows import sessionize_agg_scalable

    df = _mk(spark, [(1, 0), (1, 10)]).withColumn("_ls", F.lit(1))
    with pytest.raises(AssertionError, match="reserves"):
        sessionize_agg_scalable(
            df, "user_id", "ts",
            local_aggs=[F.count("*").alias("n")],
            merge_aggs=[F.sum("n").alias("n")],
        )
    df2 = _mk(spark, [(1, 0), (1, 10)])
    with pytest.raises(AssertionError, match="collides"):
        sessionize_agg_scalable(
            df2, "user_id", "ts",
            local_aggs=[F.count("*").alias("_slice")],
            merge_aggs=[F.sum("_slice").alias("n")],
        )


# ---------------------------------------------------------------- r10 probe


def test_sampled_probe_detects_whale_and_matches_window_form(spark):
    """hot_threshold above _PROBE_SAMPLE_TARGET engages the SAMPLED probe
    (one Bernoulli-sampled scan, exact verification only over candidates).
    A whale key far above the threshold must be detected and the sliced
    result must stay bit-equal to the window form."""
    from seoul_big_data_spark.operators.windows import _hot_key_stats

    rows = [(7, 1000 + 3 * i) for i in range(5000)]  # whale: 5000 rows
    rows += [(u, 500 + 40 * u) for u in range(100)]  # cold singletons
    df = _mk(spark, rows)
    (lo, hi), hot = _hot_key_stats(
        df, ["user_id"], F.col("ts").cast("long"), hot_threshold=100
    )
    assert hot is not None
    assert [r["user_id"] for r in hot.collect()] == [7]
    # exact bounds, from the verification pass (not the sample)
    assert (lo, hi) == (float(500), float(1000 + 3 * 4999))
    _assert_equiv(spark, rows, n_slices=16, hot_threshold=100)


def test_sampled_probe_uniform_short_circuit(spark):
    """No key close to the threshold: the sampled probe returns hot=None
    without the verification pass, and the operator takes the plain
    window route — still bit-equal."""
    from seoul_big_data_spark.operators.windows import _hot_key_stats

    rows = [(u, 100 * u + 7 * i) for u in range(40) for i in range(12)]
    df = _mk(spark, rows)
    (_, _), hot = _hot_key_stats(
        df, ["user_id"], F.col("ts").cast("long"), hot_threshold=100_000
    )
    assert hot is None
    _assert_equiv(spark, rows, n_slices=8, hot_threshold=100_000)


def test_probe_null_keys_never_hot_and_results_match(spark):
    """Null-keyed rows can never be routed hot (the flag equi-join cannot
    match them) — the probe excludes them BY CONTRACT on both branches,
    and session ids still match the window form, which groups nulls as a
    plain partition."""
    from seoul_big_data_spark.operators.windows import (
        _hot_key_stats,
        sessionize,
        sessionize_scalable,
    )

    rows = [(None, 100 + 3 * i) for i in range(3000)]
    rows += [(1, 10_000 + i) for i in range(50)]
    df = spark.createDataFrame(
        rows, "user_id bigint, tss bigint"
    ).select("user_id", F.timestamp_seconds("tss").alias("ts"))
    for thr in (10, 100):  # exact branch, sampled branch
        (_, _), hot = _hot_key_stats(
            df, ["user_id"], F.col("ts").cast("long"), hot_threshold=thr
        )
        hot_keys = [r["user_id"] for r in hot.collect()] if hot is not None else []
        assert None not in hot_keys, f"thr={thr}"

        def _nids(out):  # None-safe sort (user_id is nullable here)
            rows = out.select(
                "user_id", F.col("ts").cast("long").alias("tss"), "session_id"
            ).collect()
            return sorted(rows, key=lambda r: (r[0] is not None, r[0] or 0, r[1], r[2]))

        a = _nids(sessionize(df, "user_id", "ts", gap_minutes=30))
        b = _nids(
            sessionize_scalable(
                df, "user_id", "ts", gap_minutes=30, n_slices=6,
                hot_threshold=thr,
            )
        )
        assert a == b, f"thr={thr}"


def test_no_hot_fused_fast_path_plan_is_minimal(spark):
    """r10: when NO key is hot, sessionize_agg_scalable takes a fast path
    whose plan is the minimal fused form — one Exchange (the session
    window's), no Join, no InMemoryTableScan (no persist): the stitch
    machinery must be absent. Results are pinned against the window form by
    test_hot_routing_mixed_population_fused (thr=10**9); this pins the
    plan shape the fast path exists for."""
    from seoul_big_data_spark.operators.windows import sessionize_agg_scalable

    rows = [(u, 1000 * u + 13 * i) for u in range(8) for i in range(25)]
    df = _mk(spark, rows)
    out = sessionize_agg_scalable(
        df,
        "user_id",
        "ts",
        local_aggs=[F.count("*").alias("n")],
        merge_aggs=[
            F.sum("n").alias("n"),
            (F.max("s_last_tss") - F.min("s_first_tss")).alias("dur"),
        ],
        gap_minutes=30,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "InMemoryTableScan" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_static_row_bound_soundness(spark):
    """r11 footer fast path: the static bound is the parquet footer row
    count for scan/project/filter plans, and None for any plan node that
    can multiply rows (explode/join/aggregate) or for non-parquet frames."""
    from seoul_big_data_spark.operators.windows import _static_row_bound
    from seoul_big_data_spark.sources.tables import load

    e = load(spark, "events", "/root/testdata/sf0.001")
    n = e.count()
    assert _static_row_bound(e) == n
    assert _static_row_bound(e.select("user_id", "ts")) == n
    # Filter only ever reduces rows — bound stays sound (and unchanged).
    assert _static_row_bound(e.filter("user_id > 3")) == n
    assert _static_row_bound(
        e.select(F.explode(F.array("user_id", "user_id")).alias("u"))
    ) is None
    assert _static_row_bound(e.groupBy("user_id").count()) is None
    assert _static_row_bound(e.join(e.select("user_id"), "user_id")) is None
    assert _static_row_bound(spark.range(5)) is None  # not a parquet scan


def test_footer_fast_path_skips_probe_job(spark, monkeypatch):
    """When the footer bound proves no key can be hot, _hot_key_stats must
    return the no-hot route WITHOUT the sampled-probe scan (poison
    DataFrame.sample to prove it is never called), and consumers stay
    bit-equal to the window form on the same data."""
    from pyspark.sql import DataFrame

    from seoul_big_data_spark.operators.windows import (
        _hot_key_stats,
        sessionize,
        sessionize_scalable,
    )
    from seoul_big_data_spark.sources.tables import load

    e = load(spark, "events", "/root/testdata/sf0.001").select("user_id", "ts")

    def _boom(self, *a, **k):  # pragma: no cover - must not run
        raise AssertionError("sampled probe ran despite footer bound")

    monkeypatch.setattr(DataFrame, "sample", _boom)
    (_, _), hot = _hot_key_stats(
        e, ["user_id"], F.col("ts").cast("long"), hot_threshold=10_000_000
    )
    assert hot is None
    monkeypatch.undo()
    a = _ids(sessionize(e, "user_id", "ts", gap_minutes=30))
    b = _ids(
        sessionize_scalable(
            e, "user_id", "ts", gap_minutes=30, hot_threshold=10_000_000
        )
    )
    assert a == b


def test_static_row_bound_without_pyarrow_falls_back(spark, sf_dir, monkeypatch):
    """With no importable pyarrow.parquet the footer bound must report
    "no static bound" (None) instead of raising, so the sampled probe
    decides the route — and the fused form still matches the window form."""
    import sys

    from seoul_big_data_spark.operators.windows import (
        _static_row_bound,
        sessionize_agg_scalable,
    )
    from seoul_big_data_spark.sources.tables import load

    e = load(spark, "events", sf_dir).select("user_id", "ts")
    monkeypatch.setitem(sys.modules, "pyarrow.parquet", None)
    assert _static_row_bound(e) is None
    got = sorted(
        sessionize_agg_scalable(
            e,
            "user_id",
            "ts",
            local_aggs=[F.count("*").alias("n_events")],
            merge_aggs=[
                F.sum("n_events").alias("n_events"),
                F.min("s_first_tss").alias("lo"),
                F.max("s_last_tss").alias("hi"),
            ],
            gap_minutes=30,
        ).collect()
    )
    assert got == _agg_ref(e)
