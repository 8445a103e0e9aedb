"""Checks for the event-analytics tier (plans/analytics.py) beyond the
DuckDB oracle: sketch accuracy, funnel monotonicity, session invariants.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kdcloganalyzer_spark.plans import registry
from kdcloganalyzer_spark.sources.tables import load_table

registry.load_all()


def test_hll_estimate_within_5pct_of_exact(spark, sf_dir):
    approx = {
        r.event_type: r.approx_users
        for r in registry.QUERIES["agg_hll_sketch_merge"](
            spark, sf_dir
        ).collect()
    }
    exact = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for t, e in exact.items():
        assert abs(approx[t] - e) <= max(1, 0.05 * e), (t, approx[t], e)


def test_funnel_stages_monotonic(spark, sf_dir):
    rows = sorted(
        registry.QUERIES["events_funnel"](spark, sf_dir).collect(),
        key=lambda r: r.stage,
    )
    assert [r.event_type for r in rows] == ["view", "click", "purchase"]
    assert rows[0].n_users >= rows[1].n_users >= rows[2].n_users


def test_sessions_partition_events(spark, sf_dir):
    sess = registry.QUERIES["sessionize_events_gap"](spark, sf_dir)
    total = sess.agg(F.sum("n_events")).collect()[0][0]
    n_events = load_table(spark, sf_dir, "events").count()
    assert total == n_events  # every event lands in exactly one session
    bad = sess.filter(F.col("sess_end") < F.col("sess_start")).count()
    assert bad == 0


def test_latest_by_key_is_unique_per_key(spark, sf_dir):
    df = registry.QUERIES["dedup_latest_by_key"](spark, sf_dir)
    dup = (
        df.groupBy("user_id", "event_type")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


# --- exact/sketch twins: the sketch only feeds an envelope flag -------------


@pytest.mark.parametrize(
    "twin, base, flag, cols",
    [
        (
            "events_calendar_heatmap_hll",
            "events_calendar_heatmap",
            "hll_in_envelope",
            ["dow", "hour", "n", "n_users", "value_cents"],
        ),
        (
            "analytics_pareto_concentration_approx",
            "analytics_pareto_concentration",
            "approx_in_envelope",
            ["decile", "cum_cents", "cum_share_micro"],
        ),
        (
            "sessionize_stats_rollup_sketch",
            "sessionize_stats_rollup",
            "sketch_in_envelope",
            [
                "n_sessions",
                "n_events",
                "med2_dur_us",
                "p90x10_dur_us",
                "max_dur_us",
                "med2_events",
                "n_bounces",
            ],
        ),
    ],
    ids=[
        "events_calendar_heatmap_hll",
        "analytics_pareto_concentration_approx",
        "sessionize_stats_rollup_sketch",
    ],
)
def test_sketch_twin_reports_exact_twin(spark, sf_dir, twin, base, flag, cols):
    """A sketch/approx twin must emit exactly its exact twin's rows (the
    sketch machinery only feeds the envelope flag), and the flag must be
    TRUE on every row at test scale."""
    tw = registry.QUERIES[twin](spark, sf_dir)
    ex = registry.QUERIES[base](spark, sf_dir)
    assert tw.where(~F.col(flag)).count() == 0
    assert (
        tw.select(*cols).exceptAll(ex.select(*cols)).count() == 0
        and ex.select(*cols).exceptAll(tw.select(*cols)).count() == 0
    )


def test_triangle_shuffle_regime_matches_broadcast_regime(spark, sf_dir):
    """The shuffle-regime twin must produce the broadcast regime's
    exact top-20 (node, tri_n) rows — the algebraic identity between
    the two physical layouts of the same wedge scheme."""
    a = registry.QUERIES["graph_triangle_count"](spark, sf_dir)
    b = registry.QUERIES["graph_triangle_count_shuffle"](spark, sf_dir)
    assert [tuple(r) for r in a.collect()] == [
        tuple(r) for r in b.collect()
    ]


def test_triangle_shuffle_plan_has_no_broadcast_joins(spark, sf_dir):
    """The twin must actually RUN the above-gate layout: no
    BroadcastHashJoin anywhere in its FINAL adaptive plan (ADVICE r13:
    inspecting executedPlan() before any action sees the non-final
    adaptive plan, and at bench scale AQE's runtime broadcast
    conversion would otherwise rewrite the shuffle joins back to
    broadcast — the SHUFFLE_HASH hints in operators/graph.py are what
    this pins). Execute first, then read the final plan."""
    df = registry.QUERIES["graph_triangle_count_shuffle"](spark, sf_dir)
    # collect() drives df's OWN QueryExecution (a .write would wrap the
    # plan in a fresh command execution whose adaptive plan this df
    # never sees); the query is a top-20, so this is bounded.
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan


def test_entropy_cms_laws_vs_exact_twin(spark, sf_dir):
    """Head+tail bucketing laws: per user, n_events matches the exact
    twin, n_buckets <= K+1 and <= the exact n_types, and merging
    buckets can only LOWER entropy (up to micro-nat rounding slack:
    each of <= n_types terms rounds once, so +/- n_types micro-nats)."""
    cm = {
        r["user_id"]: r
        for r in registry.QUERIES["events_user_entropy_cms"](
            spark, sf_dir
        ).collect()
    }
    ex = {
        r["user_id"]: r
        for r in registry.QUERIES["events_user_entropy"](
            spark, sf_dir
        ).collect()
    }
    assert set(cm) == set(ex)
    for uid, r in cm.items():
        e = ex[uid]
        assert r["n_events"] == e["n_events"]
        assert r["n_buckets"] <= 4  # K=3 head + 1 tail
        assert r["n_buckets"] <= e["n_types"]
        assert r["h_head_micro"] <= e["h_micro"] + e["n_types"]


# --- per-series (_series) twins ---------------------------------------------
# The defining law of a partitionBy form is GROUPWISE EQUIVALENCE:
# restricted to one series, the keyed operator emits exactly what its
# global twin computes on that series' rows alone. Plus the structural
# invariants the value oracles don't pin (peak monotonicity, breach
# exclusivity, additivity across series).


def _one_series(spark, sf_dir):
    """A deterministic event_type present in the fixture."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(F.min("event_type")).first()[0]


def test_forecast_series_groupwise_equals_global_on_filtered_input(
    spark, sf_dir
):
    et = _one_series(spark, sf_dir)
    row = (
        registry.QUERIES["events_forecast_seasonal_naive_series"](
            spark, sf_dir
        )
        .where(F.col("event_type") == et)
        .first()
    )
    # Replay the GLOBAL twin's plan over the one-series slice. The
    # global op aggregates value-cents per day exactly like the series
    # op does per (series, day), so on a single series they must agree.
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == et
    )
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    from pyspark.sql import Window

    w = Window.orderBy("day")
    j = d.select(
        "cents",
        F.lag("cents", 7).over(w).alias("forecast"),
        F.lag("cents", 1).over(w).alias("naive"),
    ).where(F.col("forecast").isNotNull() & F.col("naive").isNotNull())
    exp = j.agg(
        F.count("*").alias("n_days"),
        F.sum(F.abs(F.col("cents") - F.col("forecast"))).alias("se"),
        F.sum(F.abs(F.col("cents") - F.col("naive"))).alias("ne"),
    ).first()
    assert row["n_days"] == exp["n_days"]
    assert row["seasonal_abs_err"] == exp["se"]
    assert row["naive_abs_err"] == exp["ne"]
    if exp["ne"]:
        assert row["mase_micro"] == exp["se"] * 1000000 // exp["ne"]


def test_bollinger_series_laws(spark, sf_dir):
    df = registry.QUERIES["events_bollinger_bands_series"](
        spark, sf_dir
    )
    bad = df.where(
        (F.col("win_n") > 7)
        | (F.col("win_n") < 1)
        | (F.col("breach_hi") & F.col("breach_lo"))
    ).count()
    assert bad == 0
    # additivity vs the global twin's daily volume
    glob = {
        r["day"]: r["n_events"]
        for r in registry.QUERIES["events_bollinger_bands"](
            spark, sf_dir
        ).collect()
    }
    per = (
        df.groupBy("day").agg(F.sum("n_events").alias("s")).collect()
    )
    assert {r["day"]: r["s"] for r in per} == glob


def test_peak_series_are_strict_local_maxima_within_series(
    spark, sf_dir
):
    peaks = registry.QUERIES["events_peak_detection_series"](
        spark, sf_dir
    ).collect()
    assert peaks, "no per-series peaks at test sf"
    # rebuild the (series, day) counts and check each peak row
    ev = load_table(spark, sf_dir, "events")
    counts = {
        (r["event_type"], r["day"]): r["x"]
        for r in ev.groupBy(
            "event_type", F.date_trunc("day", "ts").alias("day")
        )
        .agg(F.count("*").alias("x"))
        .collect()
    }
    import datetime

    one_day = datetime.timedelta(days=1)
    for p in peaks:
        k = (p["event_type"], p["day"])
        assert counts[k] == p["n_events"]
        xp = counts.get((p["event_type"], p["day"] - one_day))
        xn = counts.get((p["event_type"], p["day"] + one_day))
        assert xp is not None and xn is not None
        assert p["n_events"] > xp and p["n_events"] > xn
        assert p["prominence"] == p["n_events"] - max(
            p["left_min3"], p["right_min3"]
        )


def test_haar_wavelet_rejects_more_than_32_days(spark, tmp_path):
    """More days than the 32-slot Haar frame is a data-contract
    violation: a ValueError, not a stripped-under-``-O`` assert."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    day0 = datetime.datetime(2024, 1, 1)
    days = [day0 + datetime.timedelta(days=i) for i in range(40)]
    pq.write_table(pa.table({"ts": days}), tmp_path / "events.parquet")
    with pytest.raises(ValueError, match="40 days"):
        registry.QUERIES["events_haar_wavelet"](spark, str(tmp_path))
