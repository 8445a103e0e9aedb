"""Round-7 operator pins.

- events_audience_overlap_hll: rows-only at the gate (Datasketches
  estimates have no DuckDB twin) — pinned here against the EXACT twin
  within the lgK=14 error envelope, per pair, at the smoke SF.
- events_rfm_segmentation_approx: cutoff semantics — tier populations
  and cut values must match the exact ntile form where the two
  definitions provably coincide (no ties straddling a boundary), and
  the plan must contain NO global sort (the point of the swap).
- text_ngram_novelty_incremental: two-batch ingest equals single-pass
  global novelty (first-seen stability) — the oracle proves it at the
  gate; here we also pin that the incremental form never REVISITS base
  docs (output contains only delta doc_ids).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kdcloganalyzer_spark.plans import registry

registry.load_all()


def test_audience_overlap_hll_vs_exact(spark, sf_dir):
    exact = {
        (r["type_a"], r["type_b"]): r
        for r in registry.QUERIES["events_audience_overlap"](
            spark, sf_dir
        ).collect()
    }
    from kdcloganalyzer_spark.plans.analytics import (
        audience_overlap_hll_estimates,
    )

    est = {
        (r["type_a"], r["type_b"]): r
        for r in audience_overlap_hll_estimates(spark, sf_dir).collect()
    }
    assert set(exact) == set(est) and len(exact) == 10
    for k, e in exact.items():
        s = est[k]
        union = e["n_a"] + e["n_b"] - e["n_both"]
        # lgK=14 std err is 0.81%/sketch; inclusion-exclusion compounds
        # three estimates — 2% of the union is a 2.5σ-ish envelope, and
        # at smoke cardinalities (< 2^14) the sketch is sparse-exact.
        assert abs(s["est_a"] - e["n_a"]) <= max(2, 0.02 * e["n_a"]), k
        assert abs(s["est_b"] - e["n_b"]) <= max(2, 0.02 * e["n_b"]), k
        assert abs(s["est_both"] - e["n_both"]) <= max(2, 0.02 * union), k
        assert abs(s["est_jaccard"] - e["jaccard"]) <= 0.02, k
    # and the registered (driver-hashable) form must report the same
    # envelope as universally satisfied
    flags = registry.QUERIES["events_audience_overlap_hll"](
        spark, sf_dir
    ).collect()
    assert len(flags) == 10
    assert all(r["hll_in_envelope"] for r in flags)


def test_rfm_approx_plan_has_no_global_sort(spark, sf_dir):
    df = registry.QUERIES["events_rfm_segmentation_approx"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Sort " not in plan and "SinglePartition" not in plan
    # Same per-user base row as the exact twin.
    exact = registry.QUERIES["events_rfm_segmentation"](spark, sf_dir)
    cols = ["user_id", "r_days", "freq", "monetary_cents"]
    assert (
        df.select(cols).exceptAll(exact.select(cols)).count() == 0
    )


def test_rfm_approx_tiers_cover_and_are_monotone(spark, sf_dir):
    rows = registry.QUERIES["events_rfm_segmentation_approx"](
        spark, sf_dir
    ).collect()
    assert rows
    for r in rows:
        for t in ("r_tier", "f_tier", "m_tier"):
            assert 1 <= r[t] <= 4, r
    # Monotone: a user with >= freq than another never gets a WORSE
    # (higher) f_tier — comparison-based tiers are order-preserving.
    by_freq = sorted(rows, key=lambda r: r["freq"])
    for lo, hi in zip(by_freq, by_freq[1:]):
        assert lo["f_tier"] >= hi["f_tier"], (lo, hi)


def test_novelty_incremental_touches_only_delta(spark, sf_dir):
    from kdcloganalyzer_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    thr = (int(lo) + int(hi)) // 2
    out = registry.QUERIES["text_ngram_novelty_incremental"](
        spark, sf_dir
    )
    assert out.where(F.col("doc_id") <= thr).count() == 0
    # And the delta rows equal the global run's delta slice (first-seen
    # stability — the same invariant the gate's oracle hashes).
    glob = (
        registry.QUERIES["text_ngram_novelty"](spark, sf_dir)
        .where(F.col("doc_id") > thr)
    )
    assert out.exceptAll(glob).count() == 0
    assert glob.exceptAll(out).count() == 0


def test_global_shuffle_is_a_permutation(spark, sf_dir):
    out = registry.QUERIES["pipeline_global_shuffle"](spark, sf_dir)
    n = out.count()
    stats = out.agg(
        F.min("pos"), F.max("pos"), F.countDistinct("pos")
    ).collect()[0]
    assert stats[0] == 0 and stats[1] == n - 1 and stats[2] == n
    # Deterministic: two independent constructions agree exactly.
    again = registry.QUERIES["pipeline_global_shuffle"](spark, sf_dir)
    assert out.exceptAll(again).count() == 0


def test_train_val_test_fractions_exact_per_stratum(spark, sf_dir):
    out = registry.QUERIES["pipeline_train_val_test"](spark, sf_dir)
    per = (
        out.groupBy("lang", "source")
        .pivot("split", ["train", "val", "test"])
        .count()
        .fillna(0)
        .collect()
    )
    for r in per:
        n = r["train"] + r["val"] + r["test"]
        assert r["train"] == n * 8 // 10
        assert r["train"] + r["val"] == n * 9 // 10


def test_poisson_bootstrap_laws(spark, sf_dir):
    rows = {
        r["source"]: r
        for r in registry.QUERIES["sample_poisson_bootstrap"](
            spark, sf_dir
        ).collect()
    }
    assert rows
    n = sum(r["n_input"] for r in rows.values())
    resampled = sum(r["n_resampled"] for r in rows.values())
    dropped = sum(r["n_dropped"] for r in rows.values())
    # Laws hold on corpus totals (per-source n is ~25 at the smoke SF —
    # pure binomial noise): E[N] = n within 5 sigma (Var = n for
    # Poisson(1)), P(k=0) = e^-1 within 5 sigma of the binomial.
    assert abs(resampled - n) <= 5 * n**0.5 + 5
    p0 = 0.36787944117144233
    assert abs(dropped - p0 * n) <= 5 * (n * p0 * (1 - p0)) ** 0.5 + 5
    assert all(r["max_copies"] <= 7 for r in rows.values())
    # Deterministic: a second construction returns identical rows.
    again = {
        r["source"]: r
        for r in registry.QUERIES["sample_poisson_bootstrap"](
            spark, sf_dir
        ).collect()
    }
    assert again == rows


def test_commit_log_snapshot_excludes_compacted_file(spark, sf_dir):
    from kdcloganalyzer_spark.plans.relational import (
        commit_log_path_for_sf,
    )
    from kdcloganalyzer_spark.sources.tables import load_table

    out = registry.QUERIES["scan_commit_log"](spark, sf_dir)
    total = out.agg(F.sum("n")).collect()[0][0]
    orders = load_table(spark, sf_dir, "orders")
    expect = orders.where(F.col("o_orderkey") % 3 != 2).count()
    # Replaying the log yields each surviving row ONCE; a naive glob of
    # the data dir would also read the compacted-away s0 (double count).
    assert total == expect
    base = commit_log_path_for_sf(sf_dir)
    naive = spark.read.parquet(f"{base}/data/*").count()
    assert naive > total


def test_bfs_min_dist_on_cycle_and_early_exit(spark):
    """bfs_distances returns MINIMUM hop distance on a graph with a
    shorter and a longer path to the same node (cycle a-b-c-d-a: d is
    dist 1, not 3), and early-exits cleanly when the frontier empties
    before max_hops; an unreachable island never appears."""
    from kdcloganalyzer_spark.operators.graph import bfs_distances

    ed = [
        ("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),  # 4-cycle
        ("x", "y"),  # unreachable island
    ]
    sym = ed + [(t, s) for s, t in ed]
    edges = spark.createDataFrame(sym, "src string, dst string")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, "a", max_hops=6).collect()
    }
    assert got == {"a": 0, "b": 1, "d": 1, "c": 2}


def test_bfs_hop_cap_truncates(spark):
    """max_hops bounds the traversal: on a 5-node path graph rooted at
    one end, cap 2 reaches exactly 3 nodes."""
    from kdcloganalyzer_spark.operators.graph import bfs_distances

    ed = [("n1", "n2"), ("n2", "n3"), ("n3", "n4"), ("n4", "n5")]
    sym = ed + [(t, s) for s, t in ed]
    edges = spark.createDataFrame(sym, "src string, dst string")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, "n1", max_hops=2).collect()
    }
    assert got == {"n1": 0, "n2": 1, "n3": 2}


def test_ab_assignment_is_deterministic_and_disjoint(spark, sf_dir):
    """The hashed A/B arms partition the user population: n_users sums
    to the corpus user count and both arms are non-empty (seeded-hash
    bucketing, not sampling)."""
    rep = {
        r["variant"]: r
        for r in registry.QUERIES["events_ab_test_report"](
            spark, sf_dir
        ).collect()
    }
    assert set(rep) == {"control", "treatment"}
    from kdcloganalyzer_spark.sources.tables import load_table

    n_users = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    assert rep["control"]["n_users"] + rep["treatment"]["n_users"] == n_users
    for r in rep.values():
        assert 0 <= r["n_converted"] <= r["n_users"]
        assert r["conv_rate_micro"] == r["n_converted"] * 1_000_000 // r["n_users"]


def test_pareto_curve_is_monotone_and_ends_at_total(spark, sf_dir):
    rows = sorted(
        registry.QUERIES["analytics_pareto_concentration"](
            spark, sf_dir
        ).collect(),
        key=lambda r: r["decile"],
    )
    shares = [r["cum_share_micro"] for r in rows]
    assert shares == sorted(shares)  # Lorenz curve is non-decreasing
    assert rows[-1]["decile"] == 10 and shares[-1] == 1_000_000
    # concentration: top decile carries strictly more than 1/10 of total
    assert shares[0] > 100_000


def test_growth_accounting_cross_foots(spark, sf_dir):
    """new + retained + resurrected partition the weekly actives, and
    week-1 actives are all new (nobody precedes the first week)."""
    rows = sorted(
        registry.QUERIES["events_growth_accounting"](
            spark, sf_dir
        ).collect(),
        key=lambda r: r["week"],
    )
    for r in rows:
        assert r["n_new"] + r["n_retained"] + r["n_resurrected"] == r["n_active"]
        assert min(r["n_new"], r["n_retained"], r["n_resurrected"]) >= 0
    assert rows[0]["n_new"] == rows[0]["n_active"]


def test_bitmap_distinct_handles_id_zero(spark):
    """The bucketed bitmap reduction counts value 0 correctly (0 lives
    in bucket 0 at position 0 under the 1-based coordinates — the
    collision the per-value bucketing exists to avoid)."""
    df = spark.createDataFrame(
        [(0,), (1,), (32768,), (0,), (63,)], "v long"
    )
    pages = df.groupBy(F.expr("bitmap_bucket_number(v)").alias("b")).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(v))").alias("bm")
    )
    n = pages.agg(F.expr("sum(bitmap_count(bm))").alias("n")).collect()[0]["n"]
    assert n == 4  # {0, 1, 63, 32768}


def test_interval_overlap_counts_match_brute_force(spark, sf_dir):
    """The co-partitioned interval self-join equals a brute-force pair
    check on a sampled customer set."""
    from kdcloganalyzer_spark.sources.tables import load_table

    out = {
        r["custkey"]: r["n_concurrent_pairs"]
        for r in registry.QUERIES["join_interval_overlap"](
            spark, sf_dir
        ).collect()
    }
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        .collect()
    )
    from collections import defaultdict
    from datetime import timedelta

    by_cust = defaultdict(list)
    for r in orders:
        st = r["o_orderdate"].date()
        en = st + timedelta(days=int(r["o_orderpriority"][0]) * 5)
        by_cust[r["o_custkey"]].append((r["o_orderkey"], st, en))
    brute = {}
    for ck, ivs in by_cust.items():
        n = sum(
            1
            for i, (ka, sa, ea) in enumerate(ivs)
            for kb, sb, eb in ivs[i + 1 :]
            if sa <= eb and sb <= ea
        )
        if n:
            brute[ck] = n
    assert out == brute


def test_seasonal_residual_flags_injected_spike(spark, tmp_path):
    """A clean weekly pattern with one injected spike day yields exactly
    that day as the anomaly."""
    import datetime as dt

    rows = []
    eid = 0
    for d in range(28):
        day = dt.datetime(2024, 3, 4) + dt.timedelta(days=d)
        base = [100.0, 110.0, 120.0, 130.0, 140.0, 300.0, 310.0][d % 7]
        if d == 17:
            base += 5000.0  # the spike
        rows.append((eid, day, 1, "view", base, "{}"))
        eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    p = str(tmp_path / "events.parquet")
    df.coalesce(1).write.parquet(p)
    import shutil, glob, os

    d2 = tmp_path / "sfX"
    os.makedirs(d2)
    shutil.move(glob.glob(p + "/part-*.parquet")[0], str(d2 / "events.parquet"))
    out = registry.QUERIES["events_anomaly_seasonal_residual"](
        spark, str(d2)
    ).collect()
    # The spike flags itself AND its +7d echo (the echo's forecast IS
    # the spiked value) — the known seasonal-naive property; production
    # stacks suppress echoes by forecasting from a trimmed median of
    # prior same-weekday values.
    assert sorted(r["day"].isoformat() for r in out) == [
        "2024-03-21",
        "2024-03-28",
    ]


def test_multiprobe_widens_candidates_at_equal_tables(spark, sf_dir):
    """With the SAME two hash tables, multi-probe's candidate top-k
    cosine mass is ≥ single-probe's for every query (probing only adds
    buckets, never removes), and both rank deterministically."""
    from kdcloganalyzer_spark.operators import similarity as S
    from kdcloganalyzer_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    single = S.topk_cosine_lsh(emb, n_queries=5, k=10, n_tables=2)
    multi = S.topk_cosine_lsh(
        emb, n_queries=5, k=10, n_tables=2, multiprobe=True
    )

    def best(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["q_id"], []).append((r["vec_id"], r["cos"]))
        return out

    s, m = best(single), best(multi)
    for q in s:
        s_pairs = dict(s[q])
        m_pairs = dict(m.get(q, []))
        # every single-probe hit is findable by multi-probe (superset
        # candidates => anything ranked by single-probe is present or
        # displaced only by a >= cosine)
        m_floor = min(m_pairs.values()) if m_pairs else -1.0
        for vid, cos in s_pairs.items():
            assert vid in m_pairs or cos <= m_floor + 1e-9, (q, vid)


def test_velocity_features_are_point_in_time(spark, sf_dir):
    """No leakage: recomputing the features on the corpus truncated at
    an event's timestamp reproduces that event's feature row exactly."""
    from kdcloganalyzer_spark.sources.tables import load_table

    full = registry.QUERIES["events_velocity_features"](spark, sf_dir)
    probe = full.orderBy(F.desc("n_24h")).limit(1).collect()[0]
    ev = load_table(spark, sf_dir, "events")
    cut_ts = (
        ev.where(F.col("event_id") == probe["event_id"])
        .select("ts")
        .collect()[0]["ts"]
    )
    from pyspark.sql import Window

    trunc = ev.where((F.col("ts") <= cut_ts) & (F.col("user_id") < 40))
    again = (
        trunc.select(
            "event_id", "user_id", F.unix_timestamp("ts").alias("sec")
        )
        .withColumn(
            "n_24h",
            F.count("*").over(
                Window.partitionBy("user_id")
                .orderBy("sec")
                .rangeBetween(-86399, 0)
            ),
        )
        .where(F.col("event_id") == probe["event_id"])
        .collect()[0]
    )
    assert again["n_24h"] == probe["n_24h"]
