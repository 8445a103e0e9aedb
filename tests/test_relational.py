"""Checks for the relational/window tier (plans/relational.py) beyond
the DuckDB oracle: exact/sketch twin agreement and per-series laws."""

from __future__ import annotations

from pyspark.sql import functions as F

from kdcloganalyzer_spark.plans import registry

registry.load_all()


def test_weighted_median_sketch_matches_exact_twin(spark, sf_dir):
    """The sketch twin must emit exactly the exact twin's rows (the
    sketch only feeds the envelope flag), and the flag must be TRUE."""
    sk = registry.QUERIES["agg_weighted_median_sketch"](spark, sf_dir)
    ex = registry.QUERIES["agg_weighted_median"](spark, sf_dir)
    assert sk.where(~F.col("sketch_in_envelope")).count() == 0
    cols = ["flag", "weighted_median_cents", "total_weight"]
    assert (
        sk.select(*cols).exceptAll(ex.select(*cols)).count() == 0
        and ex.select(*cols).exceptAll(sk.select(*cols)).count() == 0
    )


def test_drawdown_series_laws(spark, sf_dir):
    df = registry.QUERIES["window_drawdown_series"](spark, sf_dir)
    rows = df.orderBy("series", "period").collect()
    assert rows, "empty drawdown series result"
    # peak is the running max per series; drawdown non-negative and 0
    # at each series' first period; micro ratio consistent.
    last = {}
    seen_first = set()
    for r in rows:
        s = r["series"]
        if s not in seen_first:
            seen_first.add(s)
            assert r["drawdown_cents"] == 0
        prev = last.get(s, 0)
        assert r["peak_cents"] == max(prev, r["rev_cents"])
        last[s] = r["peak_cents"]
        assert r["drawdown_cents"] == r["peak_cents"] - r["rev_cents"]
        assert (
            r["drawdown_micro"]
            == r["drawdown_cents"] * 1000000 // r["peak_cents"]
        )
    # additivity: per-period revenue sums across series == the global
    # twin's per-period revenue (same month collapse, partitioned).
    glob = {
        r["period"]: r["rev_cents"]
        for r in registry.QUERIES["window_drawdown"](
            spark, sf_dir
        ).collect()
    }
    per = (
        df.groupBy("period")
        .agg(F.sum("rev_cents").alias("s"))
        .collect()
    )
    assert {r["period"]: r["s"] for r in per} == glob
