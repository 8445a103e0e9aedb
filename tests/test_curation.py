"""Semantic and plan-shape checks for the curation tier
(kdcloganalyzer_spark/plans/curation.py). Oracle value-equality is covered
by test_queries_oracle.py; here we pin the properties the oracle cannot
express: determinism, plan shape, and threshold semantics.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kdcloganalyzer_spark.plans import registry

registry.load_all()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_sampler_is_deterministic(spark, sf_dir):
    q = registry.QUERIES["sample_hash_mixture"]
    a = {(r.source, r.n_kept) for r in q(spark, sf_dir).collect()}
    b = {(r.source, r.n_kept) for r in q(spark, sf_dir).collect()}
    assert a == b
    rows = q(spark, sf_dir).collect()
    # every source keeps a subset, at its configured rate class
    for r in rows:
        assert 0 <= r.n_kept <= r.n_total
        assert r.rate_pct in (20, 40, 60, 80)


def test_contamination_broadcasts_benchmark(spark, sf_dir):
    df = registry.QUERIES["contamination_ngram"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # benchmark docs (doc_id % 50 == 0) are excluded from the report
    bad = df.filter(F.col("doc_id") % 50 == 0).count()
    assert bad == 0


def test_gopher_gate_bounds(spark, sf_dir):
    rows = registry.QUERIES["quality_gopher_repetition"](
        spark, sf_dir
    ).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0.0 <= r.top_word_frac <= 1.0
        assert 0.0 <= r.dup_bigram_frac <= 1.0
        expected = (
            5 <= r.n_words <= 1000
            and 2 <= r.mean_word_len <= 12
            and r.top_word_frac <= 0.3
            and r.dup_bigram_frac <= 0.6
        )
        assert r.keep == expected


def test_line_dedup_counts_consistent(spark, sf_dir):
    rows = registry.QUERIES["dedup_lines_global"](spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert len(rows) == docs.count()
    for r in rows:
        assert 0 <= r.n_dup_lines <= r.n_lines
        assert r.keep == (r.n_dup_lines / r.n_lines <= 0.3)


def test_pii_scrub_injected_counts(spark, sf_dir):
    rows = registry.QUERIES["text_pii_scrub"](spark, sf_dir).collect()
    for r in rows:
        # injection schedule: email at doc_id%7, ip at %11, long-num at %13
        assert r.n_email == (1 if r.doc_id % 7 == 0 else 0)
        assert r.n_ip == (1 if r.doc_id % 11 == 0 else 0)
        assert r.n_num == (1 if r.doc_id % 13 == 0 else 0)


def test_pii_scrub_stays_codegen(spark, sf_dir):
    plan = _plan(registry.QUERIES["text_pii_scrub"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pipeline_funnel_is_monotonic(spark, sf_dir):
    rows = sorted(
        registry.QUERIES["pipeline_corpus_funnel"](spark, sf_dir).collect(),
        key=lambda r: r.stage,
    )
    assert [r.stage for r in rows] == [0, 1, 2, 3, 4]
    for a, b in zip(rows, rows[1:]):
        assert b.n_docs <= a.n_docs
        assert b.n_tokens <= a.n_tokens


def test_dedup_rate_hll_matches_python_replay(spark, sf_dir):
    """Per-source exact counts and the trunc-div micro rate must equal
    a pandas replay of the first-8-words md5 fingerprint convention,
    and every source's envelope flag must be TRUE."""
    import hashlib

    from kdcloganalyzer_spark.sources.tables import load_table

    out = {
        r["source"]: r
        for r in registry.QUERIES["pipeline_dedup_rate_hll"](
            spark, sf_dir
        ).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "text"
    ).collect()
    per: dict[str, tuple[int, set]] = {}
    for r in docs:
        fp = hashlib.md5(
            " ".join(r["text"].split(" ")[:8]).encode()
        ).hexdigest()
        n, s = per.setdefault(r["source"], [0, set()])
        per[r["source"]][0] += 1
        s.add(fp)
    assert set(per) == set(out)
    for src, (n, s) in per.items():
        row = out[src]
        assert row["n_docs"] == n and row["n_unique"] == len(s)
        assert row["dup_rate_micro"] == (n - len(s)) * 1_000_000 // n
        assert row["hll_in_envelope"]


@pytest.mark.parametrize(
    "sources, match",
    [
        ([None, None, "web"], "NULL source"),
        ([f"s{i:02d}" for i in range(65)], "65 sources"),
    ],
    ids=["null_source", "65_sources"],
)
def test_interleave_rejects_unindexable_sources(
    spark, tmp_path, sources, match
):
    """A NULL source or more sources than the literal-map bound is a
    data-contract violation: a ValueError, not a stripped-under-``-O``
    assert."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = {"doc_id": list(range(len(sources))), "source": sources}
    pq.write_table(pa.table(docs), tmp_path / "documents.parquet")
    with pytest.raises(ValueError, match=match):
        registry.QUERIES["pipeline_interleave_sources"](spark, str(tmp_path))


def test_rake_stopwords_match_literally(spark):
    """A stopword is matched as a literal token: a regex metacharacter
    in it must not widen the match to other tokens."""
    from kdcloganalyzer_spark.plans.round11_ops import _stopword_regex

    out = (
        spark.range(1)
        .select(
            F.regexp_replace(
                F.lit(" axc a.c abc "), _stopword_regex(("a.c", "c++")), "|"
            ).alias("s")
        )
        .first()["s"]
    )
    assert out == " axc | abc "
