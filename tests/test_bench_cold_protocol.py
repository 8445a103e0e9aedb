"""Pins for bench.py's amortized-cold measurement protocol: every
amortized build (appcache.amortized) is evictable BY QUERY ID through the
appcache eviction registry, so min-of-N genuinely-cold sampling applies
to every id that reads through one (ANN indexes, PCA/HITS/coreset
reports, kdc_records, edge lists, word sets, MinHash signatures, staged
layouts, bounded-stream sinks) and to the catalog-backed bucketed
tables."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from kdcloganalyzer_spark import appcache  # noqa: E402
from kdcloganalyzer_spark.plans import (  # noqa: E402
    analytics as an,
    curation as cu,
    kdc_queries as kq,
    llm_pipeline as lp,
    registry,
    relational as rel,
    round11_ops as r11,
    round12_ops as r12,
)
from kdcloganalyzer_spark.streaming import stream_queries as sq  # noqa: E402

registry.load_all()


def _assert_evicts(qid, build):
    build.cache[("app", "sf")] = object()
    assert appcache.evict_for(qid) is True, qid
    assert build.cache == {}, qid


def test_evict_amortized_clears_stream_cache():
    _assert_evicts(
        "stream_window_tumbling", registry.QUERIES["stream_window_tumbling"]
    )


def test_evict_amortized_covers_the_batch_amortized_ids():
    """The five non-stream cold ids from BENCH_r13 must each be
    evictable, and eviction must actually drain the cache that serves
    them."""
    for qid, build in [
        ("embed_pca_power_iteration", r12.embed_pca_power_iteration),
        ("graph_hits_bipartite", r12.graph_hits_bipartite),
        ("sample_coreset_kcenter", r12.sample_coreset_kcenter),
        ("agg_enctype_dim", kq._parsed_records),
        # join_bucketed's cache is the Spark catalog (needs a session);
        # its registration is covered below.
    ]:
        _assert_evicts(qid, build)


def test_evictor_registry_has_index_and_staging_hooks():
    """The shared index and staging builds are each behind an evictor
    keyed to their consumer ids."""
    for qid, build in [
        ("sim_search_ivf", lp._ivf_index),
        ("sim_search_pq", lp._pq_index),
        ("sim_search_ivfpq", lp._ivfpq_corpus),
        ("dedup_embedding_cosine", lp._pivot_index),
        ("text_bpe_train_merges", r11._bpe_merges),
        ("pipeline_bpe_tokenize", r11._bpe_merges),
        ("graph_community_modularity", r11._lp3_labels),
        ("scan_csv_multiline_quoted", r11._multiline_notes_csv),
    ]:
        _assert_evicts(qid, build)
    # join_bucketed has a (catalog-backed) evictor registered too
    assert any(m("join_bucketed") for m, _ in appcache._EVICTORS)


#: Ids whose plans read an amortized build but that no evictor matched
#: before every build declared its consumers, plus the state reader,
#: whose checkpoint cache its evictor left full.
_NEWLY_COVERED = [
    ("join_dynamic_partition_pruning", rel._day_partitioned_events),
    ("sink_zorder_layout", rel._zorder_docs),
    ("dedup_ngram_jaccard", lp._wordsets),
    ("dedup_ngram_jaccard_dford", lp._wordsets),
    ("dedup_ngram_jaccard_dford", lp._dfreq_table),
    ("dedup_containment", lp._wordsets),
    ("dedup_clusters", lp._wordsets),
    ("pipeline_dedup_report", lp._wordsets),
    ("dedup_fuzzy_minhash", lp._minhash_md5_sig),
    ("dedup_minhash_pairs_md5", lp._minhash_md5_sig),
    ("dedup_minhash_incremental_md5", lp._minhash_md5_sig),
    ("dedup_minhash_eval", lp.exact_pairs_md5_slice),
    ("dedup_minhash_band_tuning", lp.exact_pairs_md5_slice),
    ("dedup_minhash_band_tuning", lp._minhash_md5_sig),
    ("dedup_semantic", lp._ivf_index),
    ("text_ngram_novelty", cu._novelty_grams),
    ("text_ngram_novelty_incremental", cu._novelty_grams),
    ("stream_state_reader", sq._state_ckpt),
]


@pytest.mark.parametrize(
    "qid,build", _NEWLY_COVERED, ids=[f"{q}-{b.__name__}" for q, b in _NEWLY_COVERED]
)
def test_evict_for_empties_every_build_the_id_reads(qid, build):
    _assert_evicts(qid, build)


def test_every_build_has_registered_consumers():
    """A build with no consumer, or with a consumer that is not a
    registered id, would never be evicted for the cold protocol."""
    modules = {fn.__module__ for fn in registry.QUERIES.values()}
    for build in appcache.BUILDS:
        c = build.consumers
        if isinstance(c, str):
            assert c in modules, build.__qualname__
            continue
        assert c, build.__qualname__
        assert c <= set(registry.QUERIES), (
            build.__qualname__,
            sorted(c - set(registry.QUERIES)),
        )


def test_evict_amortized_false_for_unamortized_ids():
    """An id with no amortized build keeps its single-sample cold —
    the bench must not loop on it."""
    assert appcache.evict_for("analytics_pricing_summary") is False


def test_kdc_module_matcher_scopes_to_kdc_ids():
    """The kdc_records build is evicted for every id registered by the
    kdc_queries module and for no other id."""
    build = kq._parsed_records
    build.cache[("app", "sf")] = object()
    assert appcache.evict_for("graph_pagerank") is True  # edge list only
    assert appcache.evict_for("analytics_pricing_summary") is False
    assert appcache.evict_for("nonexistent_id") is False
    assert build.cache, "a non-kdc id evicted the kdc_records build"
    _assert_evicts("agg_enctype_dim", build)
    _assert_evicts("kdc_password_spray", build)


def test_unpersist_called_on_evicted_dataframes(monkeypatch):
    """Eviction unpersists DataFrame values, including tuple-packed ones
    (the ANN index builds return (df, codebook) pairs)."""
    monkeypatch.setattr(appcache, "_EVICTORS", list(appcache._EVICTORS))
    monkeypatch.setattr(appcache, "BUILDS", list(appcache.BUILDS))

    class FakeDF:
        def __init__(self):
            self.unpersisted = False

        def unpersist(self):
            self.unpersisted = True

    a, b = FakeDF(), FakeDF()
    values = {"k1": a, "k2": (b, [1, 2, 3])}

    @appcache.amortized({"test_only_unpersist"})
    def build(spark, sf_dir):
        return values[sf_dir]

    build.cache.update({("app", k): v for k, v in values.items()})
    assert appcache.evict_for("test_only_unpersist") is True
    assert build.cache == {} and a.unpersisted and b.unpersisted


def test_every_registered_evictor_matches_a_live_qid():
    """Registry property: every registered evictor's matcher must hit >=1
    qid in the LIVE registry. A renamed or deleted qid silently orphaning
    an evictor is the failure mode — the cache would then never be
    evicted for the bench's min-of-N cold protocol. Deliberately breaking
    one matcher (e.g. renaming a consumer id) makes this fail with the
    evictor's index for triage."""
    qids = list(registry.QUERIES)
    orphans = [
        i
        for i, (matcher, _evict) in enumerate(appcache._EVICTORS)
        if not any(matcher(q) for q in qids)
    ]
    assert orphans == [], (
        f"evictors {orphans} match no registered qid "
        f"(of {len(appcache._EVICTORS)} registered evictors)"
    )


def test_edge_cache_evictors_registered():
    """The shared graph edge lists must be evictable so graph ids get
    genuine min-of-3 cold."""
    _assert_evicts("graph_pagerank", an._coorder_edges)
    _assert_evicts("graph_triangle_count", an._copart_edges)


def test_local_table_guard_prefers_calmer_table(tmp_path, monkeypatch):
    """VERDICT r14 item 3: the overwrite guard compares calmness as
    (flag count, steal %) — a flagged run only overwrites a reference
    that is at least as noisy; a fully-calm run always overwrites."""
    import json

    monkeypatch.delenv("SPARK_GRAFT_FORCE_BENCH", raising=False)
    here = str(tmp_path)
    ref = tmp_path / "BENCH_LOCAL.json"

    def write_ref(load_infl, steal_infl, steal_pct):
        ref.write_text(
            json.dumps(
                {
                    "load_inflated": load_infl,
                    "steal_inflated": steal_infl,
                    "steal_pct_run": steal_pct,
                }
            )
        )

    # the r14 incident: prev = steal-clean but load-flagged (1 flag,
    # 0.431%); current = driver run (1 flag, 1.706% steal) -> diverted,
    # to a CPU-KEYED file (VERDICT r15 item 2a: the c8 scaling run
    # overwrote the c32 run's per-id steal receipts)
    write_ref(True, False, 0.431)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert bench._local_table_path(here, False, True, 1.706).endswith(
        "BENCH_LOCAL_INFLATED_c32.json"
    )
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert bench._local_table_path(here, False, True, 1.706).endswith(
        "BENCH_LOCAL_INFLATED_c8.json"
    )
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    # flagged run, but CALMER than the stored one -> overwrites
    write_ref(True, True, 2.0)
    assert bench._local_table_path(here, True, False, 0.9).endswith(
        "BENCH_LOCAL.json"
    )
    # fully-calm run always wins, even against a calm lower-steal prev
    write_ref(False, False, 0.1)
    assert bench._local_table_path(here, False, False, 0.4).endswith(
        "BENCH_LOCAL.json"
    )
    # no reference yet -> flagged run still lands in BENCH_LOCAL.json
    ref.unlink()
    assert bench._local_table_path(here, True, True, 9.9).endswith(
        "BENCH_LOCAL.json"
    )
    # forced -> always the main table
    write_ref(False, False, 0.0)
    monkeypatch.setenv("SPARK_GRAFT_FORCE_BENCH", "1")
    assert bench._local_table_path(here, True, True, 9.9).endswith(
        "BENCH_LOCAL.json"
    )
