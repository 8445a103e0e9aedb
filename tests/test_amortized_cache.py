"""Property tests for `appcache.amortized`, the one per-session cache every
amortized build (KDC records, ANN indexes, edge lists, iterative reports,
bounded-stream sinks) goes through.

The cache is the amortization contract the bench's steady numbers rest
on, so its invariants get pinned mechanically:

1. a second invocation of an amortized id returns IDENTICAL rows (the
   cache may never change answers);
2. the cache key carries sf_dir — two scales must produce two distinct
   entries with their own results (this test FAILS if the key ever
   drops sf_dir: the second scale would serve the first scale's rows);
3. a stopped app's entries are dropped on the next lookup, so a session
   bounce can never serve a frame whose JVM-side blocks died with the
   old app;
4. a build needs consumers, eviction unpersists, and no module keeps a
   hand-rolled module-level cache dict besides the metadata and staging
   ones.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace
from urllib.parse import urlparse

import pytest

from kdcloganalyzer_spark import appcache
from kdcloganalyzer_spark.plans import registry

registry.load_all()

CHEAP_ID = "stream_window_tumbling"
PKG = Path(__file__).resolve().parent.parent / "kdcloganalyzer_spark"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _fake_spark(app: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


@pytest.fixture
def scratch_registry(monkeypatch):
    """Keep builds defined by a test out of the process-wide registry."""
    monkeypatch.setattr(appcache, "_EVICTORS", list(appcache._EVICTORS))
    monkeypatch.setattr(appcache, "BUILDS", list(appcache.BUILDS))


def test_second_invocation_identical_and_cached(spark, sf_dir):
    fn = registry.QUERIES[CHEAP_ID]
    first = _rows(fn(spark, sf_dir))
    key = (spark.sparkContext.applicationId, sf_dir)
    assert key in fn.cache, (
        "amortized id did not populate its cache under the "
        "(appId, sf_dir) key"
    )
    assert _rows(fn(spark, sf_dir)) == first


def test_cache_key_carries_sf_dir(spark, sf_dir):
    fn = registry.QUERIES[CHEAP_ID]
    small = _rows(fn(spark, sf_dir))
    other_sf = "/root/testdata/sf0.01"
    bigger = _rows(fn(spark, other_sf))
    app = spark.sparkContext.applicationId
    assert (app, sf_dir) in fn.cache
    assert (app, other_sf) in fn.cache
    # sf0.01 has 10x the events of sf0.001: identical results would mean
    # the cache served a stale scale's frame.
    assert small != bigger
    assert sum(r[2] for r in bigger) > sum(r[2] for r in small)


def test_lookup_drops_dead_app_entries(spark, sf_dir):
    fn = registry.QUERIES[CHEAP_ID]
    fn(spark, sf_dir)  # ensure one live entry exists
    live_key = (spark.sparkContext.applicationId, sf_dir)
    dead_key = ("app-DEAD-0000", sf_dir)
    fn.cache[dead_key] = fn.cache[live_key]
    fn(spark, sf_dir)
    assert dead_key not in fn.cache
    assert live_key in fn.cache


def test_build_runs_once_per_key_and_args_join_the_key(scratch_registry):
    calls = []

    @appcache.amortized({"test_only_consumer"})
    def build(spark, sf_dir, k):
        calls.append((sf_dir, k))
        return object()

    s = _fake_spark("app-1")
    assert build(s, "sf", 1) is build(s, "sf", 1)
    assert build(s, "sf", 1) is not build(s, "sf", 2)
    assert calls == [("sf", 1), ("sf", 2)]
    assert set(build.cache) == {("app-1", "sf", 1), ("app-1", "sf", 2)}
    build(_fake_spark("app-2"), "sf", 1)
    assert set(build.cache) == {("app-2", "sf", 1)}
    assert appcache.evict_for("test_only_consumer") is True
    assert build.cache == {}


def test_build_without_consumers_is_refused():
    with pytest.raises(ValueError):
        appcache.amortized(set())


def test_eviction_survives_a_stopped_sessions_dataframe(tmp_path):
    """Unpersisting a DataFrame whose SparkSession has stopped raises
    Py4JJavaError (its block manager endpoint is gone). Eviction must
    still empty the cache, and count the one failure it swallows. Runs
    in its own interpreter: stopping the suite's shared session is not
    an option."""
    code = """
import sys
sys.path.insert(0, sys.argv[1])
from py4j.protocol import Py4JJavaError
from kdcloganalyzer_spark import appcache
from kdcloganalyzer_spark.session import get_spark

@appcache.amortized({"test_only_stopped"})
def build(spark, sf_dir):
    df = spark.range(3).persist()
    df.count()
    return df

spark = get_spark(app_name="stopped", master="local[1]", shuffle_partitions=1)
build(spark, "sf")
probe = spark.range(5).persist()
probe.count()
spark.stop()
try:
    probe.unpersist()
    raise SystemExit("unpersist after stop did not raise")
except Py4JJavaError:
    pass
assert appcache.evict_for("test_only_stopped") is True
assert build.cache == {}
assert appcache.SWALLOWED["appcache.unpersist"] == 1
print("OK")
"""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="512m")
    env.pop("SPARK_GRAFT_CPUS", None)
    res = subprocess.run(
        [sys.executable, "-c", code, str(PKG.parent)],
        capture_output=True,
        text=True,
        cwd=tmp_path,
        env=env,
        timeout=300,
    )
    assert res.returncode == 0 and res.stdout.strip().endswith("OK"), (
        res.stdout[-2000:] + res.stderr[-2000:]
    )


def test_per_call_sinks_are_removed_at_exit(spark, sf_dir, monkeypatch):
    """sink_tsv_text writes its TSV to a per-call dir; that dir must be
    registered for removal at interpreter exit (appcache.tempdir), not
    leaked in /tmp."""
    import atexit

    registered = []
    real_register = atexit.register

    def record(fn, *args, **kw):
        registered.append(args[0] if args else None)
        return real_register(fn, *args, **kw)

    monkeypatch.setattr(atexit, "register", record)
    df = registry.QUERIES["sink_tsv_text"](spark, sf_dir)
    files = [urlparse(f).path for f in df.inputFiles()]
    assert files, "sink_tsv_text read back no files"
    dirs = [d for d in registered if isinstance(d, str)]
    for f in files:
        assert any(f.startswith(d.rstrip("/") + "/") for d in dirs), (
            f"{f} is not under an exit-time cleanup dir {dirs}"
        )


#: Module-level dicts that are deliberately not amortized builds: load
#: metadata on the load_table hot path, and sf-keyed staged inputs.
_NOT_AMORTIZED = {
    ("sources/tables.py", "_SCHEMA_CACHE"),
    ("streaming/stream_queries.py", "_STAGE_CACHE"),
    ("streaming/stream_queries.py", "_LATE_SPLIT_CACHE"),
    ("streaming/stream_queries.py", "_UNION_SPLIT_CACHE"),
    ("streaming/stream_queries.py", "_TIMEOUT_SPLIT_CACHE"),
}


def test_no_hand_rolled_module_caches():
    """An amortized build is a function decorated with
    appcache.amortized; a new module-level ``*_CACHE`` dict would bypass
    the eviction registry and the dead-app rule."""
    found = set()
    for path in PKG.rglob("*.py"):
        rel = path.relative_to(PKG).as_posix()
        if rel == "appcache.py":
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign):
                targets, value = [node.target], node.value
            else:
                continue
            is_dict = isinstance(value, ast.Dict) or (
                isinstance(value, ast.Call)
                and getattr(value.func, "id", None) == "dict"
            )
            for t in targets:
                if (
                    is_dict
                    and isinstance(t, ast.Name)
                    and t.id.endswith("_CACHE")
                ):
                    found.add((rel, t.id))
    assert found - _NOT_AMORTIZED == set()
