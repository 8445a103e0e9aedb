"""The benchmark's own tests: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

from perfbench import gen, kdc_check, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _same_tree(a: str, b: str) -> bool:
    files = sorted(os.listdir(a))
    if files != sorted(os.listdir(b)):
        return False
    return all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False) for f in files)


def _corpus(path, seed):
    from kdcloganalyzer_spark.sources.kdc_synth import generate_logs

    return generate_logs(str(path), 2000, n_files=4, seed=seed)


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    a = _corpus(tmp_path / "a", 5)
    b = _corpus(tmp_path / "b", 5)
    c = _corpus(tmp_path / "c", 6)
    assert _same_tree(a, b) and not _same_tree(a, c)
    ta = gen.make_tables(str(tmp_path / "ta"), 0.001, 5)
    tb = gen.make_tables(str(tmp_path / "tb"), 0.001, 5)
    tc = gen.make_tables(str(tmp_path / "tc"), 0.001, 6)
    assert _same_tree(ta, tb) and not _same_tree(ta, tc)
    ids = workloads.config("query_floor")["ids"]
    assert workloads.query_order(ids, 5, 3) == workloads.query_order(ids, 5, 3)
    assert workloads.query_order(ids, 5, 3) != workloads.query_order(ids, 6, 3)


def test_benchmark_json_names_and_limits():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert 2 <= len(spec["workloads"]) <= 8
    assert 1 <= len(spec["end_to_end"]) <= 16
    assert 1 <= len(spec["per_layer"]) <= 128
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
        assert w["name"] in workloads.RUNNERS
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    assert all(UNIT.fullmatch(m["unit"]) for m in spec["end_to_end"] + spec["per_layer"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25}]
    assert 1 <= spec["run_seconds"] <= 60


def test_corrupted_report_fails_the_check(tmp_path):
    corpus = _corpus(tmp_path / "c", 7)
    users, counters = kdc_check.reference_report(corpus)
    expected = kdc_check.fingerprint(users, counters)
    rows = [
        {"client": c, "first_ts": f, "last_ts": last, "n": n}
        for c, (f, last, n) in users.items()
    ]
    assert workloads.check_report(rows, counters, 2000, expected) is None

    bad_rows = [dict(r) for r in rows]
    bad_rows[0]["n"] += 1
    assert "fingerprint" in workloads.check_report(bad_rows, counters, 2000, expected)
    assert workloads.check_report(rows[1:], counters, 2000, expected) is not None

    moved = dict(counters, rt_auth=counters["rt_auth"] - 1, rt_tgs=counters["rt_tgs"] + 1)
    assert "fingerprint" in workloads.check_report(rows, moved, 2000, expected)
    lost = dict(counters, rt_invalid=counters["rt_invalid"] - 1)
    assert "conservation" in workloads.check_report(rows, lost, 2000, expected)


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ.setdefault("TMPDIR", str(tmp_path_factory.mktemp("tmp")))
    every = os.sched_getaffinity(0)
    sess = workloads.Session(0.0)
    sess.start()
    yield sess
    sess.stop()
    os.sched_setaffinity(0, every)  # start() pins this process


def test_counts_of_a_fixed_id_repeat_exactly(session, tmp_path):
    sf_dir = gen.make_tables(str(tmp_path / "sf0.001"), 0.001, 3)
    build = session.registry.QUERIES["sort_limit_topk"]
    # The first request also reads the parquet footers for the schema
    # cache; the benchmark times requests only after such a warm-up.
    workloads.Request(session, "fixed-warm", lambda: build(session.spark, sf_dir), False)
    counts = []
    for i in range(3):
        req = workloads.Request(session, f"fixed-{i}", lambda: build(session.spark, sf_dir), True)
        counts.append({k: req.stats[k] for k in ("jobs", "stages", "tasks")})
        counts[-1]["builder_jobs"] = req.builder_jobs
    assert counts[0]["jobs"] >= 1
    assert counts[0] == counts[1] == counts[2]


def test_report_matches_the_reference_sessionizer(session, tmp_path):
    corpus = _corpus(tmp_path / "c", 8)
    users, counters = kdc_check.reference_report(corpus)
    df, obs = workloads.kdc_report_df(session.spark, corpus)
    rows = df.collect()
    err = workloads.check_report(rows, obs.get, 2000, kdc_check.fingerprint(users, counters))
    assert err is None


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the run must fail and
    print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kdc_report",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
