"""The two workloads: one setup, an untimed warm-up, a closed-loop timed
phase with one client, then the correctness checks.

Every request runs under its own Spark job group. With tracing on, every
other request also reads its layer numbers from the status store; the
untraced ones give the latency the tracing overhead is measured against.
Sizes, warm-up counts and the query list come from design.json.
"""

from __future__ import annotations

import functools
import json
import os
import random
import statistics
import time

import bench
from perfbench import gen, kdc_check, layers


@functools.cache
def config(workload: str) -> dict:
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "design.json")) as f:
        return json.load(f)["workloads"][workload]


def cpus() -> int:
    return int(os.environ["SPARK_GRAFT_CPUS"])


def p50(xs):
    return statistics.median(xs)


def p90(xs):
    return statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) > 1 else xs[0]


def query_order(ids: list[str], seed: int, n_passes: int) -> list[list[str]]:
    """A seeded permutation of ``ids`` for each pass."""
    rng = random.Random(seed)
    passes = []
    for _ in range(n_passes):
        p = list(ids)
        rng.shuffle(p)
        passes.append(p)
    return passes


#: The JVM's JIT compiler threads, by the names /proc shows for them.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def start_pinned(start):
    """Run ``start()`` pinned to the first ``cpus()`` cores, so the JVM it
    launches inherits the pinning and sizes its thread pools to it; then
    give the JIT compiler threads every core back.

    On a shared virtual machine a thread woken on an idle vCPU waits for
    the host to run that vCPU, and a request hands off between Python and
    JVM threads many times; kept on as many cores as Spark has task
    threads, its latency follows the engine rather than the host's load.
    The JIT compiles new generated code on every KDC report and runs in
    the background, so it is left to the other cores as on a host with
    spare ones."""
    every = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, every[: cpus()])
    out = start()
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc.pid
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/comm") as f:
                if f.read().startswith(JIT_THREADS):
                    os.sched_setaffinity(int(tid), every)
        except (FileNotFoundError, ProcessLookupError):  # the thread has ended
            pass
    return out


class Session:
    """The Spark session plus the setup clock.

    ``excluded`` accumulates time spent making inputs and checking outputs,
    which ``setup_s`` leaves out."""

    def __init__(self, t_process: float):
        self.t_process = t_process
        self.excluded = 0.0
        self.layer: dict[str, float] = {}

    def start(self):
        from kdcloganalyzer_spark.session import get_spark

        t = time.perf_counter()
        self.spark = start_pinned(
            lambda: get_spark(
                app_name="perfbench",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.streaming.checkpointLocation": os.path.join(
                        os.environ["TMPDIR"], "checkpoints"
                    ),
                },
            )
        )
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.perf_counter() - t
        from kdcloganalyzer_spark.plans import registry

        t = time.perf_counter()
        registry.load_all()
        self.layer["registry.load_s"] = time.perf_counter() - t
        self.registry = registry

    def untimed(self, fn, *args):
        t = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.excluded += time.perf_counter() - t

    def setup_done(self) -> float:
        return time.perf_counter() - self.t_process - self.excluded

    def stop(self):
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            self.spark.stop()
        finally:
            # The JVM exits when its stdin closes; wait until it has.
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)


class Request:
    """One timed request: builder call, then a completed collect. A traced
    request also reads its job group, and its latency includes that."""

    def __init__(self, sess: Session, group: str, build, traced: bool):
        sc = sess.sc
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        self.df = build()
        t1 = time.perf_counter()
        self.builder_jobs = len(layers.job_ids(sc, group)) if traced else None
        t2 = time.perf_counter()
        self.rows = self.df.collect()
        t3 = time.perf_counter()
        self.stats = layers.group_stats(sc, group) if traced else None
        self.build_s = t1 - t0
        self.action_s = t3 - t2
        self.latency = time.perf_counter() - t0


def exec_layers(reqs: list[Request], floor: list[float]) -> dict:
    """Per-request layer numbers of the traced requests."""
    n = len(reqs)

    def mean(key):
        return sum(r.stats[key] for r in reqs) / n

    return {
        "plans.build_s": p50([r.build_s for r in reqs]),
        "plans.builder_jobs": sum(r.builder_jobs for r in reqs) / n,
        "exec.action_s": p50([r.action_s for r in reqs]),
        "exec.jobs": mean("jobs"),
        "exec.stages": mean("stages"),
        "exec.tasks": mean("tasks"),
        "exec.executor_cpu_s": mean("executor_cpu_s"),
        "exec.executor_run_s": mean("executor_run_s"),
        "exec.cpu_util": sum(
            r.stats["executor_cpu_s"] / (r.action_s * cpus()) for r in reqs
        )
        / n,
        "exec.shuffle_read_bytes": mean("shuffle_read_bytes"),
        "exec.shuffle_write_bytes": mean("shuffle_write_bytes"),
        "exec.spill_bytes": mean("spill_bytes"),
        "exec.floor_s": p50(floor),
    }


# ---------------------------------------------------------------- kdc_report


def kdc_report_df(spark, corpus: str):
    """The reference job: raw lines → records → accept filter with the
    counter taxonomy observed → per-client first/last auth and count."""
    from pyspark.sql import functions as F

    from kdcloganalyzer_spark import metrics
    from kdcloganalyzer_spark.operators.sessionize import sessionize
    from kdcloganalyzer_spark.sources.kdc_log import read_log_lines_raw

    accepted, obs = metrics.observed_accept_filter(
        sessionize(read_log_lines_raw(spark, corpus))
    )
    df = accepted.groupBy("client").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.count("*").alias("n"),
    )
    return df, obs


def report_fingerprint(rows, counters: dict) -> str:
    users = {r["client"]: (r["first_ts"], r["last_ts"], r["n"]) for r in rows}
    return kdc_check.fingerprint(users, counters)


def check_report(rows, counters: dict, n_records: int, expected: str) -> str | None:
    """None if the report is right, else what is wrong with it."""
    total = sum(counters[k] for k in ("rt_auth", "rt_tgs", "rt_unknown", "rt_invalid"))
    if total != n_records:
        return f"counter conservation: {total} != {n_records}"
    if report_fingerprint(rows, counters) != expected:
        return "fingerprint differs from the reference sessionizer"
    return None


#: The record columns the report reads; the sessionize prefix keeps only
#: these, so it does the same pruned work the report does.
REPORT_COLUMNS = ("ts", "req_type", "client", "valid", "success", "referral", "error_class")


def kdc_prefix(sess: Session, corpus: str, tag: str) -> dict:
    """One pass of the KDC prefix actions into the noop sink: the raw scan,
    the scan plus line features, and sessionize (pruned to the report's
    columns). Differences between them are the layers' self times."""
    from pyspark.sql import functions as F

    from kdcloganalyzer_spark.functions.kdc_parse import line_features
    from kdcloganalyzer_spark.operators.sessionize import sessionize
    from kdcloganalyzer_spark.sources.kdc_log import read_log_lines_raw

    spark, sc = sess.spark, sess.sc
    feats = line_features(F.col("line"))
    with_feats = read_log_lines_raw(spark, corpus).select(
        "*", *[v.alias(k) for k, v in feats.items()]
    )
    records = sessionize(read_log_lines_raw(spark, corpus)).select(*REPORT_COLUMNS)
    out = {
        "scan": layers.timed_noop(sc, read_log_lines_raw(spark, corpus), f"scan-{tag}"),
        "features": layers.timed_noop(sc, with_feats, f"features-{tag}"),
        "sessionize": layers.timed_noop(sc, records, f"sessionize-{tag}"),
    }
    out["stats"] = layers.group_stats(sc, f"sessionize-{tag}")
    return out


def prefix_layers(prefixes: list[dict], report_s: float) -> dict:
    """Self times from the medians of the prefix actions; ``report_s`` is
    the full report, so the four self times add up to it."""
    m = {k: p50([p[k] for p in prefixes]) for k in ("scan", "features", "sessionize")}
    stats = [p["stats"] for p in prefixes]
    return {
        "sources.scan_s": m["scan"],
        "functions.line_features_s": m["features"] - m["scan"],
        "sessionize.self_s": m["sessionize"] - m["features"],
        "sessionize.shuffle_write_bytes": p50([s["shuffle_write_bytes"] for s in stats]),
        "sessionize.spill_bytes": p50([s["spill_bytes"] for s in stats]),
        "sessionize.cpu_util": p50(
            [s["executor_cpu_s"] / (p["sessionize"] * cpus()) for s, p in zip(stats, prefixes)]
        ),
        "metrics.report_s": report_s - m["sessionize"],
    }


def trace_layers(sess: Session, traced: list[Request], prefixes: list[dict], report_s: float,
                 cached: int, lat_traced: list[float], lat_plain: list[float]) -> dict:
    """Every per-layer metric of a traced run."""
    floor = [layers.floor_s(sess.spark, f"floor-{k}") for k in range(5)]
    layer = dict(sess.layer)
    layer.update(exec_layers(traced, floor))
    layer.update(prefix_layers(prefixes, report_s))
    layer["appcache.cached_bytes"] = cached
    layer["trace.overhead_s"] = p50(lat_traced) - p50(lat_plain)
    return layer


def run_kdc_report(sess: Session, work: str, seed: int, seconds: float, trace: bool) -> dict:
    from kdcloganalyzer_spark.sources.kdc_synth import generate_logs

    n_records = config("kdc_report")["corpus_records"]
    corpus = sess.untimed(generate_logs, os.path.join(work, "kdc_corpus"), n_records, 32, seed)
    users, counters = sess.untimed(kdc_check.reference_report, corpus)
    expected = kdc_check.fingerprint(users, counters)

    sess.start()
    spark = sess.spark
    warm, failures = [], []

    # A report's Observation belongs to the DataFrame that ran it, so the
    # request keeps both and reads the counters after the collect.
    def one(group, traced):
        holder = {}

        def build():
            df, holder["obs"] = kdc_report_df(spark, corpus)
            return df

        req = Request(sess, group, build, traced)
        obs_t = time.perf_counter()
        counters = holder["obs"].get
        req.latency += time.perf_counter() - obs_t
        req.counters = counters
        return req

    for i in range(config("kdc_report")["warm_reports"]):
        warm.append(one(f"warm-{i}", False).latency)
    setup_s = sess.setup_done()

    timed, traced_reqs, lat_plain, lat_traced, prefixes = [], [], [], [], []
    t_start, s0 = time.perf_counter(), bench._cpu_ticks()
    i = 0
    while i < 3 or time.perf_counter() - t_start < seconds:
        traced = trace and i % 2 == 1
        try:
            if traced:
                prefixes.append(kdc_prefix(sess, corpus, str(i)))
            req = one(f"report-{i}", traced)
        except Exception as e:  # noqa: BLE001 — counted and reported
            failures.append(f"report-{i}: {type(e).__name__}: {e}")
            i += 1
            continue
        err = check_report(req.rows, req.counters, n_records, expected)
        if err:
            failures.append(f"report-{i}: {err}")
        (lat_traced if traced else lat_plain).append(req.latency)
        if traced:
            traced_reqs.append(req)
        timed.append(req)
        i += 1
    elapsed = time.perf_counter() - t_start
    steal = bench._steal_pct(s0, bench._cpu_ticks())

    lat = [r.latency for r in timed]
    out = {
        "attempted": i,
        "failed": len(failures),
        "failures": failures,
        "receipts": {"host.steal_pct": steal, "warm_latencies_s": warm, "latencies_s": lat},
        "metrics": {
            "setup_s": setup_s,
            "latency_p50_s": p50(lat),
            "latency_p90_s": p90(lat),
            "records_per_s": n_records / p50(lat),
            "queries_per_s": len(timed) / elapsed,
        },
    }
    if trace:
        # The untraced latency this is compared with is latency_p50_s.
        report_s = p50([r.build_s + r.action_s for r in traced_reqs])
        out["layer"] = trace_layers(
            sess, traced_reqs, prefixes, report_s, layers.cached_bytes(sess.sc),
            lat_traced, lat_plain,
        )
        out["receipts"]["prefix_sum_s"] = report_s
        out["receipts"]["untraced_p50_s"] = p50(lat_plain)
    return out


# --------------------------------------------------------------- query_floor


def stage_kdc_inputs(work: str, seed: int) -> None:
    """Point the engine's KDC staging (the synth corpus and the records
    parquet, both keyed by scale factor) into the work dir, with the
    corpus drawn from the run's seed instead of the fixed default."""
    from kdcloganalyzer_spark.plans import kdc_queries
    from kdcloganalyzer_spark.sources import kdc_synth

    synth_path = kdc_synth.synth_path_for_sf
    records_path = kdc_queries.records_path_for_sf

    def synth_in_work(sf_dir: str) -> str:
        return os.path.join(work, os.path.basename(synth_path(sf_dir)))

    def records_in_work(sf_dir: str) -> str:
        return os.path.join(work, os.path.basename(records_path(sf_dir)))

    def synth_dir(sf_dir: str) -> str:
        out = synth_in_work(sf_dir)
        return kdc_synth.generate_logs(out, int(out.rsplit("_", 1)[1]), seed=seed)

    kdc_synth.synth_path_for_sf = synth_in_work
    kdc_queries.synth_path_for_sf = synth_in_work
    kdc_queries.synth_dir_for_sf = synth_dir
    kdc_queries.records_path_for_sf = records_in_work


class _Collected:
    """The collected result of a request, shaped like the DataFrame the
    oracle compare expects, so the check reuses the timed collect."""

    def __init__(self, req: Request):
        self.columns = req.df.columns
        self.schema = req.df.schema
        self._rows = req.rows

    def collect(self):
        return self._rows


def run_query_floor(sess: Session, work: str, seed: int, seconds: float, trace: bool) -> dict:
    from kdcloganalyzer_spark import oracle

    cfg = config("query_floor")
    sf_dir = os.path.join(work, f"sf{cfg['sf']}")
    sess.untimed(gen.make_tables, sf_dir, cfg["sf"], seed)
    stage_kdc_inputs(work, seed)
    from kdcloganalyzer_spark.plans import kdc_queries

    sess.untimed(kdc_queries.synth_dir_for_sf, sf_dir)

    sess.start()
    spark, queries = sess.spark, sess.registry.QUERIES
    n_warm = cfg["warm_passes"]
    order = query_order(cfg["ids"], seed, n_warm + 64)
    warm_p50 = []
    for k in range(n_warm):
        lat = []
        for qid in order[k]:
            lat.append(Request(sess, f"warm-{k}-{qid}", lambda: queries[qid](spark, sf_dir), False).latency)
        warm_p50.append(p50(lat))
    setup_s = sess.setup_done()

    timed, raised, first = [], {}, {}
    traced_reqs, lat_plain, lat_traced, pass_lat = [], [], [], {}
    t_start, s0 = time.perf_counter(), bench._cpu_ticks()
    # Whole passes only, so every run times each id equally often: result
    # sizes and latencies differ a lot between ids.
    attempted, k = 0, n_warm
    while k == n_warm or time.perf_counter() - t_start < seconds:
        for qid in order[k]:
            traced = trace and attempted % 2 == 1
            attempted += 1
            try:
                req = Request(sess, f"p{k}-{qid}", lambda: queries[qid](spark, sf_dir), traced)
            except Exception as e:  # noqa: BLE001 — counted and reported
                raised.setdefault(qid, []).append(f"{type(e).__name__}: {e}"[:300])
                continue
            pass_lat.setdefault(k, []).append(req.latency)
            first.setdefault(qid, req)
            if traced:
                traced_reqs.append(req)
            (lat_traced if traced else lat_plain).append(req.latency)
            timed.append((qid, req))
        k += 1
    elapsed = time.perf_counter() - t_start
    steal = bench._steal_pct(s0, bench._cpu_ticks())
    pass_p50 = [p50(v) for _, v in sorted(pass_lat.items())]

    # Each id's first timed result is checked against its oracle; a wrong
    # id fails every request it served.
    con = oracle.duckdb_con(sf_dir)
    wrong = {}
    for qid, req in first.items():
        ok, why = oracle.compare(_Collected(req), con, oracle.oracle_sql_for(qid, sf_dir))
        if not ok:
            wrong[qid] = f"oracle: {why}"[:300]
    failed = sum(len(v) for v in raised.values()) + sum(1 for q, _ in timed if q in wrong)
    failures = [f"{q}: {e}" for q, errs in sorted(raised.items()) for e in errs]
    failures += [f"{q}: {e}" for q, e in sorted(wrong.items())]
    lat = [r.latency for _, r in timed]
    out = {
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "receipts": {
            "host.steal_pct": steal,
            "warm_pass_p50_s": warm_p50,
            "pass_p50_s": pass_p50,
        },
        "metrics": {
            "setup_s": setup_s,
            "latency_p50_s": p50(lat),
            "latency_p90_s": p90(lat),
            "records_per_s": sum(len(r.rows) for _, r in timed) / elapsed,
            "queries_per_s": len(timed) / elapsed,
        },
    }
    if trace:
        from kdcloganalyzer_spark import appcache

        cached = layers.cached_bytes(sess.sc)
        # The persisted records would serve the prefix actions from memory
        # (the cache matches their plan); evict them so the layers work.
        appcache.evict_for(cfg["kdc_surface"][0])
        corpus = kdc_queries.synth_dir_for_sf(sf_dir)
        prefixes, reports = [], []
        for j in range(2):
            prefixes.append(kdc_prefix(sess, corpus, str(j)))
            reports.append(Request(sess, f"report-{j}", lambda: kdc_report_df(spark, corpus)[0], False))
        report_s = p50([r.build_s + r.action_s for r in reports])
        out["layer"] = trace_layers(
            sess, traced_reqs, prefixes, report_s, cached, lat_traced, lat_plain
        )
    return out


RUNNERS = {"kdc_report": run_kdc_report, "query_floor": run_query_floor}
