"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload kdc_report --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15

Run from the root of a checkout. Inputs are made from the seed inside the
checkout (``.perfbench_work/``, removed at exit), the engine runs on
``local[$SPARK_GRAFT_CPUS]`` (default: the workload's ``task_threads`` in
design.json), and the last line of stdout is the result as JSON: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. ``--workload all`` runs each
workload in its own process and prints the end-to-end metrics as a table.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _task_threads(workload: str) -> int:
    """Spark task threads: design.json's ``task_threads`` for the workload,
    where "half" means half the cores."""
    with open(os.path.join(ROOT, "perfbench", "design.json")) as f:
        n = json.load(f)["workloads"][workload]["task_threads"]
    return max(1, len(os.sched_getaffinity(0)) // 2) if n == "half" else n


def _isolate(work: str) -> None:
    """Keep every file the run, Spark and its JVM write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ["TZ"] = "UTC"
    time.tzset()


def _result(out: dict, trace: bool, spec: dict) -> dict:
    names = spec["per_layer"] if trace else spec["end_to_end"]
    values = out["layer"] if trace else out["metrics"]
    return {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names},
    }


def run_one(args) -> int:
    spec = _bench_json()
    # A terminated run still stops Spark and removes its work dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # The run is pinned to as many cores as Spark has task threads once the
    # inputs are made (workloads.start_pinned).
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_task_threads(args.workload)))
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    _isolate(work)
    sys.path.insert(0, ROOT)
    sess = None
    try:
        from perfbench import workloads

        sess = workloads.Session(T_PROCESS)
        out = workloads.RUNNERS[args.workload](
            sess, work, args.seed, args.seconds, bool(args.trace)
        )
    finally:
        try:
            if hasattr(sess, "spark"):
                sess.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:  # another run still uses it
                pass
    m = out["metrics"]
    print(
        f"# {args.workload} seed={args.seed}: error_rate={out['failed'] / out['attempted']:.4f} "
        f"({out['failed']}/{out['attempted']})"
        + "".join(f" {k}={v:.4g}" for k, v in m.items())
    )
    for f in out["failures"]:
        print(f"# failed {f}")
    print("# receipts " + json.dumps(out["receipts"]))
    print(json.dumps(_result(out, bool(args.trace), spec)))
    return 0


def run_all(args) -> int:
    """Each workload in its own process; a table of the end-to-end metrics."""
    spec = _bench_json()
    rows = []
    for w in spec["workloads"]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(line for line in lines[:-1]))
        if proc.returncode != 0 or not lines:
            print(f"{w['name']}: exit {proc.returncode}")
            return 1
        res = json.loads(lines[-1])
        rows.append((w["name"], res))
    print(f"{'workload':<12} {'metric':<14} {'value':>12} unit")
    for name, res in rows:
        for k, v in res["metrics"].items():
            print(f"{name:<12} {k:<14} {v['value']:>12.4f} {v['unit']}")
        rate = res["failed"] / res["attempted"]
        print(f"{name:<12} {'error_rate':<14} {rate:>12.4f} 1 ({res['failed']}/{res['attempted']})")
    return 0 if all(r["correct"] for _, r in rows) else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
