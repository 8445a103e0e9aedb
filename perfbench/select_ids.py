"""Print the query_floor id list chosen by the rule recorded in design.json.

    python3 perfbench/select_ids.py

The rule: the README KDC surface ids, then from every other plans module
except streaming_queries the id with the smallest median in the bench
table (BENCH_LOCAL.json) that is oracle-backed, has an oracle reading only
the driver tables, reads through no amortized cache, runs in at most
0.6 s there, and is not excluded in design.json.
"""

from __future__ import annotations

import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Oracle SQL that names files itself (staged inputs) instead of the table views.
EXTERNAL = re.compile(r"read_parquet|read_csv|read_json|'/|glob\(")


def select() -> list[str]:
    sys.path.insert(0, ROOT)
    from kdcloganalyzer_spark import appcache
    from kdcloganalyzer_spark.plans import registry

    with open(os.path.join(ROOT, "perfbench", "design.json")) as f:
        floor = json.load(f)["workloads"]["query_floor"]
    with open(os.path.join(ROOT, "BENCH_LOCAL.json")) as f:
        medians = json.load(f)["medians"]
    registry.load_all()
    by_module: dict[str, list[str]] = {}
    for qid, fn in registry.QUERIES.items():
        by_module.setdefault(fn.__module__.rsplit(".", 1)[1], []).append(qid)
    chosen = list(floor["kdc_surface"])
    for module in sorted(by_module):
        if module in ("kdc_queries", "streaming_queries"):
            continue
        ok = [
            (medians[q], q)
            for q in by_module[module]
            if q in registry.ORACLES
            and not EXTERNAL.search(registry.ORACLES[q])
            and not any(match(q) for match, _ in appcache._EVICTORS)
            and medians.get(q) is not None
            and medians[q] <= floor["short_s"]
            and q not in floor["excluded"]
        ]
        if ok:
            chosen.append(min(ok)[1])
    return chosen


if __name__ == "__main__":
    print(json.dumps(select()))
