"""Per-session amortized builds, their eviction registry, and staged dirs.

Parse once, query many: a build that several query ids read — the KDC
records persist, ANN quantizers, MinHash signatures, graph edge lists,
iterative reports, bounded-stream results — is a function decorated
with ``amortized(consumers)``. The decorator memoizes it under
``(applicationId, sf_dir, *args)`` and drops the entries of stopped
applications on every lookup, so a process that creates and stops
several SparkSessions (pytest does) holds one app's working set, never
a dead app's blocks. It also registers an evictor for its consumer ids:
``evict_for(qid)`` clears every build ``qid`` reads through, which is how
the bench re-samples an amortized id genuinely cold.

``tempdir`` is ``tempfile.mkdtemp`` plus an atexit ``shutil.rmtree``, so
per-call sinks, staged inputs and streaming checkpoints don't outlive
the process; ``persistent_stage`` is the cross-process staged-input dir.
"""

from __future__ import annotations

import atexit
import functools
import shutil
import tempfile
from collections import Counter
from collections.abc import Callable, Collection

from py4j.protocol import Py4JJavaError

#: (matcher, evict) pairs: ``matcher(qid)`` is True for every query id
#: whose plan reads through the guarded cache, ``evict()`` empties it.
_EVICTORS: list[tuple[Callable[[str], bool], Callable[[], None]]] = []

#: Every ``amortized`` build, in definition order.
BUILDS: list[Callable] = []

#: Exceptions caught and not re-raised, by site.
SWALLOWED: Counter[str] = Counter()


def register_evictor(
    matcher: Callable[[str], bool], evict: Callable[[], None]
) -> None:
    """Register an eviction hook for a cache that is not an
    ``amortized`` build (e.g. catalog tables)."""
    _EVICTORS.append((matcher, evict))


def evict_for(qid: str) -> bool:
    """Clear every registered cache that ``qid`` reads through; True iff
    at least one matched."""
    hit = False
    for matcher, evict in _EVICTORS:
        if matcher(qid):
            evict()
            hit = True
    return hit


def amortized(consumers: Collection[str] | str):
    """Memoize a build ``(spark, sf_dir, *args)`` per live application.

    ``consumers`` names the query ids whose plans read through the build:
    a collection of ids, or a module's ``__name__`` for every id that
    module registers. Eviction pops every entry and unpersists the
    DataFrames among its values (tuple values are unpacked). The
    decorated function exposes ``cache`` and ``consumers``."""
    if isinstance(consumers, str):
        module = consumers

        def reads(qid: str) -> bool:
            from kdcloganalyzer_spark.plans.registry import QUERIES

            fn = QUERIES.get(qid)
            return fn is not None and fn.__module__ == module

    else:
        consumers = frozenset(consumers)
        if not consumers:
            raise ValueError("an amortized build needs a consumer query id")
        reads = consumers.__contains__

    def deco(build: Callable) -> Callable:
        cache: dict[tuple, object] = {}

        def evict() -> None:
            while cache:
                _, value = cache.popitem()
                for item in value if isinstance(value, tuple) else (value,):
                    if callable(getattr(item, "unpersist", None)):
                        try:
                            item.unpersist()
                        except Py4JJavaError:
                            # its application has stopped; the blocks
                            # died with it
                            SWALLOWED["appcache.unpersist"] += 1

        @functools.wraps(build)
        def cached(spark, sf_dir: str, *args):
            app = spark.sparkContext.applicationId
            for key in [k for k in cache if k[0] != app]:
                del cache[key]
            key = (app, sf_dir, *args)
            if key not in cache:
                cache[key] = build(spark, sf_dir, *args)
            return cache[key]

        cached.cache = cache
        cached.consumers = consumers
        register_evictor(reads, evict)
        BUILDS.append(cached)
        return cached

    return deco


def persistent_stage(tag: str, srcs: list[str], build) -> str:
    """Cross-process idempotent staged-INPUT dir under /tmp.

    The streaming queries simulate a producer by splitting/replaying the
    driver's parquet into a monitored feed directory. That feed is a
    pure function of the source table, and in a real deployment it
    simply EXISTS — rebuilding it per process charged every cold bench
    run ~1 s per feed of fixture construction that is not streaming
    cost. Same persistence contract as the records/binfiles parquet
    (kdc_queries.records_path_for_sf): stable /tmp path, `_SUCCESS`
    marker, and — per ADVICE r12's staleness warning on basename-only
    keys — the path embeds a CONTENT fingerprint of the sources
    (path, mtime_ns, size), so a regenerated fixture can never reuse a
    stale export. Built in a pid-unique dir and os.rename()d into place
    (check-then-act markers race with the entry() prestage — SKILL.md).

    ``build(dir)`` must populate ``dir`` and may use Spark/DuckDB; file
    mtimes inside are preserved by the rename (tail-chunk staging
    depends on its utime ticks)."""
    import hashlib
    import json
    import os

    sig_parts = []
    for p in srcs:
        st = os.stat(p)
        sig_parts.append((p, st.st_mtime_ns, st.st_size))
    sig = hashlib.md5(
        json.dumps(sig_parts, sort_keys=True).encode()
    ).hexdigest()[:12]
    final = f"/tmp/kdcspark_stage_{tag}_{sig}"
    if not os.path.exists(os.path.join(final, "_SUCCESS")):
        bld = f"{final}.build.{os.getpid()}"
        os.makedirs(bld, exist_ok=True)
        build(bld)
        open(os.path.join(bld, "_SUCCESS"), "w").close()
        try:
            os.rename(bld, final)
        except OSError:
            # lost the rename race — the winner's dir is complete
            shutil.rmtree(bld, ignore_errors=True)
    return final


def tempdir(prefix: str, fast: bool = False) -> str:
    """mkdtemp that is removed at interpreter exit.

    ``fast=True`` prefers tmpfs (/dev/shm) when present — for
    commit-latency-bound scratch like streaming checkpoints of BOUNDED
    runs, where durability across a machine crash buys nothing (a real
    deployment points checkpoints at object storage instead)."""
    import os

    base = None
    if fast and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        base = "/dev/shm"
    d = tempfile.mkdtemp(prefix=prefix, dir=base)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d
