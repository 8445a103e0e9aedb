"""DuckDB oracle compare — the local mirror of the driver's correctness
gate, usable from the CLI (``python -m kdcloganalyzer_spark verify``)
and the pytest suite (tests/oracle_compare.py re-exports this module).

Runs a registered Spark query and its oracle SQL on the same parquet
dir, then compares row count and an order-insensitive value set with the
same normalizations the driver applies (column order by name; floats
compared after the query's own rounding).
"""

from __future__ import annotations

import math
from datetime import datetime

import duckdb

from kdcloganalyzer_spark.schemas import DRIVER_TABLES


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in DRIVER_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _norm(v):
    # pandas-path values (compare fetches DuckDB via .df()): NaT → None,
    # numpy scalars unwrap via .item(), arrays behave like lists.
    if v is None:
        return None
    try:
        if v != v:  # NaT → None; float NaN keeps its "NaN" token
            return "NaN" if isinstance(v, float) else None
    except (TypeError, ValueError):
        pass
    if hasattr(v, "item") and not isinstance(v, (bytes, str)):
        try:
            v = v.item()
        except (AttributeError, ValueError):
            pass
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # tolerate engine-level float formatting differences
        return f"{v:.6g}"
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, bool):
        return str(bool(v))
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_norm(x) for x in v)
    return str(v) if v is not None else None


def oracle_sql_for(qid: str, sf_dir: str) -> str:
    """Registered oracle SQL adapted to ``sf_dir``: the KDC / synth /
    schema-evolution oracles embed the DRIVER's sf0.01 staging paths as
    static strings (the driver gate always runs there); for any other
    sf, swap in that sf's deterministic paths (``registry.driver_path``),
    then the sf dir itself. Shared by the CLI ``verify`` subcommand and
    tests/test_queries_oracle.py — without the rewrite, a verify at
    sf0.001 would compare Spark@sf0.001 against DuckDB@sf0.01 and
    spuriously fail."""
    from kdcloganalyzer_spark.plans import registry

    registry.load_all()
    sql = registry.ORACLES[qid]
    for driver, local in registry.DRIVER_PATHS:
        sql = sql.replace(driver, local(sf_dir))
    return sql.replace(registry.DRIVER_SF, sf_dir)


#: Spark type names whose values must stay integral end-to-end; a DuckDB
#: oracle column that reaches pandas as float64 while the Spark column is
#: one of these is the HUGEINT/DECIMAL→float64 leak (see docstring of
#: :func:`compare`) and fails the compare even when the values agree.
_INTEGRAL_SPARK_TYPES = {"long", "integer", "short", "byte", "decimal"}


def compare(spark_df, con, sql: str, strict: bool = False) -> tuple[bool, str]:
    """Driver-faithful compare: the DuckDB side is fetched via ``.df()``
    (the pandas path), NOT ``fetchall()``. DuckDB converts HUGEINT (the
    result type of any uncast integer ``sum()`` arithmetic) and DECIMAL
    to float64 on the pandas path, so an oracle whose final projection
    leaves uncast-sum arithmetic hashes as ``2000000.0`` against Spark's
    ``2000000`` in the driver gate while a ``fetchall()``-based local
    verify (Python ints) sees no difference. Fetching the same way the
    driver does — plus an explicit dtype check — makes that leak class
    locally visible (it shipped 9 red CORRECTNESS_r07 rows unseen)."""
    cols = sorted(spark_df.columns)
    # Float columns: the pandas path represents SQL NULL as NaN on both
    # engines (Spark's toPandas does the same on the driver), so the
    # NULL/NaN distinction does not survive the gate — normalize both
    # to the "NaN" token for float-typed columns only.
    null_as_nan = {
        f.name
        for f in spark_df.schema.fields
        if f.dataType.typeName() in ("double", "float")
    }

    def norm_at(c, v):
        n = _norm(v)
        if n is None and c in null_as_nan:
            return "NaN"
        return n

    raw_spark = spark_df.collect()
    spark_rows = [tuple(norm_at(c, r[c]) for c in cols) for r in raw_spark]

    ddf = con.execute(sql).df()
    duck_cols = list(ddf.columns)
    if sorted(duck_cols) != cols:
        return False, f"column mismatch: spark={cols} duck={sorted(duck_cols)}"

    # DuckDB's pandas path renders DATE as datetime64; when the Spark
    # column is a true DateType, compare date parts (the driver accepts
    # these — fetchall() used to return datetime.date here).
    date_cols = {
        f.name
        for f in spark_df.schema.fields
        if f.dataType.typeName() == "date"
    }
    for c in date_cols:
        if str(ddf[c].dtype).startswith("datetime64"):
            ddf[c] = ddf[c].dt.date

    integral = {
        f.name
        for f in spark_df.schema.fields
        if f.dataType.typeName() in _INTEGRAL_SPARK_TYPES
    }
    leaks = []
    for c in cols:
        if c not in integral or str(ddf[c].dtype) not in (
            "float64",
            "float32",
        ):
            continue
        if ddf[c].isna().any():
            # NULLABLE-int degradation, not a leak: a BIGINT column WITH
            # NULLs has no int64 representation in numpy, so BOTH engines
            # degrade it to float64-with-NaN on the driver (Spark's
            # toPandas does the same) and the gate accepts it. Coerce
            # back to int/None so the value compare stays exact.
            import numpy as np

            ddf[c] = np.array(
                [None if x != x else int(x) for x in ddf[c]],
                dtype=object,
            )
        else:
            # no NULLs → DuckDB would have kept int64 unless the
            # expression TYPE itself is HUGEINT/DECIMAL: the leak.
            leaks.append(c)
    if leaks:
        return False, (
            "oracle type leak: column(s) "
            f"{leaks} are integral/decimal on the Spark side but float on "
            "the DuckDB pandas fetch path (uncast HUGEINT sum() arithmetic "
            "or DECIMAL projection) — wrap the oracle expression in "
            "CAST(... AS BIGINT)"
        )
    if strict:
        # STRICT second pass (ADVICE r8): the pandas path collapses SQL
        # NULL and float NaN on BOTH engines, so the driver-faithful
        # compare above cannot see a regression that turns a NULL double
        # into NaN (or a HUGEINT leak hiding in a nullable int column).
        # Re-fetch the oracle via fetchall() — Python scalars keep None
        # distinct from nan — for an order-free per-column NULL/NaN
        # census, and DESCRIBE the oracle for its true result types
        # (NaN-masked leak detection needs the schema, not the values).
        cur = con.execute(sql)
        names = [d[0] for d in cur.description]
        fetched = cur.fetchall() if null_as_nan else []
        for c in sorted(null_as_nan):
            i = names.index(c)
            d_null = sum(1 for row in fetched if row[i] is None)
            d_nan = sum(
                1
                for row in fetched
                if isinstance(row[i], float) and math.isnan(row[i])
            )
            s_null = sum(1 for r in raw_spark if r[c] is None)
            s_nan = sum(
                1
                for r in raw_spark
                if isinstance(r[c], float) and math.isnan(r[c])
            )
            if (d_null, d_nan) != (s_null, s_nan):
                return False, (
                    f"strict NULL/NaN mismatch in float column {c}: "
                    f"spark null/nan={s_null}/{s_nan} "
                    f"duck null/nan={d_null}/{d_nan}"
                )
        try:
            described = con.execute(f"DESCRIBE {sql}").fetchall()
            duck_types = {row[0]: str(row[1]) for row in described}
        except duckdb.Error:
            duck_types = {}
        for c in sorted(integral):
            t = duck_types.get(c, "")
            if (
                t == "HUGEINT"
                or t.startswith("DECIMAL")
                or t in ("DOUBLE", "FLOAT")
            ):
                return False, (
                    f"strict type check: integral Spark column {c} is "
                    f"{t} in the oracle's result schema — a leak the "
                    "pandas-path check would have masked had the column "
                    "contained NULLs; wrap the oracle expression in "
                    "CAST(... AS BIGINT)"
                )
    duck_rows = [
        tuple(norm_at(c, row[c]) for c in cols)
        for row in ddf.to_dict("records")
    ]

    if len(spark_rows) != len(duck_rows):
        return False, f"row count: spark={len(spark_rows)} duck={len(duck_rows)}"
    if sorted(spark_rows, key=str) != sorted(duck_rows, key=str):
        s, d = set(spark_rows), set(duck_rows)
        return False, (
            f"values differ; spark-only sample={list(s - d)[:3]} "
            f"duck-only sample={list(d - s)[:3]}"
        )
    return True, "ok"
