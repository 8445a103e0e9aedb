"""Round-8 analytics/pipeline extensions: blocked fuzzy entity matching,
SCD Type-2 dimension build, Markov transition matrix, per-key OLS trend,
key-skew profiling, embedding dimension statistics, and neighbor-set
Jaccard node similarity.

Like plans/curation.py and plans/pipeline_ext.py these extend the
reference's declared surface (README.md:4-13 stops at log analytics)
with operations a 100 TB training-data / warehouse pipeline runs daily.
Every batch query here is DuckDB-oracle hash-checked end-to-end, and
every hot path is a whole-stage-codegen expression — this module has NO
Python-worker crossings at all.

Cross-engine idioms used here (see plans/registry.py conventions):
- probabilities/shares/slopes as exact integer micro-units
  (``CAST(x * 1000000 // y AS BIGINT)`` with integer x, y) — never a
  bare float division that hashes differently across engines, and never
  an uncast HUGEINT on the DuckDB side (the CORRECTNESS_r07 leak);
- exact quantiles scaled to integers (x2/x10/x100) so interpolation
  lands on representable values (the sessionize_stats_rollup idiom);
- Levenshtein distance is the textbook DP in both engines — identical
  integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kdcloganalyzer_spark.plans.registry import query
from kdcloganalyzer_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Blocked fuzzy join (entity resolution)
# ---------------------------------------------------------------------------


@query(
    "join_fuzzy_blocked",
    oracle="""
    WITH probe AS (
      SELECT p_partkey AS probe_key,
             substr(p_name, 1, 5) || substr(p_name, 7) AS probe_name
      FROM part WHERE p_partkey % 7 = 0 AND length(p_name) >= 7
    ), cand AS (
      SELECT pr.probe_key, pr.probe_name, p.p_partkey AS match_key,
             levenshtein(pr.probe_name, p.p_name) AS lev
      FROM probe pr
      JOIN part p ON substr(pr.probe_name, 1, 4) = substr(p.p_name, 1, 4)
      WHERE levenshtein(pr.probe_name, p.p_name) <= 2
    )
    SELECT probe_key, match_key, CAST(lev AS INT) AS lev
    FROM (
      SELECT probe_key, match_key, lev,
             row_number() OVER (PARTITION BY probe_key
                                ORDER BY lev, match_key) AS rn
      FROM cand
    ) WHERE rn = 1
    """,
)
def join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution via blocking + edit distance: a probe side of
    deterministically corrupted part names (6th character deleted) is
    re-linked to the catalog through a 4-character-prefix block, a
    Levenshtein<=2 verify, and a best-match (min distance, min key)
    pick. The reference has no linkage surface; this is the standard
    record-linkage shape (Fellegi-Sunter blocking stage) every
    curation/warehouse stack needs.

    The semantics (and the oracle) are row-level — every part row
    sharing the probe's 4-char prefix within edit distance 2 is a
    candidate — but the PLAN matches at the VOCABULARY level: names
    repeat heavily (this fixture: 64 distinct names over 20k rows, so
    prefix blocks are only 8-way distinct and a row-level block join
    runs 7.1M edit-distance pairs), so both sides are first collapsed
    to distinct names (parts keep min(p_partkey) per name — exactly
    the ``ORDER BY lev, match_key`` winner within a name), the
    quadratic verify runs on vocab x vocab pairs (~500 here, measured,
    vs 7.1M row-level), and the per-name best match fans back to probe
    rows through a broadcast equi-join. Within the vocab join the
    equi-key is the COMPOSITE (prefix4, exact length) — the probe side
    explodes the +/-2 length band implied by lev<=2, so the length
    prefilter is part of the shuffle key, not a post-join filter, and
    the Spark side uses the THRESHOLDED levenshtein(a, b, 2) (early-
    exit DP; exact for values <= 2, so output-identical).

    Scale: vocabulary cardinality is sublinear in row count at 100 TB
    (names, merchants, SKUs), so the expensive stage scales with
    distinct names, not rows; the two row-level passes are one
    partial-agg'd groupBy each. Hot (prefix, length) blocks at real
    vocab sizes are AQE-skew-split like any skewed equi-join; the
    fan-back broadcasts while the vocab fits the threshold and falls
    back to a shuffle hash join beyond it."""
    part = load_table(spark, sf_dir, "part")
    probe = (
        part.where((F.col("p_partkey") % 7 == 0) & (F.length("p_name") >= 7))
        .select(
            F.col("p_partkey").alias("probe_key"),
            F.concat(
                F.substring("p_name", 1, 5), F.expr("substring(p_name, 7)")
            ).alias("probe_name"),
        )
    )
    # Vocabulary sides: distinct names; catalog names carry their
    # min-partkey (the tie-break winner among equal-name rows).
    names = part.groupBy("p_name").agg(F.min("p_partkey").alias("min_key"))
    probe_names = (
        probe.select("probe_name")
        .distinct()
        # lev<=2 bounds |len(probe)-len(name)| <= 2: explode the band
        # into exact candidate lengths so it rides the equi-key.
        .select(
            "probe_name",
            F.explode(
                F.array(*[F.length("probe_name") + F.lit(d) for d in range(-2, 3)])
            ).alias("cand_len"),
        )
    )
    cand = (
        probe_names.join(
            names,
            (
                F.substring(F.col("probe_name"), 1, 4)
                == F.substring(F.col("p_name"), 1, 4)
            )
            & (F.col("cand_len") == F.length("p_name")),
        )
        .withColumn("lev", F.levenshtein("probe_name", "p_name", 2))
        .where((F.col("lev") >= 0) & (F.col("lev") <= 2))
    )
    w = Window.partitionBy("probe_name").orderBy("lev", "min_key")
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "probe_name",
            F.col("min_key").alias("match_key"),
            F.col("lev").cast("int").alias("lev"),
        )
    )
    return probe.join(F.broadcast(best), "probe_name").select(
        "probe_key", "match_key", "lev"
    )


# ---------------------------------------------------------------------------
# SCD Type-2 dimension build
# ---------------------------------------------------------------------------


@query(
    "dim_scd2_build",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN prev_type IS NULL OR prev_type <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM ordered
    ), runs AS (
      SELECT user_id, event_type, ts,
             sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS run_id
      FROM flagged
    ), intervals AS (
      SELECT user_id, CAST(run_id AS INT) AS version,
             min(event_type) AS attr_value,
             min(ts) AS valid_from, count(*) AS n_events
      FROM runs GROUP BY user_id, run_id
    )
    SELECT user_id, version, attr_value, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
             AS valid_to,
           CAST(CASE WHEN lead(valid_from) OVER (PARTITION BY user_id
                                                 ORDER BY version)
                          IS NULL THEN 1 ELSE 0 END AS INT) AS is_current,
           CAST(n_events AS BIGINT) AS n_events
    FROM intervals
    WHERE user_id < 200
    """,
)
def dim_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 build from an event stream: for
    each user, collapse consecutive runs of the tracked attribute
    (event_type standing in for "segment") into validity intervals —
    valid_from / valid_to (NULL = open) / is_current / version — the
    standard warehouse dimension-maintenance operator (Kimball SCD2).

    Distinct from window_gaps_islands (value-sequence islands) and
    analytics_segment_migration (period-over-period flows): this emits
    the dimension TABLE itself, interval-per-version.

    Scale: one shuffle on user_id serves all three windows (lag, running
    sum, lead) plus the groupBy — Catalyst reuses the partitioning, so
    the whole build is a single exchange over the fact table, then
    per-key linear work. 100 TB: partition-count sized to fact bytes;
    the output is dimension-sized (rows = attribute CHANGES, not
    events), so the final lead() window runs on the collapsed table."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 200)
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (
        ev.withColumn("prev_type", F.lag("event_type").over(wo))
        .withColumn(
            "chg",
            F.when(
                F.col("prev_type").isNull()
                | (F.col("prev_type") != F.col("event_type")),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "run_id",
            F.sum("chg").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    intervals = runs.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("attr_value"),
        F.min("ts").alias("valid_from"),
        F.count("*").cast("long").alias("n_events"),
    )
    wv = Window.partitionBy("user_id").orderBy("run_id")
    return intervals.select(
        "user_id",
        F.col("run_id").cast("int").alias("version"),
        "attr_value",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        F.when(F.lead("valid_from").over(wv).isNull(), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_current"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# Markov transition matrix
# ---------------------------------------------------------------------------


@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), pairs AS (
      SELECT prev_type, event_type AS next_type, count(*) AS cnt
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, CAST(cnt AS BIGINT) AS cnt,
           CAST(cnt * 1000000 // sum(cnt) OVER (PARTITION BY prev_type)
                AS BIGINT) AS p_micro
    FROM pairs
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next_type | prev_type) as exact integer micro-units
    (cnt * 1e6 // row_total — no float division, no HUGEINT leak on the
    oracle side). The behavioral-analytics primitive behind next-action
    prediction and anomalous-flow detection.

    Scale: one user_id shuffle for the lag, then a partial-agg'd
    groupBy on (prev, next) whose output is |types|^2 rows — tiny — and
    the row-normalizing window runs on that tiny table. The fact-table
    work is exactly one exchange + map-side combine; at 100 TB the
    per-user ordering shuffle is the cost, and it co-partitions with
    every other per-user window in the suite (exchange reuse)."""
    ev = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(wo))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("cnt"))
    )
    wt = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        F.col("cnt").cast("long").alias("cnt"),
        F.expr(
            "CAST(cnt * 1000000L div sum(cnt) OVER"
            " (PARTITION BY prev_type) AS BIGINT)"
        ).alias("p_micro"),
    )


# ---------------------------------------------------------------------------
# Per-key OLS trend slope
# ---------------------------------------------------------------------------


@query(
    "analytics_trend_slope",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
             count(*) AS y
      FROM events GROUP BY 1, 2
    ), sums AS (
      SELECT event_type, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM daily GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           CAST(sy AS BIGINT) AS total,
           CAST((n * sxy - sx * sy) * 1000000
                // (n * sxx - sx * sx) AS BIGINT) AS slope_micro
    FROM sums WHERE n > 1
    """,
)
def analytics_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key least-squares trend: daily event counts per type,
    regressed on the epoch-day index. slope = (n*Sxy - Sx*Sy) /
    (n*Sxx - Sx^2), computed ENTIRELY in 64-bit integers and emitted in
    micro-units — the closed-form OLS estimator needs only the four
    sufficient sums, so the whole regression is one partial-agg'd
    aggregation, no iteration, no floats until (never) display time.

    Scale: groupBy(type, day) with map-side combine collapses the fact
    table to |types|*|days| rows; the second groupBy is trivial. The
    sufficient-statistic trick is what makes trend fitting feasible at
    100 TB — the alternative (per-key covariance over raw rows via
    covar_pop) double-reads or float-drifts; integer sums are exact and
    mergeable across partitions in any order."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("x"),
    ).agg(F.count("*").alias("y"))
    sums = daily.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return sums.where(F.col("n") > 1).select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.col("sy").cast("long").alias("total"),
        F.expr(
            "CAST((n * sxy - sx * sy) * 1000000L"
            " div (n * sxx - sx * sx) AS BIGINT)"
        ).alias("slope_micro"),
    )


# ---------------------------------------------------------------------------
# Key-skew profiler
# ---------------------------------------------------------------------------

# Cross-engine 60-bit hash bucket (verify skill: Spark conv(substring(
# md5..)) == DuckDB ('0x'||substr(md5..))::BIGINT); 32 buckets models the
# shuffle-partition load a hash exchange on this key would produce.
_BUCKET_SPARK = (
    "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10)"
    " AS BIGINT) % 32"
)
_BUCKET_DUCK = (
    "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 32"
)


@query(
    "profile_key_skew",
    oracle=f"""
    WITH cnts AS (
      SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
    ), buckets AS (
      SELECT {_BUCKET_DUCK} AS bucket, count(*) AS brows
      FROM events GROUP BY 1
    )
    SELECT CAST((SELECT count(*) FROM cnts) AS BIGINT) AS n_keys,
           CAST((SELECT sum(cnt) FROM cnts) AS BIGINT) AS total_rows,
           CAST((SELECT max(cnt) FROM cnts) AS BIGINT) AS max_cnt,
           CAST((SELECT max(cnt) * 1000000 // sum(cnt) FROM cnts)
                AS BIGINT) AS top1_share_micro,
           CAST((SELECT floor(quantile_cont(cnt, 0.5) * 2 + 5e-1)
                 FROM cnts) AS BIGINT) AS p50_x2,
           CAST((SELECT floor(quantile_cont(cnt, 0.9) * 10 + 5e-1)
                 FROM cnts) AS BIGINT) AS p90_x10,
           CAST((SELECT floor(quantile_cont(cnt, 0.99) * 100 + 5e-1)
                 FROM cnts) AS BIGINT) AS p99_x100,
           CAST((SELECT max(brows) * 1000000 // sum(brows) FROM buckets)
                AS BIGINT) AS max_bucket_share_micro
    """,
)
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution profiler — the diagnostic you run BEFORE choosing
    a join/aggregation strategy on a key: cardinality, hottest-key share,
    exact count quantiles (scaled-integer idiom: x2/x10/x100 land on
    mathematical integers, recovered with floor(x + 0.5) because the
    0.9/0.99 interpolation weights are not representable doubles — a
    bare CAST truncates the ulp differently across engines), and the
    max shuffle-partition load share under a 32-bucket hash exchange,
    modeled with the cross-engine 60-bit md5 bucket so the oracle can
    replay it. top1_share_micro >> 1/n_keys or max_bucket_share_micro >>
    1/32 is the quantified trigger for salting / AQE skew-join.

    Scale: two partial-agg'd passes over the fact table (per-key counts,
    per-bucket counts) that Catalyst runs off one scan each; the profile
    aggregates |keys| rows to ONE row. At 100 TB this is the cheap scan
    you pay once to avoid a hot-partition retry storm later; the exact
    quantiles over per-key counts stay exact because they interpolate
    between integers (approx_percentile is the swap if |keys| itself
    explodes)."""
    ev = load_table(spark, sf_dir, "events")
    # One fact-table scan: the bucket profile derives from the per-key
    # counts (bucket is a pure function of the key), and the shared
    # |keys|-row frame is localCheckpointed so the two consumers below
    # don't re-run the scan (self-join subtree-reuse gotcha).
    cnts = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    prof = cnts.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("total_rows"),
        F.max("cnt").cast("long").alias("max_cnt"),
        F.expr("CAST(max(cnt) * 1000000 div sum(cnt) AS BIGINT)").alias(
            "top1_share_micro"
        ),
        F.expr(
            "CAST(floor(percentile(cnt, 0.5) * 2 + 5e-1) AS BIGINT)"
        ).alias("p50_x2"),
        F.expr(
            "CAST(floor(percentile(cnt, 0.9) * 10 + 5e-1) AS BIGINT)"
        ).alias("p90_x10"),
        F.expr(
            "CAST(floor(percentile(cnt, 0.99) * 100 + 5e-1) AS BIGINT)"
        ).alias("p99_x100"),
    )
    buckets = cnts.groupBy(F.expr(_BUCKET_SPARK).alias("bucket")).agg(
        F.sum("cnt").alias("brows")
    )
    bmax = buckets.agg(
        F.expr("CAST(max(brows) * 1000000 div sum(brows) AS BIGINT)").alias(
            "max_bucket_share_micro"
        )
    )
    # 1-row x 1-row summary stitch — broadcast keeps it a BNLJ of two
    # scalars (allowlisted), never a data-sized cartesian
    return prof.crossJoin(F.broadcast(bmax))


# ---------------------------------------------------------------------------
# Embedding per-dimension statistics
# ---------------------------------------------------------------------------


@query(
    "embed_dimension_stats",
    oracle="""
    WITH q AS (
      SELECT u.dim, CAST(floor(CAST(u.val AS DOUBLE) * 10000 + 0.5)
                         AS BIGINT) AS v
      FROM embeddings,
           LATERAL (SELECT unnest(embedding) AS val,
                           generate_subscripts(embedding, 1) AS dim) u
    )
    SELECT CAST(dim - 1 AS INT) AS dim, CAST(count(*) AS BIGINT) AS n,
           CAST(min(v) AS BIGINT) AS min_bp, CAST(max(v) AS BIGINT) AS max_bp,
           CAST(sum(v) // count(*) AS BIGINT) AS mean_bp,
           CAST((count(*) * sum(v * v) - sum(v) * sum(v))
                // (count(*) * (count(*) - 1)) AS BIGINT) AS var_bp2
    FROM q GROUP BY dim
    """,
)
def embed_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance/range over the embedding corpus — the
    whitening/normalization statistics every vector pipeline computes
    before indexing (a dimension with variance 0 is dead weight; widely
    different scales break inner-product search). Floats are quantized
    to exact basis-point integers (floor(x*1e4 + 0.5) — the
    pipeline_ext.py cross-engine quantization idiom) so the sums are
    order-free and the sample variance is an exact integer ratio via
    sufficient statistics (n*S2 - S1^2) / (n*(n-1)).

    Scale: posexplode fans each vector into |dims| rows, then ONE
    partial-agg'd groupBy(dim) collapses them — map-side combine means
    the shuffle carries |dims| x |partitions| rows, not n x |dims|. The
    bp (1e4) scale keeps n * sum(v^2) under 2^63 up to ~10^10 vectors
    per dimension; drop to 1e3 beyond that."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        F.posexplode("embedding").alias("dim", "val")
    ).select(
        "dim",
        F.expr(
            "CAST(floor(CAST(val AS DOUBLE) * 10000 + 0.5) AS BIGINT)"
        ).alias("v"),
    )
    return q.groupBy("dim").agg(
        F.count("*").cast("long").alias("n"),
        F.min("v").alias("min_bp"),
        F.max("v").alias("max_bp"),
        F.expr("CAST(sum(v) div count(*) AS BIGINT)").alias("mean_bp"),
        F.expr(
            "CAST((count(*) * sum(v * v) - sum(v) * sum(v))"
            " div (count(*) * (count(*) - 1)) AS BIGINT)"
        ).alias("var_bp2"),
    ).select(
        F.col("dim").cast("int").alias("dim"),
        "n", "min_bp", "max_bp", "mean_bp", "var_bp2",
    )


# ---------------------------------------------------------------------------
# Neighbor-set Jaccard node similarity
# ---------------------------------------------------------------------------


@query(
    "graph_neighbor_jaccard",
    oracle="""
    WITH e AS (
      SELECT DISTINCT o_custkey AS c, l_partkey AS p
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), deg AS (
      SELECT c, count(*) AS d FROM e GROUP BY c
    ), common AS (
      SELECT a.c AS c1, b.c AS c2, count(*) AS com
      FROM e a JOIN e b ON a.p = b.p AND a.c < b.c
      GROUP BY a.c, b.c
    ), jac AS (
      SELECT c1, c2, com,
             CAST(com * 1000000 // (d1.d + d2.d - com) AS BIGINT)
               AS jac_micro
      FROM common
      JOIN deg d1 ON d1.c = c1
      JOIN deg d2 ON d2.c = c2
    )
    SELECT c1, c2, CAST(com AS BIGINT) AS com, jac_micro
    FROM jac
    ORDER BY jac_micro DESC, c1, c2
    LIMIT 100
    """,
)
def graph_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node similarity by neighbor-set Jaccard on the customer-part
    bipartite graph: |N(u) ∩ N(v)| via wedge enumeration through shared
    parts, |N(u) ∪ N(v)| from degrees (inclusion-exclusion — never
    materialize the union), top-100 pairs under a total order. The
    SimRank-lite primitive behind collaborative filtering and
    account-linking audits.

    Scale: wedge count is sum_p deg(p)^2 — bounded here because part
    degree is naturally capped (~50 co-purchasers); on power-law graphs
    the standard production adjustment is dropping hubs above a degree
    cap (documented, not needed on this corpus: max deg 53). The wedge
    join is an equi-self-join on part — shuffle co-partitioned, AQE
    skew-split eligible — and the degree joins attach a |customers|-row
    table. Top-100 runs as TakeOrderedAndProject (no global sort
    materialization)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # r15: e fed THREE consumers (deg + both wedge sides) and the
    # self-join never reuses the shared subtree (sides are structurally
    # different), so the orders⋈lineitem distinct re-executed 3x —
    # 16 parquet scans / 30 Exchanges in the physical plan. A lazy
    # localCheckpoint computes it once; checkpointed frames carry no
    # stats, so the small-side joins below get explicit broadcast
    # hints instead of relying on AQE (guide §3.1, verify-skill idiom).
    e = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = e.groupBy("c").agg(F.count("*").alias("d"))
    # Size the wedge join's shuffle to the input volume, not the
    # session default: the footer row count is free (no job), and the
    # r13 sf1 audit showed the session's sf-scale partition count is
    # the bottleneck once the wedge stream grows 10x (same lesson as
    # operators/graph.py:triangle_counts' above-gate path).
    from kdcloganalyzer_spark.plans.analytics import _lineitem_num_rows

    li_rows = _lineitem_num_rows(sf_dir)
    if li_rows > 1_500_000:
        # above ~sf0.25 the wedge stream dominates: pre-cluster both
        # sides on p and the pair aggregate on (c1, c2) at a volume-
        # derived width (at bench scales the hints are NOT applied —
        # they would displace AQE's broadcast choice with two explicit
        # exchanges and cost more than they save)
        n_part = min(256, max(32, li_rows // 40_000))
        a = e.repartition(n_part, "p").alias("a")
        b = e.repartition(n_part, "p").alias("b")
        wedge = a.join(
            b,
            (F.col("a.p") == F.col("b.p")) & (F.col("a.c") < F.col("b.c")),
        ).repartition(n_part, F.col("a.c"), F.col("b.c"))
    else:
        # r16: the checkpointed e arrives with the distinct's
        # AQE-coalesced width (5 partitions at sf0.1 — bytes-optimal,
        # compute-starved), and the broadcast wedge probe + partial
        # aggregation inherit it: the id's dominant stage ran on 5 of
        # 32 cores. Round-robin the PROBE side to core count (guide
        # §2.6 idle capacity); measured 3.26 → 1.61 s on the common
        # aggregate. The broadcast side stays as-is (no exchange).
        a = e.repartition(
            spark.sparkContext.defaultParallelism
        ).alias("a")
        b = F.broadcast(e.alias("b"))
        wedge = a.join(
            b,
            (F.col("a.p") == F.col("b.p")) & (F.col("a.c") < F.col("b.c")),
        )
    common = wedge.groupBy(
        F.col("a.c").alias("c1"), F.col("b.c").alias("c2")
    ).agg(F.count("*").alias("com"))
    d1 = deg.select(F.col("c").alias("c1"), F.col("d").alias("dd1"))
    d2 = deg.select(F.col("c").alias("c2"), F.col("d").alias("dd2"))
    if li_rows <= 1_500_000:
        # below the gate the degree table is a few-MB aggregate of the
        # checkpointed e; AQE can still runtime-convert (both sides
        # shuffle), but the hint skips the SMJ sort setup. Above the
        # gate deg is |V|-sized — leave the choice to AQE's runtime
        # stats there.
        d1, d2 = F.broadcast(d1), F.broadcast(d2)
    jac = (
        common.join(d1, "c1")
        .join(d2, "c2")
        .select(
            "c1",
            "c2",
            F.col("com").cast("long").alias("com"),
            F.expr(
                "CAST(com * 1000000 div (dd1 + dd2 - com) AS BIGINT)"
            ).alias("jac_micro"),
        )
    )
    return jac.orderBy(
        F.col("jac_micro").desc(), "c1", "c2"
    ).limit(100)


# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------

# Float constants in EXPONENT notation on both sides: plain decimals
# parse as DECIMAL in Spark SQL (and DuckDB), and mixed decimal/double
# coercion rules differ across engines; 5e-1/3e-1/9e-1/22e-1 are double
# literals everywhere, so the whole score expression evaluates in IEEE
# doubles with identical operation order.
_BM25_TERMS = ("spark", "merge", "window")


def _bm25_term_sql(i: int, n: str, s: str, df: str, tf: str, dl: str) -> str:
    """One term's BM25 contribution, IDENTICAL text for both engines:
    idf = ln(1 + (N - df + 0.5)/(df + 0.5)), k1 = 1.2, b = 0.75."""
    return (
        f"ln(1e0 + ({n} - {df} + 5e-1) / ({df} + 5e-1))"
        f" * ({tf} * 22e-1)"
        f" / ({tf} + 3e-1 + 9e-1 * {dl} * {n} / {s})"
    )


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, len(ws) AS dl,
             len(list_filter(ws, w -> w = 'spark')) AS tf1,
             len(list_filter(ws, w -> w = 'merge')) AS tf2,
             len(list_filter(ws, w -> w = 'window')) AS tf3
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
            FROM documents)
    ), c AS (
      SELECT count(*) AS n, sum(dl) AS s,
             sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
             sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
             sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
      FROM base
    )
    SELECT doc_id,
           round({_bm25_term_sql(1, 'c.n', 'c.s', 'c.df1', 'tf1', 'dl')}
               + {_bm25_term_sql(2, 'c.n', 'c.s', 'c.df2', 'tf2', 'dl')}
               + {_bm25_term_sql(3, 'c.n', 'c.s', 'c.df3', 'tf3', 'dl')},
                 6) AS bm25
    FROM base, c
    WHERE tf1 + tf2 + tf3 > 0
    ORDER BY bm25 DESC, doc_id
    LIMIT 10
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1 = 1.2, b = 0.75) for a 3-term query over
    the document corpus, top-10 under a total order. Per-term
    contributions are summed in a FIXED written order (t1 + t2 + t3) —
    never an aggregate over terms — so the double arithmetic is
    order-identical across engines; ln at 6-decimal rounding is the
    proven text_tfidf idiom, and dl/avgdl is expressed as dl*N/S (ints
    into one double division), not a pre-divided average.

    Scale: corpus stats (N, total length, per-term document
    frequencies) are ONE partial-agg'd pass collapsed to a 1-row
    control scalar collected driver-side (the sanctioned pattern — a
    lazy 1-row join would plan BNLJ); scoring is then a pure codegen
    projection over one scan with TakeOrderedAndProject for the top-k.
    At 100 TB with open vocabularies the df lookup becomes the
    broadcast vocabulary join of text_inverted_index; the 3-term
    literal form here keeps the whole query two scans, zero shuffles
    (the stats scan and the scoring scan)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.expr("size(split(lower(text), ' '))").alias("dl"),
        *[
            F.expr(
                f"size(filter(split(lower(text), ' '), w -> w = '{t}'))"
            ).alias(f"tf{i+1}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    st = base.agg(
        F.count("*").alias("n"),
        F.sum("dl").alias("s"),
        *[
            F.sum(F.when(F.col(f"tf{i+1}") > 0, 1).otherwise(0)).alias(
                f"df{i+1}"
            )
            for i in range(3)
        ],
    ).collect()[0]
    n, s = int(st["n"]), int(st["s"])
    dfs = [int(st[f"df{i+1}"]) for i in range(3)]
    score = " + ".join(
        _bm25_term_sql(i + 1, str(n), str(s), str(dfs[i]), f"tf{i+1}", "dl")
        for i in range(3)
    )
    return (
        base.where(F.col("tf1") + F.col("tf2") + F.col("tf3") > 0)
        .select("doc_id", F.expr(f"round({score}, 6)").alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Banded interval-overlap join (the scale form of join_interval_overlap)
# ---------------------------------------------------------------------------

_BAND_DAYS = 30


@query(
    "join_interval_banded",
    oracle="""
    WITH iv AS (
      SELECT o_orderkey, o_custkey,
             CAST(o_orderdate AS DATE) AS st,
             CAST(o_orderdate AS DATE)
               + CAST(substr(o_orderpriority, 1, 1) AS INT) * 5 AS en
      FROM orders
    )
    SELECT a.o_custkey AS custkey,
           CAST(count(*) AS BIGINT) AS n_concurrent_pairs,
           CAST(max(date_diff('day', greatest(a.st, b.st),
                              least(a.en, b.en))) AS INT)
             AS max_overlap_days,
           CAST(sum(date_diff('day', greatest(a.st, b.st),
                              least(a.en, b.en))) AS BIGINT)
             AS total_overlap_days
    FROM iv a JOIN iv b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
     AND a.st <= b.en AND b.st <= a.en
    GROUP BY a.o_custkey
    """,
)
def join_interval_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BANDED interval-overlap join — the production form that
    join_interval_overlap's docstring names for hot keys: every interval
    explodes into the fixed 30-day time bands it covers, pairs equi-join
    on (custkey, band), and each overlapping pair is counted EXACTLY
    ONCE by keeping only the band that contains the overlap start
    (greatest of the two starts) — the standard dedup-free band-join
    trick (no distinct over pair ids). Output and oracle are IDENTICAL
    to join_interval_overlap: two plans, one truth, both hash-checked
    against the same SQL.

    Scale: this trades join_interval_overlap's per-key residual scan
    for band-local pair work — with B-day bands, a key holding M
    intervals spread over T days compares ~M*(M*B/T) pairs per band
    instead of M^2/2, which is the difference between a hot account
    with millions of long-lived intervals falling over and finishing.
    Band width tunes fan-out (intervals here span <=25 days, so <=2
    bands each) against band population; the explode is a bounded
    generator, the join an AQE-skew-eligible equi-join."""
    iv = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("st"),
            F.expr(
                "date_add(CAST(o_orderdate AS DATE),"
                " CAST(substr(o_orderpriority, 1, 1) AS INT) * 5)"
            ).alias("en"),
        )
    )
    banded = iv.select(
        "*",
        F.explode(
            F.sequence(
                F.expr(f"floor(datediff(st, DATE'1970-01-01') / {_BAND_DAYS})"),
                F.expr(f"floor(datediff(en, DATE'1970-01-01') / {_BAND_DAYS})"),
            )
        ).alias("band"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .where(
            (F.col("a.st") <= F.col("b.en"))
            & (F.col("b.st") <= F.col("a.en"))
            # count the pair only in the band holding the overlap start
            & (
                F.expr(
                    "floor(datediff(greatest(a.st, b.st),"
                    f" DATE'1970-01-01') / {_BAND_DAYS})"
                )
                == F.col("a.band")
            )
        )
        .select(
            F.col("a.o_custkey").alias("custkey"),
            F.datediff(
                F.least(F.col("a.en"), F.col("b.en")),
                F.greatest(F.col("a.st"), F.col("b.st")),
            ).alias("ov_days"),
        )
    )
    return pairs.groupBy("custkey").agg(
        F.count("*").cast("long").alias("n_concurrent_pairs"),
        F.max("ov_days").cast("int").alias("max_overlap_days"),
        F.sum("ov_days").cast("long").alias("total_overlap_days"),
    )


# ---------------------------------------------------------------------------
# Winsorized / trimmed robust aggregation
# ---------------------------------------------------------------------------


@query(
    "agg_winsorized_trimmed",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) * 20 AS v20
      FROM events
    ), b AS (
      SELECT event_type,
             CAST(floor(quantile_cont(v20, 0.05) + 5e-1) AS BIGINT)
               AS lo_x20,
             CAST(floor(quantile_cont(v20, 0.95) + 5e-1) AS BIGINT)
               AS hi_x20,
             count(*) AS n
      FROM v GROUP BY event_type
    )
    SELECT v.event_type, CAST(b.n AS BIGINT) AS n, b.lo_x20, b.hi_x20,
           CAST(sum(least(greatest(v.v20, b.lo_x20), b.hi_x20))
                AS BIGINT) AS winsorized_sum_x20,
           CAST(count(*) FILTER (WHERE v.v20 BETWEEN b.lo_x20 AND b.hi_x20)
                AS BIGINT) AS trimmed_n,
           CAST(sum(v.v20) FILTER (WHERE v.v20 BETWEEN b.lo_x20
                                    AND b.hi_x20) AS BIGINT)
             AS trimmed_sum_x20
    FROM v JOIN b ON v.event_type = b.event_type
    GROUP BY v.event_type, b.n, b.lo_x20, b.hi_x20
    """,
)
def agg_winsorized_trimmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust aggregation: per-group 5%/95% winsorized sum (outliers
    clamped to the exact quantile bounds) and trimmed sum/count
    (outliers dropped) — the standard outlier-resistant reporting pair.
    Values are exact cents x 20 integers: the interpolated p05/p95 of
    integers at 1/20-quantile steps lands on multiples of 1/20, so the
    x20 scaling makes the bounds themselves exact integers — recovered
    with floor(x + 0.5) because the INTERPOLATION WEIGHT k/20 is not a
    representable double, so the computed bound sits within an ulp of
    the true integer and a bare CAST truncates differently across
    engines (measured: 287559 vs 287560 at p95) — and every clamp/sum
    downstream is order-free integer arithmetic.

    Scale: pass 1 computes per-group bounds (percentile over per-group
    values — swap to approx_percentile when a group's cardinality
    explodes, stated here because exact percentile buffers the group);
    pass 2 re-scans with the |groups|-row bounds table broadcast and
    aggregates with map-side combine. Two scans, one tiny broadcast, no
    data-sized shuffle beyond the per-group partials."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT) * 20").alias("v20"),
    )
    b = v.groupBy("event_type").agg(
        F.expr(
            "CAST(floor(percentile(v20, 0.05) + 5e-1) AS BIGINT)"
        ).alias("lo_x20"),
        F.expr(
            "CAST(floor(percentile(v20, 0.95) + 5e-1) AS BIGINT)"
        ).alias("hi_x20"),
        F.count("*").alias("n"),
    )
    j = v.join(F.broadcast(b), "event_type")
    inb = F.col("v20").between(F.col("lo_x20"), F.col("hi_x20"))
    return j.groupBy("event_type", "n", "lo_x20", "hi_x20").agg(
        F.sum(
            F.least(F.greatest("v20", F.col("lo_x20")), F.col("hi_x20"))
        )
        .cast("long")
        .alias("winsorized_sum_x20"),
        F.sum(F.when(inb, 1).otherwise(0)).cast("long").alias("trimmed_n"),
        F.sum(F.when(inb, F.col("v20")).otherwise(0))
        .cast("long")
        .alias("trimmed_sum_x20"),
    ).select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        "lo_x20",
        "hi_x20",
        "winsorized_sum_x20",
        "trimmed_n",
        "trimmed_sum_x20",
    )


# ---------------------------------------------------------------------------
# CDC MERGE apply (row-level upsert semantics)
# ---------------------------------------------------------------------------


@query(
    "cdc_merge_apply",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k, c_name AS name,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
      FROM customer WHERE c_custkey < 800
    ), changes AS (
      SELECT k, 'U' AS op, name, bal_cents + 10000 AS bal_cents
      FROM base WHERE k % 10 = 3
      UNION ALL
      SELECT k, 'D', name, bal_cents FROM base WHERE k % 10 = 7
      UNION ALL
      SELECT k + 1000000, 'I', 'NEW#' || CAST(k AS VARCHAR), 0
      FROM base WHERE k % 10 = 1
    )
    SELECT coalesce(c.k, b.k) AS custkey,
           CASE c.op WHEN 'U' THEN c.name WHEN 'I' THEN c.name
                     ELSE b.name END AS name,
           CAST(CASE c.op WHEN 'U' THEN c.bal_cents WHEN 'I' THEN c.bal_cents
                     ELSE b.bal_cents END AS BIGINT) AS bal_cents,
           CASE WHEN c.op IS NULL THEN 'base'
                WHEN c.op = 'U' THEN 'updated'
                ELSE 'inserted' END AS src
    FROM base b FULL JOIN changes c ON b.k = c.k
    WHERE c.op IS NULL OR c.op <> 'D'
    """,
)
def cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level MERGE (the lakehouse MERGE INTO / CDC-apply semantics,
    which vanilla parquet tables lack): a deterministic change batch —
    updates (+100.00 for keys ending in 3), deletes (keys ending in 7),
    inserts (cloned keys+1e6 for keys ending in 1) — applied to the
    base snapshot through ONE full outer join: matched+U → updated
    row, matched+D → dropped, unmatched change → insert, unmatched
    base → carried through. Money stays integer cents end-to-end.

    Complements cdc_snapshot_diff (which DERIVES the change set between
    two versions); this APPLIES one. sink_partition_overwrite_upsert is
    the partition-granularity rewrite; this is the row-granularity
    merge a Delta/Iceberg writer performs before rewriting files.

    Scale: MERGE is exactly one equi-shuffle (or broadcast, when the
    change batch is small — the common CDC case, and what AQE picks
    here) full outer join plus a projection; at 100 TB the production
    concern is write amplification, solved by partition/file pruning on
    the join key ranges before rewriting (scan_manifest_pruned's
    min/max file-skipping story composes with this operator)."""
    base = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 800)
        .select(
            F.col("c_custkey").alias("k"),
            F.col("c_name").alias("name"),
            F.expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").alias(
                "bal_cents"
            ),
        )
    )
    # r15: the U/D/I branches are DISJOINT on k % 10, so the 3-way
    # union (three re-executions of the base slice) is one filtered
    # CASE pass; base itself feeds the merge's left side too, so the
    # tiny (<800-row) slice is checkpointed once.
    base = base.localCheckpoint()
    m10 = F.col("k") % 10
    changes = base.where(m10.isin(3, 7, 1)).select(
        F.when(m10 == 1, F.col("k") + 1000000)
        .otherwise(F.col("k"))
        .alias("k"),
        F.when(m10 == 3, "U").when(m10 == 7, "D").otherwise("I").alias(
            "op"
        ),
        F.when(
            m10 == 1, F.concat(F.lit("NEW#"), F.col("k").cast("string"))
        )
        .otherwise(F.col("name"))
        .alias("name"),
        F.when(m10 == 3, F.col("bal_cents") + 10000)
        .when(m10 == 7, F.col("bal_cents"))
        .otherwise(F.lit(0).cast("long"))
        .alias("bal_cents"),
    )
    b = base.alias("b")
    c = changes.alias("c")
    merged = (
        b.join(c, F.col("b.k") == F.col("c.k"), "full_outer")
        .where(F.col("c.op").isNull() | (F.col("c.op") != "D"))
        .select(
            F.coalesce(F.col("c.k"), F.col("b.k")).alias("custkey"),
            F.when(F.col("c.op").isin("U", "I"), F.col("c.name"))
            .otherwise(F.col("b.name"))
            .alias("name"),
            F.when(F.col("c.op").isin("U", "I"), F.col("c.bal_cents"))
            .otherwise(F.col("b.bal_cents"))
            .cast("long")
            .alias("bal_cents"),
            F.when(F.col("c.op").isNull(), "base")
            .when(F.col("c.op") == "U", "updated")
            .otherwise("inserted")
            .alias("src"),
        )
    )
    return merged
