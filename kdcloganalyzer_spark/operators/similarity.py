"""Similarity search over embeddings (SURVEY.md §2.3 `sim_search_cosine`).

Two paths:
- exact brute-force top-k: broadcast the (small) query set against the
  corpus, cosine in whole-stage codegen, per-query top-k via window — the
  correctness baseline, O(|Q|·N).
- LSH-bucketed (random signed projections): each vector hashed to a
  bucket by the sign pattern of dot products with fixed seeded
  hyperplanes; candidates = bucket collisions under multiple tables;
  exact cosine re-ranking on candidates only. At 100 TB the bucket join
  replaces the N·|Q| scan with |collisions| work — the standard
  approximate path. Hyperplanes are literal constants (seeded numpy), so
  the whole plan stays deterministic and JVM-side.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kdcloganalyzer_spark.operators.dedup import _dot, spread, with_unit_vector


def topk_cosine_exact(
    emb: DataFrame, n_queries: int = 5, k: int = 10
) -> DataFrame:
    """For each query vector (vec_id < n_queries): top-k neighbors by cosine.

    Vectors L2-normalize once pre-join (scan-side, O(N·dim)), so each of
    the O(|Q|·N) scored pairs is a single dot product. Deterministic
    under near-ties: ranking key is (rounded cosine desc, vec_id asc).
    """
    unit = with_unit_vector(
        spread(emb).select("vec_id", "embedding"), "embedding"
    ).drop("embedding")
    queries = unit.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("unit").alias("q_unit")
    )
    corpus = unit.select("vec_id", "unit")
    joined = corpus.crossJoin(F.broadcast(queries)).filter(
        F.col("vec_id") != F.col("q_id")
    )
    cos = F.round(_dot(F.col("q_unit"), F.col("unit")), 6)
    scored = joined.select("q_id", "vec_id", cos.alias("cos"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "cos", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def _literal_matrix(rows: list[list[float]]):
    """A constant array<array<double>> column built as ONE parsed SQL
    expression. Building it element-wise (``F.array(F.lit(x) ...)``) costs
    one py4j round-trip per element — ~2.5 s of DRIVER time per query for
    a 32×64 plane matrix, dwarfing the actual execution (measured; the
    cluster sits idle while the driver assembles the plan). Exponent
    notation keeps every literal DoubleType (plain decimals parse as
    DECIMAL in Spark SQL)."""
    inner = ",".join(
        "array(" + ",".join(f"{float(x):.6e}" for x in row) + ")"
        for row in rows
    )
    return F.expr(f"array({inner})")


def _literal_matrix_exact(rows: list[list[float]]):
    """Like :func:`_literal_matrix` but FULL double precision (.17e
    round-trips every IEEE double exactly). Needed when the same values
    must also be derived from table data on the oracle side (the IVF
    centers): a .6e-truncated Spark literal would differ from DuckDB's
    full-precision float32→double widening and flip near-tie argmins."""
    inner = ",".join(
        "array(" + ",".join(f"{float(x):.17e}" for x in row) + ")"
        for row in rows
    )
    return F.expr(f"array({inner})")


def _literal_vector_exact(row: list[float]):
    """Single constant array<double> at full precision (one parsed
    expression — see _literal_matrix for the py4j rationale)."""
    return F.expr(
        "array(" + ",".join(f"{float(x):.17e}" for x in row) + ")"
    )


def _sqdist_to_literal(col, center: list[float]):
    """Squared Euclidean distance from an array<float> column to a
    full-precision literal center — the element-order-sequential fold
    both engines replay identically."""
    return F.aggregate(
        F.zip_with(
            col,
            _literal_vector_exact(center),
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sign_bits_expr(unit_col, planes: list[list[float]]):
    """All signed-projection bits in ONE transform over a literal plane
    matrix: bit j = sign(<v, plane_j>). A fold per plane per vector, but a
    single compact expression — per-plane expression chains codegen into
    pathologically large methods (same lesson as SimHash's fold)."""
    mat = _literal_matrix(planes)
    return F.transform(
        mat,
        lambda p: F.when(
            F.aggregate(
                F.zip_with(unit_col, p, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )


def _pack_bucket(bits_col, start: int, n_planes: int):
    """bits[start : start+n_planes] → integer bucket id."""
    powers = F.array(*[F.lit(1 << i) for i in range(n_planes)])
    return F.aggregate(
        F.zip_with(
            F.slice(bits_col, start + 1, n_planes), powers, lambda b, p: b * p
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def _cell_dist_exprs(n_cells: int, centers: list[list[float]]):
    """(dists, ranked_cells): squared-Euclidean distances to every centroid
    in one fold over a literal center matrix, and cell indices sorted by
    that distance. Full-precision literals: the oracle derives the same
    centers from the embeddings table."""
    mat = _literal_matrix_exact(centers)
    dists = F.transform(
        mat,
        lambda c: F.aggregate(
            F.zip_with(
                F.col("embedding"),
                c,
                # explicit multiply, not **2: keeps the expression
                # textually aligned with the oracle's (a-b)*(a-b)
                lambda x, y: (x.cast("double") - y)
                * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    ranked = F.expr(
        f"transform(array_sort(transform(sequence(0, {n_cells - 1}), "
        "i -> struct(dists[i] AS d, i AS idx))), s -> s.idx)"
    )
    return dists, ranked


#: Lloyd quantization scale: embeddings are quantized to round(x * 2^20)
#: BIGINT micro-units before centroid accumulation, so the per-cell sums
#: are EXACT integers (order-free across engines) and each centroid
#: coordinate is one correctly-rounded double division s/(n*2^20) — the
#: repo's integer-micro-units idiom applied to KMeans itself.
_LLOYD_SCALE = 1 << 20


def build_ivf_index(
    emb: DataFrame, n_cells: int = 16, lloyd_rounds: int = 4
) -> tuple[DataFrame, list[list[float]]]:
    """One-time IVF index build: deterministic farthest-point seeding +
    exact-integer Lloyd refinement + per-vector cell assignment. A real
    deployment builds this once, persists it, and amortizes it over
    every query — callers should cache/persist the returned DataFrame
    (plans/llm_pipeline.py does).

    Seeding (VERDICT r8 item 9): deterministic FARTHEST-POINT traversal
    (Gonzalez 1985, the 2-approximation to k-center) — center 0 is the
    vector whose (md5(vec_id), vec_id) ranks first, and each subsequent
    center is the vector maximizing the min squared distance to the
    centers so far, ties to the smallest vec_id — followed by
    ``lloyd_rounds`` of EXACT-INTEGER Lloyd refinement: embeddings
    quantize to round(x·2^20) BIGINT micro-units, per-cell per-dim sums
    are exact integers (summation-ORDER-FREE, unlike float means), and
    each refined centroid coordinate is the single correctly-rounded
    double division s/(n·2^20). This replaces the earlier
    KMeans(seed=42) fit whose random init + float mean accumulation
    existed only Spark-side: every step here — folds, least() chains,
    id tie-breaks, integer sums, one division — is replayed
    bit-identically by DuckDB (ivf_oracle_sql), so the cell assignment
    and the IVF search on top are hash-verifiable, moving
    sim_search_ivf from rows-only to a green row. Clustering quality:
    max-min seeding alone measured mean recall@10 0.46-0.52 on this
    corpus; integer Lloyd recovers most but not quite all of the
    KMeans(seed=42) level (0.70-0.74 vs 0.82-0.86 at the old
    n_probe=8 serving) — the composed IVFPQ floor >= 0.7 holds with
    margin because serving probes 10 cells and re-ranks 150
    (measured 0.92 at sf0.001).

    Scale: seeding is n_cells TakeOrdered(1) passes over the corpus
    with a localCheckpointed running min-distance column (lineage
    O(1)); each Lloyd round is one argmin fold + one partial-agg'd
    (cell, dim) integer-sum shuffle of n_cells x dim rows; assignment
    is one codegen fold per row over the literal centroid matrix — no
    Python in any hot path. At 100 TB the build runs on a
    deterministic sample exactly like any k-means build."""
    unit = with_unit_vector(spread(emb).select("vec_id", "embedding"), "embedding")
    base = unit.select("vec_id", "embedding").localCheckpoint(eager=False)
    first = (
        base.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(1)
        .collect()[0]
    )
    centers = [[float(x) for x in first["embedding"]]]
    cur = base.withColumn(
        "dmin", _sqdist_to_literal(F.col("embedding"), centers[0])
    ).localCheckpoint()
    for _ in range(1, n_cells):
        far = cur.orderBy(F.desc("dmin"), "vec_id").limit(1).collect()[0]
        centers.append([float(x) for x in far["embedding"]])
        cur = cur.withColumn(
            "dmin",
            F.least(
                F.col("dmin"),
                _sqdist_to_literal(F.col("embedding"), centers[-1]),
            ),
        ).localCheckpoint()
    dim = len(centers[0])
    quant = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * _LLOYD_SCALE).cast("long"),
    )
    for _ in range(lloyd_rounds):
        dists, ranked = _cell_dist_exprs(n_cells, centers)
        sums = (
            base.withColumn("dists", dists)
            .withColumn("cell", F.element_at(ranked, 1))
            .select("cell", F.posexplode(quant).alias("pos", "q"))
            .groupBy("cell", "pos")
            .agg(F.sum("q").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        moved = {}
        for r in sums:
            moved.setdefault(r["cell"], [None] * dim)[r["pos"]] = int(
                r["s"]
            ) / (int(r["n"]) * _LLOYD_SCALE)
        # empty cells (a duplicate seed lost its own point to a
        # lower-index twin) keep their previous center — mirrored by
        # the oracle's coalesce.
        centers = [moved.get(i, centers[i]) for i in range(n_cells)]
    dists, ranked = _cell_dist_exprs(n_cells, centers)
    assigned = (
        unit.withColumn("dists", dists)
        .withColumn("cell", F.element_at(ranked, 1))
        .drop("dists")
    )
    return assigned, centers


def topk_cosine_ivf(
    assigned: DataFrame,
    centers: list[list[float]],
    n_queries: int = 5,
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k over a built index: each
    query probes its n_probe nearest cells; exact cosine re-ranks only
    those candidates — the per-query scan shrinks by ~n_probe/n_cells.
    The candidate join is a broadcast equi-join on cell id."""
    n_cells = len(centers)
    dists, ranked = _cell_dist_exprs(n_cells, centers)
    probes = (
        assigned.filter(F.col("vec_id") < n_queries)
        .withColumn("dists", dists)
        .withColumn("probe", F.explode(F.slice(ranked, 1, n_probe)))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("unit").alias("q_unit"),
            F.col("probe").alias("cell"),
        )
    )
    cand = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .dropDuplicates(["q_id", "vec_id"])
    )
    cos = F.round(_dot(F.col("q_unit"), F.col("unit")), 6)
    scored = cand.select("q_id", "vec_id", cos.alias("cos"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "cos", "rank")
    )


def topk_cosine_lsh(
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates from n_tables signed-projection bucket
    joins, exact cosine re-rank on candidates.

    ``multiprobe=True`` is MULTI-PROBE LSH (Lv et al., VLDB 2007): each
    query also probes the buckets one bit-flip away from its own
    (n_planes + 1 probes per table), so fewer tables (a smaller
    corpus-side index) reach the same recall while the cheap,
    query-side probe count grows. The expansion happens only on the
    |Q|-sized query side before the broadcast, so the bucket equi-join
    shape is unchanged. Deterministic either way: seeded literal planes,
    order-identical float folds."""
    tables = [
        _hyperplanes(dim, n_planes, seed=100 + t) for t in range(n_tables)
    ]
    all_planes = [row for t in tables for row in t]
    unit = with_unit_vector(spread(emb).select("vec_id", "embedding"), "embedding")
    with_bits = unit.select(
        "vec_id", "unit", _sign_bits_expr(F.col("unit"), all_planes).alias("bits")
    )
    bucketed = with_bits.select(
        "vec_id",
        "unit",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("table"),
                        _pack_bucket(
                            F.col("bits"), t * n_planes, n_planes
                        ).alias("bucket"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", "unit", "tb.table", "tb.bucket")
    bucket = F.col("bucket")
    if multiprobe:
        # Query-side probe expansion: own bucket + every single-bit flip.
        flips = [
            F.expr(f"bucket ^ {1 << j}").cast("long") for j in range(n_planes)
        ]
        bucket = F.explode(F.array(bucket, *flips)).alias("bucket")
    q = bucketed.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("unit").alias("q_unit"),
        "table",
        bucket,
    )
    cand = (
        bucketed.join(F.broadcast(q), ["table", "bucket"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "q_unit", "vec_id", "unit")
        .dropDuplicates(["q_id", "vec_id"])
    )
    cos = F.round(_dot(F.col("q_unit"), F.col("unit")), 6)
    scored = cand.select("q_id", "vec_id", cos.alias("cos"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "cos", "rank")
    )


def build_pq_index(
    emb: DataFrame,
    n_sub: int = 8,
    n_codes: int = 32,
    dim: int = 64,
    seed: int = 42,
) -> tuple[DataFrame, list[list[float]]]:
    """Product-quantization index with a SHARED codebook: one KMeans over
    the pooled subvectors (all n_sub slices of every unit vector), then
    each vector is encoded as n_sub small codes = nearest codeword per
    slice. Memory per vector drops from dim doubles to n_sub bytes —
    the property that lets a 100 TB embedding corpus fit an in-memory
    ANN serving tier. (Classic PQ trains one codebook per slice
    position; the shared-codebook variant trades a little recall for an
    n_sub-times-smaller training problem and identical query mechanics.)

    Returns (encoded corpus with `codes array<int>` + the original
    `unit` vector for re-ranking, codebook as n_codes×sub_dim lists).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    sub_dim = dim // n_sub
    unit = with_unit_vector(
        spread(emb).select("vec_id", "embedding"), "embedding"
    ).drop("embedding")
    subs = unit.select(
        F.explode(
            F.array(
                *[
                    F.slice("unit", j * sub_dim + 1, sub_dim)
                    for j in range(n_sub)
                ]
            )
        ).alias("sub")
    )
    model = KMeans(k=n_codes, seed=seed, maxIter=8).fit(
        subs.withColumn("features", array_to_vector("sub"))
    )
    codebook = [c.tolist() for c in model.clusterCenters()]

    # encode: per slice, argmin over codewords of squared distance —
    # one fold over a literal codebook matrix, all codegen.
    mat = _literal_matrix(codebook)

    def nearest_code(sub_col):
        dists = F.transform(
            mat,
            lambda c: F.aggregate(
                F.zip_with(sub_col, c, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        best = F.array_min(dists)
        return F.array_position(dists, best) - 1

    encoded = unit.select(
        "vec_id",
        "unit",
        F.array(
            *[
                nearest_code(F.slice("unit", j * sub_dim + 1, sub_dim)).cast(
                    "int"
                )
                for j in range(n_sub)
            ]
        ).alias("codes"),
    )
    return encoded, codebook


def build_ivfpq_index(
    emb: DataFrame,
    n_cells: int = 16,
    n_sub: int = 8,
    n_codes: int = 32,
    dim: int = 64,
    seed: int = 42,
) -> tuple[DataFrame, list[list[float]], list[list[float]]]:
    """Composed IVF+PQ index — the production ANN layout (FAISS IVFPQ):
    coarse KMeans cells bound WHICH vectors each query scores, PQ codes
    bound WHAT each score costs. Build joins the two single-index builds
    on vec_id (once, at index time); serving reads one table carrying
    (vec_id, cell, codes, unit)."""
    assigned, centers = build_ivf_index(emb, n_cells)
    encoded, codebook = build_pq_index(emb, n_sub, n_codes, dim, seed)
    # Lean serving layout: (vec_id, cell, codes, unit). The raw embedding
    # is NOT stored per corpus row — only queries need it (for probe-cell
    # selection in the quantizer's raw training space), and they fetch it
    # from the source table; duplicating it here would double the
    # persisted index's vector memory, the exact cost PQ exists to avoid.
    corpus = assigned.select("vec_id", "cell", "unit").join(
        encoded.select("vec_id", "codes"), "vec_id"
    )
    return corpus, centers, codebook


def topk_cosine_ivfpq(
    corpus: DataFrame,
    centers: list[list[float]],
    codebook: list[list[float]],
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    n_probe: int = 10,
    n_rerank: int = 150,
    n_sub: int = 8,
) -> DataFrame:
    """IVFPQ serving: per query, (1) nearest n_probe cells chosen on the
    DRIVER against the tiny centroid table — in RAW embedding space, the
    space the coarse quantizer was trained and assigned in (``emb`` is
    the source table the query vectors are fetched from), (2) the probe
    list and the per-query ADC lookup table broadcast as one small
    frame, (3) a cell equi-join bounds candidates, ADC lookups score
    them, and the top n_rerank get the exact-cosine re-rank. Per-query
    work: |probed cells|·O(n_sub) lookups — both axes of the brute-force
    cost (candidates × per-pair arithmetic) cut independently."""
    spark = corpus.sparkSession
    sub_dim = len(codebook[0])
    q_rows = (
        emb.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    cb = np.array(codebook)
    C = np.array(centers)
    rows = []
    for r in q_rows:
        q_raw = np.array(r.embedding, dtype=np.float64)
        # unit copy for the ADC LUT (approximate scoring only — the
        # exact re-rank uses the corpus's Spark-computed unit vectors)
        q = q_raw / np.linalg.norm(q_raw)
        lut = [
            (cb @ q[j * sub_dim : (j + 1) * sub_dim]).round(9).tolist()
            for j in range(n_sub)
        ]
        probe_cells = np.argsort(
            ((C - q_raw) ** 2).sum(axis=1), kind="stable"
        )[:n_probe]
        for cell in probe_cells:
            rows.append((r.vec_id, q.tolist(), lut, int(cell)))
    qdf = spark.createDataFrame(
        rows,
        "q_id bigint, q_unit array<double>, lut array<array<double>>, "
        "cell int",
    )
    adc = F.expr(
        f"aggregate(sequence(0, {n_sub - 1}), 0D, "
        "(acc, j) -> acc + lut[j][codes[j]])"
    )
    cand = (
        corpus.join(F.broadcast(qdf), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "q_unit", "vec_id", "unit", adc.alias("adc"))
    )
    w_adc = Window.partitionBy("q_id").orderBy(F.desc("adc"), F.asc("vec_id"))
    short = cand.withColumn("arank", F.row_number().over(w_adc)).filter(
        F.col("arank") <= n_rerank
    )
    cos = F.round(_dot(F.col("q_unit"), F.col("unit")), 6)
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        short.select("q_id", "vec_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "cos", "rank")
    )


def topk_cosine_pq(
    encoded: DataFrame,
    codebook: list[list[float]],
    n_queries: int = 5,
    k: int = 10,
    n_rerank: int = 100,
    n_sub: int = 8,
) -> DataFrame:
    """ADC (asymmetric distance computation) top-k over a PQ index:
    each query precomputes a lookup table LUT[j][c] = <q_slice_j,
    codeword_c> (n_sub × n_codes dot products, done ONCE per query on
    the driver — the whole point of PQ), so scoring a corpus vector is
    n_sub table lookups instead of a dim-length dot product. The top
    n_rerank ADC candidates are re-ranked with the exact cosine, top-k
    emitted.

    Scale: the per-pair cost is O(n_sub) lookups against a broadcast
    LUT; the corpus side streams through one codegen projection — no
    shuffle until the per-query top-k window on n_rerank survivors."""
    spark = encoded.sparkSession
    sub_dim = len(codebook[0])
    q_rows = (
        encoded.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "unit")
        .collect()
    )
    cb = np.array(codebook)  # n_codes × sub_dim
    luts = []
    for r in q_rows:
        q = np.array(r.unit)
        lut = [
            (cb @ q[j * sub_dim : (j + 1) * sub_dim]).round(9).tolist()
            for j in range(n_sub)
        ]
        luts.append((r.vec_id, r.unit, lut))
    qdf = spark.createDataFrame(
        luts, "q_id bigint, q_unit array<double>, lut array<array<double>>"
    )
    adc = F.expr(
        f"aggregate(sequence(0, {n_sub - 1}), 0D, "
        "(acc, j) -> acc + lut[j][codes[j]])"
    )
    cand = (
        encoded.crossJoin(F.broadcast(qdf))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "q_unit", "vec_id", "unit", adc.alias("adc"))
    )
    w_adc = Window.partitionBy("q_id").orderBy(
        F.desc("adc"), F.asc("vec_id")
    )
    short = cand.withColumn("arank", F.row_number().over(w_adc)).filter(
        F.col("arank") <= n_rerank
    )
    cos = F.round(_dot(F.col("q_unit"), F.col("unit")), 6)
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        short.select("q_id", "vec_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "cos", "rank")
    )


_DUCK_DOT = "list_sum(list_transform(list_zip({a}, {b}), s -> s[1] * s[2]))"


def ivf_build_ctes(
    n_cells: int = 16, dim: int = 64, lloyd_rounds: int = 4
) -> str:
    """The WITH-clause body (``e`` … ``assign``) that rebuilds the
    Gonzalez-seeded, integer-Lloyd-refined IVF quantizer in DuckDB —
    shared by the IVF search oracle (ivf_oracle_sql) and the KMeans
    clustering-report oracle (plans/round11_ops.py): the farthest-point
    traversal unrolled into n_cells chained MATERIALIZED CTEs, then
    lloyd_rounds of exact-integer centroid refinement, the final
    ``centers`` table, per-vector distances (``dist``) and the argmin
    cell ``assign``ment. Every fold/tie-break replays Spark's
    build_ivf_index bit-identically (see that docstring)."""
    dist = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " s -> (s[1] - s[2]) * (s[1] - s[2])))"
    )
    gonzalez = [
        """
    s0 AS MATERIALIZED (
      SELECT v FROM e
      QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                 vec_id) = 1
    ),
    d0 AS MATERIALIZED (
      SELECT e.vec_id, e.v, {d} AS dmin
      FROM e CROSS JOIN s0 s
    )""".format(d=dist.format(a="e.v", b="s.v"))
    ]
    for i in range(1, n_cells):
        step = """
    s{i} AS MATERIALIZED (
      SELECT v FROM d{p}
      QUALIFY row_number() OVER (ORDER BY dmin DESC, vec_id) = 1
    )""".format(i=i, p=i - 1)
        if i < n_cells - 1:
            step += """,
    d{i} AS MATERIALIZED (
      SELECT d.vec_id, d.v, least(d.dmin, {d}) AS dmin
      FROM d{p} d CROSS JOIN s{i} s
    )""".format(i=i, p=i - 1, d=dist.format(a="d.v", b="s.v"))
        gonzalez.append(step)
    centers_union = " UNION ALL ".join(
        f"SELECT {i} AS cell, v AS c FROM s{i}" for i in range(n_cells)
    )
    scale = _LLOYD_SCALE
    lloyd = []
    for r in range(lloyd_rounds):
        lloyd.append(
            f"""
    a{r} AS MATERIALIZED (
      SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, e.v, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {dist.format(a="e.v", b="c.c")}, c.cell) AS rn
        FROM e CROSS JOIN centers{r} c
      ) WHERE rn = 1
    ),
    m{r} AS MATERIALIZED (
      SELECT cell, pos, CAST(sum(q) AS BIGINT) AS s, count(*) AS n FROM (
        SELECT cell, unnest(generate_series(1, {dim})) AS pos,
               unnest(list_transform(v,
                 x -> CAST(round(x * {scale}) AS BIGINT))) AS q
        FROM a{r}
      ) GROUP BY cell, pos
    ),
    centers{r + 1} AS MATERIALIZED (
      SELECT c.cell, coalesce(mm.c2, c.c) AS c
      FROM centers{r} c LEFT JOIN (
        SELECT cell, list(CAST(s AS DOUBLE) / (n * {scale})
                          ORDER BY pos) AS c2
        FROM m{r} GROUP BY cell
      ) mm ON mm.cell = c.cell
    )"""
        )
    return f"""
    e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    unit AS (
      SELECT vec_id,
             list_transform(v, x -> x /
               sqrt(list_sum(list_transform(v, y -> y*y)))) AS u
      FROM e
    ),{",".join(gonzalez)},
    centers0 AS MATERIALIZED (
      {centers_union}
    ),{",".join(lloyd)},
    centers AS (
      SELECT cell, c FROM centers{lloyd_rounds}
    ),
    dist AS (
      SELECT e.vec_id, ce.cell,
             {dist.format(a="e.v", b="ce.c")} AS d
      FROM e CROSS JOIN centers ce
    ),
    assign AS (
      SELECT vec_id, cell FROM dist
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d, cell) = 1
    )"""


def ivf_oracle_sql(
    n_queries: int = 5,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    lloyd_rounds: int = 4,
) -> str:
    """DuckDB twin of the Gonzalez-seeded IVF search (build_ivf_index +
    topk_cosine_ivf). Unlike the LSH twin there are NO literals to
    share: the centroids are derived from the embeddings table itself —
    the farthest-point traversal is unrolled into n_cells chained CTEs
    (seed = (md5(vec_id), vec_id)-ranked first vector; each next center
    maximizes the least()-chained running min squared distance, ties to
    the smallest vec_id — exactly the folds Spark runs), so the oracle
    rebuilds centers, replays the argmin cell assignment, probes the
    n_probe nearest cells per query, and exactly re-ranks — the
    approximate INDEX is hash-checked end-to-end, not a recall bound."""
    return f"""
    WITH {ivf_build_ctes(n_cells, dim, lloyd_rounds)},
    probes AS (
      SELECT vec_id AS q_id, cell FROM dist WHERE vec_id < {n_queries}
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d, cell) <= {n_probe}
    ),
    cand AS (
      SELECT DISTINCT p.q_id, a.vec_id
      FROM probes p JOIN assign a ON a.cell = p.cell
      WHERE a.vec_id <> p.q_id
    ),
    scored AS (
      SELECT c.q_id, c.vec_id,
             round({_DUCK_DOT.format(a="qu.u", b="bu.u")}, 6) AS cos
      FROM cand c
      JOIN unit qu ON qu.vec_id = c.q_id
      JOIN unit bu ON bu.vec_id = c.vec_id
    )
    SELECT q_id, vec_id, cos, CAST(rank AS INT) AS rank FROM (
      SELECT q_id, vec_id, cos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def lsh_oracle_sql(
    n_queries: int = 5,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
) -> str:
    """DuckDB twin of ``topk_cosine_lsh``, generated from the SAME seeded
    plane literals. Unlike the MinHash/SimHash family (engine-internal
    xxhash64), signed-projection LSH is a pure function of the data and
    a literal matrix, so the approximate index is exactly reproducible:
    unit-normalize (sequential float fold, matching Spark's aggregate
    order), sign-bit per plane, pack 8 bits per table, bucket-equi-join
    the 5 query vectors, exact cosine re-rank. Every float reduction is
    element-order-identical across engines, so the bits — and therefore
    the candidate sets — match exactly, not just approximately."""
    tables = [
        _hyperplanes(dim, n_planes, seed=100 + t) for t in range(n_tables)
    ]
    rows = []
    for t, tb in enumerate(tables):
        for j, p in enumerate(tb):
            lst = "[" + ",".join(f"{float(x):.6e}" for x in p) + "]"
            rows.append(f"({t}, {j}, {lst}::DOUBLE[])")
    planes_values = ",\n".join(rows)
    return f"""
    WITH planes(tbl, idx, p) AS (VALUES {planes_values}),
    e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    unit AS (
      SELECT vec_id,
             list_transform(v, x -> x /
               sqrt(list_sum(list_transform(v, y -> y*y)))) AS u
      FROM e
    ),
    bits AS (
      SELECT vec_id, tbl, idx,
             CASE WHEN {_DUCK_DOT.format(a="u", b="p")} >= 0
                  THEN 1 ELSE 0 END AS bit
      FROM unit CROSS JOIN planes
    ),
    buckets AS (
      SELECT vec_id, tbl, CAST(sum(bit * power(2, idx)) AS BIGINT) AS bucket
      FROM bits GROUP BY vec_id, tbl
    ),
    q AS (SELECT vec_id AS q_id, tbl, bucket FROM buckets
          WHERE vec_id < {n_queries}),
    cand AS (
      SELECT DISTINCT q.q_id, b.vec_id
      FROM buckets b JOIN q ON b.tbl = q.tbl AND b.bucket = q.bucket
      WHERE b.vec_id <> q.q_id
    ),
    scored AS (
      SELECT c.q_id, c.vec_id,
             round({_DUCK_DOT.format(a="qu.u", b="bu.u")}, 6) AS cos
      FROM cand c
      JOIN unit qu ON qu.vec_id = c.q_id
      JOIN unit bu ON bu.vec_id = c.vec_id
    )
    SELECT q_id, vec_id, cos, rank FROM (
      SELECT q_id, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY cos DESC, vec_id) AS INT)
               AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def lsh_eval_oracle_sql(n_queries: int = 5, k: int = 10) -> str:
    """DuckDB twin of the LSH recall@k evaluation: exact brute-force
    top-k (the sim_search_cosine construction) FULL-joined against the
    LSH top-k (lsh_oracle_sql) on (q_id, vec_id), aggregated to per-query
    hit counts and recall@k. Both inputs are deterministic exact
    functions of the data, so the index-quality measurement itself is
    hash-verifiable — the ANN sibling of dedup_minhash_eval."""
    exact = f"""
      WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
                 FROM embeddings WHERE vec_id < {n_queries}),
           scored AS (
        SELECT q.q_id, e.vec_id,
               round(list_cosine_similarity(q.q_emb, e.embedding::DOUBLE[]),
                     6) AS cos
        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id
      )
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, vec_id) AS rank
        FROM scored
      ) WHERE rank <= {k}
    """
    return f"""
    WITH x AS ({exact}),
         l AS (SELECT q_id, vec_id FROM ({lsh_oracle_sql(n_queries, k)})),
         j AS (
           SELECT coalesce(x.q_id, l.q_id) AS q_id,
                  (x.vec_id IS NOT NULL) AS in_exact,
                  (l.vec_id IS NOT NULL) AS in_lsh
           FROM x FULL JOIN l ON x.q_id = l.q_id AND x.vec_id = l.vec_id
         )
    SELECT q_id,
           count(*) FILTER (in_exact) AS n_exact,
           count(*) FILTER (in_lsh) AS n_lsh,
           count(*) FILTER (in_exact AND in_lsh) AS n_both,
           round(count(*) FILTER (in_exact AND in_lsh)::DOUBLE / {k}, 6)
             AS recall_at_k
    FROM j GROUP BY q_id
    """


def range_cosine_exact(
    emb: DataFrame, n_queries: int = 5, tau: float = 0.25
) -> DataFrame:
    """RADIUS (range) retrieval: every corpus vector with cosine ≥ tau
    of each query — the other retrieval mode (top-k answers "best k",
    range answers "all sufficiently similar": dedup thresholds, policy
    filters, near-duplicate sweeps). Same normalized-dot scoring and
    determinism contract as topk_cosine_exact; per query also emits the
    match count so empty-radius queries are visible.

    Scale: identical broadcast shape to the exact top-k (queries
    broadcast over the corpus scan, no corpus shuffle) — but unlike
    top-k the result size is data-dependent, so the production form
    bounds it (LIMIT per query or an IVF cell prefilter as in
    sim_search_ivf); the threshold pushes into the scan as a plain
    filter, which is why range queries compose with ANN indexes better
    than top-k does."""
    unit = with_unit_vector(
        spread(emb).select("vec_id", "embedding"), "embedding"
    ).drop("embedding")
    queries = unit.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("unit").alias("q_unit")
    )
    corpus = unit.select("vec_id", "unit")
    joined = corpus.crossJoin(F.broadcast(queries)).filter(
        F.col("vec_id") != F.col("q_id")
    )
    cos = F.round(_dot(F.col("q_unit"), F.col("unit")), 6)
    hits = joined.select("q_id", "vec_id", cos.alias("cos")).filter(
        F.col("cos") >= tau
    )
    # r15: the per-query match count as an aggregate + join-back
    # re-executed the whole corpus scoring pass (the hits side carries
    # no exchange for ReusedExchange to deduplicate). A count over the
    # q_id window scores once and pays one post-threshold exchange on
    # |queries| keys.
    return hits.select(
        "q_id",
        "vec_id",
        "cos",
        F.count("*")
        .over(Window.partitionBy("q_id"))
        .cast("int")
        .alias("n_hits"),
    )


def lsh_multiprobe_oracle_sql(
    n_queries: int = 5,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 2,
    dim: int = 64,
) -> str:
    """DuckDB twin of multi-probe ``topk_cosine_lsh`` — the lsh_oracle_sql
    construction with the query buckets expanded by single-bit XOR
    probes (generate_series over plane indexes)."""
    tables = [
        _hyperplanes(dim, n_planes, seed=100 + t) for t in range(n_tables)
    ]
    rows = []
    for t, tb in enumerate(tables):
        for j, p in enumerate(tb):
            lst = "[" + ",".join(f"{float(x):.6e}" for x in p) + "]"
            rows.append(f"({t}, {j}, {lst}::DOUBLE[])")
    planes_values = ",\n".join(rows)
    return f"""
    WITH planes(tbl, idx, p) AS (VALUES {planes_values}),
    e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    unit AS (
      SELECT vec_id,
             list_transform(v, x -> x /
               sqrt(list_sum(list_transform(v, y -> y*y)))) AS u
      FROM e
    ),
    bits AS (
      SELECT vec_id, tbl, idx,
             CASE WHEN {_DUCK_DOT.format(a="u", b="p")} >= 0
                  THEN 1 ELSE 0 END AS bit
      FROM unit CROSS JOIN planes
    ),
    buckets AS (
      SELECT vec_id, tbl, CAST(sum(bit * power(2, idx)) AS BIGINT) AS bucket
      FROM bits GROUP BY vec_id, tbl
    ),
    q0 AS (SELECT vec_id AS q_id, tbl, bucket FROM buckets
           WHERE vec_id < {n_queries}),
    q AS (
      SELECT q_id, tbl, bucket FROM q0
      UNION
      SELECT q0.q_id, q0.tbl,
             xor(q0.bucket, CAST(power(2, f.j) AS BIGINT)) AS bucket
      FROM q0, (SELECT unnest(generate_series(0, {n_planes - 1})) AS j) f
    ),
    cand AS (
      SELECT DISTINCT q.q_id, b.vec_id
      FROM buckets b JOIN q ON b.tbl = q.tbl AND b.bucket = q.bucket
      WHERE b.vec_id <> q.q_id
    ),
    scored AS (
      SELECT c.q_id, c.vec_id,
             round({_DUCK_DOT.format(a="qu.u", b="bu.u")}, 6) AS cos
      FROM cand c
      JOIN unit qu ON qu.vec_id = c.q_id
      JOIN unit bu ON bu.vec_id = c.vec_id
    )
    SELECT q_id, vec_id, cos, rank FROM (
      SELECT q_id, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY cos DESC, vec_id) AS INT)
               AS rank
      FROM scored
    ) WHERE rank <= {k}
    """
