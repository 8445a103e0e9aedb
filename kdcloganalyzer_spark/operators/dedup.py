"""Deduplication operators (SURVEY.md §2.3): exact, n-gram Jaccard
(all-pairs / prefix-join / df-ordered), asymmetric containment,
MinHash-LSH, SimHash, embedding-cosine (blocked / pivot-pruned),
SemDeDup, connected components.

Design per scale tier — everything is JVM-side codegen; no Python UDFs:
- exact: hash groupBy on the dedup key — one shuffle, minimal state.
- n-gram Jaccard / containment: prefix-filtered inverted-index joins
  (SSJoin/AllPairs), lossless for any fixed token order; the blocked
  all-pairs forms stay as small-N cross-checks. Shared tokenized
  word-set prep (_prep_word_sets), checkpointed so pair joins never
  re-tokenize.
- MinHash LSH: banded signatures via seeded xxhash64 higher-order folds
  (array_min + transform — whole-stage codegen, no ml.linalg); the
  _md5_word_hash family is the cross-engine twin whose signatures a
  DuckDB oracle reproduces bit-for-bit.
- SimHash: one single-fold signature expression (64-bit xxhash64 or
  60-bit md5 variant) + band equi-join + xor/bit_count verify.
- embedding cosine: normalized-once unit vectors, pairwise dot in
  codegen (zip_with/aggregate), double math to match the DuckDB
  oracle; the pivot-pruned front end bounds the join by
  triangle-inequality cell admissibility; semdedup_dropped bounds pair
  work to within KMeans cells.
- connected components: frontier-only min-label propagation with
  edge-sized loop shuffles and Observation-based convergence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MOD = 1_000_000_007


def spread(df: DataFrame) -> DataFrame:
    """Repartition to the session's default parallelism before expensive
    per-row or per-pair work.

    A small table read from a single parquet file (one row group) arrives
    as ONE scan partition, so everything downstream — signature folds,
    blocked self-join pair verification — runs on one core no matter how
    many the cluster has; row-group granularity means no file-split
    setting can fix it at the scan. The explicit round-robin exchange
    costs one tiny shuffle of N input rows and buys full parallelism on
    the O(N·k)/O(pairs) work that follows.

    Guarded: an input that already carries >= defaultParallelism
    partitions (the many-splits reality on a real cluster) passes through
    untouched — an unconditional repartition(defaultParallelism) there
    would SHRINK a wide scan down to the session constant and throttle
    every downstream stage. The guard is a partition-COUNT proxy, not a
    row-distribution check: a single huge file with one row group can
    plan as many byte-range splits that are all empty but one, and the
    guard waves it through — callers facing that layout should
    repartition explicitly (detecting it requires an action)."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism)


def exact_dedup(docs: DataFrame, key: str = "text") -> DataFrame:
    """Exact dedup: one surviving doc_id per distinct key (lowest wins)."""
    return docs.groupBy(key).agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n")
    ).select(F.md5(F.col(key)).alias("text_md5"), "keep_id", "n")


def word_set(col):
    return F.array_distinct(F.split(F.lower(col), " "))


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact word-set (1-gram) Jaccard pairs within (lang, source) blocks.

    The join carries a LOSSLESS size-ratio prefilter: J(A,B) ≥ t implies
    |A∩B| ≥ t·|A∪B|, and |A∩B| ≤ min(|A|,|B|), |A∪B| ≥ max(|A|,|B|), so
    min ≥ t·max is necessary. Sizes are computed once per doc pre-join;
    the cheap integer predicate runs before the O(|A|+|B|)
    ``array_intersect``, so most candidate pairs never pay for the
    intersection — the standard length-filter from set-similarity-join
    literature, and the gap widens with the threshold."""
    d = spread(docs).select(
        "doc_id", "lang", "source", word_set(F.col("text")).alias("words")
    ).withColumn("nw", F.size("words"))
    a = d.alias("a")
    b = d.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (
            F.least(F.col("a.nw"), F.col("b.nw"))
            >= F.lit(threshold) * F.greatest(F.col("a.nw"), F.col("b.nw"))
        ),
    )
    inter = F.size(F.array_intersect(F.col("a.words"), F.col("b.words")))
    union = F.col("a.nw") + F.col("b.nw") - inter
    jac = F.round(inter / union, 6)
    return pairs.select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        jac.alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs_prefix(
    docs: DataFrame,
    threshold: float = 0.5,
    prepped: DataFrame | None = None,
) -> DataFrame:
    """Exact word-set Jaccard pairs via PREFIX-FILTERED candidate join —
    the scale-safe front end whose output is PROVABLY IDENTICAL to the
    blocked all-pairs form (``ngram_jaccard_pairs``), which stays as the
    small-N oracle cross-check.

    The prefix filter (Chaudhuri/Ganti/Kaushik SSJoin, ICDE'06; Bayardo/
    Ma/Srikant "Scaling Up All Pairs Similarity Search", WWW'07): fix any
    global total order on tokens; J(A,B) ≥ t implies |A∩B| ≥ ⌈t·|A|⌉, so
    if the first ``|A| − ⌈t·|A|⌉ + 1`` tokens of A (in that order) miss B
    entirely, the overlap bound is violated. Hence any qualifying pair
    shares ≥1 PREFIX token, and an equi-join on exploded prefix tokens is
    a LOSSLESS candidate generator. Our order is (xxhash64(token), token)
    — deterministic and needs no document-frequency pass (df-ascending
    order would shrink candidates further at the cost of one extra
    aggregation over the corpus; at 100 TB that trade usually pays, and
    slots in here as a join against a broadcast df table).

    Scale shape: explode O(N·(1−t)·|words|) prefix tokens; one equi-join
    on (block, token) whose fan-out is Σ per-token posting-list² — the
    inverted-index join from the literature, NOT an N² block self-join;
    a distinct on surviving id pairs; two narrow joins to fetch word sets
    for exact verification. Hot tokens are AQE-split like any skewed join
    key — demonstrated, not assumed: tests/test_prefix_join_skew.py plants
    a 30%-of-corpus boilerplate block and pins ``SortMergeJoin(skew=true)``
    + ``AQEShuffleRead skewed`` in the executed plan with unchanged pair
    output. The size-ratio prefilter (min ≥ t·max) prunes before
    candidates materialize."""
    d = _prep_word_sets(docs) if prepped is None else prepped
    return _verify_jaccard(
        _prefix_candidates(_hash_prefix_index(d, threshold), threshold),
        d,
        threshold,
    )


def _prep_word_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, source, words, nw) with empty docs dropped, spread
    for fan-out, and checkpointed so self-/pair-joins don't re-tokenize."""
    return (
        spread(docs)
        .select(
            "doc_id", "lang", "source", word_set(F.col("text")).alias("words")
        )
        .withColumn("nw", F.size("words"))
        .filter(F.col("nw") > 0)
        .localCheckpoint(eager=False)
    )


def _hash_ordered_tokens():
    """words reordered by the (xxhash64(token), token) global total order —
    the deterministic, df-pass-free order the prefix filter indexes on."""
    return F.transform(
        F.array_sort(
            F.transform(
                "words",
                lambda w: F.struct(F.xxhash64(w).alias("h"), w.alias("w")),
            )
        ),
        lambda s: s["w"],
    )


def _hash_prefix_index(d: DataFrame, threshold: float) -> DataFrame:
    """Posexplode each doc's hash-ordered prefix tokens → inverted index
    with 1-based global position (a prefix slice starts at element 1, so
    prefix positions ARE positions in the full sorted token array) — the
    input the positional filter in ``_prefix_candidates`` needs."""
    return d.select(
        "doc_id",
        "lang",
        "source",
        "nw",
        F.posexplode(
            F.slice(_hash_ordered_tokens(), F.lit(1), _prefix_len(threshold))
        ).alias("_p0", "tok"),
    ).select(
        "doc_id", "lang", "source", "nw", "tok",
        (F.col("_p0") + 1).alias("pos"),
    )


def _prefix_len(threshold: float):
    """|A| − ⌈t·|A|⌉ + 1 over the ``nw`` column, epsilon-guarded: ceil over
    FLOAT t·nw can land one integer too high when the double representation
    of t sits just above the rational value (e.g. 0.7), which would SHORTEN
    the prefix and silently drop minimum-overlap pairs."""
    return (
        F.col("nw")
        - F.ceil(F.lit(threshold) * F.col("nw") - F.lit(1e-9))
        + F.lit(1)
    ).cast("int")


def _prefix_candidates(
    idx: DataFrame, threshold: float, probe: DataFrame | None = None
) -> DataFrame:
    """Equi-join on exploded prefix tokens within (lang, source) blocks,
    with the size-ratio prefilter; distinct surviving id pairs.

    Symmetric form (probe=None): self-join with id_a < id_b to emit each
    unordered pair once. Asymmetric form (R⋈S SSJoin): ``idx`` is the
    delta side, ``probe`` the base side, ids assumed disjoint.

    POSITIONAL filter (PPJoin, Xiao/Wang/Lin/Yu WWW'08 §3.2): when A's
    token at global position p_a matches B's at p_b, the tokens BEFORE
    the pair's minimal common token contribute nothing (a common token
    below it in the order would itself be a smaller common prefix token),
    so at that row the true overlap is bounded by the shorter remaining
    suffix: O ≤ 1 + min(|A|−p_a, |B|−p_b). J ≥ t forces
    O ≥ t·(|A|+|B|)/(1+t); rows violating the bound are dropped BEFORE
    the dedup shuffle and verify joins. Lossless per pair: the minimal
    common token's row always satisfies the bound when the pair
    qualifies, so dropDuplicates still sees every qualifying pair.
    Epsilon-guarded like ``_prefix_len`` (never tighten the exact
    rational bound from float error)."""
    a = idx.alias("a")
    b = (idx if probe is None else probe).alias("b")
    overlap_ub = F.lit(1) + F.least(
        F.col("a.nw") - F.col("a.pos"), F.col("b.nw") - F.col("b.pos")
    )
    required = (
        F.lit(threshold) * (F.col("a.nw") + F.col("b.nw"))
        / F.lit(1.0 + threshold)
    )
    cond = (
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.source") == F.col("b.source"))
        & (F.col("a.tok") == F.col("b.tok"))
        & (
            F.least(F.col("a.nw"), F.col("b.nw"))
            >= F.lit(threshold) * F.greatest(F.col("a.nw"), F.col("b.nw"))
        )
        & (overlap_ub >= required - F.lit(1e-9))
    )
    if probe is None:
        cond = cond & (F.col("a.doc_id") < F.col("b.doc_id"))
    sc = idx.sparkSession.sparkContext
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
        # AQE rightly coalesces the tiny id-pair dedup shuffle to ~1
        # partition (bytes-optimal), but every downstream row then pays
        # heavy per-pair work (broadcast-join probe + array_intersect
        # over full word arrays) on ONE core. Explicit ROUND-ROBIN
        # repartition to the session's core count restores parallelism
        # for a few MB of extra exchange. Round-robin, not hash-by-key:
        # a hash repartition identical to the aggregate's existing
        # hashpartitioning(id_a,id_b,N) is elided by the optimizer and
        # the surviving ENSURE_REQUIREMENTS exchange re-coalesces to 1
        # (verified in plans/r16). Retry-determinism is covered by
        # sortBeforeRepartition (on 16-byte id pairs, negligible). At
        # cluster scale the verify joins re-exchange anyway (SMJ on
        # id_a/id_b), so this never caps a genuinely wide plan.
        .repartition(sc.defaultParallelism)
    )


def _verify_jaccard(
    cand: DataFrame, d: DataFrame, threshold: float
) -> DataFrame:
    """Fetch word sets for candidate pairs and verify exact Jaccard."""
    wa = d.select(
        F.col("doc_id").alias("id_a"),
        F.col("words").alias("words_a"),
        F.col("nw").alias("nw_a"),
    )
    wb = d.select(
        F.col("doc_id").alias("id_b"),
        F.col("words").alias("words_b"),
        F.col("nw").alias("nw_b"),
    )
    ver = cand.join(wa, "id_a").join(wb, "id_b")
    inter = F.size(F.array_intersect("words_a", "words_b"))
    union = F.col("nw_a") + F.col("nw_b") - inter
    jac = F.round(inter / union, 6)
    return ver.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def ngram_jaccard_pairs_prefix_dford(
    docs: DataFrame,
    threshold: float = 0.5,
    dfreq: DataFrame | None = None,
    prepped: DataFrame | None = None,
) -> DataFrame:
    """Prefix-filtered Jaccard pairs with DOCUMENT-FREQUENCY-ASCENDING
    token order — the Bayardo/Ma/Srikant refinement over the hash order
    of ``ngram_jaccard_pairs_prefix``. Still lossless (the prefix-filter
    theorem holds for ANY fixed total order), so output is identical;
    what changes is candidate volume: with tokens ordered rarest-first,
    every doc's indexed prefix holds its RAREST tokens, so posting lists
    driving the equi-join are the shortest ones — at 100 TB this is the
    difference between joining on stopword lists and joining on near-
    unique shingles.

    Cost of the better order: one extra aggregation over exploded tokens
    (document frequency) and a broadcast of the vocabulary df table onto
    the token stream, plus a per-doc row_number window to take the prefix
    (shuffle on doc_id). When the vocabulary outgrows broadcast range,
    the df join becomes a shuffle join on token — still linear. The
    small-N all-pairs form remains the oracle cross-check
    (tests/test_dedup_frontends.py)."""
    from pyspark.sql import Window

    d = _prep_word_sets(docs) if prepped is None else prepped
    toks = d.select(
        "doc_id", "lang", "source", "nw", F.explode("words").alias("tok")
    )
    if dfreq is None:
        # words are distinct per doc, so count(*) per token IS document
        # freq. Callers with a standing vocabulary table (the 100 TB
        # reality — df stats are maintained per corpus snapshot, not
        # recomputed per query) pass it via ``dfreq``.
        dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    idx = (
        toks.join(F.broadcast(dfreq), "tok")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _prefix_len(threshold))
        # _rn IS the token's 1-based global position under the (df, tok)
        # order — feeds the positional filter in _prefix_candidates.
        .select(
            "doc_id", "lang", "source", "nw", "tok",
            F.col("_rn").alias("pos"),
        )
    )
    return _verify_jaccard(_prefix_candidates(idx, threshold), d, threshold)


def jaccard_join_delta_base(
    delta: DataFrame, base: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """INCREMENTAL near-dup join: which DELTA docs duplicate a BASE doc
    (exact word-set Jaccard ≥ t) — the ingestion-time shape, where a
    day's new data dedups against the standing corpus without the
    corpus×corpus self-join ever being re-run.

    Same prefix-filter theorem as ``ngram_jaccard_pairs_prefix`` (a
    qualifying pair shares a token in BOTH prefixes under any fixed
    global order — the R⋈S SSJoin of Chaudhuri/Ganti/Kaushik ICDE'06 §4),
    so the candidate generator is lossless; only the join is asymmetric:
    prefix-indexed delta ⋈ prefix-indexed base on (lang, source, token)
    with the size-ratio prefilter. At 100 TB the base-side index is the
    PERSISTED artifact (built once, appended per ingest); the per-batch
    cost is |delta| prefix explode + posting-list join, independent of
    |base| beyond the matched lists. Shares prep/index/candidate helpers
    with the symmetric form — one construction to keep correct."""
    d_delta, d_base = _prep_word_sets(delta), _prep_word_sets(base)
    cand = _prefix_candidates(
        _hash_prefix_index(d_delta, threshold),
        threshold,
        probe=_hash_prefix_index(d_base, threshold),
    )
    # ids are disjoint across delta/base, so one unioned word-set table
    # serves both verification joins.
    return _verify_jaccard(cand, d_delta.unionByName(d_base), threshold)


def build_pivot_index(
    emb: DataFrame, n_cells: int = 16
) -> tuple[DataFrame, list[list[float]], dict[int, float]]:
    """Threshold-INDEPENDENT part of the pivot-pruned cosine join:
    (assigned unit vectors with cell + pivot distance, centroids,
    per-cell max radius). Build once per corpus snapshot and share
    across thresholds/queries — only the admissibility matrix (a
    driver-side k² loop) depends on the threshold."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from kdcloganalyzer_spark.operators.similarity import _cell_dist_exprs

    unit = with_unit_vector(
        spread(emb).select("vec_id", "label", "embedding"), "embedding"
    ).drop("embedding")
    feat = unit.withColumn("features", array_to_vector("unit"))
    model = KMeans(k=n_cells, seed=42, maxIter=8).fit(feat)
    centers = [c.tolist() for c in model.clusterCenters()]
    dists, _ranked = _cell_dist_exprs(n_cells, centers)
    # _cell_dist_exprs folds over the raw `embedding` column; here the
    # unit vector IS the feature space, so alias it in.
    assigned = (
        unit.withColumn("embedding", F.col("unit"))
        .withColumn("dists", dists)
        .withColumn("cell", F.expr(
            "transform(array_sort(transform(sequence(0, "
            f"{n_cells - 1}), i -> struct(dists[i] AS d, i AS idx))), "
            "s -> s.idx)[0]"
        ))
        .withColumn("pdist", F.sqrt(F.array_min("dists")))
        .drop("embedding", "dists")
        .localCheckpoint(eager=False)
    )
    radii_rows = (
        assigned.groupBy("cell").agg(F.max("pdist").alias("r")).collect()
    )
    radii = {int(r["cell"]): float(r["r"]) for r in radii_rows}
    return assigned, centers, radii


def embedding_cosine_pairs_pivot(
    emb: DataFrame,
    threshold: float = 0.35,
    n_cells: int = 16,
    index: tuple[DataFrame, list[list[float]], dict[int, float]]
    | None = None,
) -> DataFrame:
    """Exact embedding-cosine pairs via PIVOT-PRUNED candidate join — the
    scale-safe front end whose output is IDENTICAL to the label-blocked
    all-pairs form (``embedding_cosine_pairs``, kept as the small-N
    oracle cross-check), because the pruning is a triangle-inequality
    bound, not a probabilistic LSH.

    On unit vectors cos(a,b) ≥ t ⟺ ‖a−b‖ ≤ R = √(2−2t). Assign every
    vector to its nearest KMeans pivot; per cell record the radius
    r_i = max ‖v − p_i‖. For a in cell i and b in cell j the reverse
    triangle inequality gives ‖a−b‖ ≥ d(p_i,p_j) − r_i − r_j, so a cell
    PAIR with d(p_i,p_j) > R + r_i + r_j cannot contain any qualifying
    pair and is pruned on the DRIVER over k² cell pairs (k=16 → 256
    distance checks on the collected centroid/radius table — bounded,
    data-independent). Survivor cell pairs drive an equi-join on
    (cell_a, cell_b); exact cosine verifies each candidate. Lossless for
    ANY clustering — pivot quality affects only prune rate, never
    correctness (same contract as a ball-tree/cover-tree join).

    Scale shape: one KMeans pass (sample-fit at 100 TB), one codegen
    assignment projection, a tiny driver-side admissibility matrix, and
    a join whose fan-out is Σ admissible |cell_i|·|cell_j| — the
    distributed exact-similarity-join layout; threshold↔data geometry
    decides the prune rate (tight clusters at high t prune nearly
    everything; a low t on isotropic data degrades gracefully toward
    blocked all-pairs)."""
    import numpy as np

    radius = float(np.sqrt(max(0.0, 2.0 - 2.0 * threshold)))
    if index is None:
        index = build_pivot_index(emb, n_cells)
    assigned, centers, radii = index
    C = np.array(centers)
    admissible = []
    for i in radii:
        for j in radii:
            d_ij = float(np.linalg.norm(C[i] - C[j]))
            if d_ij <= radius + radii[i] + radii[j]:
                admissible.append((i, j))
    adm = F.broadcast(
        emb.sparkSession.createDataFrame(
            admissible, "cell_a int, cell_b int"
        )
    )
    a = assigned.select(
        F.col("vec_id").alias("id_a"),
        F.col("label").alias("label_a"),
        F.col("unit").alias("unit_a"),
        F.col("cell").alias("cell_a"),
    )
    b = assigned.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("label_b"),
        F.col("unit").alias("unit_b"),
        F.col("cell").alias("cell_b"),
    )
    # Both (i,j) and (j,i) orientations sit in `admissible`, so every
    # qualifying unordered pair survives regardless of which cell holds
    # the lower vec_id; the id_a < id_b filter then emits it exactly once.
    pairs = a.join(adm, "cell_a").join(b, "cell_b")
    cos = F.round(_dot(F.col("unit_a"), F.col("unit_b")), 6)
    return (
        pairs.filter(
            (F.col("label_a") == F.col("label_b"))
            & (F.col("id_a") < F.col("id_b"))
        )
        .select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def _seeded_word_hash(seed: int):
    """One-arg lambda factory for ``F.transform``.

    MUST be a factory: a direct ``lambda w, s=s: ...`` default-arg capture
    makes PySpark see a two-parameter lambda and bind ``s`` to the array
    INDEX Column, whose stringified fresh-variable name (``Column<'y_2'>``)
    then leaks into the hash seed — seeds become session-counter-dependent
    and signatures nondeterministic across plan constructions."""
    suffix = f"#{seed}"
    return lambda w: F.xxhash64(F.concat(w, F.lit(suffix)))


def _md5_word_hash(seed: int):
    """Cross-engine-reproducible 60-bit seeded word hash: the first 15
    hex chars of md5(word || '#seed') as a bigint. Slower than xxhash64
    (a full MD5 per word×seed) but bit-identical in DuckDB
    (``('0x'||substr(md5(w||'#s'),1,15))::BIGINT``), which lets the
    oracle reproduce MinHash SIGNATURES — not just bounds. Same factory
    contract as _seeded_word_hash (see its lambda-arity warning)."""
    suffix = f"#{seed}"
    return lambda w: F.conv(
        F.substring(F.md5(F.concat(w, F.lit(suffix))), 1, 15), 16, 10
    ).cast("bigint")


def _minhash_signature(
    d: DataFrame, k: int, word_hash=_seeded_word_hash
) -> DataFrame:
    """(doc_id, sig array<bigint>[k]): sig[s] = min over words of
    hash(word, seed=s) — k independent permutation approximations, all
    in whole-stage codegen (word_hash picks the family: xxhash64 for
    speed, _md5_word_hash for cross-engine reproducibility)."""
    return d.select(
        "doc_id",
        F.array(
            *[
                F.array_min(F.transform("words", word_hash(s)))
                for s in range(k)
            ]
        ).alias("sig"),
    )


def minhash_lsh_pairs(
    docs: DataFrame | None,
    threshold: float = 0.9,
    n_bands: int = 4,
    rows_per_band: int = 8,
    sig: DataFrame | None = None,
    word_hash=_seeded_word_hash,
    string_band_key: bool = False,
    probe_min_id: int | None = None,
) -> DataFrame:
    """Near-dup pairs via banded MinHash LSH, entirely JVM-side.

    Signature: n_bands*rows_per_band min-hashes per doc, each
    ``min(xxhash64(word || seed))`` over the distinct word set (array_min +
    transform — whole-stage codegen, no ml.linalg, no Python). Banding
    AND-amplifies within a band (all r hashes equal) and OR-amplifies
    across bands: P(candidate) = 1-(1-J^r)^b — r=8,b=4 puts the S-curve
    knee at J≈0.85. Candidate pairs are then scored by signature
    agreement (fraction of equal min-hashes — the unbiased Jaccard
    estimator), so verification touches 32 longs per pair, never the word
    sets; exact re-verification of survivors is a cheap follow-up join at
    real scale.

    Scale: the only shuffles are the band-key self-join (candidates, not
    all pairs) and the pair dedup; skewed bands (boilerplate docs) are
    AQE-split. (pyspark.ml's MinHashLSH.approxSimilarityJoin joins on
    single-hash collisions — OR-amplification only — which degenerates to
    ~N² on corpora with shared vocabulary; the banded form is the
    standard web-dedup construction.)
    """
    k = n_bands * rows_per_band
    if sig is None:
        if docs is None:
            raise ValueError("pass docs or a prebuilt sig, not neither")
        d = spread(docs).select(
            "doc_id", word_set(F.col("text")).alias("words")
        ).filter(F.size("words") > 0)
        # The self-join's sides are structurally different (one becomes a
        # broadcast/build, the other the probe), so Spark cannot reuse the
        # exchange and would evaluate the k-fold signature scan TWICE.
        # localCheckpoint materializes it once; at real scale the same
        # role is played by writing the signature table before the join
        # stage — callers that HAVE such a table pass it via ``sig``
        # (and pass docs=None: the doc slice and word hash then live
        # SOLELY in the sig builder, so they cannot silently desync).
        sig = _minhash_signature(d, k, word_hash).localCheckpoint(
            eager=False
        )

    def band_key(b: int):
        cols = [
            F.col("sig")[b * rows_per_band + r]
            for r in range(rows_per_band)
        ]
        if string_band_key:
            # Literal r-tuple as the key — 8·r bytes/band instead of 8,
            # but reproducible verbatim in the DuckDB twin (xxhash64
            # exists only Spark-side).
            return F.concat_ws(",", *[c.cast("string") for c in cols])
        return F.xxhash64(*cols)

    bands = sig.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_key(b).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "sig", "bk.band", "bk.key")
    # Incremental (delta-vs-base) probe: when the corpus grows by an
    # ingest batch whose ids all EXCEED the standing corpus's (the
    # id-midpoint split used by the *_incremental queries), every pair
    # the batch adds has its LARGER member in the delta — so probing
    # delta bands against the full band index (a.doc_id < b.doc_id
    # keeps the index side smaller) enumerates exactly the pairs the
    # batch introduces, at per-batch cost O(delta bands), never
    # re-joining base×base.
    probe = (
        bands
        if probe_min_id is None
        else bands.where(F.col("doc_id") > probe_min_id)
    )
    a, b = bands.alias("a"), probe.alias("b")
    est = F.round(
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(float(k)),
        6,
    )
    # Score and threshold BEFORE the pair-dedup shuffle: est is a pure
    # function of (sig_a, sig_b), identical for every band copy of a pair,
    # so filtering first is lossless — and the distinct exchange then
    # carries only surviving (id_a, id_b, est) triples (24 bytes) instead
    # of two k-long signatures per candidate (~8k bytes).
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .select("id_a", "id_b", est.alias("jaccard_est"))
        .filter(F.col("jaccard_est") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_dedup(
    docs: DataFrame | None,
    threshold: float = 0.9,
    n_bands: int = 4,
    rows_per_band: int = 8,
    sig: DataFrame | None = None,
    word_hash=_seeded_word_hash,
    string_band_key: bool = False,
) -> DataFrame:
    """Scalable MinHash dedup: per-doc duplicate-representative assignment.

    Instead of enumerating near-dup PAIRS (inherently quadratic in output
    when duplicate clusters are large — the web-crawl norm), each LSH band
    bucket elects its min-doc_id representative and every other member is
    scored against that representative by signature agreement. Output is
    ≤ |docs| rows: (doc_id, dup_of, jaccard_est) for docs judged
    duplicates. One explode + one window shuffle on (band, key) + one
    groupBy(doc_id) — all O(N · bands), no self-join anywhere. (Full
    transitive clusters would add an iterative connected-components pass
    over these star edges; representatives here are per-bucket, which is
    the standard first-pass dedup decision.)

    ``word_hash`` / ``string_band_key`` mirror minhash_lsh_pairs: the
    xxhash64 family is the production default; the md5 family plus
    literal band-tuple keys makes the whole representative assignment
    reproducible in a DuckDB twin (the hash-verified configuration).
    """
    from pyspark.sql import Window

    k = n_bands * rows_per_band
    if sig is None:
        if docs is None:
            raise ValueError("pass docs or a prebuilt sig, not neither")
        d = spread(docs).select(
            "doc_id", word_set(F.col("text")).alias("words")
        ).filter(F.size("words") > 0)
        sig = _minhash_signature(d, k, word_hash)

    def band_key(b: int):
        cols = [
            F.col("sig")[b * rows_per_band + r]
            for r in range(rows_per_band)
        ]
        if string_band_key:
            return F.concat_ws(",", *[c.cast("string") for c in cols])
        return F.xxhash64(*cols)

    bands = sig.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_key(b).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "sig", "bk.band", "bk.key")
    w = Window.partitionBy("band", "key")
    scored = bands.select(
        "doc_id",
        "sig",
        F.min("doc_id").over(w).alias("rep_id"),
        F.min_by("sig", "doc_id").over(w).alias("rep_sig"),
    ).filter(F.col("doc_id") != F.col("rep_id"))
    est = F.round(
        F.size(
            F.filter(
                F.zip_with("sig", "rep_sig", lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(float(k)),
        6,
    )
    return (
        scored.select("doc_id", "rep_id", est.alias("est"))
        .filter(F.col("est") >= threshold)
        .groupBy("doc_id")
        .agg(
            F.min("rep_id").alias("dup_of"),
            F.max("est").alias("jaccard_est"),
        )
    )


# 64-bit SimHash over the lowercased word split, entirely JVM-side and in
# ONE fold: words hash once (xxhash64); the fold carries an array of 64
# (+1/-1) bit counters; a final zip_with packs positive counters into the
# signature long. (64 separate per-bit folds codegen into a pathologically
# large expression and fall back to interpreted eval — the single-fold
# array accumulator is ~40× smaller and stays in codegen.)
_SIMHASH_SQL = """
aggregate(
  zip_with(
    aggregate(
      transform(split(lower(text), ' '), w -> xxhash64(w)),
      transform(sequence(0, 63), x -> 0),
      (acc, h) -> zip_with(acc, sequence(0, 63),
                           (a, i) -> a + IF(((h >> i) & 1) = 1, 1, -1))
    ),
    sequence(0, 63),
    (c, i) -> IF(c > 0, shiftleft(1L, i), 0L)
  ),
  0L, (s, x) -> s + x
)
"""


# 60-bit md5 variant of the same single-fold construction: the word hash
# is the cross-engine-reproducible 60-bit md5 int (_md5_word_hash's
# expression without a seed), so a DuckDB twin can rebuild the SIGNATURE
# bit-for-bit with group-bys over (doc, bit) — the verification surface
# for the SimHash family, like dedup_minhash_pairs_md5 for MinHash.
_SIMHASH_MD5_SQL = """
aggregate(
  zip_with(
    aggregate(
      transform(split(lower(text), ' '),
                w -> CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT)),
      transform(sequence(0, 59), x -> 0),
      (acc, h) -> zip_with(acc, sequence(0, 59),
                           (a, i) -> a + IF(((h >> i) & 1) = 1, 1, -1))
    ),
    sequence(0, 59),
    (c, i) -> IF(c > 0, shiftleft(1L, i), 0L)
  ),
  0L, (s, x) -> s + x
)
"""


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    sig_sql: str = _SIMHASH_SQL,
    n_bits: int = 64,
) -> DataFrame:
    """SimHash near-dup pairs: banded candidate join + Hamming verification.

    Signature, candidate generation (explode 4 × (n_bits/4)-bit bands,
    equi-join) and Hamming distance (xor + bit_count) are all JVM-side —
    the whole operator is two codegen projections plus one equi-join at
    scale. By Pigeonhole, hamming ≤ 3 < 4 bands forces ≥1 identical
    band, so banding is lossless for the threshold.
    """
    bw = n_bits // 4
    sigs = spread(docs).select("doc_id", F.expr(sig_sql).alias("simhash"))
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("simhash", bw * i)
                        .bitwiseAND(F.lit((1 << bw) - 1))
                        .alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    vertex_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Min-label-propagation connected components over near-dup edges.

    The iterative algorithm the dedup pipeline needs after candidate
    generation: each vertex's component = min vertex id reachable through
    near-dup edges. Each iteration is one equi-join + groupBy (labels ⋈
    symmetric edges → min neighbor label), converging in O(diameter)
    rounds — near-dup graphs are star-heavy, so this is a handful of
    rounds in practice. Three loop optimizations:

    - the loop runs ONLY over edge-incident vertices (isolated vertices —
      the overwhelming majority of a deduped corpus — are their own
      component by definition and join back in one final pass);
    - the loop's shuffles are sized to the EDGE count, not the session's
      shuffle-partition setting: an iterative algorithm on a shrinking
      frontier pays per-round task-scheduling overhead proportional to
      partition count, which dwarfs the work when rounds carry a few
      thousand rows (measured 3× on the bench corpus); at real scale the
      same formula lands back on wide plans. Unlike pagerank/BFS/LP
      (lazy-fused or broadcast-shaped rounds — their session-conf
      overrides were removed, VERDICT r8 item 5), THIS loop's rounds
      are eager shuffle-joins with 5+ implicit exchanges each, and the
      per-plan alternative (explicit repartition hints on every join
      input) ADDS exchanges: measured r9 A/B under identical load,
      scoped override 2.8 s vs repartition-shaped 3.6-4.3 s at sf0.1 —
      so the override stays, tightly scoped around the eager rounds and
      restored in a finally (the known cost: it is visible to
      concurrent queries on the session for the loop's duration);
    - convergence is detected by an Observation riding the SAME pass that
      materializes the new labels (the eager localCheckpoint, which also
      truncates the growing lineage) — no separate changed-rows
      join/count per round.
    """
    from pyspark.sql import Observation

    sess = vertices.sparkSession
    sym = (
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionAll(
            edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .localCheckpoint()
    )
    n_sym = sym.count()  # free: already materialized by the checkpoint
    parallelism = sess.sparkContext.defaultParallelism
    loop_parts = max(2, min(parallelism, n_sym // 500_000 + 1))
    if sym.rdd.getNumPartitions() > loop_parts:
        # the edge frame arrives verify-wide (candidate pairs are
        # repartitioned to core count for the per-pair verify); every
        # loop round scans sym, so narrow-coalesce it once to the
        # edge-count-adaptive loop width — no shuffle, no re-checkpoint,
        # rounds schedule loop_parts map tasks instead of 2× parallelism.
        sym = sym.coalesce(loop_parts)
    old_parts = sess.conf.get("spark.sql.shuffle.partitions")
    sess.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    try:
        labels = (
            sym.select(F.col("src").alias("v"))
            .distinct()
            .withColumn("comp", F.col("v"))
            .localCheckpoint()
        )
        for _ in range(max_iter):
            nbr_min = (
                sym.join(labels, sym["dst"] == labels["v"])
                .groupBy("src")
                .agg(F.min("comp").alias("nbr_min"))
            )
            merged = labels.join(
                nbr_min, labels["v"] == nbr_min["src"], "left"
            ).select(
                "v",
                F.col("comp").alias("old_comp"),
                F.least(
                    F.col("comp"), F.coalesce("nbr_min", F.col("comp"))
                ).alias("comp"),
            )
            obs = Observation()
            observed = merged.observe(
                obs,
                F.sum((F.col("comp") != F.col("old_comp")).cast("long")).alias(
                    "changed"
                ),
            )
            # eager localCheckpoint is the action that also fires the metric
            labels = observed.select("v", "comp").localCheckpoint()
            if (obs.get["changed"] or 0) == 0:
                break
    finally:
        sess.conf.set("spark.sql.shuffle.partitions", old_parts)
    return (
        vertices.select(F.col(vertex_col).alias("v"))
        .join(labels, "v", "left")
        .select(
            F.col("v").alias(vertex_col),
            F.coalesce("comp", F.col("v")).alias("component"),
        )
    )


def _dot(a, b):
    """Dot product over two array<double> columns (whole-stage codegen)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def with_unit_vector(df: DataFrame, col: str, out: str = "unit") -> DataFrame:
    """Attach the L2-normalized double copy of an array<float> column.

    Normalizing ONCE per vector moves the O(pairs·dim) norm work of
    pairwise cosine to O(N·dim): downstream pairs need a single dot
    product. Two narrow codegen projections, no shuffle."""
    ud = F.transform(F.col(col), lambda x: x.cast("double"))
    return (
        df.withColumn("_ud", ud)
        .withColumn(
            "_norm",
            F.sqrt(F.aggregate("_ud", F.lit(0.0), lambda acc, x: acc + x * x)),
        )
        .withColumn(out, F.transform("_ud", lambda x: x / F.col("_norm")))
        .drop("_ud", "_norm")
    )


def embedding_cosine_pairs(emb: DataFrame, threshold: float = 0.35) -> DataFrame:
    """Embedding near-dup pairs: same-label blocking + exact cosine.

    Vectors are L2-normalized pre-join (with_unit_vector), so each pair
    costs one zip_with/aggregate dot product instead of dot+two norms —
    3× less per-pair arithmetic, which dominates at Σ block² pairs."""
    e = with_unit_vector(
        spread(emb).select("vec_id", "label", "embedding"), "embedding"
    ).drop("embedding")
    a, b = e.alias("a"), e.alias("b")
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    cos = F.round(_dot(F.col("a.unit"), F.col("b.unit")), 6)
    return pairs.select(
        F.col("a.vec_id").alias("id_a"),
        F.col("b.vec_id").alias("id_b"),
        cos.alias("cos"),
    ).filter(F.col("cos") >= threshold)


def semdedup_dropped(assigned: DataFrame, threshold: float = 0.8) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): semantic dedup by
    KMeans-cluster-scoped cosine — the ids to DROP, given an IVF-style
    assignment table ``(vec_id, cell, unit)`` (similarity.build_ivf_index;
    unit vectors pre-normalized once).

    A vector is dropped when some lower-id KEPT vector in the SAME cell
    has cosine ≥ threshold — the greedy keep-lowest-id form of the
    paper's keep-one-per-duplicate-group rule. The witness must itself
    be kept: under the looser any-lower-id rule drops would chain
    through non-transitive similarity (a vector below threshold to
    every kept vector could still be dropped via an already-dropped
    witness — ADVICE r5), over-pruning relative to the paper. The
    greedy pass is inherently sequential WITHIN a cell, so it runs as a
    cell-grouped ``applyInPandas``: one Arrow batch per cell, an
    incremental numpy matvec against the growing kept matrix (O(|cell|
    · |kept| · dim) BLAS flops, |cell|·dim working set).

    Unlike the lossless pivot-pruned exact join
    (embedding_cosine_pairs_pivot), cross-cell near-dups are
    deliberately ignored: bounding the pair work to Σ|cell|² is the
    method. At 100 TB the paper's construction holds by scaling k with
    N (they run k=50k on LAION) so cells stay O(N/k) ≈ constant —
    which is also exactly the bound that keeps each applyInPandas
    group an executor-sized batch; the shuffle is one exchange on the
    cell key.

    EXACT-RATIONAL THRESHOLD TEST (r12 — what made dedup_semantic
    hash-verifiable): the cosine comparison runs on 2^-20-QUANTIZED
    unit vectors (q = round(unit · 2^20) computed IN THE SPARK PLAN,
    so quantization is the engine-neutral round-half-away both engines
    share — measured bit-identical vs DuckDB at sf0.01/0.1) as the
    cross-multiplied integer inequality
        d > 0  AND  den² · d² ≥ num² · N_i · N_k
    with threshold = num/den (0.35 = 7/20), d = ⟨q_i, q_k⟩ and
    N = ⟨q, q⟩ — every quantity an exact integer, so the drop set is
    order-free and engine-independent (no BLAS-vs-fold summation-order
    ulp at the threshold boundary; measured: identical drop sets to
    the float form at every fixture SF). numpy does the int64 matvec
    (exact — |d| ≤ 64·2^40), Python bigints the overflowing squares.
    """
    from fractions import Fraction

    fr = Fraction(str(threshold))
    num2 = fr.numerator * fr.numerator
    den2 = fr.denominator * fr.denominator

    def dropped_per_cell(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id")
        q = np.vstack(pdf["q"].to_numpy()).astype("int64")
        nq = [int(x) for x in (q * q).sum(axis=1)]
        ids = pdf["vec_id"].to_numpy()
        kept_rows: list[int] = []
        out = []
        for i in range(len(ids)):
            ni = nq[i]
            dots = q[kept_rows] @ q[i] if kept_rows else ()
            if any(
                int(d) > 0 and den2 * int(d) * int(d) >= num2 * ni * nq[k]
                for d, k in zip(dots, kept_rows)
            ):
                out.append(ids[i])
            else:
                kept_rows.append(i)
        return pd.DataFrame({"vec_id": pd.Series(out, dtype="int64")})

    return (
        assigned.select(
            "cell",
            "vec_id",
            F.expr(
                "transform(unit, x -> CAST(round(x * 1048576) AS BIGINT))"
            ).alias("q"),
        )
        .groupBy("cell")
        .applyInPandas(dropped_per_cell, "vec_id long")
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.9,
    prepped: DataFrame | None = None,
) -> DataFrame:
    """Directional CONTAINMENT pairs: C(A,B) = |A∩B| / |A| ≥ t — doc A's
    word set (nearly) contained in doc B, the asymmetric sibling of the
    Jaccard family that catches quotes, boilerplate wrappers, and
    near-supersets symmetric similarity misses (a page embedding a whole
    smaller page can sit at Jaccard ≈ |A|/|B| ≪ t while C(A,B) = 1).

    Prefix filter, contained side only (the R⋈S containment join of the
    SSJoin literature): C(A,B) ≥ t ⟹ |A∩B| ≥ ⌈t·|A|⌉, so A's first
    |A| − ⌈t·|A|⌉ + 1 hash-ordered tokens must hit B SOMEWHERE — hence
    A's prefix joins against B's FULL inverted index (no prefix prunes
    the container side; its posting lists are the standing index an
    ingest pipeline maintains anyway). Size prefilter: |A∩B| ≤ |B|
    forces |B| ≥ t·|A| — cheap integer predicate before candidates
    materialize. Blocked by (lang, source) like the Jaccard family;
    exact verification divides by |A| only.

    Scale: |delta-side prefix explode| + posting-list equi-join +
    candidate-bounded verify — same shape as jaccard_join_delta_base,
    and lossless for any fixed token order (same theorem, one-sided)."""
    d = _prep_word_sets(docs) if prepped is None else prepped
    a_idx = _hash_prefix_index(d, threshold)
    # Container-side FULL index, posexploded in the same hash order so the
    # positional filter below sees both global positions (PPJoin §3.2,
    # one-sided): at the pair's minimal common token, the overlap is
    # bounded by 1 + min(|A|−p_a, |B|−p_b), and C(A,B) ≥ t needs overlap
    # ≥ ⌈t·|A|⌉ — so container postings deep in B (p_b > |B| − t·|A| + 1)
    # can never initiate a qualifying candidate. Lossless: the minimal
    # common token's row always passes when the pair qualifies.
    b_idx = d.select(
        "doc_id",
        "lang",
        "source",
        "nw",
        F.posexplode(_hash_ordered_tokens()).alias("_p0", "tok"),
    ).select(
        "doc_id", "lang", "source", "nw", "tok",
        (F.col("_p0") + 1).alias("pos"),
    )
    a, b = a_idx.alias("a"), b_idx.alias("b")
    overlap_ub = F.lit(1) + F.least(
        F.col("a.nw") - F.col("a.pos"), F.col("b.nw") - F.col("b.pos")
    )
    cand = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (F.col("b.nw") >= F.lit(threshold) * F.col("a.nw"))
            & (
                overlap_ub
                >= F.lit(threshold) * F.col("a.nw") - F.lit(1e-9)
            ),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
        # same single-coalesced-partition hazard as _prefix_candidates:
        # keep the per-pair verify work on every core (round-robin —
        # a hash repartition matching the dedup's partitioning is
        # elided and re-coalesced; see _prefix_candidates).
        .repartition(docs.sparkSession.sparkContext.defaultParallelism)
    )
    wa = d.select(
        F.col("doc_id").alias("id_a"),
        F.col("words").alias("words_a"),
        F.col("nw").alias("nw_a"),
    )
    wb = d.select(
        F.col("doc_id").alias("id_b"), F.col("words").alias("words_b")
    )
    cont = F.round(
        F.size(F.array_intersect("words_a", "words_b")) / F.col("nw_a"), 6
    )
    return (
        cand.join(wa, "id_a")
        .join(wb, "id_b")
        .select("id_a", "id_b", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )
