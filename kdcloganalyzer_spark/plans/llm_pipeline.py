"""Tier-3 LLM-data-pipeline operators (SURVEY.md §2.3) over documents /
embeddings / events.

Oracle conventions: every SQL-expressible operator has a DuckDB twin with
identical tokenization (single-space split), RE2-safe regexes, double-
precision cosine, and rounding applied on BOTH sides before thresholds and
ranking, so order-insensitive value hashes match bit-for-bit. The
xxhash64 LSH/SimHash fast paths are rows-only (engine-internal hashes),
but each family has a hash-verified md5 twin (dedup_minhash_pairs_md5,
dedup_simhash_md5) whose signatures the oracle rebuilds exactly.
"""

from __future__ import annotations

from kdcloganalyzer_spark import appcache

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kdcloganalyzer_spark.functions import text as TX
from kdcloganalyzer_spark.operators import dedup, multimodal, similarity
from kdcloganalyzer_spark.plans.registry import query
from kdcloganalyzer_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS n
    FROM documents GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash groupBy; lowest doc_id survives per text.

    Scale: one shuffle on the dedup key; with skewed duplicate clusters AQE
    splits the hot partitions. For very wide keys, group on md5(text) and
    verify within group."""
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, source,
             list_distinct(string_split(lower(text), ' ')) AS words
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.words, b.words))::DOUBLE /
                 (len(a.words) + len(b.words) - len(list_intersect(a.words, b.words))),
                 6) AS jaccard
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.words, b.words))::DOUBLE /
                (len(a.words) + len(b.words) - len(list_intersect(a.words, b.words))),
                6) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-set Jaccard near-dup pairs via the prefix-filtered
    inverted-index join (operators/dedup.py:ngram_jaccard_pairs_prefix).

    Scale: candidates come from an equi-join on prefix tokens (posting
    lists), never a block self-join — the SSJoin/AllPairs construction,
    lossless by the prefix-filter theorem, so the exact all-pairs oracle
    still hash-matches. The blocked all-pairs form remains in
    operators/dedup.py as the pytest cross-check
    (tests/test_dedup_frontends.py)."""
    return dedup.ngram_jaccard_pairs_prefix(
        load_table(spark, sf_dir, "documents"),
        0.5,
        prepped=_wordsets(spark, sf_dir),
    )


@query(
    "dedup_ngram_jaccard_dford",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, source,
             list_distinct(string_split(lower(text), ' ')) AS words
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.words, b.words))::DOUBLE /
                 (len(a.words) + len(b.words) - len(list_intersect(a.words, b.words))),
                 6) AS jaccard
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.words, b.words))::DOUBLE /
                (len(a.words) + len(b.words) - len(list_intersect(a.words, b.words))),
                6) >= 0.5
    """,
)
def dedup_ngram_jaccard_dford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered Jaccard pairs with document-frequency-ascending
    token order (operators/dedup.py:ngram_jaccard_pairs_prefix_dford) —
    the rarest-tokens-first refinement whose candidate volume tracks the
    SHORTEST posting lists. Lossless for any fixed token order, so the
    same exact all-pairs oracle hash-matches. The vocabulary df table is
    materialized once per (session, sf) — the standing corpus statistic
    a dedup deployment maintains per snapshot, same amortized contract
    as the MinHash signature table."""
    return dedup.ngram_jaccard_pairs_prefix_dford(
        load_table(spark, sf_dir, "documents"),
        0.5,
        dfreq=_dfreq_table(spark, sf_dir),
        prepped=_wordsets(spark, sf_dir),
    )


@appcache.amortized(
    {
        "dedup_clusters",
        "dedup_containment",
        "dedup_ngram_jaccard",
        "dedup_ngram_jaccard_dford",
        "pipeline_dedup_report",
    }
)
def _wordsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(session, sf) tokenized word-set table (doc_id, lang, source,
    words, nw) shared by the whole prefix-join dedup family — tokenize
    ONCE per corpus snapshot, exactly what a 100 TB deployment persists
    next to the raw text. eager=False: plan-only callers don't pay it."""
    return dedup._prep_word_sets(load_table(spark, sf_dir, "documents"))


@appcache.amortized({"dedup_ngram_jaccard_dford"})
def _dfreq_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(session, sf) vocabulary document-frequency table (tok, df)
    over the distinct word sets — the corpus statistic the df-ordered
    prefix index sorts by."""
    docs = load_table(spark, sf_dir, "documents")
    d = (
        dedup.spread(docs)
        .select(dedup.word_set(F.col("text")).alias("words"))
        .filter(F.size("words") > 0)
    )
    dfreq = (
        d.select(F.explode("words").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    return dfreq.localCheckpoint(eager=False)


@query(
    "dedup_containment",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, source,
             list_distinct(string_split(lower(text), ' ')) AS words
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.words, b.words))::DOUBLE /
                 len(a.words), 6) AS containment
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.source = b.source
     AND a.doc_id <> b.doc_id
    WHERE round(len(list_intersect(a.words, b.words))::DOUBLE /
                len(a.words), 6) >= 0.9
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment pairs C(A,B) = |A∩B|/|A| ≥ 0.9 — the
    quote/boilerplate/near-superset detector symmetric Jaccard misses
    (a page wholly embedding a smaller page sits at J ≈ |A|/|B| but
    C = 1). operators/dedup.py:containment_pairs: contained-side prefix
    filter against the container side's FULL inverted index (the
    asymmetric R⋈S containment join — one-sided prefix theorem), with
    the |B| ≥ t·|A| size prefilter. Lossless, so the blocked quadratic
    oracle hash-matches."""
    return dedup.containment_pairs(
        load_table(spark, sf_dir, "documents"),
        0.9,
        prepped=_wordsets(spark, sf_dir),
    )


@query(
    "dedup_incremental",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang, source,
             list_distinct(string_split(lower(text), ' ')) AS ws
      FROM documents
    ),
    d AS (SELECT * FROM w WHERE doc_id % 7 = 0),
    b AS (SELECT * FROM w WHERE doc_id % 7 <> 0)
    SELECT d.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(d.ws, b.ws))::DOUBLE /
                 (len(d.ws) + len(b.ws) - len(list_intersect(d.ws, b.ws))),
                 6) AS jaccard
    FROM d JOIN b ON d.lang = b.lang AND d.source = b.source
    WHERE round(len(list_intersect(d.ws, b.ws))::DOUBLE /
                (len(d.ws) + len(b.ws) - len(list_intersect(d.ws, b.ws))),
                6) >= 0.8
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest-time dedup: the 'delta' slice (doc_id % 7 = 0,
    standing in for a day's new data) near-dup-joined against the 'base'
    corpus at J≥0.8 via the asymmetric prefix-filtered SSJoin
    (operators/dedup.py:jaccard_join_delta_base) — per-batch cost scales
    with the delta, never re-running the corpus self-join. Lossless, so
    the direct delta×base quadratic oracle hash-matches."""
    docs = load_table(spark, sf_dir, "documents")
    delta = docs.filter(F.col("doc_id") % 7 == 0)
    base = docs.filter(F.col("doc_id") % 7 != 0)
    return dedup.jaccard_join_delta_base(delta, base, 0.8)


# The %3-slice k=16 md5 MinHash signature table, computed once per
# (session, sf) and shared by the verification twins and the band-tuning
# evaluation.
@appcache.amortized(
    {
        "dedup_fuzzy_minhash",
        "dedup_minhash_band_tuning",
        "dedup_minhash_incremental_md5",
        "dedup_minhash_pairs_md5",
    }
)
def _minhash_md5_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 0
    )
    d = (
        dedup.spread(docs)
        .select("doc_id", dedup.word_set(F.col("text")).alias("words"))
        .filter(F.size("words") > 0)
    )
    return dedup._minhash_signature(
        d, 16, dedup._md5_word_hash
    ).localCheckpoint(eager=False)


@query(
    "dedup_fuzzy_minhash",
    oracle="""
    WITH d AS (
      SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS words
      FROM documents WHERE doc_id % 3 = 0
    ), dd AS (
      SELECT doc_id, words FROM d WHERE len(words) > 0
    ), tok AS (
      SELECT doc_id, unnest(words) AS tok FROM dd
    ), sigl AS (
      SELECT doc_id, s,
             min(('0x' || substr(md5(tok || '#' || s), 1, 15))::BIGINT) AS h
      FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS s)
      GROUP BY doc_id, s
    ), sig AS (
      SELECT doc_id, list(h ORDER BY s) AS sig FROM sigl GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, sig, b,
             array_to_string(list_slice(sig, b * 8 + 1, b * 8 + 8), ',') AS key
      FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS b)
    ), rep AS (
      SELECT b, key, min(doc_id) AS rep_id,
             arg_min(sig, doc_id) AS rep_sig
      FROM bands GROUP BY b, key
    ), scored AS (
      SELECT m.doc_id, r.rep_id,
             round(len(list_filter(range(1, 17),
                                   i -> m.sig[i] = r.rep_sig[i])) / 16.0,
                   6) AS est
      FROM bands m JOIN rep r ON m.b = r.b AND m.key = r.key
      WHERE m.doc_id <> r.rep_id
    )
    SELECT doc_id, CAST(min(rep_id) AS BIGINT) AS dup_of,
           max(est) AS jaccard_est
    FROM scored WHERE est >= 0.9 GROUP BY doc_id
    """,
)
def dedup_fuzzy_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH dedup at J≥0.9: per-doc representative
    assignment (doc_id, dup_of, jaccard_est) — O(N) output even when
    duplicate clusters are huge, unlike pair enumeration (the synthetic
    corpus has ~half of all pairs above J=0.5, so pair listing is
    inherently quadratic; operators/dedup.py:minhash_lsh_pairs provides
    it for targeted use; dedup_minhash_pairs_md5 is its verified form).

    HASH-VERIFIED END-TO-END (r8 — previously rows-only): the registered
    configuration uses the cross-engine 60-bit md5 word hash and literal
    band-tuple keys (the dedup_minhash_pairs_md5 family's k=16, 2×8
    banding over the same deterministic %3 slice — ONE shared signature
    scan serves all three md5 queries), so the DuckDB twin rebuilds
    signatures, elects each band bucket's min-doc representative with
    arg_min, scores members by signature agreement and reproduces the
    ENTIRE representative assignment bit-for-bit. The xxhash64
    production swap is the word_hash=/string_band_key= pair of arguments
    on operators/dedup.py:minhash_dedup (one line — hash cost ~3× lower;
    law-pinned by tests/test_round4_ops.py's clone-pair recovery), kept
    out of the registered surface so the id stays oracle-checkable.

    Scale: unchanged — one explode + one window shuffle on (band, key) +
    one groupBy(doc_id), all O(N·bands), no self-join anywhere."""
    return dedup.minhash_dedup(
        None,  # slice + word hash live solely in _minhash_md5_sig
        0.9,
        n_bands=2,
        rows_per_band=8,
        sig=_minhash_md5_sig(spark, sf_dir),
        string_band_key=True,
    )


# `dedup_minhash_pairs` (the xxhash64-banded pair enumeration) was
# RETIRED from the registered query surface in r8: its hash-verified
# sibling dedup_minhash_pairs_md5 exercises the identical construction
# (operators/dedup.py:minhash_lsh_pairs) with a cross-engine hash, so
# the rows-only registration added no verifiable coverage. The xxhash64
# production configuration remains the operator's default and is
# law-pinned by tests/test_round4_ops.py (clone-pair recovery on toy
# docs) — swapping the hash family back is the word_hash= argument.


@query(
    "dedup_minhash_pairs_md5",
    oracle="""
    WITH d AS (
      SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS words
      FROM documents WHERE doc_id % 3 = 0
    ), dd AS (
      SELECT doc_id, words FROM d WHERE len(words) > 0
    ), tok AS (
      SELECT doc_id, unnest(words) AS tok FROM dd
    ), sigl AS (
      SELECT doc_id, s,
             min(('0x' || substr(md5(tok || '#' || s), 1, 15))::BIGINT) AS h
      FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS s)
      GROUP BY doc_id, s
    ), sig AS (
      SELECT doc_id, list(h ORDER BY s) AS sig FROM sigl GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, sig, b,
             array_to_string(list_slice(sig, b * 8 + 1, b * 8 + 8), ',') AS key
      FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS b)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
             round(len(list_filter(range(1, 17),
                                   i -> a.sig[i] = c.sig[i])) / 16.0,
                   6) AS jaccard_est
      FROM bands a JOIN bands c
        ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id
    )
    SELECT id_a, id_b, jaccard_est FROM cand WHERE jaccard_est >= 0.9
    """,
)
def dedup_minhash_pairs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH pair enumeration whose APPROXIMATE INDEX is
    hash-verified end-to-end — the MinHash sibling of sim_search_lsh's
    verified plane buckets. Same banding as the xxhash64 production
    configuration (operators/dedup.py:minhash_lsh_pairs default), but the
    seeded word hash is 60 bits of md5 (operators/dedup.py:_md5_word_hash
    — bit-identical in DuckDB via ('0x'||substr(md5(..),1,15))::BIGINT)
    and the band key is the literal 4-tuple, so the oracle reproduces
    signatures, band collisions, candidate pairs AND the agreement
    estimator exactly: the driver hash-checks the LSH construction
    itself, not a recall bound. k=16 (2 bands × 8 rows, S-curve knee at
    J≈(1/2)^{1/8}≈0.92 — r=8 matches the xxhash64 family's band width;
    a wider-recall 4×4 banding floods this clone-heavy corpus with
    sub-threshold candidates), scored at est ≥ 0.9.

    Scale shape is unchanged from the xxhash64 family (band equi-join on
    candidates, score-before-dedup-shuffle); the md5 hash costs ~3× per
    word×seed, which is why the production queries keep xxhash64 and
    this variant exists as the verification surface — over a
    deterministic third of the corpus (doc_id % 3 = 0, both engines):
    the clone-heavy synth corpus emits ~1.4M qualifying pairs at sf0.1,
    and verifying the construction doesn't need the full pair volume
    the production query already enumerates."""
    return dedup.minhash_lsh_pairs(
        None,  # slice + word hash live solely in _minhash_md5_sig
        0.9,
        n_bands=2,
        rows_per_band=8,
        sig=_minhash_md5_sig(spark, sf_dir),
        string_band_key=True,
    )


@query(
    "dedup_minhash_incremental_md5",
    oracle="""
    WITH thr AS (
      SELECT CAST((min(doc_id) + max(doc_id)) // 2 AS BIGINT) AS t
      FROM documents WHERE doc_id % 3 = 0
    ), d AS (
      SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS words
      FROM documents WHERE doc_id % 3 = 0
    ), dd AS (
      SELECT doc_id, words FROM d WHERE len(words) > 0
    ), tok AS (
      SELECT doc_id, unnest(words) AS tok FROM dd
    ), sigl AS (
      SELECT doc_id, s,
             min(('0x' || substr(md5(tok || '#' || s), 1, 15))::BIGINT) AS h
      FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS s)
      GROUP BY doc_id, s
    ), sig AS (
      SELECT doc_id, list(h ORDER BY s) AS sig FROM sigl GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, sig, b,
             array_to_string(list_slice(sig, b * 8 + 1, b * 8 + 8), ',') AS key
      FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS b)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
             round(len(list_filter(range(1, 17),
                                   i -> a.sig[i] = c.sig[i])) / 16.0,
                   6) AS jaccard_est
      FROM bands a JOIN bands c
        ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id
      WHERE c.doc_id > (SELECT t FROM thr)
    )
    SELECT id_a, id_b, jaccard_est FROM cand WHERE jaccard_est >= 0.9
    """,
)
def dedup_minhash_incremental_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL MinHash-LSH dedup, hash-verified end-to-end — the
    ingest-batch form of dedup_minhash_pairs_md5 and the LSH sibling of
    text_ngram_novelty_incremental: the corpus (same deterministic %3
    verification slice) splits at the doc_id midpoint into the STANDING
    corpus and a DELTA batch, and only the pairs the batch INTRODUCES
    are enumerated — delta bands probe the standing band index
    (operators/dedup.py:minhash_lsh_pairs probe_min_id), never
    re-joining base x base. Because delta ids all exceed base ids, "pair
    involves the delta" == "the pair's larger id is a delta id", which
    is exactly the oracle's `id_b > midpoint` predicate over the FULL
    pair enumeration — so a hash match proves the incremental probe
    yields bit-identical pairs + estimates to the global run restricted
    to the batch (index stability under incremental ingest).

    Scale: per-batch cost is O(delta bands) joined into the standing
    index (co-partitioned on band key, AQE-skew-split like the full
    form); the signature table is the persisted artifact a real
    pipeline appends each batch's signatures to — here both halves'
    signatures come from one localCheckpointed scan (the base
    signatures stand in for the persisted index). The midpoint is a
    1-row aggregate collected driver-side (sanctioned control
    scalar)."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 0
    )
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    return dedup.minhash_lsh_pairs(
        None,  # slice + word hash live solely in _minhash_md5_sig
        0.9,
        n_bands=2,
        rows_per_band=8,
        sig=_minhash_md5_sig(spark, sf_dir),
        string_band_key=True,
        probe_min_id=(int(lo) + int(hi)) // 2,
    )


# `dedup_simhash` (64-bit xxhash64 SimHash pairs) was RETIRED from the
# registered query surface in r8: dedup_simhash_md5 runs Charikar's
# identical single-fold construction over the same full corpus with the
# cross-engine 60-bit md5 word hash and is hash-verified end-to-end, so
# the xxhash64 registration duplicated it as a rows-only id. The 64-bit
# xxhash64 form stays the operator default (one xxhash64 per word vs one
# md5 — the production path) and is law-pinned by
# tests/test_round4_ops.py (clone Hamming≈0 / distinct-doc separation).


@query(
    "dedup_simhash_md5",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), h AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
      FROM tok
    ), bits AS (
      SELECT doc_id, i,
             sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS c
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS i)
      GROUP BY doc_id, i
    ), sig AS (
      SELECT doc_id,
             sum(CASE WHEN c > 0 THEN (1::BIGINT << i) ELSE 0 END) AS simhash
      FROM bits GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, simhash, b, (simhash >> (15 * b)) & 32767 AS key
      FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
             bit_count(xor(a.simhash, c.simhash))::INT AS hamming
      FROM bands a JOIN bands c
        ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id
    )
    SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3
    """,
)
def dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash whose SIGNATURE is hash-verified end-to-end: the
    word hash is the cross-engine md5 60-bit int, so the DuckDB twin
    rebuilds the per-bit ±1 counters with a (doc, bit) group-by, packs
    the same signature long, derives the same 4×15-bit band keys, and
    reproduces candidate pairs and Hamming distances exactly — the
    oracle checks Charikar's construction itself (banding lossless for
    hamming ≤ 3 by pigeonhole), not a similarity bound. The 64-bit
    xxhash64 configuration stays the operator DEFAULT for production
    (one xxhash64 per word beats one md5; law-pinned by
    tests/test_round4_ops.py) — its rows-only registration was retired
    in r8 since this id verifies the identical construction.

    Scale: two codegen projections and a band equi-join; the oracle's
    O(docs·words·60) bit table exists only DuckDB-side at gate scale."""
    return dedup.simhash_pairs(
        load_table(spark, sf_dir, "documents"),
        3,
        sig_sql=dedup._SIMHASH_MD5_SQL,
        n_bits=60,
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.emb, b.emb), 6) AS cos
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.35
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via the pivot-pruned exact join
    (operators/dedup.py:embedding_cosine_pairs_pivot).

    Scale: KMeans pivots + triangle-inequality cell-pair pruning bound
    the candidate join to admissible cell pairs instead of label-block
    all-pairs; pruning is a metric bound, not LSH, so the exact oracle
    still hash-matches bit-for-bit. The label-blocked all-pairs form
    remains as the pytest cross-check (tests/test_dedup_frontends.py)."""
    return dedup.embedding_cosine_pairs_pivot(
        load_table(spark, sf_dir, "embeddings"),
        0.35,
        index=_pivot_index(spark, sf_dir),
    )


@query(
    "dedup_clusters",
    oracle="""
    WITH RECURSIVE
    d AS (
      SELECT doc_id, lang, source,
             list_distinct(string_split(lower(text), ' ')) AS words
      FROM documents
    ),
    e AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib
      FROM d a JOIN d b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      WHERE round(len(list_intersect(a.words, b.words))::DOUBLE /
                  (len(a.words) + len(b.words) - len(list_intersect(a.words, b.words))),
                  6) >= 0.9
    ),
    ee AS (SELECT ia, ib FROM e UNION SELECT ib, ia FROM e),
    reach(doc_id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT reach.doc_id, ee.ib FROM reach JOIN ee ON reach.r = ee.ia
    )
    SELECT doc_id, min(r) AS component FROM reach GROUP BY doc_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: min-label-propagation connected
    components over J≥0.9 word-set-Jaccard edges (blocked by lang/source).

    The iterative-algorithm showcase: a driver-side loop of join+groupBy
    rounds with localCheckpoint lineage truncation. Oracle-checked — the
    DuckDB twin computes the same components with a recursive CTE
    (min-reachable-id over the same edge set)."""
    docs = load_table(spark, sf_dir, "documents")
    # Edge generation through the prefix-filtered join: at t=0.9 the
    # indexed prefix is ~10% of each word set, so the posting-list join
    # is tiny — and lossless, so the recursive-CTE oracle still matches.
    edges = dedup.ngram_jaccard_pairs_prefix(
        docs, 0.9, prepped=_wordsets(spark, sf_dir)
    )
    return dedup.connected_components(docs, edges)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------
@query(
    "sim_search_cosine",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
               FROM embeddings WHERE vec_id < 5),
         scored AS (
      SELECT q.q_id, e.vec_id,
             round(list_cosine_similarity(q.q_emb, e.embedding::DOUBLE[]), 6)
               AS cos
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, cos, rank FROM (
      SELECT q_id, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY cos DESC, vec_id) AS INT) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def sim_search_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-10 cosine neighbors for 5 query vectors.

    Scale: the query set is broadcast (zero corpus shuffle); per-query
    top-k folds into TakeOrdered per partition + merge. The scale path is
    sim_search_lsh."""
    return similarity.topk_cosine_exact(
        load_table(spark, sf_dir, "embeddings"), n_queries=5, k=10
    )


@query("sim_search_lsh", oracle=similarity.lsh_oracle_sql())
def sim_search_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via seeded signed-random-projection buckets +
    exact re-rank on candidates. HASH-VERIFIED, unlike the
    xxhash64-based families: the planes are seeded literals and every
    float reduction is element-order-identical across engines, so the
    DuckDB twin (similarity.lsh_oracle_sql) reproduces the exact bucket
    assignment and candidate sets — the oracle checks the approximate
    INDEX itself, not just a recall bound."""
    return similarity.topk_cosine_lsh(
        load_table(spark, sf_dir, "embeddings"), n_queries=5, k=10
    )


@query("sim_search_lsh_eval", oracle=similarity.lsh_eval_oracle_sql())
def sim_search_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index-quality EVALUATION, hash-verified end-to-end: recall@10
    of the signed-random-projection LSH index (sim_search_lsh) against
    exact brute-force cosine top-10 (sim_search_cosine) per query — the
    measure-your-ANN loop a production similarity deployment runs
    before trusting the approximate index, certified by the driver the
    same way dedup_minhash_eval certifies the MinHash index. Both pair
    sets are deterministic exact functions of the data (seeded literal
    hyperplanes, element-order-identical float folds), so precision of
    the measurement is exact, not statistical.

    Scale: the exact side is the O(|Q|·N) broadcast baseline (|Q|=5 —
    an eval probe set, not production traffic); the LSH side is the
    bucket-join index path; the comparison is a (q_id, vec_id)-keyed
    full outer join on two ≤|Q|·k-row frames plus one 5-group
    aggregate — eval cost is dominated by the two searches, which at
    100 TB run over a sampled probe set exactly like this."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.topk_cosine_exact(emb, n_queries=5, k=10).select(
        "q_id", "vec_id"
    )
    approx = similarity.topk_cosine_lsh(emb, n_queries=5, k=10).select(
        "q_id", "vec_id"
    )
    j = exact.withColumn("in_exact", F.lit(True)).join(
        approx.withColumn("in_lsh", F.lit(True)),
        ["q_id", "vec_id"],
        "full",
    )
    in_e = F.col("in_exact").isNotNull()
    in_l = F.col("in_lsh").isNotNull()
    both = F.sum((in_e & in_l).cast("long"))
    return j.groupBy("q_id").agg(
        F.sum(in_e.cast("long")).alias("n_exact"),
        F.sum(in_l.cast("long")).alias("n_lsh"),
        both.alias("n_both"),
        F.round(both / F.lit(10), 6).alias("recall_at_k"),
    )


@appcache.amortized({"dedup_embedding_cosine"})
def _pivot_index(spark: SparkSession, sf_dir: str):
    """Cached (per session+sf) pivot index for the pruned cosine join —
    the threshold-independent KMeans assignment + radii
    (operators/dedup.py:build_pivot_index), amortized like the
    IVF/PQ quantizers. (The radii collect makes the build eager by
    nature; it runs on first use, not at registration.)"""
    return dedup.build_pivot_index(load_table(spark, sf_dir, "embeddings"))


@appcache.amortized(
    {
        "dedup_semantic",
        "embed_cluster_kmeans_int",
        "sim_search_ivf",
        "sim_search_ivfpq",
    }
)
def _ivf_index(spark: SparkSession, sf_dir: str):
    """Cached (per session+sf) IVF build: (persisted assignment, centers).
    Shared by sim_search_ivf AND sim_search_ivfpq — the composed index
    reuses the coarse quantizer instead of re-running the deterministic
    farthest-point + integer-Lloyd build (similarity.build_ivf_index)."""
    assigned, centers = similarity.build_ivf_index(
        load_table(spark, sf_dir, "embeddings")
    )
    return assigned.persist(), centers


@appcache.amortized({"sim_search_pq", "sim_search_ivfpq"})
def _pq_index(spark: SparkSession, sf_dir: str):
    """Cached (per session+sf) PQ build: (persisted codes, codebook).
    Shared by sim_search_pq AND sim_search_ivfpq."""
    encoded, codebook = similarity.build_pq_index(
        load_table(spark, sf_dir, "embeddings")
    )
    return encoded.persist(), codebook


@query("sim_search_ivf", oracle=similarity.ivf_oracle_sql())
def sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: md5-seeded sampled cells + n_probe
    nearest-cell scan + exact cosine re-rank. HASH-VERIFIED since r9
    (previously rows-only): the centroids are the engine-neutral
    md5-ranked sample (similarity.build_ivf_index — VERDICT r8 item 9),
    so the DuckDB twin rebuilds the centers FROM THE TABLE, replays the
    argmin cell assignment with element-order-identical float folds,
    and reproduces probes, candidate sets and the re-ranked top-k
    exactly — the approximate index itself is checked, like the LSH
    family. The index builds once per (session, sf) and persists — the
    IVF contract is amortized index build, per-query probe cost."""
    assigned, centers = _ivf_index(spark, sf_dir)
    return similarity.topk_cosine_ivf(assigned, centers, n_queries=5, k=10)


@appcache.amortized({"sim_search_ivfpq"})
def _ivfpq_corpus(spark: SparkSession, sf_dir: str):
    """(persisted IVF+PQ corpus table, centers, codebook), composed from
    the two cached single-index builds."""
    assigned, centers = _ivf_index(spark, sf_dir)
    encoded, codebook = _pq_index(spark, sf_dir)
    corpus = assigned.select("vec_id", "cell", "unit").join(
        encoded.select("vec_id", "codes"), "vec_id"
    )
    return corpus.persist(), centers, codebook


@query("sim_search_ivfpq")
def sim_search_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF+PQ ANN (the FAISS-style production layout): coarse
    cells bound the candidate set, PQ ADC bounds per-candidate cost,
    exact re-rank restores precision on the shortlist. The corpus table
    composes the two CACHED single-index builds (same construction as
    similarity.build_ivfpq_index) — one quantizer build per
    (session, sf) across all three ANN queries, not per query: the
    coarse cells are the r9 engine-deterministic farthest-point +
    integer-Lloyd build, the PQ codebook stays a KMeans fit (rows-only:
    the ADC shortlist depends on that trained codebook; recall floor
    >= 0.7 @10 pinned by pytest — see SURVEY §2 for why PQ itself
    can't be made oracle-checkable)."""
    corpus, centers, codebook = _ivfpq_corpus(spark, sf_dir)
    return similarity.topk_cosine_ivfpq(
        corpus,
        centers,
        codebook,
        load_table(spark, sf_dir, "embeddings"),
        n_queries=5,
        k=10,
    )


@query("sim_search_pq")
def sim_search_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: vectors encoded as 8 codes against a
    shared 32-codeword codebook (8 codes/vector instead of 64 doubles);
    queries score by ADC lookup-table sums and exactly re-rank the top-100
    (rows-only: recall is probabilistic; pinned ≥0.8 @10 by pytest).
    Like IVF, the index builds once per (session, sf) and persists —
    that amortization IS the PQ contract."""
    encoded, codebook = _pq_index(spark, sf_dir)
    return similarity.topk_cosine_pq(encoded, codebook, n_queries=5, k=10)


def _semdedup_oracle(rounds: int = 8) -> str:
    """DuckDB twin of the SemDeDup per-cell greedy keep pass (VERDICT
    r11 item 5 — the last rows-only id with a plausible construction,
    now closed). Three ingredients make the 'inherently sequential'
    chain replayable in fixed SQL:

    1. the cells are the SQL-reproducible IVF quantizer
       (similarity.ivf_build_ctes, shared with the IVF/KMeans oracles);
    2. the near-dup test is the EXACT-RATIONAL integer inequality on
       2^-20-quantized units (see dedup.semdedup_dropped) — HUGEINT
       squares on this side, Python bigints on the Spark side, zero
       float comparisons anywhere near the threshold;
    3. greedy keep is replayed as UNROLLED DETERMINATION ROUNDS, not
       pick-one-per-round: kept(i) ⟺ no kept lower-id neighbor, a
       recursion over the SPARSE near-dup pair graph only — det_r
       adds every vertex whose lower neighbors are all determined, so
       the unroll depth is the longest dependency CHAIN in the pair
       graph (measured: 2 / 3 / 5 at sf0.001 / 0.01 / 0.1), not the
       kept count. rounds=8 leaves headroom; exhaustion is LOUD, not
       silent — undetermined vertices drop out of the final join and
       the member counts (hence the driver hash) mismatch.
    """
    from kdcloganalyzer_spark.operators.similarity import ivf_build_ctes

    dot = "list_sum(list_transform(list_zip(hi.q, lo.q), s -> s[1]*s[2]))"
    det = []
    for r in range(1, rounds + 1):
        det.append(f"""
    det{r} AS MATERIALIZED (
      SELECT i, kept FROM det{r - 1}
      UNION ALL
      SELECT c.i, NOT c.any_kept AS kept FROM (
        SELECT p.i, count(*) AS nn, count(d.i) AS nd,
               coalesce(bool_or(d.kept), FALSE) AS any_kept
        FROM prs p LEFT JOIN det{r - 1} d ON d.i = p.j
        GROUP BY p.i
      ) c
      WHERE c.nd = c.nn AND c.i NOT IN (SELECT i FROM det{r - 1})
    )""")
    return f"""
    WITH {ivf_build_ctes()},
    qv AS MATERIALIZED (
      SELECT a.vec_id, a.cell,
             list_transform(u.u,
               x -> CAST(round(x * 1048576) AS BIGINT)) AS q
      FROM assign a JOIN unit u ON u.vec_id = a.vec_id
    ),
    qn AS MATERIALIZED (
      SELECT vec_id, cell, q,
             CAST(list_sum(list_transform(q, x -> x * x)) AS HUGEINT)
               AS nq
      FROM qv
    ),
    pd0 AS MATERIALIZED (
      SELECT hi.vec_id AS i, lo.vec_id AS j,
             CAST({dot} AS HUGEINT) AS d, hi.nq AS ni, lo.nq AS nj
      FROM qn hi JOIN qn lo
        ON lo.cell = hi.cell AND lo.vec_id < hi.vec_id
    ),
    prs AS MATERIALIZED (
      SELECT i, j FROM pd0
      WHERE d > 0 AND 400 * d * d >= 49 * ni * nj
    ),
    det0 AS MATERIALIZED (
      SELECT a.vec_id AS i, TRUE AS kept FROM assign a
      WHERE NOT EXISTS (SELECT 1 FROM prs p WHERE p.i = a.vec_id)
    ),{",".join(det)}
    SELECT qv.cell,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(*) FILTER (WHERE NOT s.kept) AS BIGINT)
             AS n_dropped,
           CAST(count(*) FILTER (WHERE s.kept) AS BIGINT) AS n_kept
    FROM qv JOIN det{rounds} s ON s.i = qv.vec_id
    GROUP BY qv.cell
    ORDER BY qv.cell
    """


@query("dedup_semantic", oracle=_semdedup_oracle())
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540) — semantic dedup that
    bounds all pair work to WITHIN coarse-quantizer cells, the embedding sibling
    of dedup_fuzzy_minhash's representative-per-bucket output: drop any
    vector whose cell holds a lower-id KEPT vector with cosine ≥ 0.35
    (the repo's near-dup threshold; the greedy keep-lowest-id pass
    makes the paper's keep-one-per-group rule deterministic given the
    clustering, and requiring a KEPT witness stops drops chaining
    through non-transitive similarity). Reuses
    the CACHED IVF coarse quantizer (_ivf_index) — one deterministic
    quantizer build serves IVF/IVFPQ search and semantic dedup, exactly
    how a production pipeline shares its cluster assignment.

    Returns the per-cell curation summary (members / dropped / kept),
    16 rows. HASH-VERIFIED since r12 (previously rows-only — VERDICT
    r11 item 5): the cells were already SQL-reproducible (the r9
    deterministic quantizer); the two missing pieces were (a) an
    engine-neutral threshold comparison — now the exact-rational
    integer test on 2^-20-quantized units (dedup.semdedup_dropped),
    identical drop sets to the float form at every fixture SF — and
    (b) replaying the greedy chain in fixed SQL: the oracle unrolls
    DETERMINATION rounds over the sparse near-dup pair graph
    (kept(i) ⟺ no kept lower-id neighbor), whose depth is the longest
    dependency chain (measured ≤5 at sf0.1), not the kept count — see
    _semdedup_oracle. The keep-set invariants stay pinned by
    tests/test_round5_ops.py.

    Scale: cell-keyed equi-join (Σ|cell|² pairs, k scaled with N keeps
    |cell| bounded — the paper runs k=50k on LAION), partial-agg'd
    distinct on dropped ids, one vec_id-keyed left join for the flag."""
    assigned, _ = _ivf_index(spark, sf_dir)
    dropped = dedup.semdedup_dropped(assigned, threshold=0.35)
    # Plain left join — `dropped` is data-sized (a fraction of ALL
    # vectors), so the broadcast decision belongs to AQE, not a hint.
    flagged = assigned.join(
        dropped.withColumn("is_dropped", F.lit(1)), "vec_id", "left"
    )
    return (
        flagged.groupBy("cell")
        .agg(
            F.count("*").alias("n_members"),
            F.count("is_dropped").alias("n_dropped"),
            (F.count("*") - F.count("is_dropped")).alias("n_kept"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
@query(
    "text_analysis",
    oracle="""
    SELECT lang,
           count(*)                                                   AS n_docs,
           round(avg(len(string_split(text, ' '))), 4)                AS avg_tokens,
           round(avg(n_chars), 4)                                     AS avg_chars,
           CAST(max(len(string_split(text, ' '))) AS INT)             AS max_tokens
    FROM documents GROUP BY lang
    """,
)
def text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics (token/char distributions)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(TX.n_tokens(F.col("text"))), 4).alias("avg_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.max(TX.n_tokens(F.col("text"))).alias("max_tokens"),
    )


def _duck_marker(word: str) -> str:
    n = f" {word} "
    return (
        f"(length(' '||lower(text)||' ') - "
        f"length(replace(' '||lower(text)||' ', '{n}', '')))/{len(n)}"
    )


def _duck_lang_score(lang: str) -> str:
    from kdcloganalyzer_spark.functions.text import LANG_MARKERS

    return " + ".join(_duck_marker(w) for w in LANG_MARKERS[lang])


def _duck_predicted() -> str:
    from kdcloganalyzer_spark.functions.text import LANG_MARKERS

    langs = list(LANG_MARKERS)
    scores = {lg: f"s_{lg}" for lg in langs}
    expr = f"'{langs[-1]}'"
    for lg in reversed(langs[:-1]):
        later = [scores[o] for o in langs[langs.index(lg) + 1 :]]
        cond = " AND ".join(f"{scores[lg]} >= {s}" for s in later)
        expr = f"CASE WHEN {cond} THEN '{lg}' ELSE {expr} END"
    return expr


@query(
    "lang_id_ngram",
    oracle=f"""
    WITH scored AS (
      SELECT lang,
             {_duck_lang_score('en')} AS s_en,
             {_duck_lang_score('de')} AS s_de,
             {_duck_lang_score('fr')} AS s_fr,
             {_duck_lang_score('es')} AS s_es,
             {_duck_lang_score('zh')} AS s_zh
      FROM documents
    )
    SELECT lang, {_duck_predicted()} AS predicted, count(*) AS n
    FROM scored GROUP BY 1, 2
    """,
)
def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic: labeled lang × predicted lang
    confusion counts. (The synthetic corpus draws one vocabulary for all
    labels, so the heuristic's output is uniform — the operator semantics,
    not the accuracy, are under test.)"""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(
        "lang", TX.predicted_lang(F.col("text")).alias("predicted")
    ).agg(F.count("*").alias("n"))


@query(
    "text_quality_score",
    oracle="""
    SELECT doc_id,
           round(0.5 * (len(list_filter(string_split(lower(text), ' '),
                           t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and'))::DOUBLE
                        / len(string_split(lower(text), ' ')))
               + 0.3 * least(len(string_split(text, ' ')) / 100.0, 1.0)
               - 0.2 * (len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))::DOUBLE
                        / length(text)),
             4) AS quality
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality heuristic (stopword mass, length, punctuation)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.quality_score(F.col("text")).alias("quality"))


@query(
    "token_count_bpe",
    oracle=r"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_ws,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                AS INT) AS n_bpe
    FROM documents
    """,
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counts per document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.n_tokens(F.col("text")).alias("n_ws"),
        TX.n_bpe_tokens(F.col("text")).alias("n_bpe"),
    )


@query(
    "text_normalize",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_md5,
           length(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS n_norm
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (the stage every dedup/quality op
    keys on): lowercase → punctuation to spaces → collapse runs → trim.
    Three regexp projections in one codegen stage, no shuffle; output is
    md5+length so the oracle compare stays compact."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_md5"),
        F.length(norm).alias("n_norm"),
    )


@query(
    "token_histogram",
    oracle="""
    SELECT CAST(least(len(string_split(text, ' ')) // 10, 20) AS INT)
             AS bucket,
           count(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length histogram (decade buckets, capped at 20): the
    pre-training length-distribution check that decides packing/window
    parameters. One partial-agg'd groupBy over a codegen projection."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.least(
        (TX.n_tokens(F.col("text")) / 10).cast("int"), F.lit(20)
    )
    return docs.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_docs")
    )


@query(
    "text_top_bigrams",
    oracle="""
    WITH w AS (SELECT lang, string_split(lower(text), ' ') AS ws
               FROM documents),
    b AS (SELECT lang, ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT)+1]
                    AS bigram
          FROM w, UNNEST(range(1, len(ws))) AS t(i)),
    c AS (SELECT lang, bigram, count(*) AS n FROM b GROUP BY 1, 2)
    SELECT lang, bigram, n, CAST(rn AS INT) AS rn FROM (
      SELECT lang, bigram, n,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n DESC, bigram) AS rn
      FROM c
    ) WHERE rn <= 3
    """,
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 bigrams per language: adjacent-word pairs via one zip_with
    over the shifted token array (no self-join, no UDF), explode →
    two-stage count → per-language top-k window with total tie-break.
    Scale: the explode fans out ~tokens-per-doc rows but partial
    aggregation collapses them map-side before the only wide shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.lower(F.col("text")), " ")
    bigrams = F.zip_with(
        F.slice(words, 1, F.size(words) - 1),
        F.slice(words, 2, F.size(words) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    counts = (
        docs.select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("bigram"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("lang", "bigram", "n", "rn")
    )


@query(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT), list_transform(
               regexp_extract_all(substr(lower(text), 1, {TX.FP_PREFIX}), '.'),
               c -> ascii(c))),
             (a, b) -> (a * 31 + b) % {TX.ROLL_MOD}) AS fp
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint (mod 1e9+7, 256-char prefix)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", TX.rolling_fingerprint(F.col("text")).alias("fp")
    )


@query(
    "text_tfidf",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS word
      FROM documents
    ),
    tf AS (SELECT lang, word, count(*) AS tf FROM w GROUP BY 1, 2),
    dfq AS (SELECT word, count(DISTINCT doc_id) AS df FROM w GROUP BY 1),
    n AS (SELECT count(*)::DOUBLE AS n FROM documents)
    SELECT lang, word, tfidf, rank FROM (
      SELECT tf.lang, tf.word,
             round(tf.tf * ln(n.n / dfq.df), 6) AS tfidf,
             CAST(row_number() OVER (
               PARTITION BY tf.lang
               ORDER BY round(tf.tf * ln(n.n / dfq.df), 6) DESC, tf.word
             ) AS INT) AS rank
      FROM tf JOIN dfq USING (word) CROSS JOIN n
    ) WHERE rank <= 5
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per language (tf = in-language occurrences,
    idf = ln(N / df) over the whole corpus).

    Scale (r15): ONE explode → one partial-agg'd (word, doc_id, lang)
    pre-aggregate g; df is a word-partitioned WINDOW count over g (one
    g-sized exchange), after which the (lang, word) tf regroup needs
    NO further exchange ({word} ⊆ {lang, word} — the subset clustering
    rule) and the tf⋈df join disappears (df rides along as max() — it
    is constant within a word). The old form exploded the corpus TWICE
    (tf and dropDuplicates-df branches were structurally different, no
    ReusedExchange — and the dropDuplicates shuffle was corpus-sized).
    Per-language top-k via window. Rounded score is the ranking key on
    BOTH engines so ties break identically. The corpus size N rides
    the SAME DAG as a broadcast 1-row aggregate cross-join — no
    separate driver-side count() job per invocation."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"),
    )
    g = words.groupBy("word", "doc_id", "lang").agg(
        F.count("*").alias("c")
    )
    wdf = Window.partitionBy("word")
    tfdf = (
        g.withColumn("df", F.count("*").over(wdf))
        .groupBy("lang", "word")
        .agg(F.sum("c").alias("tf"), F.max("df").alias("df"))
    )
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tfdf.crossJoin(F.broadcast(n))
        .select(
            "lang",
            "word",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("lang", "word", "tfidf", "rank")
    )


# ---------------------------------------------------------------------------
# UDF surface + multimodal plumbing
# ---------------------------------------------------------------------------
@query(
    "udf_surface",
    oracle="""
    SELECT event_id,
           round(1/(1 + exp(-value/100)), 4) AS sig,
           round((value - avg(value) OVER (PARTITION BY event_type)) /
                 nullif(stddev_pop(value) OVER (PARTITION BY event_type), 0),
                 4) AS z
    FROM events
    """,
)
def udf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDF surface demo: a scalar Arrow pandas_udf (sigmoid) and a
    grouped applyInPandas (per-event-type z-score), both numerically
    twinned in the oracle.

    Scale: pandas_udf ships Arrow batches (no per-row pickling);
    applyInPandas shuffles once on the group key — groups must fit in
    memory per-executor, fine for bounded key domains like event_type."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    events = load_table(spark, sf_dir, "events")

    # no type annotations: `from __future__ import annotations` stringifies
    # them, which pandas_udf can't resolve — returnType is in the decorator
    @pandas_udf("double")
    def sigmoid(v):
        import numpy as np

        return (1.0 / (1.0 + np.exp(-v / 100.0))).round(4)

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        std = float(np.std(pdf["value"].to_numpy(), ddof=0))
        mean = float(pdf["value"].mean())
        # zero-stddev group → NULL, matching the oracle's
        # nullif(stddev_pop(...), 0); pd.NA in a nullable Float64 column
        # crosses Arrow as a true null (plain NaN in float64 would not)
        z = (
            ((pdf["value"] - mean) / std).round(4)
            if std > 0
            else pd.array([pd.NA] * len(pdf), dtype=pd.Float64Dtype())
        )
        return pd.DataFrame({"event_id": pdf["event_id"], "z": z})

    zdf = events.groupBy("event_type").applyInPandas(
        zscore, schema="event_id long, z double"
    )
    sdf = events.select("event_id", sigmoid(F.col("value")).alias("sig"))
    return sdf.join(zdf, "event_id")


@query(
    "multimodal_decode",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text))
                + CASE WHEN doc_id % 3 = 0 THEN 57
                       WHEN doc_id % 3 = 1 THEN 41 ELSE 0 END
                AS BIGINT) AS n_bytes,
           CASE WHEN doc_id % 3 = 0 THEN 'png'
                WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'stubbed' END
             AS decode_status
    FROM documents
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload metadata extraction via mapInPandas. doc_id%3==0
    carries structurally valid PNG containers (signature + IHDR + CRC32
    check), %3==1 structurally valid JFIF/JPEGs (SOI + APP0 + SOF0 +
    EOI marker/length validation) — both get GENUINE header decodes
    (operators/multimodal.py); the rest exercise the documented stub
    fallback. Oracle checks the container arithmetic (PNG: 8-byte
    signature + 25-byte IHDR + 12-byte IDAT framing + 12-byte IEND =
    57 bytes of overhead; JPEG: 2-byte SOI + 18-byte APP0 + 19-byte
    SOF0 + 2-byte EOI = 41) and that validation reported 'png'/'jpeg',
    i.e. the bytes round-tripped intact."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.decode_metadata(docs).select(
        "doc_id", "n_bytes", "decode_status"
    )


# hex-pair → byte value, portable SQL (DuckDB lacks a direct byte getter)
_HEXB = (
    "((strpos('0123456789abcdef', substr(md5(text), {a}, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5(text), {b}, 1)) - 1))"
)
_B0 = _HEXB.format(a=1, b=2)
_B1 = _HEXB.format(a=3, b=4)


@query(
    "multimodal_features",
    oracle=f"""
    SELECT doc_id,
           CAST(octet_length(encode(text))
                + CASE WHEN doc_id % 3 = 0 THEN 57
                       WHEN doc_id % 3 = 1 THEN 41 ELSE 0 END
                AS BIGINT) AS n_bytes,
           CAST(CASE WHEN doc_id % 3 < 2
                     THEN 1 + octet_length(encode(text)) % 1024
                     ELSE 1 + {_B0} END AS INT) AS width,
           CAST(CASE WHEN doc_id % 3 < 2
                     THEN 1 + {_B0}
                     ELSE 1 + {_B1} END AS INT) AS height,
           CAST(CASE WHEN doc_id % 3 < 2 THEN 8 END AS INT) AS bit_depth,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 6
                     WHEN doc_id % 3 = 1 THEN 3 END AS INT) AS color_type,
           CASE WHEN doc_id % 3 = 0 THEN 'png'
                WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'stubbed' END
             AS decode_status
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full decode output. doc_id%3==0: GENUINE PNG header parse;
    %3==1: GENUINE JFIF/JPEG header parse (big-endian SOF0
    height/width/precision/component reads behind marker+length
    validation) — the oracle recomputes the geometry that
    with_image_payload embedded (width = 1 + byte-length mod 1024,
    height = 1 + first md5 byte), so a hash match proves the big-endian
    header reads (and the PNG CRC check) ran against real container
    bytes, not a formula shortcut. color_type carries PNG's color type
    (6 = RGBA) or JPEG's component count (3 = YCbCr). Remaining ids:
    the md5-derived stub (same hex extraction as multimodal_resize)
    with NULL bit_depth/color_type. The whole mapInPandas path — binary
    column, Arrow batches, typed nullable ints — is hash-checked."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.decode_metadata(docs)


@query(
    "udtf_surface",
    oracle="""
    SELECT doc_id, CAST(idx - 1 AS INT) AS idx, word
    FROM (
      SELECT doc_id,
             unnest(string_split(lower(text), ' ')) AS word,
             generate_subscripts(string_split(lower(text), ' '), 1) AS idx
      FROM documents WHERE doc_id < 50
    )
    """,
)
def udtf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function): one input row → N output
    rows with positional state, registered and invoked via LATERAL join
    SQL. Oracle: unnest WITH ORDINALITY equivalent.

    Scale: UDTFs run row-at-a-time in Python workers — fine for control
    flow demos, but the production explode path is the built-in
    `explode(split(...))` (see text_tfidf); this query exists to cover
    the registration surface."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="idx int, word string")
    class WordExpand:
        def eval(self, text: str):
            for i, w in enumerate(str(text).lower().split(" ")):
                yield i, w

    spark.udtf.register("word_expand", WordExpand)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "_udtf_docs"
    )
    return spark.sql(
        """
        SELECT d.doc_id, w.idx, w.word
        FROM _udtf_docs d, LATERAL word_expand(d.text) w
        WHERE d.doc_id < 50
        """
    )


@query(
    "udtf_table_arg",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap
      FROM events WHERE user_id < 100
    )
    SELECT user_id, count(*) AS n_events,
           coalesce(max(gap), 0) AS max_gap_us
    FROM g GROUP BY user_id
    """,
)
def udtf_table_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic UDTF over a TABLE argument (Spark 4):
    ``gap_summary(TABLE(v) PARTITION BY user_id ORDER BY (ts, id))`` —
    the engine partitions and sorts the input, the Python class holds
    per-partition state across eval() calls and emits one summary row
    from terminate(). This is the custom per-group stateful-iteration
    surface BELOW applyInPandas (no pandas materialization of the
    group) and beside applyInPandasWithState (batch, not streaming).

    Scale: the partition/order spec plans as the same user_id shuffle +
    sort any window would need; state is O(1) per partition. Python
    row-at-a-time cost is why the query bounds itself to user_id < 100
    (the registration surface is the point — the built-in lag/max
    window IS the production path, and is exactly what the oracle
    runs). Hash-verified: the stateful traversal must reproduce the
    window aggregate."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="user_id bigint, n_events bigint, max_gap_us bigint")
    class GapSummary:
        def __init__(self):
            self.uid = None
            self.n = 0
            self.prev = None
            self.mx = 0

        def eval(self, row):
            self.uid = row.user_id
            self.n += 1
            if self.prev is not None:
                g = row.tsu - self.prev
                if g > self.mx:
                    self.mx = g
            self.prev = row.tsu

        def terminate(self):
            if self.uid is not None:
                yield self.uid, self.n, self.mx

    spark.udtf.register("gap_summary", GapSummary)
    ev = load_table(spark, sf_dir, "events")
    ev.select(
        "user_id", F.unix_micros("ts").alias("tsu"), "event_id"
    ).where(F.col("user_id") < 100).createOrReplaceTempView(
        "_udtf_gap_events"
    )
    return spark.sql(
        """
        SELECT * FROM gap_summary(
          TABLE(_udtf_gap_events)
          PARTITION BY user_id ORDER BY (tsu, event_id))
        """
    )


@query(
    "udaf_surface",
    oracle="""
    SELECT event_type,
           round(exp(avg(ln(abs(value) + 1.0))), 4) AS geo_mean_shifted
    FROM events GROUP BY event_type
    """,
)
def udaf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDAF (GROUPED_AGG pandas_udf): geometric mean of
    abs(value)+1 per event_type, numerically twinned in the oracle.

    Scale: grouped-agg pandas UDFs receive each group's column as one
    Arrow batch — partial aggregation is NOT applied (unlike builtins),
    so keep them for genuinely custom math on bounded group counts."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _geo_mean(v):
        return float(np.round(np.exp(np.mean(np.log(np.abs(v) + 1.0))), 4))

    # Series→scalar hints make this a GROUPED_AGG udf; set them as real
    # objects because `from __future__ import annotations` stringifies
    # inline hints, which pandas_udf cannot resolve.
    _geo_mean.__annotations__ = {"v": pd.Series, "return": float}
    geo_mean = pandas_udf(_geo_mean, "double")

    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        geo_mean("value").alias("geo_mean_shifted")
    )




@query(
    "multimodal_resize",
    oracle=f"""
    WITH probe AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 < 2
                  THEN 1 + octet_length(encode(text)) % 1024
                  ELSE 1 + {_B0} END AS src_width,
             CASE WHEN doc_id % 3 < 2
                  THEN 1 + {_B0}
                  ELSE 1 + {_B1} END AS src_height,
             CASE WHEN doc_id % 3 = 0 THEN 'png'
                  WHEN doc_id % 3 = 1 THEN 'jpeg'
                  ELSE 'stubbed' END AS resize_status
      FROM documents
    )
    SELECT doc_id, src_width, src_height,
           greatest(1, CAST(floor(src_width *
             least(1.0, 256.0 / greatest(src_width, src_height))) AS INT))
             AS dst_width,
           greatest(1, CAST(floor(src_height *
             least(1.0, 256.0 / greatest(src_width, src_height))) AS INT))
             AS dst_height,
           resize_status
    FROM probe
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving image resize plumbing over mapInPandas. Since
    r9 the SOURCE geometry is a GENUINE header decode of the PNG/JFIF
    containers (big-endian IHDR / SOF0 reads — the oracle recomputes
    the geometry with_image_payload embedded, so a hash match proves
    the parse ran against real container bytes); only the pixel
    resample/re-encode step stays stubbed, and undecodable payloads
    (doc_id%3==2) keep the md5-derived fake. The double-precision scale
    math is identical in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.resize_images(docs, max_side=256)


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             octet_length(encode(text)) AS len,
             greatest(1, octet_length(encode(text)) // 64) AS n_frames
      FROM documents
    )
    SELECT doc_id,
           CAST(ceil(n_frames / 4.0) AS BIGINT) AS n_sampled,
           CAST(CASE WHEN len < 64 THEN len
                     ELSE ceil(n_frames / 4.0) * 64 END AS BIGINT)
             AS sampled_bytes
    FROM f
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-stride frame sampling (every 4th 64-byte chunk) — the 1:N
    mapInPandas fan-out shape of video GOP sampling, decode stubbed.
    Oracle checks frame counts and sampled byte totals per doc."""
    docs = load_table(spark, sf_dir, "documents")
    frames = multimodal.sample_frames(docs, frame_size=64, every_n=4)
    return frames.groupBy("doc_id").agg(
        F.count("*").alias("n_sampled"),
        F.sum(F.length("frame_bytes")).alias("sampled_bytes"),
    )


@appcache.amortized({"dedup_minhash_band_tuning", "dedup_minhash_eval"})
def exact_pairs_md5_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact unblocked word-set Jaccard >= 0.9 pairs on the %3 corpus
    slice — the ground truth both index evaluations
    (dedup_minhash_eval, dedup_minhash_band_tuning) score against.
    Cached per (session, sf) behind a lazy localCheckpoint: the
    quadratic-ish reference computation runs once per corpus snapshot,
    the amortized-index contract applied to the EVALUATION side."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 0
    )
    unblocked = docs.withColumn("lang", F.lit("_")).withColumn(
        "source", F.lit("_")
    )
    return (
        dedup.ngram_jaccard_pairs_prefix(unblocked, 0.9)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )


@query(
    "dedup_minhash_eval",
    oracle="""
    WITH d AS (
      SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS words
      FROM documents WHERE doc_id % 3 = 0
    ), dd AS (
      SELECT doc_id, words FROM d WHERE len(words) > 0
    ), exact AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM dd a JOIN dd b ON a.doc_id < b.doc_id
      WHERE round(len(list_intersect(a.words, b.words))::DOUBLE /
                  (len(a.words) + len(b.words)
                   - len(list_intersect(a.words, b.words))), 6) >= 0.9
    ), tok AS (
      SELECT doc_id, unnest(words) AS tok FROM dd
    ), sigl AS (
      SELECT doc_id, s,
             min(('0x' || substr(md5(tok || '#' || s), 1, 15))::BIGINT) AS h
      FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS s)
      GROUP BY doc_id, s
    ), sig AS (
      SELECT doc_id, list(h ORDER BY s) AS sig FROM sigl GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, sig, b,
             array_to_string(list_slice(sig, b * 8 + 1, b * 8 + 8), ',') AS key
      FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS b)
    ), est AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM bands a JOIN bands c
        ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id
      WHERE round(len(list_filter(range(1, 17),
                                  i -> a.sig[i] = c.sig[i])) / 16.0,
                  6) >= 0.9
    ), j AS (
      SELECT coalesce(e.id_a, m.id_a) AS id_a,
             (e.id_a IS NOT NULL) AS in_exact,
             (m.id_a IS NOT NULL) AS in_est
      FROM exact e FULL JOIN est m
        ON e.id_a = m.id_a AND e.id_b = m.id_b
    )
    SELECT count(*) FILTER (in_exact) AS n_exact,
           count(*) FILTER (in_est) AS n_est,
           count(*) FILTER (in_exact AND in_est) AS n_both,
           round(count(*) FILTER (in_exact AND in_est)::DOUBLE /
                 nullif(count(*) FILTER (in_est), 0), 6) AS precision_r,
           round(count(*) FILTER (in_exact AND in_est)::DOUBLE /
                 nullif(count(*) FILTER (in_exact), 0), 6) AS recall_r
    FROM j
    """,
)
def dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality EVALUATION: precision/recall of the banded-MinHash
    near-dup pairs (the md5 cross-engine family, est ≥ 0.9) against
    exact UNBLOCKED word-set Jaccard ≥ 0.9 on the same deterministic
    corpus third — the measure-your-ANN loop every production dedup
    deployment runs before trusting an approximate index, itself
    hash-verified end-to-end (both pair sets and the resulting
    precision/recall are exact functions of the input).

    Spark side: the exact pair set reuses the prefix-join machinery
    with blocking DISABLED (constant block keys — MinHash candidates
    are global, so the reference set must be too); the estimated set is
    minhash_lsh_pairs with the md5 hash family; one full outer join on
    the pair key + a single aggregate. Scale: both sides are the
    standard linear-ish constructions; the outer join is pair-keyed.
    The exact ground truth is cached per (session, sf) and shared with
    dedup_minhash_band_tuning (r10) — one quadratic reference
    computation serves every index evaluation."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 3 == 0
    )
    exact = exact_pairs_md5_slice(spark, sf_dir)
    est = dedup.minhash_lsh_pairs(
        docs,
        0.9,
        n_bands=2,
        rows_per_band=8,
        word_hash=dedup._md5_word_hash,
        string_band_key=True,
    ).select("id_a", "id_b")
    j = exact.withColumn("in_exact", F.lit(True)).join(
        est.withColumn("in_est", F.lit(True)), ["id_a", "id_b"], "full"
    )
    in_e = F.col("in_exact").isNotNull()
    in_m = F.col("in_est").isNotNull()
    both = F.sum((in_e & in_m).cast("long"))
    ne = F.sum(in_e.cast("long"))
    nm = F.sum(in_m.cast("long"))
    return j.agg(
        ne.alias("n_exact"),
        nm.alias("n_est"),
        both.alias("n_both"),
        F.round(both / F.nullif(nm, F.lit(0)), 6).alias("precision_r"),
        F.round(both / F.nullif(ne, F.lit(0)), 6).alias("recall_r"),
    )


# ---------------------------------------------------------------------------
# Multimodal: exact binary-content dedup (content-hash, fully verifiable)
# ---------------------------------------------------------------------------
@query(
    "multimodal_dedup_binary",
    oracle="""
    SELECT md5(text) AS payload_md5,
           count(*) AS n_copies,
           min(doc_id) AS keep_id,
           CAST(sum(octet_length(encode(text))) AS BIGINT)
             AS total_bytes
    FROM documents
    GROUP BY md5(text)
    HAVING count(*) > 1
    """,
)
def multimodal_dedup_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT BINARY-CONTENT DEDUP over the opaque payload column — the
    first multimodal op with NO stub anywhere: content-hash dedup is
    what a real image/audio pipeline runs before any decode (identical
    bytes → identical asset, no codec needed), so unlike the
    decode/resize family this is the production algorithm end-to-end,
    and it hash-verifies (Spark md5(binary) over the payload ==
    DuckDB md5(varchar), which hashes the same UTF-8 bytes). Output:
    one row per duplicated payload (md5 key, copy count, min-id keep
    representative, reclaimable bytes).

    Scale: one partial-agg'd groupBy on the 16-byte digest — the
    payload bytes themselves never shuffle (the md5 projection runs
    scan-side; only digests and counts cross the exchange). That is
    the critical property at 100 TB of images: shuffle traffic is
    O(rows·16B), not O(bytes). Skew-free by hash uniformity."""
    docs = load_table(spark, sf_dir, "documents")
    pay = multimodal.with_binary_payload(docs)
    return (
        pay.select(
            "doc_id",
            F.md5("payload").alias("payload_md5"),
            F.length("payload").alias("nb"),
        )
        .groupBy("payload_md5")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keep_id"),
            F.sum("nb").cast("bigint").alias("total_bytes"),
        )
        .where(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# Per-class embedding centroids from exact scaled-integer sums
# ---------------------------------------------------------------------------
@query(
    "embed_centroid_int",
    oracle="""
    WITH x AS (
      SELECT label,
             unnest(generate_series(0, len(embedding) - 1)) AS pos,
             unnest(list_transform(embedding,
                    v -> CAST(round(v::DOUBLE * 1000000) AS BIGINT))) AS s
      FROM embeddings
    )
    SELECT label, pos,
           CAST(sum(s) AS BIGINT) AS sum_scaled,
           count(*) AS n_vecs
    FROM x GROUP BY label, pos
    """,
)
def embed_centroid_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-CLASS EMBEDDING CENTROIDS with EXACT accumulation — the
    class-mean vectors behind drift monitoring, prototype classifiers,
    and KMeans seeding, computed so they hash-verify: each float32
    component converts exactly to double and is scaled once to an
    integer micro-unit, and the per-(label, position) sums are then
    exact BIGINTs in ANY aggregation order (float centroid sums differ
    in the last ulp per partial-agg order — the cross-row float-sum
    trap this repo's money queries dodge with cents). Centroid
    component = sum_scaled / (n_vecs · 1e6), left to the consumer —
    exactness beats pre-dividing.

    Scale: posexplode is map-side (rows × dim before the shuffle, but
    each exploded row is 20 bytes) feeding ONE partial-agg'd groupBy
    on (label, pos) — |labels|·dim result rows. The mergeable-moment
    structure is what lets 1000 executors combine without a
    determinism loss; at very high dim swap the explode for
    per-partition vector pre-sums via F.aggregate over a zipped
    accumulator (same exact integers, dim-sized rows instead of
    element-sized)."""
    emb = load_table(spark, sf_dir, "embeddings")
    scaled = F.transform(
        "embedding",
        lambda v: F.round(v.cast("double") * 1000000).cast("bigint"),
    )
    return (
        emb.select("label", F.posexplode(scaled).alias("pos", "s"))
        .groupBy("label", "pos")
        .agg(
            F.sum("s").cast("bigint").alias("sum_scaled"),
            F.count("*").alias("n_vecs"),
        )
    )


# ---------------------------------------------------------------------------
# Label-affinity matrix from exact integer centroid sums
# ---------------------------------------------------------------------------
@query(
    "embed_label_affinity",
    oracle="""
    WITH x AS (
      SELECT label,
             unnest(generate_series(0, len(embedding) - 1)) AS pos,
             unnest(list_transform(embedding,
                    v -> CAST(round(v::DOUBLE * 1000000) AS BIGINT))) AS s
      FROM embeddings
    ),
    c AS (
      SELECT label, pos, CAST(sum(s) AS BIGINT) AS sv,
             count(*) AS n_vecs
      FROM x GROUP BY label, pos
    )
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(sum(a.sv * b.sv) AS BIGINT) AS dot_scaled,
           CAST(max(a.n_vecs) AS BIGINT) AS n_a,
           CAST(max(b.n_vecs) AS BIGINT) AS n_b
    FROM c a JOIN c b ON a.pos = b.pos AND a.label <= b.label
    GROUP BY a.label, b.label
    """,
)
def embed_label_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABEL-AFFINITY MATRIX — pairwise dot products between per-class
    centroid SUM vectors (diagonal = squared norms), the geometry
    report behind class-overlap audits and semantic-space drift
    monitoring. Built entirely in exact scaled integers (the
    embed_centroid_int accumulation), so all |L|·(|L|+1)/2 entries
    hash-verify; cosine(a,b) = dot/(√diag_a·√diag_b·scale²) is left to
    the consumer — exactness beats pre-dividing.

    Scale: corpus-sized work is ONE partial-agg'd groupBy(label, pos)
    (the centroid reduction, map-combined before its single shuffle);
    the pairwise stage then joins the |labels|·dim SUMMARY table with
    itself on pos — 640 rows here, |L|²·dim products at any corpus
    size, independent of row count. This is the two-level reduce that
    makes an all-pairs statistic scale: reduce data to sketches first,
    make the quadratic pass on sketches only. Spark broadcasts the
    self-join side automatically (tiny stats)."""
    emb = load_table(spark, sf_dir, "embeddings")
    scaled = F.transform(
        "embedding",
        lambda v: F.round(v.cast("double") * 1000000).cast("bigint"),
    )
    c = (
        emb.select("label", F.posexplode(scaled).alias("pos", "s"))
        .groupBy("label", "pos")
        .agg(
            F.sum("s").cast("bigint").alias("sv"),
            F.count("*").alias("n_vecs"),
        )
    )
    a, b = c.alias("a"), c.alias("b")
    return (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.label") <= F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
        )
        .agg(
            F.sum(F.col("a.sv") * F.col("b.sv"))
            .cast("bigint")
            .alias("dot_scaled"),
            F.max(F.col("a.n_vecs")).alias("n_a"),
            F.max(F.col("b.n_vecs")).alias("n_b"),
        )
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage curve (tokenizer design input)
# ---------------------------------------------------------------------------
@query(
    "text_vocab_coverage",
    oracle="""
    WITH w AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    freq AS (
      SELECT word, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY word
    ),
    ranked AS (
      SELECT n,
             row_number() OVER (ORDER BY n DESC, word) AS rk,
             sum(n) OVER () AS total,
             sum(n) OVER (ORDER BY n DESC, word
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM freq
    )
    SELECT CAST(vocab_size AS INT) AS vocab_size,
           CAST(max(cum) AS BIGINT) AS tokens_covered,
           CAST(max(cum) * 1000000 // max(total) AS BIGINT) AS coverage_micro
    FROM (SELECT cum, total,
                 CASE WHEN rk <= 8 THEN 8
                      WHEN rk <= 16 THEN 16
                      WHEN rk <= 32 THEN 32
                      ELSE NULL END AS vocab_size
          FROM ranked) x
    WHERE vocab_size IS NOT NULL
    GROUP BY vocab_size
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY COVERAGE CURVE — what fraction of all corpus tokens
    the top-K most frequent words cover (K ∈ {8, 16, 32} against this
    synthetic ~40-word vocabulary; 8k/16k/32k against a real corpus) —
    the Zipf report that sizes tokenizer vocabularies and predicts
    UNK/byte-fallback rates before a single BPE merge is trained.
    Integer token counts and micro-unit coverage shares, totally
    ordered by (freq desc, word) so boundary ties are deterministic —
    the whole curve hash-verifies.

    Scale: tokenize-explode flatMaps into ONE partial-agg'd word count
    (the corpus-sized stage); ranking then runs over the VOCABULARY
    (Heaps-law-bounded, millions of rows at web scale — still one
    executor's work). This is the same collapse-then-rank shape as
    analytics_pareto_concentration, applied to the token distribution."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    w_rank = Window.orderBy(F.desc("n"), F.asc("word"))
    w_all = Window.partitionBy()
    ranked = freq.select(
        "n",
        F.row_number().over(w_rank).alias("rk"),
        F.sum("n").over(w_all).alias("total"),
        F.sum("n")
        .over(w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    )
    sized = ranked.select(
        "cum",
        "total",
        F.when(F.col("rk") <= 8, 8)
        .when(F.col("rk") <= 16, 16)
        .when(F.col("rk") <= 32, 32)
        .alias("vocab_size"),
    ).where(F.col("vocab_size").isNotNull())
    return sized.groupBy(
        F.col("vocab_size").cast("int").alias("vocab_size")
    ).agg(
        F.max("cum").cast("bigint").alias("tokens_covered"),
        # DECIMAL(38,0) widening (r15): corpus token counts are
        # unbounded; *1e6 passes BIGINT range past ~9.2e12 tokens
        F.expr(
            "CAST(max(cum) AS DECIMAL(38,0)) * 1000000"
            " div CAST(max(total) AS DECIMAL(38,0))"
        ).alias("coverage_micro"),
    )


@query(
    "sim_search_range",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
               FROM embeddings WHERE vec_id < 5),
         scored AS (
      SELECT q.q_id, e.vec_id,
             round(list_cosine_similarity(q.q_emb, e.embedding::DOUBLE[]), 6)
               AS cos
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id
    ),
    hits AS (SELECT * FROM scored WHERE cos >= 0.25)
    SELECT h.q_id, h.vec_id, h.cos,
           CAST(n.n_hits AS INT) AS n_hits
    FROM hits h
    JOIN (SELECT q_id, count(*) AS n_hits FROM hits GROUP BY q_id) n
      ON n.q_id = h.q_id
    """,
)
def sim_search_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (radius) similarity retrieval — all vectors with cosine ≥
    0.25 of each query (vs top-k's best-k): the retrieval mode dedup
    thresholds and policy filters actually use. See
    operators/similarity.py:range_cosine_exact for the scale story
    (data-dependent result size is the operational difference)."""
    return similarity.range_cosine_exact(
        load_table(spark, sf_dir, "embeddings"), n_queries=5, tau=0.25
    )


@query(
    "embed_outlier_distance",
    oracle="""
    WITH x AS (
      SELECT vec_id, label,
             unnest(generate_series(0, len(embedding) - 1)) AS pos,
             unnest(list_transform(embedding,
                    v -> CAST(round(v::DOUBLE * 1000000) AS BIGINT))) AS q
      FROM embeddings
    ),
    c AS (
      SELECT label, pos, CAST(sum(q) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM x GROUP BY label, pos
    ),
    d AS (
      SELECT x.vec_id, x.label,
             CAST(sum((c.n * x.q - c.s) * (c.n * x.q - c.s)) AS BIGINT)
               AS score
      FROM x JOIN c ON c.label = x.label AND c.pos = x.pos
      GROUP BY x.vec_id, x.label
    )
    SELECT label, vec_id, score, rank FROM (
      SELECT label, vec_id, score,
             CAST(row_number() OVER (PARTITION BY label
                                     ORDER BY score DESC, vec_id) AS INT)
               AS rank
      FROM d
    ) WHERE rank <= 3
    """,
)
def embed_outlier_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING OUTLIER AUDIT — the top-3 vectors FARTHEST from their
    own class centroid, per label: the mislabeled-example / junk-vector
    sweep every embedding pipeline runs before training. The distance
    is computed EXACTLY in integers by clearing denominators:
    n²·‖x − S/n‖² = Σ_pos (n·x_p − S_p)² over the micro-unit quantized
    components — no float mean, no ulp drift, so the outlier ranking
    hash-verifies (n is constant within a label, making scores
    comparable exactly where they need to be).

    Scale: reuses the embed_centroid_int reduction (one partial-agg'd
    (label, pos) shuffle for S); the per-vector score joins components
    against the label×dim SUMMARY (broadcast-sized) and collapses back
    to one row per vector — two shuffles total, both on bounded keys.
    Overflow headroom documented at the centroid op; here the squared
    terms cap at (n·q)² ≈ 1e17·dim — BIGINT-safe through ~1e4 vectors
    per label at dim 64, DECIMAL(38) beyond."""
    emb = load_table(spark, sf_dir, "embeddings")
    scaled = F.transform(
        "embedding",
        lambda v: F.round(v.cast("double") * 1000000).cast("bigint"),
    )
    x = emb.select(
        "vec_id", "label", F.posexplode(scaled).alias("pos", "q")
    )
    c = x.groupBy("label", "pos").agg(
        F.sum("q").cast("bigint").alias("s"),
        F.count("*").alias("n"),
    )
    d = (
        x.join(F.broadcast(c), ["label", "pos"])
        .select(
            "vec_id",
            "label",
            (
                (F.col("n") * F.col("q") - F.col("s"))
                * (F.col("n") * F.col("q") - F.col("s"))
            ).alias("term"),
        )
        .groupBy("vec_id", "label")
        .agg(F.sum("term").cast("bigint").alias("score"))
    )
    w = Window.partitionBy("label").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        d.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select("label", "vec_id", "score", "rank")
    )


@query(
    "text_inverted_index",
    oracle="""
    WITH w AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    posting AS (
      SELECT word,
             CAST(count(*) AS BIGINT) AS df,
             array_to_string(list_sort(list(doc_id))[1:5], ',')
               AS posting_head,
             CAST(min(doc_id) AS BIGINT) AS first_doc
      FROM w GROUP BY word
    )
    SELECT word, df, posting_head, first_doc,
           CAST((SELECT count(*) FROM w a JOIN w b
                 ON a.doc_id = b.doc_id
                 AND a.word = posting.word AND b.word = 'spark')
                AS BIGINT) AS n_and_spark
    FROM posting
    WHERE df >= 50
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INVERTED INDEX + CONJUNCTIVE QUERY — the search primitive: per
    term, its document frequency, the head of its sorted posting list,
    and the size of its AND-intersection with the posting of a probe
    term ('spark') — i.e., a boolean retrieval evaluated posting-vs-
    posting, not document-vs-query. Restricted to terms with df ≥ 50
    (stopword tier) so the compared surface is the index STRUCTURE,
    not a long tail of singletons.

    Scale: the distinct (doc, word) projection partial-aggregates
    before ONE shuffle on word — the posting-list build IS a groupBy,
    which is why Spark builds inverted indexes well; posting heads are
    capped (slice 5) so no unbounded collect_list ships whole postings
    through the plan. The AND-count is a co-partitioned self-join on
    doc_id with the probe posting broadcast — the standard
    smallest-posting-first intersection, df-ordered at real scale.
    Sharded term partitioning (term → shard files) is the serving-side
    continuation (sink_partitioned_parquet's layout)."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).distinct()
    posting = w.groupBy("word").agg(
        F.count("*").alias("df"),
        F.array_join(
            F.slice(F.array_sort(F.collect_list("doc_id")), 1, 5), ","
        ).alias("posting_head"),
        F.min("doc_id").alias("first_doc"),
    )
    probe = w.where(F.col("word") == "spark").select(
        F.col("doc_id").alias("p_doc")
    )
    and_counts = (
        w.join(F.broadcast(probe), w["doc_id"] == probe["p_doc"])
        .groupBy("word")
        .agg(F.count("*").alias("n_and_spark"))
    )
    return (
        posting.where(F.col("df") >= 50)
        .join(and_counts, "word", "left")
        .select(
            "word",
            "df",
            "posting_head",
            "first_doc",
            F.coalesce("n_and_spark", F.lit(0))
            .cast("bigint")
            .alias("n_and_spark"),
        )
    )


@query(
    "multimodal_shard_pack",
    oracle="""
    WITH a AS (
      SELECT ('0x' || substr(md5('shard#' || CAST(doc_id AS VARCHAR)),
              1, 15))::BIGINT % 16 AS shard,
             CAST(octet_length(encode(text)) AS BIGINT) AS nb
      FROM documents
    ),
    s AS (
      SELECT shard, CAST(count(*) AS BIGINT) AS n_assets,
             CAST(sum(nb) AS BIGINT) AS shard_bytes
      FROM a GROUP BY shard
    )
    SELECT shard, n_assets, shard_bytes,
           CAST(shard_bytes * 16000000
             // (SELECT CAST(sum(shard_bytes) AS BIGINT) FROM s)
             AS BIGINT) AS load_factor_micro
    FROM s
    """,
)
def multimodal_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINING-SHARD PACKING — webdataset-style shard assignment for
    raw assets: each payload hashes to one of 16 shards (seeded
    cross-engine md5 — same asset, same shard, any engine/rerun), and
    the report is the per-shard manifest (count, bytes) plus the load
    factor (shard bytes ÷ perfect share, in micro-units — 1e6 ≡
    perfectly balanced). Hashed placement is the scalable answer;
    greedy bin packing is sequential and unstable under re-runs.

    Scale: assignment is a map-side projection (no assignment table,
    no shuffle for placement); the manifest is one 16-row groupBy. The
    actual byte movement is a partitionBy("shard") write — exactly
    sink_partitioned_parquet's layout — and the load factor printed
    here is the skew check you run BEFORE paying for it. The md5 gives
    ~1/√(N/16) imbalance; size-stratified salting is the fix if asset
    sizes are heavy-tailed."""
    docs = multimodal.with_binary_payload(
        load_table(spark, sf_dir, "documents")
    )
    a = docs.select(
        F.expr(
            "CAST(conv(substring(md5(concat('shard#',"
            " CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 16"
        ).alias("shard"),
        F.length("payload").cast("bigint").alias("nb"),
    )
    s = a.groupBy("shard").agg(
        F.count("*").alias("n_assets"),
        F.sum("nb").cast("bigint").alias("shard_bytes"),
    )
    total = s.agg(F.sum("shard_bytes")).collect()[0][0]
    return s.select(
        "shard",
        "n_assets",
        "shard_bytes",
        F.expr(f"shard_bytes * 16000000 div {total}").alias(
            "load_factor_micro"
        ),
    )


@query(
    "sim_search_lsh_multiprobe",
    oracle=similarity.lsh_multiprobe_oracle_sql(),
)
def sim_search_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH (Lv et al. 2007): half the hash tables of
    sim_search_lsh, recall recovered by probing each query's
    single-bit-flip neighbor buckets — the index-size/probe-count
    trade that makes LSH memory-deployable. Hash-verified like its
    single-probe sibling: seeded literal planes, XOR probe expansion
    reproduced in the DuckDB twin
    (operators/similarity.py:topk_cosine_lsh)."""
    return similarity.topk_cosine_lsh(
        load_table(spark, sf_dir, "embeddings"),
        n_queries=5,
        k=10,
        n_tables=2,
        multiprobe=True,
    )
