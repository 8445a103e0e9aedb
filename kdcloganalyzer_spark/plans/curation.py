"""Training-data curation operators beyond the SURVEY.md §2 inventory:
within-doc repetition quality gates (Gopher-style), cross-corpus line
dedup (C4-style), benchmark-contamination n-gram overlap, deterministic
source-weighted sampling, and PII scrubbing.

These extend the reference's declared query surface (README.md:4-13 stops
at log analytics) with the operations a 100 TB pre-training pipeline runs
over the same `documents` table. Every operator here is DuckDB-oracle
value-checked; all hot paths are whole-stage-codegen expressions (no
Python UDFs).

Dialect notes (Spark ⇄ DuckDB equivalences used below):
- `transform/filter/aggregate` ⇄ `list_transform/list_filter/list_reduce`;
- `slice(xs, i, n)` (start, LENGTH) ⇄ `list_slice(xs, i, i+n-1)`
  (begin, END, both clamp);
- `sequence(a, b)` ⇄ `generate_series(a, b)` (both inclusive);
- Spark `regexp_replace` replaces ALL matches, DuckDB only the first —
  the oracle must pass the 'g' flag;
- integer sampling arithmetic stays below 2^31 so neither engine
  overflows (Spark wraps, DuckDB errors — avoid the divergence entirely).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kdcloganalyzer_spark import appcache
from kdcloganalyzer_spark.operators.dedup import spread
from kdcloganalyzer_spark.plans.registry import query
from kdcloganalyzer_spark.sources.tables import load_table


def _words(col):
    return F.split(F.lower(col), " ")


# ---------------------------------------------------------------------------
# Gopher-style repetition / quality gate
# ---------------------------------------------------------------------------
@query(
    "quality_gopher_repetition",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ), m AS (
      SELECT doc_id,
             len(ws) AS n_words,
             round(list_sum(list_transform(ws, w -> strlen(w)))::DOUBLE
                   / len(ws), 4) AS mean_word_len,
             round(list_max(list_transform(list_distinct(ws),
                     w -> len(list_filter(ws, x -> x = w))))::DOUBLE
                   / len(ws), 4) AS top_word_frac,
             CASE WHEN len(ws) < 2 THEN 0.0 ELSE
               round(1.0 - len(list_distinct(list_transform(
                       generate_series(1, len(ws) - 1),
                       i -> ws[CAST(i AS INT)] || ' '
                            || ws[CAST(i AS INT) + 1])))::DOUBLE
                     / (len(ws) - 1), 4)
             END AS dup_bigram_frac
      FROM w
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_word_len,
           top_word_frac, dup_bigram_frac,
           (n_words BETWEEN 5 AND 1000 AND mean_word_len BETWEEN 2 AND 12
            AND top_word_frac <= 0.3 AND dup_bigram_frac <= 0.6) AS keep
    FROM m
    """,
)
def quality_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition gate (the Gopher quality-filter family):
    word count bounds, mean word length, most-frequent-word mass, and
    duplicate-bigram fraction, folded into one boolean ``keep``.

    All four signals are higher-order-function folds over the token array
    of a single row — zero shuffles, one codegen stage over the scan; at
    100 TB this is a pure map, pipelined with whatever runs next. The
    top-word count is an O(distinct·n) per-row nested fold, bounded by
    document length, not corpus size."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    ws = _words(F.col("text"))
    d = docs.select("doc_id", ws.alias("ws"))
    n = F.size("ws")
    mean_len = F.round(
        F.aggregate("ws", F.lit(0), lambda a, w: a + F.length(w)).cast(
            "double"
        )
        / n,
        4,
    )
    top_frac = F.round(
        F.array_max(
            F.transform(
                F.array_distinct("ws"),
                lambda w: F.size(F.filter("ws", lambda x: x == w)),
            )
        ).cast("double")
        / n,
        4,
    )
    bigrams = F.zip_with(
        F.slice("ws", 1, n - 1),
        F.slice("ws", 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    dup_bg = F.when(n < 2, F.lit(0.0)).otherwise(
        F.round(
            1.0 - F.size(F.array_distinct(bigrams)).cast("double") / (n - 1),
            4,
        )
    )
    out = d.select(
        "doc_id",
        n.cast("bigint").alias("n_words"),
        mean_len.alias("mean_word_len"),
        top_frac.alias("top_word_frac"),
        dup_bg.alias("dup_bigram_frac"),
    )
    keep = (
        F.col("n_words").between(5, 1000)
        & F.col("mean_word_len").between(2, 12)
        & (F.col("top_word_frac") <= 0.3)
        & (F.col("dup_bigram_frac") <= 0.6)
    )
    return out.withColumn("keep", keep)


# ---------------------------------------------------------------------------
# Cross-corpus line dedup (C4-style)
# ---------------------------------------------------------------------------
_LINE_WORDS = 10

_CHUNK_EXPR = f"""
transform(
  sequence(0, CAST(ceil(size(__W__) / {_LINE_WORDS}.0) AS INT) - 1),
  i -> concat_ws(' ', slice(__W__, i * {_LINE_WORDS} + 1, {_LINE_WORDS})))
"""


@query(
    "dedup_lines_global",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ), l AS (
      SELECT doc_id, unnest(list_transform(
               generate_series(0, CAST(ceil(len(ws) / {_LINE_WORDS}.0) AS INT) - 1),
               i -> array_to_string(list_slice(
                      ws, CAST(i * {_LINE_WORDS} + 1 AS INT),
                      CAST(i * {_LINE_WORDS} + {_LINE_WORDS} AS INT)), ' ')))
               AS line
      FROM w
    ), g AS (
      SELECT line, count(*) AS freq FROM l GROUP BY line
    )
    SELECT l.doc_id,
           count(*) AS n_lines,
           CAST(sum(CASE WHEN g.freq > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_lines,
           (sum(CASE WHEN g.freq > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)
            <= 0.3) AS keep
    FROM l JOIN g USING (line)
    GROUP BY l.doc_id
    """,
)
def dedup_lines_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide repeated-line detection (the C4 boilerplate-removal
    pass): documents are chunked into fixed 10-word pseudo-lines, line
    frequencies are counted across the WHOLE corpus, and each document
    reports how many of its lines also occur elsewhere (``freq > 1``),
    with a keep flag at ≤30% duplicated lines.

    Scale: explode → count → join-back is two shuffles on the line hash —
    the canonical shape. Partial aggregation collapses repeated lines
    map-side; the join-back key is the same line value, so at 100 TB both
    sides co-partition and AQE handles hot boilerplate lines (skew split).
    Chunking (not raw newlines) keeps line length bounded, so no key is
    pathologically wide."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    lines = docs.select(
        "doc_id",
        F.explode(
            F.expr(_CHUNK_EXPR.replace("__W__", "split(lower(text), ' ')"))
        ).alias("line"),
    )
    freq = lines.groupBy("line").agg(F.count("*").alias("freq"))
    dup = F.when(F.col("freq") > 1, 1).otherwise(0)
    return (
        lines.join(freq, "line")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(dup).cast("bigint").alias("n_dup_lines"),
        )
        .withColumn(
            "keep",
            F.col("n_dup_lines").cast("double") / F.col("n_lines") <= 0.3,
        )
    )


# ---------------------------------------------------------------------------
# Benchmark-contamination n-gram overlap
# ---------------------------------------------------------------------------
_NGRAM = 5
_BENCH_MOD = 50  # doc_id % 50 == 0 → held-out "benchmark" split

# arrays_zip over N shifted slices, NOT transform(sequence, i ->
# slice(ws, i, N)): higher-order lambdas evaluate interpreted, and the
# per-position slice inside the lambda re-allocates per gram — measured
# 3× slower at sf0.1 than zipping N pre-shifted views once per doc.
_NGRAM_EXPR = f"""
CASE WHEN size(__W__) < {_NGRAM} THEN array()
     ELSE array_distinct(transform(
       arrays_zip({", ".join(
           f"slice(__W__, {i + 1}, size(__W__) - {_NGRAM - 1})"
           for i in range(_NGRAM))}),
       s -> concat_ws(' ', {", ".join(f"s['{i}']" for i in range(_NGRAM))})))
END
"""


@query(
    "contamination_ngram",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             CASE WHEN len(string_split(lower(text), ' ')) < {_NGRAM}
                  THEN [] ELSE
               list_distinct(list_transform(
                 generate_series(1,
                   len(string_split(lower(text), ' ')) - {_NGRAM} + 1),
                 i -> array_to_string(list_slice(
                        string_split(lower(text), ' '),
                        CAST(i AS INT), CAST(i + {_NGRAM} - 1 AS INT)), ' ')))
             END AS grams
      FROM documents
    ), bench AS (
      SELECT DISTINCT unnest(grams) AS gram FROM w
      WHERE doc_id % {_BENCH_MOD} = 0
    ), train AS (
      SELECT doc_id, unnest(grams) AS gram FROM w
      WHERE doc_id % {_BENCH_MOD} <> 0
    )
    SELECT t.doc_id,
           CAST(count(b.gram) AS BIGINT) AS n_shared,
           count(b.gram) >= 3 AS contaminated
    FROM train t LEFT JOIN bench b USING (gram)
    GROUP BY t.doc_id
    """,
)
def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: treat every 50th document as a
    held-out eval set, build its distinct 5-gram vocabulary, and count for
    each training document how many of ITS distinct 5-grams appear in that
    vocabulary (≥3 shared ⇒ flagged contaminated).

    Scale: the benchmark vocabulary is small relative to the corpus (it is
    an eval set), so it is broadcast — the training side never shuffles;
    the plan is scan → explode → BroadcastHashJoin → partial-agg'd
    groupBy(doc_id). Per-doc distinct n-grams keep the count a set
    overlap, not an occurrence count, on both engines."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    w = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("ws")
    ).select("doc_id", F.expr(_NGRAM_EXPR.replace("__W__", "ws")).alias("grams"))
    bench = (
        w.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    train = w.filter(F.col("doc_id") % _BENCH_MOD != 0).select(
        "doc_id", F.explode("grams").alias("gram")
    )
    return (
        train.join(F.broadcast(bench.withColumn("hit", F.lit(1))), "gram", "left")
        .groupBy("doc_id")
        .agg(F.count("hit").alias("n_shared"))
        .select(
            "doc_id",
            "n_shared",
            (F.col("n_shared") >= 3).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic source-weighted sampling (data mixing)
# ---------------------------------------------------------------------------
@query(
    "sample_hash_mixture",
    oracle="""
    WITH k AS (
      SELECT source,
             ((CAST(substr(source, 4) AS INT) % 4) + 1) * 20 AS rate_pct,
             ((doc_id % 1000003) * 31 + 7) % 100 AS bucket
      FROM documents
    )
    SELECT source, rate_pct,
           count(*) AS n_total,
           CAST(sum(CASE WHEN bucket < rate_pct THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept
    FROM k GROUP BY source, rate_pct
    """,
)
def sample_hash_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted mixture sampling with a DETERMINISTIC keep decision:
    each source gets a target rate (20/40/60/80% by source index), and a
    row is kept iff a multiplicative hash of its doc_id lands under the
    rate — reproducible across runs, engines, and partitionings, unlike
    `sample()`/`rand()`.

    This is the data-mixing primitive: re-weighting sources to a target
    recipe without materializing a shuffle — the keep predicate is a pure
    map evaluated at the scan, so at 100 TB the rejected rows never leave
    the input stage. (At real scale swap the congruential hash for
    xxhash64(doc_id) — kept portable here so the oracle reproduces it
    bit-for-bit.)"""
    docs = load_table(spark, sf_dir, "documents")
    rate = (
        (F.substring("source", 4, 10).cast("int") % 4 + 1) * 20
    ).alias("rate_pct")
    bucket = ((F.col("doc_id") % 1000003) * 31 + 7) % 100
    return (
        docs.select("source", rate, bucket.alias("bucket"))
        .groupBy("source", "rate_pct")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(F.col("bucket") < F.col("rate_pct"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------
_RE_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_RE_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_RE_LONGNUM = r"\d{6,}"


@query(
    "text_pii_scrub",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || doc_id
                     || '@example.com for access' ELSE '' END
             || CASE WHEN doc_id % 11 = 0 THEN ' from host 10.2.'
                     || (doc_id % 250) || '.9' ELSE '' END
             || CASE WHEN doc_id % 13 = 0 THEN ' ref 99'
                     || (1000000 + doc_id) ELSE '' END AS txt
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(txt, '{_RE_EMAIL}')) AS INT)
             AS n_email,
           CAST(len(regexp_extract_all(txt, '{_RE_IPV4}')) AS INT) AS n_ip,
           CAST(len(regexp_extract_all(txt, '{_RE_LONGNUM}')) AS INT)
             AS n_num,
           md5(regexp_replace(regexp_replace(regexp_replace(
               txt, '{_RE_EMAIL}', '<EMAIL>', 'g'),
                    '{_RE_IPV4}', '<IP>', 'g'),
                    '{_RE_LONGNUM}', '<NUM>', 'g')) AS scrub_md5
    FROM t
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: detect and replace emails, IPv4 addresses, and
    long digit runs with typed placeholder tokens, reporting per-doc match
    counts and an md5 of the scrubbed text.

    The synthetic corpus contains no PII, so the query deterministically
    injects it first (same expression on both engines) — the point under
    test is the scrub semantics: match counting, replace-ALL behavior
    (Spark's default; DuckDB needs the 'g' flag), and pattern ordering
    (emails and IPs are consumed before the bare digit-run rule so their
    digits are not double-scrubbed). Pure regex projections — one codegen
    stage, no shuffle; RE2-safe patterns so both engines agree."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    txt = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id"),
                F.lit("@example.com for access"),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" from host 10.2."),
                F.col("doc_id") % 250,
                F.lit(".9"),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.lit(" ref 99"), F.col("doc_id") + 1000000),
        ).otherwise(""),
    )
    scrub = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(txt, _RE_EMAIL, "<EMAIL>"), _RE_IPV4, "<IP>"
        ),
        _RE_LONGNUM,
        "<NUM>",
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(txt, F.lit(_RE_EMAIL), F.lit(0))).alias(
            "n_email"
        ),
        F.size(F.regexp_extract_all(txt, F.lit(_RE_IPV4), F.lit(0))).alias(
            "n_ip"
        ),
        F.size(F.regexp_extract_all(txt, F.lit(_RE_LONGNUM), F.lit(0))).alias(
            "n_num"
        ),
        F.md5(scrub).alias("scrub_md5"),
    )


# ---------------------------------------------------------------------------
# The pipeline, composed
# ---------------------------------------------------------------------------
#: Shared flag-CTE prefix (stages w/q/d/l/s + the m flag matrix).
#: BOTH pipeline_corpus_funnel (below) and pipeline_gate_ablation
#: (round12_ops._ablation_oracle) build their oracle from this constant
#: by concatenation — previously the ablation oracle SLICED the funnel's
#: registered text at "SELECT stage", a textual coupling where any
#: funnel reformat raised ValueError at oracle-build time for an
#: unrelated id (ADVICE r12). The constant ends exactly where the
#: consumer's final SELECT begins.
FUNNEL_FLAGS_CTE = f"""
    WITH w AS (
      SELECT doc_id, source, string_split(lower(text), ' ') AS ws, text
      FROM documents
    ), q AS (  -- stage 1: quality gate (subset of gopher signals)
      SELECT *,
             (len(ws) BETWEEN 5 AND 1000
              AND round(list_max(list_transform(list_distinct(ws),
                    w -> len(list_filter(ws, x -> x = w))))::DOUBLE
                    / len(ws), 4) <= 0.12) AS q_keep
      FROM w
    ), d AS (  -- stage 2: exact dedup (min doc_id survives per text)
      SELECT q.*, (doc_id = min(doc_id) OVER (PARTITION BY text)) AS d_keep
      FROM q
    ), l AS (  -- stage 3: pseudo-line global dedup <= 30% duplicated
      SELECT doc_id, sum(CASE WHEN freq > 1 THEN 1 ELSE 0 END)::DOUBLE
                     / count(*) <= 0.3 AS l_keep
      FROM (
        SELECT doc_id, line FROM (
          SELECT doc_id, unnest(list_transform(
                   generate_series(0,
                     CAST(ceil(len(ws) / {_LINE_WORDS}.0) AS INT) - 1),
                   i -> array_to_string(list_slice(
                          ws, CAST(i * {_LINE_WORDS} + 1 AS INT),
                          CAST(i * {_LINE_WORDS} + {_LINE_WORDS} AS INT)),
                          ' '))) AS line
          FROM w)
      ) x JOIN (
        SELECT line, count(*) AS freq FROM (
          SELECT unnest(list_transform(
                   generate_series(0,
                     CAST(ceil(len(ws) / {_LINE_WORDS}.0) AS INT) - 1),
                   i -> array_to_string(list_slice(
                          ws, CAST(i * {_LINE_WORDS} + 1 AS INT),
                          CAST(i * {_LINE_WORDS} + {_LINE_WORDS} AS INT)),
                          ' '))) AS line
          FROM w)
        GROUP BY line
      ) g USING (line)
      GROUP BY doc_id
    ), s AS (  -- stage 4: deterministic mixture sample
      SELECT doc_id,
             ((doc_id % 1000003) * 31 + 7) % 100
               < ((CAST(substr(source, 4) AS INT) % 4) + 1) * 20 AS s_keep
      FROM w
    ), m AS (
      SELECT d.doc_id, len(d.ws) AS n_tok,
             d.q_keep, d.d_keep, l.l_keep, s.s_keep
      FROM d JOIN l USING (doc_id) JOIN s USING (doc_id)
    )
    """


@query(
    "pipeline_corpus_funnel",
    oracle=FUNNEL_FLAGS_CTE
    + """SELECT stage, n_docs, n_tokens FROM (
      SELECT 0 AS stage, count(*) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM m
      UNION ALL
      SELECT 1, count(*), CAST(sum(n_tok) AS BIGINT) FROM m WHERE q_keep
      UNION ALL
      SELECT 2, count(*), CAST(sum(n_tok) AS BIGINT) FROM m
      WHERE q_keep AND d_keep
      UNION ALL
      SELECT 3, count(*), CAST(sum(n_tok) AS BIGINT) FROM m
      WHERE q_keep AND d_keep AND l_keep
      UNION ALL
      SELECT 4, count(*), CAST(sum(n_tok) AS BIGINT) FROM m
      WHERE q_keep AND d_keep AND l_keep AND s_keep
    )
    """,
)
def pipeline_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline composed as ONE DataFrame DAG: quality gate →
    exact dedup → global line dedup → mixture sampling, reporting
    surviving docs and tokens after each stage (the corpus funnel a
    pre-training run reviews before committing GPU time).

    Composition is where Spark's declarative model pays off: the four
    stages are independent boolean columns derived from three shuffles
    TOTAL (text-dedup window, line explode+count+join, nothing for the
    gate or sampler), then one aggregation — Catalyst pipelines
    everything else into the scan. A stage-at-a-time imperative pipeline
    would re-scan the corpus five times. MinHash near-dup (engine-hash
    dependent) intentionally sits outside this oracle-checked funnel —
    at scale it slots between stages 2 and 3 as one more boolean.

    r15: the five stage reports fold into ONE conditional aggregation
    over the flags table (guide §2.4 — a 5-way union of filtered
    aggregates re-executed the whole flags DAG per branch: 86 Exchange
    nodes / 15 corpus scans in the physical plan, vs 17 / 3 now), then
    explode a 5-struct literal into the report rows. Empty-stage
    semantics match the filtered form exactly: n_docs 0, n_tokens NULL
    (a conditional sum would return 0, so it is null-guarded on the
    count)."""
    m = _funnel_flags(spark, sf_dir)
    conds = [
        F.lit(True),
        F.col("q_keep"),
        F.col("q_keep") & F.col("d_keep"),
        F.col("q_keep") & F.col("d_keep") & F.col("l_keep"),
        F.col("q_keep")
        & F.col("d_keep")
        & F.col("l_keep")
        & F.col("s_keep"),
    ]
    aggs = []
    for i, c in enumerate(conds):
        aggs.append(
            F.coalesce(
                F.sum(F.when(c, 1).otherwise(0)), F.lit(0)
            )
            .cast("bigint")
            .alias(f"c{i}")
        )
        aggs.append(
            F.sum(F.when(c, F.col("n_tok"))).cast("bigint").alias(f"t{i}")
        )
    wide = m.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("stage"),
                F.col(f"c{i}").alias("n_docs"),
                F.when(F.col(f"c{i}") > 0, F.col(f"t{i}")).alias(
                    "n_tokens"
                ),
            )
            for i in range(5)
        ]
    )
    return (
        wide.select(F.explode(rows).alias("r"))
        .select("r.stage", "r.n_docs", "r.n_tokens")
    )


def _funnel_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc curation flags (doc_id, lang, n_tok, q/d/l/s_keep) —
    the funnel's stage predicates, shared by the stage-count report
    (pipeline_corpus_funnel) and the release manifest
    (pipeline_corpus_release)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    ws = _words(F.col("text"))
    base = docs.select("doc_id", "lang", "source", "text", ws.alias("ws"))
    n = F.size("ws")

    top_frac = F.round(
        F.array_max(
            F.transform(
                F.array_distinct("ws"),
                lambda w: F.size(F.filter("ws", lambda x: x == w)),
            )
        ).cast("double")
        / n,
        4,
    )
    # 0.12, not the standalone gate's Gopher-style 0.3: the synthetic
    # corpus draws from a tiny vocabulary, so the funnel threshold sits at
    # this corpus's p85 to make stage 1 demonstrably selective.
    q_keep = F.col("n_words").between(5, 1000) & (top_frac <= 0.12)

    w_text = Window.partitionBy("text")
    d_keep = F.col("doc_id") == F.min("doc_id").over(w_text)

    staged = base.select(
        "doc_id",
        "lang",
        "source",
        "text",
        "ws",
        n.alias("n_words"),
    ).select(
        "*",
        q_keep.alias("q_keep"),
        d_keep.alias("d_keep"),
    )

    lines = base.select(
        "doc_id",
        F.explode(
            F.expr(_CHUNK_EXPR.replace("__W__", "ws"))
        ).alias("line"),
    )
    freq = lines.groupBy("line").agg(F.count("*").alias("freq"))
    l_keep = (
        lines.join(freq, "line")
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.when(F.col("freq") > 1, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count("*")
                <= 0.3
            ).alias("l_keep")
        )
    )

    s_keep = (
        ((F.col("doc_id") % 1000003) * 31 + 7) % 100
        < (F.substring("source", 4, 10).cast("int") % 4 + 1) * 20
    )

    return (
        staged.join(l_keep, "doc_id")
        .select(
            "doc_id",
            "lang",
            F.col("n_words").alias("n_tok"),
            "q_keep",
            "d_keep",
            "l_keep",
            s_keep.alias("s_keep"),
        )
    )


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chunk) and per-source quality percentile gate
# ---------------------------------------------------------------------------
@query(
    "pipeline_pack_sequences",
    oracle="""
    WITH t AS (
      SELECT lang, doc_id, len(string_split(text, ' ')) AS tok,
             sum(len(string_split(text, ' '))) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS e
      FROM documents
    ), s AS (SELECT lang, doc_id, tok, e - tok AS st, e FROM t)
    SELECT lang, doc_id, CAST(c AS BIGINT) AS chunk_id,
           CAST(least(e, (c + 1) * 512) - greatest(st, c * 512) AS BIGINT)
             AS tok_in_chunk
    FROM s, unnest(generate_series(CAST(st // 512 AS BIGINT),
                                   CAST((e - 1) // 512 AS BIGINT))) AS u(c)
    """,
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing — the standard LLM-pretraining
    batching transform: per language stream, documents are concatenated
    in doc_id order and cut into fixed 512-token chunks; a document
    straddling a cut contributes to both chunks. Output is the
    (doc, chunk) incidence with per-chunk token spans — exactly what a
    packed-dataset writer materializes.

    Scale: ONE window shuffle per stream (running token sum), then a
    codegen projection + bounded explode (a doc spans ⌈tok/512⌉+1 chunks
    max). At 100 TB the stream key becomes (lang, hash-shard) so no
    single partition holds a language's whole corpus; chunk ids then
    offset by a per-shard cumsum exactly like the split-parallel
    sessionizer's record ids (PLANS.md finding 11)."""
    B = 512
    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = (
        docs.select(
            "lang",
            "doc_id",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("tok"),
        )
        .withColumn("e", F.sum("tok").over(w))
        .withColumn("st", F.col("e") - F.col("tok"))
    )
    out = s.select(
        "lang",
        "doc_id",
        F.explode(
            F.sequence(
                F.floor(F.col("st") / B), F.floor((F.col("e") - 1) / B)
            )
        ).alias("chunk_id"),
        "st",
        "e",
    )
    span = F.least(F.col("e"), (F.col("chunk_id") + 1) * B) - F.greatest(
        F.col("st"), F.col("chunk_id") * B
    )
    return out.select(
        "lang", "doc_id", "chunk_id", span.cast("long").alias("tok_in_chunk")
    )


@query(
    "quality_percentile_gate",
    oracle="""
    WITH q AS (
      SELECT doc_id, source,
             round(0.5 * (len(list_filter(string_split(lower(text), ' '),
                             t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and'))::DOUBLE
                          / len(string_split(lower(text), ' ')))
                 + 0.3 * least(len(string_split(text, ' ')) / 100.0, 1.0)
                 - 0.2 * (len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))::DOUBLE
                          / length(text)),
               4) AS quality
      FROM documents
    )
    SELECT doc_id, source, quality, round(pr, 6) AS pr FROM (
      SELECT doc_id, source, quality,
             percent_rank() OVER (PARTITION BY source
                                  ORDER BY quality, doc_id) AS pr
      FROM q
    ) WHERE pr >= 0.75
    """,
)
def quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source relative quality gate: keep each source's top quartile
    by heuristic quality score (percent_rank over (quality, doc_id) — a
    total order, so the kept set is deterministic on both engines).

    Relative-to-source gating is what mixture curation actually uses: an
    absolute threshold would empty low-register sources entirely instead
    of keeping their best quartile. Scale: one window shuffle on source
    (the skew key is the big web crawl — salt to (source, shard) and
    approximate the rank per shard, or use approx percentile cutoffs
    joined back, when one source dominates)."""
    from kdcloganalyzer_spark.functions import text as TX

    docs = load_table(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id", "source", TX.quality_score(F.col("text")).alias("quality")
    )
    w = Window.partitionBy("source").orderBy("quality", "doc_id")
    return (
        q.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") >= 0.75)
        .select("doc_id", "source", "quality", F.round("pr", 6).alias("pr"))
    )


@query(
    "sample_temperature_mixture",
    oracle="""
    WITH c AS (
      SELECT source, count(*) AS n, sqrt(count(*)) AS s FROM documents
      GROUP BY source
    ),
    t AS (
      SELECT source, n,
             CAST(floor(round(least(
               1.0,
               (0.5 * (sum(n) OVER ()) * s / n) / (sum(s) OVER ())
             ) * 10000, 4)) AS BIGINT) AS thresh
      FROM c
    ),
    k AS (
      SELECT d.source, t.n, t.thresh,
             ((d.doc_id % 1000003) * 31 + 7) % 10000 AS bucket
      FROM documents d JOIN t USING (source)
    )
    SELECT source, n AS n_total, thresh,
           CAST(sum(CASE WHEN bucket < thresh THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept
    FROM k GROUP BY source, n, thresh
    """,
)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling (τ = 0.5) — the multilingual-
    pretraining reweighting: target share q_i ∝ p_i^τ flattens the source
    distribution, per-source keep rate r_i = min(1, q_i·N_target/n_i)
    with N_target = N/2, realized by the same engine-neutral
    multiplicative-hash bucket as ``sample_hash_mixture`` (so DuckDB
    reproduces the exact kept multiset, not just expectations).

    Scale: one count aggregation (tiny, source-cardinality), broadcast
    of the per-source thresholds, and a scan-side keep predicate — the
    sampling itself never shuffles the corpus. Upsampling (r_i > 1)
    would need explode-replication; capped at 1 here, as curation
    pipelines usually do before the epoch-level sampler."""
    docs = load_table(spark, sf_dir, "documents")
    # r15: the |sources|-row count table feeds the totals aggregate AND
    # the threshold projection — materialize once so the corpus count
    # pass doesn't execute per consumer.
    c = docs.groupBy("source").agg(F.count("*").alias("n")).localCheckpoint()
    tot = c.agg(
        F.sum("n").alias("n_all"), F.sum(F.sqrt("n")).alias("s_all")
    )
    t = (
        c.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n",
            F.floor(
                F.round(
                    F.least(
                        F.lit(1.0),
                        (0.5 * F.col("n_all") * F.sqrt("n") / F.col("n"))
                        / F.col("s_all"),
                    )
                    * 10000,
                    4,
                )
            ).alias("thresh"),
        )
    )
    bucket = ((F.col("doc_id") % 1000003) * 31 + 7) % 10000
    return (
        docs.select("source", bucket.alias("bucket"))
        .join(F.broadcast(t), "source")
        .groupBy("source", F.col("n").alias("n_total"), "thresh")
        .agg(
            F.sum((F.col("bucket") < F.col("thresh")).cast("bigint")).alias(
                "n_kept"
            )
        )
    )


# ---------------------------------------------------------------------------
# Bigram language-model quality score (CCNet/KenLM-style perplexity filter)
# ---------------------------------------------------------------------------
@query(
    "quality_bigram_lm",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    b AS (
      SELECT doc_id, ws[CAST(i AS INT)] AS w1, ws[CAST(i AS INT) + 1] AS w2
      FROM w, UNNEST(range(1, len(ws))) AS t(i)
    ),
    dbg AS (SELECT doc_id, w1, w2, count(*) AS m FROM b GROUP BY ALL),
    c2 AS (SELECT w1, w2, CAST(sum(m) AS BIGINT) AS c2
           FROM dbg GROUP BY ALL),
    c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
    v AS (SELECT count(*) AS v FROM c1)
    SELECT doc_id,
           CAST(sum(m) AS BIGINT) AS n_bigrams,
           CAST(sum(m * CAST(round(ln((c2 + 1.0) / (c1 + v)) * 1000000)
                             AS BIGINT)) AS BIGINT)
             AS sum_logp_u6
    FROM dbg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    GROUP BY doc_id
    """,
)
def quality_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram LM scored over its own documents — the perplexity
    quality signal (CCNet-style: filter docs whose add-one-smoothed
    log-likelihood under a corpus n-gram LM is poor). Emits per-doc
    bigram count and summed log-prob ln((c(w1,w2)+1)/(c(w1·)+V)) in
    integer MICRO-NATS (each per-term log rounds once to 1e-6, then
    sums as exact BIGINT), V = #distinct left-contexts; docs with <2
    tokens have no bigrams and drop out (both engines agree).

    Scale: the corpus-sized explode collapses immediately into the
    per-(doc, bigram) partial count (map-side combine), the LM tables
    c2/c1/V derive from ALREADY-aggregated frames (vocab-sized, never a
    second pass over the corpus), and the per-term micro-nat integer
    makes the doc sum exactly order-free (the prior round(sum(double))
    form was summation-order-dependent in principle).
    Wide ops: groupBy(doc,w1,w2) → groupBy(w1,w2) → join-back on (w1,w2)
    → groupBy(doc) — each key is either bigram- or doc-hashed, no skew
    hotter than the corpus's top bigram, which AQE splits."""
    docs = load_table(spark, sf_dir, "documents")
    ws = _words(F.col("text"))
    # struct-valued zip: the pair comes out as fields directly — no
    # concat-then-resplit string round-trip on the corpus-wide explode
    bg = docs.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(ws, 1, F.size(ws) - 1),
                F.slice(ws, 2, F.size(ws) - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    dbg = bg.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("m"))
    c2 = dbg.groupBy("w1", "w2").agg(F.sum("m").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    v = c1.agg(F.count("*").alias("v"))
    enr = c2.join(c1, "w1").crossJoin(F.broadcast(v))
    logp_u6 = F.round(
        F.log((F.col("c2") + F.lit(1.0)) / (F.col("c1") + F.col("v")))
        * 1000000
    ).cast("bigint")
    return (
        dbg.join(enr, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("m") * logp_u6).cast("bigint").alias("sum_logp_u6"),
        )
    )


# ---------------------------------------------------------------------------
# Consistent-hash per-group sampling (deterministic reservoir)
# ---------------------------------------------------------------------------
@query(
    "sample_consistent_topk",
    oracle="""
    SELECT source, doc_id, pri, CAST(rn AS INT) AS rn FROM (
      SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS pri,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 5
    """,
)
def sample_consistent_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source sample: keep the k=5 docs with the
    smallest md5 priority — a consistent-hash reservoir. Unlike RNG
    sampling this is stable under reruns, retries, and backfills (the
    same doc always wins), composable across partitions (min-k of a
    union = min-k of min-ks, the mergeable-bottom-k property), and
    engine-neutral, so DuckDB reproduces the exact kept set.

    Scale: one shuffle on the group key; rank-then-filter top-k. For
    heavily skewed groups the same priority column feeds a two-stage
    min-k (per-partition bottom-k, then merge) — the priority, not the
    mechanism, is the contract."""
    docs = load_table(spark, sf_dir, "documents")
    pri = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(pri.asc(), F.col("doc_id").asc())
    return (
        docs.select("source", "doc_id", pri.alias("pri"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("source", "doc_id", "pri", "rn")
    )


@query(
    "pipeline_corpus_report",
    oracle="""
    WITH t AS (
      SELECT doc_id, text, lang, n_chars FROM documents
    ), langs AS (
      SELECT lang FROM t GROUP BY lang
      ORDER BY count(*) DESC, lang ASC LIMIT 1
    )
    SELECT count(*) AS n_docs,
           CAST(count(DISTINCT text) AS BIGINT) AS n_unique_texts,
           round(1.0 - count(DISTINCT text)::DOUBLE / count(*), 6)
             AS dup_rate,
           round(avg(n_chars), 2) AS mean_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           (SELECT lang FROM langs) AS top_lang
    FROM t
    """,
)
def pipeline_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus health report — the snapshot dashboard a curation
    pipeline publishes per release: volume, exact-dup rate, mean doc
    length, language spread, dominant language. The monitoring end-cap
    over the per-doc operators (dedup_exact, lang_id_ngram,
    text_quality_score).

    Scale: ONE scan feeding a global aggregate; count(DISTINCT text) is
    the costly term and plans as the standard two-phase partial
    distinct (at 100 TB swap in approx_count_distinct, the
    users_few_services_approx pattern — exact here so the oracle
    hash-matches); the top-language subquery aggregates a |lang|-row
    frame. Output is a single row, so downstream alerting diffs
    snapshots for free."""
    docs = load_table(spark, sf_dir, "documents")
    top_lang = (
        docs.groupBy("lang")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("lang"))
        .limit(1)
    )
    report = docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("text").alias("n_unique_texts"),
        F.round(
            1.0 - F.countDistinct("text") / F.count("*"), 6
        ).alias("dup_rate"),
        F.round(F.avg("n_chars"), 2).alias("mean_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )
    return report.join(
        F.broadcast(top_lang.select(F.col("lang").alias("top_lang")))
    )


@query(
    "pipeline_corpus_release",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang, source, string_split(lower(text), ' ') AS ws, text
      FROM documents
    ), q AS (
      SELECT *,
             (len(ws) BETWEEN 5 AND 1000
              AND round(list_max(list_transform(list_distinct(ws),
                    w -> len(list_filter(ws, x -> x = w))))::DOUBLE
                    / len(ws), 4) <= 0.12) AS q_keep
      FROM w
    ), d AS (
      SELECT q.*, (doc_id = min(doc_id) OVER (PARTITION BY text)) AS d_keep
      FROM q
    ), l AS (
      SELECT doc_id, sum(CASE WHEN freq > 1 THEN 1 ELSE 0 END)::DOUBLE
                     / count(*) <= 0.3 AS l_keep
      FROM (
        SELECT doc_id, line FROM (
          SELECT doc_id, unnest(list_transform(
                   generate_series(0,
                     CAST(ceil(len(ws) / {_LINE_WORDS}.0) AS INT) - 1),
                   i -> array_to_string(list_slice(
                          ws, CAST(i * {_LINE_WORDS} + 1 AS INT),
                          CAST(i * {_LINE_WORDS} + {_LINE_WORDS} AS INT)),
                          ' '))) AS line
          FROM w)
      ) x JOIN (
        SELECT line, count(*) AS freq FROM (
          SELECT unnest(list_transform(
                   generate_series(0,
                     CAST(ceil(len(ws) / {_LINE_WORDS}.0) AS INT) - 1),
                   i -> array_to_string(list_slice(
                          ws, CAST(i * {_LINE_WORDS} + 1 AS INT),
                          CAST(i * {_LINE_WORDS} + {_LINE_WORDS} AS INT)),
                          ' '))) AS line
          FROM w)
        GROUP BY line
      ) g USING (line)
      GROUP BY doc_id
    ), s AS (
      SELECT doc_id,
             ((doc_id % 1000003) * 31 + 7) % 100
               < ((CAST(substr(source, 4) AS INT) % 4) + 1) * 20 AS s_keep
      FROM w
    ), surv AS (
      SELECT d.doc_id, d.lang, len(d.ws) AS n_tok
      FROM d JOIN l USING (doc_id) JOIN s USING (doc_id)
      WHERE d.q_keep AND d.d_keep AND l.l_keep AND s.s_keep
    ), t AS (
      SELECT lang, doc_id, n_tok,
             sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS e
      FROM surv
    ), sp AS (SELECT lang, doc_id, n_tok, e - n_tok AS st, e FROM t),
    ch AS (
      SELECT lang, doc_id, c,
             least(e, (c + 1) * 512) - greatest(st, c * 512) AS tic
      FROM sp, unnest(generate_series(CAST(st // 512 AS BIGINT),
                                      CAST((e - 1) // 512 AS BIGINT))) u(c)
    )
    SELECT lang, CAST(c AS BIGINT) AS chunk_id, count(*) AS n_docs,
           CAST(sum(tic) AS BIGINT) AS n_tokens
    FROM ch GROUP BY lang, c
    """,
)
def pipeline_corpus_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DELIVERABLE behind pipeline_corpus_funnel's report: survivors
    of all four curation stages (quality ∧ exact-dedup ∧ line-dedup ∧
    mixture), concat-and-chunked per language into 512-token training
    sequences — the packed-manifest a release publishes
    ((lang, chunk_id) → docs, tokens; every chunk full at 512 except
    each stream's last).

    One DAG end-to-end: the shared _funnel_flags frame (three shuffles)
    feeds a per-language running-sum window and a bounded explode, then
    one chunk-keyed aggregate — curation THROUGH packing without
    re-scanning the corpus per stage. At 100 TB the stream key becomes
    (lang, hash-shard) with per-shard chunk-id offsets, exactly the
    split-parallel sessionizer's id discipline (PLANS.md finding 11)."""
    B = 512
    m = _funnel_flags(spark, sf_dir)
    surv = m.filter(
        F.col("q_keep") & F.col("d_keep") & F.col("l_keep") & F.col("s_keep")
    ).select("doc_id", "lang", "n_tok")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sp = (
        surv.withColumn("e", F.sum("n_tok").over(w))
        .withColumn("st", F.col("e") - F.col("n_tok"))
    )
    ch = sp.select(
        "lang",
        "doc_id",
        F.explode(
            F.sequence(
                F.floor(F.col("st") / B), F.floor((F.col("e") - 1) / B)
            )
        ).alias("chunk_id"),
        "st",
        "e",
    ).select(
        "lang",
        "chunk_id",
        (
            F.least(F.col("e"), (F.col("chunk_id") + 1) * B)
            - F.greatest(F.col("st"), F.col("chunk_id") * B)
        ).alias("tic"),
    )
    return ch.groupBy("lang", "chunk_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("tic").cast("bigint").alias("n_tokens"),
    )


@query(
    "sample_weighted_reservoir",
    oracle="""
    WITH p AS (
      SELECT source, doc_id, n_chars,
             pow((('0x' || substr(md5('wrs:' || doc_id), 1, 15))::BIGINT
                   % 1048576) / 1048576.0 + 1e-9,
                 1.0 / n_chars) AS pr
      FROM documents WHERE n_chars > 0
    ), r AS (
      SELECT source, doc_id, pr,
             row_number() OVER (PARTITION BY source
                                ORDER BY pr DESC, doc_id ASC) AS rn
      FROM p
    )
    SELECT source, doc_id, round(pr, 6) AS pr_r FROM r WHERE rn <= 5
    """,
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis-
    Spirakis A-ES priority (u^(1/w), u uniform, w = n_chars): the top-5
    priorities per source are a weight-proportional sample — the
    length-weighted document picker a curation pipeline uses when long
    documents should be over-represented, and the weighted complement
    of sample_consistent_topk's unweighted min-k. The uniform comes
    from the cross-engine 60-bit md5 hash (20 low bits / 2²⁰, +1e-9 so
    u>0), so the sample is DETERMINISTIC and the oracle reproduces the
    exact selection — a seeded rand() could never hash-verify.

    Scale: A-ES priorities are mergeable (global top-k of per-partition
    top-k), so the plan is one codegen projection + a per-source rank
    window — at 100 TB swap the window for the two-level top-k
    aggregate, same as any distributed reservoir. Priorities differ
    across docs by ≫ float-ulp (distinct 20-bit uniforms, smooth pow),
    so cross-engine libm rounding cannot flip the selection; pr is
    rounded at 1e-6 for the value hash."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("wrs:"), F.col("doc_id"))), 1, 15),
            16,
            10,
        ).cast("bigint")
        % 1048576
    ) / F.lit(1048576.0) + F.lit(1e-9)
    pr = F.pow(u, 1.0 / F.col("n_chars"))
    w = Window.partitionBy("source").orderBy(
        F.desc("pr"), F.asc("doc_id")
    )
    return (
        docs.select("source", "doc_id", pr.alias("pr"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("source", "doc_id", F.round("pr", 6).alias("pr_r"))
    )


# ---------------------------------------------------------------------------
# Dedup impact report (the pre-training "how much would each method cut")
# ---------------------------------------------------------------------------
@query(
    "pipeline_dedup_report",
    oracle=r"""
    WITH nrm AS (
      SELECT doc_id, n_chars,
             lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
      FROM documents
    ), ex AS (
      SELECT count(*) AS n, count(DISTINCT text) AS kept,
             CAST(sum(n_chars) AS BIGINT) AS chars
      FROM documents
    ), nx AS (
      SELECT count(*) AS n, count(DISTINCT norm) AS kept,
             CAST(sum(n_chars) AS BIGINT) AS chars
      FROM nrm
    ), d AS (
      SELECT doc_id, lang, source,
             list_distinct(string_split(lower(text), ' ')) AS words
      FROM documents
    ), jd AS (
      SELECT DISTINCT b.doc_id
      FROM d a JOIN d b
        ON a.lang = b.lang AND a.source = b.source
       AND a.doc_id < b.doc_id
      WHERE round(len(list_intersect(a.words, b.words))::DOUBLE /
                  (len(a.words) + len(b.words)
                   - len(list_intersect(a.words, b.words))), 6) >= 0.9
    )
    SELECT 'exact' AS method, n AS n_docs, kept AS n_kept,
           n - kept AS n_dropped FROM ex
    UNION ALL
    SELECT 'norm_exact', n, kept, n - kept FROM nx
    UNION ALL
    SELECT 'jaccard90', ex.n, ex.n - (SELECT count(*) FROM jd),
           (SELECT count(*) FROM jd)
    FROM ex
    """,
)
def pipeline_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup IMPACT report: for each dedup method — byte-exact,
    normalized-exact (lowercase + whitespace collapse), and word-set
    Jaccard ≥ 0.9 — how many documents the corpus would keep vs drop.
    This is the audit every pre-training data team runs BEFORE choosing
    a dedup tier (exact is free, normalization catches trivial
    variants, near-dup costs a pair join): one table, method per row,
    directly comparable counts. Hash-verified end-to-end because all
    three membership rules are exact functions of the corpus.

    Scale: the two exact tiers are single groupBy-style distinct
    aggregates (partial-agg'd count-distinct — at 100 TB swap for
    approx_count_distinct or a two-stage md5 groupBy); the near-dup
    tier reuses the SAME prefix-filtered lossless pair join as
    dedup_ngram_jaccard (shared per-(session,sf) word-set table, AQE
    skew-split on hot tokens per tests/test_prefix_join_skew.py). The
    three 1-row aggregates union into a 3-row report — no joins
    between them, so no BNLJ."""
    from kdcloganalyzer_spark.operators import dedup
    from kdcloganalyzer_spark.plans.llm_pipeline import _wordsets

    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    # r15 (guide §2.4): the exact and norm-exact tiers each ran their
    # own corpus scan + distinct aggregate as separate union branches;
    # one multi-distinct aggregate computes both in a single pass, then
    # a 2-struct literal explode emits the two report rows.
    wide = docs.select("text", norm.alias("norm")).agg(
        F.count("*").alias("n"),
        F.countDistinct("text").alias("k_exact"),
        F.countDistinct("norm").alias("k_norm"),
    )
    exnx = wide.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("exact").alias("method"),
                    F.col("n").alias("n_docs"),
                    F.col("k_exact").alias("n_kept"),
                    (F.col("n") - F.col("k_exact")).alias("n_dropped"),
                ),
                F.struct(
                    F.lit("norm_exact").alias("method"),
                    F.col("n").alias("n_docs"),
                    F.col("k_norm").alias("n_kept"),
                    (F.col("n") - F.col("k_norm")).alias("n_dropped"),
                ),
            )
        ).alias("r")
    ).select("r.method", "r.n_docs", "r.n_kept", "r.n_dropped")
    dropped = (
        dedup.ngram_jaccard_pairs_prefix(
            docs, 0.9, prepped=_wordsets(spark, sf_dir)
        )
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    # doc_id-keyed left join (never a 1-row cross join → no BNLJ): flag
    # each doc, then one aggregate produces the jaccard row.
    jd = (
        docs.select("doc_id")
        .join(dropped, "doc_id", "left")
        .agg(
            F.lit("jaccard90").alias("method"),
            F.count("*").alias("n_docs"),
            (F.count("*") - F.count("is_dropped")).alias("n_kept"),
            F.count("is_dropped").alias("n_dropped"),
        )
    )
    return exnx.unionByName(jd)


# ---------------------------------------------------------------------------
# URL canonicalization dedup (the CommonCrawl-style crawl-frontier audit)
# ---------------------------------------------------------------------------
@query(
    "dedup_url_canonical",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'HTTPS://WWW.Example' || (doc_id % 7) || '.COM'
             || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END
             || '/path' || (doc_id % 50)
             || CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END
             || CASE WHEN doc_id % 4 = 2
                     THEN '/?utm_source=feed&id=' || (doc_id % 100)
                     ELSE '' END
             || CASE WHEN doc_id % 4 = 3 THEN '#frag' || doc_id
                     ELSE '' END AS url
      FROM documents
    ), c AS (
      SELECT doc_id,
             regexp_replace(
               replace(
                 replace(
                   regexp_replace(
                     regexp_replace(lower(url), '#.*$', ''),
                     '[?&]utm_[^&#]*', '', 'g'),
                   '.com:443/', '.com/'),
                 '/&', '/?'),
               '/$', '') AS canon
      FROM u
    )
    SELECT canon, count(*) AS n_variants,
           CAST(min(doc_id) AS BIGINT) AS keep_id
    FROM c GROUP BY canon
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL CANONICALIZATION dedup — the crawl-frontier / CommonCrawl
    ingest step that collapses scheme-case, default-port, fragment,
    tracking-parameter, and trailing-slash variants of the same page
    before any content dedup runs (cheapest tier of the dedup ladder:
    pure per-row string normalization, no pairs at all). URLs are
    synthesized deterministically from doc_id (like text_pii_scrub's
    planted PII) with four variant decorations; canonicalization
    lowercases, drops the fragment, strips ``utm_*`` params and the
    explicit :443 default port, and removes the trailing slash — then
    one groupBy(canon) yields keep-lowest-id groups. (Simplification
    documented: real canonicalizers lowercase only scheme+host and
    sort remaining query params; both engines here apply byte-identical
    simple replaces so the driver hash-verifies the normalization.)

    Scale: canonicalization is a codegen projection evaluated at the
    scan — rejected duplicates collapse in the single partial-agg'd
    groupBy on the canonical key; at 100 TB this is the map-side-combine
    shape (variants of one URL are ~always colocated-in-time, so
    partial aggregation removes most rows before the exchange)."""
    docs = load_table(spark, sf_dir, "documents")
    m4 = F.col("doc_id") % 4
    url = F.concat(
        F.lit("HTTPS://WWW.Example"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM"),
        F.when(m4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/path"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(m4 == 1, F.lit("/")).otherwise(F.lit("")),
        F.when(
            m4 == 2,
            F.concat(
                F.lit("/?utm_source=feed&id="),
                (F.col("doc_id") % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            m4 == 3, F.concat(F.lit("#frag"), F.col("doc_id").cast("string"))
        ).otherwise(F.lit("")),
    )
    canon = F.regexp_replace(
        F.expr(
            "replace(replace("
            "regexp_replace(regexp_replace(lower(url), '#.*$', ''),"
            "               '[?&]utm_[^&#]*', ''),"
            "'.com:443/', '.com/'), '/&', '/?')"
        ),
        "/$",
        "",
    )
    return (
        docs.select("doc_id", url.alias("url"))
        .select("doc_id", canon.alias("canon"))
        .groupBy("canon")
        .agg(
            F.count("*").alias("n_variants"),
            F.min("doc_id").alias("keep_id"),
        )
    )


# ---------------------------------------------------------------------------
# Quality-rule attribution (which gate kills what)
# ---------------------------------------------------------------------------
from kdcloganalyzer_spark.plans.registry import ORACLES as _ORACLES

_GOPHER_SQL = _ORACLES["quality_gopher_repetition"]


@query(
    "quality_rule_attribution",
    oracle=f"""
    WITH g AS ({_GOPHER_SQL}),
    flags AS (
      SELECT doc_id,
             (n_words < 5) AS r_short,
             (n_words > 1000) AS r_long,
             (mean_word_len < 2 OR mean_word_len > 12) AS r_word_len,
             (top_word_frac > 0.3) AS r_top_word,
             (dup_bigram_frac > 0.6) AS r_repetition
      FROM g
    ), n AS (
      SELECT doc_id,
             CAST(r_short AS INT) + CAST(r_long AS INT)
             + CAST(r_word_len AS INT) + CAST(r_top_word AS INT)
             + CAST(r_repetition AS INT) AS n_fail,
             r_short, r_long, r_word_len, r_top_word, r_repetition
      FROM flags
    ), e AS (
      SELECT rule, fails, n_fail FROM n
      UNPIVOT (fails FOR rule IN (r_short, r_long, r_word_len,
                                  r_top_word, r_repetition))
    )
    SELECT rule,
           CAST(count(*) FILTER (fails) AS BIGINT) AS n_failing,
           CAST(count(*) FILTER (fails AND n_fail = 1) AS BIGINT)
             AS n_exclusive
    FROM e GROUP BY rule
    """,
)
def quality_rule_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate ATTRIBUTION: for each Gopher-style rule, how many
    documents it fails and how many it fails EXCLUSIVELY (no other rule
    fires) — the audit a curation team runs before tuning thresholds: a
    rule with zero exclusive kills is redundant; one with many is doing
    unshared work. Composes the registered quality_gopher_repetition
    metrics (one source of truth for the per-doc signals — the oracle
    embeds that query's SQL as a CTE, so the two ids can never drift).

    Scale: per-doc flags are pure projections over the gopher metric
    output (codegen HOF folds, no shuffle); the rule explode (unpivot,
    ×5 rows) feeds one partial-agg'd 5-key groupBy. Counting exclusive
    kills needs the per-doc fail COUNT, computed in the same
    projection — no self-join."""
    g = registry_query("quality_gopher_repetition")(spark, sf_dir)
    flags = g.select(
        "doc_id",
        (F.col("n_words") < 5).alias("r_short"),
        (F.col("n_words") > 1000).alias("r_long"),
        (
            (F.col("mean_word_len") < 2) | (F.col("mean_word_len") > 12)
        ).alias("r_word_len"),
        (F.col("top_word_frac") > 0.3).alias("r_top_word"),
        (F.col("dup_bigram_frac") > 0.6).alias("r_repetition"),
    )
    rules = ["r_short", "r_long", "r_word_len", "r_top_word",
             "r_repetition"]
    n_fail = sum(F.col(r).cast("int") for r in rules)
    n = flags.withColumn("n_fail", n_fail)
    e = n.select(
        "n_fail",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("rule"), F.col(r).alias("fails")
                    )
                    for r in rules
                ]
            )
        ).alias("rf"),
    ).select("n_fail", "rf.rule", "rf.fails")
    return e.groupBy("rule").agg(
        F.count(F.when(F.col("fails"), 1)).cast("bigint").alias(
            "n_failing"
        ),
        F.count(
            F.when(F.col("fails") & (F.col("n_fail") == 1), 1)
        ).cast("bigint").alias("n_exclusive"),
    )


def registry_query(qid: str):
    """Late import avoiding a registry lookup at module import time."""
    from kdcloganalyzer_spark.plans.registry import QUERIES

    return QUERIES[qid]


# ---------------------------------------------------------------------------
# N-gram novelty (dataset-order memorization/novelty signal)
# ---------------------------------------------------------------------------
# Distinct (doc_id, 3-gram) table shared by the novelty family: both the
# global and the incremental form read it, so the corpus is exploded once
# per session.
@appcache.amortized({"text_ngram_novelty", "text_ngram_novelty_incremental"})
def _novelty_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    ws = F.split(F.lower(F.col("text")), " ")
    grams = (
        docs.where(F.size(ws) >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(split(lower(text),"
                    " ' ')) - 2),"
                    " i -> concat_ws(' ',"
                    "  slice(split(lower(text), ' '), i, 3)))"
                )
            ).alias("gram"),
        )
        .dropDuplicates(["doc_id", "gram"])
    )
    return grams.localCheckpoint(eager=False)


@query(
    "text_ngram_novelty",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ), g AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(ws) - 2),
               i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1]
                    || ' ' || ws[CAST(i AS INT) + 2])) AS gram
      FROM w WHERE len(ws) >= 3
    ), d AS (
      SELECT DISTINCT doc_id, gram FROM g
    ), first_seen AS (
      SELECT gram, min(doc_id) AS first_doc FROM d GROUP BY gram
    )
    SELECT d.doc_id,
           count(*) AS n_grams,
           CAST(count(*) FILTER (f.first_doc = d.doc_id) AS BIGINT)
             AS n_novel,
           round(count(*) FILTER (f.first_doc = d.doc_id)::DOUBLE
                 / count(*), 6) AS novelty
    FROM d JOIN first_seen f ON f.gram = d.gram
    GROUP BY d.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM NOVELTY per document in dataset order: the fraction of a
    doc's distinct 3-grams whose FIRST corpus occurrence (min doc_id)
    is this doc — the streaming-ingest novelty curve a curation
    pipeline watches to decide when a source has stopped contributing
    new content (novelty → 0 means you're re-crawling what you have;
    the complement is the memorization-risk mass). Deterministic: the
    first-seen attribution is min(doc_id), an exact function of the
    corpus, and the ratio divides exact integers.

    Scale: distinct-gram explode → min-groupBy on the gram hash →
    join-back on the same key — the dedup_lines_global shape (two
    co-partitioned shuffles, partial-agg'd, AQE-skew-safe on
    boilerplate grams); nothing pairwise. On a growing corpus the
    first_seen table is the standing index, maintained incrementally
    per ingest batch (new grams insert, existing ones win by min)."""
    grams = _novelty_grams(spark, sf_dir)
    first_seen = grams.groupBy("gram").agg(
        F.min("doc_id").alias("first_doc")
    )
    return _novelty_by_doc(grams.join(first_seen, "gram"))


def _novelty_by_doc(joined: DataFrame) -> DataFrame:
    """Per doc: distinct grams, grams first seen in this doc
    (first_doc = doc_id), and their ratio."""
    novel = F.count(
        F.when(F.col("first_doc") == F.col("doc_id"), 1)
    )
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        novel.cast("bigint").alias("n_novel"),
        F.round(novel.cast("double") / F.count("*"), 6).alias("novelty"),
    )


@query(
    "text_ngram_novelty_incremental",
    oracle="""
    WITH thr AS (
      SELECT CAST((min(doc_id) + max(doc_id)) // 2 AS BIGINT) AS t
      FROM documents
    ), w AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ), g AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(ws) - 2),
               i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1]
                    || ' ' || ws[CAST(i AS INT) + 2])) AS gram
      FROM w WHERE len(ws) >= 3
    ), d AS (
      SELECT DISTINCT doc_id, gram FROM g
    ), first_seen AS (
      SELECT gram, min(doc_id) AS first_doc FROM d GROUP BY gram
    )
    SELECT d.doc_id,
           count(*) AS n_grams,
           CAST(count(*) FILTER (f.first_doc = d.doc_id) AS BIGINT)
             AS n_novel,
           round(count(*) FILTER (f.first_doc = d.doc_id)::DOUBLE
                 / count(*), 6) AS novelty
    FROM d JOIN first_seen f ON f.gram = d.gram
    WHERE d.doc_id > (SELECT t FROM thr)
    GROUP BY d.doc_id
    """,
)
def text_ngram_novelty_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM NOVELTY, INCREMENTAL DELTA-VS-BASE FORM — the "standing
    first-seen index" form of ``text_ngram_novelty``. The corpus is
    split at the doc_id midpoint into a BASE (already-ingested) half
    and a DELTA (new ingest batch); the base contributes only its
    distinct-gram INDEX, and novelty is computed for delta docs alone:
    a delta gram is novel iff it misses the base index (left-anti
    probe) AND this doc is min(doc_id) among delta docs carrying it.

    The ORACLE is the full-corpus first-seen computation restricted to
    delta docs — so a hash match IS the first-seen-stability proof:
    feeding the corpus in two batches through the index yields
    bit-identical novelty to the single-pass global run. That is the
    invariant an incremental ingest pipeline relies on.

    Scale: per-batch cost is O(delta grams) — explode + distinct on
    the delta only, one anti-join probe into the standing index
    (co-partitioned on gram, the only touch of base state), one
    min-groupBy over delta grams, one join-back. The base corpus is
    never re-exploded; on a real pipeline the index table is a
    bucketed-by-gram parquet/Delta table that each batch appends its
    new grams to (insert-if-absent = the same anti join). The doc_id
    midpoint is a 1-row aggregate collected driver-side (sanctioned
    bounded control scalar)."""
    docs = load_table(spark, sf_dir, "documents")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    thr = (int(lo) + int(hi)) // 2
    grams = _novelty_grams(spark, sf_dir)
    base_index = (
        grams.where(F.col("doc_id") <= thr).select("gram").distinct()
    )
    delta_grams = grams.where(F.col("doc_id") > thr)
    unseen = delta_grams.join(base_index, "gram", "left_anti")
    delta_first = unseen.groupBy("gram").agg(
        F.min("doc_id").alias("first_doc")
    )
    return _novelty_by_doc(delta_grams.join(delta_first, "gram", "left"))


# ---------------------------------------------------------------------------
# Deterministic Poisson bootstrap (sampling-with-replacement epochs)
# ---------------------------------------------------------------------------
_POIS1_CDF = [
    (0.36787944117144233, 0),
    (0.7357588823428847, 1),
    (0.9196986029286058, 2),
    (0.9810118431238462, 3),
    (0.9963401531726563, 4),
    (0.9994058151824183, 5),
    (0.9999167588507119, 6),
]


def _pois_case_sql(u: str) -> str:
    """CASE ladder mapping a uniform [0,1) value to Poisson(1) count —
    identical text on both engines, so the draw is cross-engine exact."""
    whens = " ".join(
        f"WHEN {u} < {c!r} THEN {k}" for c, k in _POIS1_CDF
    )
    return f"CASE {whens} ELSE 7 END"


@query(
    "sample_poisson_bootstrap",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             ('0x' || substr(md5('boot7#' || CAST(doc_id AS VARCHAR)),
                             1, 15))::BIGINT
               / 1152921504606846976.0 AS u
      FROM documents
    ), k AS (
      SELECT doc_id, source, {_pois_case_sql('u')} AS n_copies FROM d
    )
    SELECT source,
           count(*) AS n_input,
           CAST(sum(n_copies) AS BIGINT) AS n_resampled,
           CAST(count(*) FILTER (n_copies = 0) AS BIGINT) AS n_dropped,
           CAST(count(*) FILTER (n_copies >= 2) AS BIGINT) AS n_dup,
           CAST(max(n_copies) AS INT) AS max_copies
    FROM k GROUP BY source
    """,
)
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC POISSON BOOTSTRAP — sampling WITH replacement, the
    primitive behind bagged models and multi-epoch data schedules: each
    doc independently draws its copy count from Poisson(1) (the n→∞
    limit of n-choose-with-replacement), so one scan materializes a
    bootstrap resample. The draw is the inverse-CDF of a SEEDED md5
    uniform (the cross-engine 60-bit idiom over 'boot7#'||doc_id), so
    the resample is an exact function of (corpus, seed): reproducible
    across engines, restarts, and partitionings — Spark's own
    rdd.sample can't promise that under repartitioning. Output is the
    per-source resample audit (kept/dropped/duplicated mass); the
    resampled corpus itself is `explode(sequence(1, n_copies))` on the
    same expression — map-only either way.

    Scale: pure map + one tiny source-keyed agg; no shuffle touches
    doc content. New epoch = new seed literal. Poisson thinning per
    source (mixture weights) = scale λ per source before the ladder."""
    docs = load_table(spark, sf_dir, "documents")
    k = docs.select(
        "source",
        F.expr(_pois_case_sql(
            "(CAST(conv(substring(md5(concat('boot7#',"
            " CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
            " / 1152921504606846976.0)"
        )).alias("n_copies"),
    )
    return k.groupBy("source").agg(
        F.count("*").alias("n_input"),
        F.sum("n_copies").cast("bigint").alias("n_resampled"),
        F.count(F.when(F.col("n_copies") == 0, 1))
        .cast("bigint")
        .alias("n_dropped"),
        F.count(F.when(F.col("n_copies") >= 2, 1))
        .cast("bigint")
        .alias("n_dup"),
        F.max("n_copies").cast("int").alias("max_copies"),
    )


@query(
    "quality_hashed_linear_score",
    oracle="""
    WITH w AS (
      SELECT doc_id, source,
             (('0x' || substr(md5(u.word), 1, 15))::BIGINT % 1024)
               AS bucket
      FROM documents,
           LATERAL (SELECT unnest(string_split(text, ' ')) AS word) u
    ),
    scored AS (
      SELECT doc_id, source,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum((bucket * 31 + 7) % 2001 - 1000) AS BIGINT)
               AS w_sum
      FROM w GROUP BY doc_id, source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN w_sum > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(w_sum) AS BIGINT) AS sum_score,
           CAST(min(w_sum) AS BIGINT) AS min_score,
           CAST(max(w_sum) AS BIGINT) AS max_score
    FROM scored
    GROUP BY source
    """,
)
def quality_hashed_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASHED LINEAR QUALITY MODEL — the fastText-shaped scorer every
    production quality gate actually runs: feature-hash each token into
    a fixed bucket space (here 1024 via the cross-engine 60-bit md5
    idiom), look up an integer weight per bucket (deterministic
    pseudo-weights here; a trained model would broadcast its weight
    array), sum per document, threshold. All integer arithmetic, so the
    per-source score distribution hash-verifies exactly.

    Scale: tokenize-explode is a flatMap; the per-doc sum partial-
    aggregates map-side before ONE shuffle on doc_id, then the tiny
    per-source rollup. A real model swaps the closed-form weight for
    `weights[bucket]` against a broadcast 2^18-float array — same plan,
    same single shuffle; hashing-trick inference is embarrassingly
    parallel at any corpus size. Feature hashing (Weinberger et al.
    2009) is what makes vocabulary size a non-problem at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        "source",
        F.explode(F.split("text", " ")).alias("word"),
    ).select(
        "doc_id",
        "source",
        F.expr(
            "CAST(conv(substring(md5(word), 1, 15), 16, 10) AS BIGINT)"
            " % 1024"
        ).alias("bucket"),
    )
    scored = w.groupBy("doc_id", "source").agg(
        F.count("*").alias("n_words"),
        F.sum((F.col("bucket") * 31 + 7) % 2001 - 1000)
        .cast("bigint")
        .alias("w_sum"),
    )
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("w_sum") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum("w_sum").cast("bigint").alias("sum_score"),
        F.min("w_sum").alias("min_score"),
        F.max("w_sum").alias("max_score"),
    )


@query(
    "text_source_drift",
    oracle="""
    WITH w AS (
      SELECT source, unnest(string_split(text, ' ')) AS word
      FROM documents WHERE source IN ('src0', 'src1')
    ),
    c AS (
      SELECT word,
             CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_a,
             CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_b
      FROM w GROUP BY word
    ),
    t AS (SELECT CAST(sum(c_a) AS BIGINT) AS n_a,
                 CAST(sum(c_b) AS BIGINT) AS n_b FROM c)
    SELECT word, c_a, c_b,
           CAST((c_a * t.n_b - c_b * t.n_a) * (c_a * t.n_b - c_b * t.n_a)
             // ((c_a + c_b) * t.n_a * t.n_b) AS BIGINT) AS drift_stat
    FROM c, t
    WHERE c_a + c_b >= 20
    ORDER BY drift_stat DESC, word
    LIMIT 15
    """,
)
def text_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTION-DRIFT REPORT — which words most distinguish two
    corpus slices (here sources 'src0' vs 'src1'): the χ²-style
    per-word statistic (c_a·N_b − c_b·N_a)² / ((c_a+c_b)·N_a·N_b),
    computed in exact integer cross-multiplications (one integer
    division per word at the end — the ranking is division-stable
    because numerators are exact). Top-15 under a total order. The
    same report between a training corpus and an incoming crawl is the
    drift monitor every data pipeline runs before mixing.

    Scale: one tokenize-explode feeding ONE partial-agg'd word count
    with both slice counters as conditional sums (a single shuffle —
    never one count per slice); the corpus totals are a 1-row summary
    cross-joined onto the VOCABULARY table (summary×vocabulary — the
    sanctioned tier, and vocabulary is Heaps-bounded); top-15 is
    TakeOrdered. Integer guard: c·N ≤ 1e6·1e8 = 1e14, squared ≈ 1e28 —
    EXCEEDS BIGINT at web scale, so the production form divides by
    (c_a+c_b) BEFORE squaring or moves to DECIMAL(38); at driver SFs
    the exact form holds (≤ 4e17, asserted by ANSI overflow checks)."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("source").isin("src0", "src1")
    )
    w = docs.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    )
    c = w.groupBy("word").agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0))
        .cast("bigint")
        .alias("c_a"),
        F.sum(F.when(F.col("source") == "src1", 1).otherwise(0))
        .cast("bigint")
        .alias("c_b"),
    )
    tot = c.agg(
        F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b")
    ).collect()[0]
    n_a, n_b = int(tot["n_a"]), int(tot["n_b"])
    return (
        c.where(F.col("c_a") + F.col("c_b") >= 20)
        .select(
            "word",
            "c_a",
            "c_b",
            F.expr(
                f"(c_a * {n_b} - c_b * {n_a}) * (c_a * {n_b} - c_b * {n_a})"
                f" div ((c_a + c_b) * {n_a} * {n_b})"
            ).alias("drift_stat"),
        )
        .orderBy(F.desc("drift_stat"), "word")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Training-mix curation: per-source quota sampling (window or two-phase)
# ---------------------------------------------------------------------------
@query(
    "pipeline_quota_sampler",
    oracle="""
    SELECT doc_id, source, CAST(rk AS INT) AS sample_rank FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    ) WHERE rk <= 120
    """,
)
def pipeline_quota_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source QUOTA sampling for training-mix curation: every source
    contributes at most 120 documents, chosen by the deterministic
    md5(doc_id) rank — the reproducible stand-in for 'uniformly at
    random per source' that survives reruns, backfills and engine
    changes (the sampling decision is a pure function of the key, the
    same contract as sample_stratified_md5, but with an exact per-group
    COUNT cap, which Bernoulli sampling cannot give).

    Scale: one shuffle on source + a rank window. Sources are few and
    can be huge (the classic skew), so at 100 TB the window form is
    replaced by the two-phase top-K (the ``_twophase`` form):
    per-split bottom-k partial results, then a quota-sized merge per
    source — same semantics, no full per-source sort; AQE skew-split
    covers the window form in the meantime. The md5 rank also means INCREMENTAL
    ingestion keeps prior picks stable except at the quota boundary."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= 120)
        .withColumn("sample_rank", F.col("sample_rank").cast("int"))
    )


#: Shared oracle text (identical rows => identical SQL twin).
QUOTA_ORACLE = """
    SELECT doc_id, source, CAST(rk AS INT) AS sample_rank FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    ) WHERE rk <= 120
"""


@query("pipeline_quota_sampler_twophase", oracle=QUOTA_ORACLE)
def pipeline_quota_sampler_twophase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source quota sampling via the TWO-PHASE top-K — the 100 TB
    form of ``pipeline_quota_sampler``. The window form
    shuffles the FULL corpus onto |sources| reducers and sorts each
    source's entire population; with few, huge sources that is the
    canonical skew bottleneck. Here phase 1 runs INSIDE each input
    split with zero movement: an Arrow-batched ``mapInPandas`` keeps
    only each batch's per-source 120 smallest (md5, doc_id) keys, so at
    most quota × batches × sources candidate rows ever leave the scan —
    at 100 TB that is the difference between shuffling the corpus and
    shuffling kilobytes per task. Phase 2 ranks the surviving
    candidates with the same total order and keeps the true top-120;
    because every phase-1 survivor set contains its split's true
    per-source top-120, the merge is exact (mergeable bottom-k, the
    law test_consistent_topk_is_mergeable_bottom_k pins for the md5
    rank family).

    The md5 sort key is computed JVM-side (codegen) BEFORE the Python
    boundary; pandas only nsmallest-selects. Output == the window form
    row-for-row, so this shares its oracle verbatim."""
    quota = 120
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "source")
    ).withColumn("k", F.md5(F.col("doc_id").cast("string")))

    def local_topk(batches):  # closure: executors lack repo on sys.path
        for pdf in batches:
            if pdf.empty:
                continue
            yield (
                pdf.sort_values(["k", "doc_id"])
                .groupby("source", sort=False)
                .head(120)
            )

    cand = docs.mapInPandas(
        local_topk, "doc_id bigint, source string, k string"
    )
    w = Window.partitionBy("source").orderBy("k", "doc_id")
    return (
        cand.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= quota)
        .select(
            "doc_id", "source", F.col("sample_rank").cast("int").alias(
                "sample_rank"
            )
        )
    )


# ---------------------------------------------------------------------------
# Deterministic round-robin source interleave (lazy or range-sharded)
# ---------------------------------------------------------------------------


@query(
    "pipeline_interleave_sources",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rk,
             dense_rank() OVER (ORDER BY source) - 1 AS src_idx,
             count(DISTINCT source) OVER () AS n_src
      FROM documents
    )
    SELECT doc_id, source,
           CAST(rk * n_src + src_idx AS BIGINT) AS mix_pos
    FROM ranked
    """,
)
def pipeline_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ROUND-ROBIN interleave of corpus sources — the
    'mix the sources evenly through the epoch' ordering every
    multi-corpus training run needs (a plain concat trains on source A
    for hours before seeing B; a global random shuffle loses source
    balance in any prefix). Each document's global mix position is
    rk * n_sources + source_index, with rk the deterministic md5 rank
    within its source: any PREFIX of the ordering is source-balanced
    to within one document, and the whole ordering is a pure function
    of the keys (reproducible epochs).

    Scale: one shuffle on source for the rank window; at 100 TB the
    writer sorts by mix_pos into shards (the ``_ranged`` form), which
    is exactly pipeline_global_shuffle's story with a balance guarantee
    instead of a random one."""
    return _interleave_sources(spark, sf_dir, ranged=False)


INTERLEAVE_ORACLE = """
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rk,
             dense_rank() OVER (ORDER BY source) - 1 AS src_idx,
             count(DISTINCT source) OVER () AS n_src
      FROM documents
    )
    SELECT doc_id, source,
           CAST(rk * n_src + src_idx AS BIGINT) AS mix_pos
    FROM ranked
"""


@query("pipeline_interleave_sources_ranged", oracle=INTERLEAVE_ORACLE)
def pipeline_interleave_sources_ranged(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round-robin source interleave with the RANGE-SHARDED writer. The
    mix position is the same pure key function (rk × n_sources +
    source_index), but instead of leaving a logically-ordered frame for
    a downstream global sort, the epoch is MATERIALIZED as range shards:
    ``repartitionByRange(mix_pos)`` samples split points and gives every
    shard a disjoint, ordered slice of the epoch, each sorted within
    itself — a trainer streams shard 0..N-1 and sees the exact
    interleave with NO single-partition sort anywhere. The read-back
    proves the shards reassemble the identical epoch: output == the
    window form row-for-row, same oracle rows.

    Scale: one shuffle on source for the rank window, one range
    exchange for the writer (sampled split points, so shards stay
    balanced even though early mix positions are denser); shard count
    scales with the cluster, not the corpus."""
    return _interleave_sources(spark, sf_dir, ranged=True)


def _interleave_sources(spark: SparkSession, sf_dir: str, ranged: bool) -> DataFrame:
    """(doc_id, source, mix_pos) round-robin epoch order. ``ranged``
    writes the epoch as 8 range shards sorted by mix_pos and reads it
    back; otherwise the ordering is returned as a lazy frame.

    ONE bounded collect supplies both control values (source count and
    each source's dense index = position in sort order). Bounded-domain
    contract, failed loud: a NULL source has no dense index (and
    create_map rejects NULL keys), and the literal map stays cheap only
    up to ~64 sources (the measured codegen-recompile bound for fresh
    literal expressions); above that, switch to a broadcast join
    against the collected (source, idx) frame."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    sources = [row[0] for row in docs.select("source").distinct().collect()]
    if any(s is None for s in sources):
        raise ValueError(
            "pipeline_interleave_sources: NULL source value — the dense "
            "source index requires non-null sources"
        )
    if len(sources) > 64:
        raise ValueError(
            f"pipeline_interleave_sources: {len(sources)} sources exceeds "
            "the literal-map codegen bound; use a broadcast-join index"
        )
    sources.sort()
    idx_map = F.create_map(
        *[
            lit
            for i, s in enumerate(sources)
            for lit in (F.lit(s), F.lit(i))
        ]
    )
    epoch = (
        docs.withColumn("rk", F.row_number().over(w) - 1)
        .select(
            "doc_id",
            "source",
            (
                F.col("rk") * len(sources)
                + F.element_at(idx_map, F.col("source"))
            )
            .cast("long")
            .alias("mix_pos"),
        )
    )
    if not ranged:
        return epoch
    out = appcache.tempdir(prefix="interleave_shards_")
    (
        epoch.repartitionByRange(8, "mix_pos")
        .sortWithinPartitions("mix_pos")
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.parquet(out).select("doc_id", "source", "mix_pos")


# ---------------------------------------------------------------------------
# Dedup-rate monitoring (nested-subsample curve; per-source HLL)
# ---------------------------------------------------------------------------


@query(
    "pipeline_dedup_rate_curve",
    oracle="""
    WITH g AS (
      SELECT md5(array_to_string(string_split(text, ' ')[1:8], ' '))
               AS grp,
             CAST(('0x' || substr(md5('curve#'
                    || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 4
                  AS BIGINT) AS b
      FROM documents
    ),
    c AS (
      SELECT grp,
             sum(CASE WHEN b <= 0 THEN 1 ELSE 0 END) AS c0,
             sum(CASE WHEN b <= 1 THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN b <= 2 THEN 1 ELSE 0 END) AS c2,
             sum(CASE WHEN b <= 3 THEN 1 ELSE 0 END) AS c3
      FROM g GROUP BY grp
    ),
    t AS (
      SELECT unnest([0, 1, 2, 3]) AS quartile
    )
    SELECT t.quartile,
           CAST(sum(CASE t.quartile WHEN 0 THEN c0 WHEN 1 THEN c1
                    WHEN 2 THEN c2 ELSE c3 END) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN (CASE t.quartile WHEN 0 THEN c0
                    WHEN 1 THEN c1 WHEN 2 THEN c2 ELSE c3 END) > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
           CAST((sum(CASE t.quartile WHEN 0 THEN c0 WHEN 1 THEN c1
                     WHEN 2 THEN c2 ELSE c3 END)
                 - sum(CASE WHEN (CASE t.quartile WHEN 0 THEN c0
                       WHEN 1 THEN c1 WHEN 2 THEN c2 ELSE c3 END) > 0
                       THEN 1 ELSE 0 END)) * 1000000
                // sum(CASE t.quartile WHEN 0 THEN c0 WHEN 1 THEN c1
                       WHEN 2 THEN c2 ELSE c3 END) AS BIGINT)
             AS dup_rate_micro
    FROM c CROSS JOIN t
    GROUP BY t.quartile
    """,
)
def pipeline_dedup_rate_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP-RATE GROWTH CURVE — how duplication scales with corpus
    size: nested 25/50/75/100% subsamples (deterministic seeded-md5
    quartile buckets, so each prefix CONTAINS the previous — the only
    way the curve is monotone-meaningful) each report docs, unique
    fingerprints, and the dup rate. Real corpora show superlinear
    duplicate growth (unique content follows Heaps' law), and this
    curve is what extrapolates dedup savings from a pilot slice to the
    full crawl before anyone pays for the full run. One fingerprint
    groupBy computes all four prefixes at once: per-group cumulative
    bucket counts c0..c3, then four prefix rollups over the group
    summary — the corpus is scanned ONCE, never per point.

    Scale: the fingerprint collapse is the dedup_exact shuffle; the
    4× expansion happens on the GROUP summary (4 rows per group,
    constant), not raw docs; output is 4 rows."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.select(
        _first8_fingerprint().alias("grp"),
        F.expr(
            "CAST(conv(substring(md5(concat('curve#',"
            " CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 4"
        ).alias("b"),
    )
    c = g.groupBy("grp").agg(
        *[
            F.sum(F.when(F.col("b") <= q, 1).otherwise(0)).alias(f"c{q}")
            for q in range(4)
        ]
    )
    t = c.select(
        "c0", "c1", "c2", "c3",
        F.explode(F.array(*[F.lit(q) for q in range(4)])).alias(
            "quartile"
        ),
    ).select(
        "quartile",
        F.expr(
            "CASE quartile WHEN 0 THEN c0 WHEN 1 THEN c1"
            " WHEN 2 THEN c2 ELSE c3 END"
        ).alias("cq"),
    )
    return t.groupBy("quartile").agg(
        F.sum("cq").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("cq") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_unique"),
        F.expr(
            "CAST((sum(cq) - sum(CASE WHEN cq > 0 THEN 1 ELSE 0 END))"
            " * 1000000 div sum(cq) AS BIGINT)"
        ).alias("dup_rate_micro"),
    )


@query(
    "pipeline_dedup_rate_hll",
    oracle="""
    WITH g AS (
      SELECT source,
             md5(array_to_string(string_split(text, ' ')[1:8], ' '))
               AS grp
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT grp) AS BIGINT) AS n_unique,
           CAST((count(*) - count(DISTINCT grp)) * 1000000
                // count(*) AS BIGINT) AS dup_rate_micro,
           TRUE AS hll_in_envelope
    FROM g GROUP BY source
    """,
)
def pipeline_dedup_rate_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP-RATE MONITOR, HLL FORM — per-source duplicate rate from a
    distinct-FINGERPRINT sketch instead of the dedup_exact collapse.
    The monitoring question — "how duplicated is each source TODAY" —
    only needs |distinct| per source, which one HLL per source answers
    in a single partial-agg'd pass: in the PURE sketch form
    fingerprints hash into sketches map-side and only ≤|sources| sketch
    payloads ever move. The registered plan also keeps the exact
    count_distinct(grp) solely for the DuckDB hash gate — that column
    does shuffle fingerprints, so the benched plan is the verification
    form; the 100 TB scale path drops it and reports the sketch
    estimate. This is the continuous-monitoring sibling of
    ``pipeline_dedup_rate_curve``'s pilot extrapolation (same
    first-8-words md5 fingerprint). Output = exact counts (the oracle
    re-verifies them) + ``hll_in_envelope``: per-source estimate within
    max(3, 2.5% of exact), the lgK=14 ≈ 3σ envelope."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.select("source", _first8_fingerprint().alias("grp"))
    s = g.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.count_distinct("grp").cast("bigint").alias("n_unique"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col("grp"), F.lit(14))
        ).alias("_est"),
    )
    in_env = F.abs(
        F.col("_est").cast("double") - F.col("n_unique")
    ) <= F.greatest(F.lit(3.0), 0.025 * F.col("n_unique"))
    return s.select(
        "source",
        "n_docs",
        "n_unique",
        F.expr(
            "CAST((n_docs - n_unique) * 1000000 div n_docs AS BIGINT)"
        ).alias("dup_rate_micro"),
        in_env.alias("hll_in_envelope"),
    )


def _first8_fingerprint() -> Column:
    """md5 of a document's first 8 space-split words: the curation
    tier's near-duplicate fingerprint."""
    return F.md5(F.array_join(F.slice(F.split("text", " "), 1, 8), " "))
