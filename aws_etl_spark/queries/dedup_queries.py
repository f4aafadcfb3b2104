"""Dedup operator queries over the documents table (north-star §2.13).

``dedup_exact`` and ``dedup_ngram_jaccard`` have full SQL oracles.
MinHash-LSH and SimHash are not reasonably SQL-expressible (xxhash64
has no DuckDB equivalent) → rows-only driver check; their *verify*
stage is the exact-Jaccard operator that IS oracle-checked, so the
sketch paths are cross-validated in tests instead
(tests/test_dedup.py asserts LSH pairs ⊆ exact pairs + recall).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_etl_spark.dedup import (
    dedup_exact,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from aws_etl_spark.queries.registry import (
    load_table,
    register,
    sql_query,
    staged_sql_query,
)

_JACCARD_ORACLE = """
WITH sh AS (
  SELECT doc_id AS doc,
         list_distinct(
           list_transform(
             range(1, greatest(len(string_split(trim(text), ' ')) - 2, 0) + 1),
             i -> array_to_string(string_split(trim(text), ' ')[i:i+2], ' ')
           )
         ) AS shingles
  FROM documents
),
e AS (SELECT doc, len(shingles) AS n, unnest(shingles) AS s FROM sh)
SELECT a.doc AS id_a, b.doc AS id_b,
       COUNT(*) AS n_common,
       COUNT(*) * 1.0 / (ANY_VALUE(a.n) + ANY_VALUE(b.n) - COUNT(*)) AS jaccard
FROM e a JOIN e b ON a.s = b.s AND a.doc < b.doc
GROUP BY a.doc, b.doc
HAVING COUNT(*) * 1.0 / (ANY_VALUE(a.n) + ANY_VALUE(b.n) - COUNT(*)) >= 0.5
"""


@register(
    "dedup_exact",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY lang, source)
    """,
    category="dedup",
    tables=("documents",),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content digest; deterministic min-id survivor."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_exact(docs, ["lang", "source"], "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "dedup_ngram_jaccard",
    oracle=_JACCARD_ORACLE,
    category="dedup",
    tables=("documents",),
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram shingle Jaccard pairs ≥ 0.5 (explode + self-join)."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5)


# --------------------------------------------------------------------------
# Incremental arrivals-vs-index dedup: the daily-increment shape. The
# batch = doc_id % 10 == 7 (a deterministic 10% "new crawl"); each
# arrival is checked against the standing index AND earlier arrivals
# in the same batch — never index×index (structurally excluded in
# dedup/jaccard.incremental_jaccard_pairs, so cost is linear in the
# batch no matter how large the index grows). Output: one verdict row
# per arrival (dup_of_index / dup_in_batch / new) with qualifying-
# match counts and the max jaccard. Counts are exact ints; jaccard is
# int/int division and MAX over identical doubles — order-free.
# --------------------------------------------------------------------------

_INCREMENTAL_ORACLE = """
WITH sh AS (
  SELECT doc_id AS doc,
         list_distinct(
           list_transform(
             range(1, greatest(len(string_split(trim(text), ' ')) - 2, 0) + 1),
             i -> array_to_string(string_split(trim(text), ' ')[i:i+2], ' ')
           )
         ) AS shingles
  FROM documents
),
e AS (SELECT doc, len(shingles) AS n, unnest(shingles) AS s FROM sh),
cand AS (
  SELECT b.doc AS doc_id, a.doc AS match_id,
         COUNT(*) * 1.0
           / (ANY_VALUE(a.n) + ANY_VALUE(b.n) - COUNT(*)) AS j
  FROM e a JOIN e b ON a.s = b.s
   AND b.doc % 10 = 7
   AND (a.doc % 10 <> 7 OR a.doc < b.doc)
  GROUP BY b.doc, a.doc
  HAVING COUNT(*) * 1.0
           / (ANY_VALUE(a.n) + ANY_VALUE(b.n) - COUNT(*)) >= 0.5
),
agg AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN match_id % 10 <> 7 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_index_dups,
         CAST(SUM(CASE WHEN match_id % 10 = 7 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_batch_dups,
         MAX(j) AS max_jaccard
  FROM cand GROUP BY doc_id
)
SELECT d.doc_id,
       CASE WHEN COALESCE(a.n_index_dups, 0) > 0 THEN 'dup_of_index'
            WHEN COALESCE(a.n_batch_dups, 0) > 0 THEN 'dup_in_batch'
            ELSE 'new' END AS verdict,
       COALESCE(a.n_index_dups, 0) AS n_index_dups,
       COALESCE(a.n_batch_dups, 0) AS n_batch_dups,
       COALESCE(a.max_jaccard, 0.0) AS max_jaccard
FROM documents d LEFT JOIN agg a USING (doc_id)
WHERE d.doc_id % 10 = 7
"""


@register(
    "dedup_incremental_index",
    oracle=_INCREMENTAL_ORACLE,
    category="dedup",
    tables=("documents",),
)
def q_dedup_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental arrivals-vs-index dedup (module comment above):
    per-arrival verdict against the standing index and earlier
    batch-mates, with index×index comparisons structurally excluded —
    the linear-in-the-increment plan a 100 TB corpus needs for daily
    crawl ingestion."""
    from aws_etl_spark.dedup.jaccard import incremental_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    is_arrival = lambda c: c % 10 == 7  # noqa: E731
    pairs = incremental_jaccard_pairs(
        docs, "doc_id", "text", is_arrival, k=3, threshold=0.5
    )
    per_arrival = pairs.groupBy("doc_id").agg(
        F.sum(F.when(F.col("match_is_index"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_index_dups"),
        F.sum(F.when(F.col("match_is_index"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_batch_dups"),
        F.max("jaccard").alias("max_jaccard"),
    )
    arrivals = docs.filter(is_arrival(F.col("doc_id"))).select("doc_id")
    joined = arrivals.join(per_arrival, "doc_id", "left")
    return joined.select(
        "doc_id",
        F.when(F.coalesce("n_index_dups", F.lit(0)) > 0, "dup_of_index")
        .when(F.coalesce("n_batch_dups", F.lit(0)) > 0, "dup_in_batch")
        .otherwise("new")
        .alias("verdict"),
        F.coalesce("n_index_dups", F.lit(0).cast("bigint")).alias(
            "n_index_dups"
        ),
        F.coalesce("n_batch_dups", F.lit(0).cast("bigint")).alias(
            "n_batch_dups"
        ),
        F.coalesce("max_jaccard", F.lit(0.0)).alias("max_jaccard"),
    )


_CLUSTER_ORACLE = """
WITH RECURSIVE sh AS (
  SELECT doc_id AS doc,
         list_distinct(
           list_transform(
             range(1, greatest(len(string_split(trim(text), ' ')) - 2, 0) + 1),
             i -> array_to_string(string_split(trim(text), ' ')[i:i+2], ' ')
           )
         ) AS shingles
  FROM documents
),
ex AS (SELECT doc, len(shingles) AS n, unnest(shingles) AS s FROM sh),
pairs AS (
  SELECT a.doc AS id_a, b.doc AS id_b
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc < b.doc
  GROUP BY a.doc, b.doc
  HAVING COUNT(*) * 1.0 / (ANY_VALUE(a.n) + ANY_VALUE(b.n) - COUNT(*)) >= 0.5
),
e AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM e
  UNION
  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u WHERE e2.v <> r.u
),
comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster FROM reach GROUP BY u)
SELECT d.doc_id,
       COALESCE(c.cluster, d.doc_id) AS cluster,
       d.doc_id = COALESCE(c.cluster, d.doc_id) AS is_canonical
FROM documents d LEFT JOIN comp c USING (doc_id)
"""


@register(
    "dedup_clusters_cc",
    oracle=_CLUSTER_ORACLE,
    category="dedup",
    tables=("documents",),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (Jaccard ≥ 0.5) → connected components (star
    contraction) → cluster + canonical survivor per doc.

    Candidate generation is MinHash-LSH(64, 16×4) with exact-Jaccard
    verification — banded/bucketed, the 100 TB path — rather than the
    exact all-pairs shingle self-join (quadratic in stop-shingle
    document frequency). The oracle derives the same pairs via exact
    SQL + a recursive-CTE transitive closure: tests/test_dedup.py
    pins LSH recall = 1.0 on this corpus (every true pair shares ≥1
    of 16 bands), so both routes feed identical edges to the CC."""
    from aws_etl_spark.dedup import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        docs, "doc_id", "text", k=3, n_hashes=64, bands=16, threshold=0.5
    ).select("id_a", "id_b")
    return dedup_clusters(pairs, docs, "doc_id")


@register(
    "dedup_minhash_lsh",
    oracle=None,  # xxhash64 sketch: not SQL-expressible; see module doc
    category="dedup",
    tables=("documents",),
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64)+LSH(16×4) candidates, exact-Jaccard-verified ≥ 0.5."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_dup_pairs(
        docs, "doc_id", "text", k=3, n_hashes=64, bands=16, threshold=0.5
    )


@register(
    "dedup_simhash",
    oracle=None,  # xxhash64 sketch: not SQL-expressible; see module doc
    category="dedup",
    tables=("documents",),
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dups within Hamming distance 3 (4-chunk pigeonhole)."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(docs, "doc_id", "text", max_distance=3, chunks=4)


_DECONTAM_ORACLE = """
WITH b AS (
  SELECT DISTINCT UNNEST(
    LIST_TRANSFORM(
      RANGE(1, GREATEST(LEN(STRING_SPLIT(TRIM(text), ' ')) - 4, 0) + 1),
      i -> ARRAY_TO_STRING(STRING_SPLIT(TRIM(text), ' ')[i:i+4], ' ')
    )
  ) AS s
  FROM documents WHERE source = 'src0'
),
c AS (
  SELECT doc_id, UNNEST(
    LIST_TRANSFORM(
      RANGE(1, GREATEST(LEN(STRING_SPLIT(TRIM(text), ' ')) - 4, 0) + 1),
      i -> ARRAY_TO_STRING(STRING_SPLIT(TRIM(text), ' ')[i:i+4], ' ')
    )
  ) AS s
  FROM documents WHERE source <> 'src0'
),
bad AS (SELECT DISTINCT c.doc_id FROM c JOIN b USING (s))
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE source <> 'src0' AND doc_id NOT IN (SELECT doc_id FROM bad)
"""


@register(
    "dedup_decontaminate",
    oracle=_DECONTAM_ORACLE,
    category="dedup",
    tables=("documents",),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: drop corpus docs sharing any 5-gram
    with the held-out set (here: source 'src0' stands in for the eval
    benchmark; cf. GPT-3/C4 13-gram decontamination, scaled to this
    corpus's short docs).

    Plan shape for 100 TB: the benchmark shingle set is tiny (eval
    suites are ~MBs) → broadcast; corpus shingles stream past it in a
    broadcast semi-join, then a broadcast anti-join of the (small)
    contaminated-id set against the corpus — the corpus itself never
    shuffles.
    """
    from aws_etl_spark.dedup.jaccard import shingle_rows
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    bench_sh = shingle_rows(bench, "doc_id", "text", k=5).select("shingle").distinct()
    corp_sh = shingle_rows(corpus, "doc_id", "text", k=5, distinct=False)
    contaminated = (
        corp_sh.join(F.broadcast(bench_sh), "shingle")
        .select(F.col("doc").alias("doc_id"))
        .distinct()
    )
    return corpus.join(
        F.broadcast(contaminated), "doc_id", "left_anti"
    ).select("doc_id", "lang", "source", "n_chars")


_DEGREE_ORACLE = f"""
WITH pairs AS ({_JACCARD_ORACLE}),
deg AS (
  SELECT id_a AS doc, COUNT(*) AS d FROM pairs GROUP BY id_a
  UNION ALL
  SELECT id_b AS doc, COUNT(*) AS d FROM pairs GROUP BY id_b
)
SELECT CAST(doc AS BIGINT) AS doc_id,
       CAST(SUM(d) AS BIGINT) AS degree
FROM deg GROUP BY doc
"""


@register(
    "dedup_graph_degrees",
    oracle=_DEGREE_ORACLE,
    category="dedup",
    tables=("documents",),
)
def q_dedup_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree per node in the near-dup graph (Jaccard ≥ 0.5 pairs) —
    the boilerplate-detection survey: a heavy-degree doc is template
    text duplicated across the corpus, exactly what document-frequency
    caps and hot-bucket bounds defend against.

    Candidate generation uses the EXACT bucketed shingle self-join
    (dedup_ngram_jaccard's path), not LSH: per-node degrees are
    sensitive to every individual edge, so a probabilistically missed
    borderline pair (J barely over threshold misses all 16 bands with
    ~1/3 probability) would break oracle parity — unlike
    connected-components, which tolerates a missing intra-cluster
    edge. Degrees are one count-agg over each pair endpoint."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.5
    ).select("id_a", "id_b")
    a = pairs.groupBy(F.col("id_a").alias("doc")).count()
    b = pairs.groupBy(F.col("id_b").alias("doc")).count()
    return (
        a.unionByName(b)
        .groupBy("doc")
        .agg(F.sum("count").cast("bigint").alias("degree"))
        .select(F.col("doc").cast("bigint").alias("doc_id"), "degree")
    )


@register(
    "dedup_graph_pagerank",
    oracle=None,  # iterative double power iteration: partition-order
    # float sums → rows-only for the driver; values pinned vs an exact
    # driver-side power iteration in tests/test_dedup.py
    category="dedup",
    tables=("documents",),
)
def q_dedup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup graph: the hub score that identifies
    the template a boilerplate family radiates from (authority-based
    canonical selection). Bounded iterations, localCheckpoint lineage
    truncation, rank table stays O(dup-graph nodes)."""
    from aws_etl_spark.dedup.pagerank import pagerank

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        docs, "doc_id", "text", k=3, n_hashes=64, bands=16, threshold=0.5
    ).select("id_a", "id_b")
    return pagerank(pairs).select(
        F.col("node").cast("bigint").alias("doc_id"), "rank", "degree"
    )


def _pagerank_oracle(n_iter: int, damping_pct: int) -> str:
    """DuckDB oracle for quantized PageRank: the iteration unrolled as
    CTE stages over the exact-Jaccard edge list — identical integer
    arithmetic to the Spark loop."""
    q = 10**12
    its = []
    for k in range(n_iter):
        prev = f"it{k}"
        its.append(f"""
it{k + 1} AS (
  SELECT d.u,
         CAST(tq.teleport_q
              + ({damping_pct} * COALESCE(c.contrib, 0)) // 100
           AS BIGINT) AS rank_q,
         d.deg
  FROM deg d CROSS JOIN tq
  LEFT JOIN (
    SELECT e.v AS u, SUM(r.rank_q // r.deg) AS contrib
    FROM edges e JOIN {prev} r ON e.u = r.u
    GROUP BY e.v
  ) c ON c.u = d.u
)""")
    return f"""
WITH pairs AS ({_JACCARD_ORACLE}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
nn AS (SELECT COUNT(*) AS n FROM deg),
tq AS (
  SELECT ((100 - {damping_pct}) * {q}) // (100 * n) AS teleport_q,
         {q} // n AS init_q
  FROM nn
),
it0 AS (
  SELECT d.u, CAST(tq.init_q AS BIGINT) AS rank_q, d.deg
  FROM deg d CROSS JOIN tq
),{",".join(its)}
SELECT CAST(u AS BIGINT) AS doc_id, rank_q,
       CAST(deg AS BIGINT) AS degree
FROM it{n_iter}
"""


@register(
    "dedup_graph_pagerank_exact",
    oracle=_pagerank_oracle(10, 85),
    category="dedup",
    tables=("documents",),
)
def q_dedup_graph_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized-integer PageRank over the near-dup graph, EXACTLY
    oracle-matched: ranks in 1e-12 units, every update pure integer
    multiply/divide — bit-identical across engines and partitionings,
    so a 10-round iterative graph algorithm hash-matches DuckDB's
    unrolled-CTE evaluation. Same per-round plan as the float
    variant (broadcast rank join + map-side-combined groupBy).
    Candidates come from the exact bucketed shingle join (edge-exact,
    like dedup_graph_degrees)."""
    from aws_etl_spark.dedup.pagerank import pagerank_quantized

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.5
    ).select("id_a", "id_b")
    return pagerank_quantized(pairs).select(
        F.col("node").cast("bigint").alias("doc_id"), "rank_q", "degree"
    )


_SPAN_EXPLODE = """
  SELECT doc_id AS doc, UNNEST(
    LIST_TRANSFORM(
      RANGE(1, GREATEST(LEN(STRING_SPLIT(TRIM(text), ' ')) - 4, 0) + 1),
      i -> ARRAY_TO_STRING(STRING_SPLIT(TRIM(text), ' ')[i:i+4], ' ')
    )
  ) AS span
  FROM documents
"""

_SPAN_CENSUS_ORACLE = f"""
WITH e AS ({_SPAN_EXPLODE})
SELECT span,
       CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(MIN(doc) AS BIGINT) AS first_doc
FROM e
GROUP BY span
HAVING COUNT(DISTINCT doc) >= 2
"""


@register(
    "dedup_span_census",
    oracle=_SPAN_CENSUS_ORACLE,
    category="dedup",
    tables=("documents",),
)
def q_dedup_span_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level repeated-span census: every 5-word span occurring
    in ≥2 distinct docs, with doc frequency, occurrence count, and a
    deterministic exemplar — the substring-level dedup signal of Lee
    et al. (ACL 2022), formulated as sharded span posting lists
    instead of a global suffix array (any repeated ≥k-word substring
    contains a repeated k-gram, so the k-gram table detects it). One
    groupBy(span) with map-side combine; linear in corpus size."""
    from aws_etl_spark.dedup.spans import duplicated_spans

    docs = load_table(spark, sf_dir, "documents")
    return duplicated_spans(docs, "doc_id", "text", k=5, min_docs=2)


_SPAN_PROFILE_ORACLE = f"""
WITH e AS ({_SPAN_EXPLODE}),
d AS (SELECT DISTINCT doc, span FROM e),
sdf AS (SELECT span, COUNT(*) AS span_docs FROM d GROUP BY span),
pd AS (
  SELECT d.doc, COUNT(*) AS n_spans,
         SUM(CASE WHEN sdf.span_docs >= 2 THEN 1 ELSE 0 END) AS n_dup_spans
  FROM d JOIN sdf USING (span) GROUP BY d.doc
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(pd.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(pd.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CASE WHEN COALESCE(pd.n_spans, 0) > 0
            THEN pd.n_dup_spans * 1.0 / pd.n_spans
            ELSE 0.0 END AS dup_fraction
FROM documents LEFT JOIN pd ON pd.doc = documents.doc_id
"""


@register(
    "dedup_span_doc_profile",
    oracle=_SPAN_PROFILE_ORACLE,
    category="dedup",
    tables=("documents",),
)
def q_dedup_span_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document span-duplication profile: fraction of the doc's
    distinct 5-word spans that also occur in another document — the
    per-doc filter signal derived from the span census (span analogue
    of a quality score). Span doc-frequency agg + hash join back on
    span + per-doc agg; no self-join, linear at corpus scale."""
    from aws_etl_spark.dedup.spans import doc_span_profile

    docs = load_table(spark, sf_dir, "documents")
    return doc_span_profile(docs, "doc_id", "text", k=5)


# round-13 optimization: the tok relation feeds FOUR consumers (both
# self-join sides and the two size lookups) — as one WITH chain the
# census counted documents x4, the worst rescan plan in the registry
# (enumerated in SCALING.md). Staged, tok is tokenized ONCE into a
# checkpointed view and every consumer reads the materialized RDD;
# expressions are unchanged so the hash is identical.
_PAIR_EXPLAIN_TOK = r"""
SELECT DISTINCT doc_id, word FROM (
  SELECT doc_id, explode(
    -- short-doc guard: docs with < 3 tokens yield no 3-grams
    -- (matching the oracle's range(1, n-2+1) semantics). The token
    -- array is hoisted to `ws` so split() runs once per row — the
    -- r6 filter-lambda guard re-evaluated split() per element
    -- (higher-order lambdas are interpreted, O(tokens × split)).
    CASE WHEN size(ws) >= 3
         THEN transform(sequence(1, size(ws) - 2),
                        i -> concat_ws(' ', slice(ws, i, 3)))
         ELSE CAST(array() AS ARRAY<STRING>) END
  ) AS word
  FROM (SELECT doc_id, split(lower(text), '\\s+') AS ws FROM documents)
) WHERE word <> ''
"""

_PAIR_EXPLAIN_FINAL = """
WITH sizes AS (SELECT doc_id, COUNT(*) AS n FROM pair_tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM pair_tok a JOIN pair_tok b ON b.word = a.word AND b.doc_id > a.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.id_a, i.id_b,
       CAST(i.n_common AS BIGINT) AS n_common,
       CAST(sa.n - i.n_common AS BIGINT) AS n_only_a,
       CAST(sb.n - i.n_common AS BIGINT) AS n_only_b,
       CAST(i.n_common AS DOUBLE)
         / (sa.n + sb.n - i.n_common) AS word_jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.6
"""

_PAIR_EXPLAIN_DUCK = r"""
WITH tok AS (
  SELECT DISTINCT doc_id, word FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(1, greatest(len(regexp_split_to_array(lower(text), '\s+')) - 2, 0) + 1),
             i -> array_to_string(
               regexp_split_to_array(lower(text), '\s+')[i:i+2], ' ')
           )) AS word
    FROM documents
  ) WHERE word <> ''
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM tok a JOIN tok b ON b.word = a.word AND b.doc_id > a.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.id_a, i.id_b,
       CAST(i.n_common AS BIGINT) AS n_common,
       CAST(sa.n - i.n_common AS BIGINT) AS n_only_a,
       CAST(sb.n - i.n_common AS BIGINT) AS n_only_b,
       CAST(i.n_common AS DOUBLE)
         / (sa.n + sb.n - i.n_common) AS word_jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.6
"""

staged_sql_query(
    "dedup_pair_explain",
    ops=(("view", "pair_tok", _PAIR_EXPLAIN_TOK),),
    final=_PAIR_EXPLAIN_FINAL,
    oracle=_PAIR_EXPLAIN_DUCK,
    category="dedup",
    doc=(
        "Near-dup pair EXPLANATION: for 3-gram-shingle-Jaccard >= 0.6 "
        "pairs, the span-level diff a reviewer audits before a bulk "
        "delete — shared-shingle count, shingles unique to each side, "
        "and the exact Jaccard (int/int IEEE division, the rep_ratio "
        "idiom). Pair generation is the shared-word equi-join "
        "(Σ df² over words — the documented verify-stage shape; at "
        "corpus scale the DISCOVERY path is LSH candidates, this "
        "query is the audit that runs on the flagged pairs). Shingles, "
        "not words: the synthetic corpus shares one small vocabulary, "
        "so word sets barely discriminate (73k pairs at 0.6) while "
        "3-gram spans separate true near-dups cleanly."
    ),
    tables=("documents",),
)


_CONTAINMENT_ORACLE = """
WITH sh AS (
  SELECT doc_id AS doc,
         list_distinct(
           list_transform(
             range(1, greatest(len(string_split(trim(text), ' ')) - 2, 0) + 1),
             i -> array_to_string(string_split(trim(text), ' ')[i:i+2], ' ')
           )
         ) AS shingles
  FROM documents
),
e AS (SELECT doc, len(shingles) AS n, unnest(shingles) AS s FROM sh)
SELECT a.doc AS id_a, b.doc AS id_b,
       COUNT(*) AS n_common,
       COUNT(*) * 1.0 / LEAST(ANY_VALUE(a.n), ANY_VALUE(b.n)) AS containment
FROM e a JOIN e b ON a.s = b.s AND a.doc < b.doc
GROUP BY a.doc, b.doc
HAVING COUNT(*) * 1.0 / LEAST(ANY_VALUE(a.n), ANY_VALUE(b.n)) >= 0.8
"""


@register(
    "dedup_containment",
    oracle=_CONTAINMENT_ORACLE,
    category="dedup",
    tables=("documents",),
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-containment pairs >= 0.8: catches sub-document
    duplication (one doc quoted/embedded inside another) that Jaccard
    under-scores when set sizes differ — the asymmetric companion to
    dedup_ngram_jaccard, over the same exact bucketed shingle
    self-join."""
    from aws_etl_spark.dedup.jaccard import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(docs, "doc_id", "text", k=3, threshold=0.8)


# --------------------------------------------------------------------------
# Distance-to-canonical: simultaneous (canonical label, hop count)
# min-propagation over the exact near-dup graph. State is ONE integer
# enc = label*64 + dist, so "neighbor's label at one more hop" is
# literally enc+1 and the lexicographic (label, dist) minimum is the
# plain integer MIN — each iteration is a join + min-agg of BIGINTs,
# exactly unrollable in the oracle. After k iterations every node
# holds the smallest doc_id reachable within k hops and its hop
# distance; on the bounded-diameter dup clusters k=8 is convergence.
# --------------------------------------------------------------------------

_CANON_ITERS = 8


def _canonical_distance_oracle(n_iter: int = _CANON_ITERS) -> str:
    its = []
    for k in range(n_iter):
        its.append(f""",
s{k + 1} AS MATERIALIZED (
  SELECT n.u,
         LEAST(s.enc,
               COALESCE((SELECT MIN(sv.enc + 1)
                         FROM edges e JOIN s{k} sv ON sv.u = e.u
                         WHERE e.v = n.u), s.enc)) AS enc
  FROM nodes n JOIN s{k} s ON s.u = n.u
)""")
    return f"""
WITH pairs AS MATERIALIZED ({_JACCARD_ORACLE}),
edges AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
nodes AS MATERIALIZED (SELECT DISTINCT u FROM edges),
s0 AS MATERIALIZED (SELECT u, CAST(u * 64 AS BIGINT) AS enc FROM nodes){"".join(its)}
SELECT CAST(u AS BIGINT) AS doc_id,
       CAST(enc // 64 AS BIGINT) AS canonical_id,
       CAST(enc % 64 AS BIGINT) AS hops
FROM s{n_iter}
"""


@register(
    "dedup_canonical_distance",
    oracle=_canonical_distance_oracle(),
    category="dedup",
    tables=("documents",),
)
def q_dedup_canonical_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, canonical_id, hops) over the exact near-dup graph:
    which cluster representative (smallest doc_id reachable within 8
    hops) each duplicate belongs to, and HOW FAR it sits from it —
    the transitive-dup audit trail CC alone does not give (a doc 3
    hops from its canonical is a chain of borderline matches, not a
    direct dup). State is one integer enc = label*64 + dist, so the
    lexicographic (label, dist) min is a plain MIN(BIGINT) and each
    of the 8 unrolled iterations is a join + min-agg (localCheckpoint
    per step, the iterative-hygiene rule). dist bits never overflow:
    8 iterations <= dist 8 < 64. Exact-Jaccard candidates (the
    pagerank_exact rationale: per-node state is edge-sensitive, so
    LSH's probabilistic misses would break oracle parity)."""
    from aws_etl_spark.dedup.jaccard import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.5
    ).select("id_a", "id_b")
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .unionByName(
            pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Bounded-edge driver fast path (round-13 — the k-core/pagerank
    # bounded-collect treatment): the whole loop is integer MIN
    # propagation on enc = label*64 + dist (synchronous rounds: every
    # neighborhood min reads the PRE-round state), so below the dial
    # the 8 rounds replay bit-exactly on the collected directed edge
    # list (enc DIV 64 == Python // on non-negative ids). Above it
    # the distributed loop below runs unchanged.
    from aws_etl_spark.ops import lanes

    driver_cap = lanes.cap("canon_edges")
    if edges.count() <= driver_cap:
        from aws_etl_spark.ops.scale import bounded_rows_df

        el = [(r["u"], r["v"]) for r in edges.collect()]
        enc = {u: u * 64 for u, _ in el}
        for _v in (v for _, v in el):
            enc.setdefault(_v, _v * 64)
        for _ in range(_CANON_ITERS):
            neigh: dict = {}
            for u, v in el:
                cand = enc[u] + 1
                if v not in neigh or cand < neigh[v]:
                    neigh[v] = cand
            for v, cand in neigh.items():
                if cand < enc[v]:
                    enc[v] = cand
        return bounded_rows_df(
            spark,
            [(int(u), int(e // 64), int(e % 64)) for u, e in enc.items()],
            "doc_id long, canonical_id long, hops long",
        )

    from aws_etl_spark.ops.scale import broadcast_if_bounded

    state = edges.select("u").distinct().select(
        "u", (F.col("u") * 64).cast("long").alias("enc")
    ).localCheckpoint(eager=True)
    # node-sized state: one count gates broadcast hints for all 8
    # rounds (checkpointed lineage otherwise plans SMJ per round),
    # and the lineage is truncated every SECOND round — with broadcast
    # state the 2-round lazy span stays shallow, halving the eager
    # checkpoint jobs (round-13 A/B: 2.18 s original, 2.33 s broadcast
    # alone, 1.82 s broadcast + 2-round cadence, warm sf0.1)
    b = broadcast_if_bounded(state.count())
    for i in range(_CANON_ITERS):
        neigh = (
            edges.join(b(state.select(F.col("u").alias("src"), "enc")),
                       F.col("u") == F.col("src"))
            .groupBy(F.col("v").alias("nu"))
            .agg(F.min(F.col("enc") + 1).alias("nenc"))
        )
        state = (
            state.join(b(neigh), state["u"] == neigh["nu"], "left")
            .select(
                state["u"],
                F.least(
                    state["enc"],
                    F.coalesce(F.col("nenc"), state["enc"]),
                ).alias("enc"),
            )
        )
        if i % 2 == 1 or i == _CANON_ITERS - 1:
            state = state.localCheckpoint(eager=True)
    return state.select(
        F.col("u").cast("long").alias("doc_id"),
        F.expr("enc DIV 64").cast("long").alias("canonical_id"),
        (F.col("enc") % 64).cast("long").alias("hops"),
    )


_PREFIX_ORACLE = _JACCARD_ORACLE.replace(">= 0.5", ">= 0.7")


@register(
    "dedup_prefix_filter",
    oracle=_PREFIX_ORACLE,
    category="dedup",
    tables=("documents",),
)
def q_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ 0.7 pairs via PREFIX FILTERING (AllPairs,
    dedup/prefix_filter.py): candidates must share a token from the
    rarest-df prefix slice (n - ceil(0.7n) + 1 ≈ 30% of each set) —
    the third exact route to the Jaccard-pair contract alongside the
    full posting join and LSH+verify, run at the production near-dup
    threshold where prefix filtering pays (at t=0.5 the prefix is
    half the set — the method's worst case). Exact recall with
    candidate cost concentrated on rare shingles, no df cap; oracle
    is the definitional quadratic join at the same threshold, and
    equality with the uncapped full join at BOTH thresholds is pinned
    in tests/test_dedup.py."""
    from aws_etl_spark.dedup.prefix_filter import prefix_filter_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(
        docs, "doc_id", "text", k=3, t_num=7, t_den=10
    )


# --------------------------------------------------------------------------
# Cross-source duplication census: which sources duplicate EACH OTHER.
# Near-dup pairs (the proven capped shingle join) are mapped to their
# sources and counted per unordered source pair — the triage view that
# decides which crawl feeds to de-prioritize or fold together. Two
# keyed joins of the slim pair list against the (doc -> source) map
# (shuffles on doc id, linear in pairs), one bounded agg (sources x
# sources), a broadcast-scalar total for the share.
# --------------------------------------------------------------------------

_CROSSDUP_ORACLE = """
WITH sh AS (
  SELECT doc_id AS doc,
         list_distinct(
           list_transform(
             range(1, greatest(len(string_split(trim(text), ' ')) - 2, 0) + 1),
             i -> array_to_string(string_split(trim(text), ' ')[i:i+2], ' ')
           )
         ) AS shingles
  FROM documents
),
e AS (SELECT doc, len(shingles) AS n, unnest(shingles) AS s FROM sh),
pairs AS (
  SELECT a.doc AS id_a, b.doc AS id_b
  FROM e a JOIN e b ON a.s = b.s AND a.doc < b.doc
  GROUP BY a.doc, b.doc
  HAVING COUNT(*) * 1.0 / (ANY_VALUE(a.n) + ANY_VALUE(b.n) - COUNT(*)) >= 0.5
),
srcpairs AS (
  SELECT LEAST(da.source, db.source) AS source_a,
         GREATEST(da.source, db.source) AS source_b
  FROM pairs
  JOIN documents da ON da.doc_id = pairs.id_a
  JOIN documents db ON db.doc_id = pairs.id_b
),
agg AS (
  SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM srcpairs GROUP BY source_a, source_b
)
SELECT source_a, source_b, n_pairs,
       CAST(n_pairs AS DOUBLE) / (SELECT SUM(n_pairs) FROM agg)
         AS pair_share
FROM agg
"""


@register(
    "dedup_source_crossdup",
    oracle=_CROSSDUP_ORACLE,
    category="dedup",
    tables=("documents",),
)
def q_dedup_source_crossdup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication census (module comment above): near-dup
    pairs mapped to unordered source pairs with counts and shares —
    same-source cells on the diagonal, cross-source cells off it.

    Candidate generation is MinHash-LSH with exact-Jaccard verify (the
    dedup_clusters_cc route; recall = 1.0 pinned on this corpus, so
    the exact-SQL oracle still hash-matches) rather than the exact
    shingle self-join: the census is discovery-shaped, and the exact
    join's Σdf² measured 25.5x (and OOM'd a 4 GiB driver) on the x10
    densified scratch, while LSH candidate volume tracks the TRUE pair
    count."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        docs, "doc_id", "text", k=3, n_hashes=64, bands=16, threshold=0.5
    )
    src = docs.select("doc_id", "source")
    sa = src.withColumnRenamed("doc_id", "id_a").withColumnRenamed(
        "source", "sa"
    )
    sb = src.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
        "source", "sb"
    )
    agg = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
    )
    total = agg.agg(F.sum("n_pairs").alias("t"))
    return agg.crossJoin(F.broadcast(total)).select(
        "source_a",
        "source_b",
        "n_pairs",
        (F.col("n_pairs").cast("double") / F.col("t")).alias("pair_share"),
    )
