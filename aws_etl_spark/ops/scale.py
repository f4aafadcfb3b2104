"""Skew- and shuffle-management operators for 100 TB-scale plans.

The reference never handles skew (its dataset is MB-scale; SURVEY.md
§6) — at 100 TB a single hot key turns one shuffle partition into a
straggler that dominates the stage. Three standard remedies, all
expressed as plain DataFrame rewrites so Catalyst/AQE still optimize
around them:

- :func:`salted_agg` — two-phase aggregation: salt the group key with
  a random suffix, pre-aggregate per (key, salt), then merge per key.
  The first shuffle spreads a hot key over ``n_salts`` partitions; the
  second shuffles only the tiny pre-aggregated result.
- :func:`salted_join` — replicate the small side per salt value and
  salt the big side's key, so a hot join key's rows fan out across
  ``n_salts`` tasks instead of one.
- :func:`bucketed_table` / co-located joins — write both join sides
  bucketed by the key (`bucketBy` + `saveAsTable`): every future join
  or aggregation on that key reads co-partitioned buckets and skips
  the shuffle entirely (verified by plan assertion in
  tests/test_scale_ops.py). This is the "pre-shuffle once, reuse
  forever" pattern for fact tables.

AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`,
on by default in the session factory) already handles moderate skew at
runtime; the salting operators are for the extreme tail (one key ≫
executor memory) and for aggregations, which AQE skew handling does
not cover.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SALT = "__salt"


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase (salted) aggregation.

    ``aggs`` maps output column → (input column, fn) with fn in
    {sum, count, min, max}. Decomposable aggregates only — avg must be
    requested as sum+count and divided by the caller (exactly how
    Spark's own partial aggregation decomposes it).

    Phase 1 shuffles on (keys ⊕ salt): a key with 10⁹ rows lands on
    n_salts partitions instead of one. Phase 2 shuffles ≤ n_salts rows
    per key.
    """
    merge_fn = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    first_fn = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    for fn in {fn for _, fn in aggs.values()}:
        if fn not in merge_fn:
            raise ValueError(f"non-decomposable aggregate: {fn}")

    salted = df.withColumn(
        _SALT, (F.rand(seed=0) * n_salts).cast("int")
    )
    phase1 = salted.groupBy(*keys, _SALT).agg(
        *[first_fn[fn](col).alias(out) for out, (col, fn) in aggs.items()]
    )
    return phase1.groupBy(*keys).agg(
        *[merge_fn[fn](out).alias(out) for out, (_, fn) in aggs.items()]
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the big side's hot keys spread over ``n_salts``
    shuffle partitions; the small side is replicated ×n_salts.

    Use when one key's row count exceeds what a single task should
    hold AND the small side is too big to broadcast outright (else
    just `F.broadcast`). Output columns = big ⊕ small minus the
    duplicate key (same shape as ``big.join(small, key, how)``).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left (small side is replicated)")
    big_s = big.withColumn(_SALT, (F.rand(seed=0) * n_salts).cast("int"))
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias(_SALT)
    small_s = small.select("*", salts)
    joined = big_s.join(small_s, [key, _SALT], how)
    return joined.drop(_SALT)


def bucketed_table(
    df: DataFrame,
    name: str,
    key: str | Sequence[str],
    n_buckets: int = 32,
    sort: bool = True,
) -> None:
    """Persist ``df`` bucketed (and bucket-sorted) by ``key``.

    Joins/aggregations between tables bucketed identically on the join
    key read co-partitioned data → no Exchange in the plan. The write
    pays one shuffle; every downstream consumer saves one per query.
    """
    keys = [key] if isinstance(key, str) else list(key)
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, *keys
    )
    if sort:
        writer = writer.sortBy(*keys)
    writer.saveAsTable(name)


def hot_keys(
    df: DataFrame, keys: Sequence[str], min_count: int = 1_000_000
) -> DataFrame:
    """Keys whose row count exceeds ``min_count`` — the skew survey a
    pipeline runs before choosing salted vs plain operators. One
    map-side-combined count, cheap relative to the join it protects."""
    return (
        df.groupBy(*keys)
        .agg(F.count("*").alias("n_rows"))
        .filter(F.col("n_rows") >= min_count)
        .orderBy(F.col("n_rows").desc())
    )


def explode_salt(n_salts: int) -> Column:
    """The replication column used by :func:`salted_join`, exposed for
    composing custom salted operators."""
    return F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))


def bloom_pruned_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    how: str = "inner",
    m_bits: int = 1 << 20,
    k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Equi-join where the big side is Bloom-pruned BEFORE its shuffle.

    At 100 TB the dominant cost of ``big.join(small, key)`` is
    shuffling every big-side row — including the (often vast) majority
    whose key never appears in ``small``. Building a Bloom bitmap over
    the small side's keys (one tiny bit_or aggregation) and
    broadcast-probing the big side first drops non-matching rows at
    scan time, so only might-match rows pay the shuffle. False
    positives only cost wasted shuffle rows — the join itself remains
    exact. (This is what Spark's runtime-filter optimization does for
    eligible shapes; here it is explicit, composable, and applies to
    shapes the optimizer does not cover.)
    """
    from aws_etl_spark.ops.bloom import bloom_build, bloom_probe

    bitmap = bloom_build(
        small.select(F.col(key)), key, m_bits=m_bits, k=k, seed=seed
    )
    pruned = (
        bloom_probe(big, key, bitmap, m_bits=m_bits, k=k, seed=seed)
        .filter(F.col("might_contain"))
        .drop("might_contain")
    )
    return pruned.join(small, key, how)


def broadcast_if_bounded(n_rows: int, cap: int | None = None):
    """Broadcast-hint applicator for ITERATIVE-STATE joins, gated on a
    measured row count.

    Iterative graph/linear-algebra loops (pagerank, LPA, k-core) hold
    node-sized state tables whose lineage is truncated by
    ``localCheckpoint`` — a LogicalRDD has no size statistics, so
    Catalyst falls back to SortMergeJoin for every state join even
    when the state is KBs (verified on this tree: the pagerank
    iteration planned SMJ + two exchanges per round). The caller
    already holds a real row count (convergence checks count the
    state anyway); this turns that measurement into an explicit
    ``F.broadcast`` hint — guide-style "you know the side is small,
    say so" — instead of trusting estimates that cannot exist.

    Returns ``F.broadcast`` when ``0 <= n_rows <= cap``, else the
    identity. ``cap`` defaults to ``lanes.cap("state_bcast_rows")``
    (2,000,000 — ~50 MB of (long, long, long) state rows framed,
    well under the executor-memory cost ceiling of a broadcast
    relation; a 100 TB dup graph whose node state exceeds the cap
    keeps today's shuffle joins, same results).
    """
    from aws_etl_spark.ops import lanes

    if cap is None:
        cap = lanes.cap("state_bcast_rows")
    if 0 <= n_rows <= cap:
        return F.broadcast
    return lambda df: df


def bounded_rows_df(spark, rows, schema, rows_per_slice: int = 200_000):
    """``createDataFrame`` for a BOUNDED driver-side row list without
    the default-parallelism fan-out (round-13 optimization).

    ``spark.createDataFrame(list)`` parallelizes the pickled rows over
    ``defaultParallelism`` slices, so a few-thousand-row label/centroid
    table becomes 32 Python-worker tasks — measured ~200 ms of
    worker-spinup run time EACH on a cold process (the
    ``customers_golden_record`` profile: 32 tasks, 11.8 s run, 1.5 s
    CPU, zero records on most) for rows that fit one task. Slices here
    scale with the data instead: one slice per ``rows_per_slice`` rows
    (cap 16), so a 2M-row state table still fans out, and the common
    kilobyte-sized result is a single task. Results are identical —
    every consumer treats these relations as unordered.
    """
    n_slices = max(1, min(16, (len(rows) + rows_per_slice - 1) // rows_per_slice))
    if not rows:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=n_slices), schema
    )
