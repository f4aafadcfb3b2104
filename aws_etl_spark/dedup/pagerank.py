"""PageRank over the near-duplicate graph — bounded-iteration
DataFrame power iteration.

Complements connected-components: CC says *which* docs form a dup
cluster, PageRank says which doc is the cluster's hub (the template a
boilerplate family radiates from), an authority signal for canonical-
survivor selection beyond min-id.

Execution shape per iteration: one join (ranks → edge sources, the
rank table is small — O(nodes in the dup graph), typically broadcast)
and one map-side-combined groupBy(dst). Lineage is truncated with
``localCheckpoint`` every few rounds so the plan does not grow with
iteration count — the standard Spark iterative-algorithm hygiene
(same discipline as the star-contraction CC path). Dangling nodes
(no out-edges — impossible here since the graph is undirected, kept
for API generality) and rank leakage are handled by the uniform
teleport term.

Determinism: double rank sums accumulate in partition order, so runs
agree only to float tolerance — the operator is rows-only for the
driver; tests/test_dedup.py pins values against an exact driver-side
power iteration at 1e-9 relative tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_etl_spark.ops import lanes

DAMPING = 0.85
N_ITER = 10

def _undirected_edges_degrees(pairs, src, dst):
    """Symmetrized distinct edge list (materialized — iterations
    re-read it) and per-node degrees: the scaffolding both PageRank
    variants share, so plan shape and edge semantics cannot drift
    between them."""
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(
            pairs.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    degrees = edges.groupBy("u").agg(F.count("*").alias("deg"))
    return edges, degrees



def pagerank(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    damping: float = DAMPING,
    n_iter: int = N_ITER,
    checkpoint_every: int = 3,
) -> DataFrame:
    """(node, rank, degree) for the undirected graph given as pairs.

    Ranks sum to ~1 over the graph's nodes (teleport keeps the chain
    ergodic). The rank table stays O(graph nodes) — for a dup graph
    that is a small fraction of the corpus, so every iteration's join
    broadcasts the ranks against the (also small) edge list.
    """
    from aws_etl_spark.ops.scale import broadcast_if_bounded

    edges, degrees = _undirected_edges_degrees(pairs, src, dst)
    # node-sized state read by every iteration: materialize once so
    # the per-round plans scan an RDD instead of re-deriving the
    # degree aggregation from the edge list
    degrees = degrees.localCheckpoint(eager=True)
    n_nodes = degrees.count()
    if n_nodes == 0:
        return edges.select(
            F.col("u").alias("node"),
            F.lit(0.0).alias("rank"),
            F.lit(0).cast("bigint").alias("degree"),
        )
    # Bounded-edge driver fast path (round-13, mirroring the quantized
    # variant's): the float power iteration replays on the collected
    # edge list. Contrib sums are double additions whose order the
    # DISTRIBUTED loop already leaves partition-dependent — this
    # query's declared contract is the 1e-6-relative agreement with an
    # exact power iteration pinned in tests/test_dedup.py (rows-only,
    # no hash oracle), and the replay sits far inside it.
    cap = lanes.cap("pagerank_edges")
    if cap > 0 and edges.count() <= cap:
        import numpy as np

        from aws_etl_spark.ops.scale import bounded_rows_df

        deg_rows = degrees.collect()
        nodes = [r[0] for r in deg_rows]
        deg = np.fromiter(
            (r[1] for r in deg_rows), dtype=np.float64, count=len(nodes)
        )
        idx = {u: i for i, u in enumerate(nodes)}
        e_rows = edges.collect()
        ui = np.fromiter(
            (idx[r[0]] for r in e_rows), dtype=np.int64, count=len(e_rows)
        )
        vi = np.fromiter(
            (idx[r[1]] for r in e_rows), dtype=np.int64, count=len(e_rows)
        )
        teleport_f = (1.0 - damping) / n_nodes
        rank = np.full(len(nodes), 1.0 / n_nodes, dtype=np.float64)
        for _ in range(n_iter):
            contrib = np.zeros(len(nodes), dtype=np.float64)
            np.add.at(contrib, vi, rank[ui] / deg[ui])
            rank = teleport_f + damping * contrib
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                StructField("node", edges.schema["u"].dataType, True),
                StructField("rank", DoubleType(), True),
                StructField("degree", LongType(), True),
            ]
        )
        return bounded_rows_df(
            edges.sparkSession,
            [(u, float(rank[i]), int(deg[i])) for i, u in enumerate(nodes)],
            schema,
        )

    # ranks/contribs are node-bounded; checkpointed lineage hides that
    # from the planner (SMJ per round otherwise — see
    # broadcast_if_bounded). Row counts of both are <= n_nodes.
    b = broadcast_if_bounded(n_nodes)
    teleport = (1.0 - damping) / n_nodes
    ranks = degrees.select(
        "u", F.lit(1.0 / n_nodes).alias("rank"), F.col("deg")
    )
    for i in range(n_iter):
        contribs = (
            edges.join(b(ranks), "u")
            .select(
                F.col("v").alias("u"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("u")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            degrees.join(b(contribs), "u", "left")
            .select(
                "u",
                (
                    F.lit(teleport)
                    + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
                "deg",
            )
        )
        if (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(
        F.col("u").alias("node"),
        "rank",
        F.col("deg").cast("bigint").alias("degree"),
    )


# Quantized-exact variant: ranks live in integer "q-units" (1 unit =
# 1e-12 of total rank mass) and every update is integer arithmetic
# (multiply, integer-divide) — bit-identical on any engine or
# partitioning, unlike the float variant above. The quantization error
# per iteration is < n_nodes units ≈ 1e-9 of mass; the ranking it
# induces is the same as float PageRank for any non-pathological graph.
Q_SCALE = 10**12


def _pagerank_quantized_driver(
    edges: DataFrame,
    degrees: DataFrame,
    damping_pct: int,
    n_iter: int,
) -> DataFrame:
    """Bit-exact driver replay of the distributed quantized loop.

    Every distributed step is non-negative int64 arithmetic —
    ``rank_q DIV deg`` (truncating = floor on non-negatives, == numpy
    ``//``), BIGINT SUM of the contribs (order-free), and
    ``(damping_pct * contrib) DIV 100`` — so the numpy replay is
    bit-identical to any partitioning of the Spark loop (the
    test_gram_and_drift textrank replay pins the same arithmetic).
    Magnitudes: contrib <= total mass Q_SCALE = 1e12, so
    damping_pct * contrib <= 8.5e13 << 2^63."""
    import numpy as np

    deg_rows = degrees.collect()
    nodes = [r[0] for r in deg_rows]
    n = len(nodes)
    deg = np.fromiter((r[1] for r in deg_rows), dtype=np.int64, count=n)
    idx = {u: i for i, u in enumerate(nodes)}
    e_rows = edges.collect()
    ui = np.fromiter((idx[r[0]] for r in e_rows), dtype=np.int64, count=len(e_rows))
    vi = np.fromiter((idx[r[1]] for r in e_rows), dtype=np.int64, count=len(e_rows))
    init_q = Q_SCALE // n
    teleport_q = ((100 - damping_pct) * Q_SCALE) // (100 * n)
    rank = np.full(n, init_q, dtype=np.int64)
    for _ in range(n_iter):
        contrib = np.zeros(n, dtype=np.int64)
        np.add.at(contrib, vi, rank[ui] // deg[ui])
        rank = teleport_q + (damping_pct * contrib) // 100
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField("node", edges.schema["u"].dataType, True),
            StructField("rank_q", LongType(), True),
            StructField("degree", LongType(), True),
        ]
    )
    out = [(u, int(rank[i]), int(deg[i])) for i, u in enumerate(nodes)]
    from aws_etl_spark.ops.scale import bounded_rows_df

    return bounded_rows_df(edges.sparkSession, out, schema)


def pagerank_quantized(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    damping_pct: int = 85,
    n_iter: int = N_ITER,
    checkpoint_every: int = 3,
) -> DataFrame:
    """(node, rank_q, degree): integer-unit PageRank, exactly
    reproducible across engines — the oracle-able formulation of the
    float :func:`pagerank` (same plan shape per iteration)."""
    from aws_etl_spark.ops.scale import broadcast_if_bounded

    edges, degrees = _undirected_edges_degrees(pairs, src, dst)
    # same state-materialization + bounded-broadcast treatment as the
    # float variant above (identical plan shape is part of the
    # contract); integer arithmetic is order-independent, so the hint
    # cannot move the result
    degrees = degrees.localCheckpoint(eager=True)
    n_nodes = degrees.count()
    if n_nodes == 0:
        return degrees.select(
            F.col("u").alias("node"),
            F.lit(0).cast("bigint").alias("rank_q"),
            F.lit(0).cast("bigint").alias("degree"),
        )
    # round-13 optimization: the per-round state is one integer per
    # node and the arithmetic is exact — below the edge dial the
    # 2-jobs-per-round loop collapses to a driver numpy replay
    # (~20 AQE round-trips removed); above it nothing changes
    cap = lanes.cap("pagerank_edges")
    if cap > 0 and edges.count() <= cap:
        return _pagerank_quantized_driver(edges, degrees, damping_pct, n_iter)
    b = broadcast_if_bounded(n_nodes)
    init_q = Q_SCALE // n_nodes
    teleport_q = ((100 - damping_pct) * Q_SCALE) // (100 * n_nodes)
    ranks = degrees.select(
        "u", F.lit(init_q).cast("bigint").alias("rank_q"), "deg"
    )
    for i in range(n_iter):
        contribs = (
            edges.join(b(ranks), "u")
            .select(
                F.col("v").alias("u"),
                F.expr("rank_q DIV deg").alias("c"),
            )
            .groupBy("u")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = degrees.join(b(contribs), "u", "left").select(
            "u",
            (
                F.lit(teleport_q)
                + F.expr(
                    f"({damping_pct} * COALESCE(contrib, 0)) DIV 100"
                )
            ).cast("bigint").alias("rank_q"),
            "deg",
        )
        if (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(
        F.col("u").alias("node"),
        "rank_q",
        F.col("deg").cast("bigint").alias("degree"),
    )
