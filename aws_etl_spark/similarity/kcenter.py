"""k-center greedy (farthest-point) diversity sampling over an
embedding column — the coreset-selection primitive of training-data
curation (pick k examples that COVER the embedding space, instead of
k random ones that oversample dense regions).

Algorithm (Gonzalez 1985, the 2-approximation to the k-center
optimum): seed with one point, then repeatedly select the point whose
distance to the already-selected set is largest, updating each
point's min-distance-to-selected incrementally.

Exactness follows the kmeans_quantized discipline: components
quantize to shifted non-negative 1e-6 integers, every distance is a
BIGINT sum of squared integer deltas, the per-round argmax tiebreaks
on the smallest id, and the running min-distance is an integer
LEAST — so the selected set, the selection order, and every reported
distance are bit-identical across engines/partitionings and the
whole trace hash-verifies against an unrolled-CTE DuckDB oracle.

Scale shape per round: ONE broadcast of the freshly selected point's
d quantized components against the exploded (id, dim, q) relation
(checkpointed once), one (id)-grouped distance aggregation, one
2-column integer LEAST merge — linear in corpus size per round, k
rounds total. The argmax itself is a 1-row map-side-combinable
max(struct); only that single row is collected per round (bounded
driver work, the markov/IVF-seed convention). At 100 TB the exploded
relation is the only data-sized operand and it is scanned once per
round with no pairwise blow-up anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_etl_spark.similarity.kmeans import _exploded


def kcenter_greedy_quantized(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 6,
) -> DataFrame:
    """Select ``k`` diverse points by farthest-point greedy; returns
    (sel_order, vec_id, dist_q) where ``dist_q`` is the point's exact
    squared quantized distance to the previously-selected set at the
    moment it was chosen (0 for the seed)."""
    spark = emb.sparkSession
    ex = _exploded(emb, id_col, vec_col).localCheckpoint(eager=True)

    # Bounded-cells driver fast path (round-13 — the pagerank/markov/
    # k-core bounded-collect treatment): every distance is a BIGINT
    # sum of squared integer deltas and the argmax tiebreak is pure
    # integer comparison, so below the dial the k greedy rounds
    # replay bit-exactly on the collected (id, dim, q) relation
    # (numpy int64 == BIGINT under the module's documented ≪2^63
    # product bound) instead of ~4 driver-coordinated jobs per round.
    # Non-uniform dim sets (a ragged vector) fall back to the
    # distributed loop, whose inner joins define that semantics.
    from aws_etl_spark.ops import lanes

    driver_cap = lanes.cap("kcenter_cells")
    if ex.count() <= driver_cap:
        by_id: dict = {}
        for row in ex.collect():
            by_id.setdefault(row["id"], {})[row["dim"]] = row["q"]
        dims0 = None
        uniform = True
        for dmap in by_id.values():
            ks = frozenset(dmap)
            if dims0 is None:
                dims0 = ks
            elif ks != dims0:
                uniform = False
                break
        if not by_id:
            return spark.createDataFrame(
                [], "sel_order bigint, vec_id bigint, dist_q bigint"
            )
        if uniform:
            import numpy as np

            from aws_etl_spark.ops.scale import bounded_rows_df

            ids = sorted(by_id)
            dim_list = sorted(dims0)
            q_mat = np.array(
                [[by_id[i][dm] for dm in dim_list] for i in ids],
                dtype=np.int64,
            )
            picks_d: list[tuple[int, int, int]] = [(1, int(ids[0]), 0)]

            def dvec(j: int):
                diff = q_mat - q_mat[j]
                return (diff * diff).sum(axis=1)

            mind_v = dvec(0)
            for r in range(2, k + 1):
                # np.argmax returns the FIRST max; ids ascending, so
                # this is exactly max(struct(d, -id)) — min id on ties
                j = int(mind_v.argmax())
                picks_d.append((r, int(ids[j]), int(mind_v[j])))
                mind_v = np.minimum(mind_v, dvec(j))
            return bounded_rows_df(
                spark,
                picks_d,
                "sel_order bigint, vec_id bigint, dist_q bigint",
            )

    seed_id = ex.agg(F.min("id")).collect()[0][0]
    if seed_id is None:
        return spark.createDataFrame(
            [], "sel_order bigint, vec_id bigint, dist_q bigint"
        )
    picks: list[tuple[int, int, int]] = [(1, int(seed_id), 0)]

    def dist_to(center_id: int) -> DataFrame:
        cdims = ex.filter(F.col("id") == center_id).select(
            "dim", F.col("q").alias("c")
        )
        return (
            ex.join(F.broadcast(cdims), "dim")
            .groupBy("id")
            .agg(
                F.sum(
                    (F.col("q") - F.col("c")) * (F.col("q") - F.col("c"))
                ).alias("d")
            )
        )

    mind = dist_to(int(seed_id)).localCheckpoint(eager=True)
    for r in range(2, k + 1):
        top = (
            mind.agg(
                F.max(
                    F.struct(F.col("d").alias("d"), (-F.col("id")).alias("ni"))
                ).alias("m")
            )
            .select((-F.col("m.ni")).alias("id"), F.col("m.d").alias("d"))
            .collect()[0]
        )
        picks.append((r, int(top["id"]), int(top["d"])))
        d_new = dist_to(int(top["id"])).withColumnRenamed("d", "dn")
        mind = (
            mind.join(d_new, "id")
            .select("id", F.least("d", "dn").alias("d"))
            .localCheckpoint(eager=True)
        )
    from aws_etl_spark.ops.scale import bounded_rows_df

    return bounded_rows_df(
        spark, picks, "sel_order bigint, vec_id bigint, dist_q bigint"
    )
