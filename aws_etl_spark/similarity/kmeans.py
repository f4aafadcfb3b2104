"""Distributed quantized-exact k-means over an embedding column —
the iterative-ML counterpart of pagerank_quantized: every update is
pure integer arithmetic, so a fixed-round Lloyd's iteration is
bit-identical across engines and partitionings and can be
hash-verified against an unrolled-CTE SQL oracle.

Why quantized: float k-means sums partials in partition order —
assignments near a Voronoi boundary then flip between runs, and no
cross-engine oracle can exist. Quantizing components to 1e-6 integers
(the label-centroids idiom) makes distances, argmins, and centroid
updates exact:

- components: ``q = FLOOR(v · 1e6) + OFFSET`` — the shift keeps every
  quantity non-negative so integer division truncation agrees across
  engines (Spark ``DIV`` truncates toward zero, DuckDB ``//`` floors;
  they only coincide on non-negatives — the RFM dialect-seam lesson).
  Distances are shift-invariant.
- assignment: argmin over centroids of Σ_dim (q − c)², ties to the
  smallest centroid id — evaluated as a map-side-combinable
  ``max(struct(-dist, -cluster))``, no windows;
- update: per-(cluster, dim) integer mean ``Σq DIV n``; empty
  clusters keep their previous centroid.

Scale shape per round: the exploded (id, dim, q) relation joins the
BROADCAST centroid table (k·d rows) — one wide-side shuffle per
round for the (id, cluster) partial-distance aggregation, then a
k·d-row update aggregate. Centroids are localCheckpoint'ed per round
(iterative-operator hygiene: the plan must not grow with rounds).
Seeds are the k smallest ids (deterministic; k-means|| sampling is
the production seeding and changes only the seed table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Q_SCALE = 1_000_000
OFFSET = 2_000_000  # requires component >= -2.0 (unit-ish embeddings)


def _exploded(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    # CONTRACT (runtime-enforced): floor(v·1e6) + OFFSET must stay
    # non-negative, i.e. every component >= -2.0 (exactly -2.0 yields
    # raw_q = 0, which is in range). The centroid update's
    # integer mean only agrees across engines on non-negatives (Spark
    # DIV truncates toward zero, DuckDB // floors); a component at or
    # below -2.0 would silently break cross-engine hash parity, so it
    # raises instead — ANSI-style guard via raise_error.
    raw_q = F.floor(F.col("val").cast("double") * F.lit(float(Q_SCALE))).cast(
        "long"
    ) + F.lit(OFFSET)
    q = F.when(raw_q >= 0, raw_q).otherwise(
        F.raise_error(
            F.format_string(
                "kmeans_quantized: component %s out of quantization "
                "range (must be >= -2.0)",
                F.col("val").cast("string"),
            )
        ).cast("long")
    )
    return emb.select(
        F.col(id_col).alias("id"), F.posexplode(vec_col).alias("pos", "val")
    ).select("id", (F.col("pos") + 1).alias("dim"), q.alias("q"))


def kmeans_quantized(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 3,
) -> DataFrame:
    """(id, cluster, dist_q) after ``n_iter`` Lloyd rounds; ``cluster``
    is the seed vector's id, ``dist_q`` the final squared quantized
    distance."""
    ex = _exploded(emb, id_col, vec_col).localCheckpoint(eager=True)

    # Bounded-cells driver fast path (round-13 — the kcenter/markov
    # bounded-collect treatment): every Lloyd quantity is integer
    # (BIGINT distance sums; argmin via max(struct(-d, -cluster)) =
    # min distance then min cluster id; update `s DIV n` on
    # NON-NEGATIVE quantized components, where DIV == Python //), so
    # below the dial the n_iter rounds replay bit-exactly on the
    # collected (id, dim, q) relation instead of ~5 driver-
    # coordinated jobs per round. Ragged dim sets fall back to the
    # distributed loop, whose joins define that semantics.
    from aws_etl_spark.ops import lanes

    driver_cap = lanes.cap("kmeans_cells")
    if ex.count() <= driver_cap:
        by_id: dict = {}
        for row in ex.collect():
            by_id.setdefault(row["id"], {})[row["dim"]] = row["q"]
        dims0 = None
        uniform = bool(by_id)
        for dmap in by_id.values():
            ks = frozenset(dmap)
            if dims0 is None:
                dims0 = ks
            elif ks != dims0:
                uniform = False
                break
        if uniform:
            import numpy as np

            from aws_etl_spark.ops.scale import bounded_rows_df

            ids = sorted(by_id)
            dim_list = sorted(dims0)
            q_mat = np.array(
                [[by_id[i][dm] for dm in dim_list] for i in ids],
                dtype=np.int64,
            )
            clusters = ids[: min(k, len(ids))]  # k smallest ids seed
            c_mat = np.array(
                [q_mat[ids.index(c)] for c in clusters], dtype=np.int64
            )

            def assign_d():
                # (n, k) integer distance matrix; argmin returns the
                # FIRST min and clusters ascend, so ties break to the
                # smallest cluster id exactly like max(struct(-d,-c))
                d = (
                    (q_mat[:, None, :] - c_mat[None, :, :]) ** 2
                ).sum(axis=2)
                j = d.argmin(axis=1)
                return j, d[np.arange(len(ids)), j]

            for _ in range(n_iter):
                j_v, _d = assign_d()
                for ci in range(len(clusters)):
                    members = q_mat[j_v == ci]
                    if len(members):
                        # Σq DIV n on non-negative BIGINTs == //
                        c_mat[ci] = members.sum(axis=0) // len(members)
            j_v, d_v = assign_d()
            return bounded_rows_df(
                emb.sparkSession,
                [
                    (int(ids[i]), int(clusters[j_v[i]]), int(d_v[i]))
                    for i in range(len(ids))
                ],
                "vec_id bigint, cluster bigint, dist_q bigint",
            )

    seeds = emb.select(F.col(id_col).alias("id")).orderBy("id").limit(k)
    centroids = (
        ex.join(F.broadcast(seeds), "id")
        .select(F.col("id").alias("cluster"), "dim", F.col("q").alias("c"))
        .localCheckpoint(eager=True)
    )

    def assign(cents: DataFrame) -> DataFrame:
        dists = (
            ex.join(F.broadcast(cents), "dim")
            .groupBy("id", "cluster")
            .agg(F.sum((F.col("q") - F.col("c")) * (F.col("q") - F.col("c"))).alias("dist"))
        )
        return (
            dists.groupBy("id")
            .agg(F.max(F.struct((-F.col("dist")).alias("nd"), (-F.col("cluster")).alias("nc"))).alias("m"))
            .select("id", (-F.col("m.nc")).alias("cluster"), (-F.col("m.nd")).alias("dist_q"))
        )

    for _ in range(n_iter):
        asg = assign(centroids)
        upd = (
            ex.join(asg.select("id", "cluster"), "id")
            .groupBy("cluster", "dim")
            .agg(F.sum("q").alias("s"), F.count("*").alias("n"))
            .select("cluster", "dim", F.expr("s DIV n").alias("c_new"))
        )
        centroids = (
            centroids.join(upd, ["cluster", "dim"], "left")
            .select(
                "cluster", "dim", F.coalesce("c_new", "c").alias("c")
            )
            .localCheckpoint(eager=True)
        )
    return assign(centroids).select(
        F.col("id").cast("bigint").alias("vec_id"),
        F.col("cluster").cast("bigint").alias("cluster"),
        F.col("dist_q").cast("bigint").alias("dist_q"),
    )
