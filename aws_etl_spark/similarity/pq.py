"""Product quantization (PQ) with asymmetric distance computation —
the third rung of the ANN ladder (LSH → IVF → PQ; Jégou et al., TPAMI
2011 "Product Quantization for Nearest Neighbor Search").

The vector is split into M contiguous subspaces; each subspace gets
its own small k-means codebook; a database vector is stored as M
one-byte-ish codes (here M=2, K=8 for the oracle-sized demo — the
production dials are M=8..16, K=256). Search never decodes: a query
precomputes its distance to every (subspace, centroid) once — an
M·K-row table — and a candidate's approximate distance is the SUM of
M table lookups over its codes (ADC). At 100 TB the scan touches only
the code columns (M bytes/vector instead of 4·d), the codebook
broadcast is M·K·(d/M) rows, and the lookup join shuffles nothing but
(id, sub, code).

Exactness: the whole pipeline reuses the quantized-integer k-means
arithmetic of similarity/kmeans.py (FLOOR(v·1e6)+OFFSET components,
integer squared distances, argmin ties to the smallest centroid id,
integer-mean updates) — run independently per subspace by carrying a
``sub`` key through every stage — so codebooks, codes, the query
distance table, and the final ADC top-k are all exact BIGINTs,
hash-verified against an unrolled-CTE DuckDB oracle.

Reference scope: camposvinicius/aws-etl has no vector operators at
all (SURVEY.md §2.13); this is north-star surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aws_etl_spark.similarity.kmeans import _exploded


def _sub_exploded(
    emb: DataFrame, id_col: str, vec_col: str, m: int, d: int
) -> DataFrame:
    """(id, sub, dim, q): the kmeans quantization with the subspace
    key ``sub = ((dim-1)·m) DIV d + 1`` (contiguous equal splits)."""
    ex = _exploded(emb, id_col, vec_col)
    # integer DIV (non-negative operands, so Spark's truncation and
    # DuckDB's floor agree — the kmeans dialect-seam convention)
    return ex.select(
        "id",
        (F.expr(f"((dim - 1) * {m}) DIV {d}") + 1).alias("sub"),
        "dim",
        "q",
    )


def _pq_trained(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    k: int,
    n_iter: int,
):
    """(ex, centroids, codes): exploded shifted components, trained
    per-subspace codebooks, and the per-(id, sub) code assignment.

    embeddings_pq_adc and embeddings_pq_recall train byte-identical
    codebooks (integer-exact Lloyd rounds, s DIV n) over the same
    exploded components, so the triple is held in the process memo
    (``ops/artifacts.py::memo``, keyed on session identity and the
    input fingerprint): the second consumer in a session skips the
    explode + Lloyd rounds + encode."""
    from aws_etl_spark.ops.artifacts import memo

    return memo(
        "pq_train",
        emb,
        {"id": id_col, "vec": vec_col, "m": m, "k": k, "iters": n_iter},
        lambda: _pq_train(emb, id_col, vec_col, m, k, n_iter),
    )


def _pq_train(
    emb: DataFrame, id_col: str, vec_col: str, m: int, k: int, n_iter: int
):
    from aws_etl_spark.ops import lanes

    d = emb.select(F.max(F.size(vec_col))).collect()[0][0]
    ex = _sub_exploded(emb, id_col, vec_col, m, d).localCheckpoint(eager=True)

    # Bounded-cells driver fast path (round-13 session 5 — the
    # kmeans_quantized treatment applied to the PQ trainer): every
    # Lloyd quantity is integer (BIGINT squared-distance sums, argmin
    # via max(struct(-d, -cluster)), update `s DIV n` on NON-NEGATIVE
    # quantized components where DIV == Python //), so below the dial
    # the per-subspace rounds replay bit-exactly on the collected
    # (id, sub, dim, q) relation — the dict-based replay mirrors the
    # JOIN semantics exactly (dists over dims present in both the
    # vector and the centroid; update keys outside the centroid set
    # dropped by the left join), so ragged dim sets need no fallback.
    # The exploded relation itself stays a checkpointed DataFrame —
    # the downstream ADC/recall legs are data-sized and distributed.
    driver_cap = lanes.cap("pq_cells")
    if driver_cap > 0 and ex.count() <= driver_cap:
        centroids_d, codes_d = _pq_lloyd_driver(
            emb.sparkSession, ex.collect(), k, n_iter
        )
        return (ex, centroids_d, codes_d)

    seeds = emb.select(F.col(id_col).alias("id")).orderBy("id").limit(k)
    centroids = (
        ex.join(F.broadcast(seeds), "id")
        .select("sub", F.col("id").alias("cluster"), "dim", F.col("q").alias("c"))
        .localCheckpoint(eager=True)
    )

    def assign(cents: DataFrame) -> DataFrame:
        dists = (
            ex.join(F.broadcast(cents), ["sub", "dim"])
            .groupBy("id", "sub", "cluster")
            .agg(
                F.sum(
                    (F.col("q") - F.col("c")) * (F.col("q") - F.col("c"))
                ).alias("dist")
            )
        )
        return (
            dists.groupBy("id", "sub")
            .agg(
                F.max(
                    F.struct(
                        (-F.col("dist")).alias("nd"),
                        (-F.col("cluster")).alias("nc"),
                    )
                ).alias("mx")
            )
            .select(
                "id",
                "sub",
                (-F.col("mx.nc")).alias("cluster"),
                (-F.col("mx.nd")).alias("dist_q"),
            )
        )

    for _ in range(n_iter):
        asg = assign(centroids)
        upd = (
            ex.join(asg.select("id", "sub", "cluster"), ["id", "sub"])
            .groupBy("sub", "cluster", "dim")
            .agg(F.sum("q").alias("s"), F.count("*").alias("n"))
            .select("sub", "cluster", "dim", F.expr("s DIV n").alias("c_new"))
        )
        centroids = (
            centroids.join(upd, ["sub", "cluster", "dim"], "left")
            .select(
                "sub", "cluster", "dim", F.coalesce("c_new", "c").alias("c")
            )
            .localCheckpoint(eager=True)
        )

    codes = assign(centroids).select("id", "sub", "cluster")
    return (ex, centroids, codes)



def _pq_lloyd_driver(spark, rows, k: int, n_iter: int):
    """Driver replay of the per-subspace quantized Lloyd rounds over
    the collected (id, sub, dim, q) relation; returns (centroids_df,
    codes_df) with the distributed schemas. Bit-exact: integer
    distance sums, (dist, cluster) argmin, `s // n` updates on
    non-negative components, inner-join dist semantics (dims present
    in both vector and centroid), left-join update semantics (keys
    outside the centroid set dropped), empty clusters keeping their
    previous centroid."""
    from aws_etl_spark.ops.scale import bounded_rows_df

    by_id_sub: dict = {}  # (id, sub) -> {dim: q}
    for r in rows:
        by_id_sub.setdefault((r["id"], r["sub"]), {})[r["dim"]] = r["q"]
    ids = sorted({i for i, _ in by_id_sub})
    clusters = ids[: min(k, len(ids))]  # k smallest ids seed
    # centroids: (sub, cluster, dim) -> c, from the seed vectors' rows
    cent: dict = {}
    for c_id in clusters:
        for (i, sub), dims in by_id_sub.items():
            if i == c_id:
                for dim, q in dims.items():
                    cent[(sub, c_id, dim)] = q

    def assign():
        codes = {}
        for (i, sub), dims in by_id_sub.items():
            best = None
            for c_id in clusters:
                dist = 0
                hit = False
                for dim, q in dims.items():
                    c = cent.get((sub, c_id, dim))
                    if c is not None:
                        dist += (q - c) * (q - c)
                        hit = True
                if not hit:
                    continue  # no shared dims: the inner join emits nothing
                key = (dist, c_id)
                if best is None or key < best:
                    best = key
            if best is not None:
                codes[(i, sub)] = best[1]
        return codes

    for _ in range(n_iter):
        asg = assign()
        sums: dict = {}  # (sub, cluster, dim) -> [s, n]
        for (i, sub), c_id in asg.items():
            for dim, q in by_id_sub[(i, sub)].items():
                sn = sums.setdefault((sub, c_id, dim), [0, 0])
                sn[0] += q
                sn[1] += 1
        for key in cent:
            sn = sums.get(key)
            if sn is not None:
                cent[key] = sn[0] // sn[1]  # s DIV n, non-negative
    codes = assign()
    centroids_df = bounded_rows_df(
        spark,
        [(int(sub), int(c_id), int(dim), int(c))
         for (sub, c_id, dim), c in sorted(cent.items())],
        "sub bigint, cluster bigint, dim int, c bigint",
    )
    codes_df = bounded_rows_df(
        spark,
        [(int(i), int(sub), int(c_id))
         for (i, sub), c_id in sorted(codes.items())],
        "id bigint, sub bigint, cluster bigint",
    )
    return centroids_df, codes_df


def pq_adc_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 2,
    k: int = 8,
    n_iter: int = 2,
    n_queries: int = 5,
    topk: int = 3,
) -> DataFrame:
    """Train per-subspace codebooks (``n_iter`` Lloyd rounds), encode
    every vector, and return the ADC top-``topk`` neighbors for the
    query set ``id < n_queries``: (query_id, neighbor_id, adc_dist_q,
    rank) — approximate squared distance as Σ over subspaces of the
    query's precomputed distance to the neighbor's centroid.

    Plan shape: the exploded components checkpoint once; each Lloyd
    round is one broadcast join of the M·K·(d/M)-row codebook + one
    (id, sub)-keyed aggregation (the kmeans shape with a composite
    key); encoding is the final assignment; the ADC join touches only
    the (id, sub, code) relation against the broadcast M·K distance
    table — the scan-compressed-codes property that IS product
    quantization.
    """
    ex, centroids, codes = _pq_trained(emb, id_col, vec_col, m, k, n_iter)
    qdist = (
        ex.filter(F.col("id") < n_queries)
        .join(F.broadcast(centroids), ["sub", "dim"])
        .groupBy(F.col("id").alias("qid"), "sub", "cluster")
        .agg(
            F.sum(
                (F.col("q") - F.col("c")) * (F.col("q") - F.col("c"))
            ).alias("dq")
        )
    )
    adc = (
        codes.join(F.broadcast(qdist), ["sub", "cluster"])
        .filter(F.col("id") != F.col("qid"))
        .groupBy("qid", "id")
        .agg(F.sum("dq").alias("adc"))
    )
    w = Window.partitionBy("qid").orderBy("adc", "id")
    adc_topk = (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= topk)
        .select(
            F.col("qid").cast("bigint").alias("query_id"),
            F.col("id").cast("bigint").alias("neighbor_id"),
            F.col("adc").cast("bigint").alias("adc_dist_q"),
            F.col("rn").cast("bigint").alias("rank"),
        )
    )
    return adc_topk, ex


def pq_recall(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 2,
    k: int = 8,
    n_iter: int = 2,
    n_queries: int = 5,
    topk: int = 5,
) -> DataFrame:
    """recall@``topk`` of the PQ/ADC ranking against the EXACT
    quantized-distance top-k per query: (query_id, n_hits, recall).

    The exact leg is the brute-force Σ_dims (q−x)² over the same
    shifted-integer components — integer-exact, so both the
    approximate and ground-truth rankings (and therefore the recall
    itself) hash-match the oracle. At 100 TB the exact leg runs on an
    eval SAMPLE (n_queries), never the corpus² — the
    embeddings_ann_recall eval-harness convention.
    """
    adc_topk, ex = pq_adc_topk(
        emb, id_col, vec_col, m=m, k=k, n_iter=n_iter,
        n_queries=n_queries, topk=topk,
    )
    qx = ex.filter(F.col("id") < n_queries).select(
        F.col("id").alias("qid"), "dim", F.col("q").alias("qq")
    )
    exact = (
        ex.join(F.broadcast(qx), "dim")
        .filter(F.col("id") != F.col("qid"))
        .groupBy("qid", "id")
        .agg(
            F.sum(
                (F.col("qq") - F.col("q")) * (F.col("qq") - F.col("q"))
            ).alias("dist")
        )
    )
    w = Window.partitionBy("qid").orderBy("dist", "id")
    exact_top = (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= topk)
        .select(
            F.col("qid").cast("bigint").alias("query_id"),
            F.col("id").cast("bigint").alias("neighbor_id"),
        )
    )
    hits = exact_top.join(
        adc_topk.select("query_id", "neighbor_id", F.lit(1).alias("hit")),
        ["query_id", "neighbor_id"],
        "left",
    )
    return hits.groupBy("query_id").agg(
        F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hits"),
        (
            F.sum(F.coalesce("hit", F.lit(0))).cast("double")
            / F.lit(float(topk))
        ).alias("recall"),
    )
