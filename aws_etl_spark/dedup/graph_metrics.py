"""Structural metrics over the near-duplicate graph: triangles,
neighborhood similarity, and label-propagation communities.

Connected components (components.py) answers "which docs are
transitively linked"; these operators answer the finer-grained
questions a curation pipeline asks about the dup graph's SHAPE:

- :func:`triangle_counts` — how clique-like is each doc's
  neighborhood? Boilerplate families form near-cliques (every copy
  matches every other copy), while chains of borderline matches
  (A≈B≈C but A≁C) are usually template drift — triangle density
  separates the two, so survivor selection can treat them differently.
- :func:`neighborhood_jaccard` — second-order similarity: two docs
  whose NEIGHBOR SETS overlap heavily belong to the same dup family
  even if their direct edge fell below the content threshold. The
  standard link-prediction signal, here used to heal
  threshold-boundary splits in dup clusters.
- :func:`label_propagation` — community detection that, unlike CC,
  does not transitively merge everything reachable: a chain A-B-C-D
  splits where the vote flips, which is what you want when one
  borderline edge would otherwise glue two unrelated boilerplate
  families into one cluster.

All are exact, integer/deterministic, and expressed as plain
DataFrame joins/aggregations so every one is DuckDB-oracle-checkable
end-to-end (unlike float PageRank, which is pinned by tolerance).

Scale notes (100 TB): near-dup graphs are sparse — edges ~ O(docs)
with small cliques — so the binding concern is wedge fanout around
high-degree hub nodes (global boilerplate shared by millions of
docs). Triangle counting uses the standard degree-ordered
"compact-forward" orientation (wedges pivot only at each edge's
LOWER-degree endpoint, bounding work at O(E^1.5) worst case instead
of Σ deg² — Latapy, TCS 2008); the wedge/neighbor joins are plain
hash-partitioned equi-joins AQE can skew-split. Label propagation is
one join + one map-side-combinable agg per round, rank state one row
per node, same iterative hygiene as pagerank.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canonical(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """(u, v) with u < v, distinct — undirected edge set."""
    return (
        pairs.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def _symmetrized(edges: DataFrame) -> DataFrame:
    return edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def triangle_counts(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """(node, degree, triangles) for every node of the pair graph.

    Degree-ordered orientation: direct each undirected edge from its
    (degree, id)-smaller endpoint to the larger one; every triangle
    then appears as exactly one wedge a→b, a→c (b before c in the
    order) closed by edge b→c. The wedge self-join pivots at ``a`` —
    by construction the LOW-degree endpoint — so a hub with degree d
    contributes no d² wedge blowup; total wedge count is bounded by
    O(E^1.5) (arboricity bound) regardless of skew.
    """
    # The pair source is typically an EXPENSIVE subtree (a shingle
    # self-join); every downstream branch must reuse one materialized
    # edge list, not re-derive it — without this the wedge/closing/
    # per-node branches multiply the upstream cost ~12× (measured:
    # 110 s → 3 s at sf0.1). Same iterative-operator hygiene as
    # components.py / pagerank.py.
    edges = _canonical(pairs, src, dst).localCheckpoint(eager=True)
    sym = _symmetrized(edges)
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))

    # rank = (degree, id) total order; orient edges rank-ascending
    ranked = (
        sym.join(deg.withColumnRenamed("u", "__n"), sym.u == F.col("__n"))
        .select("u", "v", F.col("deg").alias("deg_u"))
        .join(
            deg.select(F.col("u").alias("__n"), F.col("deg").alias("deg_v")),
            F.col("v") == F.col("__n"),
        )
        .select("u", "v", "deg_u", "deg_v")
    )
    directed = ranked.filter(
        (F.col("deg_u") < F.col("deg_v"))
        | ((F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v")))
    ).select("u", "v").localCheckpoint(eager=True)

    a = directed.alias("e1")
    b = directed.alias("e2")
    # wedges at the low-rank pivot; e1.v/e2.v ordered by id to emit
    # each unordered out-neighbor pair once
    wedges = a.join(b, (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.v") < F.col("e2.v"))).select(
        F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), F.col("e2.v").alias("c")
    )
    # close the wedge with a directed edge b→c or c→b (orientation of
    # (b, c) depends on their ranks, so check both)
    closing = directed.select(
        F.col("u").alias("b"), F.col("v").alias("c")
    ).unionByName(directed.select(F.col("v").alias("b"), F.col("u").alias("c")))
    tris = wedges.join(closing, ["b", "c"])

    # one explode evaluates each triangle row once (a 3-way union of
    # tris would re-run the wedge join three times)
    per_node = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        deg.select(F.col("u").alias("node"), "deg")
        .join(per_node, "node", "left")
        .select(
            "node",
            F.col("deg").cast("bigint").alias("degree"),
            F.coalesce(F.col("triangles"), F.lit(0)).cast("bigint").alias("triangles"),
        )
    )


def neighborhood_jaccard(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_neighbors: int | None = None,
) -> DataFrame:
    """(id_a, id_b, n_common, deg_a, deg_b, nbr_jaccard) for every
    node pair sharing ≥1 neighbor (id_a < id_b).

    ``nbr_jaccard`` = |N(a)∩N(b)| / |N(a)∪N(b)| — an int/int double
    division, bit-deterministic across engines. Candidate pairs come
    from a wedge join (pairs co-appearing in some neighbor list), so
    cost tracks Σ deg² over the sparse dup graph, never all-pairs.

    ``max_neighbors`` is the hub-node defense at corpus scale (the
    same role the document-frequency cap plays in LSH banding):
    mutual-top-k sparsification — an edge (u, v) survives only if v is
    among u's ``max_neighbors`` LOWEST-id neighbors AND u is among
    v's (deterministic, order-free). Capping only each node's own
    out-list would NOT bound the wedge join (a star hub stays in every
    leaf's list, so the hub's wedge group is still deg(hub) wide); the
    mutual condition bounds BOTH sides, so every wedge-pivot group is
    ≤ cap and total wedges ≤ N·cap², immune to a global-boilerplate
    hub's deg² blowup. Degrees are computed from the same capped graph,
    so the output is a well-defined approximation over it. With
    ``cap ≥ max degree`` the mutual condition is vacuous and the
    result is exactly the uncapped one (pinned in tests); ``None``
    disables the cap.
    """
    # materialize once: the wedge self-join and two degree joins would
    # otherwise each re-derive the (expensive) pair source
    edges = _canonical(pairs, src, dst).localCheckpoint(eager=True)
    sym = _symmetrized(edges)
    if max_neighbors is not None:
        # per-node top-k by id: one hash-partitioned window (AQE
        # skew-split handles a hub's sort partition), then a self
        # semi-join keeps only mutually-kept edges — preserving the
        # relation's symmetry, which the degree agg below relies on
        from pyspark.sql import Window

        w = Window.partitionBy("u").orderBy("v")
        kept = (
            sym.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= max_neighbors)
            .drop("__rk")
        )
        swapped = kept.select(F.col("v").alias("u"), F.col("u").alias("v"))
        sym = kept.join(swapped, ["u", "v"], "left_semi")
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))

    l = sym.alias("l")
    r = sym.alias("r")
    common = (
        l.join(r, (F.col("l.v") == F.col("r.v")) & (F.col("l.u") < F.col("r.u")))
        .groupBy(F.col("l.u").alias("id_a"), F.col("r.u").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(deg.select(F.col("u").alias("id_a"), F.col("deg").alias("deg_a")), "id_a")
        .join(deg.select(F.col("u").alias("id_b"), F.col("deg").alias("deg_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.col("deg_a").cast("bigint").alias("deg_a"),
            F.col("deg_b").cast("bigint").alias("deg_b"),
            (
                F.col("n_common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_common"))
            ).alias("nbr_jaccard"),
        )
    )


def label_propagation(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    n_rounds: int = 4,
) -> DataFrame:
    """(node, label) after ``n_rounds`` of synchronous label
    propagation (Raghavan et al. 2007), made fully deterministic:
    every node adopts the most frequent label among its neighbors,
    ties broken by SMALLEST label id. Labels start as node ids.

    Synchronous + deterministic tiebreak ⇒ the whole iteration is
    pure integer relational algebra, so a fixed-round run is
    hash-verifiable against an unrolled-CTE SQL oracle (the
    pagerank_exact trick applied to community detection).

    Per round: one equi-join (labels → edge endpoints) + one
    count-agg + one argmax-agg — the argmax is max(struct(count,
    -label)), a map-side-combinable aggregate, NOT a window, so a
    round's cost is two shuffles bounded by node/edge counts. Lineage
    is truncated each round (localCheckpoint) per iterative-operator
    hygiene.
    """
    from aws_etl_spark.ops import lanes
    from aws_etl_spark.ops.scale import broadcast_if_bounded

    edges = _canonical(pairs, src, dst)
    sym = _symmetrized(edges).localCheckpoint(eager=True)
    # Bounded-edge driver fast path (round-13 — the k-core treatment):
    # synchronous rounds of integer vote counting with the
    # max(count, -label) tiebreak replay bit-exactly on the collected
    # symmetric edge list. Above the dial the distributed loop below
    # runs unchanged.
    driver_cap = lanes.cap("lpa_edges")
    if sym.count() <= driver_cap:
        from aws_etl_spark.ops.scale import bounded_rows_df
        from pyspark.sql import types as T

        el = [(r["u"], r["v"]) for r in sym.collect()]
        lab = {u: u for u, _ in el}
        for _ in range(n_rounds):
            votes: dict = {}
            for u, v in el:
                d = votes.setdefault(u, {})
                lv = lab[v]
                d[lv] = d.get(lv, 0) + 1
            lab = {
                u: max(d.items(), key=lambda kv: (kv[1], -kv[0]))[0]
                for u, d in votes.items()
            }
        node_type = sym.schema["u"].dataType
        return bounded_rows_df(
            pairs.sparkSession,
            [(n, int(v)) for n, v in lab.items()],
            T.StructType(
                [
                    T.StructField("node", node_type),
                    T.StructField("label", T.LongType()),
                ]
            ),
        )
    labels = sym.select("u").distinct().select(
        F.col("u").alias("node"), F.col("u").alias("label")
    ).localCheckpoint(eager=True)
    # the label table is node-sized and constant-cardinality across
    # rounds; one count gates a broadcast hint for every round's join
    # (checkpointed lineage otherwise plans SMJ per round)
    b = broadcast_if_bounded(labels.count())
    for _ in range(n_rounds):
        votes = (
            sym.join(b(labels), sym.v == labels.node)
            .groupBy(F.col("u"), F.col("label"))
            .agg(F.count("*").alias("cnt"))
        )
        labels = (
            votes.groupBy("u")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("m"))
            .select(F.col("u").alias("node"), (-F.col("m.neg")).alias("label"))
            .localCheckpoint(eager=True)
        )
    return labels.select("node", F.col("label").cast("bigint").alias("label"))


def k_core_membership(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    k: int = 2,
    n_rounds: int = 5,
) -> DataFrame:
    """(node, degree, in_core) after ``n_rounds`` of k-core peeling:
    each round drops every node whose CURRENT degree is < k (with its
    edges), simultaneously. The k-core separates structurally-dense
    dup families (every member ≥k links — true boilerplate) from
    pendant/bridge nodes that near-dup chains attach spuriously.

    Fixed-round contract (the LPA/pagerank_exact discipline): both
    engines run exactly ``n_rounds`` synchronous peels, so the output
    is hash-comparable whether or not peeling has converged; the dup
    graph's cliquey structure peels to a fixed point in 1–2 rounds,
    and deeper graphs just raise ``n_rounds`` (cost: one degree agg +
    one semi-join per round, log-depth in practice — the same
    iterative shape as star-contraction CC). ``degree`` is the
    original degree; ``in_core`` marks round-``n_rounds`` survivors.
    """
    from aws_etl_spark.ops import lanes
    from aws_etl_spark.ops.scale import broadcast_if_bounded

    edges0 = _canonical(pairs, src, dst).localCheckpoint(eager=True)
    # Bounded-edge driver fast path (round-13 — the pagerank/markov
    # bounded-collect treatment): peeling is PURE integer counting and
    # comparison (no division, no floats), so below the edge dial the
    # n_rounds synchronous peels replay exactly on the collected edge
    # list instead of ~4 driver-coordinated jobs per round. Above the
    # dial the distributed loop below runs unchanged. Forced-path
    # equivalence pinned in tests/test_r13_fastpaths.py.
    driver_cap = lanes.cap("kcore_edges")
    if edges0.count() <= driver_cap:
        from aws_etl_spark.ops.scale import bounded_rows_df
        from pyspark.sql import types as T

        edge_l = [(r["u"], r["v"]) for r in edges0.collect()]
        deg0_d: dict = {}
        for u, v in edge_l:
            deg0_d[u] = deg0_d.get(u, 0) + 1
            deg0_d[v] = deg0_d.get(v, 0) + 1
        cur = edge_l
        degs = deg0_d
        for _ in range(n_rounds):
            kept = {n for n, c in degs.items() if c >= k}
            cur = [(u, v) for u, v in cur if u in kept and v in kept]
            degs = {}
            for u, v in cur:
                degs[u] = degs.get(u, 0) + 1
                degs[v] = degs.get(v, 0) + 1
        in_core = {n for n, c in degs.items() if c >= k}
        node_type = edges0.schema["u"].dataType
        return bounded_rows_df(
            pairs.sparkSession,
            [(n, d, n in in_core) for n, d in deg0_d.items()],
            T.StructType(
                [
                    T.StructField("node", node_type),
                    T.StructField("degree", T.LongType()),
                    T.StructField("in_core", T.BooleanType()),
                ]
            ),
        )
    # materialized once: round 1's peel filter AND the final output
    # both read these original degrees (reuse-once hygiene)
    deg0 = (
        _symmetrized(edges0)
        .groupBy("u")
        .agg(F.count("*").alias("deg"))
        .localCheckpoint(eager=True)
    )
    # every round's keep-list is a subset of the round-0 node set, so
    # one count decides the broadcast hint for all peel joins
    b = broadcast_if_bounded(deg0.count())

    edges = edges0
    for i in range(n_rounds):
        if i == 0:
            deg = deg0.select("u", F.col("deg").alias("c"))
        else:
            deg = _symmetrized(edges).groupBy("u").agg(F.count("*").alias("c"))
        # keep feeds TWO endpoint joins: materialize it (a tiny node
        # list) so the degree-agg subtree runs once per round, not
        # per join — same reason triangle_counts checkpoints directed
        keep = (
            deg.filter(F.col("c") >= k).select("u").localCheckpoint(eager=True)
        )
        edges = (
            edges.join(b(keep.withColumnRenamed("u", "__ka")), edges.u == F.col("__ka"))
            .drop("__ka")
            .join(b(keep.withColumnRenamed("u", "__kb")), edges.v == F.col("__kb"))
            .drop("__kb")
            .localCheckpoint(eager=True)
        )
    survivors = (
        _symmetrized(edges)
        .groupBy("u")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= k)
        .select(F.col("u").alias("node"), F.lit(True).alias("in_core"))
    )
    return (
        deg0.select(F.col("u").alias("node"), F.col("deg").cast("bigint").alias("degree"))
        .join(b(survivors), "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("in_core"), F.lit(False)).alias("in_core"),
        )
    )
