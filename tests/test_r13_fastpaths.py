"""Round-13 bounded-state driver fast paths: forced-path equivalence.

Iterative operators such as ``pagerank_quantized`` (below the
``pagerank_edges`` cap) and ``events_markov_stationary`` (below
``markov_states``) run a driver fast path under the caps of
``aws_etl_spark/ops/lanes.py``. The integer paths are exact, so the
outputs must be BIT-IDENTICAL, not merely close. These tests compare
full row sets between the default lane and the forced-distributed
lane (``SPARK_GRAFT_LANE=distributed`` zeroes every cap); boundary
tests patch ``lanes.CAPS``.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE

# Round-14 verify-budget split (r13 verdict item 1): this is one of
# the heavyweight gate suites excluded from the driver's default
# pytest run; builder gates run it via -m "slow or not slow".
pytestmark = pytest.mark.slow


def _pairs(spark):
    # a small multi-component graph with asymmetric degrees so ranks
    # actually differ per node (two triangles bridged + a pendant)
    rows = [
        (1, 2), (2, 3), (1, 3),
        (3, 4),
        (4, 5), (5, 6), (4, 6),
        (6, 7),
    ]
    return spark.createDataFrame(rows, "id_a bigint, id_b bigint")


def test_pagerank_quantized_driver_matches_distributed(spark, monkeypatch):
    from aws_etl_spark.dedup.pagerank import pagerank_quantized

    pairs = _pairs(spark)
    monkeypatch.delenv("SPARK_GRAFT_LANE", raising=False)
    fast = {tuple(r) for r in pagerank_quantized(pairs).collect()}
    monkeypatch.setenv("SPARK_GRAFT_LANE", "distributed")
    slow = {tuple(r) for r in pagerank_quantized(pairs).collect()}
    assert fast == slow
    assert len(fast) == 7  # every node present exactly once


def test_pagerank_quantized_dial_boundary(spark, monkeypatch):
    """cap == edge count keeps the fast path; cap == edges-1 forces
    the distributed loop (the gate is <=)."""
    from aws_etl_spark.dedup.pagerank import pagerank_quantized
    from aws_etl_spark.ops import lanes

    pairs = _pairs(spark)
    # 8 undirected pairs -> 16 symmetrized edges
    monkeypatch.setitem(lanes.CAPS, "pagerank_edges", 16)
    at_cap = {tuple(r) for r in pagerank_quantized(pairs).collect()}
    monkeypatch.setitem(lanes.CAPS, "pagerank_edges", 15)
    above = {tuple(r) for r in pagerank_quantized(pairs).collect()}
    assert at_cap == above


@pytest.mark.parametrize(
    "name",
    [
        "dedup_containment",
        "dedup_ngram_jaccard",
        "dedup_incremental_index",
        "dedup_span_census",
        "dedup_span_doc_profile",
    ],
)
def test_shared_shingle_artifacts_match_uncached(spark, monkeypatch, name):
    """The pair-cache-served shingle/raw-pair/span-occurrence artifacts
    (round-13 sharing) must be row-identical to each query's historical
    uncached pipeline."""
    from aws_etl_spark.queries.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    fn = REGISTRY[name].fn
    monkeypatch.delenv("SPARK_GRAFT_NO_CACHE", raising=False)
    cached = {tuple(r) for r in fn(spark, SF_SMOKE).collect()}
    monkeypatch.setenv("SPARK_GRAFT_NO_CACHE", "1")
    uncached = {tuple(r) for r in fn(spark, SF_SMOKE).collect()}
    assert cached == uncached and cached


def test_markov_stationary_driver_matches_distributed(spark, monkeypatch):
    from aws_etl_spark.queries.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    fn = REGISTRY["events_markov_stationary"].fn
    monkeypatch.delenv("SPARK_GRAFT_LANE", raising=False)
    fast = {tuple(r) for r in fn(spark, SF_SMOKE).collect()}
    monkeypatch.setenv("SPARK_GRAFT_LANE", "distributed")
    slow = {tuple(r) for r in fn(spark, SF_SMOKE).collect()}
    assert fast and fast == slow


def test_para_token_substituted_and_oracle_free(spark):
    """``{PARA}`` (round-13 widen token for staged SQL) must be
    replaced with the session parallelism in the executed Spark text —
    and must never appear in any oracle text, where no engine would
    substitute it."""
    from aws_etl_spark.queries.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    # every oracle text is {PARA}-free
    assert not any(
        spec.oracle and "{PARA}" in spec.oracle
        for spec in REGISTRY.values()
    )
    # the one user so far: spearman's widened moment block analyzes
    # cleanly (an unsubstituted token would be a parse error) and its
    # plan carries the explicit round-robin exchange
    df = REGISTRY["stat_spearman_corr"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" in plan


def test_kcore_driver_matches_distributed(spark, monkeypatch):
    from aws_etl_spark.dedup.graph_metrics import k_core_membership

    pairs = _pairs(spark)
    monkeypatch.delenv("SPARK_GRAFT_LANE", raising=False)
    fast = {tuple(r) for r in k_core_membership(pairs).collect()}
    monkeypatch.setenv("SPARK_GRAFT_LANE", "distributed")
    slow = {tuple(r) for r in k_core_membership(pairs).collect()}
    assert fast == slow
    assert len(fast) == 7  # every node of the fixture graph labeled


def test_kcenter_driver_matches_distributed(spark, monkeypatch):
    from aws_etl_spark.similarity.kcenter import kcenter_greedy_quantized

    emb = spark.createDataFrame(
        [(i, [float(i % 3) * 0.25, float(i % 5) * 0.5, float(i)])
         for i in range(1, 12)],
        "vec_id bigint, embedding array<double>",
    )
    monkeypatch.delenv("SPARK_GRAFT_LANE", raising=False)
    fast = [tuple(r) for r in kcenter_greedy_quantized(emb, k=4).collect()]
    monkeypatch.setenv("SPARK_GRAFT_LANE", "distributed")
    slow = [tuple(r) for r in kcenter_greedy_quantized(emb, k=4).collect()]
    assert sorted(fast) == sorted(slow)
    assert len(fast) == 4


def test_kmeans_driver_matches_distributed(spark, monkeypatch):
    from aws_etl_spark.similarity.kmeans import kmeans_quantized

    emb = spark.createDataFrame(
        [(i, [float(i % 4) * 0.5, float(i % 7) * 0.25, float(i) * 0.125])
         for i in range(1, 21)],
        "vec_id bigint, embedding array<double>",
    )
    monkeypatch.delenv("SPARK_GRAFT_LANE", raising=False)
    fast = {tuple(r) for r in kmeans_quantized(emb, k=4, n_iter=3).collect()}
    monkeypatch.setenv("SPARK_GRAFT_LANE", "distributed")
    slow = {tuple(r) for r in kmeans_quantized(emb, k=4, n_iter=3).collect()}
    assert fast == slow
    assert len(fast) == 20


def test_canonical_distance_driver_matches_distributed(spark, monkeypatch):
    from aws_etl_spark.queries.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    fn = REGISTRY["dedup_canonical_distance"].fn
    monkeypatch.delenv("SPARK_GRAFT_LANE", raising=False)
    fast = {tuple(r) for r in fn(spark, SF_SMOKE).collect()}
    monkeypatch.setenv("SPARK_GRAFT_LANE", "distributed")
    slow = {tuple(r) for r in fn(spark, SF_SMOKE).collect()}
    assert fast and fast == slow


def test_lpa_driver_matches_distributed(spark, monkeypatch):
    from aws_etl_spark.dedup.graph_metrics import label_propagation

    pairs = _pairs(spark)
    monkeypatch.delenv("SPARK_GRAFT_LANE", raising=False)
    fast = {tuple(r) for r in label_propagation(pairs).collect()}
    monkeypatch.setenv("SPARK_GRAFT_LANE", "distributed")
    slow = {tuple(r) for r in label_propagation(pairs).collect()}
    assert fast == slow
    assert len(fast) == 7


def test_float_pagerank_driver_within_contract(spark, monkeypatch):
    """The float-variant driver replay must agree with the distributed
    loop to the query's declared tolerance (1e-6 relative — the same
    pin test_pagerank_matches_exact_power_iteration enforces; exact
    bit-equality is NOT part of this rows-only query's contract, the
    distributed float sums being partition-order dependent)."""
    from aws_etl_spark.dedup.pagerank import pagerank

    pairs = _pairs(spark)
    monkeypatch.delenv("SPARK_GRAFT_LANE", raising=False)
    fast = {r["node"]: (r["rank"], r["degree"]) for r in pagerank(pairs).collect()}
    monkeypatch.setenv("SPARK_GRAFT_LANE", "distributed")
    slow = {r["node"]: (r["rank"], r["degree"]) for r in pagerank(pairs).collect()}
    assert set(fast) == set(slow) and len(fast) == 7
    for n in fast:
        assert fast[n][1] == slow[n][1]
        assert abs(fast[n][0] - slow[n][0]) <= 1e-9 + 1e-6 * abs(slow[n][0])


def test_bpe_driver_matches_distributed(spark, monkeypatch):
    """BPE training's bounded-collect driver replay (session 5) must
    be BIT-IDENTICAL to the distributed merge rounds: integer pair
    counts, ASCII (count DESC, sym_a, sym_b) argmax, and the greedy
    left-to-right merge — on all three consumers (merges, vocab, and
    the final segmentation encode joins against)."""
    import aws_etl_spark.text.bpe as bpe
    from aws_etl_spark.ops import artifacts

    docs = spark.createDataFrame(
        [
            (1, "low low lower lowest"),
            (2, "new newer newest low"),
            (3, "aaaa aaa aa a"),  # same-symbol runs: odd-offset rule
            (4, "x"),
        ],
        "doc_id bigint, text string",
    )

    def train():
        artifacts._STORE.clear()
        merges, vocab = bpe.bpe_train(docs, "text", n_rounds=3)
        seq = bpe.bpe_final_state(docs, "text", n_rounds=3)
        return (
            sorted(tuple(r) for r in merges.collect()),
            sorted(tuple(r) for r in vocab.collect()),
            sorted(tuple(r) for r in seq.collect()),
        )

    monkeypatch.delenv("SPARK_GRAFT_LANE", raising=False)
    fast = train()
    monkeypatch.setenv("SPARK_GRAFT_LANE", "distributed")
    slow = train()
    assert fast == slow
    assert len(fast[0]) == 3  # three merge rules learned


def test_bpe_driver_dial_boundary(spark, monkeypatch):
    """cap == distinct-word count keeps the fast path; cap one below
    forces the distributed loop (the limit probe overflows)."""
    import aws_etl_spark.text.bpe as bpe
    from aws_etl_spark.ops import artifacts, lanes

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma alpha"), (2, "beta delta")],
        "doc_id bigint, text string",
    )
    n_words = 4  # alpha beta gamma delta

    def train():
        artifacts._STORE.clear()
        merges, vocab = bpe.bpe_train(docs, "text", n_rounds=2)
        return (
            sorted(tuple(r) for r in merges.collect()),
            sorted(tuple(r) for r in vocab.collect()),
        )

    monkeypatch.setitem(lanes.CAPS, "bpe_words", n_words)
    at_cap = train()
    monkeypatch.setitem(lanes.CAPS, "bpe_words", n_words - 1)
    below = train()
    assert at_cap == below


def test_minhash_group_expand_matches_join_pairs(spark):
    """The banded-candidate group-and-expand restructure (session 5)
    must produce exactly the historical capped self-join pair set:
    per (band, bucket), all id_a < id_b pairs over the max_bucket
    SMALLEST docs. Verified against a brute-force replay of the
    banding on a corpus with dup groups and a sub-cap bound."""
    from pyspark.sql import functions as F

    from aws_etl_spark.dedup.minhash import (
        _minhash_near_dup_pairs_build,
        minhash_signatures,
    )

    rows = [
        (i, "the quick brown fox jumps over the lazy dog " * 3)
        for i in range(6)
    ] + [
        (10 + i, f"totally unique document number {i} " * 5)
        for i in range(4)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    # brute-force replay: band keys from the signatures, window cap 3
    buckets: dict = {}
    r = 64 // 16
    sig_df = minhash_signatures(docs, "doc_id", "text", 3, 64, 42)
    banded = sig_df.select(
        "doc",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(15)),
                lambda i: F.struct(
                    i.alias("band"),
                    F.xxhash64(
                        F.concat_ws(",", F.slice(F.col("sig"), i * r + 1, r))
                    ).alias("bucket"),
                ),
            )
        ).alias("bk"),
    ).select("doc", "bk.band", "bk.bucket").collect()
    for row in banded:
        buckets.setdefault((row["band"], row["bucket"]), []).append(row["doc"])
    expect = set()
    for docs_in in buckets.values():
        kept = sorted(docs_in)[:3]  # max_bucket=3, smallest docs
        for i in range(len(kept)):
            for j in range(i + 1, len(kept)):
                expect.add((kept[i], kept[j]))

    got = {
        (r2["id_a"], r2["id_b"])
        for r2 in _minhash_near_dup_pairs_build(
            docs, "doc_id", "text", 3, 64, 16, 42, 0.0, 3
        ).collect()
    }
    assert got == expect and got


def test_kmeans_train_driver_matches_distributed(spark, monkeypatch):
    """The spherical-k-means trainer's bounded-collect fast path
    (session 5) must agree with the distributed Lloyd loop to float
    tolerance (the float-pagerank contract: the distributed per-
    cluster sums are partition-order dependent, so bit-equality was
    never pinned; both consumers are rows-only)."""
    import aws_etl_spark.similarity.topk as topk
    from aws_etl_spark.ops import artifacts
    from aws_etl_spark.queries.registry import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    monkeypatch.delenv("SPARK_GRAFT_LANE", raising=False)
    artifacts._STORE.clear()
    fast = topk._train_spherical_centroids(emb, "vec_id", "embedding", 16, 2, 42)
    monkeypatch.setenv("SPARK_GRAFT_LANE", "distributed")
    artifacts._STORE.clear()
    slow = topk._train_spherical_centroids(emb, "vec_id", "embedding", 16, 2, 42)
    artifacts._STORE.clear()
    assert [c for c, _ in fast] == [c for c, _ in slow]
    for (_, va), (_, vb) in zip(fast, slow):
        assert len(va) == len(vb)
        for x, y in zip(va, vb):
            assert abs(x - y) <= 1e-9 + 1e-6 * abs(y)


def test_kmeans_train_driver_dial_boundary(spark, monkeypatch):
    """cap >= sample size keeps the fast path; a 1-row cap forces the
    distributed loop (the limit probe overflows) — same centroids to
    tolerance either way."""
    import aws_etl_spark.similarity.topk as topk
    from aws_etl_spark.ops import artifacts, lanes
    from aws_etl_spark.queries.registry import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    default_cap = lanes.CAPS["kmeans_train_rows"]
    monkeypatch.setitem(lanes.CAPS, "kmeans_train_rows", 1)
    artifacts._STORE.clear()
    forced_slow = topk._train_spherical_centroids(
        emb, "vec_id", "embedding", 8, 1, 7
    )
    monkeypatch.setitem(lanes.CAPS, "kmeans_train_rows", default_cap)
    artifacts._STORE.clear()
    fast = topk._train_spherical_centroids(emb, "vec_id", "embedding", 8, 1, 7)
    artifacts._STORE.clear()
    assert len(forced_slow) == len(fast) == 8
    for (_, va), (_, vb) in zip(fast, forced_slow):
        for x, y in zip(va, vb):
            assert abs(x - y) <= 1e-9 + 1e-6 * abs(y)


def test_pq_trainer_driver_matches_distributed(spark, monkeypatch):
    """The PQ trainer's bounded-cells driver replay (session 5) must
    be BIT-IDENTICAL to the distributed per-subspace Lloyd rounds —
    integer arithmetic throughout, so exact equality on codebooks,
    codes, and the downstream ADC/recall outputs."""
    import aws_etl_spark.similarity.pq as pq
    from aws_etl_spark.ops import artifacts

    emb = spark.createDataFrame(
        [(i, [float(i % 5) * 0.3 - 0.5, float(i % 3) * 0.4,
              float(i) * 0.05, 0.25 * (i % 2)])
         for i in range(1, 25)],
        "vec_id bigint, embedding array<double>",
    )

    def run():
        artifacts._STORE.clear()
        adc, _ = pq.pq_adc_topk(emb, m=2, k=4, n_iter=2, n_queries=3, topk=3)
        return sorted(tuple(r) for r in adc.collect())

    monkeypatch.delenv("SPARK_GRAFT_LANE", raising=False)
    fast = run()
    monkeypatch.setenv("SPARK_GRAFT_LANE", "distributed")
    slow = run()
    artifacts._STORE.clear()
    assert fast and fast == slow


def test_pq_trainer_dial_boundary(spark, monkeypatch):
    """cap == cell count keeps the fast path; one below forces the
    distributed loop (the gate is <=) — identical output either way."""
    import aws_etl_spark.similarity.pq as pq
    from aws_etl_spark.ops import artifacts, lanes

    emb = spark.createDataFrame(
        [(i, [float(i % 4) * 0.2, float(i % 6) * 0.15])
         for i in range(1, 13)],
        "vec_id bigint, embedding array<double>",
    )
    cells = 12 * 2

    def run():
        artifacts._STORE.clear()
        adc, _ = pq.pq_adc_topk(emb, m=2, k=3, n_iter=1, n_queries=2, topk=2)
        return sorted(tuple(r) for r in adc.collect())

    monkeypatch.setitem(lanes.CAPS, "pq_cells", cells)
    at_cap = run()
    monkeypatch.setitem(lanes.CAPS, "pq_cells", cells - 1)
    below = run()
    artifacts._STORE.clear()
    assert at_cap == below
