"""The staged_sql_query stage cache (round 12 — closes the r12 ADVICE
advisory on duplicate spine stages): identical stage-view texts over
the same input snapshot materialize ONCE per process; a rewritten
input misses by (size, mtime_ns) fingerprint; the escape hatch
bypasses reuse entirely; results stay hash-identical either way."""

from __future__ import annotations

import os
import shutil

import pandas as pd

from aws_etl_spark.ops.artifacts import _STORE
from aws_etl_spark.oracle import check_query
from aws_etl_spark.queries.registry import (
    REGISTRY,
    _STAGE_CACHE_STATS,
    _ensure_loaded,
    _staged_view,
)

_ensure_loaded()

SF0001 = "/root/testdata/sf0.001"

_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _mk_sf(tmp_path, copy=()):
    sf = tmp_path / "sf"
    sf.mkdir(parents=True, exist_ok=True)
    for t in _TABLES:
        dst = sf / f"{t}.parquet"
        if t in copy:
            shutil.copy(f"{SF0001}/{t}.parquet", str(dst))
        else:
            os.symlink(f"{SF0001}/{t}.parquet", str(dst))
    return str(sf)


def test_shared_spine_stage_served_from_cache(spark, tmp_path):
    """The ten daily-spine consumers share ONE materialized events
    rollup per input snapshot: the second consumer's stage is a cache
    hit, and both stay hash-green."""
    sf = _mk_sf(tmp_path)
    h0, m0 = _STAGE_CACHE_STATS["hits"], _STAGE_CACHE_STATS["misses"]
    assert check_query("events_acf_daily", spark, sf).ok
    assert check_query("stat_durbin_watson", spark, sf).ok
    assert _STAGE_CACHE_STATS["misses"] == m0 + 1  # one spine text
    assert _STAGE_CACHE_STATS["hits"] == h0 + 1  # dw reused it


def test_rewritten_input_misses_by_fingerprint(spark, tmp_path):
    """Rewriting the source parquet at the same path changes the
    (size, mtime_ns) stamp: the next call re-stages instead of
    serving the stale snapshot — the contract-tightening the cache
    must never break."""
    sf = _mk_sf(tmp_path, copy=("events",))
    m0 = _STAGE_CACHE_STATS["misses"]
    assert check_query("events_acf_daily", spark, sf).ok
    assert _STAGE_CACHE_STATS["misses"] == m0 + 1
    ev = pd.read_parquet(f"{sf}/events.parquet").head(50)
    ev.to_parquet(f"{sf}/events.parquet")
    assert check_query("events_acf_daily", spark, sf).ok
    assert _STAGE_CACHE_STATS["misses"] == m0 + 2
    row = REGISTRY["events_acf_daily"].fn(spark, sf).collect()
    # the fresh stage really read the 50-row rewrite
    assert sum(r.n_pairs for r in row) < 300


def test_escape_hatch_bypasses_reuse(spark, tmp_path, monkeypatch):
    sf = _mk_sf(tmp_path)
    monkeypatch.setenv("SPARK_GRAFT_NO_CACHE", "1")
    h0, m0 = _STAGE_CACHE_STATS["hits"], _STAGE_CACHE_STATS["misses"]
    assert check_query("events_acf_daily", spark, sf).ok
    assert check_query("stat_durbin_watson", spark, sf).ok
    assert (_STAGE_CACHE_STATS["hits"], _STAGE_CACHE_STATS["misses"]) == (
        h0, m0,
    )


def test_distinct_inputs_never_share(spark, tmp_path):
    """Two different sf dirs (distinct symlink targets resolve to the
    same stats, so use a real copy) never share a stage."""
    sf_a = _mk_sf(tmp_path / "a", copy=("events",))
    sf_b = _mk_sf(tmp_path / "b", copy=("events",))
    # make b genuinely different
    ev = pd.read_parquet(f"{sf_b}/events.parquet").head(70)
    ev.to_parquet(f"{sf_b}/events.parquet")
    assert check_query("events_acf_daily", spark, sf_a).ok
    assert check_query("events_acf_daily", spark, sf_b).ok
    rows_a = REGISTRY["events_acf_daily"].fn(spark, sf_a).collect()
    rows_b = REGISTRY["events_acf_daily"].fn(spark, sf_b).collect()
    assert sum(r.n_pairs for r in rows_a) != sum(r.n_pairs for r in rows_b)


# ---------------------------------------------------------------------------
# Round-13 hardening: bounded LRU + eager block eviction + chain
# fingerprints + sibling-session isolation (r12 verdict item 3 and
# the r12 ADVICE medium/low advisories, closed in code).
# ---------------------------------------------------------------------------


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_lru_eviction_frees_blocks_and_restages(spark, tmp_path, monkeypatch):
    """Staging past the cap evicts the oldest entry AND unpersists its
    checkpointed blocks; the evicted text re-stages cleanly on the
    next request (a fresh checkpoint, not the dead one)."""
    from aws_etl_spark.ops import artifacts
    sf = _mk_sf(tmp_path)
    monkeypatch.setattr(artifacts, "CAP", 2)
    try:
        _STORE.clear()
        base = _persistent_rdds(spark)
        texts = [f"SELECT {i} AS x" for i in range(4)]
        for t in texts:
            _staged_view(spark, sf, ("events",), t)
        assert len(_STORE) == 2  # capped
        # 4 staged, 2 evicted-and-unpersisted -> only 2 block sets live
        assert _persistent_rdds(spark) == base + 2
        e0 = _STAGE_CACHE_STATS["evictions"]
        df = _staged_view(spark, sf, ("events",), texts[0])  # re-stage
        assert df.collect()[0].x == 0
        assert _STAGE_CACHE_STATS["evictions"] == e0 + 1  # texts[2] out
        assert len(_STORE) == 2
        assert _persistent_rdds(spark) == base + 2
    finally:
        _STORE.clear()


def test_superseded_snapshot_evicts_old_checkpoint(spark, tmp_path):
    """Re-staging the same text against a rewritten input does not
    just miss — it frees the stale snapshot's blocks immediately
    instead of pinning them for the process lifetime."""
    sf = _mk_sf(tmp_path, copy=("events",))
    _STORE.clear()
    base = _persistent_rdds(spark)
    e0 = _STAGE_CACHE_STATS["evictions"]
    assert check_query("events_acf_daily", spark, sf).ok
    after_first = _persistent_rdds(spark)
    assert after_first > base
    ev = pd.read_parquet(f"{sf}/events.parquet").head(50)
    ev.to_parquet(f"{sf}/events.parquet")
    assert check_query("events_acf_daily", spark, sf).ok
    # same number of live block sets: the stale spine was unpersisted
    assert _persistent_rdds(spark) == after_first
    assert _STAGE_CACHE_STATS["evictions"] == e0 + 1
    _STORE.clear()


def test_upstream_chain_distinguishes_fingerprints(spark, tmp_path):
    """An identical downstream stage text built over two DIFFERENT
    upstream view definitions must not share a checkpoint (the r12
    ADVICE medium advisory: safety was conventional, now structural)."""
    sf = _mk_sf(tmp_path)
    _STORE.clear()
    spark.sql("SELECT 1 AS v").createOrReplaceTempView("up13")
    a = _staged_view(spark, sf, ("events",), "SELECT v FROM up13",
                     chain=(("up13", "SELECT 1 AS v"),))
    spark.sql("SELECT 2 AS v").createOrReplaceTempView("up13")
    b = _staged_view(spark, sf, ("events",), "SELECT v FROM up13",
                     chain=(("up13", "SELECT 2 AS v"),))
    assert a.collect()[0].v == 1
    assert b.collect()[0].v == 2  # NOT the stale checkpoint
    assert len(_STORE) == 2
    _STORE.clear()


def test_sibling_sessions_do_not_share(spark, tmp_path):
    """spark.newSession() shares the applicationId but has its own
    temp-view catalog: a cached stage DataFrame belongs to the session
    that created it (createOrReplaceTempView registers THERE), so the
    key must include session object identity."""
    sf = _mk_sf(tmp_path)
    _STORE.clear()
    m0 = _STAGE_CACHE_STATS["misses"]
    _staged_view(spark, sf, ("events",), "SELECT 42 AS x")
    sib = spark.newSession()
    df = _staged_view(sib, sf, ("events",), "SELECT 42 AS x")
    assert _STAGE_CACHE_STATS["misses"] == m0 + 2  # no cross-session hit
    assert df.sparkSession is sib
    _STORE.clear()


def test_unidentifiable_session_stores_nothing(spark, tmp_path):
    """A session whose ``.sparkContext`` raises (Spark Connect) cannot
    be keyed: the stage builds uncached and the store does not grow,
    so no dead entry pushes live ones out."""

    class ConnectLike:
        sql = spark.sql

        @property
        def sparkContext(self):  # noqa: N802 — mirrors SparkSession
            raise RuntimeError("no SparkContext on a Connect session")

    sf = _mk_sf(tmp_path)
    before = len(_STORE)
    m0 = _STAGE_CACHE_STATS["misses"]
    df = _staged_view(ConnectLike(), sf, ("events",), "SELECT 7 AS x")
    assert df.collect()[0].x == 7
    assert len(_STORE) == before
    assert _STAGE_CACHE_STATS["misses"] == m0
