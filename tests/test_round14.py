"""Round-14 optimization-round tests.

Covers the r13-verdict infrastructure items:
- the artifact-store scratch-URI dial (verdict item 3): artifacts
  round-trip through a Hadoop-resolvable shared URI instead of the
  driver-local tmpdir, both on local[*] and on a real multi-process
  local-cluster;
- the bench calibration sentinel (verdict item 2) is covered by the
  existing bench-contract test via the JSON line it already parses.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def _reset_remote_root():
    """The remote scratch root is process-scoped module state; tests
    that flip the env var must reset it so each test gets its own
    root (a real process never flips the variable mid-run)."""
    from aws_etl_spark.ops import artifacts

    artifacts._REMOTE_ROOT = None
    artifacts._REMOTE_SPARK = None


def test_scratch_uri_roundtrip_matches_uncached(spark, sf_dir, tmp_path,
                                                monkeypatch):
    """With SPARK_GRAFT_SCRATCH_URI set, materialized() writes the
    artifact under the URI (not the local tmpdir) and serves
    bit-identical rows to the uncached build."""
    from aws_etl_spark.dedup.minhash import minhash_near_dup_pairs

    uri_root = tmp_path / "scratch"
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_URI", f"file://{uri_root}")
    monkeypatch.delenv("SPARK_GRAFT_NO_CACHE", raising=False)
    _reset_remote_root()
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        cached = sorted(
            map(tuple, minhash_near_dup_pairs(docs, "doc_id", "text").collect())
        )
        # artifact landed under the URI, in this process's own subdir
        roots = list(uri_root.glob("aws_etl_spark_paircache_*"))
        assert len(roots) == 1, roots
        assert any(roots[0].iterdir()), "no artifact written under scratch URI"
        # second call serves from the URI (still identical)
        again = sorted(
            map(tuple, minhash_near_dup_pairs(docs, "doc_id", "text").collect())
        )
        monkeypatch.setenv("SPARK_GRAFT_NO_CACHE", "1")
        ref = sorted(
            map(tuple, minhash_near_dup_pairs(docs, "doc_id", "text").collect())
        )
        assert cached == ref == again
    finally:
        _reset_remote_root()


def test_min_df_prune_is_pair_preserving(spark, tmp_path, monkeypatch):
    """The cached lane drops df==1 shingles before the pair self-join
    (round-14, verdict item 7): a crafted corpus where one whole doc
    and several shingles are df==1 must yield IDENTICAL pair rows
    (jaccard, containment, incremental) with the cache on (pruned
    join) and off (historical unpruned pipeline)."""
    from aws_etl_spark.dedup.jaccard import (
        containment_pairs,
        incremental_jaccard_pairs,
        ngram_jaccard_pairs,
    )

    rows = [
        (1, "a b c d e"),
        (2, "a b c x y"),
        (3, "u v w q r"),  # every shingle df==1 — must be inert
        (4, "a b c d e"),  # exact dup of 1
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
        1
    ).write.parquet(src)
    docs = spark.read.parquet(src)
    is_arrival = lambda c: c % 2 == 0  # noqa: E731

    def all_three():
        return (
            sorted(map(tuple, ngram_jaccard_pairs(
                docs, "doc_id", "text", k=3, threshold=0.1).collect())),
            sorted(map(tuple, containment_pairs(
                docs, "doc_id", "text", k=3, threshold=0.1).collect())),
            sorted(map(tuple, incremental_jaccard_pairs(
                docs, "doc_id", "text", is_arrival, k=3, threshold=0.1
            ).collect())),
        )

    monkeypatch.delenv("SPARK_GRAFT_NO_CACHE", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH_URI", raising=False)
    cached = all_three()
    monkeypatch.setenv("SPARK_GRAFT_NO_CACHE", "1")
    uncached = all_three()
    assert cached == uncached
    jac = cached[0]
    assert any(r[0] == 1 and r[1] == 4 for r in jac), "exact dup pair lost"
    assert not any(3 in (r[0], r[1]) for r in jac), "df==1 doc produced a pair"


def test_skew_probe_share_and_floor(spark, tmp_path, monkeypatch):
    """hot_key_share computes the hottest key's row share; the
    engagement floor keeps tiny (trivially share-skewed) corpora on
    the historical plan, and the module constants force both ends."""
    from aws_etl_spark.ops import artifacts, skew_probe

    rows = [(1, i) for i in range(8)] + [(2, 100), (3, 101)]
    src = str(tmp_path / "ev.parquet")
    spark.createDataFrame(rows, "user_id bigint, event_id bigint").coalesce(
        1
    ).write.parquet(src)
    df = spark.read.parquet(src)
    monkeypatch.delenv("SPARK_GRAFT_NO_CACHE", raising=False)
    share, tot = skew_probe.hot_key_share(df, "user_id")
    assert tot == 10 and abs(share - 0.8) < 1e-9
    # memoized: a second call must not launch a job — poke the memo
    sid = (spark.sparkContext.applicationId, id(df.sparkSession))
    ident, _ = artifacts._input_key(df, {})
    assert artifacts._STORE[("hot_key_share:user_id", sid, ident)][1] == (
        share, tot,
    )
    # default floors (64 MB input / 1M rows) keep the tiny 80%-skewed
    # frame un-chunked — and the byte floor decides WITHOUT a job
    assert skew_probe.pick_chunked(df, "user_id") is False
    # byte floor alone lowered: row floor still holds the line
    monkeypatch.setattr(skew_probe, "MIN_BYTES", 0)
    assert skew_probe.pick_chunked(df, "user_id") is False
    # both floors lowered -> the share decides
    monkeypatch.setattr(skew_probe, "MIN_ROWS", 1)
    assert skew_probe.pick_chunked(df, "user_id") is True
    # hard dial ends
    monkeypatch.setattr(skew_probe, "CHUNK_SHARE", 1.0)
    assert skew_probe.pick_chunked(df, "user_id") is False
    monkeypatch.setattr(skew_probe, "CHUNK_SHARE", 0.0)
    assert skew_probe.pick_chunked(df, "user_id") is True


def test_skew_probe_routes_parent_to_chunked_twin(spark, sf_dir,
                                                  monkeypatch):
    """With the dial forced on, the PARENT queries return the chunked
    twins' rows (hash-identical by the shared oracle); with it forced
    off, the historical rows. Both lanes equal — the probe can never
    change what the queries compute."""
    from aws_etl_spark.ops import skew_probe
    from aws_etl_spark.queries.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    for name in ("events_sessionization", "events_markov_entropy"):
        monkeypatch.setattr(skew_probe, "CHUNK_SHARE", 1.0)
        plain = sorted(map(tuple, REGISTRY[name].fn(spark, sf_dir).collect()))
        monkeypatch.setattr(skew_probe, "CHUNK_SHARE", 0.0)
        chunked = sorted(map(tuple, REGISTRY[name].fn(spark, sf_dir).collect()))
        assert plain == chunked, name
        assert len(plain) > 0, name


@pytest.mark.slow  # round-14 verify-budget split (r13 verdict item 1)
def test_scratch_uri_local_cluster_roundtrip(sf_dir, tmp_path):
    """Verdict item 3's done-criterion: a materialized() artifact
    round-trips on local-cluster[2,4,4096] — real multi-process
    executors writing parquet to the shared scratch URI which the
    driver then reads back. Subprocess-isolated (its own master)."""
    script = r"""
import os, sys
sf_dir, uri = sys.argv[1], sys.argv[2]
os.environ["SPARK_GRAFT_SCRATCH_URI"] = uri
sys.path.insert(0, %(repo)r)
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local-cluster[2,4,4096]")
    .appName("scratch-uri-roundtrip")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from aws_etl_spark.dedup.minhash import minhash_near_dup_pairs
docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
cached = sorted(map(tuple, minhash_near_dup_pairs(docs, "doc_id", "text").collect()))
os.environ["SPARK_GRAFT_NO_CACHE"] = "1"
ref = sorted(map(tuple, minhash_near_dup_pairs(docs, "doc_id", "text").collect()))
assert cached == ref, f"{len(cached)} cached vs {len(ref)} uncached rows"
assert len(cached) > 0
print("ROUNDTRIP_OK", len(cached))
spark.stop()
""" % {"repo": str(REPO)}
    uri = f"file://{tmp_path}/cluster_scratch"
    env = dict(
        os.environ,
        SPARK_GRAFT_TEST_SF="",  # not used by the script
    )
    out = subprocess.run(
        [sys.executable, "-c", script, os.environ.get(
            "SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001"), uri],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
        cwd=str(REPO),
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROUNDTRIP_OK" in out.stdout, out.stdout[-1000:]
