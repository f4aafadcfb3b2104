"""Manifest-layer mechanics (io/manifest.py) and the structural
invariants the lake_vacuum_plan literal oracle columns rely on."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from aws_etl_spark.io.manifest import (
    commit_snapshot,
    list_versions,
    read_snapshot,
    snapshot_files,
    vacuum_plan,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, ["k", "v"]).repartition(1)


def test_snapshot_isolation_and_copy_on_write(spark, tmp_path):
    """An old snapshot's content never changes, no matter what later
    commits replace — the property that makes time travel correct."""
    root = tmp_path / "t"
    v1 = commit_snapshot(_df(spark, [(1, 10), (2, 20)]), root)
    before = sorted(map(tuple, read_snapshot(spark, root, v1).collect()))
    v2 = commit_snapshot(
        _df(spark, [(1, 11), (2, 21)]),
        root,
        replace=snapshot_files(root, v1),
    )
    assert sorted(map(tuple, read_snapshot(spark, root, v1).collect())) == before
    assert sorted(map(tuple, read_snapshot(spark, root, v2).collect())) == [
        (1, 11), (2, 21),
    ]
    assert list_versions(root) == [v1, v2]


def test_replace_rejects_files_not_in_previous_snapshot(spark, tmp_path):
    root = tmp_path / "t"
    commit_snapshot(_df(spark, [(1, 10)]), root)
    with pytest.raises(ValueError, match="not in the previous snapshot"):
        commit_snapshot(
            _df(spark, [(1, 11)]), root, replace=["/no/such/file.parquet"]
        )


def test_vacuum_plan_and_refusal(spark, tmp_path):
    root = tmp_path / "t"
    v1 = commit_snapshot(_df(spark, [(1, 10)]), root)
    v2 = commit_snapshot(
        _df(spark, [(1, 11)]), root, replace=snapshot_files(root, v1)
    )
    plan = vacuum_plan(root, retain_from=v2)
    assert set(plan["live"]) == set(snapshot_files(root, v2))
    assert set(plan["orphans"]) == set(snapshot_files(root, v1))
    # retaining v1 as well keeps everything live
    plan_all = vacuum_plan(root, retain_from=v1)
    assert plan_all["orphans"] == []
    with pytest.raises(ValueError, match="every snapshot"):
        vacuum_plan(root, retain_from=v2 + 1)


def test_commit_is_atomic_pointer(spark, tmp_path):
    """The manifest lands via tmp-file rename: no .tmp residue and
    the committed JSON is complete/parseable."""
    root = tmp_path / "t"
    v = commit_snapshot(_df(spark, [(1, 10)]), root)
    mdir = root / "manifests"
    assert not list(mdir.glob("*.tmp"))
    m = json.loads((mdir / f"v{v:06d}.json").read_text())
    assert m["version"] == v and len(m["files"]) == 1


def test_vacuum_query_structural_invariants(spark, sf_dir):
    """Licenses lake_vacuum_plan's literal oracle columns: the
    3-commit builder yields exactly 3 versions, 2 live files and 1
    orphan at ANY sf (one file per commit by construction), and the
    orphan is precisely commit 2's file."""
    from aws_etl_spark.queries.lakehouse_queries import (
        build_versioned_table,
    )

    root = build_versioned_table(spark, sf_dir)
    assert list_versions(root) == [1, 2, 3]
    plan = vacuum_plan(root, retain_from=3)
    assert len(plan["live"]) == 2 and len(plan["orphans"]) == 1
    v1f, v2f = set(snapshot_files(root, 1)), set(snapshot_files(root, 2))
    assert set(plan["orphans"]) == v2f - v1f
    # and the live set is exactly snapshot 3
    assert set(plan["live"]) == set(snapshot_files(root, 3))


def test_zone_map_prune_mechanics(spark, tmp_path):
    """Zone maps skip only provably-empty files: overlap keeps, a
    missing stat is read conservatively, carried-over files keep
    their stats across commits."""
    from aws_etl_spark.io.manifest import zone_map_prune

    root = tmp_path / "z"
    v1 = commit_snapshot(
        _df(spark, [(1, 1), (5, 1)]), root, stats_cols=["k"]
    )
    v2 = commit_snapshot(
        _df(spark, [(10, 1), (20, 1)]), root, stats_cols=["k"]
    )
    f1 = set(snapshot_files(root, v1))
    plan = zone_map_prune(root, v2, "k", 6, 9)  # between the files
    assert plan["read"] == [] and len(plan["pruned"]) == 2
    plan = zone_map_prune(root, v2, "k", 4, 12)  # overlaps both
    assert len(plan["read"]) == 2 and plan["pruned"] == []
    plan = zone_map_prune(root, v2, "k", 15, 30)  # only the v2 file
    assert set(plan["pruned"]) == f1 and len(plan["read"]) == 1
    # a commit without stats_cols is conservatively readable
    v3 = commit_snapshot(_df(spark, [(100, 1)]), root)
    plan = zone_map_prune(root, v3, "k", 6, 9)
    assert len(plan["read"]) == 1  # the stats-less new file
    assert len(plan["pruned"]) == 2  # v1+v2 stats carried and pruned


def test_zone_map_query_reads_two_of_four(spark, sf_dir):
    """The zone-map query's structural claim at any sf: 4 files, the
    predicate overlaps exactly quartiles 3 and 4's first key -> 2
    read, 2 pruned."""
    from aws_etl_spark.io.manifest import zone_map_prune
    from aws_etl_spark.queries.lakehouse_queries import (
        build_zone_mapped_table,
    )

    root, version, m = build_zone_mapped_table(spark, sf_dir)
    lo, hi = m // 2 + 1, (m * 3) // 4 + 1
    plan = zone_map_prune(root, version, "o_orderkey", lo, hi)
    assert len(plan["read"]) == 2 and len(plan["pruned"]) == 2


def test_compaction_plan_mechanics(spark, tmp_path):
    """Cumulative-quota grouping: group = rows-before DIV target over
    manifest order; stats-less files are skipped; every group except
    the last reaches the target."""
    from aws_etl_spark.io.manifest import compaction_plan

    root = tmp_path / "c"
    sizes = [3, 3, 3, 3, 3]  # five 3-row files
    for i in range(5):
        commit_snapshot(
            _df(spark, [(i * 10 + j, 1) for j in range(3)]),
            root,
            stats_cols=["k"],
        )
    plan = compaction_plan(root, 5, target_rows=6)
    files = snapshot_files(root, 5)
    assert [plan[f] for f in files] == [0, 0, 1, 1, 2]
    # stats-less commits are skipped, not mis-grouped
    v6 = commit_snapshot(_df(spark, [(99, 1)]), root)
    plan6 = compaction_plan(root, v6, target_rows=6)
    statless = set(snapshot_files(root, v6)) - set(files)
    assert statless and all(f not in plan6 for f in statless)
    assert [plan6[f] for f in files] == [0, 0, 1, 1, 2]


def test_snapshot_diff_classifies_all_change_types(spark, tmp_path):
    """The diff shape (full-outer + classify + drop-unchanged) must
    emit added/removed/updated exactly — pinned on hand-built
    snapshots because the corpus query only exercises 'updated'."""
    from aws_etl_spark.queries.lakehouse_queries import _diff_snapshots

    root = tmp_path / "d"
    commit_snapshot(_df(spark, [(1, 10), (2, 20), (3, 30), (5, None)]), root)
    v1_files = snapshot_files(root, 1)
    # v2: key 1 unchanged, key 2 updated, key 3 removed, key 4 added,
    # key 5 NULL -> value (null-safe comparison must flag it)
    commit_snapshot(
        _df(spark, [(1, 10), (2, 99), (4, 40), (5, 50)]),
        root,
        replace=v1_files,
    )
    out = {
        (r["change_type"], r["k"]): (r["old_v"], r["new_v"])
        for r in _diff_snapshots(spark, root, 1, 2, "k", ["v"]).collect()
    }
    assert out == {
        ("updated", 2): (20, 99),
        ("removed", 3): (30, None),
        ("added", 4): (None, 40),
        ("updated", 5): (None, 50),
    }


@pytest.mark.parametrize(
    "change, builds", [("none", 1), ("rewrite_orders", 2), ("delete_root", 2)]
)
def test_lake_build_memo(spark, sf_dir, tmp_path, monkeypatch, change, builds):
    """The scratch-lake builders are served from the artifact store
    while orders.parquet and the built root are unchanged; a rewritten
    orders.parquet or a deleted root rebuilds the table."""
    import os
    import shutil

    import pandas as pd

    from aws_etl_spark.queries import lakehouse_queries as lq

    monkeypatch.delenv("SPARK_GRAFT_NO_CACHE", raising=False)
    sf = tmp_path / "sf"
    sf.mkdir()
    orders = sf / "orders.parquet"
    shutil.copy(f"{sf_dir}/orders.parquet", orders)
    calls = []
    cold = lq._build_versioned_cold

    def counted(spark_, sf_dir):
        calls.append(sf_dir)
        return cold(spark_, sf_dir)

    monkeypatch.setattr(lq, "_build_versioned_cold", counted)
    root = lq.build_versioned_table(spark, str(sf))
    try:
        if change == "rewrite_orders":
            pd.read_parquet(orders).head(500).to_parquet(orders)
            st = os.stat(orders)
            os.utime(orders, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
        elif change == "delete_root":
            shutil.rmtree(root)
        again = lq.build_versioned_table(spark, str(sf))
        assert again == root and root.is_dir()
        assert len(calls) == builds
    finally:
        shutil.rmtree(root, ignore_errors=True)
