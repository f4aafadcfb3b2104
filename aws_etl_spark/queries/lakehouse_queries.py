"""Lakehouse snapshot queries: time travel and vacuum planning over
the manifest layer (io/manifest.py — atomic-pointer snapshots +
copy-on-write data files on plain parquet).

Both queries BUILD the versioned table inside the query (the
serve_reconcile precedent: real sink I/O in-query), then read it back
through manifests, so the driver hash proves the whole mechanism:
commit 1 writes the non-urgent half of the 1995 priority rollup,
commit 2 adds the urgent row (snapshot v2 = the complete initial
table), commit 3 REPLACES commit 2's file with the corrected urgent
rollup recomputed over 1995-96 (copy-on-write). Time travel then
reads v2 (initial) and v3 (corrected) side by side; the vacuum
planner retains v3 and identifies commit 2's superseded file as the
only orphan. A broken pointer swap, a replace that mutates history,
or an over-eager vacuum all flip the hashes.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_etl_spark.io.manifest import (
    commit_snapshot,
    read_snapshot,
    snapshot_files,
    vacuum_plan,
)
from aws_etl_spark.queries.registry import load_table, register

_CENTS = "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"


def _lake_root(sf_dir: str) -> Path:
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return (
        Path(tempfile.gettempdir())
        / "aws_etl_spark_lake"
        / f"{tag}-{os.getpid()}"
    )


# --------------------------------------------------------------------------
# Process-scoped build memo (round-13 optimization): inside one
# process, every consumer of a scratch table re-ran the SAME
# deterministic builder (rmtree + N write jobs + N stats jobs) against
# an unchanged input. The artifact store keys each build on (builder
# tag, sf_dir) plus the orders.parquet snapshot and rebuilds when the
# built root is gone. The tables are plain files + JSON manifests,
# session-independent and only read by consumers (vacuum_plan plans,
# never deletes).
# --------------------------------------------------------------------------


def _built_root_exists(res) -> bool:
    return Path(res[0] if isinstance(res, tuple) else res).is_dir()


def _memo_build(tag: str, sf_dir: str, build):
    from aws_etl_spark.ops import artifacts

    return artifacts.cached(
        f"lake:{tag}",
        None,
        os.path.abspath(sf_dir),
        artifacts.snapshot([os.path.join(sf_dir, "orders.parquet")]),
        build,
        valid=_built_root_exists,
    )


def _rollup(orders: DataFrame, years, urgent: bool) -> DataFrame:
    side = orders.filter(F.year("o_orderdate").isin(*years))
    side = side.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        if urgent
        else (F.col("o_orderpriority") != "1-URGENT")
    )
    return (
        side.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.expr(_CENTS)).cast("bigint").alias("total_cents"),
        )
        .repartition(1)  # one immutable data file per commit (tiny
        # rollups; real tables commit many distributed files)
    )


def build_versioned_table(spark: SparkSession, sf_dir: str) -> Path:
    """Build (or serve memoized — see ``_memo_build``) the 3-commit
    scratch table; returns its root."""
    return _memo_build(
        "versioned", sf_dir, lambda: _build_versioned_cold(spark, sf_dir)
    )


def _build_versioned_cold(spark: SparkSession, sf_dir: str) -> Path:
    root = _lake_root(sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    v1 = commit_snapshot(_rollup(orders, [1995], urgent=False), root)
    v2 = commit_snapshot(_rollup(orders, [1995], urgent=True), root)
    urgent_file_set = set(snapshot_files(root, v2)) - set(
        snapshot_files(root, v1)
    )
    commit_snapshot(
        _rollup(orders, [1995, 1996], urgent=True),
        root,
        replace=sorted(urgent_file_set),
    )
    return root


_TT_ORACLE = f"""
WITH base AS (
  SELECT o_orderpriority, EXTRACT(year FROM o_orderdate) AS y,
         {_CENTS} AS cents
  FROM orders
),
initial AS (
  SELECT 'initial' AS snapshot, o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(cents) AS BIGINT) AS total_cents
  FROM base WHERE y = 1995 GROUP BY o_orderpriority
),
corrected AS (
  SELECT 'corrected' AS snapshot, o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(cents) AS BIGINT) AS total_cents
  FROM base
  WHERE (o_orderpriority <> '1-URGENT' AND y = 1995)
     OR (o_orderpriority = '1-URGENT' AND y IN (1995, 1996))
  GROUP BY o_orderpriority
)
SELECT * FROM initial UNION ALL SELECT * FROM corrected
"""


@register(
    "lake_time_travel_read",
    oracle=_TT_ORACLE,
    category="lakehouse",
    tables=("orders",),
)
def q_lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-isolation time travel (module docstring): build the
    3-commit table, read v2 (the complete initial rollup) and v3 (the
    copy-on-write correction) through their manifests, return both
    tagged. The oracle recomputes each snapshot's contracted content
    from the source table — so v2's rows must be byte-identical to
    the pre-correction state even though v3 exists on disk."""
    root = build_versioned_table(spark, sf_dir)
    initial = read_snapshot(spark, root, 2).select(
        F.lit("initial").alias("snapshot"), "*"
    )
    corrected = read_snapshot(spark, root, 3).select(
        F.lit("corrected").alias("snapshot"), "*"
    )
    return initial.unionByName(corrected)


_VACUUM_ORACLE = f"""
WITH urgent95 AS (
  SELECT CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS orphan_rows,
         CAST(SUM({_CENTS}) AS BIGINT) AS orphan_total_cents
  FROM orders
  WHERE o_orderpriority = '1-URGENT'
    AND EXTRACT(year FROM o_orderdate) = 1995
)
SELECT CAST(3 AS BIGINT) AS n_versions,
       CAST(3 AS BIGINT) AS retain_from,
       CAST(2 AS BIGINT) AS n_live_files,
       CAST(1 AS BIGINT) AS n_orphan_files,
       orphan_rows,
       orphan_total_cents
FROM urgent95
"""


@register(
    "lake_vacuum_plan",
    oracle=_VACUUM_ORACLE,
    category="lakehouse",
    tables=("orders",),
)
def q_lake_vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vacuum planning: retain only snapshot v3 and identify data
    files referenced solely by expired snapshots. The plan is pure
    metadata set-difference; this query then READS the orphan files
    to prove the planner found exactly the superseded commit — the
    orphans' content must equal the pre-correction urgent rollup
    (recomputed by the oracle), and the structural file counts are
    fixed by the one-file-per-commit construction (the literal oracle
    columns, licensed by tests/test_lakehouse.py invariance)."""
    root = build_versioned_table(spark, sf_dir)
    plan = vacuum_plan(root, retain_from=3)
    orphan_stats = (
        spark.read.parquet(*plan["orphans"])
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("orphan_rows"),
            F.sum("total_cents").cast("bigint").alias("orphan_total_cents"),
        )
    )
    return orphan_stats.select(
        F.lit(3).cast("bigint").alias("n_versions"),
        F.lit(3).cast("bigint").alias("retain_from"),
        F.lit(len(plan["live"])).cast("bigint").alias("n_live_files"),
        F.lit(len(plan["orphans"])).cast("bigint").alias("n_orphan_files"),
        "orphan_rows",
        "orphan_total_cents",
    )


# --------------------------------------------------------------------------
# Snapshot diff — changelog generation between two committed versions
# (the Iceberg "changelog scan" / Delta CDF read): given snapshots v2
# (the complete initial rollup) and v3 (the copy-on-write correction),
# emit one row per ADDED / REMOVED / UPDATED key with old and new
# values; unchanged keys are excluded. This is how a downstream
# consumer incrementally syncs from a lake table without re-reading
# it: the diff reads only the two manifests' file sets (here 2+2
# tiny files; at 100 TB, only the files that differ between the
# versions — the manifest set-difference prunes the identical ones).
# The oracle recomputes both snapshot states from the source table
# and takes the same full-outer diff, so a wrong version read or a
# leaked unchanged row flips the hash.
# --------------------------------------------------------------------------

_DIFF_ORACLE = f"""
WITH base AS (
  SELECT o_orderpriority, EXTRACT(year FROM o_orderdate) AS y,
         {_CENTS} AS cents
  FROM orders
),
initial AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(cents) AS BIGINT) AS total_cents
  FROM base WHERE y = 1995 GROUP BY o_orderpriority
),
corrected AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(cents) AS BIGINT) AS total_cents
  FROM base
  WHERE (o_orderpriority <> '1-URGENT' AND y = 1995)
     OR (o_orderpriority = '1-URGENT' AND y IN (1995, 1996))
  GROUP BY o_orderpriority
)
SELECT CASE WHEN o.o_orderpriority IS NULL THEN 'added'
            WHEN n.o_orderpriority IS NULL THEN 'removed'
            ELSE 'updated' END AS change_type,
       COALESCE(o.o_orderpriority, n.o_orderpriority) AS o_orderpriority,
       o.n_orders AS old_n_orders,
       n.n_orders AS new_n_orders,
       o.total_cents AS old_total_cents,
       n.total_cents AS new_total_cents
FROM initial o FULL OUTER JOIN corrected n
  ON o.o_orderpriority = n.o_orderpriority
WHERE o.o_orderpriority IS NULL OR n.o_orderpriority IS NULL
   OR o.n_orders <> n.n_orders OR o.total_cents <> n.total_cents
"""


def _diff_snapshots(
    spark: SparkSession,
    root,
    v_old: int,
    v_new: int,
    key: str,
    value_cols: list[str],
) -> DataFrame:
    """Keyed changelog between two snapshot versions: one row per
    added/removed/updated key with old_/new_ value columns; unchanged
    keys are dropped. A key-equi full-outer join — shuffles on the
    key, parallelism grows with keys."""
    old = read_snapshot(spark, root, v_old).select(
        F.col(key).alias("__ok"),
        *[F.col(c).alias(f"old_{c}") for c in value_cols],
    )
    new = read_snapshot(spark, root, v_new).select(
        F.col(key).alias("__nk"),
        *[F.col(c).alias(f"new_{c}") for c in value_cols],
    )
    joined = old.join(new, old["__ok"] == new["__nk"], "full_outer")
    changed = F.col("__ok").isNull() | F.col("__nk").isNull()
    for c in value_cols:
        # null-safe: a NULL<->value flip on a shared key IS a change
        # (the scd2_from_history idiom; plain != would drop it)
        changed = changed | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    return joined.filter(changed).select(
        F.when(F.col("__ok").isNull(), "added")
        .when(F.col("__nk").isNull(), "removed")
        .otherwise("updated")
        .alias("change_type"),
        F.coalesce("__ok", "__nk").alias(key),
        *[f"old_{c}" for c in value_cols],
        *[f"new_{c}" for c in value_cols],
    )


@register(
    "lake_snapshot_diff",
    oracle=_DIFF_ORACLE,
    category="lakehouse",
    tables=("orders",),
)
def q_lake_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog between snapshot v2 and v3 of the versioned table
    (module section above): full-outer join the two manifest reads on
    the key, classify added/removed/updated, drop unchanged rows.
    The driver hash proves the diff against a from-source recompute
    of both snapshot states."""
    root = build_versioned_table(spark, sf_dir)
    return _diff_snapshots(
        spark, root, 2, 3, "o_orderpriority", ["n_orders", "total_cents"]
    )


# --------------------------------------------------------------------------
# Zone-map pruning. The builder commits four files covering the four
# o_orderkey quartiles (bounds = pure integer arithmetic over
# M = MAX(o_orderkey), so the oracle re-derives them), each with
# per-file min/max stats recorded in the manifest. The query then
# plans a range predicate covering quartile 3 plus the first key of
# quartile 4: the planner must read exactly the two overlapping
# files and prune the other two — proven by comparing rows SCANNED
# (everything in the surviving files) against the oracle's
# quartile-range row count, and the final filtered aggregate against
# the exact predicate result.
# --------------------------------------------------------------------------


def build_zone_mapped_table(spark: SparkSession, sf_dir: str):
    """4-quartile table with o_orderkey zone maps; returns
    (root, version, M). Memoized per process (``_memo_build``);
    a cold build is ONE partitioned write + ONE stats pass +
    metadata-only commits (see ``_commit_sliced_snapshots``) instead
    of four sequential (write + stats) job pairs — same files, same
    manifests, same stats."""
    return _memo_build(
        "zonemap", sf_dir, lambda: _build_zone_mapped_cold(spark, sf_dir)
    )


def _build_zone_mapped_cold(spark: SparkSession, sf_dir: str):
    root = _lake_root(sf_dir) / "zonemap"
    shutil.rmtree(root, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    m = orders.agg(F.max("o_orderkey")).collect()[0][0]
    bounds = [(((i - 1) * m) // 4 + 1, (i * m) // 4) for i in range(1, 5)]
    slice_col = F.lit(None)
    for i, (qlo, qhi) in enumerate(bounds, 1):
        slice_col = F.when(
            F.col("o_orderkey").between(qlo, qhi), F.lit(i)
        ).otherwise(slice_col)
    sliced = orders.select(
        "o_orderkey", F.expr(_CENTS).alias("cents"), slice_col.alias("__s")
    ).filter(F.col("__s").isNotNull())
    _commit_sliced_snapshots(
        spark, root, sliced, n_slices=4, stats_cols=["o_orderkey"]
    )
    return root, 4, m


def _zone_oracle(intdiv) -> str:
    half = intdiv("p.mx", "2")
    three_q = intdiv("p.mx * 3", "4")
    qlo = intdiv("(i.i - 1) * p.mx", "4")
    qhi = intdiv("i.i * p.mx", "4")
    return f"""
WITH m AS (SELECT CAST(MAX(o_orderkey) AS BIGINT) AS mx FROM orders),
p AS (SELECT mx FROM m),
pred AS (
  SELECT ({half}) + 1 AS lo, ({three_q}) + 1 AS hi, p.mx FROM p
),
q AS (
  SELECT i.i, ({qlo}) + 1 AS qlo, {qhi} AS qhi
  FROM ({{seven}}) i CROSS JOIN p
),
ov AS (
  SELECT q.i, q.qlo, q.qhi,
         CASE WHEN q.qlo <= pred.hi AND q.qhi >= pred.lo
              THEN 1 ELSE 0 END AS keep
  FROM q CROSS JOIN pred
),
scan AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS scanned_rows
  FROM orders o JOIN ov ON ov.keep = 1
   AND o.o_orderkey BETWEEN ov.qlo AND ov.qhi
),
res AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS result_rows,
         CAST(SUM({_CENTS}) AS BIGINT) AS result_cents
  FROM orders CROSS JOIN pred
  WHERE o_orderkey BETWEEN pred.lo AND pred.hi
)
SELECT CAST(4 AS BIGINT) AS n_files,
       CAST((SELECT SUM(keep) FROM ov) AS BIGINT) AS n_files_read,
       CAST(4 - (SELECT SUM(keep) FROM ov) AS BIGINT) AS n_files_pruned,
       scan.scanned_rows, res.result_rows, res.result_cents
FROM scan CROSS JOIN res
"""


_ZONE_ORACLE_DUCK = _zone_oracle(lambda a, b: f"({a}) // ({b})").format(
    seven="SELECT unnest(range(1, 5)) AS i"
)


@register(
    "lake_zone_map_prune",
    oracle=_ZONE_ORACLE_DUCK,
    category="lakehouse",
    tables=("orders",),
)
def q_lake_zone_map_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level zone-map pruning (module section above): manifest
    min/max stats turn a range predicate into a file skip-list before
    any data I/O — the Iceberg/Delta scan-planning core. The driver
    hash proves the planner keeps exactly the overlapping files
    (scanned_rows) and that pruning loses no result rows
    (result_rows/cents vs the oracle's exact predicate)."""
    from aws_etl_spark.io.manifest import zone_map_prune

    root, version, m = build_zone_mapped_table(spark, sf_dir)
    lo, hi = m // 2 + 1, (m * 3) // 4 + 1
    plan = zone_map_prune(root, version, "o_orderkey", lo, hi)
    scanned = spark.read.parquet(*plan["read"])
    agg = (
        scanned.agg(
            F.count(F.lit(1)).cast("bigint").alias("scanned_rows"),
        )
        .crossJoin(
            scanned.filter(F.col("o_orderkey").between(lo, hi)).agg(
                F.count(F.lit(1)).cast("bigint").alias("result_rows"),
                F.sum("cents").cast("bigint").alias("result_cents"),
            )
        )
    )
    return agg.select(
        F.lit(4).cast("bigint").alias("n_files"),
        F.lit(len(plan["read"])).cast("bigint").alias("n_files_read"),
        F.lit(len(plan["pruned"])).cast("bigint").alias("n_files_pruned"),
        "scanned_rows",
        "result_rows",
        "result_cents",
    )


# --------------------------------------------------------------------------
# Compaction planning — the fourth lakehouse mechanism (snapshots,
# vacuum, zone maps, compaction). Small files are the chronic cost of
# incremental commits: at 100 TB a table ingested hourly holds
# millions of KB-files whose per-file open/footer cost dominates
# scans. The planner assigns files to rewrite groups by the
# cumulative-quota rule over manifest row counts (group = rows-before
# DIV target) — pure metadata, reproducible by any engine, no data
# read to PLAN. The query commits eight month-slice files, plans
# groups at target = total/3 + 1, then READS the data grouped by the
# plan: per-group file counts come from the plan, per-group row
# counts from the actual files — the oracle recomputes both from the
# source table and the same arithmetic, so a mis-assigned file or a
# row-count drift in the manifest flips the hash.
# --------------------------------------------------------------------------


def _commit_sliced_snapshots(
    spark: SparkSession,
    root: Path,
    sliced: DataFrame,
    n_slices: int,
    stats_cols: list[str],
) -> None:
    """Publish ``sliced`` (a DataFrame with an integer ``__s`` slice
    column, 1-based) as ``n_slices`` sequential one-file-per-slice
    snapshots — the SAME on-disk state the per-slice
    ``commit_snapshot`` loop produced, built in one distributed pass.

    Round-13 optimization: the loop ran (1 filtered write + 1 stats
    read-back) x n_slices = 2n sequential Spark jobs, each rescanning
    the source; here ALL slices land in one hash-partitioned
    ``partitionBy`` write (``repartition("__s")`` pins one file per
    slice), one stats pass aggregates every file, and the n snapshot
    manifests are pure driver-side JSON — commit N lists slices 1..N
    with identical per-file stats, exactly what N successive
    ``commit_snapshot`` calls wrote. At 100 TB this is the difference
    between 2n table scans and one.
    """
    import json as _json

    stage = root / "stage.tmp"
    (
        sliced.repartition("__s")
        .write.partitionBy("__s")
        .parquet(str(stage))
    )
    back = spark.read.parquet(str(stage)).withColumn(
        "__f", F.input_file_name()
    )
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in stats_cols:
        aggs += [F.min(c).alias(f"min__{c}"), F.max(c).alias(f"max__{c}")]
    stat_rows = back.groupBy("__s", "__f").agg(*aggs).collect()
    by_slice: dict[int, list] = {}
    for r in stat_rows:
        by_slice.setdefault(int(r["__s"]), []).append(r)
    files: list[str] = []
    stats: dict = {}
    mdir = root / "manifests"
    mdir.mkdir(parents=True, exist_ok=True)
    for s in range(1, n_slices + 1):
        wdir = root / "data" / f"w{s:06d}"
        wdir.mkdir(parents=True, exist_ok=True)
        for r in sorted(by_slice.get(s, ()), key=lambda r: r["__f"]):
            src = r["__f"]
            if src.startswith("file:"):
                src = src[len("file:"):]
                while src.startswith("//"):
                    src = src[1:]
            dst = wdir / Path(src).name
            Path(src).rename(dst)
            files.append(str(dst))
            stats[str(dst)] = {
                c: [r[f"min__{c}"], r[f"max__{c}"]] for c in stats_cols
            }
            stats[str(dst)]["__rows"] = r["__rows"]
        mpath = mdir / f"v{s:06d}.json"
        tmp = mpath.with_suffix(".tmp")
        tmp.write_text(
            _json.dumps({"version": s, "files": list(files), "stats": stats})
        )
        tmp.rename(mpath)  # atomic pointer publish, per commit_snapshot
    shutil.rmtree(stage, ignore_errors=True)


def build_small_file_table(spark: SparkSession, sf_dir: str):
    """Eight one-file commits (1995 months 1..8); returns (root, v).
    Memoized per process; cold build batched — see
    ``_commit_sliced_snapshots``."""
    return _memo_build(
        "compact", sf_dir, lambda: _build_small_file_cold(spark, sf_dir)
    )


def _build_small_file_cold(spark: SparkSession, sf_dir: str):
    root = _lake_root(sf_dir) / "compact"
    shutil.rmtree(root, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    sliced = (
        orders.filter(
            (F.year("o_orderdate") == 1995) & (F.month("o_orderdate") <= 8)
        )
        .select(
            "o_orderkey",
            F.expr(_CENTS).alias("cents"),
            F.month("o_orderdate").alias("__s"),
        )
    )
    _commit_sliced_snapshots(
        spark, root, sliced, n_slices=8, stats_cols=["o_orderkey"]
    )
    return root, 8


_COMPACT_ORACLE = """
WITH mth AS (
  SELECT CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS m,
         CAST(COUNT(*) AS BIGINT) AS r
  FROM orders
  WHERE EXTRACT(year FROM o_orderdate) = 1995
    AND EXTRACT(month FROM o_orderdate) <= 8
  GROUP BY 1
),
tgt AS (
  SELECT CAST(FLOOR(SUM(r) / 3.0) AS BIGINT) + 1 AS t FROM mth
),
c AS (
  SELECT m, r,
         CAST(COALESCE(SUM(r) OVER (ORDER BY m
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS prior
  FROM mth
),
g AS (
  SELECT c.m, c.r, CAST(FLOOR(c.prior / (1.0 * tgt.t)) AS BIGINT) AS group_id
  FROM c CROSS JOIN tgt
)
SELECT group_id,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(r) AS BIGINT) AS group_rows
FROM g GROUP BY group_id
"""


@register(
    "lake_compaction_plan",
    oracle=_COMPACT_ORACLE,
    category="lakehouse",
    tables=("orders",),
)
def q_lake_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction planning (module section above): eight month-slice
    commits, cumulative-quota grouping at target = total/3 + 1, and a
    grouped READ-BACK that proves the plan's assignment against the
    actual file contents. The 8-row window in the ORACLE runs over
    the month spine; the Spark side plans from manifest metadata and
    executes one distributed grouped count."""
    from pyspark.sql import types as T

    from aws_etl_spark.io.manifest import compaction_plan, snapshot_files

    root, version = build_small_file_table(spark, sf_dir)
    files = snapshot_files(root, version)
    import json as _json

    m = _json.loads(
        (Path(root) / "manifests" / f"v{version:06d}.json").read_text()
    )
    total = sum(m["stats"][f]["__rows"] for f in files)
    target = total // 3 + 1
    plan = compaction_plan(root, version, target)

    from aws_etl_spark.ops.scale import bounded_rows_df

    mapping = bounded_rows_df(
        spark,
        [(f, gid) for f, gid in plan.items()],
        T.StructType(
            [
                T.StructField("__f", T.StringType(), False),
                T.StructField("group_id", T.LongType(), False),
            ]
        ),
    )
    # normalize the URI scheme to the manifest's plain paths
    # ("file:///x" -> "/x", same rule as commit_snapshot's stats pass)
    data = spark.read.parquet(*files).withColumn(
        "__f", F.regexp_replace(F.input_file_name(), "^file:/+", "/")
    )
    per_group_rows = (
        data.join(F.broadcast(mapping), "__f")
        .groupBy("group_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("group_rows"))
    )
    n_files = bounded_rows_df(
        spark,
        [
            (gid, sum(1 for g in plan.values() if g == gid))
            for gid in sorted(set(plan.values()))
        ],
        T.StructType(
            [
                T.StructField("group_id", T.LongType(), False),
                T.StructField("n_files", T.LongType(), False),
            ]
        ),
    )
    return per_group_rows.join(F.broadcast(n_files), "group_id").select(
        "group_id", "n_files", "group_rows"
    )


# --------------------------------------------------------------------------
# Merge-on-read changelog table — the OTHER lakehouse write path
# (copy-on-write is lake_time_travel_read's mechanism): writers append
# small changelog commits (upserts + delete tombstones) instead of
# rewriting data files; readers resolve key-latest state at scan time.
# Commit 1 (base, seq 1): per-customer order rollup as of <= 1995.
# Commit 2 (upserts, seq 2): recomputed <= 1996 totals for every
# customer active in 1996 — updates AND inserts. Commit 3 (tombstones,
# seq 3): GDPR-style erasure of custkey % 97 == 0.
# The read-time merge (max-seq wins per key, tombstones drop) must
# equal a direct recompute from the source table — the oracle. All
# money is exact cents; the seq-resolution window is key-partitioned
# (parallelism grows with keys; at 100 TB readers merge base + a few
# % of changelog rows, the economics that make MOR worth it).
# --------------------------------------------------------------------------

_MOR_ORACLE = f"""
WITH o AS (
  SELECT o_custkey AS k, EXTRACT(year FROM o_orderdate) AS y,
         {_CENTS} AS cents
  FROM orders
),
base AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS c
  FROM o WHERE y <= 1995 GROUP BY k
),
upd_keys AS (SELECT DISTINCT k FROM o WHERE y = 1996),
upserts AS (
  SELECT o.k, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(o.cents) AS BIGINT) AS c
  FROM o JOIN upd_keys u ON u.k = o.k
  WHERE o.y <= 1996 GROUP BY o.k
),
merged AS (
  SELECT COALESCE(u.k, b.k) AS custkey,
         COALESCE(u.n, b.n) AS n_orders,
         COALESCE(u.c, b.c) AS total_cents
  FROM base b FULL OUTER JOIN upserts u ON u.k = b.k
)
SELECT custkey, n_orders, total_cents
FROM merged WHERE custkey % 97 <> 0
"""


@register(
    "lake_merge_on_read",
    oracle=_MOR_ORACLE,
    category="lakehouse",
    tables=("orders",),
)
def q_lake_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read scan (module comment above): write base + two
    changelog commits as real parquet, then resolve key-latest state
    at read time (max seq per key wins, tombstones drop). The driver
    hash proves resolution == direct recompute; a wrong seq order, a
    lost insert, or a leaked tombstone all flip it."""
    root = _lake_root(sf_dir) / "mor"
    shutil.rmtree(root, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        F.col("o_custkey").alias("k"),
        F.year("o_orderdate").alias("y"),
        F.expr(_CENTS).alias("cents"),
    )
    rollup = lambda df: df.groupBy("k").agg(  # noqa: E731
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )
    base = rollup(o.filter("y <= 1995")).select(
        "*", F.lit(1).alias("seq"), F.lit("U").alias("op")
    )
    upd_keys = o.filter("y = 1996").select("k").distinct()
    upserts = rollup(o.filter("y <= 1996").join(upd_keys, "k")).select(
        "*", F.lit(2).alias("seq"), F.lit("U").alias("op")
    )
    # base + upsert commits land in ONE partitioned write (round-13:
    # was two sequential writes + two read-backs; commit dirs become
    # seq=1/seq=2 under one changelog root — same rows, same
    # read-time merge); the tombstone commit still needs the written
    # key set, so it stays a second write
    (
        base.unionByName(upserts)
        .write.mode("overwrite")
        .partitionBy("seq")
        .parquet(str(root / "changelog"))
    )
    written = spark.read.parquet(str(root / "changelog"))
    live_keys = written.select("k").distinct()
    tombstones = live_keys.filter("k % 97 = 0").select(
        "k",
        F.lit(None).cast("bigint").alias("n_orders"),
        F.lit(None).cast("bigint").alias("total_cents"),
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
    )
    tombstones.write.mode("overwrite").parquet(str(root / "log-0003"))

    from pyspark.sql import Window

    scan = written.unionByName(
        spark.read.parquet(str(root / "log-0003")), allowMissingColumns=False
    )
    w = Window.partitionBy("k").orderBy(F.col("seq").desc())
    return (
        scan.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") == "U"))
        .select(
            F.col("k").alias("custkey"), "n_orders", "total_cents"
        )
    )
