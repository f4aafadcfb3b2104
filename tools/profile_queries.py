"""Per-query event-log profiler (the round-13/14 "measure first" tool).

Runs the named registry queries exactly the way bench.py does (same
session factory, same noop sink, same clearCache between queries),
with ``setJobDescription(name)`` labels and the Spark event log on,
then parses the log into a per-query decomposition:

    jobs, tasks, task run time, executor CPU, JVM GC, shuffle
    read/write bytes, fetch-wait, python-eval time (BatchEvalPython /
    ArrowEvalPython accumulators are not exposed per-node here — the
    python share is inferred as run_time - cpu_time on python-bearing
    stages), per-stage top costs.

Usage:
    python tools/profile_queries.py q1_pricing_summary dedup_clusters_cc ...
    SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS honored as in bench.py.

Output: one human table on stdout + /tmp/profile_queries.json.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))


def _events(logs: list[Path]):
    """Yield each JSON event of the event-log files, one file open at
    a time."""
    for p in logs:
        with open(p) as fh:
            for line in fh:
                yield json.loads(line)


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: profile_queries.py <query> [query ...]", file=sys.stderr)
        raise SystemExit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    evdir = Path("/tmp/spark-events-profile")
    evdir.mkdir(exist_ok=True)
    import shutil

    for old in evdir.iterdir():
        shutil.rmtree(old) if old.is_dir() else old.unlink()

    from aws_etl_spark.queries.registry import REGISTRY, _ensure_loaded
    from aws_etl_spark.session import get_session

    spark = get_session(
        "aws_etl_spark-profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": str(evdir),
            "spark.ui.enabled": "false",
        },
    )
    _ensure_loaded()
    # same warm-up as bench.py so first-query numbers are comparable
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    spark.range(32).withColumnRenamed("id", "k").groupBy("k").applyInPandas(
        lambda p: p, "k bigint"
    ).write.mode("overwrite").format("noop").save()

    walls: dict[str, float] = {}
    sc = spark.sparkContext
    for name in names:
        spec = REGISTRY[name]
        sc.setJobDescription(name)
        t0 = time.perf_counter()
        spec.fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        walls[name] = round(time.perf_counter() - t0, 3)
        sc.setJobDescription(None)
        spark.catalog.clearCache()
    app_id = sc.applicationId
    spark.stop()

    # ---- parse the event log (Spark 4 may write a rolling DIR) ----
    root = next(p for p in evdir.iterdir() if app_id in p.name)
    logs = (
        sorted(p for p in root.iterdir() if p.name.startswith("events"))
        if root.is_dir()
        else [root]
    )
    job_desc: dict[int, str] = {}
    stage_to_job: dict[int, int] = {}
    per_stage: dict[int, dict] = defaultdict(
        lambda: {"tasks": 0, "run_ms": 0, "cpu_ms": 0, "gc_ms": 0,
                 "sh_read_b": 0, "sh_write_b": 0, "fetch_wait_ms": 0,
                 "input_b": 0, "name": ""}
    )
    for ev in _events(logs):
        t = ev.get("Event")
        if t == "SparkListenerJobStart":
            desc = ev.get("Properties", {}).get(
                "spark.job.description", ""
            )
            jid = ev["Job ID"]
            job_desc[jid] = desc
            for sid in ev.get("Stage IDs", []):
                stage_to_job[sid] = jid
        elif t == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            per_stage[si["Stage ID"]]["name"] = si.get("Stage Name", "")
        elif t == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            m = ev.get("Task Metrics") or {}
            s = per_stage[sid]
            s["tasks"] += 1
            s["run_ms"] += m.get("Executor Run Time", 0)
            s["cpu_ms"] += m.get("Executor CPU Time", 0) // 1_000_000
            s["gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            s["sh_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            s["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            s["sh_write_b"] += sw.get("Shuffle Bytes Written", 0)
            im = m.get("Input Metrics") or {}
            s["input_b"] += im.get("Bytes Read", 0)

    per_query: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
                 "gc_s": 0.0, "sh_read_mb": 0.0, "sh_write_mb": 0.0,
                 "fetch_wait_s": 0.0, "input_mb": 0.0, "stages": []}
    )
    jobs_seen: dict[str, set] = defaultdict(set)
    for sid, s in per_stage.items():
        jid = stage_to_job.get(sid)
        desc = job_desc.get(jid, "")
        if desc not in walls:
            continue
        q = per_query[desc]
        jobs_seen[desc].add(jid)
        q["tasks"] += s["tasks"]
        q["run_s"] += s["run_ms"] / 1000
        q["cpu_s"] += s["cpu_ms"] / 1000
        q["gc_s"] += s["gc_ms"] / 1000
        q["sh_read_mb"] += s["sh_read_b"] / 1e6
        q["sh_write_mb"] += s["sh_write_b"] / 1e6
        q["fetch_wait_s"] += s["fetch_wait_ms"] / 1000
        q["input_mb"] += s["input_b"] / 1e6
        q["stages"].append(
            {"stage": sid, "tasks": s["tasks"],
             "run_s": round(s["run_ms"] / 1000, 2),
             "cpu_s": round(s["cpu_ms"] / 1000, 2),
             "sh_read_mb": round(s["sh_read_b"] / 1e6, 1),
             "name": s["name"][:80]}
        )
    out = {}
    for name in names:
        q = per_query[name]
        q["jobs"] = len(jobs_seen[name])
        q["wall_s"] = walls[name]
        q["stages"].sort(key=lambda st: -st["run_s"])
        q["stages"] = q["stages"][:8]
        for k in ("run_s", "cpu_s", "gc_s", "sh_read_mb", "sh_write_mb",
                  "fetch_wait_s", "input_mb"):
            q[k] = round(q[k], 2)
        out[name] = dict(q)
        print(f"\n== {name}: wall {q['wall_s']} s, {q['jobs']} jobs, "
              f"{q['tasks']} tasks, run {q['run_s']} s, cpu {q['cpu_s']} s, "
              f"gc {q['gc_s']} s, shuffle r/w {q['sh_read_mb']}/"
              f"{q['sh_write_mb']} MB, fetch-wait {q['fetch_wait_s']} s")
        for st in q["stages"][:6]:
            print(f"   stage {st['stage']:>4} tasks={st['tasks']:<4} "
                  f"run={st['run_s']:<7} cpu={st['cpu_s']:<7} "
                  f"shr={st['sh_read_mb']:<8} {st['name']}")
    Path("/tmp/profile_queries.json").write_text(json.dumps(out, indent=1))
    print("\nwritten: /tmp/profile_queries.json")


if __name__ == "__main__":
    main()
