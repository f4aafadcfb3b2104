"""One benchmark process: set up the engine, run the timed operations of
one workload, then check the outputs.

Started by ``run.py`` as a fresh process per run, with its working
directory, ``TMPDIR`` and ``SPARK_LOCAL_DIRS`` inside the run's temp
root. ``PERFBENCH_SPAWN`` and ``PERFBENCH_SPAWN_TICKS`` hold the
parent's ``time.monotonic()`` and ``host_ticks()`` just before the spawn,
so ``setup_s`` starts at process start. The result is written as JSON to
``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
import traceback
import urllib.request
from contextlib import nullcontext
from pathlib import Path

from perfbench import workloads
from perfbench.calibration import host_ticks
from perfbench.trace import Tracer

GROUP_PREFIX = "perfbench-op-"


def _du(path: Path) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                pass
    return size, files


_TICK = os.sysconf("SC_CLK_TCK")


def session_cpu_s() -> float:
    """CPU seconds used so far by this process's session: the worker,
    the Spark JVM and the Python workers it forks (including reaped
    children). Unlike wall time, it leaves out time the host's other
    tenants take from the vCPUs (steal)."""
    sid = os.getsid(0)
    total = 0
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited meanwhile
        if int(fields[3]) == sid:
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def steal_since(ticks: tuple[int, int]) -> float:
    """Share of all vCPU time since ``ticks`` (a ``host_ticks()``
    reading) that the hypervisor gave to other tenants. Recorded next
    to every timing as host calibration; the timings themselves are
    plain wall time."""
    h1 = host_ticks()
    return (h1[0] - ticks[0]) / max(1, h1[1] - ticks[1])


def _status_mb(pid: int, field: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no {field} for pid {pid}")


def oracle_digest(pdf) -> dict:
    """Order-insensitive digest of a result, as the oracle compares it."""
    from aws_etl_spark.oracle import _hash, canonical_rows

    rows = canonical_rows(pdf)
    return {"hash": _hash(rows), "rows": len(rows), "cols": sorted(pdf.columns)}


def bump_mtimes(sf_dir: str) -> None:
    """Give every input file a new mtime, as if the tables had been
    rewritten. The engine's process caches key on the inputs' path,
    size and mtime, so the next pass misses them, as a fresh session's
    distinct queries would."""
    now = time.time_ns()
    for dirpath, _, names in os.walk(sf_dir):
        for n in names:
            os.utime(os.path.join(dirpath, n), ns=(now, now))


class Run:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.root = Path(args.root)
        self.typed_dir = str(self.root / "data" / "typed")
        self.tracer = Tracer() if args.trace else None
        self.ops: list[dict] = []  # one record per timed operation
        self.failures: list[str] = []
        self.attempted = 0
        self.outputs: list[tuple[str, dict]] = []  # (query, result digest)
        self.expected: dict[str, dict] = {}  # query -> oracle digest

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    # -- set-up --------------------------------------------------------
    def setup(self) -> dict:
        spawn = float(os.environ["PERFBENCH_SPAWN"])
        out = {}
        t0 = time.perf_counter()
        with self.span("session.get_session"):
            from aws_etl_spark.session import get_session

            self.spark = get_session(f"perfbench-{self.args.workload}")
        out["get_session_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        from aws_etl_spark.queries import registry

        registry.queries()  # loads every corpus module once
        self.registry_module = registry
        self.registry = registry.REGISTRY
        out["registry_load_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        with self.span("session.warmup"):
            # the same warm-up as bench.py: JVM file listing, then the
            # Arrow Python workers a pandas UDF needs
            self.spark.read.parquet(f"{self.typed_dir}/region.parquet").count()
            self.spark.range(32).withColumnRenamed("id", "k").groupBy(
                "k"
            ).applyInPandas(lambda p: p, "k bigint").write.mode(
                "overwrite"
            ).format("noop").save()
        out["warmup_s"] = time.perf_counter() - t0
        out["setup_s"] = time.monotonic() - spawn
        out["setup_steal"] = steal_since(tuple(
            int(x) for x in os.environ["PERFBENCH_SPAWN_TICKS"].split(",")))
        sc = self.spark.sparkContext
        self.jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
        out["java"] = sc._jvm.java.lang.System.getProperty("java.vm.version")
        if self.tracer:
            self.tracer.install(self.spark)
        return out

    # -- one operation ------------------------------------------------------
    def timed(self, name: str, fn, phase: str, sample: bool) -> object:
        """Run ``fn`` as operation ``name``; record its wall time, as a
        sample of ``op_p50_s`` when ``sample``. Returns its result, or
        None when it raised."""
        idx = len(self.ops)
        rec = {"idx": idx, "name": name, "phase": phase, "sample": sample,
               "ok": False}
        sc = self.spark.sparkContext
        if self.tracer:
            self.tracer.op = idx
            ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
            sc.setJobGroup(f"{GROUP_PREFIX}{idx}", name)
        self.attempted += 1
        result = None
        c0 = session_cpu_s()
        h0 = host_ticks()
        t0 = time.perf_counter()
        try:
            with self.span("op"):
                result = fn()
            rec["ok"] = True
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.failures.append(f"{name}: raised")
        rec["wall_s"] = time.perf_counter() - t0
        rec["steal"] = steal_since(h0)
        rec["cpu_s"] = session_cpu_s() - c0
        if self.tracer:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.tracer.op = None
            tr = sc.statusTracker()
            jobs = set(tr.getJobIdsForGroup(f"{GROUP_PREFIX}{idx}"))
            # the ingest fan-out's threads do not inherit the job group
            jobs |= set(tr.getJobIdsForGroup(None)) - ungrouped
            stages = set()
            for j in jobs:
                info = tr.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            rec["jobs"] = sorted(jobs)
            rec["stages"] = sorted(stages)
        self.ops.append(rec)
        return result

    def query_op(self, name: str, sf_dir: str):
        spec = self.registry[name]
        with self.span("registry.build"):
            df = spec.fn(self.spark, sf_dir)
        with self.span("exec.action"):
            return df.toPandas()

    # -- workloads ------------------------------------------------------------
    def run_queries(self, names: list[str]) -> dict:
        """Passes over the pinned queries, each result brought to the
        driver. Before every pass after the first the inputs get new
        mtimes, so no pass is served from the caches an earlier pass
        filled; within a pass, queries share them as a session's distinct
        queries do. The first operation of the first pass is the cold
        one; every other operation is a sample of ``op_p50_s``. A pass
        takes the sum of its operations' times. Each result's digest is
        kept for the check."""
        missing = [n for n in names if n not in self.registry]
        for n in missing:
            self.attempted += 1
            self.failures.append(f"{n}: pinned name not registered")
        names = [n for n in names if n in self.registry]
        sf_dir = self.typed_dir
        self.stage_cache_before = dict(self.registry_module._STAGE_CACHE_STATS)
        passes = []
        for k in range(1, workloads.passes(self.args.workload, self.args.seconds) + 1):
            if k > 1:
                bump_mtimes(sf_dir)
            first = len(self.ops)
            for i, name in enumerate(names):
                phase = "cold" if k == 1 and i == 0 else f"pass{k}"
                pdf = self.timed(name, lambda: self.query_op(name, sf_dir),
                                 phase, sample=phase != "cold")
                if pdf is not None:
                    self.outputs.append((name, oracle_digest(pdf)))
                self.spark.catalog.clearCache()
            passes.append(sum(o["wall_s"] for o in self.ops[first:]))
        return {"pass_s": passes, "n_passes": len(passes)}

    def run_etl(self) -> dict:
        from aws_etl_spark.io.ingest import ingest_tables
        from aws_etl_spark.pipeline.runner import Pipeline, file_sensor

        landing = self.root / "landing"
        silver = self.root / "silver"
        serving = Path(tempfile.gettempdir()) / "aws_etl_spark_serving"
        expected_rows = json.loads((landing / "rows.json").read_text())
        landing_bytes = sum(os.path.getsize(landing / f"{t}.csv")
                            for t in expected_rows)
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        spec = self.registry["serve_reconcile"]
        attempts = {"sense": 0, "ingest": 0, "serve": 0}
        last = {}

        def step(name, fn):
            def run(ctx):
                attempts[name] += 1
                with self.span(f"pipeline.step.{name}"):
                    return fn(ctx)
            return run

        def sense(ctx):
            return file_sensor(str(landing / "*.csv"), timeout_sec=30,
                               min_files=len(expected_rows))

        def ingest(ctx):
            tables = {f"{t}.parquet": str(landing / f"{t}.csv")
                      for t in expected_rows}
            return ingest_tables(self.spark, tables, str(silver),
                                 max_parallel=min(cores, len(tables)))

        def serve(ctx):
            with self.span("registry.build"):
                df = spec.fn(self.spark, str(silver))
            with self.span("exec.action"):
                rows = df.collect()
            last["df"] = df
            return rows

        def pipeline_run():
            p = (
                Pipeline("etl_curated")
                .add_step("sense", step("sense", sense))
                .add_step("ingest", step("ingest", ingest), depends_on=["sense"])
                .add_step("serve", step("serve", serve), depends_on=["ingest"])
            )
            return p.run()

        writes = []

        def one(phase: str) -> None:
            ctx = self.timed("etl_curated", pipeline_run, phase,
                             sample=phase != "cold")
            if ctx is None:
                return
            counts = {k.removesuffix(".parquet"): v for k, v in ctx["ingest"].items()}
            if counts != expected_rows:
                self.failures.append(f"etl_curated: ingest counts {counts}")
            for r in ctx["serve"]:
                if r["rows_match"] != 1 or r["total_match"] != 1:
                    self.failures.append(f"etl_curated: reconcile flag 0 on {r['sink']}")
            b_silver, f_silver = _du(silver)
            b_serve, f_serve = _du(serving)
            writes.append({"bytes": b_silver + b_serve, "files": f_silver + f_serve})

        self.stage_cache_before = dict(self.registry_module._STAGE_CACHE_STATS)
        one("cold")
        for k in range(1, workloads.passes("etl_curated", self.args.seconds) + 1):
            one(f"pass{k}")
        self.etl_last = last.get("df")
        return {
            "pass_s": [o["wall_s"] for o in self.ops],
            "n_passes": len(self.ops),
            "landing_bytes": landing_bytes,
            "writes": writes,
            "step_attempts": attempts,
        }

    # -- correctness (outside the timed operations) ----------------------------
    def check_queries(self) -> int:
        """Compare the result of every timed operation with the DuckDB
        oracle; a rows-only query must return rows."""
        for name, got in self.outputs:
            spec = self.registry[name]
            if spec.oracle is None:
                if got["rows"] == 0:
                    self.failures.append(f"{name}: rows-only result is empty")
                continue
            self.compare(name, got)
        return len(self.outputs)

    def check_etl(self) -> int:
        if self.etl_last is None:
            return 0
        self.compare("serve_reconcile", oracle_digest(self.etl_last.toPandas()))
        return 1

    def compare(self, name: str, got: dict) -> None:
        from aws_etl_spark.oracle import run_oracle

        try:
            if name not in self.expected:
                self.expected[name] = oracle_digest(
                    run_oracle(self.registry[name].oracle, self.typed_dir))
            want = self.expected[name]
        except Exception:  # noqa: BLE001 — recorded as a failure
            traceback.print_exc(file=sys.stderr)
            self.failures.append(f"{name}: oracle raised")
            return
        if got != want:
            self.failures.append(
                f"{name}: oracle mismatch ({got['rows']} rows, oracle "
                f"{want['rows']}; columns {got['cols']})")

    def retained_heap_mb(self) -> float:
        """JVM heap still in use after a full collection: what the
        session holds between operations (cached and checkpointed
        blocks, broadcast state). VmHWM is reported too, but it follows
        the collector's timing more than the program's working set."""
        jvm = self.spark.sparkContext._jvm
        # the first collection lets the context cleaner see dropped
        # blocks and broadcasts; the second reclaims what it released
        jvm.java.lang.System.gc()
        time.sleep(0.2)
        jvm.java.lang.System.gc()
        bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return bean.getHeapMemoryUsage().getUsed() / (1024.0 * 1024.0)

    # -- executor metrics from the UI REST API --------------------------------
    def rest_stages(self, wanted: set[int]) -> dict[int, list[dict]]:
        """Task metrics of the ``wanted`` stages (all attempts), once the
        status listener has caught up with them."""
        sc = self.spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        url = (f"http://127.0.0.1:{port}/api/v1/applications/"
               f"{sc.applicationId}/stages")
        deadline = time.monotonic() + 5.0
        while True:
            with urllib.request.urlopen(url, timeout=10) as resp:
                data = json.load(resp)
            by_id: dict[int, list[dict]] = {}
            for s in data:
                if s["stageId"] in wanted:
                    by_id.setdefault(s["stageId"], []).append(s)
            pending = [sid for sid, ss in by_id.items()
                       if any(s["status"] == "ACTIVE" for s in ss)]
            if not pending or time.monotonic() > deadline:
                return by_id
            time.sleep(0.2)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads.NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--check", type=int, default=1)
    ap.add_argument("--root", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    run = Run(args)
    result: dict = {"workload": args.workload, "seed": args.seed}
    result["setup"] = run.setup()
    t0 = time.perf_counter()
    if args.workload == "etl_curated":
        result["run"] = run.run_etl()
    else:
        result["run"] = run.run_queries(workloads.pinned(args.workload))
    result["timed_s"] = time.perf_counter() - t0
    result["peak_rss_mb"] = _status_mb(run.jvm_pid, "VmHWM:")
    result["retained_heap_mb"] = run.retained_heap_mb()
    result["driver_rss_mb"] = _status_mb(os.getpid(), "VmRSS:")
    after = run.registry_module._STAGE_CACHE_STATS  # read only
    result["stage_cache"] = {k: after[k] - run.stage_cache_before[k] for k in after}
    if run.tracer:
        run.tracer.uninstall()
        wanted = {s for o in run.ops for s in o.get("stages", ())}
        result["rest_stages"] = run.rest_stages(wanted)
        result["self_s"] = run.tracer.self_times({o["idx"] for o in run.ops})
        result["spans"] = [
            {"name": s.name, "op": s.op, "parent": s.parent,
             "dur": s.end - s.start, "id": s.id}
            for s in run.tracer.spans
        ]
    t0 = time.perf_counter()
    if args.check:
        if args.workload == "etl_curated":
            result["checked"] = run.check_etl()
        else:
            result["checked"] = run.check_queries()
    result["check_s"] = time.perf_counter() - t0
    result["ops"] = run.ops
    result["categories"] = {n: s.category for n, s in run.registry.items()}
    result["attempted"] = run.attempted
    result["failures"] = run.failures
    Path(args.out).write_text(json.dumps(result))
    run.spark.stop()


if __name__ == "__main__":
    main()
