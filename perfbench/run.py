"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One invocation is one run:

1. refuse to run when an engine dial (``SPARK_GRAFT_*`` other than
   ``SPARK_GRAFT_CPUS``) is set, and record the environment;
2. calibrate the host;
3. generate the inputs into a temp root inside the checkout (sf0.1
   tables with rows in seed order; for ``etl_curated`` also the landing
   CSVs);
4. run the workload in a fresh worker process whose cwd, ``TMPDIR``,
   ``SPARK_LOCAL_DIRS`` and JVM temp dir are inside the temp root. With
   ``--trace 1`` an untraced worker runs first and a traced one, which
   records spans, second, on the same inputs; the tracing overhead is the
   traced ``pass_s`` minus the untraced one;
5. calibrate again, delete the temp root, write the run record (and the
   spans) to ``.perfbench_out/``, print a report and, as the last line,
   one JSON object ``{correct, attempted, failed, metrics}``.

The exit code is 0 when every operation succeeded and every output
matched, 1 on a correctness failure, 2 when the run could not start.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
OUT_DIR = ROOT / ".perfbench_out"
DEADLINE_S = 170.0

# SPARK_GRAFT_* names read only by bench.py and the test suite, never by
# the engine; they are recorded and removed from the worker's environment.
HARNESS_ONLY = {
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_TEST_SF",
    "SPARK_GRAFT_ROUND", "SPARK_GRAFT_NO_BENCH_ARCHIVE",
}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def check_environment() -> dict:
    dials = sorted(
        k for k in os.environ
        if k.startswith("SPARK_GRAFT_") and k != "SPARK_GRAFT_CPUS"
        and k not in HARNESS_ONLY
    )
    if dials:
        fail("engine dials are set, which would measure a different "
             f"program: {', '.join(dials)}; unset them")
    for need in ("aws_etl_spark/__init__.py", "bench.py"):
        if not (ROOT / need).is_file():
            fail(f"{need} not found under {ROOT}; run from a full checkout")
    import numpy
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "platform": platform.platform(),
        "usable_cores": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "harness_vars_ignored": sorted(k for k in os.environ if k in HARNESS_ONLY),
    }


def make_inputs(tmp: Path, workload: str, seed: int) -> None:
    from perfbench import datagen, workloads

    tables = datagen.build_tables(workloads.SF)
    datagen.write_parquet_dir(
        {name: datagen.permute(t, seed * 101 + i)
         for i, (name, t) in enumerate(tables.items())},
        str(tmp / "data" / "typed"))
    if workload == "etl_curated":
        landing = tmp / "landing"
        datagen.write_landing_csvs(tables, str(landing), seed)
        rows = {t: tables[t].num_rows for t in datagen.LANDING_TABLES}
        (landing / "rows.json").write_text(json.dumps(rows))


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker's whole process group (its JVM and Python
    workers too) and wait until every member has exited."""
    try:
        os.killpg(proc.pid, signal.SIGTERM)
    except ProcessLookupError:
        pass
    try:
        proc.wait(timeout=10)
    except subprocess.TimeoutExpired:
        pass
    deadline = time.monotonic() + 15
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            break
        if time.monotonic() > deadline - 10:
            os.killpg(proc.pid, signal.SIGKILL)
        time.sleep(0.2)
    if proc.poll() is None:
        proc.kill()
        proc.wait()


def run_worker(tmp: Path, args, trace: int, check: int, tag: str,
               deadline: float) -> dict:
    from perfbench.calibration import host_ticks

    out = tmp / f"result-{tag}.json"
    env = {k: v for k, v in os.environ.items() if k not in HARNESS_ONLY}
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # a temp dir per worker: the serving sink's scratch files, whose
    # bytes etl_curated counts, go there
    worker_tmp = tmp / f"tmp-{tag}"
    worker_tmp.mkdir()
    env.update({
        "PYTHONPATH": os.pathsep.join([str(ROOT), env.get("PYTHONPATH", "")]),
        "TMPDIR": str(worker_tmp),
        "SPARK_LOCAL_DIRS": str(tmp / "spark-local"),
        # the JVM's temp files and its perf-data file would go to /tmp
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, [
            env.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={worker_tmp}", "-XX:+PerfDisableSharedMem"])),
    })
    cmd = [sys.executable, "-m", "perfbench.worker",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace),
           "--check", str(check), "--root", str(tmp), "--out", str(out)]
    env["PERFBENCH_SPAWN_TICKS"] = ",".join(map(str, host_ticks()))
    env["PERFBENCH_SPAWN"] = repr(time.monotonic())
    proc = subprocess.Popen(cmd, cwd=tmp, env=env, start_new_session=True,
                            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                            text=True)
    try:
        _, err = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        _stop_group(proc)
        fail(f"worker {tag} did not finish within the run's deadline")
    _stop_group(proc)
    wall = time.monotonic() - float(env["PERFBENCH_SPAWN"])
    if proc.returncode != 0 or not out.is_file():
        sys.stderr.write(err[-4000:])
        fail(f"worker {tag} exited with code {proc.returncode}")
    return {**json.loads(out.read_text()), "wall_s": wall}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()
    deadline = started + DEADLINE_S

    env_record = check_environment()
    sys.path.insert(0, str(ROOT))
    from perfbench import calibration, metrics, workloads

    if args.workload not in workloads.NAMES:
        fail(f"unknown workload {args.workload!r}; known: {workloads.NAMES}")
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    cal_start = calibration.calibrate()
    tmp = ROOT / ".perfbench_tmp" / str(os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    try:
        t0 = time.perf_counter()
        make_inputs(tmp, args.workload, args.seed)
        inputs_s = time.perf_counter() - t0
        # the untraced worker's outputs are checked by the traced one
        plain = run_worker(tmp, args, 0, 1 - args.trace, "plain", deadline)
        traced = run_worker(tmp, args, 1, 1, "traced", deadline) if args.trace else None
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            (ROOT / ".perfbench_tmp").rmdir()
        except OSError:
            pass
    cal_end = calibration.calibrate()

    report = metrics.summarize(args.workload, plain, traced)
    OUT_DIR.mkdir(exist_ok=True)
    env_record["java"] = plain["setup"]["java"]
    record = {
        "args": vars(args), "env": env_record, "inputs_s": inputs_s,
        "calibration": {"start": cal_start, "end": cal_end},
        "report": report,
        "wall_s": time.monotonic() - started,
    }
    record["ops"] = {tag: [(o["name"], o["phase"], o["wall_s"], o["cpu_s"],
                            o["steal"]) for o in r["ops"]]
                     for tag, r in (("plain", plain), ("traced", traced)) if r}
    record["worker_s"] = {tag: {k: r[k] for k in ("timed_s", "check_s", "wall_s")}
                          for tag, r in (("plain", plain), ("traced", traced)) if r}
    if traced is not None:
        record["spans"] = traced.pop("spans", [])
    (OUT_DIR / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record)
    )
    metrics.print_report(report, record)
    chosen = report["per_layer"] if args.trace else report["end_to_end"]
    line = {
        "correct": report["correct"],
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                    for k, v in chosen.items()},
    }
    print(json.dumps(line))
    sys.exit(0 if report["correct"] else 1)


if __name__ == "__main__":
    main()
