"""Turn worker results into the end-to-end and per-layer metrics.

End-to-end metrics come from an untraced worker; per-layer metrics from
the traced one. Per-layer figures are totals over every operation of the
run divided by the number of passes (pipeline runs for ``etl_curated``),
so runs of different length compare. Counts are reported as counts.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.workloads import FAMILIES

MB = 1024.0 * 1024.0

# A run whose operations lost more than this share of the host's vCPU
# time to other tenants (hypervisor steal) is flagged in the report:
# its timings are inflated by the host, not by the program.
STEAL_FLAG = 0.10


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _m(value: float, unit: str, n: int | None = None) -> dict:
    out = {"value": float(value), "unit": unit}
    if n is not None:
        out["n"] = n
    return out


def mean_pass(res: dict) -> float:
    """Time of a pass, the sum of its operations' times, averaged over
    the run's passes, the first (with the cold operation) included."""
    return statistics.fmean(res["run"]["pass_s"])


def end_to_end(res: dict) -> tuple[dict, dict]:
    """Timings are wall time. The hypervisor steal share during them is
    reported next to them in ``extra``, as host calibration."""
    ops = [o for o in res["ops"] if o["ok"]]
    cold = [o for o in ops if o["phase"] == "cold"]
    samples = [o for o in ops if o["sample"]]
    walls = sorted(o["wall_s"] for o in samples)
    e2e = {
        "setup_s": _m(res["setup"]["setup_s"], "s", 1),
        "cold_op_s": _m(cold[0]["wall_s"] if cold else 0.0, "s", len(cold)),
        "op_p50_s": _m(median(walls), "s", len(walls)),
        "pass_s": _m(mean_pass(res), "s", res["run"]["n_passes"]),
        "retained_heap_mb": _m(res["retained_heap_mb"], "MB", 1),
    }
    # p90 is shown for reference only: a run has fewer than the ten
    # samples beyond it that a reported percentile needs
    p90 = statistics.quantiles(walls, n=10)[-1] if len(walls) > 1 else sum(walls)
    steal = median([o["steal"] for o in ops])
    extra = {
        "op_p90_s": _m(p90, "s", len(walls)),
        "op_p90_samples_beyond": sum(1 for x in walls if x > p90),
        "setup_steal_share": _m(res["setup"]["setup_steal"], "ratio", 1),
        "steal_share_p50": _m(steal, "ratio", len(ops)),
        "high_steal": steal > STEAL_FLAG,
        "op_cpu_p50_s": _m(median([o["cpu_s"] for o in samples]), "s", len(samples)),
        "peak_rss_mb": _m(res["peak_rss_mb"], "MB", 1),
        "driver_rss_mb": _m(res["driver_rss_mb"], "MB", 1),
    }
    if res["workload"] == "driver_heavy" and res["run"]["n_passes"] > 1:
        first, *later = res["run"]["pass_s"]
        extra["first_pass_s"] = _m(first, "s", 1)
        extra["later_pass_p50_s"] = _m(median(later), "s", len(later))
    if "writes" in res["run"]:
        w = res["run"]["writes"]
        extra["write_amp"] = _m(
            median([x["bytes"] for x in w]) / res["run"]["landing_bytes"],
            "ratio", len(w))
    return e2e, extra


def per_layer(res: dict, plain: dict) -> dict:
    """``plain`` is the untraced worker that ran on the same inputs just
    before the traced one ``res``."""
    ops = res["ops"]
    op_ids = {o["idx"] for o in ops}
    n_pass = max(1, res["run"]["n_passes"])
    spans = [s for s in res["spans"] if s["op"] in op_ids]
    by_id = {s["id"]: s for s in res["spans"]}

    def under(s: dict, name: str) -> bool:
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"] == name:
                return True
            p = by_id[p]["parent"]
        return False

    tot: dict[str, float] = defaultdict(float)
    cnt: dict[str, int] = defaultdict(int)
    convert_max: dict[int, float] = defaultdict(float)
    for s in spans:
        name = s["name"]
        if name in ("registry.collect", "registry.to_pandas") and not under(
            s, "registry.build"
        ):
            continue
        tot[name] += s["dur"]
        cnt[name] += 1
        if name == "io.convert_table":
            convert_max[s["op"]] = max(convert_max[s["op"]], s["dur"])

    wall = sum(o["wall_s"] for o in ops)
    out = {
        "session.get_session_s": _m(res["setup"]["get_session_s"], "s"),
        "session.warmup_s": _m(res["setup"]["warmup_s"], "s"),
        "io.parquet_open.calls": _m(cnt["io.parquet_open"] / n_pass, "count"),
        "io.parquet_open_s": _m(tot["io.parquet_open"] / n_pass, "s"),
        "io.ingest_s": _m(tot["io.ingest"] / n_pass, "s"),
        "io.convert_table_max_s": _m(
            sum(convert_max.values()) / n_pass, "s"),
        "io.parquet_write_s": _m(tot["io.parquet_write"] / n_pass, "s"),
        "io.jdbc_write_s": _m(tot["io.jdbc_write"] / n_pass, "s"),
    }
    writes = res["run"].get("writes", [])
    out["io.bytes_written"] = _m(
        median([w["bytes"] for w in writes]) if writes else 0, "bytes")
    out["io.files_written"] = _m(
        median([w["files"] for w in writes]) if writes else 0, "count")
    out["io.write_amp"] = _m(
        out["io.bytes_written"]["value"] / res["run"]["landing_bytes"]
        if writes else 0, "ratio")

    build = tot["registry.build"] / n_pass
    sc = res["stage_cache"]
    lookups = sc["hits"] + sc["misses"]
    out.update({
        "registry.build_s": _m(build, "s"),
        "registry.build_share": _m(tot["registry.build"] / wall if wall else 0,
                                   "ratio"),
        "registry.collect_s": _m(tot["registry.collect"] / n_pass, "s"),
        "registry.to_pandas_s": _m(tot["registry.to_pandas"] / n_pass, "s"),
        "registry.stage_cache.hits": _m(sc["hits"] / n_pass, "count"),
        "registry.stage_cache.misses": _m(sc["misses"] / n_pass, "count"),
        "registry.stage_cache.evictions": _m(sc["evictions"] / n_pass, "count"),
        "registry.stage_cache.hit_ratio": _m(
            sc["hits"] / lookups if lookups else 0, "ratio"),
    })

    # executor work, per pass: jobs/stages from the status tracker,
    # task metrics from the UI REST API
    stage_data = res["rest_stages"]
    ex = defaultdict(float)
    n_jobs = n_stages = n_tasks = 0
    for o in ops:
        n_jobs += len(o["jobs"])
        for sid in o["stages"]:
            attempts = stage_data.get(str(sid), [])
            if any(a["status"] == "COMPLETE" for a in attempts):
                n_stages += 1
            for a in attempts:
                n_tasks += a["numCompleteTasks"]
                ex["run"] += a["executorRunTime"] / 1e3
                ex["cpu"] += a["executorCpuTime"] / 1e9
                ex["gc"] += a.get("jvmGcTime", 0) / 1e3
                ex["shr"] += a["shuffleReadBytes"] / MB
                ex["shw"] += a["shuffleWriteBytes"] / MB
                ex["spill"] += (a["memoryBytesSpilled"] + a["diskBytesSpilled"]) / MB
    out.update({
        "exec.action_s": _m(tot["exec.action"] / n_pass, "s"),
        "exec.jobs": _m(n_jobs / n_pass, "count"),
        "exec.jobs_per_op": _m(n_jobs / len(ops) if ops else 0, "count"),
        "exec.stages": _m(n_stages / n_pass, "count"),
        "exec.tasks": _m(n_tasks / n_pass, "count"),
        "exec.executor_run_s": _m(ex["run"] / n_pass, "s"),
        "exec.cpu_s": _m(ex["cpu"] / n_pass, "s"),
        "exec.gc_s": _m(ex["gc"] / n_pass, "s"),
        "exec.shuffle_read_mb": _m(ex["shr"] / n_pass, "MB"),
        "exec.shuffle_write_mb": _m(ex["shw"] / n_pass, "MB"),
        "exec.spill_mb": _m(ex["spill"] / n_pass, "MB"),
    })

    for step in ("sense", "ingest", "serve"):
        out[f"pipeline.step_s.{step}"] = _m(
            tot[f"pipeline.step.{step}"] / n_pass, "s")
    attempts = res["run"].get("step_attempts", {})
    out["pipeline.retries"] = _m(
        sum(attempts.values()) - len(attempts) * len(ops) if attempts else 0,
        "count")

    fam = defaultdict(float)
    for o in ops:
        fam[res["categories"].get(o["name"], "")] += o["wall_s"]
    for f in FAMILIES:
        out[f"family.{f}.wall_s"] = _m(fam[f] / n_pass, "s")

    for layer in ("op", "io", "registry", "exec", "pipeline"):
        key = "bench" if layer == "op" else layer
        out[f"self_s.{key}"] = _m(res["self_s"].get(layer, 0.0) / n_pass, "s")

    traced_pass, plain_pass = mean_pass(res), mean_pass(plain)
    out["trace.pass_s"] = _m(traced_pass, "s", res["run"]["n_passes"])
    out["trace.untraced_pass_s"] = _m(plain_pass, "s", plain["run"]["n_passes"])
    out["trace.overhead_s"] = _m(traced_pass - plain_pass, "s")
    return out


def summarize(workload: str, plain: dict, traced: dict | None) -> dict:
    workers = [r for r in (plain, traced) if r is not None]
    e2e, extra = end_to_end(plain)
    failures = [f for r in workers for f in r["failures"]]
    attempted = sum(r["attempted"] + r.get("checked", 0) for r in workers)
    extra["failed_frac"] = _m(len(failures) / attempted, "ratio", attempted)
    report = {
        "workload": workload,
        "end_to_end": e2e,
        "extra": extra,
        "failures": failures,
        "attempted": attempted,
        "failed": len(failures),
        "correct": not failures,
        "setup_detail": plain["setup"],
    }
    if traced is not None:
        report["per_layer"] = per_layer(traced, plain)
    return report


def print_report(report: dict, record: dict) -> None:
    print(f"workload {report['workload']}  seed {record['args']['seed']}  "
          f"trace {record['args']['trace']}")
    print(f"env {record['env']}")
    print(f"calibration {record['calibration']}")
    for section in ("end_to_end", "extra", "per_layer"):
        for k, v in report.get(section, {}).items():
            if isinstance(v, dict):
                n = f"  (n={v['n']})" if "n" in v else ""
                print(f"  {section:10s} {k:34s} {v['value']:.6g} {v['unit']}{n}")
            else:
                print(f"  {section:10s} {k:34s} {v}")
    if report["extra"]["high_steal"]:
        print(f"  WARNING the host gave {report['extra']['steal_share_p50']['value']:.0%} "
              "of vCPU time to other tenants during the operations; timings are inflated")
    for f in report["failures"]:
        print(f"  FAILED {f}")
