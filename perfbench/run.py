"""Benchmark command: one seeded workload per process, outputs checked.

Usage (from the repository root):

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run (see perfbench/NOTES.md).  The last
stdout line is the result object; the line before it carries the
details (per-operation latencies, workload-specific figures, layer
breakdown and provenance).  Every byte the run writes lives under
``.perfbench/`` in the repository root; the run's own directory is
removed at exit, the oracle cache is kept.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
ENGINE = "jobcan_data_integrator_spark"


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: Path, trace: bool) -> dict:
    """Point every scratch location at ``work`` and size the session to
    this host; returns the provenance record of what was chosen."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    # the store's background-write pool defaults to 8 threads; no pool is
    # wider than the cores the run measures
    os.environ.setdefault("SPARK_GRAFT_WRITE_POOL", str(nproc))
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    confs = {
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        # harvesting runs after every operation; the raised retention
        # keeps one operation's jobs from being evicted before it
        confs.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    # every JVM (spark-submit's launcher too): temp files under ``work``
    # and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args = [f"--driver-java-options -Djava.io.tmpdir={tmp}"]
    args += [f"--conf {k}={v}" for k, v in confs.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = str(tmp)
    return {"nproc": nproc, "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "SPARK_GRAFT_WRITE_POOL": os.environ["SPARK_GRAFT_WRITE_POOL"],
            "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM")}


def new_session():
    from jobcan_data_integrator_spark.session import get_spark

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = get_spark("perfbench", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()  # warm-up: the first job pays scheduler start-up
    return spark


def _children(pid: int) -> list[int]:
    """All live descendants of ``pid`` (from /proc)."""
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            parents.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = parents.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def shutdown(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of those processes has ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    kids = _children(proc.pid)
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)
    SparkContext._gateway = SparkContext._jvm = None


def quantile_summary(vals: list[float]) -> dict:
    """Median, and the highest of p90/p75 with at least ten samples beyond it."""
    out = {"p50": statistics.median(vals), "n": len(vals)}
    for q in (0.90, 0.75):
        if len(vals) * (1 - q) >= 10:
            out[f"p{int(q * 100)}"] = statistics.quantiles(vals, n=100)[int(q * 100) - 1]
            break
    return out


def run(args) -> int:
    import duckdb
    import pyspark

    from perfbench.checks import OracleCache
    from perfbench.layers import LayerTracer, SparkHarvester, tree_files
    from perfbench.workloads import WORKLOADS

    bench_dir = ROOT / ".perfbench"
    work = bench_dir / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    provenance = configure_env(work, bool(args.trace))
    cache = OracleCache(bench_dir / "oracle-cache")
    spark = None
    try:
        # -- set-up: process start until the workload is ready.  The
        # reference results are prepared after that point, from the same
        # inputs, outside both setup_s and the timed region.
        wl = WORKLOADS[args.workload](args.seed, cache)
        sizes = wl.generate(work / "input")
        spark = new_session()
        wl.attach(spark, work / "input")
        setup_s = process_age_s()
        o0 = time.perf_counter()
        wl.prepare_oracles()
        oracle_s = time.perf_counter() - o0

        tracer = harvester = None
        if args.trace:
            tracer = LayerTracer()
            tracer.install()
            tracer.store_roots += getattr(wl, "store_roots", [])
            if hasattr(wl, "trace"):
                wl.trace(tracer)
            harvester = SparkHarvester(spark)
        ops = wl.ops()
        records, failures = [], []
        check_s = 0.0
        wall_s = 0.0
        deadline = time.perf_counter() + args.seconds
        for op in ops:
            before_fs = tree_files(tracer.store_roots) if tracer else None
            before_layers = tracer.snapshot() if tracer else None
            w0 = time.time()
            t0 = time.perf_counter()
            out, error = None, None
            try:
                out = op.run()
            except Exception as exc:  # a failed operation is counted, the run goes on
                error = f"{type(exc).__name__}: {exc}"[:300]
            dt = time.perf_counter() - t0
            w1 = time.time()
            wall_s += dt
            rec = {"op": op.name, "kind": op.kind, "s": dt, "t0": t0}
            if tracer:
                rec.update(harvester.harvest(w0, w1))
                after = tracer.snapshot()
                for layer, (calls, self_s) in after.items():
                    c0, s0 = before_layers.get(layer, (0, 0.0))
                    if calls > c0:
                        rec[f"{layer}_calls"] = calls - c0
                        rec[f"{layer}_s"] = self_s - s0
                after_fs = tree_files(tracer.store_roots)
                changed = [p for p, v in after_fs.items() if before_fs.get(p) != v]
                rec["storage.files_written"] = len(changed)
                rec["storage.bytes_written"] = sum(after_fs[p][0] for p in changed)
                rec["storage.bytes_live"] = sum(v[0] for v in after_fs.values())
            c0 = time.perf_counter()
            if error is None:
                try:
                    error = op.check(out)
                except Exception as exc:  # a broken check is a failed check
                    error = f"check raised {type(exc).__name__}: {exc}"[:300]
            check_s += time.perf_counter() - c0
            if tracer:
                harvester.harvest(time.time(), time.time())  # the check's own jobs
            if error is not None:
                failures.append({"op": op.name, "error": error})
            rec["ok"] = error is None
            records.append(rec)
        over_s = max(0.0, time.perf_counter() - deadline)
        if tracer:
            tracer.uninstall()

        details = wl.details(records)
        peak_rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(
            spark._jvm.java.lang.ProcessHandle.current().pid()
        )
        lat = [r["s"] for r in records]
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "provenance": {
                **provenance,
                "spark": pyspark.__version__,
                "duckdb": duckdb.__version__,
                "python": sys.version.split()[0],
                "sizes": sizes,
            },
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss,
            "oracle_s": oracle_s,
            "oracle_cache": {"hits": cache.hits, "misses": cache.misses},
            "process_s": process_age_s(),
            "seconds_requested": args.seconds,
            "seconds_over": over_s,
            "op_latency": quantile_summary(lat),
            "by_kind": {
                k: quantile_summary([r["s"] for r in records if r["kind"] == k])
                for k in dict.fromkeys(r["kind"] for r in records)
            },
            "failures": failures,
            "ops": records,
            **details,
        }
        metrics = end_to_end(setup_s, wall_s) if not args.trace else per_layer(
            records, details, wall_s, check_s, peak_rss, tracer, harvester, len(failures)
        )
        print(json.dumps({"detail": detail}, default=float))
        print(json.dumps({
            "correct": not failures,
            "attempted": len(records),
            "failed": len(failures),
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)


def end_to_end(setup_s, wall_s) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "wall_s": {"value": wall_s, "unit": "s"},
    }


#: per-layer metric -> unit; summed over the run's operations
LAYER_SUMS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.dropped_jobs": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.job_span_s": "s",
    "driver_gap_s": "s",
    "storage.write_calls": "count",
    "storage.write_s": "s",
    "storage.commit_calls": "count",
    "storage.commit_s": "s",
    "storage.read_calls": "count",
    "storage.read_s": "s",
    "storage.bytes_written": "bytes",
    "storage.files_written": "count",
    "incremental.exact_calls": "count",
    "incremental.exact_s": "s",
    "incremental.span_calls": "count",
    "incremental.span_s": "s",
    "incremental.minhash_calls": "count",
    "incremental.minhash_s": "s",
    "incremental.cluster_calls": "count",
    "incremental.cluster_s": "s",
    "retrieval.bm25_calls": "count",
    "retrieval.bm25_s": "s",
    "sources.fetch_s": "s",
    "sources.transport_s": "s",
    "bronze.archive_s": "s",
    "state.checkpoint_calls": "count",
    "state.checkpoint_s": "s",
    "shred.plan_s": "s",
    "views.register_s": "s",
}

#: per-layer metric -> (key of the workload's detail figures, unit)
LAYER_DETAILS = {
    "sources.requests": ("api_requests", "count"),
    "sources.pages": ("api_pages", "count"),
    "sources.failures": ("api_failures", "count"),
    "pipeline.basic_s": ("pipeline.basic_s", "s"),
    "pipeline.outline_s": ("pipeline.outline_s", "s"),
    "pipeline.detail_s": ("pipeline.detail_s", "s"),
}


def op_time_metrics() -> dict[str, str]:
    """Per-layer metric of every analytics gate and gold view -> the
    operation it times."""
    from jobcan_data_integrator_spark import views
    from perfbench.workloads import ANALYTICS_GATES, view_metric

    out = {f"gate.{g}_s": g for g in sorted(ANALYTICS_GATES)}
    out.update({f"{view_metric(fn)}_s": view_metric(fn) for _, fn in views.VIEWS})
    return out


def per_layer(records, details, wall_s, check_s, peak_rss, tracer, harvester,
              n_failed) -> dict:
    """Every per-layer metric; one a workload does not exercise is 0."""
    out = {
        name: {"value": sum(r.get(name, 0) for r in records), "unit": unit}
        for name, unit in LAYER_SUMS.items()
    }
    out["storage.bytes_live"] = {"value": records[-1].get("storage.bytes_live", 0),
                                 "unit": "bytes"}
    for name, (key, unit) in LAYER_DETAILS.items():
        out[name] = {"value": details.get(key, 0), "unit": unit}
    times = {r["op"]: r["s"] for r in records}
    for name, op in op_time_metrics().items():
        out[name] = {"value": times.get(op, 0.0), "unit": "s"}
    out["traced_wall_s"] = {"value": wall_s, "unit": "s"}
    out["peak_rss_mb"] = {"value": peak_rss, "unit": "MB"}
    out["check_s"] = {"value": check_s, "unit": "s"}
    out["trace_harvest_s"] = {"value": harvester.harvest_s, "unit": "s"}
    out["trace_overhead_frac"] = {"value": tracer.overhead_s / wall_s, "unit": "ratio"}
    out["failed_frac"] = {"value": n_failed / len(records), "unit": "ratio"}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / ENGINE / "__init__.py").is_file():
        print(f"perfbench: engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    # run as a script, sys.path[0] is this directory: replace it with the
    # repository root so the benchmark's module names shadow nothing
    if sys.path and Path(sys.path[0]).resolve() == Path(__file__).resolve().parent:
        sys.path[0] = str(ROOT)
    elif str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
