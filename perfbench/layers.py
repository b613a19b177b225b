"""Outside-in layer tracing for the benchmark.

Nothing here edits the engine.  ``LayerTracer`` wraps the public
functions and ``TableStore`` methods of the engine's modules from the
benchmark process (restored by ``uninstall``) and records calls and
self time per layer; ``SparkHarvester`` reads
Spark's status store after each operation and attributes every job
launched since the previous harvest to that operation (jobs are taken
by id range, i.e. by time window, because background-write pool
threads do not inherit job-group properties).
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
from collections import defaultdict
from pathlib import Path

_PKG = "jobcan_data_integrator_spark"

#: (module, class or None, attribute names, layer key)
LAYERS: list[tuple[str, str | None, tuple[str, ...], str]] = [
    (f"{_PKG}.storage", "TableStore", (
        "overwrite", "merge_upsert", "merge_insert_missing", "sync_children",
        "merge_batch", "delete_scope", "prune_keys", "prune_predicate",
    ), "storage.write"),
    (f"{_PKG}.storage", "TableStore", (
        "begin_commit", "end_commit", "abort_commit", "flush_writes",
    ), "storage.commit"),
    (f"{_PKG}.storage", "TableStore", (
        "read", "read_for_keys", "read_or_empty", "read_at", "read_version",
    ), "storage.read"),
    (f"{_PKG}.operators.incremental", None, (
        "build_exact_index", "exact_increment", "extend_exact_index",
    ), "incremental.exact"),
    (f"{_PKG}.operators.incremental", None, (
        "build_span_index", "span_increment", "extend_span_index",
    ), "incremental.span"),
    (f"{_PKG}.operators.incremental", None, (
        "build_minhash_index", "dedup_increment", "extend_index", "read_pairs",
        "compact_minhash_drops", "retire_from_minhash", "resign_minhash",
    ), "incremental.minhash"),
    (f"{_PKG}.operators.incremental", None, (
        "build_cluster_index", "extend_clusters", "merged_cluster_labels",
        "probe_merged_labels", "cluster_members",
    ), "incremental.cluster"),
    (f"{_PKG}.operators.retrieval", None, (
        "build_inverted_index", "query_terms", "bm25_scores", "bm25_topk",
        "extend_bm25_index", "remove_bm25_docs", "replace_bm25_docs",
        "drop_bm25_family", "bm25_query_indexed",
    ), "retrieval.bm25"),
    # sync: the API client (its transport is wrapped by the workload),
    # the bronze archive, checkpoints, shredding plans and the views
    (f"{_PKG}.sources.client", "JobcanApiClient", (
        "fetch_basic_data", "fetch_form_outline", "fetch_form_detail",
    ), "sources.fetch"),
    (f"{_PKG}.pipeline", "JobcanPipeline", ("_archive",), "bronze.archive"),
    (f"{_PKG}.state", "Checkpoint", ("save",), "state.checkpoint"),
    (f"{_PKG}.operators.shred", None, (
        "parse_request_documents", "shred_request_documents",
    ), "shred.plan"),
    (f"{_PKG}.operators.entities", None, ("parse_entities",), "shred.plan"),
    (f"{_PKG}.views", None, ("register_views",), "views.register"),
]


class LayerTracer:
    """Per-layer calls and self time, thread-aware.

    Self time is a span's duration minus the part covered by wrapped
    calls nested inside it on the same thread.  Re-entrant calls into
    the same layer (``merge_upsert`` calling ``overwrite``) count once,
    at the outermost call.  Store roots are recorded from every
    ``TableStore`` constructed while installed, so the benchmark can
    measure what the store leaves on disk.
    """

    def __init__(self) -> None:
        self.calls: dict[str, int] = defaultdict(int)
        self.self_s: dict[str, float] = defaultdict(float)
        self.store_roots: list[Path] = []
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # -- install / uninstall -------------------------------------------------

    def install(self) -> None:
        import importlib

        for mod_name, cls_name, names, layer in LAYERS:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, cls_name) if cls_name else mod
            for name in names:
                orig = owner.__dict__.get(name) if cls_name else getattr(mod, name, None)
                if orig is None:
                    continue
                wrapped = self.wrap(orig, layer)
                self._set(owner, name, orig, wrapped)
                if cls_name is None:
                    # modules that bound the function at import time
                    for other in list(sys.modules.values()):
                        if (
                            other is not mod
                            and getattr(other, "__name__", "").startswith(_PKG)
                            and getattr(other, name, None) is orig
                        ):
                            self._set(other, name, orig, wrapped)
        from jobcan_data_integrator_spark.storage import TableStore

        orig_init = TableStore.__init__
        tracer = self

        @functools.wraps(orig_init)
        def init(store, *a, **k):
            orig_init(store, *a, **k)
            tracer.store_roots.append(Path(store.root))

        self._set(TableStore, "__init__", orig_init, init)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patched):
            setattr(owner, name, orig)
        self._patched.clear()

    def _set(self, owner, name, orig, new) -> None:
        self._patched.append((owner, name, orig))
        setattr(owner, name, new)

    def wrap(self, fn, layer: str):
        """``fn`` with its calls and self time counted under ``layer``."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **k):
            t_in = time.perf_counter()
            tls = tracer._tls
            stack = getattr(tls, "stack", None)
            if stack is None:
                stack = tls.stack = []
            if any(frame[0] == layer for frame in stack):
                with tracer._lock:
                    tracer.overhead_s += time.perf_counter() - t_in
                return fn(*a, **k)
            frame = [layer, 0.0]  # [layer, time covered by child spans]
            stack.append(frame)
            t0 = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                t1 = time.perf_counter()
                dur = t1 - t0
                stack.pop()
                if stack:
                    stack[-1][1] += dur
                with tracer._lock:
                    tracer.calls[layer] += 1
                    tracer.self_s[layer] += dur - frame[1]
                    tracer.overhead_s += (t0 - t_in) + (time.perf_counter() - t1)

        return wrapper

    def snapshot(self) -> dict[str, tuple[int, float]]:
        with self._lock:
            return {k: (self.calls[k], self.self_s[k]) for k in self.calls}


def tree_files(roots) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every regular file under ``roots``."""
    out: dict[str, tuple[int, int]] = {}
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def union_length(spans: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkHarvester:
    """Reads the status store for the jobs launched since the last call."""

    STAGE_FIELDS = (
        "executorRunTime", "executorCpuTime", "inputBytes", "shuffleReadBytes",
        "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
    )

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        known = self.sc.statusTracker().getJobIdsForGroup()
        self.next_job = (max(known) + 1) if known else 0
        self.seen_stages: set[int] = set()
        self.harvest_s = 0.0

    def harvest(self, t0: float, t1: float) -> dict:
        """Aggregate the new jobs; ``t0``/``t1`` are the operation's
        wall-clock bounds (``time.time()``), used for the driver gap."""
        h0 = time.perf_counter()
        ids = sorted(
            j for j in self.sc.statusTracker().getJobIdsForGroup() if j >= self.next_job
        )
        top = max(ids) if ids else self.next_job - 1
        dropped = (top - self.next_job + 1) - len(ids)
        agg = {k: 0 for k in ("jobs", "stages", "tasks", *self.STAGE_FIELDS)}
        spans: list[tuple[float, float]] = []
        for jid in ids:
            job = self.store.job(jid)
            agg["jobs"] += 1
            sub, done = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if sub is not None:
                spans.append((sub / 1000.0, (done if done is not None else sub) / 1000.0))
            stage_ids = job.stageIds().mkString(",")
            for sid in (int(s) for s in stage_ids.split(",") if s):
                if sid in self.seen_stages:
                    continue
                self.seen_stages.add(sid)
                st = self.store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                agg["stages"] += 1
                agg["tasks"] += st.numTasks()
                for f in self.STAGE_FIELDS:
                    agg[f] += getattr(st, f)()
        self.next_job = top + 1
        # clip job spans to the operation window, so that job_span_s plus
        # driver_gap_s is exactly the operation's time
        clipped = [(max(s, t0), min(e, t1)) for s, e in spans if min(e, t1) > max(s, t0)]
        span_s = union_length(clipped)
        out = {
            "spark.jobs": agg["jobs"],
            "spark.stages": agg["stages"],
            "spark.tasks": agg["tasks"],
            "spark.dropped_jobs": dropped,
            "spark.executor_run_s": agg["executorRunTime"] / 1000.0,
            "spark.executor_cpu_s": agg["executorCpuTime"] / 1e9,
            "spark.input_bytes": agg["inputBytes"],
            "spark.shuffle_read_bytes": agg["shuffleReadBytes"],
            "spark.shuffle_write_bytes": agg["shuffleWriteBytes"],
            "spark.spill_bytes": agg["memoryBytesSpilled"] + agg["diskBytesSpilled"],
            "spark.job_span_s": span_s,
            "driver_gap_s": max(0.0, (t1 - t0) - span_s),
        }
        self.harvest_s += time.perf_counter() - h0
        return out
