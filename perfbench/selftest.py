"""Self-tests of the benchmark's own machinery.

Run from the repository root with either

    python3 perfbench/selftest.py
    python3 -m pytest -q perfbench/selftest.py

They prove that the output checks can fail (a corrupted row of a gate
output, of a curation-store probe, of a silver table and of a gold
view is reported), that inputs are a pure function of the seed, that editing a
reference query's SQL recomputes its cached result, and that
``BENCHMARK.json`` lists exactly the metrics a run prints.
"""

from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc

ROOT = Path(__file__).resolve().parents[1]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import gen  # noqa: E402
from perfbench.checks import OracleCache, compare, duck_over  # noqa: E402

SCRATCH = ROOT / ".perfbench" / f"selftest-{os.getpid()}"


def _corruptions(table: pa.Table, column: str) -> dict[str, pa.Table]:
    """One-row corruptions of ``table``: a changed value in ``column``,
    a dropped row and a duplicated row."""
    col = table.column(column)
    first = col[0].as_py()
    if isinstance(first, str):
        changed = first + " x"
    elif isinstance(first, float):
        changed = first + 0.5
    else:
        changed = first + 1
    values = col.to_pylist()
    values[0] = changed
    edited = table.set_column(
        table.column_names.index(column), column, pa.array(values, col.type)
    )
    return {
        "value": edited,
        "dropped": table.slice(1),
        "duplicated": pa.concat_tables([table.slice(1), table.slice(1, 1)]),
    }


def _assert_detects(reference: pa.Table, actual: pa.Table, column: str) -> None:
    assert compare(actual, reference) is None, "clean output must pass"
    for kind, bad in _corruptions(actual, column).items():
        assert compare(bad, reference) is not None, f"{kind} corruption not detected"
    renamed = actual.rename_columns([c + "_x" if c == column else c for c in actual.column_names])
    assert compare(renamed, reference) is not None, "column rename not detected"


def test_output_corruption_is_detected():
    """Real Spark outputs equal their references, and a one-row
    corruption of any of them does not: three gate outputs (one of them
    probes a curation store), a silver table of the one-shot shred and
    a gold view rendered over it."""
    from perfbench.run import configure_env, new_session, shutdown
    from perfbench.workloads import Sync

    work = SCRATCH / "spark"
    configure_env(work, trace=False)
    spark = new_session()
    try:
        data = work / "input"
        gen.write_analytics_tables(data, seed=3)
        from jobcan_data_integrator_spark.gate import REGISTRY, _ensure_loaded

        _ensure_loaded()
        con = duck_over({p.stem: p for p in data.glob("*.parquet")})
        for name, column in (("q1_pricing_summary", "sum_qty"),
                             ("rt_bm25_topk", "score_micro"),
                             ("ig_contamination", "n_hit")):
            got = REGISTRY[name].spark(spark, str(data)).toArrow()
            _assert_detects(con.execute(REGISTRY[name].oracle).arrow(), got, column)
        con.close()

        wl = Sync(3, OracleCache(work / "cache"))
        wl.generate(work / "sync")
        wl.attach(spark, work / "sync")
        wl.prepare_oracles()
        silver = wl._one_shot()
        requests = wl.expected["requests"]
        assert requests.num_rows == gen.SYNC_DOCS
        _assert_detects(requests, silver["requests"].toArrow(), "title")
        from jobcan_data_integrator_spark import views

        views.register_views(spark, silver)
        view = wl.expected["view:view_request_details"]
        assert view.num_rows > 0
        got = spark.table("view_request_details").toArrow()
        _assert_detects(view, got, got.column_names[0])
    finally:
        shutdown(spark)
        shutil.rmtree(SCRATCH, ignore_errors=True)


def test_inputs_are_a_function_of_the_seed():
    a, b, c = SCRATCH / "a", SCRATCH / "b", SCRATCH / "c"
    try:
        for seed, out in ((5, a), (5, b), (6, c)):
            gen.write_analytics_tables(out / "analytics", seed)
            gen.write_sync_inputs(out / "sync", seed)
        for f in sorted(a.rglob("*.*")):
            assert f.read_bytes() == (b / f.relative_to(a)).read_bytes(), f.name
        differing = [f.name for f in a.rglob("*.*")
                     if f.read_bytes() != (c / f.relative_to(a)).read_bytes()]
        assert {"documents.parquet", "lineitem.parquet", "documents.jsonl"} <= set(differing)
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)


def test_editing_oracle_sql_recomputes():
    runs = []

    def run(sql):
        runs.append(sql)
        return pa.table({"x": [len(runs)]})

    cache = OracleCache(SCRATCH / "cache")
    try:
        sql = "SELECT 1 AS x"
        first = cache.get(sql, "digest", 7, run)
        assert cache.get(sql, "digest", 7, run) == first and len(runs) == 1
        edited = cache.get(sql + " -- edited", "digest", 7, run)
        assert len(runs) == 2 and edited != first
        cache.get(sql, "other-inputs", 7, run)
        cache.get(sql, "digest", 8, run)
        assert len(runs) == 4, "inputs and seed must be part of the key"
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)


def test_compare_is_order_insensitive_and_type_tolerant():
    t = pa.table({"a": pa.array([1, 2, 2], pa.int32()), "b": ["x", "y", "y"]})
    shuffled = pa.table({"b": ["y", "x", "y"], "a": pa.array([2, 1, 2], pa.int64())})
    assert compare(shuffled, t) is None
    assert compare(t.slice(0, 2), t) is not None
    assert compare(t.filter(pc.field("a") != 1), t) is not None


def test_benchmark_json_lists_the_printed_metrics():
    import json

    from perfbench.run import LAYER_DETAILS, LAYER_SUMS, op_time_metrics

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == ["analytics", "sync"]
    assert {m["name"] for m in spec["end_to_end"]} == {"setup_s", "wall_s"}
    printed = (set(LAYER_SUMS) | set(LAYER_DETAILS) | set(op_time_metrics())
               | {"storage.bytes_live", "traced_wall_s", "peak_rss_mb", "check_s",
                  "trace_harvest_s", "trace_overhead_frac", "failed_frac"})
    listed = [m["name"] for m in spec["per_layer"]]
    assert len(listed) == len(set(listed)) and set(listed) == printed


def main() -> int:
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    failed = 0
    for t in tests:
        try:
            t()
            print(f"ok   {t.__name__}")
        except Exception as exc:  # report every test, then fail the run
            failed += 1
            print(f"FAIL {t.__name__}: {type(exc).__name__}: {exc}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
