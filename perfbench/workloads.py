"""The benchmark workloads: inputs, reference results and timed operations.

A workload runs in phases that ``run.py`` times separately:

- ``generate`` writes the seeded inputs under a directory and ``attach``
  builds what the timed operations consume on a Spark session (together
  one set-up, part of ``setup_s``);
- ``prepare_oracles`` computes or loads every reference result from the
  generated inputs alone (outside ``setup_s`` and the timed region);
- ``ops`` lists the timed operations, in order.  Each returns the output
  its check inspects, or ``None`` when the operation's output is the
  store state, which the check then reads outside the timed region.
"""

from __future__ import annotations

import json
import shutil
import time
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import pyarrow as pa

from perfbench import gen
from perfbench.checks import OracleCache, compare, duck_over, file_digest


@dataclass
class Op:
    name: str
    kind: str  # "gate", "sync", "views" or "view"
    run: Callable[[], object]
    check: Callable[[object], str | None]


#: the analytics gates, run in registry order: five the open roadmap
#: items name (BM25 index lifetime and hybrid fusion, inverted scaling,
#: the mapInPandas floor), TPC-H Q1 (bench.py's HEADLINE aggregation),
#: dd_simhash (the most CPU-bound gate on a 4-core host) and
#: ``ig_contamination``, which ingests into a fresh curation store
#: through every index family (exact, span, MinHash, cluster) and then
#: probes the span index.
ANALYTICS_GATES = frozenset({
    "rt_bm25_topk", "rt_hybrid_rrf", "tx_corpus_filter", "mm_resize",
    "q1_pricing_summary", "dd_simhash",
    "ig_contamination",
})


class Analytics:
    """Registry gates (``ANALYTICS_GATES``) over seeded star-schema,
    event, document and embedding tables, each result collected with
    ``toArrow()`` and compared with the gate's DuckDB oracle."""

    name = "analytics"

    def __init__(self, seed: int, cache: OracleCache) -> None:
        self.seed, self.cache = seed, cache
        from jobcan_data_integrator_spark.gate import REGISTRY, _ensure_loaded

        _ensure_loaded()
        self.gates = [q for n, q in REGISTRY.items() if n in ANALYTICS_GATES]
        missing = ANALYTICS_GATES - set(REGISTRY)
        if missing:
            raise LookupError(f"gates not in the registry: {sorted(missing)}")
        self.expected: dict[str, pa.Table] = {}

    def generate(self, work: Path) -> dict:
        self.data = work / "analytics-input"
        shutil.rmtree(self.data, ignore_errors=True)
        gen.write_analytics_tables(self.data, self.seed)
        return {"tables": gen.ANALYTICS_SIZES, "gates": len(self.gates)}

    def attach(self, spark, work: Path) -> None:
        self.spark = spark

    def prepare_oracles(self) -> None:
        data = self.data
        digest = file_digest(data.glob("*.parquet"))
        con = duck_over({p.stem: p for p in data.glob("*.parquet")})
        try:
            for q in self.gates:
                self.expected[q.name] = self.cache.get(
                    q.oracle, digest, self.seed, lambda sql: con.execute(sql).arrow()
                )
        finally:
            con.close()

    def ops(self) -> list[Op]:
        self.spark.catalog.clearCache()
        sf_dir = str(self.data)
        out = []
        for q in self.gates:
            out.append(Op(
                name=q.name,
                kind="gate",
                run=lambda q=q: q.spark(self.spark, sf_dir).toArrow(),
                check=lambda got, n=q.name: compare(got, self.expected[n]),
            ))
        return out

    def details(self, records: list[dict]) -> dict:
        return {"gate_s": {f"gate.{r['op']}_s": r["s"] for r in records}}


class Sync:
    """The paper's ETL: seeded Jobcan request documents and basic
    entities served by ``MockJobcanApi`` (throttle off), one full
    ``JobcanPipeline`` sync into a fresh store, then ``register_views``
    and every gold view collected with ``toArrow()``."""

    name = "sync"

    def __init__(self, seed: int, cache: OracleCache) -> None:
        self.seed, self.cache = seed, cache
        self.expected: dict[str, pa.Table] = {}
        self.marks: list[tuple[str, float]] = []
        self.requests = self.pages = self.failures = 0

    def generate(self, work: Path) -> dict:
        inp = work / "sync-input"
        shutil.rmtree(inp, ignore_errors=True)
        self.docs, self.entities = gen.write_sync_inputs(inp, self.seed)
        self.inputs = sorted(inp.iterdir())
        self.input_bytes = sum(p.stat().st_size for p in self.inputs)
        return {"documents": len(self.docs),
                "entities": {k: len(v) for k, v in self.entities.items()}}

    def transport(self, path: str, params: dict) -> tuple[int, object]:
        """The client's transport: the mock API, counted."""
        status, body = self.api(path, params)
        self.requests += 1
        self.failures += status != 200
        self.pages += isinstance(body, dict) and "results" in body
        return status, body

    def attach(self, spark, work: Path) -> None:
        from jobcan_data_integrator_spark.pipeline import (
            BUCKETED_TABLES,
            PARTITIONED_TABLES,
            JobcanPipeline,
        )
        from jobcan_data_integrator_spark.sources.client import JobcanApiClient
        from jobcan_data_integrator_spark.sources.mock_api import MockJobcanApi
        from jobcan_data_integrator_spark.state import Checkpoint
        from jobcan_data_integrator_spark.storage import TableStore

        self.spark = spark
        self.root = work / "sync-store"
        self.store_roots = [self.root]
        shutil.rmtree(self.root, ignore_errors=True)
        self.api = MockJobcanApi(entities=self.entities, documents=self.docs)
        self.store = TableStore(spark, self.root / "tables", write_partitions=1,
                                partitioned=PARTITIONED_TABLES, bucketed=BUCKETED_TABLES)
        # the client calls through self.transport at call time, so the
        # tracer can swap in a timed wrapper after set-up
        self.pipeline = JobcanPipeline(
            spark,
            JobcanApiClient(lambda path, params: self.transport(path, params)),
            self.store,
            Checkpoint(self.root / "checkpoint"),
            now_fn=lambda: "2024/04/01 00:00:00",
            progress_callback=lambda api, *_: self.marks.append((api, time.perf_counter())),
        )

    def trace(self, tracer) -> None:
        self.transport = tracer.wrap(self.transport, "sources.transport")

    # -- references ----------------------------------------------------------

    def _one_shot(self) -> dict:
        """The silver tables as one shred of the upstream documents and
        entities (lazy frames)."""
        from jobcan_data_integrator_spark.operators.entities import (
            ENTITY_APIS,
            parse_entities,
        )
        from jobcan_data_integrator_spark.operators.shred import (
            parse_request_documents,
            shred_request_documents,
        )

        def raw(objs):
            return self.spark.createDataFrame(
                [(json.dumps(o, ensure_ascii=False),) for o in objs], "raw string"
            )

        tables = dict(shred_request_documents(parse_request_documents(raw(self.docs))))
        for api, (ddl, shred) in ENTITY_APIS.items():
            out = shred(parse_entities(raw(self.entities.get(api, [])), ddl))
            tables.update(out if isinstance(out, dict) else {api: out})
        return tables

    def prepare_oracles(self) -> None:
        """Silver references from the one-shot shred, cached; view
        references rendered in the DuckDB dialect over them."""
        from jobcan_data_integrator_spark import views as V

        digest, variant = file_digest(self.inputs), self.seed % gen.SYNC_VARIANTS
        shredded: dict = {}

        def one_shot():  # built only on a cache miss
            if not shredded:
                shredded.update(self._one_shot())
            return shredded

        names = self.cache.get(
            "one-shot shred: tables", digest, variant,
            lambda _key: pa.table({"name": sorted(one_shot())}),
        ).column("name").to_pylist()
        for name in names:
            self.expected[name] = self.cache.get(
                f"one-shot shred: {name}", digest, variant,
                lambda _key, n=name: one_shot()[n].toArrow(),
            )
        con = duck_over({n: t for n, t in self.expected.items()})
        try:
            for name, _ in V.VIEWS:
                sql = V.view_sql(name, V.DUCKDB)
                con.execute(f'CREATE VIEW "{name}" AS {sql}')
                self.expected[f"view:{name}"] = con.execute(f'SELECT * FROM "{name}"').arrow()
        finally:
            con.close()

    # -- timed operations ----------------------------------------------------

    def check_silver(self, summary) -> str | None:
        if summary.detail_failed:
            return f"detail fetch failed for {summary.detail_failed[:5]}"
        if summary.detail_fetched != len(self.docs):
            return f"fetched {summary.detail_fetched} of {len(self.docs)} documents"
        bad = []
        for name in sorted(n for n in self.expected if not n.startswith("view:")):
            got = self.store.read(name).toArrow()
            diff = compare(got, self.expected[name])
            if diff:
                bad.append(f"{name}: {diff}")
        return "; ".join(bad)[:300] or None

    def ops(self) -> list[Op]:
        from jobcan_data_integrator_spark import views as V

        silver = sorted(n for n in self.expected if not n.startswith("view:"))

        def register():
            V.register_views(self.spark, {n: self.store.read(n) for n in silver})

        def view(name):
            return lambda: self.spark.table(f"`{name}`").toArrow()

        out = [
            Op("full_sync", "sync", self.pipeline.run, self.check_silver),
            Op("register_views", "views", register, lambda _out: None),
        ]
        for name, fn in V.VIEWS:
            out.append(Op(
                view_metric(fn), "view", view(name),
                lambda got, n=name: compare(got, self.expected[f"view:{n}"]),
            ))
        return out

    def details(self, records: list[dict]) -> dict:
        """The sync figures: sync and view times, the per-phase split
        from the pipeline's progress callbacks, requests per sync and
        the store's bytes on disk over the served JSON bytes."""
        sync = next(r for r in records if r["op"] == "full_sync")
        views = [r["s"] for r in records if r["kind"] in ("views", "view")]
        firsts: dict[str, float] = {}
        for api, t in self.marks:
            phase = {"requests": "outline", "requests_detail": "detail"}.get(api, "basic")
            firsts.setdefault(phase, t)
        t0 = sync["t0"]
        t_outline = firsts.get("outline", t0 + sync["s"])
        t_detail = firsts.get("detail", t0 + sync["s"])
        store_bytes = sum(f.stat().st_size for f in self.root.rglob("*") if f.is_file())
        return {
            "full_sync_s": sync["s"],
            "views_s": sum(views),
            "pipeline.basic_s": t_outline - t0,
            "pipeline.outline_s": t_detail - t_outline,
            "pipeline.detail_s": t0 + sync["s"] - t_detail,
            "api_requests": self.requests,
            "api_pages": self.pages,
            "api_failures": self.failures,
            "space_amp": store_bytes / self.input_bytes,
        }


def view_metric(fn) -> str:
    """ASCII metric name of a view from its SQL function (``_view_csv4_1`` ->
    ``view.csv4_1``): the view names themselves are not ASCII."""
    return "view." + fn.__name__.removeprefix("_view_")

WORKLOADS = {w.name: w for w in (Analytics, Sync)}
