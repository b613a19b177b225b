"""Output checks against independent references, done in DuckDB.

``compare`` is order-insensitive: column names must match as a set and
the rows must match as a multiset (``EXCEPT ALL`` both ways), after the
normalisation ``tests/test_gate_oracle.py`` applies (decimals as
doubles, timestamps as naive UTC).  Nothing is collected into Python
tuples, so large outputs stay in Arrow/DuckDB memory.

``OracleCache`` runs a reference query once and keeps its result as a
parquet file keyed by a hash of the SQL text, the input digest and the
seed: editing the SQL (or the generated inputs) invalidates the entry.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def _normalise(table: pa.Table) -> pa.Table:
    cols = []
    for field, col in zip(table.schema, table.columns):
        t = field.type
        if pa.types.is_timestamp(t) and t.tz is not None:
            col = pc.cast(col, pa.timestamp(t.unit))
        elif pa.types.is_decimal(t):
            col = pc.cast(col, pa.float64())
        cols.append(col)
    return pa.table(cols, names=table.column_names)


def compare(actual: pa.Table, expected: pa.Table) -> str | None:
    """``None`` when equal, else a one-line description of the difference."""
    a_cols, e_cols = sorted(actual.column_names), sorted(expected.column_names)
    if a_cols != e_cols:
        return f"columns differ: {a_cols} vs {e_cols}"
    if actual.num_rows != expected.num_rows:
        return f"row counts differ: {actual.num_rows} vs {expected.num_rows}"
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.register("act", _normalise(actual))
        con.register("exp", _normalise(expected))
        cols = ", ".join(f'"{c}"' for c in a_cols)
        extra = con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM act EXCEPT ALL SELECT {cols} FROM exp)"
        ).fetchone()[0]
        missing = con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM exp EXCEPT ALL SELECT {cols} FROM act)"
        ).fetchone()[0]
    finally:
        con.close()
    if extra or missing:
        return f"{extra} unexpected and {missing} missing rows"
    return None


def file_digest(paths) -> str:
    h = hashlib.sha256()
    for p in sorted(Path(p) for p in paths):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()


class OracleCache:
    """Reference results on disk, computed once per (SQL, inputs, seed)."""

    def __init__(self, directory: Path) -> None:
        self.dir = directory
        self.dir.mkdir(parents=True, exist_ok=True)
        self.hits = 0
        self.misses = 0

    def key(self, sql: str, input_digest: str, seed: int) -> str:
        h = hashlib.sha256()
        for part in (sql, input_digest, str(seed)):
            h.update(part.encode())
            h.update(b"\0")
        return h.hexdigest()

    def get(self, sql: str, input_digest: str, seed: int, run) -> pa.Table:
        """Cached result of ``run(sql)`` (a callable returning Arrow)."""
        path = self.dir / f"{self.key(sql, input_digest, seed)}.parquet"
        if path.exists():
            self.hits += 1
            return pq.read_table(path)
        self.misses += 1
        table = run(sql)
        tmp = path.with_suffix(".tmp")
        pq.write_table(table, tmp)
        tmp.replace(path)
        return table


def duck_over(tables: dict[str, Path | pa.Table]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with each input as a view (parquet file) or a
    registered Arrow table."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for name, src in tables.items():
        if isinstance(src, pa.Table):
            con.register(name, src)
        else:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con
