"""Correctness references computed apart from the engine.

``CdcReference`` applies the same change batches the engine receives, with
DuckDB, by pgsf's merge rules (query_poll_table.py:107-152 of the reference
implementation):

  - the last row per ``Id`` wins, by ``SystemModstamp`` and then file order;
  - any ``IsDeleted`` row in a batch deletes the key;
  - a later batch wins over an earlier one.

``read_replica`` reads the engine's published version with pyarrow, so the
comparison never goes through Spark. ``result_signature`` is the
order-insensitive row signature the analytics oracles are compared by.
"""

from __future__ import annotations

import hashlib
import json
import math

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

WATERMARK_FMT = "%Y-%m-%dT%H:%M:%SZ"  # the __sync row's second-truncated form


class CdcReference:
    def __init__(self, snapshot: pa.Table):
        self.schema = snapshot.schema
        self.table = snapshot
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")

    def apply(self, batch: pa.Table) -> None:
        b = batch.append_column("_pos", pa.array(range(batch.num_rows), pa.int64()))
        self.con.register("ref", self.table)
        self.con.register("b", b)
        out = self.con.execute(
            """
            WITH last AS (
              SELECT * EXCLUDE (_pos) FROM b
              QUALIFY row_number() OVER (
                PARTITION BY Id ORDER BY SystemModstamp DESC, _pos DESC) = 1),
            dead AS (SELECT DISTINCT Id FROM b WHERE IsDeleted)
            SELECT * FROM ref ANTI JOIN (SELECT DISTINCT Id FROM b) USING (Id)
            UNION ALL
            SELECT * FROM last ANTI JOIN dead USING (Id)
            """
        ).arrow()
        self.con.unregister("ref")
        self.con.unregister("b")
        self.table = out.cast(self.schema)

    def max_ts(self):
        return pc.max(self.table["SystemModstamp"]).as_py()

    def query(self, sql: str) -> list[tuple]:
        self.con.register("ref", self.table)
        try:
            return sorted(self.con.execute(sql).fetchall())
        finally:
            self.con.unregister("ref")


def read_replica(version_dir: str, schema: pa.Schema) -> pa.Table:
    """The published version's rows, read with pyarrow (hive bucket dirs)."""
    t = ds.dataset(version_dir, format="parquet", partitioning="hive").to_table()
    return t.select(schema.names).cast(schema)


def replica_mismatch(replica: pa.Table, ref: pa.Table) -> str | None:
    """None when the replica equals the reference as a set of rows with
    unique ``Id``; otherwise what differs."""
    if replica.num_rows != ref.num_rows:
        return f"row count {replica.num_rows} != reference {ref.num_rows}"
    if pc.count_distinct(replica["Id"]).as_py() != replica.num_rows:
        return "duplicate Id in replica"
    a = replica.sort_by("Id")
    b = ref.sort_by("Id")
    if not a.equals(b):
        bad = [c for c in a.column_names if not a[c].equals(b[c])]
        return f"rows differ in columns {bad}"
    return None


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def result_signature(cols: list[str], rows) -> dict:
    """Column-sorted, row-sorted, normalized result -> count + sha256."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    srows = sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)
    blob = json.dumps([[cols[i] for i in order], srows]).encode()
    return {
        "columns": sorted(cols),
        "rows": len(srows),
        "sha256": hashlib.sha256(blob).hexdigest(),
    }


def tables_digest(tables: dict[str, pa.Table]) -> str:
    """Digest of generated tables' contents (not of parquet file bytes)."""
    h = hashlib.sha256()
    for name, t in sorted(tables.items()):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
        h.update(name.encode())
        h.update(sink.getvalue())
    return h.hexdigest()
