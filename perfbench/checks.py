"""Output checks: per-row sha256 multisets, DuckDB answers over the
source parquet, and the corrupt-block probe.

Every comparison goes through Arrow on both sides and normalizes the
same way: timestamps to epoch microseconds, decimals to their exact
decimal string, floats to 9 significant digits, structs to tuples.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc


def row_hashes(df, columns: list[str]) -> list[str]:
    """Sorted per-row sha256 over all ``columns`` (JVM-side, from a
    canonical JSON rendering of the row), i.e. the row multiset."""
    from pyspark.sql import functions as F

    h = F.sha2(F.to_json(F.struct(*[F.col(c) for c in columns])), 256)
    return sorted(df.select(h.alias("h")).toArrow().column("h").to_pylist())


def _norm_array(a: pa.Array) -> pa.Array:
    t = a.type
    if pa.types.is_timestamp(t):
        return a.cast(pa.timestamp("us", tz=t.tz)).cast(pa.int64())
    if pa.types.is_decimal(t):
        return a.cast(pa.string())
    if pa.types.is_floating(t):
        return pa.array([None if v is None else float(f"{v:.9g}")
                         for v in a.to_pylist()], pa.float64())
    if pa.types.is_integer(t):
        return a.cast(pa.int64())
    if pa.types.is_large_string(t):
        return a.cast(pa.string())
    if pa.types.is_struct(t):
        kids = [_norm_array(pc.struct_field(a, [i])) for i in range(t.num_fields)]
        return pa.StructArray.from_arrays(
            kids, names=[t.field(i).name for i in range(t.num_fields)],
            mask=a.is_null() if a.null_count else None)
    return a


def _tuple(v):
    if isinstance(v, dict):
        return tuple(_tuple(x) for x in v.values())
    return v


def rows(table: pa.Table) -> list[tuple]:
    """Sorted, normalized row tuples (column names are ignored)."""
    cols = [_norm_array(c.combine_chunks()) for c in table.columns]
    out = [tuple(_tuple(c[i].as_py()) for c in cols)
           for i in range(table.num_rows)]
    return sorted(out, key=repr)


class Oracle:
    """DuckDB over the generated source parquet (plus a part-id map
    computed with Spark's builtin hash, which DuckDB lacks)."""

    def __init__(self, src_parquet: str, work: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{work}/duckdb.tmp'")
        self.con.execute("SET threads=1")
        self.con.execute("SET TimeZone='UTC'")
        self.con.execute(
            f"CREATE VIEW src AS SELECT * FROM read_parquet('{src_parquet}')")

    def set_part_ids(self, spark, src_parquet: str, key_cols, n_parts: int):
        """part_id = pmod(xxhash64(key), n_parts) — the engine's on-disk
        partitioning contract, evaluated by Spark's own hash function."""
        from pyspark.sql import functions as F

        pids = (spark.read.parquet(src_parquet)
                .select(*key_cols, F.pmod(F.xxhash64(*key_cols),
                                          F.lit(n_parts)).alias("part_id"))
                .distinct().toArrow())
        self.con.register("pid_arrow", pids)
        self.con.execute("CREATE OR REPLACE TABLE pid AS SELECT * FROM pid_arrow")
        self.con.unregister("pid_arrow")

    def query(self, sql: str, params=None) -> pa.Table:
        return self.con.execute(sql, params or []).arrow()

    def rows(self, sql: str, params=None) -> list[tuple]:
        return rows(self.query(sql, params))

    def scalar(self, sql: str, params=None):
        return self.con.execute(sql, params or []).fetchone()[0]

    def close(self):
        self.con.close()


def corrupt_block_raises(blocks_path: str, column: str) -> bool:
    """Flip one bit in the payload of one stored block of ``column``;
    decoding it must raise CorruptBlockError (never return data)."""
    import glob
    import os

    import pyarrow.parquet as pq

    from boltspark.kernels import block
    from boltspark.kernels.varint import CorruptBlockError

    f = sorted(glob.glob(os.path.join(blocks_path, "*.parquet")))[0]
    cols = pq.read_table(f, columns=["cols"]).column("cols").combine_chunks()
    buf = bytearray(cols.field(column).field("block")[0].as_py())
    block.decode_block(bytes(buf))  # the intact block decodes
    buf[len(buf) // 2] ^= 0x10
    try:
        block.decode_block(bytes(buf))
    except CorruptBlockError:
        return True
    return False


def blocks_fingerprint(blocks_path: str) -> str:
    """sha256 over every stored block payload, ordered by (part_id, seq,
    column): the encoded data itself, without the timings and run ids
    the blocks and manifest files also carry."""
    import glob
    import hashlib
    import os

    import pyarrow.parquet as pq

    items = []
    for f in glob.glob(os.path.join(blocks_path, "*.parquet")):
        t = pq.read_table(f, columns=["part_id", "seq", "cols"])
        for part, seq, cols in zip(t.column("part_id").to_pylist(),
                                   t.column("seq").to_pylist(),
                                   t.column("cols").to_pylist()):
            for name, leaf in cols.items():
                if leaf is not None:
                    items.append((part, seq, name, leaf["block"]))
    h = hashlib.sha256()
    for part, seq, name, blob in sorted(items):
        h.update(f"{part}/{seq}/{name}/{len(blob)}".encode())
        h.update(blob)
    return h.hexdigest()
