"""Seeded inputs: the corpus table plus the numeric and struct columns
that give the integer, timestamp, decimal and nested code paths work.

The same (rows, seed) always yields the same Arrow table and the same
parquet bytes; ``table_sha256`` fingerprints the table for the
self-test.
"""

from __future__ import annotations

import hashlib
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# first commit timestamp of every repo (2020-09-13T12:26:40Z), in µs
T0_US = 1_600_000_000 * 1_000_000
ROW_GROUP_ROWS = 2048  # small row groups so Spark's scan parallelizes


def build_table(n_rows: int, seed: int) -> pa.Table:
    """``corpus.generate(n, seed, with_nullable=True)`` extended with

    * ``n_bytes``      int32 — UTF-8 byte length of ``content``;
    * ``committed_at`` timestamp[us, UTC] — monotone within each repo;
    * ``cost``         decimal(12,2), ~3% null;
    * ``meta``         struct<n_bytes, committed_at>, ~8% null.
    """
    import pyarrow.compute as pc

    from boltspark import corpus

    t = corpus.generate(n_rows, seed, with_nullable=True)
    rng = np.random.default_rng([seed, 0xB0175])
    n_bytes = pc.binary_length(t.column("content").cast(pa.binary()))
    n_bytes = n_bytes.combine_chunks().cast(pa.int32())

    # per-row positive steps, accumulated within each repo in row order
    repo_codes = np.asarray(
        t.column("repo").combine_chunks().dictionary_encode().indices)
    steps = rng.integers(1, 86_400, n_rows).astype(np.int64) * 1_000_000
    order = np.lexsort((np.arange(n_rows), repo_codes))
    ts = np.empty(n_rows, np.int64)
    run = np.cumsum(steps[order])
    grp = repo_codes[order]
    starts = np.r_[0, np.nonzero(np.diff(grp))[0] + 1]
    base = np.repeat(np.r_[0, run[starts[1:] - 1]], np.diff(np.r_[starts, n_rows]))
    ts[order] = T0_US + run - base
    committed_at = pa.array(ts, pa.timestamp("us", tz="UTC"))

    unscaled = rng.integers(0, 10**9, n_rows)
    cost_null = rng.random(n_rows) < 0.03
    cost = pa.array([None if z else Decimal(int(u)).scaleb(-2)
                     for u, z in zip(unscaled, cost_null)],
                    pa.decimal128(12, 2))

    meta_null = rng.random(n_rows) < 0.08
    meta = pa.StructArray.from_arrays(
        [n_bytes, committed_at], names=["n_bytes", "committed_at"],
        mask=pa.array(meta_null))
    return (t.append_column("n_bytes", n_bytes)
            .append_column("committed_at", committed_at)
            .append_column("cost", cost)
            .append_column("meta", meta))


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=ROW_GROUP_ROWS)


def table_sha256(table: pa.Table) -> str:
    """Fingerprint of the table's Arrow IPC stream bytes."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue()).hexdigest()


def raw_bytes(table: pa.Table) -> int:
    """Uncompressed size: the Arrow in-memory bytes of every column."""
    return int(table.nbytes)
