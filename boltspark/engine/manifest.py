"""Checkpoint manifest: per-partition lineage, codec choices, metrics.

The footer analog (parquet_footer.rs loads FileMetaData before any
data is touched; decode here loads the manifest before any block is
touched).  One parquet row per (partition, column) plus a per-run
table-meta row carrying the original Spark schema JSON.  Resume =
``completed_partitions_df`` anti-join (the reference's skip,
local_file_reader.rs:126-171, hops row groups from footer arithmetic
alone — we hop partitions from the manifest alone).

Nothing per-partition ever rides through the driver: the commit
aggregation is written by Spark directly from the blocks metadata
leaves (the wide layout means the binary payload chunks are never
read), and decode consumes the valid (part_id, run_id) pairs as a
broadcast-joined DataFrame.  At 100 TB / 64 MB partitions that keeps
an ~8 M-row bookkeeping table off the driver heap; only the single
table-meta row and scalar counts are ever collected.
"""

from __future__ import annotations

import json
import logging
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from .schema import PART_ID

META_KEY = "__table_meta__"

_MANIFEST_SCHEMA = (
    "part_id long, run_id string, column string, n_rows long, "
    "raw_bytes long, enc_bytes long, enc_ms double, n_blocks long, "
    "codec string, outer string, table_meta string"
)


def _exists(spark: SparkSession, path: str) -> bool:
    local = _local_dir(path, spark)
    if local is not None:
        import os as _os

        # listdir, not glob: the path may contain glob metacharacters
        try:
            names = _os.listdir(local)
        except OSError:
            return False
        return any(n.endswith(".parquet") and not n.startswith(("_", "."))
                   for n in names)
    try:
        spark.read.parquet(path).limit(1).collect()
        return True
    except Exception:
        return False


def run_exists(spark: SparkSession, manifest_path: str, run_id: str) -> bool:
    """True if this run id already committed (idempotent epoch replay).
    Every commit appends exactly one META row (commit() is the single
    manifest writer), so run membership reads from the tiny META rows —
    driver-side for local manifests, no Spark job."""
    if not _exists(spark, manifest_path):
        return False
    return any(rid == run_id for rid, _ in _meta_rows(spark, manifest_path))


def completed_partitions_df(spark: SparkSession,
                            manifest_path: str) -> DataFrame | None:
    """Distinct completed part_ids as a DataFrame (None if no manifest).
    Consumed via broadcast anti-join — never collected."""
    if not _exists(spark, manifest_path):
        return None
    return (
        spark.read.parquet(manifest_path)
        .filter(F.col("column") != META_KEY)
        .select(PART_ID).distinct()
    )


def commit(
    spark: SparkSession,
    blocks_path: str,
    manifest_path: str,
    *,
    run_id: str,
    columns: list[str],
    key_cols: tuple[str, ...],
    n_parts: int,
    schema_json: str,
    logical_schema_json: str | None = None,
) -> dict:
    """Aggregate this run's blocks into manifest rows and append them.

    The aggregation is written by Spark end to end: the blocks scan
    reads only the metadata leaves of the wide layout (nested schema
    pruning — no ``block`` chunk is ever touched), melts the per-column
    structs into (partition, column) rows, aggregates, and appends.
    Only the two byte totals are collected (two scalars).
    """
    melt = F.explode(F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col("cols").getField(c).getField("raw_bytes").alias("raw_bytes"),
            F.col("cols").getField(c).getField("enc_bytes").alias("enc_bytes"),
            F.col("cols").getField(c).getField("enc_ms").alias("enc_ms"),
            F.col("cols").getField(c).getField("codec").alias("codec"),
            F.col("cols").getField(c).getField("outer").alias("outer"),
        )
        for c in columns
    ])).alias("m")
    from .schema import read_blocks

    agg = (
        # schema from THIS run's column list (read_blocks): other runs'
        # files may carry different column sets, but their rows are
        # filtered out by run_id and missing structs read as null
        read_blocks(spark, blocks_path, columns)
        .filter(F.col("run_id") == run_id)
        .select(PART_ID, "run_id", "n_rows", melt)
        .select(PART_ID, "run_id", "n_rows", "m.*")
        .groupBy(PART_ID, "run_id", "column")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
            F.sum("enc_ms").alias("enc_ms"),
            F.count(F.lit(1)).alias("n_blocks"),
            F.first("codec").alias("codec"),
            F.first("outer").alias("outer"),
        )
        .withColumn("table_meta", F.lit(None).cast("string"))
    )
    # monotonic commit sequence: row_range point queries order a
    # partition's groups by (run commit order, seq) so "encode order"
    # means APPEND order across runs, not lexicographic run_id order
    # (run ids default to random uuid hex).  Rides inside the table-meta
    # JSON — the manifest parquet schema is unchanged, so existing
    # checkpoints stay readable (absent run_seq = pre-round-4 run,
    # ordered first, lexicographically).  SINGLE-WRITER assumption: the
    # read-max/+1 below is not atomic, so two appends committing
    # CONCURRENTLY can share a run_seq — their relative order then falls
    # back to run_id tie-break (deterministic, but not append order).
    # Serialize appends to a table when positional row_range semantics
    # across those runs matter; this matches the streaming path, which
    # commits epochs strictly in sequence.
    run_seq = 0
    if _exists(spark, manifest_path):
        seqs = [json.loads(tm).get("run_seq")
                for _, tm in _meta_rows(spark, manifest_path)]
        run_seq = 1 + max((int(s) for s in seqs if s is not None), default=-1)
    meta = json.dumps({
        "columns": columns, "key_cols": list(key_cols), "n_parts": n_parts,
        "schema_json": schema_json,
        # logical (pre-flatten) schema when struct columns were encoded;
        # None/absent means storage schema IS the logical schema
        "logical_schema_json": logical_schema_json,
        "run_seq": run_seq,
    })
    meta_row = spark.createDataFrame(
        [(-1, run_id, META_KEY, 0, 0, 0, 0.0, 0, "", "", meta)],
        _MANIFEST_SCHEMA,
    )
    # persist the (tiny, one row per partition-column) aggregate so the
    # byte totals fold from the cached rows instead of re-scanning the
    # just-written manifest — one fewer job + parquet read per commit
    agg = agg.persist()
    try:
        agg.unionByName(meta_row).write.mode("append").parquet(manifest_path)
        totals = agg.agg(F.sum("raw_bytes").alias("r"),
                         F.sum("enc_bytes").alias("e")).collect()[0]
    finally:
        agg.unpersist()
    return {"raw_bytes": int(totals["r"] or 0), "enc_bytes": int(totals["e"] or 0)}


_INT_RANK = {"integer": 1, "long": 2}
_FLT_RANK = {"float": 1, "double": 2}
_DEC_RE = re.compile(r"^decimal\((\d+),(\d+)\)$")


def _widen_type(a, b):
    """Lossless merge of two primitive type names, or None when the
    pair is incompatible: int -> bigint and float -> double widen (in
    either append order), decimals widen in PRECISION at the SAME
    scale.  Everything else — incl. any int<->float cross, decimal
    scale changes, and all nested types — must match exactly: decode
    casts narrower blocks to the merged type, and only these pairs
    cast without changing a single value."""
    if a == b:
        return a
    if not (isinstance(a, str) and isinstance(b, str)):
        return None
    if a in _INT_RANK and b in _INT_RANK:
        return a if _INT_RANK[a] >= _INT_RANK[b] else b
    if a in _FLT_RANK and b in _FLT_RANK:
        return a if _FLT_RANK[a] >= _FLT_RANK[b] else b
    da, db = _DEC_RE.match(a), _DEC_RE.match(b)
    if da and db and da.group(2) == db.group(2):
        return a if int(da.group(1)) >= int(db.group(1)) else b
    return None


def merge_metas(metas: list[dict]) -> dict:
    """Merge per-run table metas into one table view (schema evolution):
    columns = ordered union across runs (run order = sorted run ids for
    determinism), schema fields merged by name — numeric types WIDEN
    losslessly (int -> bigint, float -> double, decimal precision up at
    the same scale; decode casts older narrower blocks to the merged
    type), any other type change raises, a column missing from a run
    simply null-fills at decode.  n_parts must agree across runs
    (partition identity is sacred)."""
    if not metas:
        raise FileNotFoundError("no table meta rows")
    n_parts = {int(m["n_parts"]) for m in metas}
    if len(n_parts) != 1:
        raise ValueError(f"manifest mixes partition counts {sorted(n_parts)}; "
                         "appended runs must reuse the table's n_parts")
    columns: list[str] = []
    fields: dict[str, dict] = {}
    for m in metas:
        schema = json.loads(m["schema_json"])
        by_name = {f["name"]: f for f in schema["fields"]}
        for c in m["columns"]:
            f = by_name[c]
            if c not in fields:
                columns.append(c)
                fields[c] = f
            elif fields[c]["type"] != f["type"]:
                wide = _widen_type(fields[c]["type"], f["type"])
                if wide is None:
                    raise ValueError(
                        f"column {c!r} type conflict across runs: "
                        f"{fields[c]['type']} vs {f['type']}")
                fields[c] = dict(f if f["type"] == wide else fields[c])
    # merge the logical (pre-flatten) schemas the same way; a run without
    # one contributes its storage schema (they coincide for flat tables)
    lcolumns: list[str] = []
    lfields: dict[str, dict] = {}
    any_logical = False
    for m in metas:
        lj = m.get("logical_schema_json")
        any_logical = any_logical or bool(lj)
        lschema = json.loads(lj or m["schema_json"])
        for f in lschema["fields"]:
            c = f["name"]
            if c not in lfields:
                lcolumns.append(c)
                lfields[c] = f
            elif lfields[c]["type"] != f["type"]:
                wide = _widen_type(lfields[c]["type"], f["type"])
                if wide is None:
                    raise ValueError(
                        f"logical column {c!r} type conflict across runs: "
                        f"{lfields[c]['type']} vs {f['type']}")
                lfields[c] = dict(f if f["type"] == wide else lfields[c])
    return {
        "columns": columns,
        "key_cols": metas[0]["key_cols"],
        "n_parts": n_parts.pop(),
        "schema_json": json.dumps(
            {"type": "struct", "fields": [fields[c] for c in columns]}),
        "logical_schema_json": json.dumps(
            {"type": "struct", "fields": [lfields[c] for c in lcolumns]}
        ) if any_logical else None,
    }


def _default_fs_is_local(spark: SparkSession | None) -> bool:
    """True when scheme-less paths resolve to the driver's local disk.
    On a cluster with fs.defaultFS=hdfs://... a bare '/warehouse/t'
    path is HDFS — the driver-side fast path must NOT shadow it with a
    same-named local directory."""
    if spark is None:
        return True
    try:
        fs = (spark.sparkContext._jsc.hadoopConfiguration()
              .get("fs.defaultFS", "file:///"))
    except Exception:
        # no JVM conf reachable (e.g. Spark Connect): the default FS is
        # unknown, so fail closed onto the Spark read path
        return False
    return fs.startswith("file:")


def _local_dir(path: str, spark: SparkSession | None = None) -> str | None:
    """Local filesystem directory for ``path``, or None (remote/absent)."""
    import os

    p = path
    if p.startswith("file:"):
        p = "/" + p.split(":", 1)[1].lstrip("/")
    elif "://" in p:
        return None
    elif not _default_fs_is_local(spark):
        return None  # scheme-less path on a non-local default FS
    return p if os.path.isdir(p) else None


def _meta_rows(spark: SparkSession, manifest_path: str) -> list[tuple]:
    """(run_id, table_meta) for every META row — via a driver-side
    pyarrow read when the manifest is on the local filesystem (no Spark
    job: the META rows are one tiny row per commit, and every
    decode/aggregate pays this lookup), falling back to a Spark read
    for remote filesystems.  The pyarrow filter prunes row groups on
    the ``column`` statistics, so only META-bearing groups are read."""
    local = _local_dir(manifest_path, spark)
    if local is not None:
        import pyarrow as pa
        import pyarrow.dataset as pads

        try:
            ds = pads.dataset(local, format="parquet")
            t = ds.to_table(columns=["run_id", "table_meta"],
                            filter=pads.field("column") == META_KEY)
            return list(zip(t.column("run_id").to_pylist(),
                            t.column("table_meta").to_pylist()))
        except (OSError, pa.ArrowInvalid) as ex:
            # unreadable locally (permissions, odd layout): use Spark
            logging.getLogger("boltspark").warning(
                "manifest %s: local pyarrow read failed (%s); falling back "
                "to a Spark read", manifest_path, ex)
    rows = (
        spark.read.parquet(manifest_path)
        .filter(F.col("column") == META_KEY)
        .select("run_id", "table_meta").collect()
    )
    return [(r["run_id"], r["table_meta"]) for r in rows]


def table_meta(spark: SparkSession, manifest_path: str) -> dict:
    """Collect ONLY the table-meta rows (one per run) and merge them —
    appended runs may add columns (schema evolution)."""
    rows = _meta_rows(spark, manifest_path)
    if not rows:
        raise FileNotFoundError(f"no table meta in manifest at {manifest_path}")
    metas = [json.loads(tm) for _, tm in sorted(rows)]
    return merge_metas(metas)


def run_order(spark: SparkSession, manifest_path: str) -> dict[str, tuple]:
    """run_id -> sort key reflecting COMMIT order: the monotonic
    ``run_seq`` recorded in each run's table-meta (round 4+).  Runs from
    older manifests carry no run_seq and order FIRST, lexicographically
    — exactly the pre-round-4 behavior, so existing tables don't change
    meaning.  One tiny collect (one META row per run)."""
    out: dict[str, tuple] = {}
    for run_id, tm in _meta_rows(spark, manifest_path):
        seq = json.loads(tm).get("run_seq")
        out[run_id] = ((0, 0, run_id) if seq is None
                       else (1, int(seq), run_id))
    return out


def runs_as_of(spark: SparkSession, manifest_path: str,
               run_id: str) -> list[str]:
    """Time travel over the append-only commit log: all run ids
    committed AT OR BEFORE ``run_id`` in run_order (run_seq) terms —
    the run set that reconstructs the table as it stood right after
    that commit.  Pass the result as ``run_ids=`` to decode_table or
    any compressed-domain aggregate."""
    order = run_order(spark, manifest_path)
    if run_id not in order:
        raise KeyError(f"unknown run_id {run_id!r}; committed: "
                       f"{sorted(order)}")
    cut = order[run_id]
    return sorted(r for r, k in order.items() if k <= cut)


def valid_pairs_df(spark: SparkSession, manifest_path: str) -> DataFrame:
    """Distinct (part_id, run_id) pairs with a committed manifest entry —
    the broadcast join key that makes orphan blocks from crashed runs
    invisible to decode.  Stays a DataFrame; never collected."""
    return (
        spark.read.parquet(manifest_path)
        .filter(F.col("column") != META_KEY)
        .select(PART_ID, "run_id").distinct()
    )
