"""Distributed decode: blocks parquet + manifest -> original DataFrame.

The read path mirrors the reference's scan semantics, but the wide
blocks layout (schema.py) lets parquet itself do the pruning work:

* column pruning — only the requested columns' ``cols.<name>.block``
  struct leaves are selected, so the parquet scan's ReadSchema (and the
  bytes read) shrink to exactly the projection (the analog of
  ``columns_to_read`` in local_file_reader.rs:33-51);
* predicate pushdown — the filter column's zone-map stats are checked
  FIRST: a ``none`` verdict skips the group and an ``all`` verdict
  skips decoding the predicate column entirely, both without touching
  payload bytes (the reference defines check_range but never wires it —
  we do, including byte-prefix zones the reference lacks).  Dictionary
  blocks evaluate the predicate once per distinct value then map over
  codes (dictionary_page_int32_with_filters.rs:97-177), and surviving
  masks gate the remaining columns exactly like the RowRangeSet cascade
  in row_group_reader.rs:204-258;
* point queries — ``part_ids`` pushes a parquet filter that prunes row
  groups on part_id min/max stats (tasks write sorted part ids), the
  analog of ``skip()`` hopping row groups from footer arithmetic
  (local_file_reader.rs:126-171);
* no shuffle, ever — each blocks row is a self-contained block group,
  so decode is embarrassingly parallel over scan splits and peak memory
  is one block group per task.

This module owns the ONE read path: ``resolve_predicates`` (dotted
struct-leaf paths), ``scan_blocks`` (the blocks scan), ``block_groups``
(the per-group cascade) and ``decode_group`` (output leaves).
``decode_table`` uses all four; the aggregates (agg.py) reduce the
groups instead of decoding them, ``stats.explain_scan`` reads a
stats-only scan, and the DSv2 reader (sources/datasource.py) feeds its
pyarrow file batches through ``block_groups`` + ``decode_group``.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa

from ..kernels import block as blockmod
from ..kernels import bitpack, dictionary, lists, strings
from . import manifest as manifestmod
from .memutil import trimmed
from .filters import ALL, NONE, Predicate, pred_columns
from .schema import PART_ID, read_blocks as schema_read_blocks

_FIXED_STRUCT = {
    "boolean": pa.bool_(), "integer": pa.int32(), "long": pa.int64(),
    "float": pa.float32(), "double": pa.float64(),
}


def arrow_out_type(t, tz: str = "UTC") -> pa.DataType:
    """Spark DataType -> the Arrow type decode emits for it."""
    name = t.typeName()
    if name == "decimal":
        return pa.decimal128(t.precision, t.scale)
    if name == "array":
        return pa.list_(arrow_out_type(t.elementType, tz))
    if name == "map":
        return pa.map_(arrow_out_type(t.keyType, tz),
                       arrow_out_type(t.valueType, tz))
    if name == "struct":
        return pa.struct([pa.field(f.name, arrow_out_type(f.dataType, tz), True)
                          for f in t.fields])
    return {
        "string": pa.string(), "binary": pa.binary(),
        "timestamp": pa.timestamp("us", tz=tz),
        "timestamp_ntz": pa.timestamp("us"),
        "date": pa.date32(),
        **{k: v for k, v in _FIXED_STRUCT.items()},
    }[name]


def _scatter_bytes(dense: strings.StringColumn, validity: np.ndarray) -> pa.Array:
    """Dense byte rows + validity -> nullable Arrow array (nulls are
    0-length, data blob unchanged)."""
    n = len(validity)
    lens = np.zeros(n, dtype=np.int64)
    lens[validity] = dense.lengths()
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    return pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), n,
        [
            pa.py_buffer(bitpack.pack_bools(validity)),
            pa.py_buffer(offsets),
            pa.py_buffer(dense.data),
        ],
    )


def _list_to_arrow(col: lists.ListColumn, validity: np.ndarray | None,
                   elem_type: pa.DataType) -> pa.Array:
    """Dense ListColumn (+ optional validity) -> Arrow large_list array.
    Null rows are zero-length (offset repeats), flagged via the validity
    bitmap; null ELEMENTS scatter back from the element-validity bitmap
    — the rep/def-level reconstruction of nested data."""
    if hasattr(col.values, "offsets"):  # lbytes: StringColumn elements
        if col.elem_validity is not None:
            values = _scatter_bytes(col.values, col.elem_validity)
        else:
            values = strings.to_arrow(col.values)
        if not values.type.equals(elem_type):
            values = values.cast(elem_type)
    elif col.elem_validity is not None:
        full = blockmod.scatter_nulls_fixed(np.asarray(col.values),
                                            col.elem_validity)
        values = pa.array(full, mask=~col.elem_validity)
    else:
        values = pa.array(col.values)
    if validity is None:
        offsets = np.ascontiguousarray(col.offsets)
        bufs = [None, pa.py_buffer(offsets)]
        n = len(col)
    else:
        n = len(validity)
        lens = np.zeros(n, dtype=np.int64)
        lens[validity] = col.lengths()
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens, out=offsets[1:])
        bufs = [pa.py_buffer(bitpack.pack_bools(validity)), pa.py_buffer(offsets)]
    return pa.Array.from_buffers(
        pa.large_list(pa.field("element", elem_type, True)), n, bufs,
        children=[values])


def _decimal_from_i64(values: np.ndarray, validity: np.ndarray | None,
                      target: pa.DataType) -> pa.Array:
    """Unscaled int storage -> decimal128(p, s) via the 16-byte
    two's-complement layout.  Storage is either 1-D int64 (p <= 18: low
    word only, high word is sign extension) or (n, 2) int64 (lo, hi)
    word pairs (tag "d128", 18 < p <= 38)."""
    dense = np.asarray(values, dtype=np.int64)
    if dense.ndim == 2:  # d128 word pairs: already the full 16 bytes
        if validity is not None:
            full = np.zeros((len(validity), 2), dtype=np.int64)
            full[validity] = dense
            pairs = full
        else:
            pairs = np.ascontiguousarray(dense)
        n = len(pairs)
    else:
        full = (blockmod.scatter_nulls_fixed(dense, validity)
                if validity is not None else dense)
        n = len(full)
        pairs = np.empty((n, 2), dtype=np.int64)
        pairs[:, 0] = full
        pairs[:, 1] = full >> 63  # 0 / -1 sign extension
    vbuf = None if validity is None else pa.py_buffer(bitpack.pack_bools(validity))
    return pa.Array.from_buffers(target, n, [vbuf, pa.py_buffer(pairs.tobytes())])


def _to_arrow_full(values, validity, tag: str, target: pa.DataType | None = None) -> pa.Array:
    if tag == "bytes":
        if validity is None:
            return strings.to_arrow(values)
        return _scatter_bytes(values, validity)
    if tag in lists.LIST_TAGS:
        if target is not None and (pa.types.is_list(target)
                                   or pa.types.is_large_list(target)):
            elem = target.value_type
        elif hasattr(values.values, "offsets"):  # lbytes without target
            elem = pa.large_binary()
        else:
            elem = pa.from_numpy_dtype(values.values.dtype)
        return _list_to_arrow(values, validity, elem)
    if target is not None and pa.types.is_decimal(target):
        return _decimal_from_i64(values, validity, target)
    if validity is None:
        return pa.array(values)
    full = blockmod.scatter_nulls_fixed(np.asarray(values), validity)
    return pa.array(full, mask=~validity)


def _decode_mask(blk, stats: dict, predicate: Predicate):
    """Predicate column fast path -> (verdict, mask).

    Zone-map stats (a typed struct row, see schema._STATS_ARROW) answer
    without touching payload bytes whenever they can — ``all``/``none``
    return BEFORE the block is even opened (the reference's uncovered
    pages are never decompressed, primitive_column_reader.rs:515-521).
    Dictionary blocks evaluate the predicate once per distinct value and
    map over codes."""
    zone = predicate.check_zone(stats)
    if zone == NONE:
        return "none", None
    if zone == ALL:
        return "all", None
    payload, validity, meta, tag, codec, n_rows = blockmod.open_block(blk)
    if tag == "d128" and not getattr(predicate, "supports_d128", False):
        raise NotImplementedError(
            "this predicate cannot evaluate decimal(p>18) word pairs — "
            "use Decimal128RangePredicate (unscaled int bounds), filter "
            "after decode, or store at precision <= 18")
    n_valid = int(validity.sum()) if validity is not None else n_rows
    if codec == "dict":
        uniques, codes = dictionary.decode_parts(payload, meta, n_valid, tag)
        mask = predicate.dict_mask(uniques, codes, validity)
    else:
        values = blockmod.decode_values(payload, meta, n_valid, tag, codec)
        mask = predicate.mask(values, validity)
    if mask.all():
        return "all", None
    if not mask.any():
        return "none", None
    return "some", mask


def eval_group_predicate(pred, blk_of, st_of, i):
    """One predicate over one block group -> (verdict, mask).

    ``blk_of(col, i)`` returns the column's block scalar (None or an
    invalid scalar = column absent from this group's run — schema
    evolution) and ``st_of(col, i)`` its zone-stats dict.  Leaves go
    through ``_decode_mask`` (zone short-circuits, dictionary fast
    path); composite predicates (OrPredicate/AndPredicate) recurse per
    child so every leaf KEEPS those short-circuits — an OR still skips
    a whole group unopened when each child's zone says 'none', and
    accepts it outright the moment one child says 'all'."""
    kids = getattr(pred, "children", None)
    if kids is not None:
        if pred.combine == "or":
            union = None
            for ch in kids:
                v, m = eval_group_predicate(ch, blk_of, st_of, i)
                if v == "all":
                    return "all", None
                if v == "none":
                    continue
                union = m if union is None else (union | m)
            if union is None:
                return "none", None
            if union.all():
                return "all", None
            return "some", union
        inter = None
        for ch in kids:
            v, m = eval_group_predicate(ch, blk_of, st_of, i)
            if v == "none":
                return "none", None
            if v == "all":
                continue
            inter = m if inter is None else (inter & m)
            if not inter.any():
                return "none", None
        if inter is None:
            return "all", None
        return "some", inter
    s = blk_of(pred.column, i)
    if s is None or not s.is_valid:
        # column absent from this group's run (schema evolution): the
        # whole column is null here
        return ("all", None) if pred.null_allowed else ("none", None)
    return _decode_mask(s.as_py(), st_of(pred.column, i), pred)


def resolve_predicates(meta: dict, predicate) -> list[Predicate]:
    """``predicate`` (None, one, or a list ANDed as a cascade) -> a list
    whose every leaf names a flat encoded column.  A dotted struct-leaf
    path ('meta.width') maps to its flat leaf name (engine/nest.py); a
    column that is neither raises KeyError.  The one resolver of every
    read path, so decode, the aggregates, explain_scan and the DSv2
    reader accept exactly the same predicates."""
    from . import nest
    from .filters import replace_predicate

    predicates = ([] if predicate is None
                  else list(predicate) if isinstance(predicate, list)
                  else [predicate])
    if not predicates:
        return []
    flat = set(meta["columns"])
    logical = logical_schema(meta)

    def leaf(p):
        if p.column in flat:
            return p
        c = nest.resolve_leaf(p.column, logical)
        if c is None or c not in flat:
            raise KeyError(f"unknown column {p.column}; encoded: "
                           f"{meta['columns']}")
        return replace_predicate(p, column=c)

    return [p.map_leaves(leaf) for p in predicates]


def logical_schema(meta: dict):
    """The table's logical (pre-flattening) Spark schema."""
    from pyspark.sql import types as T

    return T.StructType.fromJson(json.loads(
        meta.get("logical_schema_json") or meta["schema_json"]))


def scan_blocks(spark, blocks_path: str, manifest_path: str, meta: dict,
                columns: list[str], predicates: list[Predicate], *,
                part_ids: list[int] | None = None,
                run_ids: list[str] | None = None,
                seq_range: tuple[int, int] | None = None,
                seq: bool = False, stats_only: bool = False):
    """The one blocks scan of every Spark read path: part_id, run_id,
    n_rows (+ ``seq``), one ``__blk_<c>`` block leaf per column of
    ``columns`` and of the (resolved) predicates, and one ``__st_<c>``
    stats leaf per predicate column.  The parquet ReadSchema prunes to
    exactly these leaves — the other columns' bytes are never read.

    The schema comes from the manifest's merged column list: appended
    runs may have added columns (schema evolution), and groups from
    older runs read null struct leaves — the semantics of a mergeSchema
    footer sweep without its per-call job.  ``part_ids`` / ``run_ids`` /
    ``seq_range`` are scan-level filters (pruning shows in PushedFilters
    and skips row groups and files on min/max stats; tasks write groups
    in seq order).  The JVM zone prefilter then drops groups that
    provably cannot match a predicate (numeric range or byte min/max-
    prefix bounds) before their block bytes cross into Python, which
    re-checks every zone that remains; null stats conservatively pass.
    The broadcast join keeps only the manifest's valid (part_id,
    run_id) pairs.  ``stats_only`` (explain_scan) projects no block
    leaf and keeps every group: a report must see what a read skips."""
    from pyspark.sql import functions as F

    for c in columns:
        if c not in meta["columns"]:
            raise KeyError(f"unknown column {c}; encoded: {meta['columns']}")
    pcols = pred_columns(predicates)
    leaf = lambda c, f: F.col("cols").getField(c).getField(f)  # noqa: E731
    proj = [F.col(PART_ID), F.col("run_id"), F.col("n_rows")]
    if seq:
        proj.append(F.col("seq"))
    if not stats_only:
        proj += [leaf(c, "block").alias(f"__blk_{c}")
                 for c in [*columns, *(c for c in pcols if c not in columns)]]
    proj += [leaf(c, "stats").alias(f"__st_{c}") for c in pcols]
    blocks = schema_read_blocks(spark, blocks_path, meta["columns"])
    valid = manifestmod.valid_pairs_df(spark, manifest_path)
    if part_ids is not None:
        ids = [int(p) for p in part_ids]
        blocks = blocks.filter(F.col(PART_ID).isin(ids))
        valid = valid.filter(F.col(PART_ID).isin(ids))
    if run_ids is not None:
        blocks = blocks.filter(F.col("run_id").isin(list(run_ids)))
        valid = valid.filter(F.col("run_id").isin(list(run_ids)))
    if seq_range is not None:
        blocks = blocks.filter((F.col("seq") >= int(seq_range[0]))
                               & (F.col("seq") <= int(seq_range[1])))
    blocks = blocks.select(*proj)
    if not stats_only:
        for p in predicates:
            keep = p.jvm_zone_keep_cols(lambda c: F.col(f"__st_{c}"))
            if keep is not None:
                blocks = blocks.filter(keep)
    return blocks.join(F.broadcast(valid), [PART_ID, "run_id"], "inner")


def block_groups(batches, predicates: list[Predicate], columns: list[str],
                 row_window: tuple[int, int, dict] | None = None):
    """The one per-group cascade over ``scan_blocks`` batches -> one
    (part_id, n_rows, mask, {column: block bytes | None}) per block
    group some row of which survives.  ``mask`` is None when every row
    survives and a bool row mask otherwise; a None block is a column
    the group's run predates (schema evolution: all of it is NULL).

    The predicates narrow the mask in turn, and an empty mask drops the
    group before any other column opens — the RowRangeSet cascade of
    row_group_reader.rs:204-258.  Composite predicates (OR across
    columns, NOT) evaluate through ``eval_group_predicate``, so their
    leaves keep the zone and dictionary fast paths.

    ``row_window`` = (start, end, {(part_id, run_id, seq) -> global row
    offset of the group}) is decode's positional slice (the reference
    positions INSIDE a row group after skipping whole ones,
    row_group_reader.rs:188-198): groups outside it are dropped and
    boundary groups start from a mask of the overlapping rows."""
    pcols = pred_columns(predicates)
    for batch in batches:
        get = dict(zip(batch.schema.names, batch.columns))
        pids, grows = get[PART_ID], get["n_rows"]
        blks = {c: get[f"__blk_{c}"] for c in columns}
        blk_cols = {c: get[f"__blk_{c}"] for c in pcols}
        st_cols = {c: get[f"__st_{c}"] for c in pcols}
        blk_of = lambda c, j: blk_cols[c][j]  # noqa: E731
        st_of = lambda c, j: st_cols[c][j].as_py()  # noqa: E731
        for i in range(batch.num_rows):
            n_rows = grows[i].as_py()
            mask = None
            if row_window is not None:
                start, end, offsets = row_window
                goff = offsets.get((pids[i].as_py(), get["run_id"][i].as_py(),
                                    get["seq"][i].as_py()))
                if goff is None:
                    continue  # group outside the slice (orphan/pruned)
                lo, hi = max(start - goff, 0), min(end - goff, n_rows)
                if hi <= lo:
                    continue
                if lo > 0 or hi < n_rows:  # boundary group: partial rows
                    mask = np.zeros(n_rows, dtype=bool)
                    mask[lo:hi] = True
            for pred in predicates:
                verdict, pmask = eval_group_predicate(pred, blk_of, st_of, i)
                if verdict == "none":
                    mask = False
                    break
                if pmask is not None:
                    mask = pmask if mask is None else (mask & pmask)
                    if not mask.any():
                        mask = False
                        break
            if mask is False:
                continue
            yield (pids[i].as_py(), n_rows, mask,
                   {c: (b[i].as_py() if b[i].is_valid else None)
                    for c, b in blks.items()})


def decode_group(blks: dict, mask, n_rows: int,
                 targets: list[tuple[str, pa.DataType]]) -> list[pa.Array]:
    """One surviving block group's output leaves -> one Arrow array per
    (leaf, Arrow type) of ``targets``.  A None block (a column the
    group's run predates) reads back as nulls.  Late materialization:
    when under a quarter of the rows survive the cascade, only those
    rows of each column decode (fsst random access, dict code gather,
    byte-slice gather) instead of decode-all + filter."""
    late = mask is not None and int(mask.sum()) * 4 < len(mask)
    arrays = []
    for name, target in targets:
        blk = blks[name]
        if blk is None:
            arr = pa.nulls(n_rows if mask is None else int(mask.sum()), target)
        elif late:
            values, validity, tag, _, _ = blockmod.decode_block_rows(blk, mask)
            arr = _to_arrow_full(values, validity, tag, target)
        else:
            values, validity, tag, _, _ = blockmod.decode_block(blk)
            arr = _to_arrow_full(values, validity, tag, target)
            if mask is not None:
                arr = arr.filter(pa.array(mask))
        if not arr.type.equals(target):
            arr = arr.cast(target)
        arrays.append(arr)
    return arrays


def _make_decoder(targets: list[tuple[str, pa.DataType]],
                  predicates: list[Predicate], include_part_id: bool,
                  row_window: tuple[int, int, dict] | None = None):
    """Row-independent decoder: every input row is one complete block
    group (all columns), so there is no regrouping state at all."""
    fields = [pa.field(name, t, True) for name, t in targets]
    if include_part_id:
        fields.append(pa.field(PART_ID, pa.int64(), False))
    schema = pa.schema(fields)

    def decode_stream(batches):
        for part_id, n_rows, mask, blks in block_groups(
                batches, predicates, [c for c, _t in targets], row_window):
            arrays = decode_group(blks, mask, n_rows, targets)
            if arrays and len(arrays[0]) == 0:
                continue
            if include_part_id:
                arrays.append(pa.array(np.full(len(arrays[0]), part_id,
                                               np.int64)))
            yield pa.RecordBatch.from_arrays(arrays, schema=schema)

    return decode_stream


def decode_table(
    spark,
    blocks_path: str,
    manifest_path: str,
    columns: list[str] | None = None,
    predicate: Predicate | list[Predicate] | None = None,
    include_part_id: bool = False,
    n_tasks: int | None = None,
    part_ids: list[int] | None = None,
    run_ids: list[str] | None = None,
    seq_range: tuple[int, int] | None = None,
    row_range: tuple[int, int] | None = None,
):
    """Reconstruct the encoded table (or a projected, filtered slice).

    ``predicate`` may be a list: predicates are ANDed as a cascade —
    each filter column decodes in turn and narrows the surviving mask,
    short-circuiting the rest of the block group when it empties (the
    reference's multi-column read_with_filter cascade, SURVEY.md §3.2).

    ``part_ids`` is the point-query path: only the named partitions'
    blocks are ever read (parquet predicate pushdown on part_id prunes
    whole row groups — the analog of the reference's skip() hopping row
    groups from footer arithmetic, local_file_reader.rs:126-171).

    ``seq_range=(lo, hi)`` additionally prunes block groups by their
    inclusive seq interval (pushed to the parquet scan).  ``row_range=
    (start, end)`` is the positional point query: rows [start, end) in
    GLOBAL encode order — partitions ordered by part_id, rows within a
    partition in append order.  With one ``part_ids`` entry this is the
    classic mid-partition slice; without (or with several) the slice
    spans partition boundaries, resolved from per-partition row-count
    prefix sums so only OVERLAPPING partitions are ever scanned (two
    tiny metadata jobs; whole groups outside the slice are pruned by a
    pushed seq filter — the analog of positioning inside a row group
    after skipping whole ones, row_group_reader.rs:188-198).  "Append
    order" across runs means manifest COMMIT order (the monotonic
    run_seq each commit records), so positions are stable append
    positions even though run ids themselves are random hex.

    The wide blocks layout makes every row a complete block group, so
    decode needs NO shuffle; ``n_tasks`` optionally repartitions for
    parallelism when the blocks dataset has too few scan splits.
    """
    from pyspark.sql import functions as F, types as T

    from . import nest

    meta = manifestmod.table_meta(spark, manifest_path)
    logical_by_name = {f.name: f for f in logical_schema(meta).fields}
    out_logical = list(columns or logical_by_name)
    unknown = set(out_logical) - set(logical_by_name)
    if unknown:
        # column resolution by name, unknown -> error (row_group_reader.rs:107-113)
        raise KeyError(f"unknown columns {unknown}; encoded: "
                       f"{list(logical_by_name)}")
    # expand struct columns to their encoded leaves (engine/nest.py)
    out_cols = []
    for c in out_logical:
        f = logical_by_name[c]
        out_cols += nest.leaf_names(c, f.dataType, f.nullable)
    predicates = resolve_predicates(meta, predicate)

    schema = T.StructType.fromJson(json.loads(meta["schema_json"]))
    field_by_name = {f.name: f for f in schema.fields}
    tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
    targets = [(c, arrow_out_type(field_by_name[c].dataType, tz))
               for c in out_cols]
    out_fields = [T.StructField(c, field_by_name[c].dataType, True)
                  for c in out_cols]
    if include_part_id:
        out_fields.append(T.StructField(PART_ID, T.LongType(), False))
    out_schema = T.StructType(out_fields)

    row_window = None
    if row_range is not None:
        start, end = int(row_range[0]), int(row_range[1])
        if end <= start:
            raise ValueError(f"empty row_range {row_range}")
        # Global row positions: partitions ordered by part_id, rows
        # within a partition in APPEND order (manifest commit order
        # run_seq, then seq).  With one part_id this is the classic
        # mid-partition point query; with several (or none = the whole
        # table) the slice spans partition boundaries.  Two tiny
        # metadata jobs keep the driver footprint scale-safe:
        #   1. per-partition row totals (n_parts rows) -> prefix sums
        #      pick the partitions OVERLAPPING [start, end);
        #   2. group offsets are computed from ONLY those partitions'
        #      group metadata (seq/n_rows leaves, part_id pruned) —
        #      never the whole table's group list.
        # With run_ids the offsets are RUN-RELATIVE (positions among
        # the named runs' rows), matching the scan filter below.
        gmeta = scan_blocks(spark, blocks_path, manifest_path, meta, [], [],
                            part_ids=part_ids, run_ids=run_ids, seq=True,
                            stats_only=True)
        per_part = (gmeta.groupBy(PART_ID)
                    .agg(F.sum("n_rows").alias("p_rows"))
                    .orderBy(PART_ID).collect())
        overlap = {}  # part_id -> global offset of its first row
        goff = 0
        for r in per_part:
            p0, pr = int(r[PART_ID]), int(r["p_rows"])
            if goff < end and goff + pr > start:
                overlap[p0] = goff
            goff += pr
        offsets = {}
        seqs_hit = []
        if overlap:
            groups = gmeta.filter(
                F.col(PART_ID).isin(list(overlap))).collect()
            # append order across runs: manifest commit order (run_seq),
            # falling back to lexicographic run_id for pre-round-4 runs
            order = manifestmod.run_order(spark, manifest_path)
            cursor = dict.fromkeys(overlap, 0)
            for r in sorted(groups, key=lambda r: (
                    int(r[PART_ID]),
                    order.get(r["run_id"], (0, 0, r["run_id"])),
                    r["seq"])):
                p0 = int(r[PART_ID])
                g = overlap[p0] + cursor[p0]
                if g < end and g + r["n_rows"] > start:
                    offsets[(p0, r["run_id"], r["seq"])] = g
                    seqs_hit.append(int(r["seq"]))
                cursor[p0] += r["n_rows"]
        row_window = (start, end, offsets)
        # prune the scan to the overlapping partitions only
        part_ids = sorted(overlap) if overlap else [-1]
        if seqs_hit and seq_range is None:
            # pushed seq interval prunes non-overlapping groups at scan
            seq_range = (min(seqs_hit), max(seqs_hit))

    blocks = scan_blocks(spark, blocks_path, manifest_path, meta, out_cols,
                         predicates, part_ids=part_ids, run_ids=run_ids,
                         seq_range=seq_range, seq=row_window is not None)
    if n_tasks:
        blocks = blocks.repartition(n_tasks)
    decoded = blocks.mapInArrow(
        trimmed(_make_decoder(targets, predicates, include_part_id,
                              row_window)),
        out_schema,
    )
    if any(nest.needs_flatten(logical_by_name[c].dataType)
           for c in out_logical):
        # reassemble struct/map/list<struct> columns from their leaves —
        # pure JVM expressions, no Python node, no shuffle
        sel = [
            nest.rebuild_expr(c, logical_by_name[c].dataType,
                              logical_by_name[c].nullable).alias(c)
            for c in out_logical
        ]
        if include_part_id:
            sel.append(F.col(PART_ID))
        decoded = decoded.select(*sel)
    return decoded
