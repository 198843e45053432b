"""Compressed-domain aggregation: one aggregate core under every SUM /
COUNT / AVG / MIN / MAX / GROUP BY operator, computed from encoded
blocks WITHOUT materializing rows — optionally under a pushed predicate
(the full WHERE -> aggregate pipeline in one pass).

The reference stops at zone statistics (footer min/max,
parquet_metadata_thrift.rs:657); this module pushes whole aggregations
into the encoded domain, the classic "compute on compressed data" move
of column stores.  Aggregates read through the read path decode_table
shares (engine/decode.py): ``resolve_predicates`` maps dotted
struct-leaf predicate paths to flat leaves, ``scan_blocks`` projects
only the block leaves an aggregate needs (plus the stats leaf of every
predicate column), applies the JVM zone prefilter and broadcast-joins
the manifest's valid (part_id, run_id) pairs, and ``block_groups``
runs each group's predicate cascade once: zone maps answer all/none
without opening a block, groups where only SOME rows survive get a row
mask.

Over those groups ``_block_partial`` is the one per-block partial
kernel.  It takes 0..N GROUP BY dimensions (0 = a global aggregate; a
mixed-radix composite code for N >= 2) and computes, per value column,
the lanes count / valid count, int64 + double sum, exact unscaled
decimal sum (int64 low words and d128 word pairs) and typed min/max
(byte values by dictionary rank).  ``_fold`` is the one final
``groupBy(dims).agg(...)`` over its partial rows.

The compressed-domain shortcuts are cases inside that kernel, chosen
from each block's codec: without group dimensions ``rle`` blocks reduce
over (run_value, run_length) pairs (no ``np.repeat``) and ``dict``
blocks over (dictionary, code histogram); a lone GROUP BY column
(value_counts) counts its runs or its code histogram the same way.
Partially-surviving groups reduce a selective decode of only the
surviving rows.  Every other codec decodes and reduces INSIDE the task,
so one partial row per (block, group) crosses one small shuffle — at
100 TB a GROUP BY over a dictionary-coded flag moves n_blocks x
n_distinct tiny rows instead of n_rows values.

The public sum/count/avg/min/max/value_counts/distinct/grouped
operators are thin shapes over the core.  The sketch operators
(HyperLogLog distinct, quantile summaries, top-k) keep their own lanes
but iterate the same ``block_groups``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..kernels import block as blockmod
from ..kernels import dictionary, lists, strings
from . import manifest as manifestmod
from .decode import block_groups, resolve_predicates, scan_blocks
from .filters import Predicate
from .memutil import trimmed
from .schema import PART_ID


def _fields(meta: dict) -> dict:
    """Column name -> StructField of the table schema."""
    import json

    schema = T.StructType.fromJson(json.loads(meta["schema_json"]))
    return {f.name: f for f in schema.fields}


def _arrow_type(spark: SparkSession, dt) -> pa.DataType:
    from .decode import arrow_out_type

    return arrow_out_type(dt, spark.conf.get("spark.sql.session.timeZone",
                                             "UTC"))


def _is_bytes(dt) -> bool:
    return dt.typeName() in ("string", "binary")


def _require(tag, what: str, bytes_ok: bool = True, d128_ok: bool = False):
    """Refuse an aggregate over a physical tag it is not defined for."""
    if (tag in lists.LIST_TAGS or (tag == "bytes" and not bytes_ok)
            or (tag == "d128" and not d128_ok)):
        raise TypeError(f"{what} over tag {tag!r} is not defined")


def _open_dense(blk: bytes):
    """open_block + the n_valid arithmetic every aggregate needs."""
    payload, validity, meta, tag, codec, n_rows = blockmod.open_block(blk)
    n_valid = int(validity.sum()) if validity is not None else n_rows
    return payload, meta, tag, codec, n_rows, n_valid


def _n_sel(n_rows: int, mask) -> int:
    return n_rows if mask is None else int(mask.sum())


# ---------------------------------------------------------------------------
# the one partial kernel
# ---------------------------------------------------------------------------


def _group_codes(blk, n_rows: int, multiset: bool = False,
                 counted: bool = True):
    """One GROUP BY dimension of a block -> (uniques, codes, weights).

    Row-aligned (default): one code per row, null rows -1, weights None.
    Dict blocks hand their code stream over directly (the group strings
    are never materialized); everything else labels its decoded values.
    ``multiset=True`` (a lone dimension with nothing to align to) gives
    one code per distinct value weighted by its row count instead: rle
    blocks sum run lengths (no np.repeat), dict blocks bincount their
    codes, and the null rows ride as code -1 with their own weight.
    ``counted=False`` (DISTINCT: only which values occur matters) lets a
    multiset dict block hand over its dictionary without decoding the
    code stream — every entry occurs by construction — each weighted 1."""
    if blk is None:  # evolved column: every row is the NULL group
        return None, np.full(n_rows, -1, dtype=np.int64), None
    payload, validity, meta, tag, codec, n_rows = blockmod.open_block(blk)
    _require(tag, "group-by")
    n_valid = int(validity.sum()) if validity is not None else n_rows
    runs = None
    if codec == "dict" and multiset and not counted:
        uniques = dictionary.decode_dictionary(payload, meta, tag)
        codes = np.arange(len(uniques), dtype=np.int64)
    elif codec == "dict":
        uniques, codes = dictionary.decode_parts(payload, meta, n_valid, tag)
        codes = codes.astype(np.int64)
    elif codec == "rle":
        rv, runs = blockmod.decode_rle_runs(payload, meta, n_valid, tag)
        uniques, codes = np.unique(np.asarray(rv), return_inverse=True)
        runs = runs.astype(np.int64)
    else:
        values = blockmod.decode_values(payload, meta, n_valid, tag, codec)
        if tag == "bytes":
            # per-block unique order is irrelevant: the final fold
            # merges partials by value
            de = strings.to_arrow(values).dictionary_encode()
            uniques = strings.from_arrow(de.dictionary)
            codes = np.asarray(de.indices).astype(np.int64)
        else:
            uniques, codes = np.unique(np.asarray(values), return_inverse=True)
    if multiset:
        weights = np.bincount(codes, weights=runs,
                              minlength=len(uniques)).astype(np.int64)
        codes = np.arange(len(uniques), dtype=np.int64)
        if n_rows > n_valid:
            codes = np.append(codes, -1)
            weights = np.append(weights, n_rows - n_valid)
        return uniques, codes, weights
    if runs is not None:
        codes = np.repeat(codes, runs)
    if validity is None:
        return uniques, codes, None
    full = np.full(n_rows, -1, dtype=np.int64)
    full[validity] = codes
    return uniques, full, None


def _keys(uniques, slots: np.ndarray, out_t: pa.DataType,
          is_bytes: bool) -> pa.Array:
    """Typed group-key array for per-block slots (slot 0 = the NULL
    group, slot s = uniques[s - 1])."""
    base = pa.nulls(1, out_t)
    if uniques is not None and len(uniques):
        ua = (strings.to_arrow(uniques) if is_bytes
              else pa.array(np.asarray(uniques)))
        base = pa.concat_arrays([base, ua if ua.type.equals(out_t)
                                 else ua.cast(out_t)])
    return base.take(pa.array(np.asarray(slots, dtype=np.int64)))


def _group_ids(dims, n_rows: int, mask, multiset: bool = False,
               counted: bool = True):
    """Group ids of one block group's selected rows over 0..N dimensions
    ``dims`` = [(block, out_t, is_bytes)] -> (gid, n_groups, cnt, kept,
    keys): ``gid`` per selected row (None when there is no dimension:
    one global group), ``cnt`` rows per group id, ``kept`` the ascending
    ids of the groups present and ``keys`` one typed key array per
    dimension over ``kept``.  The composite id is mixed-radix over the
    per-block dictionaries (slot 0 = NULL); it is used directly as the
    bincount index while the radix product stays small (always for a
    multiset, whose codes are dense), and compacted through np.unique
    otherwise.  ``multiset``/``counted`` pass to ``_group_codes``."""
    if not dims:
        return None, 1, np.array([_n_sel(n_rows, mask)]), None, []
    coded = [_group_codes(b, n_rows, multiset, counted)
             for b, _t, _ib in dims]
    sizes = [(len(u) if u is not None else 0) + 1 for u, _c, _w in coded]
    radix = 1
    for s in sizes:  # python ints: no wraparound in the check
        radix *= s
    if radix >= 1 << 63:
        raise ValueError(
            "composite group code would overflow int64: per-block "
            f"dictionary sizes {sizes} multiply to {radix}; group by "
            "fewer/lower-cardinality columns or use smaller blocks")
    comp = coded[0][1] + 1
    for s, (_u, codes, _w) in zip(sizes[1:], coded[1:]):
        comp = comp * s + (codes + 1)
    if mask is not None:
        comp = comp[mask]
    # a multiset's codes are already dense (0..U): always direct, so
    # its row-count weights are the counts
    if multiset or radix <= max(len(comp), 1 << 12):
        gid, n_groups = comp, radix
        cnt = np.bincount(gid, weights=coded[0][2], minlength=radix)
        kept = np.nonzero(cnt)[0]
        keys = kept
    else:
        keys, gid = np.unique(comp, return_inverse=True)
        n_groups = len(keys)
        cnt = np.bincount(gid, minlength=n_groups)
        kept = np.arange(n_groups)
    slots = []
    for s in reversed(sizes[1:]):
        slots.append(keys % s)
        keys = keys // s
    slots.append(keys)
    return (gid, n_groups, cnt.astype(np.int64), kept,
            [_keys(u, slot, t, ib) for (u, _c, _w), slot, (_b, t, ib)
             in zip(coded, reversed(slots), dims)])


def _value_ranks(payload, vmeta, nval: int, vtag: str, vcodec: str):
    """Dense value stream of one block -> (ranks, base, rank_to_idx)
    for order-based grouped reductions (grouped min/max, grouped_topk).
    Byte values rank through the dictionary — sorted dict blocks hand
    the code stream over AS the rank; other codecs rank each block
    distinct once via sort_indices — so strings never compare
    row-by-row.  ``base``/``rank_to_idx`` map a rank back to its value
    (``base.take(rank_to_idx[rank])``); numeric values rank as
    themselves (base=None)."""
    import pyarrow.compute as pc

    if vtag == "bytes":
        if vcodec == "dict":
            uv, vcodes = dictionary.decode_parts(payload, vmeta, nval, vtag)
            return (vcodes.astype(np.int64), strings.to_arrow(uv),
                    np.arange(len(uv), dtype=np.int64))
        vals = blockmod.decode_values(payload, vmeta, nval, vtag, vcodec)
        de = strings.to_arrow(vals).dictionary_encode()
        base = de.dictionary
        order0 = np.asarray(pc.sort_indices(base))
        rank_of = np.empty(len(base), np.int64)
        rank_of[order0] = np.arange(len(base))
        return (rank_of[np.asarray(de.indices).astype(np.int64)],
                base, order0.astype(np.int64))
    return (np.asarray(blockmod.decode_values(payload, vmeta, nval, vtag,
                                              vcodec)), None, None)


def _global_values(blk, n_rows: int, mask, need: bool):
    """A value column reduced as one group -> (values, weights, tag,
    n_valid, codec): the block's non-null values as a multiset.  rle
    blocks give (run values, run lengths) and dict blocks (dictionary,
    code histogram) — no row is materialized; a partial selection
    decodes only its surviving rows; ``need=False`` (COUNT) reads the
    validity bitmap alone, so it works for every tag."""
    if blk is None:  # evolved column: all NULL here
        return np.zeros(0, dtype=np.int64), None, None, 0, None
    if mask is not None and need:
        vals, _v, tag, codec, _n = blockmod.decode_block_rows(blk, mask)
        return vals, None, tag, len(vals), None
    payload, validity, meta, tag, codec, n_rows = blockmod.open_block(blk)
    if not need:
        if validity is None:
            return None, None, tag, _n_sel(n_rows, mask), codec
        return None, None, tag, int(
            (validity if mask is None else validity[mask]).sum()), codec
    n_valid = int(validity.sum()) if validity is not None else n_rows
    if codec == "rle":
        rv, rl = blockmod.decode_rle_runs(payload, meta, n_valid, tag)
        return np.asarray(rv), rl, tag, n_valid, codec
    if codec == "dict":
        uniques, codes = dictionary.decode_parts(payload, meta, n_valid, tag)
        return (uniques, np.bincount(codes, minlength=len(uniques)), tag,
                n_valid, codec)
    return (blockmod.decode_values(payload, meta, n_valid, tag, codec), None,
            tag, n_valid, codec)


def _aligned_values(blk, n_rows: int, mask, gid: np.ndarray, need: bool):
    """A value column aligned with the selected rows' group ids ->
    (values, gid of each non-null selected value, tag, ranked).  Byte
    values come as dictionary ranks with ``ranked`` = (base,
    rank_to_idx) to map them back (see ``_value_ranks``)."""
    if blk is None:  # evolved column: all NULL here
        return (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64),
                None, None)
    payload, validity, meta, tag, codec, n = blockmod.open_block(blk)
    rows = np.nonzero(mask)[0] if mask is not None else None
    if validity is None:
        ok, dense, n_valid = None, rows, n
    else:
        ok = validity if rows is None else validity[rows]
        n_valid = int(validity.sum())
        dense = None if rows is None else (np.cumsum(validity) - 1)[rows[ok]]
    gidv = gid if ok is None else gid[ok]
    if not need:
        return None, gidv, tag, None
    vals, base, rank_to_idx = _value_ranks(payload, meta, n_valid, tag, codec)
    if dense is not None:
        vals = vals[dense]
    return vals, gidv, tag, (None if base is None else (base, rank_to_idx))


def _total(v: np.ndarray, w) -> int | float:
    """Sum of one group's values (weighted by run/code counts)."""
    if v.dtype.kind == "f":
        return float(np.dot(v.astype(np.float64), w.astype(np.float64))
                     if w is not None else v.sum(dtype=np.float64))
    return int(np.dot(v.astype(np.int64), w.astype(np.int64))
               if w is not None else v.sum(dtype=np.int64))


def _sum_lane(vals, w, gidv, n_groups: int, tag):
    """-> (s_l int64, s_d float64, is_f) per group: exact int64 for
    integer storage, float64 for floats."""
    _require(tag, "sum", bytes_ok=False)
    v = np.asarray(vals)
    is_f = v.dtype.kind == "f"
    s_l = np.zeros(n_groups, dtype=np.int64)
    s_d = np.zeros(n_groups, dtype=np.float64)
    if gidv is None:
        (s_d if is_f else s_l)[0] = _total(v, w)
    elif is_f:
        s_d = np.bincount(gidv, weights=v, minlength=n_groups)
    else:
        np.add.at(s_l, gidv, v.astype(np.int64))
    return s_l, s_d, np.full(n_groups, is_f)


def _d128_ints(pairs: np.ndarray) -> np.ndarray:
    """(lo, hi) int64 word pairs -> exact Python ints hi*2^64 + lo_u."""
    return ((pairs[:, 1].astype(object) << 64)
            + pairs[:, 0].astype(np.uint64).astype(object))


def _dec_lane(vals, w, gidv, n_groups: int, tag) -> pa.Array:
    """Exact unscaled decimal sums per group as decimal(38,0): int64
    low words (p<=18) and d128 word pairs fold in arbitrary-precision
    Python ints (never round; overflow past 38 digits is loud at the
    Arrow boundary, never silent)."""
    _require(tag, "decimal sum", bytes_ok=False, d128_ok=True)
    v = np.asarray(vals)
    if gidv is None:
        if tag == "d128":
            total = ((int(v[:, 1].astype(object).sum()) << 64)
                     + int(v[:, 0].astype(np.uint64).astype(object).sum())
                     if len(v) else 0)
        else:
            total = int(_total(v, w))
        return _dec_arr([total], pa.decimal128(38, 0))
    s = np.zeros(n_groups, dtype=object)
    np.add.at(s, gidv, _d128_ints(v) if tag == "d128" else v.astype(object))
    return _dec_arr(s, pa.decimal128(38, 0))


def _d128_minmax(pairs: np.ndarray) -> tuple[int, int]:
    """(min, max) of (lo, hi) int64 word pairs as exact Python ints —
    signed-128 order = lexicographic (hi signed, lo unsigned)."""
    order = np.lexsort((pairs[:, 0].astype(np.uint64), pairs[:, 1]))
    ints = _d128_ints(pairs[[order[0], order[-1]]])
    return ints[0], ints[1]


def _dec_arr(unscaled_ints, out_t: pa.DataType) -> pa.Array:
    """Vector of unscaled ints (python ints / int64s, None allowed) ->
    arrow decimal array.  Per-element Decimal construction — callers
    only pass aggregate RESULTS (<= k per block / one per group), never
    row streams."""
    import decimal as dec

    return pa.array([None if x is None
                     else dec.Decimal(int(x)).scaleb(-out_t.scale)
                     for x in unscaled_ints], out_t)


def _minmax_lane(vals, gidv, n_groups: int, nv: np.ndarray, tag, codec,
                 ranked, out_t: pa.DataType, is_dec: bool):
    """Typed (min, max) arrays per group, value-exact (int64 beyond
    2^53, byte strings and decimals never round through float64).  One
    group: sorted dict blocks answer from the dictionary's head/tail,
    rle blocks reduce run values, d128 pairs by signed-128 order.
    Grouped: np.minimum/maximum.at over the values (byte values over
    their dictionary ranks)."""
    import pyarrow.compute as pc

    _require(tag, "min/max", d128_ok=gidv is None)
    got = nv > 0
    if gidv is None:
        if not len(vals):
            return pa.nulls(1, out_t), pa.nulls(1, out_t)
        if tag == "d128":
            lo, hi = _d128_minmax(np.asarray(vals))
        elif codec == "dict":  # sorted dictionary
            lo, hi = vals[0], vals[len(vals) - 1]
        elif tag == "bytes":
            mm = pc.min_max(strings.to_arrow(vals))
            lo, hi = mm["min"].as_py(), mm["max"].as_py()
        else:
            v = np.asarray(vals)
            lo, hi = v.min(), v.max()
        if is_dec:
            return _dec_arr([lo], out_t), _dec_arr([hi], out_t)
        if tag == "bytes":
            return (pa.array([lo]).cast(out_t), pa.array([hi]).cast(out_t))
        mins, maxs = np.asarray([lo]), np.asarray([hi])
    else:
        v = np.asarray(vals)
        if v.dtype.kind == "f":
            mins = np.full(n_groups, np.inf)
            maxs = np.full(n_groups, -np.inf)
        else:
            v = v.astype(np.int64)
            ii = np.iinfo(np.int64)
            mins = np.full(n_groups, ii.max, dtype=np.int64)
            maxs = np.full(n_groups, ii.min, dtype=np.int64)
        np.minimum.at(mins, gidv, v)
        np.maximum.at(maxs, gidv, v)
        if ranked is not None:  # byte ranks -> dictionary values
            base, rank_to_idx = ranked

            def back(r):
                if not got.any():
                    return pa.nulls(n_groups, out_t)
                idx = np.where(got, rank_to_idx[np.where(got, r, 0)], 0)
                arr = base.take(pa.array(idx, mask=~got))
                return arr if arr.type.equals(out_t) else arr.cast(out_t)

            return back(mins), back(maxs)
        if is_dec:
            return (_dec_arr([m if g else None for m, g in zip(mins, got)],
                             out_t),
                    _dec_arr([m if g else None for m, g in zip(maxs, got)],
                             out_t))

    def typed(a):
        arr = pa.array(a, mask=~got)
        return arr if arr.type.equals(out_t) else arr.cast(out_t)

    return typed(mins), typed(maxs)


def _block_partial(n_rows: int, mask, dims, values,
                   counted: bool = True) -> dict:
    """THE per-block partial kernel.  ``dims`` = [(block, out_t,
    is_bytes)] (0..N group dimensions), ``values`` = [(block, lanes,
    out_t, is_dec)] with lanes drawn from ("sum", "dec", "minmax") ->
    {partial column: array over the groups present}: g0..g{N-1},
    cnt (selected rows), and per value j nv{j} (non-null values) plus
    its lanes' columns s_l{j}/s_d{j}/is_f{j}, s_dec{j}, mn{j}/mx{j}.
    ``counted=False`` (DISTINCT) may leave cnt at 1 per group present."""
    multiset = mask is None and len(dims) == 1 and not values
    gid, n_groups, cnt, kept, keys = _group_ids(dims, n_rows, mask, multiset,
                                                counted)
    out = {"cnt": cnt}
    for j, (blk, lanes, out_t, is_dec) in enumerate(values):
        if gid is None:
            vals, w, tag, n_valid, codec = _global_values(
                blk, n_rows, mask, bool(lanes))
            gidv, ranked, nv = None, None, np.array([n_valid])
        else:
            vals, gidv, tag, ranked = _aligned_values(
                blk, n_rows, mask, gid, bool(lanes))
            w = codec = None
            nv = np.bincount(gidv, minlength=n_groups)
        out[f"nv{j}"] = nv
        if "sum" in lanes:
            out[f"s_l{j}"], out[f"s_d{j}"], out[f"is_f{j}"] = _sum_lane(
                vals, w, gidv, n_groups, tag)
        if "dec" in lanes:
            out[f"s_dec{j}"] = _dec_lane(vals, w, gidv, n_groups, tag)
        if "minmax" in lanes:
            out[f"mn{j}"], out[f"mx{j}"] = _minmax_lane(
                vals, gidv, n_groups, nv, tag, codec, ranked, out_t, is_dec)
    if kept is not None and len(kept) < n_groups:
        out = {k: (v.take(pa.array(kept)) if isinstance(v, pa.Array)
                   else v[kept]) for k, v in out.items()}
    out.update((f"g{i}", k) for i, k in enumerate(keys))
    return out


def _partials(spark: SparkSession, blocks_path: str, manifest_path: str,
              predicate, dims: list[str],
              values: list[tuple[str, tuple]],
              run_ids: list[str] | None = None,
              meta: dict | None = None, counted: bool = True) -> DataFrame:
    """The one partial stage: ``_block_partial`` over every surviving
    block group of the shared blocks scan in one ``mapInArrow`` -> (part_id,
    g0..g{N-1} typed by the group columns, cnt, per value column j:
    nv{j} and its lanes' columns), one row per (block, group present).
    part_id rides along so incremental consumers
    (streaming/agg_stream.py) can re-validate partials against the
    manifest's valid pairs."""
    if meta is None:
        meta = manifestmod.table_meta(spark, manifest_path)
    fields = _fields(meta)
    cols = [(PART_ID, T.IntegerType(), pa.int32())]
    dspec = []
    for i, c in enumerate(dims):
        dt = fields[c].dataType
        dspec.append((c, _arrow_type(spark, dt), _is_bytes(dt)))
        cols.append((f"g{i}", dt, dspec[-1][1]))
    cols.append(("cnt", T.LongType(), pa.int64()))
    vspec = []
    for j, (c, lanes) in enumerate(values):
        dt = fields[c].dataType
        vspec.append((c, lanes, _arrow_type(spark, dt),
                      isinstance(dt, T.DecimalType)))
        cols.append((f"nv{j}", T.LongType(), pa.int64()))
        if "sum" in lanes:
            cols += [(f"s_l{j}", T.LongType(), pa.int64()),
                     (f"s_d{j}", T.DoubleType(), pa.float64()),
                     (f"is_f{j}", T.BooleanType(), pa.bool_())]
        if "dec" in lanes:
            cols.append((f"s_dec{j}", T.DecimalType(38, 0),
                         pa.decimal128(38, 0)))
        if "minmax" in lanes:
            cols += [(f"mn{j}", dt, vspec[-1][2]), (f"mx{j}", dt, vspec[-1][2])]
    names = [n for n, _s, _a in cols]
    atypes = {n: a for n, _s, a in cols}
    schema = T.StructType([T.StructField(n, s, True) for n, s, _a in cols])
    need = list(dict.fromkeys(list(dims) + [c for c, _l in values]))
    predicates = resolve_predicates(meta, predicate)

    def arrow(a, t):
        a = a if isinstance(a, pa.Array) else pa.array(a)
        return a if a.type.equals(t) else a.cast(t)

    def flush(acc):
        return pa.RecordBatch.from_arrays(
            [pa.concat_arrays([arrow(a, atypes[n]) for a in acc[n]])
             for n in names], names=names)

    def gen(batches):
        acc, n_acc = {n: [] for n in names}, 0
        for pid, n_rows, mask, blks in block_groups(batches, predicates,
                                                    need):
            part = _block_partial(
                n_rows, mask, [(blks[c], t, ib) for c, t, ib in dspec],
                [(blks[c], lanes, t, dec) for c, lanes, t, dec in vspec],
                counted)
            k = len(part["cnt"])
            part[PART_ID] = np.full(k, pid, dtype=np.int32)
            for n in names:
                acc[n].append(part[n])
            n_acc += k
            if n_acc >= 1 << 16:
                yield flush(acc)
                acc, n_acc = {n: [] for n in names}, 0
        if n_acc:
            yield flush(acc)

    blocks = scan_blocks(spark, blocks_path, manifest_path, meta, need,
                         predicates, run_ids=run_ids)
    return blocks.mapInArrow(trimmed(gen), schema)


_FOLD = {"cnt": F.sum, "nv": F.sum, "s_l": F.sum, "s_d": F.sum,
         "s_dec": F.sum, "is_f": F.max, "mn": F.min, "mx": F.max}


def _fold(partials: DataFrame) -> DataFrame:
    """The one final fold: ``groupBy(g0..)`` (a global aggregate when
    there is no dimension) with each lane column reduced by its own
    rule — sums add, is_f ORs, min/max fold under Catalyst's own
    F.min/F.max; with no lane left it is a DISTINCT over the dims.
    Columns outside the lanes (part_id, run_id) drop."""
    import re

    dims = [c for c in partials.columns if re.fullmatch(r"g\d+", c)]
    aggs = [_FOLD[c.rstrip("0123456789")](c).alias(c)
            for c in partials.columns
            if c.rstrip("0123456789") in _FOLD]
    if not aggs:
        return partials.select(*dims).distinct()
    return partials.groupBy(*dims).agg(*aggs)


def _sum_value(j: int):
    """Value lane j's folded sum as a double (float partials carry
    their integer-storage part in s_l)."""
    return (F.when(F.col(f"is_f{j}"), F.col(f"s_d{j}") + F.col(f"s_l{j}"))
            .otherwise(F.col(f"s_l{j}").cast("double")))


def _dec_value(j: int, scale: int):
    """Value lane j's exact decimal sum, rescaled in the decimal domain."""
    divisor = F.lit(10 ** scale).cast(T.DecimalType(scale + 1, 0))
    return (F.col(f"s_dec{j}") / divisor).cast(T.DecimalType(38, scale))


def _counts(j: int) -> list:
    """(n_rows, n_nulls) of a global fold, 0 when nothing survived."""
    return [F.coalesce(F.col("cnt"), F.lit(0)).alias("n_rows"),
            F.coalesce(F.col("cnt") - F.col(f"nv{j}"), F.lit(0))
            .alias("n_nulls")]


# ---------------------------------------------------------------------------
# thin shapes over the core
# ---------------------------------------------------------------------------


def _aggregate(spark: SparkSession, blocks_path: str, manifest_path: str,
               predicate, dims: list[str], values: list[tuple[str, tuple]],
               run_ids: list[str] | None = None,
               meta: dict | None = None) -> DataFrame:
    """Partials + fold: the whole core for one aggregate."""
    return _fold(_partials(spark, blocks_path, manifest_path, predicate,
                           dims, values, run_ids=run_ids, meta=meta))


def _scale(dt) -> int | None:
    """Decimal scale of a column type, None for every other type."""
    return dt.scale if isinstance(dt, T.DecimalType) else None


def _sum_lanes(dt) -> tuple:
    return ("sum",) if _scale(dt) is None else ("dec",)


def _sum_shape(folded: DataFrame, column: str, scale: int | None) -> DataFrame:
    """Folded lane 0 -> the one-row column_sum result."""
    total = _sum_value(0) if scale is None else _dec_value(0, scale)
    return folded.select(F.lit(column).alias("column"),
                         total.alias("sum_value"), *_counts(0))


def column_sum(spark: SparkSession, blocks_path: str, manifest_path: str,
               column: str, predicate=None,
               run_ids: list[str] | None = None) -> DataFrame:
    """One-row DataFrame (column, sum_value, n_rows, n_nulls) computed in
    the compressed domain: each block reduces to one partial row (rle
    over runs, dict over the code histogram); Spark's final aggregation
    folds the partials (exact int64 for integer storage, float64 for
    floats).  ``predicate`` (one or a list, ANDed) restricts the
    aggregate to surviving rows — zone maps answer all/none without
    opening blocks; partially-surviving groups reduce a selective
    decode of only the surviving rows.

    Decimal columns sum EXACTLY in the unscaled-integer domain (int64
    low words for p<=18, (lo,hi) word-pair arithmetic in arbitrary-
    precision Python ints for the d128 storage) and return sum_value as
    decimal(38, s) — SQL SUM(decimal) semantics, no float rounding."""
    meta = manifestmod.table_meta(spark, manifest_path)
    dt = _fields(meta)[column].dataType
    folded = _aggregate(spark, blocks_path, manifest_path, predicate, [],
                        [(column, _sum_lanes(dt))], run_ids, meta)
    return _sum_shape(folded, column, _scale(dt))


def column_sums(spark: SparkSession, blocks_path: str, manifest_path: str,
                columns: list[str], predicate=None) -> DataFrame:
    """SUM over MANY columns in ONE scan of the blocks parquet — the
    stats-sweep shape (dashboards, validation) where per-column
    column_sum calls would re-read the table N times.  The predicate
    mask resolves once per block group and is shared by every column.
    Returns one row per column: (column, sum_value double, n_rows,
    n_nulls).  Decimal columns fold exactly in the unscaled decimal
    domain and rescale at the end (use column_sum for a decimal(38,s)
    result type); bytes/list columns raise."""
    if not columns:
        raise ValueError("columns must be non-empty")
    meta = manifestmod.table_meta(spark, manifest_path)
    fields = _fields(meta)
    for c in columns:
        if c not in fields:
            raise KeyError(f"unknown column {c}; encoded: {meta['columns']}")
    dts = [fields[c].dataType for c in columns]
    folded = _aggregate(spark, blocks_path, manifest_path, predicate, [],
                        [(c, _sum_lanes(dt)) for c, dt in zip(columns, dts)],
                        meta=meta)
    rows = [F.struct(
        F.lit(c).alias("column"),
        (F.col(f"s_dec{j}").cast("double") / F.lit(float(10 ** dt.scale))
         if isinstance(dt, T.DecimalType) else _sum_value(j))
        .alias("sum_value"),
        F.col("cnt").alias("n_rows"),
        (F.col("cnt") - F.col(f"nv{j}")).alias("n_nulls"))
        for j, (c, dt) in enumerate(zip(columns, dts))]
    return (folded.select(F.explode(F.array(*rows)).alias("r"))
            .select("r.*").where(F.col("n_rows").isNotNull()))


def column_avg(spark: SparkSession, blocks_path: str, manifest_path: str,
               column: str, predicate=None,
               run_ids: list[str] | None = None) -> DataFrame:
    """AVG(``column``) in the compressed domain with SQL null semantics:
    nulls leave both the numerator and the denominator (AVG over an
    all-null selection is NULL, never 0/0).  Built on ``column_sum``, so
    the shuffle shape is identical.  Decimal columns sum exactly in the
    unscaled domain first and divide once at the end (the quotient
    itself is a float64 — consumers that need digit-exact division
    should divide ``column_sum`` themselves).  Returns one row:
    (column, avg_value double, n_rows, n_nulls)."""
    s = column_sum(spark, blocks_path, manifest_path, column,
                   predicate=predicate, run_ids=run_ids)
    n_valid = F.col("n_rows") - F.col("n_nulls")
    return s.select(
        "column",
        F.when(n_valid == 0, F.lit(None).cast("double"))
        .otherwise(F.col("sum_value").cast("double") / n_valid)
        .alias("avg_value"),
        "n_rows", "n_nulls")


def column_count(spark: SparkSession, blocks_path: str, manifest_path: str,
                 column: str, predicate=None,
                 run_ids: list[str] | None = None) -> DataFrame:
    """COUNT(``column``) / COUNT(*) in the compressed domain: the core
    runs with no value lane, so each block reads only its VALIDITY
    bitmap (values are never decoded) and the operator works for every
    tag — including byte/list columns that ``column_sum`` refuses.
    Under a predicate, partially-surviving blocks count
    ``validity[mask]``.  Returns one row:
    (column, n_values, n_rows, n_nulls) where n_values = COUNT(column)
    and n_rows = COUNT(*) of the surviving selection."""
    folded = _aggregate(spark, blocks_path, manifest_path, predicate, [],
                        [(column, ())], run_ids)
    n_rows, n_nulls = _counts(0)
    return folded.select(F.lit(column).alias("column"),
                         (n_rows - n_nulls).alias("n_values"),
                         n_rows, n_nulls)


def column_minmax(spark: SparkSession, blocks_path: str, manifest_path: str,
                  column: str, predicate=None,
                  run_ids: list[str] | None = None) -> DataFrame:
    """One-row (column, vmin, vmax, n_rows, n_nulls), value-exact and
    predicate-aware — the companion to stats.zone_minmax (which reads
    only float64 zone leaves and can't filter).  Sorted dictionaries
    answer min/max in O(1); the result is typed by the table schema, so
    int64 beyond 2^53, byte strings and decimals (d128 included) stay
    exact."""
    folded = _aggregate(spark, blocks_path, manifest_path, predicate, [],
                        [(column, ("minmax",))], run_ids)
    return folded.select(F.lit(column).alias("column"),
                         F.col("mn0").alias("vmin"),
                         F.col("mx0").alias("vmax"), *_counts(0))


def value_counts(spark: SparkSession, blocks_path: str, manifest_path: str,
                 column: str, predicate=None,
                 run_ids: list[str] | None = None) -> DataFrame:
    """GROUP BY ``column`` -> COUNT(*) in the compressed domain: dict
    blocks contribute (dictionary value, code-histogram count) rows, rle
    blocks (run value, summed lengths), others reduce with np.unique —
    only per-block distinct values ride the final (tiny) shuffle.  A
    NULL group row is emitted when the column has nulls (SQL GROUP BY
    semantics).  ``predicate`` restricts counting to surviving rows.
    Returns (value, cnt); value typed by the table schema."""
    folded = _aggregate(spark, blocks_path, manifest_path, predicate,
                        [column], [], run_ids)
    return folded.select(F.col("g0").alias("value"), "cnt")


def column_distinct(spark: SparkSession, blocks_path: str,
                    manifest_path: str, column: str,
                    predicate=None,
                    run_ids: list[str] | None = None) -> DataFrame:
    """DISTINCT values of ``column`` (NULL excluded, SQL COUNT(DISTINCT)
    semantics): the ``value_counts`` core run uncounted, so dict blocks
    contribute their dictionary without decoding the code stream and
    only per-block distinct sets cross the shuffle — a 100 TB low-
    cardinality column folds to n_blocks x n_distinct tiny rows.
    Returns one column ``value``; count() it for COUNT(DISTINCT)."""
    partials = _partials(spark, blocks_path, manifest_path, predicate,
                         [column], [], run_ids=run_ids, counted=False)
    partials = partials.where(F.col("g0").isNotNull()).select("g0")
    return _fold(partials).select(F.col("g0").alias("value"))


def _gsum_shape(folded: DataFrame, scale: int | None) -> DataFrame:
    """Folded (g0, lane 0) -> the (value, sum_value, cnt) grouped_sum
    result with SQL null semantics (an all-null group sums NULL)."""
    total, null_t = ((_sum_value(0), "double") if scale is None
                     else (_dec_value(0, scale), T.DecimalType(38, scale)))
    return folded.select(
        F.col("g0").alias("value"),
        F.when(F.col("nv0") == 0, F.lit(None).cast(null_t))
        .otherwise(total).alias("sum_value"), "cnt")


def grouped_sum(spark: SparkSession, blocks_path: str, manifest_path: str,
                group_column: str, value_column: str,
                predicate=None, run_ids: list[str] | None = None) -> DataFrame:
    """GROUP BY ``group_column`` -> SUM(``value_column``), COUNT(*) in
    the compressed domain.  The WIDE blocks layout aligns both columns
    inside one parquet row (same group = same rows, same order), so each
    block reduces a block pair to at most n_distinct partial rows with
    ``np.bincount`` — a dict-coded group column never materializes its
    strings, the code stream IS the group id.  SQL semantics: NULL
    groups aggregate into a NULL-value row; NULL values count rows but
    contribute nothing to the sum (an all-null group sums to NULL).
    Decimal values sum exactly in unscaled partials (sum_value
    decimal(38,s), digit-exact).  ``predicate`` restricts the aggregate
    with the decoder's zone/mask cascade.  Returns (value, sum_value,
    cnt) with value typed by the table schema; only per-block distinct
    groups cross the final shuffle."""
    meta = manifestmod.table_meta(spark, manifest_path)
    dt = _fields(meta)[value_column].dataType
    folded = _aggregate(spark, blocks_path, manifest_path, predicate,
                        [group_column], [(value_column, _sum_lanes(dt))],
                        run_ids, meta)
    return _gsum_shape(folded, _scale(dt))


def grouped_sum_multi(spark: SparkSession, blocks_path: str,
                      manifest_path: str, group_columns,
                      value_column: str, predicate=None,
                      run_ids: list[str] | None = None) -> DataFrame:
    """GROUP BY (c1, ..., cN) -> SUM(``value_column``), COUNT(*) in the
    compressed domain — the (lang, repo) / (flag, status) rollup shape.
    N == 1 delegates to ``grouped_sum`` (which also handles decimal
    values exactly); N >= 2 is ``grouped_aggs`` with one value column
    (single composite-coded pass), renamed to the stable
    (g1..gN, sum_value, cnt) shape.  Decimal value columns are not
    supported for N >= 2 — use single-column ``grouped_sum`` (exact
    decimal partials) or ``column_sum`` per group."""
    gcols = [str(c) for c in group_columns]
    if not gcols:
        raise ValueError("group_columns must be non-empty")
    if len(set(gcols)) != len(gcols):
        raise ValueError(f"duplicate group columns {gcols}")
    if len(gcols) == 1:
        return (grouped_sum(spark, blocks_path, manifest_path, gcols[0],
                            value_column, predicate=predicate,
                            run_ids=run_ids)
                .withColumnRenamed("value", gcols[0]))
    meta = manifestmod.table_meta(spark, manifest_path)
    if isinstance(_fields(meta)[value_column].dataType, T.DecimalType):
        raise NotImplementedError(
            "grouped_sum_multi over decimal values is not supported; "
            "use grouped_sum (exact decimal) per group column")
    out = grouped_aggs(spark, blocks_path, manifest_path, gcols,
                       [value_column], predicate=predicate, run_ids=run_ids)
    return out.select(
        *gcols, F.col(f"sum_{value_column}").alias("sum_value"), "cnt")


def grouped_aggs(spark: SparkSession, blocks_path: str, manifest_path: str,
                 group_columns, value_columns, predicate=None,
                 run_ids: list[str] | None = None,
                 minmax: bool = False) -> DataFrame:
    """GROUP BY (g1..gN) -> SUM / AVG / COUNT of EACH of (v1..vM) plus
    COUNT(*), all in ONE pass over the blocks parquet — the full TPC-H
    Q1 rollup shape.  The wide layout aligns every group leaf and every
    value leaf inside one parquet row, so each block joint-codes the
    group streams once (mixed-radix composite, memory scales with the
    combinations PRESENT in the block) and reduces all M value columns
    against the same composite codes; one partial row per (block,
    combination) crosses the shuffle regardless of row count.

    SQL semantics per dimension/value: NULL group keys form their own
    row; NULL values count toward cnt but not toward sum/avg/n_<v>
    (an all-null (group, value) pair sums/averages NULL).  Decimal
    value columns are not supported here (use grouped_sum per column:
    exact unscaled partials).  Returns one column per group dimension,
    then per value column v: sum_<v> (double), avg_<v> (double),
    n_<v> (valid-value count), and finally cnt.  ``minmax=True`` adds
    min_<v>/max_<v>, TYPED by the value column (partials carry the
    column's own type and fold under Catalyst F.min/F.max, so int64
    beyond 2^53 never rounds through the double sum lanes)."""
    gcols = [str(c) for c in group_columns]
    vcols = [str(c) for c in value_columns]
    if not gcols or not vcols:
        raise ValueError("group_columns and value_columns must be non-empty")
    if len(set(gcols)) != len(gcols) or len(set(vcols)) != len(vcols):
        raise ValueError("duplicate columns in group/value lists")
    meta = manifestmod.table_meta(spark, manifest_path)
    fields = _fields(meta)
    for v in vcols:
        if isinstance(fields[v].dataType, T.DecimalType):
            raise NotImplementedError(
                f"grouped_aggs over decimal column {v!r} is not supported; "
                "use grouped_sum (exact decimal partials) per column")
    lanes = ("sum", "minmax") if minmax else ("sum",)
    folded = _aggregate(spark, blocks_path, manifest_path, predicate, gcols,
                        [(v, lanes) for v in vcols], run_ids, meta)
    outs = [F.col(f"g{i}").alias(c) for i, c in enumerate(gcols)]
    for j, v in enumerate(vcols):
        nv = F.col(f"nv{j}")
        s = F.when(nv == 0, F.lit(None).cast("double")).otherwise(_sum_value(j))
        outs += [s.alias(f"sum_{v}"), (s / nv).alias(f"avg_{v}"),
                 nv.alias(f"n_{v}")]
        if minmax:
            outs += [F.col(f"mn{j}").alias(f"min_{v}"),
                     F.col(f"mx{j}").alias(f"max_{v}")]
    outs.append(F.col("cnt"))
    return folded.select(*outs)


def grouped_avg(spark: SparkSession, blocks_path: str, manifest_path: str,
                group_column: str, value_column: str, predicate=None,
                run_ids: list[str] | None = None) -> DataFrame:
    """GROUP BY ``group_column`` -> AVG(``value_column``) with SQL null
    semantics (NULL values excluded; all-null group averages NULL).
    Thin shape over ``grouped_aggs``: (value, avg_value, n_values,
    cnt)."""
    out = grouped_aggs(spark, blocks_path, manifest_path, [group_column],
                       [value_column], predicate=predicate, run_ids=run_ids)
    return out.select(
        F.col(group_column).alias("value"),
        F.col(f"avg_{value_column}").alias("avg_value"),
        F.col(f"n_{value_column}").alias("n_values"),
        "cnt")


def grouped_minmax(spark: SparkSession, blocks_path: str,
                   manifest_path: str, group_column: str,
                   value_column: str, predicate=None,
                   run_ids: list[str] | None = None) -> DataFrame:
    """GROUP BY ``group_column`` -> MIN/MAX(``value_column``), COUNT(*)
    in the compressed domain, value-exact: partials are emitted TYPED
    (int64 beyond 2^53, byte strings, decimals, timestamps never round
    through float64) and fold under Catalyst's own F.min/F.max, so one
    row per (block, group) crosses the shuffle.  Byte values reduce as
    dictionary RANKS (sorted dict blocks: the code stream IS the rank;
    other codecs rank once per block distinct via sort_indices), never
    comparing strings row-by-row.  SQL semantics: NULL group keys form
    their own row; NULL values never rank (an all-null group's min/max
    is NULL).  decimal(p<=18) reduces unscaled; d128 and list tags
    raise.  Returns (value, min_value, max_value, cnt)."""
    meta = manifestmod.table_meta(spark, manifest_path)
    vdt = _fields(meta)[value_column].dataType
    if isinstance(vdt, T.DecimalType) and vdt.precision > 18:
        raise NotImplementedError(
            "grouped_minmax over decimal(p>18) d128 columns is not "
            "supported; use column_minmax per group or precision <= 18")
    folded = _aggregate(spark, blocks_path, manifest_path, predicate,
                        [group_column], [(value_column, ("minmax",))],
                        run_ids, meta)
    return folded.select(F.col("g0").alias("value"),
                         F.col("mn0").alias("min_value"),
                         F.col("mx0").alias("max_value"), "cnt")


# ---------------------------------------------------------------------------
# sketch operators: their own lanes over the same block_groups
# ---------------------------------------------------------------------------


def _segments(slots: np.ndarray, values: np.ndarray):
    """(slot, values of that slot) for each slot present, ascending —
    one vectorized sketch update per group segment."""
    if not len(slots):
        return
    order = np.argsort(slots, kind="stable")
    s, v = slots[order], values[order]
    bounds = np.nonzero(np.diff(s))[0] + 1
    for a, b in zip(np.concatenate(([0], bounds)),
                    np.concatenate((bounds, [len(s)]))):
        yield int(s[a]), v[a:b]


def _hash_values(vals, tag: str) -> np.ndarray:
    """HLL hashes of decoded values; byte values dedupe through Arrow
    BEFORE the per-string hash."""
    from ..kernels import hll

    if tag == "bytes":
        return hll.hash_bytes(strings.to_arrow(vals).unique().to_pylist())
    return hll.hash_fixed(np.asarray(vals))


def _block_hashes(blk, n_rows: int, mask):
    """(hashes | None, n_sel, n_valid) of one block for a HyperLogLog:
    dict blocks hash only their dictionary (the code stream is never
    touched), rle blocks their run values."""
    from ..kernels import hll

    if blk is None:  # evolved column: all NULL here, nothing to sketch
        return None, _n_sel(n_rows, mask), 0
    if mask is not None:
        vals, _v, tag, codec, n_sel = blockmod.decode_block_rows(blk, mask)
        _require(tag, "approx distinct")
        return (_hash_values(vals, tag) if len(vals) else None), n_sel, len(vals)
    payload, meta, tag, codec, n_rows, n_valid = _open_dense(blk)
    _require(tag, "approx distinct")
    if not n_valid:
        return None, n_rows, 0
    if codec == "dict":
        u = dictionary.decode_dictionary(payload, meta, tag)
        h = hll.hash_bytes(u) if tag == "bytes" else hll.hash_fixed(np.asarray(u))
    elif codec == "rle":
        rv, _rl = blockmod.decode_rle_runs(payload, meta, n_valid, tag)
        h = hll.hash_fixed(np.asarray(rv))
    else:
        h = _hash_values(blockmod.decode_values(payload, meta, n_valid, tag,
                                                codec), tag)
    return h, n_rows, n_valid


def _hll_partials(blocks: DataFrame, predicates: list[Predicate],
                  column: str, p: int) -> DataFrame:
    """Per-(task, part_id) HyperLogLog register partials over one
    ``scan_blocks`` frame -> (part_id, regs binary, rows, nulls).  part_id
    rides along so incremental consumers (streaming/agg_stream.py) can
    re-validate partials against the manifest's valid pairs after
    compaction; registers merge commutatively (elementwise max), so any
    regrouping of partials yields bit-identical final registers."""
    from ..kernels import hll

    def gen(batches):
        acc: dict[int, list] = {}  # pid -> [regs, rows, nulls]
        for pid, n_rows, mask, blks in block_groups(batches, predicates,
                                                    [column]):
            a = acc.setdefault(pid, [hll.empty_registers(p), 0, 0])
            h, n_sel, n_valid = _block_hashes(blks[column], n_rows, mask)
            a[1] += n_sel
            a[2] += n_sel - n_valid
            if h is not None:
                hll.update(a[0], h)
        for pid, (regs, rows, nulls) in acc.items():
            yield pa.RecordBatch.from_arrays(
                [pa.array([pid], pa.int32()),
                 pa.array([regs.tobytes()], pa.binary()),
                 pa.array([rows], pa.int64()),
                 pa.array([nulls], pa.int64())],
                names=[PART_ID, "regs", "rows", "nulls"])

    return blocks.mapInArrow(
        trimmed(gen), f"{PART_ID} int, regs binary, rows long, nulls long")


def _stacked_regs(col, p: int) -> np.ndarray:
    """A binary column of 2^p-byte register partials -> (n, 2^p) uint8."""
    m = 1 << p
    blobs = col.to_pylist()
    if any(len(b) != m for b in blobs):
        raise ValueError("HLL register width mismatch in partial")
    return np.frombuffer(b"".join(blobs), dtype=np.uint8).reshape(-1, m)


def _estimate(regs: np.ndarray) -> int:
    from ..kernels import hll

    return int(round(hll.estimate(regs))) if regs.any() else 0


def _fold_hll(partials: DataFrame, column: str, p: int) -> DataFrame:
    """Fold (regs, rows, nulls) partials into the one-row
    column_distinct_approx result (single merge task; registers merge
    by elementwise max)."""
    from ..kernels import hll

    def fold(batches):
        regs, rows, nulls = hll.empty_registers(p), 0, 0
        for batch in batches:
            get = dict(zip(batch.schema.names, batch.columns))
            if batch.num_rows:
                np.maximum(regs, _stacked_regs(get["regs"], p).max(axis=0),
                           out=regs)
            rows += sum(get["rows"].to_pylist())
            nulls += sum(get["nulls"].to_pylist())
        yield pa.RecordBatch.from_arrays(
            [pa.array([_estimate(regs)], pa.int64()),
             pa.array([rows], pa.int64()),
             pa.array([nulls], pa.int64())],
            names=["approx_distinct", "n_rows", "n_nulls"])

    # one constant-size row per (task, part) -> a single merge task;
    # repartition (not coalesce) keeps the scan parallel upstream
    merged = partials.repartition(1).mapInArrow(
        trimmed(fold), "approx_distinct long, n_rows long, n_nulls long")
    return merged.select(F.lit(column).alias("column"),
                         "approx_distinct", "n_rows", "n_nulls")


def column_distinct_approx(spark: SparkSession, blocks_path: str,
                           manifest_path: str, column: str, p: int = 14,
                           predicate=None,
                           run_ids: list[str] | None = None) -> DataFrame:
    """APPROX COUNT(DISTINCT) via a HyperLogLog sketch (kernels/hll.py)
    — the constant-shuffle companion to ``column_distinct``, which ships
    per-block distinct SETS and so degenerates to n_rows shuffled values
    on high-cardinality columns.  Here every task folds its blocks into
    per-partition 2^p-byte register arrays; one such row per (task,
    part_id) crosses the shuffle regardless of cardinality (p=14 ->
    16 KB partials, ~0.8% standard error) — the shape a 100 TB
    COUNT(DISTINCT) needs.

    Dict blocks hash only their dictionary (the code stream is never
    touched); rle blocks hash run values; byte columns dedupe through
    Arrow BEFORE the per-string hash so Python cost is bounded by
    per-block distinct count.  NULLs are excluded (SQL semantics).
    Deterministic: fixed hash functions, no seed.  Returns one row
    (column, approx_distinct, n_rows, n_nulls).  For the incremental
    variant over a growing table see streaming/agg_stream.py
    ``distinct_stream``/``read_distinct`` (same partials, same
    estimate)."""
    meta = manifestmod.table_meta(spark, manifest_path)
    predicates = resolve_predicates(meta, predicate)
    blocks = scan_blocks(spark, blocks_path, manifest_path, meta, [column],
                         predicates, run_ids=run_ids)
    return _fold_hll(_hll_partials(blocks, predicates, column, p), column, p)


def _grouped_sketch_partials(spark: SparkSession, blocks_path: str,
                             manifest_path: str, group_column: str,
                             value_column: str, predicate, run_ids,
                             sketch, fields: list[tuple]) -> DataFrame:
    """Per-(block, group) sketch partials of ``value_column`` -> (value,
    <fields>).  ``sketch(kept, cnt, segments, tag, ranked)`` turns one
    block's groups into its sketch columns: ``segments`` maps a group
    id to the group's non-null selected values (byte values as
    dictionary ranks, ``ranked`` = (base, rank_to_idx))."""
    meta = manifestmod.table_meta(spark, manifest_path)
    gdt = _fields(meta)[group_column].dataType
    dims = [(_arrow_type(spark, gdt), _is_bytes(gdt))]
    predicates = resolve_predicates(meta, predicate)
    schema = T.StructType([T.StructField("value", gdt, True)] + [
        T.StructField(n, t, True) for n, t in fields])

    def gen(batches):
        for _pid, n_rows, mask, blks in block_groups(
                batches, predicates, [group_column, value_column]):
            gid, _g, cnt, kept, keys = _group_ids(
                [(blks[group_column], *dims[0])], n_rows, mask)
            vals, gidv, tag, ranked = _aligned_values(
                blks[value_column], n_rows, mask, gid, True)
            segments = dict(_segments(gidv, vals))
            cols = sketch(kept, cnt[kept], segments, tag, ranked)
            if cols is not None:
                yield pa.RecordBatch.from_arrays(
                    [keys[0], *cols], names=["value"] + [n for n, _t in fields])

    blocks = scan_blocks(spark, blocks_path, manifest_path, meta,
                         list(dict.fromkeys([group_column, value_column])),
                         predicates, run_ids=run_ids)
    return blocks.mapInArrow(trimmed(gen), schema)


def grouped_distinct_approx(spark: SparkSession, blocks_path: str,
                            manifest_path: str, group_column: str,
                            value_column: str, p: int = 12,
                            predicate=None,
                            run_ids: list[str] | None = None) -> DataFrame:
    """GROUP BY ``group_column`` -> APPROX COUNT(DISTINCT
    ``value_column``) via per-group HyperLogLog registers — the
    "distinct users per day" shape.  The WIDE blocks layout aligns both
    columns inside one parquet row, so each task folds block pairs into
    per-(block, group) registers; what crosses the shuffle is
    n_blocks x n_groups x 2^p bytes (p=12 -> 4 KB per group row)
    regardless of value cardinality, and the final fold hashes the
    partials by group and max-merges each group's registers in one
    ``mapInArrow`` (the grouped form of ``_fold_hll``).  Groups must be
    low-cardinality (the same dict/rle assumption grouped_sum makes);
    values hash per row (splitmix64 for fixed widths; byte values hash
    their per-block dictionary uniques once and gather by rank).

    SQL semantics: NULL groups aggregate into a NULL-group row; NULL
    values never count.  Deterministic (fixed hashes), ~1.6% standard
    error at p=12, time-travel via ``run_ids``.  Returns
    (value, approx_distinct, cnt); ``cnt`` is the group's row count."""
    import pyarrow.compute as pc

    from ..kernels import hll

    def sketch(kept, cnt, segments, tag, ranked):
        _require(tag, "approx distinct")
        if ranked is not None:  # byte ranks -> hashes of the dictionary
            base, rank_to_idx = ranked
            h_of_rank = hll.hash_bytes(base.to_pylist())[rank_to_idx]
        regs = []
        for g in kept:
            r = hll.empty_registers(p)
            if int(g) in segments:
                v = segments[int(g)]
                hll.update(r, h_of_rank[v] if ranked is not None
                           else hll.hash_fixed(v))
            regs.append(r.tobytes())
        return [pa.array(regs, pa.binary()), pa.array(cnt, pa.int64())]

    partials = _grouped_sketch_partials(
        spark, blocks_path, manifest_path, group_column, value_column,
        predicate, run_ids, sketch,
        [("regs", T.BinaryType()), ("cnt", T.LongType())])
    vtype = partials.schema["value"].dataType

    def fold(batches):
        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        de = pc.dictionary_encode(tbl.column("value").combine_chunks(),
                                  null_encoding="encode")
        idx = np.asarray(de.indices).astype(np.int64)
        regs = np.zeros((len(de.dictionary), 1 << p), dtype=np.uint8)
        np.maximum.at(regs, idx, _stacked_regs(tbl.column("regs")
                                               .combine_chunks(), p))
        cnt = np.zeros(len(de.dictionary), dtype=np.int64)
        np.add.at(cnt, idx, tbl.column("cnt").to_numpy().astype(np.int64))
        yield pa.RecordBatch.from_arrays(
            [de.dictionary, pa.array([_estimate(r) for r in regs], pa.int64()),
             pa.array(cnt, pa.int64())],
            names=["value", "approx_distinct", "cnt"])

    return partials.repartition("value").mapInArrow(
        trimmed(fold), T.StructType([
            T.StructField("value", vtype, True),
            T.StructField("approx_distinct", T.LongType(), False),
            T.StructField("cnt", T.LongType(), False)]))


def _block_summary(blk, n_rows: int, mask, k: int):
    """(equi-depth summary | None, n_sel, n_valid) of one block: rle
    blocks summarize (run_value, run_length) pairs and dict blocks
    (dictionary, code histogram) — both EXACT per block when distinct
    <= k, without materializing rows."""
    from ..kernels import quantile as qk

    if blk is None:
        return None, _n_sel(n_rows, mask), 0
    vals, w, tag, n_valid, _codec = _global_values(blk, n_rows, mask, True)
    _require(tag, "quantiles", bytes_ok=False)
    v = np.asarray(vals)
    smry = (qk.summarize(v, None if w is None else w.astype(np.float64), k)
            if n_valid else None)
    return smry, _n_sel(n_rows, mask), n_valid


def _quantile_partials(blocks: DataFrame, predicates: list[Predicate],
                       column: str, k: int, task_k: int) -> DataFrame:
    """Per-(task, part_id) equi-depth summary partials over one
    ``scan_blocks`` frame -> (part_id, vs, ws, rows, nulls).  part_id rides
    along so incremental consumers (streaming/agg_stream.py) can
    re-validate partials against the manifest after compaction;
    summaries merge by weighted concatenation, so any regrouping only
    REFINES the final summary (rank error never grows past the
    per-partial bound)."""
    from ..kernels import quantile as qk

    def gen(batches):
        acc: dict[int, list] = {}  # pid -> [summaries, rows, nulls]
        for pid, n_rows, mask, blks in block_groups(batches, predicates,
                                                    [column]):
            a = acc.setdefault(pid, [[], 0, 0])
            smry, n_sel, n_valid = _block_summary(blks[column], n_rows,
                                                  mask, k)
            a[1] += n_sel
            a[2] += n_sel - n_valid
            if smry is not None:
                a[0].append(smry)
        for pid, (summaries, rows, nulls) in acc.items():
            v, w = qk.merge(summaries, k=task_k)
            yield pa.RecordBatch.from_arrays(
                [pa.array([pid], pa.int32()),
                 pa.array([v.tolist()], pa.list_(pa.float64())),
                 pa.array([w.tolist()], pa.list_(pa.float64())),
                 pa.array([rows], pa.int64()),
                 pa.array([nulls], pa.int64())],
                names=[PART_ID, "vs", "ws", "rows", "nulls"])

    return blocks.mapInArrow(
        trimmed(gen),
        f"{PART_ID} int, vs array<double>, ws array<double>, "
        "rows long, nulls long")


def _fold_quantiles(partials: DataFrame, column: str,
                    plist: list[float]) -> DataFrame:
    """Fold (vs, ws, rows, nulls) summary partials into the
    column_quantiles result (single merge task, lossless weighted
    concatenation)."""
    from ..kernels import quantile as qk

    def fold(batches):
        summaries, rows, nulls = [], 0, 0
        for batch in batches:
            get = dict(zip(batch.schema.names, batch.columns))
            summaries += [(np.asarray(v, dtype=np.float64),
                           np.asarray(w, dtype=np.float64))
                          for v, w in zip(get["vs"].to_pylist(),
                                          get["ws"].to_pylist())]
            rows += sum(get["rows"].to_pylist())
            nulls += sum(get["nulls"].to_pylist())
        v, w = qk.merge(summaries, k=None)  # lossless final fold
        varr = (pa.array(qk.quantile(v, w, plist), pa.float64()) if len(v)
                else pa.nulls(len(plist), pa.float64()))
        yield pa.RecordBatch.from_arrays(
            [pa.array(plist, pa.float64()), varr,
             pa.array([rows] * len(plist), pa.int64()),
             pa.array([nulls] * len(plist), pa.int64())],
            names=["p", "value", "n_rows", "n_nulls"])

    merged = partials.repartition(1).mapInArrow(
        trimmed(fold), "p double, value double, n_rows long, n_nulls long")
    return merged.select(F.lit(column).alias("column"),
                         "p", "value", "n_rows", "n_nulls")


def _probs(probs) -> list[float]:
    plist = [float(p) for p in (probs if hasattr(probs, "__iter__")
                                else [probs])]
    if not plist or any(p < 0 or p > 1 for p in plist):
        raise ValueError("probs must be non-empty, each in [0, 1]")
    return plist


def column_quantiles(spark: SparkSession, blocks_path: str,
                     manifest_path: str, column: str,
                     probs=(0.25, 0.5, 0.75), k: int = 256,
                     task_k: int = 4096, predicate=None,
                     run_ids: list[str] | None = None) -> DataFrame:
    """APPROX quantiles via mergeable equi-depth summaries
    (kernels/quantile.py) — ORDER-BY-free: each block contributes at
    most ``k`` weighted points (rank error <= n_block/(2k)), each task
    compacts its blocks to ``task_k`` points per partition, and ONE
    summary row per (task, part_id) crosses the shuffle — O(n_tasks *
    task_k) tiny rows instead of a full-column sort, the shape a 100 TB
    percentile needs.  End-to-end rank error ~ N/(2k) + N/(2*task_k):
    sub-percent at the defaults.

    Fast paths: rle blocks summarize (run_value, run_length) pairs and
    dict blocks (dictionary, code histogram) — both EXACT per block when
    distinct <= k, without materializing rows.  NULLs are excluded (SQL
    percentile semantics); values quantize through float64 (int64 above
    2^53 loses low bits — an approximate quantile tolerates that by
    definition).  Deterministic: pure arithmetic, no sampling.  Returns
    one row per probability: (column, p, value, n_rows, n_nulls).  For
    the incremental variant over a growing table see
    streaming/agg_stream.py ``quantile_stream``/``read_quantiles``."""
    plist = _probs(probs)
    meta = manifestmod.table_meta(spark, manifest_path)
    predicates = resolve_predicates(meta, predicate)
    blocks = scan_blocks(spark, blocks_path, manifest_path, meta, [column],
                         predicates, run_ids=run_ids)
    return _fold_quantiles(
        _quantile_partials(blocks, predicates, column, k, task_k),
        column, plist)


def grouped_quantiles(spark: SparkSession, blocks_path: str,
                      manifest_path: str, group_column: str,
                      value_column: str, probs=(0.25, 0.5, 0.75),
                      k: int = 256, predicate=None,
                      run_ids: list[str] | None = None) -> DataFrame:
    """GROUP BY ``group_column`` -> APPROX quantiles of
    ``value_column`` — the "p95 latency per group" shape.  Each task
    emits one equi-depth summary row per (block, group): <= ``k``
    weighted points each (kernels/quantile.py), so the shuffle moves
    O(n_blocks x n_groups x k) tiny rows regardless of row count, and
    the per-group fold (applyInPandas over the low-cardinality group
    key) merges summaries losslessly before reading the percentiles.
    Rank error per group ~ N_group/(2k): sub-percent at the default.

    SQL semantics: NULL groups form their own row; NULL values are
    excluded per group (percentile of an all-null group is NULL).
    Deterministic — pure arithmetic, no sampling.  Returns one row per
    (group, p): (value, p, q, n_rows, n_nulls)."""
    from ..kernels import quantile as qk

    plist = _probs(probs)

    def sketch(kept, cnt, segments, tag, ranked):
        _require(tag, "quantiles", bytes_ok=False)
        vs, ws, nulls = [], [], []
        for g, c in zip(kept, cnt):
            seg = segments.get(int(g))
            sm = (qk.summarize(seg.astype(np.float64), None, k)
                  if seg is not None else (np.zeros(0), np.zeros(0)))
            vs.append(sm[0].tolist())
            ws.append(sm[1].tolist())
            nulls.append(int(c) - (len(seg) if seg is not None else 0))
        return [pa.array(vs, pa.list_(pa.float64())),
                pa.array(ws, pa.list_(pa.float64())),
                pa.array(cnt, pa.int64()), pa.array(nulls, pa.int64())]

    partials = _grouped_sketch_partials(
        spark, blocks_path, manifest_path, group_column, value_column,
        predicate, run_ids, sketch,
        [("vs", T.ArrayType(T.DoubleType())),
         ("ws", T.ArrayType(T.DoubleType())),
         ("rows", T.LongType()), ("nulls", T.LongType())])
    fold_schema = T.StructType([
        T.StructField("value", partials.schema["value"].dataType, True),
        T.StructField("p", T.DoubleType(), False),
        T.StructField("q", T.DoubleType(), True),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("n_nulls", T.LongType(), False),
    ])

    def fold_group(pdf):
        import pandas as pd

        summaries = [(np.asarray(v, dtype=np.float64),
                      np.asarray(w, dtype=np.float64))
                     for v, w in zip(pdf["vs"], pdf["ws"])]
        v, w = qk.merge(summaries, k=None)  # lossless final fold
        n = len(plist)
        return pd.DataFrame({
            "value": [pdf["value"].iloc[0]] * n, "p": plist,
            "q": qk.quantile(v, w, plist) if len(v) else [None] * n,
            "n_rows": [int(pdf["rows"].sum())] * n,
            "n_nulls": [int(pdf["nulls"].sum())] * n,
        })

    return partials.groupBy("value").applyInPandas(fold_group, fold_schema)


# ---------------------------------------------------------------------------
# top-k
# ---------------------------------------------------------------------------


def _block_topk(blk, mask, k: int, ascending: bool, is_bytes: bool):
    """One block's own top-k candidate values (unordered) -> (values,
    tag).  A full sorted dictionary answers from its head/tail plus the
    code histogram (duplicates among the true top-k), never the rows."""
    if mask is not None:
        vals, _v, tag, _c, _n = blockmod.decode_block_rows(blk, mask)
        return vals, tag
    payload, meta, tag, codec, _n, n_valid = _open_dense(blk)
    if codec == "dict" and n_valid and tag != "d128":
        uniques, codes = dictionary.decode_parts(payload, meta, n_valid, tag)
        nu = len(uniques)
        if nu >= k:
            sel = np.arange(k) if ascending else np.arange(nu - k, nu)
            rep = np.repeat(sel, np.bincount(codes, minlength=nu)[sel])
            rep = rep[:k] if ascending else rep[-k:]
            return (strings.take(uniques, rep) if is_bytes
                    else np.asarray(uniques)[rep]), tag
    return blockmod.decode_values(payload, meta, n_valid, tag, codec), tag


def column_topk(spark: SparkSession, blocks_path: str, manifest_path: str,
                column: str, k: int, ascending: bool = False,
                predicate=None,
                run_ids: list[str] | None = None) -> DataFrame:
    """ORDER BY ``column`` LIMIT ``k`` pushed into the encoded domain:
    each block contributes only its own top-k values (np.partition over
    the dense decode; dict blocks read the SORTED dictionary's tail
    directly, O(k) without touching the values when full), so k rows
    per block ride the final single-partition fold instead of the
    column.  NULLs never rank (SQL ORDER BY ... LIMIT semantics with
    NULLS LAST).  Returns one column ``value`` with at most k rows,
    globally ordered."""
    import pyarrow.compute as pc

    if k <= 0:
        raise ValueError("k must be positive")
    meta = manifestmod.table_meta(spark, manifest_path)
    dt = _fields(meta)[column].dataType
    predicates = resolve_predicates(meta, predicate)
    is_bytes, is_dec = _is_bytes(dt), isinstance(dt, T.DecimalType)
    out_t = _arrow_type(spark, dt)

    def gen(batches):
        for _pid, _n, mask, blks in block_groups(batches, predicates,
                                                 [column]):
            if blks[column] is None:
                continue  # evolved column: all NULL, never ranks
            vals, tag = _block_topk(blks[column], mask, k, ascending, is_bytes)
            _require(tag, "topk", d128_ok=True)
            if tag == "d128":
                pairs = np.asarray(vals)
                order = np.lexsort((pairs[:, 0].astype(np.uint64),
                                    pairs[:, 1]))
                sel = order[:k] if ascending else order[-k:]
                out = _dec_arr(_d128_ints(pairs[sel]), out_t)
            elif is_bytes:
                out = strings.to_arrow(vals)
                if len(out) > k:
                    out = out.take(pc.select_k_unstable(
                        out, k, sort_keys=[("dummy", "ascending" if ascending
                                            else "descending")]))
            else:
                v = np.asarray(vals)
                if len(v) > k:
                    v = (np.partition(v, k - 1)[:k] if ascending
                         else np.partition(v, len(v) - k)[-k:])
                # decimal p<=18: unscaled int64 order == value order
                # (same scale), so the partition above is exact
                out = _dec_arr(v, out_t) if is_dec else pa.array(v)
            if len(out):
                yield pa.RecordBatch.from_arrays(
                    [out if out.type.equals(out_t) else out.cast(out_t)],
                    names=["value"])

    blocks = scan_blocks(spark, blocks_path, manifest_path, meta, [column],
                         predicates, run_ids=run_ids)
    partials = blocks.mapInArrow(
        trimmed(gen), T.StructType([T.StructField("value", dt, True)]))
    order_col = F.col("value").asc() if ascending else F.col("value").desc()
    return partials.orderBy(order_col).limit(k)


def _session_aware(spark: SparkSession, v):
    """PySpark ``.collect()`` converts TimestampType through
    ``datetime.fromtimestamp`` — a NAIVE datetime in the DRIVER OS
    timezone (TimestampType.fromInternal; the session timeZone only
    affects SQL parsing/rendering).  The predicate layer interprets
    naive datetimes as UTC (filters._storage_bound), so on a non-UTC
    driver a collected threshold would shift by the OS offset —
    ``astimezone()`` on a naive value attaches the OS zone, making the
    epoch conversion exact everywhere.  Dates and non-temporals pass
    through."""
    import datetime as dtm

    if isinstance(v, dtm.datetime) and v.tzinfo is None:
        return v.astimezone()
    return v


def _threshold_pred(column: str, dt, bound, ascending: bool,
                    fill_nulls: bool):
    """The at-or-beyond-the-k-th-value decode predicate, typed by the
    order column: decimals rank unscaled (p<=18 via RangePredicate zone
    pruning, p>18 via Decimal128RangePredicate), string/binary rank
    lexicographically (24-byte prefix zones prune), everything else is
    a plain range."""
    from .filters import (BytesRangePredicate, Decimal128RangePredicate,
                          RangePredicate)

    if isinstance(dt, T.DecimalType):
        b = int(bound.scaleb(dt.scale))
        cls = Decimal128RangePredicate if dt.precision > 18 else RangePredicate
    elif dt.typeName() in ("string", "binary"):
        b = bound.encode() if isinstance(bound, str) else bound
        cls = BytesRangePredicate
    else:
        b, cls = bound, RangePredicate
    return (cls(column=column, upper=b, null_allowed=fill_nulls) if ascending
            else cls(column=column, lower=b, null_allowed=fill_nulls))


def _group_eq_pred(column: str, g, gdt):
    """Equality leg for one group key, typed by the group column; a
    NULL group key keeps exactly the null rows."""
    from .filters import (BooleanPredicate, BytesEqPredicate, ConstPredicate,
                          RangePredicate)

    if g is None:
        return ConstPredicate(column=column, accept=False, null_allowed=True)
    tn = gdt.typeName()
    if tn in ("string", "binary"):
        return BytesEqPredicate(column=column,
                                value=g.encode() if isinstance(g, str) else g)
    if tn == "boolean":
        return BooleanPredicate(column=column, value=bool(g))
    return RangePredicate(column=column, lower=g, upper=g)


def topk_rows(spark: SparkSession, blocks_path: str, manifest_path: str,
              column: str, k: int, ascending: bool = False,
              columns: list[str] | None = None,
              tiebreak: tuple[str, ...] = (),
              predicate=None,
              run_ids: list[str] | None = None) -> DataFrame:
    """Whole-row ``SELECT <columns> ORDER BY column [DESC] LIMIT k``
    without decoding the table: phase 1 = ``column_topk`` finds the
    k-th ranked VALUE (k values per block through the shuffle, a tiny
    job); phase 2 decodes only rows at-or-beyond that threshold — a
    RangePredicate the zone maps answer, so blocks whose range cannot
    reach the boundary are never opened — and Catalyst sorts the <= a
    handful of survivors.  Boundary ties are all decoded and resolved
    by the final orderBy+limit; pass ``tiebreak`` columns to make the
    result deterministic under ties.

    NULLS LAST semantics: when fewer than k non-null values exist, the
    threshold predicate flips null_allowed so null rows fill the tail
    exactly as SQL would.  Decimal columns rank in the unscaled-int
    domain (p<=18 via RangePredicate zone pruning, p>18 via
    Decimal128RangePredicate — d128 blocks carry no zone bounds, so
    they decode-and-check); string/binary columns rank
    lexicographically via BytesRangePredicate (24-byte prefix zones
    prune).  List/map/struct order columns are not supported."""
    from .decode import decode_table
    from .filters import ConstPredicate

    if k <= 0:
        raise ValueError("k must be positive")
    meta = manifestmod.table_meta(spark, manifest_path)
    field = _fields(meta).get(column)
    if field is None:
        raise KeyError(f"unknown column {column}")
    dt = field.dataType
    if dt.typeName() in ("array", "map", "struct"):
        raise NotImplementedError(
            f"topk_rows cannot order by {dt.simpleString()} — decode + "
            "orderBy instead")
    vals = [r["value"] for r in column_topk(
        spark, blocks_path, manifest_path, column, k, ascending=ascending,
        predicate=predicate, run_ids=run_ids).collect()]
    preds = resolve_predicates(meta, predicate)
    if not vals:
        # order column is all-null (or empty) under the predicate: only
        # null rows can fill the LIMIT
        preds.append(ConstPredicate(column=column, accept=False,
                                    null_allowed=True))
    else:
        # the k-th ranked value (globally ordered); session-tz aware
        bound = _session_aware(spark, vals[-1])
        fill_nulls = len(vals) < k  # nulls make the cut only then
        preds.append(_threshold_pred(column, dt, bound, ascending,
                                     fill_nulls))
    dec_cols = None
    if columns is not None:
        dec_cols = list(columns)
        for c in (column, *tiebreak):
            if c not in dec_cols:
                dec_cols.append(c)
    out = decode_table(spark, blocks_path, manifest_path, columns=dec_cols,
                       predicate=preds, run_ids=run_ids)
    order = [F.col(column).asc_nulls_last() if ascending
             else F.col(column).desc_nulls_last()]
    order += [F.col(c).asc() for c in tiebreak]
    out = out.orderBy(*order).limit(int(k))
    if columns is not None:
        out = out.select(*columns)
    return out



def grouped_topk(spark: SparkSession, blocks_path: str, manifest_path: str,
                 group_column: str, value_column: str, k: int,
                 ascending: bool = False, predicate=None,
                 run_ids: list[str] | None = None) -> DataFrame:
    """Per-group ORDER BY ``value_column`` LIMIT ``k`` in the compressed
    domain — the "top k files per language" shape.  Each block
    contributes only ITS OWN per-group top-k (group-sorted run slices
    over the block's value ranks: byte values rank through the sorted
    dictionary, the strings themselves never sort row-by-row), so at
    most n_groups x k rows per block reach the final fold — a window
    row_number over the tiny partials, never over the column.  SQL
    semantics: NULL group keys form their own group; NULL values never
    rank.  decimal(p<=18) ranks unscaled and emits exact decimals;
    d128 and list tags raise.  Returns (value, item, rnk) with rnk
    1..k per group."""
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError("k must be positive")
    meta = manifestmod.table_meta(spark, manifest_path)
    fields = _fields(meta)
    gdt, vdt = fields[group_column].dataType, fields[value_column].dataType
    v_dec = isinstance(vdt, T.DecimalType)
    if v_dec and vdt.precision > 18:
        raise NotImplementedError(
            "grouped_topk over decimal(p>18) d128 columns is not "
            "supported; use column_topk per group or precision <= 18")
    dim = (_arrow_type(spark, gdt), _is_bytes(gdt))
    out_tv = _arrow_type(spark, vdt)
    predicates = resolve_predicates(meta, predicate)

    def gen(batches):
        for _pid, n_rows, mask, blks in block_groups(
                batches, predicates, [group_column, value_column]):
            gid, _g, _cnt, kept, keys = _group_ids(
                [(blks[group_column], *dim)], n_rows, mask)
            rv, gw, tag, ranked = _aligned_values(
                blks[value_column], n_rows, mask, gid, True)
            _require(tag, "grouped topk")
            if not len(gw):
                continue
            order = np.lexsort((rv, gw))
            gs, rs = gw[order], rv[order]
            bnd = np.nonzero(np.diff(gs))[0] + 1
            take = [np.arange(s, min(s + k, e)) if ascending
                    else np.arange(max(e - k, s), e)
                    for s, e in zip(np.concatenate(([0], bnd)),
                                    np.concatenate((bnd, [len(gs)])))]
            take = np.concatenate(take)
            garr = keys[0].take(pa.array(np.searchsorted(kept, gs[take])))
            r_sel = rs[take]
            if ranked is not None:
                iarr = ranked[0].take(pa.array(ranked[1][r_sel]))
            elif v_dec:
                iarr = _dec_arr(r_sel, out_tv)
            else:
                iarr = pa.array(r_sel)
            yield pa.RecordBatch.from_arrays(
                [garr, iarr if iarr.type.equals(out_tv) else iarr.cast(out_tv)],
                names=["value", "item"])

    blocks = scan_blocks(spark, blocks_path, manifest_path, meta,
                         list(dict.fromkeys([group_column, value_column])),
                         predicates, run_ids=run_ids)
    partials = blocks.mapInArrow(trimmed(gen), T.StructType([
        T.StructField("value", gdt, True),
        T.StructField("item", vdt, False)]))
    ordc = F.col("item").asc() if ascending else F.col("item").desc()
    w = Window.partitionBy("value").orderBy(ordc)
    return (partials.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k))


def grouped_topk_rows(spark: SparkSession, blocks_path: str,
                      manifest_path: str, group_column: str,
                      value_column: str, k: int, ascending: bool = False,
                      columns: list[str] | None = None,
                      tiebreak: tuple[str, ...] = (),
                      predicate=None, run_ids: list[str] | None = None,
                      max_groups: int = 64) -> DataFrame:
    """Whole-row per-group ORDER BY ``value_column`` LIMIT ``k`` — "the
    top 5 files per language" as full rows, not just values.

    Phase 1 finds each group's k-th ranked value in the compressed
    domain (``grouped_topk``: n_groups x k tiny rows) plus the group
    list (``value_counts``).  Phase 2 decodes only rows at-or-beyond
    their OWN group's threshold: an OrPredicate over per-group
    AndPredicate(group = g, value >=/<= bound_g) legs — the composite
    layer lets zone maps and the dictionary path prune BOTH dimensions,
    so blocks clustered by group or by value skip unopened.  A window
    row_number over the surviving sliver finishes it; ``rnk`` (1..k per
    group) rides the output.

    SQL semantics: NULL group keys form their own group; NULLS LAST —
    a group with fewer than k ranked values keeps all its rows so null
    values fill the tail.  Groups absent from the ranked partials
    (all-null values) keep everything.  ``max_groups`` guards the
    per-block disjunction (linear in n_groups): beyond it, decode + a
    Catalyst window is the right plan — raise the cap deliberately if
    the group column is known-narrow."""
    from pyspark.sql import Window

    from .decode import decode_table
    from .filters import AndPredicate, ConstPredicate, OrPredicate

    if k <= 0:
        raise ValueError("k must be positive")
    meta = manifestmod.table_meta(spark, manifest_path)
    fields = _fields(meta)
    if group_column not in fields or value_column not in fields:
        raise KeyError(f"unknown column among ({group_column}, "
                       f"{value_column}); encoded: {list(fields)}")
    gdt, vdt = fields[group_column].dataType, fields[value_column].dataType
    # limit(max_groups+1) BEFORE the collect: the guard must never
    # materialize an unbounded group list on the driver just to refuse
    # it — pointing this at a high-cardinality column now collects at
    # most max_groups+1 rows before raising
    groups = [r["value"] for r in value_counts(
        spark, blocks_path, manifest_path, group_column,
        predicate=predicate, run_ids=run_ids)
        .limit(int(max_groups) + 1).collect()]
    if len(groups) > max_groups:
        raise ValueError(
            f"over {max_groups} groups (max_groups={max_groups}): the "
            "per-block disjunction scales with n_groups — decode + a "
            "window instead, or raise max_groups deliberately")
    ranked = grouped_topk(spark, blocks_path, manifest_path, group_column,
                          value_column, k, ascending=ascending,
                          predicate=predicate, run_ids=run_ids).collect()
    per_group: dict = {}
    for r in ranked:
        per_group.setdefault(r["value"], []).append((r["rnk"], r["item"]))
    legs = []
    for g in groups:
        if isinstance(g, float) and g != g:
            # NaN never equals itself: no equality predicate can name
            # this group, and silently dropping it breaks SQL grouping
            raise NotImplementedError(
                "NaN group keys are not supported by grouped_topk_rows "
                "— filter them out or use decode_table + a window")
        gleg = _group_eq_pred(group_column, _session_aware(spark, g), gdt)
        vals = sorted(per_group.get(g, []))
        if len(vals) < k:
            # fewer than k ranked values: every row of the group stays
            # (null values fill the tail, SQL NULLS LAST)
            legs.append(gleg)
        else:
            thr = _threshold_pred(value_column, vdt,
                                  _session_aware(spark, vals[-1][1]),
                                  ascending, False)
            legs.append(AndPredicate([gleg, thr]))
    preds = resolve_predicates(meta, predicate)
    preds.append(OrPredicate(legs) if legs else
                 ConstPredicate(column=group_column, accept=False))
    dec_cols = None
    if columns is not None:
        dec_cols = list(columns)
        for c in (group_column, value_column, *tiebreak):
            if c not in dec_cols:
                dec_cols.append(c)
    out = decode_table(spark, blocks_path, manifest_path, columns=dec_cols,
                       predicate=preds, run_ids=run_ids)
    if "rnk" in out.columns:
        raise ValueError("the output rank column 'rnk' collides with a "
                         "decoded data column — pass columns= without it")
    order = [F.col(value_column).asc_nulls_last() if ascending
             else F.col(value_column).desc_nulls_last()]
    order += [F.col(c).asc() for c in tiebreak]
    w = Window.partitionBy(group_column).orderBy(*order)
    out = (out.withColumn("rnk", F.row_number().over(w))
           .filter(F.col("rnk") <= int(k)))
    if columns is not None:
        out = out.select(*columns, "rnk")
    return out
