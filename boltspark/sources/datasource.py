"""Spark Python Data Source for the boltspark blocks format.

The idiomatic read surface on top of the engine:

    spark.dataSource.register(BoltDataSource)
    df = (spark.read.format("boltspark")
          .option("manifest", manifest_path)
          .load(blocks_path))

Capabilities wired into Spark's own planner hooks (Data Source API v2
for Python, Spark 4.x):

* schema inference from the checkpoint manifest (the footer analog);
* one input partition per blocks file — Spark schedules them like any
  scan, no shuffle (each wide row is a self-contained block group);
* ``pushFilters``: EqualTo/In/ranges/StringStartsWith/StringContains/
  StringEndsWith/IsNotNull on
  encoded columns translate to the engine's null-aware predicates and
  are enforced EXACTLY (zone-map skip + dictionary-level evaluation +
  mask cascade), so Spark drops them from its own post-filter;
* column pruning via ``.option("columns", "a,b")`` (the Python DSv2
  API does not yet hand the pruned schema to the reader).

The primary engine path remains ``engine.decode_table`` (broadcast
manifest join, no driver-side pair set); this source trades that for
Spark-native ergonomics and is sized for manifests that fit the driver
(documented).

KNOWN SHARP EDGE (upstream, Spark 4.1 Python DSv2): a relation caches
its last-planned scan, so REUSING one DataFrame object across queries
with different filters can replay the previously pushed filters (a
fresh ``.load()`` per query shape is always correct).  Use the
``load()`` helper below, which returns a fresh relation each call.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql.datasource import (DataSource, DataSourceReader, EqualTo,
                                    Filter, GreaterThan, GreaterThanOrEqual,
                                    In, InputPartition, IsNotNull, IsNull,
                                    LessThan, LessThanOrEqual, Not,
                                    StringContains,
                                    StringEndsWith, StringStartsWith)
from pyspark.sql.types import StructType

META_KEY = "__table_meta__"


def _read_manifest(manifest_path: str):
    """Driver-side manifest load via pyarrow (no Spark session needed):
    (table_meta dict, set of valid (part_id, run_id) pairs)."""
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(manifest_path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no manifest at {manifest_path}")
    metas = []
    pairs = set()
    for f in files:
        t = pq.read_table(f, columns=["part_id", "run_id", "column", "table_meta"])
        cols = t.to_pydict()
        for pid, rid, col, tm in zip(cols["part_id"], cols["run_id"],
                                     cols["column"], cols["table_meta"]):
            if col == META_KEY:
                metas.append((rid, json.loads(tm)))
            else:
                pairs.add((pid, rid))
    if not metas:
        raise FileNotFoundError(f"no table meta in manifest at {manifest_path}")
    from ..engine.manifest import merge_metas

    meta = merge_metas([m for _, m in sorted(metas, key=lambda x: x[0])])
    return meta, pairs


def _to_predicate(f: Filter):
    """Map a Spark DSv2 filter to an engine predicate, or None if the
    filter shape is not supported (Spark then applies it itself).
    Struct-leaf references arrive as attribute tuples ('meta', 'width')
    and become dotted paths the reader resolves to flat leaf names."""
    from ..engine import filters as ef

    if isinstance(f, Not):
        inner = _to_predicate(f.child)
        if inner is None or getattr(inner, "children", None) is not None \
                or isinstance(inner, ef.NotPredicate):
            return None
        if isinstance(inner, ef.ConstPredicate):
            # NOT IS [NOT] NULL: flip the const directly
            return ef.ConstPredicate(column=inner.column,
                                     accept=not inner.accept,
                                     null_allowed=not inner.null_allowed)
        return ef.NotPredicate(child=inner)
    attr = getattr(f, "attribute", None)
    if isinstance(attr, tuple):
        attr = ".".join(attr)
    if attr is None:
        return None
    if isinstance(f, EqualTo):
        import datetime as _dt

        v = f.value
        if isinstance(v, str):
            return ef.BytesEqPredicate(column=attr, value=v.encode())
        if isinstance(v, bool):
            return ef.BooleanPredicate(column=attr, value=v)
        if isinstance(v, (int, float, _dt.date, _dt.datetime)):
            return ef.RangePredicate(column=attr, lower=v, upper=v)
        return None
    if isinstance(f, StringStartsWith) and isinstance(f.value, str):
        return ef.BytesPrefixPredicate(column=attr, prefix=f.value.encode())
    if isinstance(f, StringContains) and isinstance(f.value, str):
        return ef.BytesContainsPredicate(column=attr, needle=f.value.encode())
    if isinstance(f, StringEndsWith) and isinstance(f.value, str):
        return ef.BytesSuffixPredicate(column=attr, suffix=f.value.encode())
    if isinstance(f, In):
        vals = tuple(f.value)
        if all(isinstance(v, str) for v in vals):
            return ef.InPredicate(column=attr, values=tuple(v.encode() for v in vals))
        if all(isinstance(v, (int, float)) and not isinstance(v, bool)
               for v in vals):
            return ef.InPredicate(column=attr, values=vals)
        return None
    import datetime as _dt

    if isinstance(f, (GreaterThan, GreaterThanOrEqual, LessThan,
                      LessThanOrEqual)) and isinstance(f.value, str):
        # lexicographic string range -> byte-range predicate (zone
        # prefixes prune; the prefix-partition range-scan shape)
        v = f.value.encode()
        if isinstance(f, GreaterThan):
            return ef.BytesRangePredicate(column=attr, lower=v,
                                          lower_inclusive=False)
        if isinstance(f, GreaterThanOrEqual):
            return ef.BytesRangePredicate(column=attr, lower=v)
        if isinstance(f, LessThan):
            return ef.BytesRangePredicate(column=attr, upper=v,
                                          upper_inclusive=False)
        return ef.BytesRangePredicate(column=attr, upper=v)
    _rangeable = (int, float, _dt.date, _dt.datetime)  # date covers datetime
    if isinstance(f, GreaterThan) and isinstance(f.value, _rangeable):
        return ef.RangePredicate(column=attr, lower=f.value, lower_inclusive=False)
    if isinstance(f, GreaterThanOrEqual) and isinstance(f.value, _rangeable):
        return ef.RangePredicate(column=attr, lower=f.value)
    if isinstance(f, LessThan) and isinstance(f.value, _rangeable):
        return ef.RangePredicate(column=attr, upper=f.value, upper_inclusive=False)
    if isinstance(f, LessThanOrEqual) and isinstance(f.value, _rangeable):
        return ef.RangePredicate(column=attr, upper=f.value)
    if isinstance(f, IsNotNull):
        # type-agnostic IS NOT NULL: accept every non-null value
        return ef.ConstPredicate(column=attr, accept=True, null_allowed=False)
    if isinstance(f, IsNull):
        # reject every value, keep nulls — zone maps skip all-non-null blocks
        return ef.ConstPredicate(column=attr, accept=False, null_allowed=True)
    return None


class BoltReader(DataSourceReader):
    def __init__(self, blocks_path: str, manifest_path: str,
                 columns: list[str] | None):
        from ..engine import nest
        from ..engine.decode import logical_schema

        self.blocks_path = blocks_path
        self.meta, self.valid_pairs = _read_manifest(manifest_path)
        by_name = {f.name: f for f in logical_schema(self.meta).fields}
        self.out_cols = [c for c in (columns or list(by_name))]
        unknown = set(self.out_cols) - set(by_name)
        if unknown:
            raise KeyError(f"unknown columns {unknown}; encoded: {list(by_name)}")
        # flat storage leaves backing the logical projection
        self.out_leaves = []
        for c in self.out_cols:
            f = by_name[c]
            self.out_leaves += nest.leaf_names(c, f.dataType, f.nullable)
        self.logical_by_name = by_name
        self.predicates = []

    def pushFilters(self, filters):
        from ..engine.decode import resolve_predicates

        for f in filters:
            pred = _to_predicate(f)
            if pred is not None:
                try:
                    [pred] = resolve_predicates(self.meta, pred)
                except KeyError:
                    pred = None
            if pred is not None:
                self.predicates.append(pred)
            else:
                yield f  # unsupported: Spark evaluates it post-scan

    def partitions(self):
        files = sorted(glob.glob(os.path.join(self.blocks_path, "*.parquet")))
        if not files:
            raise FileNotFoundError(f"no blocks at {self.blocks_path}")
        return [InputPartition(f) for f in files]

    def read(self, partition):
        from ..engine.memutil import trimmed

        yield from trimmed(self._read)(partition)

    def _read(self, partition):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.types import StructType as ST

        from ..engine import decode as dec
        from ..engine import nest

        flat_schema = ST.fromJson(json.loads(self.meta["schema_json"]))
        flat_by_name = {f.name: f for f in flat_schema.fields}
        targets = [(c, dec.arrow_out_type(flat_by_name[c].dataType, "UTC"))
                   for c in self.out_leaves]
        logical_types = {c: dec.arrow_out_type(
            self.logical_by_name[c].dataType, "UTC") for c in self.out_cols}

        def assemble(name, dtype, nullable, leaves: dict):
            """Leaf arrays -> logical array (recursive struct/map/
            list<struct> rebuild)."""
            import numpy as np
            from pyspark.sql.types import (ArrayType as _AT, MapType as _MT,
                                           StructType as _ST)

            def _comb(a):
                return a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a

            if isinstance(dtype, _AT) and isinstance(dtype.elementType, _AT):
                # list<list<T>> stored as (inner lengths, flattened
                # stream) leaves: rebuild the inner ListArray from
                # cumulative lengths (null length = null inner list),
                # then re-wrap with the lengths leaf's outer offsets.
                import pyarrow.compute as pc

                target = dec.arrow_out_type(dtype, "UTC")
                llen = _comb(leaves[name + nest.SEP + "#llen"])
                flat = _comb(leaves[name + nest.SEP + "#lflat"])
                lens = llen.values
                lens_np = np.asarray(pc.fill_null(lens, 0),
                                     dtype=np.int64)
                in_offs = np.zeros(len(lens_np) + 1, dtype=np.int32)
                np.cumsum(lens_np, out=in_offs[1:], dtype=np.int32)
                if lens.null_count:
                    lvalid = np.asarray(lens.is_valid())
                    in_off_arr = pa.array(in_offs, type=pa.int32(),
                                          mask=np.append(~lvalid, False))
                else:
                    in_off_arr = pa.array(in_offs, type=pa.int32())
                elem_t = target.value_type.value_type
                ch = flat.values
                if not ch.type.equals(elem_t):
                    ch = ch.cast(elem_t)
                inner_arr = pa.ListArray.from_arrays(in_off_arr, ch)
                onp = np.asarray(llen.offsets)
                if llen.null_count:
                    valid = np.asarray(llen.is_valid())
                    offsets = pa.array(onp, type=pa.int32(),
                                       mask=np.append(~valid, False))
                else:
                    offsets = pa.array(onp, type=pa.int32())
                out = pa.ListArray.from_arrays(offsets, inner_arr)
                return out if out.type.equals(target) else out.cast(target)
            if isinstance(dtype, _AT) and isinstance(dtype.elementType, _ST):
                # list<struct> stored as parallel list leaves sharing one
                # offsets stream (engine/nest.py): rebuild a StructArray
                # from the flattened field leaves, then re-wrap with the
                # first leaf's offsets.  The #edef leaf (0/1) restores
                # null elements.
                est = dtype.elementType
                target = dec.arrow_out_type(dtype, "UTC")
                elem_t = target.value_type
                field_arrs = [_comb(leaves[name + nest.SEP + "#elem"
                                           + nest.SEP + f.name])
                              for f in est.fields]
                mask = None
                base = field_arrs[0]
                if dtype.containsNull:
                    import pyarrow.compute as pc

                    ed = _comb(leaves[name + nest.SEP + "#edef"])
                    base = ed
                    mask = pc.equal(ed.values, 0)
                children = []
                for f_t, fa in zip(list(elem_t), field_arrs):
                    ch = fa.values
                    if not ch.type.equals(f_t.type):
                        ch = ch.cast(f_t.type)
                    children.append(ch)
                struct_arr = pa.StructArray.from_arrays(
                    children, fields=list(elem_t), mask=mask)
                onp = np.asarray(base.offsets)
                if base.null_count:
                    valid = np.asarray(base.is_valid())
                    offsets = pa.array(onp, type=pa.int32(),
                                       mask=np.append(~valid, False))
                else:
                    offsets = pa.array(onp, type=pa.int32())
                out = pa.ListArray.from_arrays(offsets, struct_arr)
                return out if out.type.equals(target) else out.cast(target)
            if isinstance(dtype, _MT):
                # map stored as two aligned list leaves (engine/nest.py):
                # rebuild a MapArray from the keys list's offsets + both
                # flattened child arrays.  A null map is a null list in
                # BOTH leaves (encode used map_keys/map_values, which are
                # NULL on NULL input), so keys-side validity is the map's.
                keys = leaves[name + nest.SEP + "#keys"]
                vals = leaves[name + nest.SEP + "#vals"]
                if isinstance(keys, pa.ChunkedArray):
                    keys = keys.combine_chunks()
                if isinstance(vals, pa.ChunkedArray):
                    vals = vals.combine_chunks()
                # raw child + raw offsets form a consistent pair even when
                # the array is a slice (flatten() would compact values and
                # desync from .offsets); vals shares keys' offsets layout
                # because both leaves come from one aligned encode
                k_flat, v_flat = keys.values, vals.values
                if len(k_flat) != len(v_flat):
                    raise ValueError(
                        f"misaligned map leaves for {name!r}: "
                        f"{len(k_flat)} keys vs {len(v_flat)} values")
                onp = np.asarray(keys.offsets)
                if keys.null_count:
                    # null offset entries mark null maps (last offset valid)
                    valid = np.asarray(keys.is_valid())
                    offsets = pa.array(onp, type=pa.int32(),
                                       mask=np.append(~valid, False))
                else:
                    offsets = pa.array(onp, type=pa.int32())
                target = dec.arrow_out_type(dtype, "UTC")
                m = pa.MapArray.from_arrays(offsets, k_flat, v_flat)
                return m if m.type.equals(target) else m.cast(target)
            if not isinstance(dtype, _ST):
                return leaves[name]
            children = [
                assemble(name + nest.SEP + f.name, f.dataType,
                         f.nullable or nullable, leaves)
                for f in dtype.fields
            ]
            target = dec.arrow_out_type(dtype, "UTC")
            fields = list(target)
            mask = None
            if nullable:
                import pyarrow.compute as pc

                valid = leaves[name + nest.DEFINED]
                mask = pc.invert(valid.combine_chunks() if isinstance(
                    valid, pa.ChunkedArray) else valid)
                if mask.null_count:
                    mask = mask.fill_null(True)
            return pa.StructArray.from_arrays(
                children, fields=fields, mask=mask)

        import pyarrow.compute as pc

        from ..engine.filters import pred_columns

        pcols = pred_columns(self.predicates)
        read_cols = list(dict.fromkeys(self.out_leaves + pcols))
        pf = pq.ParquetFile(partition.value)
        # schema evolution: this file's run may predate some columns
        file_cols = {f.name for f in pf.schema_arrow.field("cols").type}
        present = [c for c in read_cols if c in file_cols]
        for p in self.predicates:
            if getattr(p, "children", None) is not None:
                continue  # composites: judged per block group below
            if p.column not in file_cols and not p.null_allowed:
                return  # whole-file skip: the column is all-null here
        cols = ["part_id", "run_id", "n_rows"] + [f"cols.{c}" for c in present]
        schema = pa.schema([pa.field(c, logical_types[c], True)
                            for c in self.out_cols])
        for batch in pf.iter_batches(batch_size=16, columns=cols):
            get = dict(zip(batch.schema.names, batch.columns))
            if "cols" in get:  # selection kept the struct nested
                structs = {c: get["cols"].field(c) for c in present}
            else:  # selection flattened the struct leaves to top level
                structs = {c: get[c] for c in present}
            # the file batch in the engine scan's layout (a column this
            # file's run predates reads as null blocks), then the orphan
            # blocks of crashed runs drop out against the valid pairs
            n = batch.num_rows
            scan = {"part_id": get["part_id"], "n_rows": get["n_rows"]}
            for c in read_cols:
                scan[f"__blk_{c}"] = (pc.struct_field(structs[c], "block")
                                      if c in structs
                                      else pa.nulls(n, pa.binary()))
            for c in pcols:
                scan[f"__st_{c}"] = (pc.struct_field(structs[c], "stats")
                                     if c in structs else pa.nulls(n))
            valid = [pair in self.valid_pairs for pair in zip(
                get["part_id"].to_pylist(), get["run_id"].to_pylist())]
            scan = pa.RecordBatch.from_pydict(scan).filter(pa.array(valid))
            for _pid, n_rows, mask, blks in dec.block_groups(
                    [scan], self.predicates, self.out_leaves):
                leaves = dict(zip(self.out_leaves, dec.decode_group(
                    blks, mask, n_rows, targets)))
                arrays = [
                    assemble(c, self.logical_by_name[c].dataType,
                             self.logical_by_name[c].nullable, leaves)
                    for c in self.out_cols
                ]
                if arrays and len(arrays[0]):
                    yield pa.RecordBatch.from_arrays(arrays, schema=schema)


class BoltDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "boltspark"

    def schema(self) -> StructType:
        manifest = self.options.get("manifest")
        if not manifest:
            raise ValueError("boltspark source requires .option('manifest', path)")
        from ..engine.decode import logical_schema

        meta, _ = _read_manifest(manifest)
        full = logical_schema(meta)
        cols = self.options.get("columns")
        if cols:
            wanted = [c.strip() for c in cols.split(",")]
            return StructType([f for c in wanted for f in full.fields if f.name == c])
        return full

    def reader(self, schema: StructType) -> BoltReader:
        cols = self.options.get("columns")
        columns = [c.strip() for c in cols.split(",")] if cols else None
        return BoltReader(self.options["path"], self.options["manifest"], columns)


def load(spark, blocks_path: str, manifest_path: str,
         columns: list[str] | None = None):
    """Fresh boltspark relation (registers the source if needed).  Build
    one per query shape — see the sharp-edge note in the module doc."""
    try:
        spark.dataSource.register(BoltDataSource)
    except Exception:
        pass  # already registered
    # runtime SQL conf: required for pushFilters to be honored
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    r = spark.read.format("boltspark").option("manifest", manifest_path)
    if columns:
        r = r.option("columns", ",".join(columns))
    return r.load(blocks_path)
