"""Per-layer metrics of a traced run, named after the engine's modules.

Times from Spark's SQL metrics are task-seconds (summed over tasks);
times from spans are wall seconds.  Figures are medians per operation
of the kind named, over the measuring window's operations, unless the
name says otherwise; a layer that did no work in the window reads 0.
``self.<layer>_s`` is the layer's self time per cycle (over the cycles'
operations), ``op`` being the benchmark's own remainder inside them.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .common import MB, dir_bytes, median

# Printed in the report and kept in the run record, but not on the JSON
# line: task-second totals Spark formats to 0.1 s (they repeat run to
# run), and figures of layers one of the gated workloads never uses
# (they read 0 on every run of it).
RECORD_ONLY = frozenset({
    "session.python_worker_start_s", "partitioner.shuffle_write_s",
    "encode.python_run_s", "encode.python_init_s", "encode.scan_s",
    "encode.write_s", "decode.scan_s", "decode.python_run_s",
    "agg.python_run_s", "stats.explain_scan_s", "agg.value_counts.wall_s",
    "agg.grouped_aggs.wall_s", "agg.column_distinct_approx.wall_s",
    "agg.column_quantiles.wall_s", "agg.grouped_topk.wall_s",
    "sources.dsv2_read_s", "nest.rebuild_s", "compact.wall_s",
    "self.session_s", "self.partitioner_s", "self.encode_s", "self.stats_s",
    "self.sources_s"})

# layers whose self time a cycle can hold (compaction runs once per run,
# after the cycles, and has its own compact.* metrics)
LAYERS = ("session", "partitioner", "encode", "manifest", "decode", "stats",
          "agg", "sources", "nest", "op")
AGG_FNS = ("value_counts", "grouped_aggs", "column_sum",
           "column_distinct_approx", "column_quantiles", "grouped_topk")
FILTER_CLASSES = ("prefix", "eq", "range", "content")


def _span_names(tracer, op_id):
    return {s.name for s in tracer.op_spans(op_id)}


def _attributed(run, op_id):
    """(layer, Execution) for each Spark execution of ``op_id``: the
    layer of the innermost span open when the execution was submitted."""
    tr = run.tracer
    spans = [s for s in tr.op_spans(op_id) if s.name != "op"]
    out = []
    for e in run.execs.get(op_id, []):
        t = e.start - tr.epoch_offset
        inner = None
        for s in spans:
            if s.start - 0.005 <= t <= s.end + 0.005 and (
                    inner is None or s.end - s.start < inner.end - inner.start):
                inner = s
        out.append((inner.layer if inner else "op", e))
    return out


def _sum(execs, node, metric):
    return sum(e.metric(node, metric) for e in execs)


def _skew(execs, node, metric):
    """max/median per task of a task-summed metric (first node found)."""
    from .trace import parse_med_max

    for e in execs:
        for n, ms in e.nodes:
            if n.startswith(node) and metric in ms:
                mm = parse_med_max(ms[metric])
                if mm and mm[0] > 0:
                    return mm[1] / mm[0]
    return 0.0


def collect(run, wl, su: dict, rss) -> dict:
    tr = run.tracer
    timed = [o for o in run.ops if not o.kind.startswith(("setup", "check"))]
    n_cycles = max(1, len(wl.cycle_walls()))
    m: dict[str, tuple[float, str]] = {}

    # session ------------------------------------------------------------
    warm = [o for o in run.ops if o.kind.startswith("setup")]
    m["session.start_s"] = (su["session_start_s"], "s")
    first = run.execs.get(warm[0].op_id, []) if warm else []
    m["session.python_worker_start_s"] = (
        _sum(first, "MapInArrow", "time to start Python workers"), "s")

    # encode + partitioner -------------------------------------------------
    def encodes(ops):
        return [o for o in ops if o.kind != "replay"
                and "encode.encode_table" in _span_names(tr, o.op_id)]
    # a workload whose window never encodes (query_mix) reports its
    # set-up encode, the only encode of the run
    enc_ops = encodes(timed) or encodes(warm)
    per = {k: [] for k in ("shuffle_bytes", "shuffle_write_s", "skew", "run",
                           "init", "to_py", "from_py", "scan", "write",
                           "driver_self", "jobs", "commit_s", "commit_jobs")}
    for o in enc_ops:
        att = _attributed(run, o.op_id)
        own = [e for layer, e in att if layer in ("encode", "partitioner")]
        com = [e for layer, e in att if layer == "manifest"]
        spans = tr.op_spans(o.op_id)
        enc_span = next(s for s in spans if s.name == "encode.encode_table")
        commit = [s.end - s.start for s in spans if s.name == "manifest.commit"]
        jobs_wall = sum(max(0.0, min(e.end, enc_span.end + tr.epoch_offset)
                            - max(e.start, enc_span.start + tr.epoch_offset))
                        for e in own)
        per["shuffle_bytes"].append(_sum(own, "Exchange", "shuffle bytes written"))
        per["shuffle_write_s"].append(_sum(own, "Exchange", "shuffle write time"))
        per["skew"].append(_skew(own, "MapInArrow", "data sent to Python workers"))
        per["run"].append(_sum(own, "MapInArrow", "time to run Python workers"))
        per["init"].append(_sum(own, "MapInArrow", "time to initialize Python workers"))
        per["to_py"].append(_sum(own, "MapInArrow", "data sent to Python workers"))
        per["from_py"].append(_sum(own, "MapInArrow", "data returned from Python workers"))
        per["scan"].append(_sum(own, "Scan", "scan time"))
        per["write"].append(_sum(own, "Execute InsertInto", "task commit time")
                            + _sum(own, "Execute InsertInto", "job commit time"))
        per["driver_self"].append(max(0.0, enc_span.end - enc_span.start
                                      - sum(commit) - jobs_wall))
        per["jobs"].append(len(own))
        per["commit_s"] += commit
        per["commit_jobs"].append(len(com) / max(1, len(commit)))
    med = {k: median(v) for k, v in per.items()}
    m["partitioner.shuffle_bytes"] = (med["shuffle_bytes"], "B")
    m["partitioner.shuffle_write_s"] = (med["shuffle_write_s"], "s")
    m["partitioner.part_bytes_max_over_p50"] = (med["skew"], "count")
    m["encode.wall_s"] = (median([o.wall for o in enc_ops]), "s")
    m["encode.python_run_s"] = (med["run"], "s")
    m["encode.python_init_s"] = (med["init"], "s")
    m["encode.bytes_to_python"] = (med["to_py"], "B")
    m["encode.bytes_from_python"] = (med["from_py"], "B")
    m["encode.scan_s"] = (med["scan"], "s")
    m["encode.write_s"] = (med["write"], "s")
    m["encode.driver_self_s"] = (med["driver_self"], "s")
    m["encode.spark_jobs"] = (med["jobs"], "count")

    blk, man = wl.final_dataset()
    from boltspark.kernels.block import CODEC_IDS

    codecs = _blocks_per_codec(man)
    for c in CODEC_IDS:
        m[f"encode.blocks.{c}"] = (codecs.get(c, 0), "count")

    # manifest -----------------------------------------------------------
    m["manifest.commit_s"] = (med["commit_s"], "s")
    m["manifest.commit_jobs"] = (med["commit_jobs"], "count")
    tm = [s.end - s.start for o in timed for s in tr.op_spans(o.op_id)
          if s.name == "manifest.table_meta"]
    m["manifest.table_meta_s"] = (sum(tm) / max(1, len(timed)), "s")
    m["manifest.table_meta_calls"] = (len(tm) / max(1, len(timed)), "count")
    mb, mf = dir_bytes(man)
    m["manifest.files"] = (mf, "count")
    m["manifest.bytes"] = (mb, "B")

    # decode ---------------------------------------------------------------
    dec_ops = [o for o in timed if "decode.decode_table" in _span_names(tr, o.op_id)]
    dper = {k: [] for k in ("scan", "bytes", "files", "run", "from_py", "rows")}
    for o in dec_ops:
        own = [e for layer, e in _attributed(run, o.op_id) if layer == "decode"]
        dper["scan"].append(_sum(own, "Scan", "scan time"))
        dper["bytes"].append(_sum(own, "Scan", "size of files read"))
        dper["files"].append(_sum(own, "Scan", "number of files read"))
        dper["run"].append(_sum(own, "MapInArrow", "time to run Python workers"))
        dper["from_py"].append(_sum(own, "MapInArrow", "data returned from Python workers"))
        dper["rows"].append(_sum(own, "MapInArrow", "number of output rows"))
    m["decode.wall_s"] = (median([o.wall for o in dec_ops]), "s")
    m["decode.scan_s"] = (median(dper["scan"]), "s")
    m["decode.scan_bytes"] = (median(dper["bytes"]), "B")
    m["decode.files_read"] = (median(dper["files"]), "count")
    m["decode.python_run_s"] = (median(dper["run"]), "s")
    m["decode.bytes_from_python"] = (median(dper["from_py"]), "B")
    m["decode.rows_out"] = (median(dper["rows"]), "count")

    # filters / stats --------------------------------------------------------
    useful = _filters(run, wl, m)
    m["decode.useful_frac"] = (useful if useful is not None
                               else (1.0 if dec_ops else 0.0), "count")
    m["stats.explain_scan_s"] = (median([o.wall for o in timed
                                         if o.info.get("query") == "explain"]), "s")

    # agg ------------------------------------------------------------------
    agg_ops = [o for o in timed if any(n.startswith("agg.") and n != "agg.execute"
                                       for n in _span_names(tr, o.op_id))]
    for fn in AGG_FNS:
        m[f"agg.{fn}.wall_s"] = (median([o.wall for o in agg_ops
                                         if f"agg.{fn}" in _span_names(tr, o.op_id)]), "s")
    aper = {k: [] for k in ("run", "shuffle", "jobs")}
    for o in agg_ops:
        own = [e for layer, e in _attributed(run, o.op_id) if layer == "agg"]
        aper["run"].append(_sum(own, "MapInArrow", "time to run Python workers"))
        aper["shuffle"].append(_sum(own, "Exchange", "shuffle bytes written"))
        aper["jobs"].append(len(own))
    m["agg.python_run_s"] = (median(aper["run"]), "s")
    m["agg.shuffle_bytes"] = (median(aper["shuffle"]), "B")
    m["agg.spark_jobs"] = (median(aper["jobs"]), "count")

    # sources / nest ---------------------------------------------------------
    m["sources.dsv2_read_s"] = (median([o.wall for o in timed
                                        if o.info.get("query") == "dsv2"]), "s")
    m["nest.rebuild_s"] = (median([o.wall for o in timed
                                   if o.info.get("query") == "range"]), "s")

    # compact ----------------------------------------------------------------
    cmp_op = next((o for o in timed if o.kind == "compact"), None)
    m["compact.wall_s"] = (cmp_op.wall if cmp_op else 0.0, "s")
    m["compact.bytes_rewritten"] = (dir_bytes(blk)[0] if cmp_op else 0, "B")
    m["compact.files_before"] = (getattr(wl, "files_before", 0), "count")
    m["compact.files_after"] = (dir_bytes(blk)[1] if cmp_op else 0, "count")

    # kernels ----------------------------------------------------------------
    m.update(kernel_bench(wl.table))

    # mem --------------------------------------------------------------------
    m["mem.driver_hwm_mb"] = (rss.jvm_hwm_mb, "MB")
    m["mem.python_workers_hwm_mb"] = (rss.workers_peak_mb, "MB")

    # self time per layer and cycle, coverage of every traced operation ------
    totals = dict.fromkeys(LAYERS, 0.0)
    in_cycles = {o.op_id for o in wl.cycle_ops()}
    coverage = []
    for o in run.ops:
        if o.kind == "check":
            continue
        st = tr.self_times(o.op_id)
        if o.op_id in in_cycles:
            for k, v in st.items():
                totals[k] = totals.get(k, 0.0) + v
        # against the op's root span: the job-description tagging around
        # it is tracing overhead, not the program
        root = next(s for s in tr.op_spans(o.op_id) if s.name == "op")
        layered = sum(v for k, v in st.items() if k != "op")
        wall = root.end - root.start
        coverage.append(layered / wall if wall else 1.0)
    for k in LAYERS:
        m[f"self.{k}_s"] = (totals.get(k, 0.0) / n_cycles, "s")
    m["trace.coverage_min"] = (min(coverage) if coverage else 0.0, "count")
    m["trace.spans"] = (len(tr.spans), "count")
    return m


def _blocks_per_codec(manifest_path: str) -> dict[str, int]:
    import pyarrow.dataset as pads

    t = pads.dataset(manifest_path, format="parquet").to_table(
        columns=["column", "codec", "n_blocks"])
    out: dict[str, int] = {}
    for c, n, col in zip(t.column("codec").to_pylist(), t.column("n_blocks").to_pylist(),
                         t.column("column").to_pylist()):
        if col != "__table_meta__" and c:
            out[c] = out.get(c, 0) + int(n)
    return out


def _filters(run, wl, m) -> float | None:
    """Zone verdicts per filter class from explain_scan on the last
    cycle's predicates; returns rows out / rows in opened+accepted
    groups over those classes (None outside query_mix)."""
    for cls in FILTER_CLASSES:
        for v in ("skipped", "accepted", "opened"):
            m[f"filters.{cls}.groups_{v}"] = (0, "count")
    if not hasattr(wl, "last_plan"):
        return None
    from boltspark.engine import stats

    plan = {name: arg for name, _cls, arg in wl.last_plan}
    sql = {"prefix": "starts_with(path, ?)", "eq": "repo = ?",
           "range": "stars BETWEEN ? AND ?", "content": "n_bytes BETWEEN ? AND ?"}
    out_rows = read_rows = 0
    for cls in FILTER_CLASSES:
        arg = plan[cls]
        got = stats.explain_scan(run.spark, wl.blk, wl.man,
                                 predicate=wl.predicate(cls, arg)).toArrow()
        v = {r["verdict"]: r for r in got.to_pylist()}
        for key, name in (("skip", "skipped"), ("accept", "accepted"), ("open", "opened")):
            m[f"filters.{cls}.groups_{name}"] = (v.get(key, {}).get("n_groups", 0), "count")
        params = list(arg) if isinstance(arg, tuple) else [arg]
        out_rows += wl.oracle.scalar(f"SELECT count(*) FROM src WHERE {sql[cls]}", params)
        read_rows += sum(v.get(k, {}).get("n_rows", 0) for k in ("accept", "open"))
    return out_rows / read_rows if read_rows else 0.0


# ---------------------------------------------------------------- kernels


def _timed(fn, repeats: int = 3):
    ts, res = [], None
    for _ in range(repeats):
        t = time.perf_counter()
        res = fn()
        ts.append(time.perf_counter() - t)
    return median(ts), res


def kernel_bench(table: pa.Table) -> dict:
    """Single-core encode_block/decode_block per codec on blocks cut
    from the workload's own table, ordered as the encoder sees a
    partition (by repo, path, commit); delta runs on each repo's commit
    timestamps in time order, prefix on sorted paths, rle on the lang
    dictionary codes."""
    from boltspark.kernels import block, fsst, selector, strings

    keyed = table.take(pc.sort_indices(table, [("repo", "ascending"),
                                               ("path", "ascending"),
                                               ("commit", "ascending")]))
    by_time = table.take(pc.sort_indices(table, [("repo", "ascending"),
                                                 ("committed_at", "ascending")]))

    def b(col, nbytes):
        a = col.combine_chunks()
        lens = pc.binary_length(a).to_numpy(zero_copy_only=False)
        n = int(np.searchsorted(np.cumsum(lens), nbytes)) + 1
        return strings.from_arrow(a.slice(0, min(n, len(a))))

    def ints(col, n=1 << 16):
        a = pc.drop_null(col.combine_chunks().slice(0, n))
        if pa.types.is_timestamp(a.type):
            a = a.cast(pa.int64())
        return np.ascontiguousarray(a.to_numpy(zero_copy_only=False))

    paths = keyed.column("path")
    sorted_paths = pc.sort_indices(paths)
    t_build, table_fsst = _timed(lambda: fsst.build_symbol_table_best(
        b(paths, 1 << 15).data), repeats=1)
    cases = {
        "plain_zstd": (b(keyed.column("content"), 1 << 20), "bytes", "plain", "zstd"),
        "dict": (b(keyed.column("lang"), 1 << 18), "bytes", "dict", None),
        "fsst": (b(paths, 1 << 18), "bytes", "fsst", None),
        "for": (ints(keyed.column("stars")), "i64", "for", None),
        "bitpack": (ints(keyed.column("n_bytes")), "i32", "bitpack", None),
        # rle is fixed-width only: the lang dictionary codes, which run
        # with the repo grouping of a partition
        "rle": (np.asarray(keyed.column("lang").combine_chunks()
                           .dictionary_encode().indices, dtype=np.int32),
                "i32", "rle", None),
        "delta": (ints(by_time.column("committed_at")), "i64", "delta", None),
        "prefix": (b(paths.take(sorted_paths), 1 << 18), "bytes", "prefix", None),
    }
    out = {}
    choose_ms = []
    for name, (vals, tag, codec, outer) in cases.items():
        raw = (len(vals.data) + 4 * len(vals)) if tag == "bytes" else vals.nbytes
        kw = {"fsst_table": table_fsst} if codec == "fsst" else {}
        t_enc, blob = _timed(lambda: block.encode_block(vals, tag, codec,
                                                        outer=outer, **kw))
        t_dec, _ = _timed(lambda: block.decode_block(blob))
        t_ch, _ = _timed(lambda: selector.choose(vals, tag), repeats=1)
        choose_ms.append(1000 * t_ch)
        out[f"kernels.{name}.enc_mb_s"] = (raw / MB / t_enc, "MB/s")
        out[f"kernels.{name}.dec_mb_s"] = (raw / MB / t_dec, "MB/s")
        out[f"kernels.{name}.ratio"] = (len(blob) / raw, "count")
    out["kernels.selector.choose_ms"] = (median(choose_ms), "ms")
    out["kernels.fsst.table_build_s"] = (t_build, "s")
    return out
