"""Incremental compressed-domain aggregation over Structured Streaming.

Follows the manifest commit log (the same pattern as
stream_decode.decode_stream): each NEWLY COMMITTED run is reduced to
tiny per-(part_id) partial-aggregate rows — computed in the encoded
domain, never materializing the column — and written to a run-keyed
sink directory.  The running total is then a metadata-scale fold over
the partials, so a 100 TB table's streaming SUM never rescans old
runs: per epoch it reads only the new run's blocks, and the read-side
fold touches n_runs x n_parts rows.

Exactly-once per run across restarts: the sink path is keyed by run id
and written with ``mode("overwrite")``, so a replayed micro-batch
re-derives byte-identical partials instead of double counting.

Validity: partials carry ``part_id``, and the read-side fold
inner-joins the manifest's CURRENT valid (part_id, run_id) pairs, so
stale sink directories (a run whose manifest rows were removed, or
leftovers from a crashed manual write into the sink) never contribute
to the total.  ``compact_blocks`` writes a NEW table (new blocks +
manifest paths); point a fresh stream at the compacted table rather
than expecting in-place supersede.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..engine import agg as aggmod
from ..engine import manifest as manifestmod
from ..engine.decode import resolve_predicates, scan_blocks
from ..engine.manifest import _MANIFEST_SCHEMA, META_KEY
from ..engine.schema import PART_ID


def _manifest_stream(spark, manifest_path: str):
    return (spark.readStream.schema(_MANIFEST_SCHEMA)
            .parquet(manifest_path)
            .filter(f"column = '{META_KEY}'"))  # one row per committed run


def _run_stream(spark, manifest_path: str, write_run, checkpoint_path: str,
                trigger_seconds: int | None):
    """readStream(manifest) -> ``write_run(run)`` for each newly
    committed run, in run order.  Returns the StreamingQuery."""

    def handle(batch_df, epoch_id: int) -> None:
        for run in sorted(r["run_id"] for r in
                          batch_df.select("run_id").distinct().collect()):
            write_run(run)

    writer = (_manifest_stream(spark, manifest_path).writeStream
              .foreachBatch(handle)
              .option("checkpointLocation", checkpoint_path)
              .outputMode("append"))
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def _core_stream(spark, blocks_path: str, manifest_path: str, out_path: str,
                 checkpoint_path: str, predicate, trigger_seconds,
                 dims: list[str], values: list[tuple], sink: tuple):
    """Per-run partials of the batch aggregate core, written under their
    stable on-disk sink columns (``sink``: SQL select expressions over
    the core's partial columns), so files written by earlier versions
    keep folding."""
    def write_run(run: str) -> None:
        (aggmod._partials(spark, blocks_path, manifest_path, predicate,
                          dims, values, run_ids=[run])
         .selectExpr(PART_ID, *sink)
         .write.mode("overwrite").parquet(f"{out_path}/run_id={run}"))

    return _run_stream(spark, manifest_path, write_run, checkpoint_path,
                       trigger_seconds)


def _live(spark, out_path: str, manifest_path: str, *core) -> DataFrame:
    """The sink's partials under the manifest's CURRENT valid pairs
    (superseded runs and stale sink directories drop out), mapped back
    to the core's partial columns by the ``core`` select expressions."""
    partials = spark.read.parquet(out_path)
    valid = manifestmod.valid_pairs_df(spark, manifest_path)
    live = partials.join(F.broadcast(valid), [PART_ID, "run_id"], "inner")
    return live.selectExpr(*core) if core else live


# on-disk sink columns <-> the aggregate core's partial columns
_SUM_SINK = ("s_l0 AS s_l", "s_d0 AS s_d", "is_f0 AS is_f", "cnt AS rows",
             "cnt - nv0 AS nulls")
_SUM_CORE = ("s_l AS s_l0", "s_d AS s_d0", "is_f AS is_f0", "rows AS cnt",
             "rows - nulls AS nv0")
_DEC_SINK = ("s_dec0 AS s_dec", "cnt AS rows", "cnt - nv0 AS nulls")
_DEC_CORE = ("s_dec AS s_dec0", "rows AS cnt", "rows - nulls AS nv0")
_VC_SINK = ("g0 AS value", "cnt")
_VC_CORE = ("value AS g0", "cnt")
_GSUM_SINK = ("g0 AS value", "cnt", "nv0 AS nv", "s_l0 AS s_l",
              "s_d0 AS s_d", "is_f0 AS is_f")
_GSUM_CORE = ("value AS g0", "cnt", "nv AS nv0", "s_l AS s_l0",
              "s_d AS s_d0", "is_f AS is_f0")


def sum_stream(
    spark,
    blocks_path: str,
    manifest_path: str,
    column: str,
    out_path: str,
    checkpoint_path: str,
    predicate=None,
    trigger_seconds: int | None = None,
):
    """readStream(manifest) -> per-run compressed-domain SUM partials ->
    parquet sink keyed by run.  Read the running total with
    ``read_sum``.  Returns the StreamingQuery.  Decimal columns write
    exact unscaled decimal(38,0) partials (the core's decimal lane) —
    the incremental total stays digit-exact, same as batch
    ``column_sum``."""
    dec = _decimal_scale(spark, manifest_path, column) is not None
    return _core_stream(spark, blocks_path, manifest_path, out_path,
                        checkpoint_path, predicate, trigger_seconds, [],
                        [(column, ("dec",) if dec else ("sum",))],
                        _DEC_SINK if dec else _SUM_SINK)


def _decimal_scale(spark, manifest_path: str, column: str) -> int | None:
    """Scale of ``column`` when it is decimal, else None."""
    meta = manifestmod.table_meta(spark, manifest_path)
    return aggmod._scale(aggmod._fields(meta)[column].dataType)


def read_sum(spark, out_path: str, manifest_path: str,
             column: str) -> DataFrame:
    """Fold the sink's per-run partials into the current one-row
    column_sum result, honoring the manifest's CURRENT valid pairs
    (superseded runs drop out).  Decimal sinks (s_dec partials) fold in
    the unscaled decimal domain and rescale once — digit-exact."""
    live, scale = _live(spark, out_path, manifest_path), None
    if "s_dec" in live.columns:
        scale = _decimal_scale(spark, manifest_path, column)
        if scale is None:
            raise TypeError(
                f"sink at {out_path} holds decimal partials but {column} "
                "is not a decimal column in the manifest schema")
    live = live.selectExpr(*(_SUM_CORE if scale is None else _DEC_CORE))
    return aggmod._sum_shape(aggmod._fold(live), column, scale)


def value_counts_stream(
    spark,
    blocks_path: str,
    manifest_path: str,
    column: str,
    out_path: str,
    checkpoint_path: str,
    predicate=None,
    trigger_seconds: int | None = None,
):
    """readStream(manifest) -> per-run (part_id, value, cnt) partial
    histograms -> parquet sink keyed by run.  Read the running GROUP BY
    with ``read_value_counts``.  Returns the StreamingQuery."""
    return _core_stream(spark, blocks_path, manifest_path, out_path,
                        checkpoint_path, predicate, trigger_seconds,
                        [column], [], _VC_SINK)


def read_value_counts(spark, out_path: str, manifest_path: str) -> DataFrame:
    """Fold the sink's per-run histogram partials into the current
    (value, cnt) GROUP BY result under the manifest's valid pairs."""
    live = _live(spark, out_path, manifest_path, *_VC_CORE)
    return aggmod._fold(live).select(F.col("g0").alias("value"), "cnt")


def distinct_stream(
    spark,
    blocks_path: str,
    manifest_path: str,
    column: str,
    out_path: str,
    checkpoint_path: str,
    p: int = 14,
    predicate=None,
    trigger_seconds: int | None = None,
):
    """readStream(manifest) -> per-run HyperLogLog register partials
    (one 2^p-byte row per (part_id, run_id)) -> parquet sink keyed by
    run.  The running COUNT(DISTINCT) estimate never rescans old runs:
    registers merge commutatively (elementwise max), so ``read_distinct``
    folds n_runs x n_parts constant-size rows.  Exactly-once per run by
    the same run-keyed overwrite contract as sum_stream.  Returns the
    StreamingQuery."""
    def write_run(run: str) -> None:
        meta = manifestmod.table_meta(spark, manifest_path)
        predicates = resolve_predicates(meta, predicate)
        blocks = scan_blocks(spark, blocks_path, manifest_path, meta,
                             [column], predicates, run_ids=[run])
        (aggmod._hll_partials(blocks, predicates, column, p)
         .write.mode("overwrite").parquet(f"{out_path}/run_id={run}"))

    return _run_stream(spark, manifest_path, write_run, checkpoint_path,
                       trigger_seconds)


def read_distinct(spark, out_path: str, manifest_path: str,
                  column: str, p: int = 14) -> DataFrame:
    """Fold the sink's per-run HLL partials into the current one-row
    column_distinct_approx result under the manifest's valid pairs
    (superseded runs drop out; the estimate is bit-identical to the
    batch operator on the same live data, since register merge is
    commutative and the hashes are fixed)."""
    return aggmod._fold_hll(_live(spark, out_path, manifest_path), column, p)


def quantile_stream(
    spark,
    blocks_path: str,
    manifest_path: str,
    column: str,
    out_path: str,
    checkpoint_path: str,
    k: int = 256,
    task_k: int = 4096,
    predicate=None,
    trigger_seconds: int | None = None,
):
    """readStream(manifest) -> per-run equi-depth summary partials
    (one (vs, ws) row per (part_id, run_id)) -> parquet sink keyed by
    run.  Summaries merge by weighted concatenation — regrouping only
    refines them — so ``read_quantiles`` folds n_runs x n_parts tiny
    rows into current percentiles without rescanning old runs.
    Exactly-once per run by the same run-keyed overwrite contract as
    sum_stream.  Returns the StreamingQuery."""
    def write_run(run: str) -> None:
        meta = manifestmod.table_meta(spark, manifest_path)
        predicates = resolve_predicates(meta, predicate)
        blocks = scan_blocks(spark, blocks_path, manifest_path, meta,
                             [column], predicates, run_ids=[run])
        (aggmod._quantile_partials(blocks, predicates, column, k, task_k)
         .write.mode("overwrite").parquet(f"{out_path}/run_id={run}"))

    return _run_stream(spark, manifest_path, write_run, checkpoint_path,
                       trigger_seconds)


def read_quantiles(spark, out_path: str, manifest_path: str,
                   column: str, probs=(0.25, 0.5, 0.75)) -> DataFrame:
    """Fold the sink's per-run summary partials into the current
    column_quantiles result under the manifest's valid pairs
    (superseded runs drop out)."""
    return aggmod._fold_quantiles(_live(spark, out_path, manifest_path),
                                  column, aggmod._probs(probs))


def grouped_sum_stream(
    spark,
    blocks_path: str,
    manifest_path: str,
    group_column: str,
    value_column: str,
    out_path: str,
    checkpoint_path: str,
    predicate=None,
    trigger_seconds: int | None = None,
):
    """readStream(manifest) -> per-run grouped-sum partials (one
    (part_id, group value, cnt, nv, s_l, s_d, is_f) row per (block,
    group)) -> parquet sink keyed by run.  The running GROUP BY ... SUM
    never rescans old runs: ``read_grouped_sum`` folds n_runs x n_parts
    x n_groups tiny rows.  Exactly-once per run by the same run-keyed
    overwrite contract as sum_stream.  Decimal value columns are not
    supported on this path (batch ``grouped_sum`` folds decimals in
    exact unscaled partials) — use ``sum_stream`` per group or the
    batch operator.  Returns the StreamingQuery."""
    if _decimal_scale(spark, manifest_path, value_column) is not None:
        raise NotImplementedError(
            "grouped_sum_stream over decimal value columns is not "
            "supported; use batch grouped_sum or sum_stream per group")
    return _core_stream(spark, blocks_path, manifest_path, out_path,
                        checkpoint_path, predicate, trigger_seconds,
                        [group_column], [(value_column, ("sum",))],
                        _GSUM_SINK)


def read_grouped_sum(spark, out_path: str, manifest_path: str) -> DataFrame:
    """Fold the sink's per-run grouped-sum partials into the current
    (value, sum_value, cnt) result under the manifest's valid pairs
    (superseded runs drop out) — identical to batch ``grouped_sum`` on
    the same live data."""
    live = _live(spark, out_path, manifest_path, *_GSUM_CORE)
    return aggmod._gsum_shape(aggmod._fold(live), None)
