"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship slice: encode the sf0.001
``documents`` table with the boltspark engine, decode it back, and
return a per-language verification DataFrame (counts + sha256
mismatches, which must be zero).

``queries()`` / ``oracle_sql()`` cover the DuckDB-checkable operators
from SURVEY.md §2: round-trip equality, predicate-filtered decode
(zone-map + dictionary pushdown), codec-selector statistics, run-length
statistics, null-aware filter semantics, and the manifest bookkeeping.
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

SF0001 = "/root/testdata/sf0.001"


def _ship(spark: SparkSession) -> None:
    try:
        from boltspark.engine.shipping import ship_package

        ship_package(spark)
    except Exception:
        pass  # already shipped or running from the repo root


def _encode_decode_documents(spark: SparkSession, sf_dir: str, predicate=None,
                             columns=None):
    from boltspark.engine import decode_table, encode_table

    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = tempfile.mkdtemp(prefix="boltspark_entry_")
    encode_table(
        docs, f"{d}/blocks", f"{d}/manifest",
        key_cols=("doc_id",), target_partition_bytes=4 << 20, resume=False,
    )
    return docs, decode_table(spark, f"{d}/blocks", f"{d}/manifest",
                              columns=columns, predicate=predicate)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: encode documents -> decode -> per-lang sha256 verification."""
    docs, decoded = _encode_decode_documents(spark, SF0001)
    orig = docs.select("doc_id", F.sha2(F.coalesce(F.col("text"), F.lit("")), 256).alias("h0"),
                       "lang")
    back = decoded.select("doc_id", F.sha2(F.coalesce(F.col("text"), F.lit("")), 256).alias("h1"))
    joined = orig.join(back, "doc_id", "full_outer")
    return (
        joined.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(
                    F.col("h0").isNull() | F.col("h1").isNull()
                    | (F.col("h0") != F.col("h1")), 1
                ).otherwise(0)
            ).alias("n_mismatch"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# queries / oracles
# ---------------------------------------------------------------------------


def _q_roundtrip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine round-trip: decoded output must match DuckDB reading the
    original table directly (full content equality via the value hash)."""
    _, decoded = _encode_decode_documents(spark, sf_dir)
    return decoded.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text", "lang", "source",
        F.col("n_chars").cast("long").alias("n_chars"),
    )


def _q_decode_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-pushdown decode for BOTH numeric predicate classes in
    one entry (round-5 consolidation of decode_range_filter +
    decode_float_range): tag 'int' = integer range over
    documents.n_chars (zone maps skip blocks, the mask gates the other
    columns — the reference's read_with_filter cascade); tag 'float' =
    float range over events.value (float_point_range_filter.rs:23-231)."""
    from boltspark.engine import decode_table, encode_table
    from boltspark.engine.filters import RangePredicate

    pred_i = RangePredicate(column="n_chars", lower=200, upper=900,
                            null_allowed=False)
    _, decoded = _encode_decode_documents(
        spark, sf_dir, predicate=pred_i, columns=["doc_id", "n_chars"])
    ints = decoded.select(
        F.lit("int").alias("tag"),
        F.col("doc_id").cast("long").alias("rid"),
        F.col("n_chars").cast("double").alias("val"),
    )
    _ship(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "value")
    d = tempfile.mkdtemp(prefix="boltspark_frange_")
    encode_table(ev, f"{d}/blocks", f"{d}/manifest", key_cols=("event_id",),
                 target_partition_bytes=4 << 20, resume=False)
    pred_f = RangePredicate(column="value", lower=100.5, upper=300.25)
    floats = decode_table(spark, f"{d}/blocks", f"{d}/manifest",
                          predicate=pred_f).select(
        F.lit("float").alias("tag"),
        F.col("event_id").cast("long").alias("rid"),
        F.round(F.col("value"), 6).alias("val"),
    )
    return ints.unionAll(floats)


def _q_decode_null_allowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-aware predicate semantics (fixed_length_filter.rs ternary
    rule): null_allowed=True keeps NULL rows alongside range survivors."""
    from boltspark.engine.filters import RangePredicate

    pred = RangePredicate(column="n_chars", lower=500, upper=None,
                          null_allowed=True)
    _, decoded = _encode_decode_documents(
        spark, sf_dir, predicate=pred, columns=["doc_id", "n_chars"])
    return decoded.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


def _q_decode_dict_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-level string predicate pushdown, three shapes over ONE
    encoded table: tag 'eq' = lang = 'en' (reference #16 made real for
    byte arrays); tag 'has1' = source LIKE '%1%' (BytesContainsPredicate
    — byte-level substring evaluated once per dictionary DISTINCT, round
    5); tag 'end3' = source LIKE '%3' (BytesSuffixPredicate).  Substring
    and suffix have no order relation, so zone maps can't prune — the
    dictionary path is exactly what makes them cheap."""
    from boltspark.engine import decode_table, encode_table
    from boltspark.engine.filters import (BytesContainsPredicate,
                                          BytesEqPredicate,
                                          BytesSuffixPredicate)

    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = tempfile.mkdtemp(prefix="boltspark_dicteq_")
    encode_table(docs, f"{d}/blocks", f"{d}/manifest", key_cols=("doc_id",),
                 target_partition_bytes=4 << 20, resume=False)

    def leg(tag: str, pred, col: str) -> DataFrame:
        out = decode_table(spark, f"{d}/blocks", f"{d}/manifest",
                           columns=["doc_id", col], predicate=pred)
        return out.select(F.lit(tag).alias("tag"),
                          F.col("doc_id").cast("long").alias("doc_id"),
                          F.col(col).alias("val"))

    from boltspark.engine.filters import BytesRangePredicate

    return (
        leg("eq", BytesEqPredicate(column="lang", value=b"en"), "lang")
        .unionAll(leg("has1", BytesContainsPredicate(column="source",
                                                     needle=b"1"), "source"))
        .unionAll(leg("end3", BytesSuffixPredicate(column="source",
                                                   suffix=b"3"), "source"))
        # round-5 tag 'rng': lexicographic byte range (src12 <= s < src17)
        # — BytesRangePredicate, prefix zone bounds prune
        .unionAll(leg("rng", BytesRangePredicate(
            column="source", lower=b"src12", upper=b"src17",
            upper_inclusive=False), "source")))


def _q_decode_or_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite predicates (round 5): tag 'or' = CROSS-COLUMN
    disjunction n_chars <= 150 OR lang = 'en' — the one filter shape
    the conjunctive cascade cannot express; each disjunct keeps its own
    zone-map/dictionary short-circuits and the JVM prefilter drops
    groups dead on BOTH disjuncts (engine/filters.py::OrPredicate).
    tag 'neq' = lang <> 'en' (NotPredicate over the dictionary-coded
    equality — zone verdicts invert exactly, so a block whose zone
    proves every value is 'en' is skipped unopened).  tag 'nrange' =
    NOT (n_chars BETWEEN 100 AND 500)."""
    from boltspark.engine import decode_table, encode_table
    from boltspark.engine.filters import (BytesEqPredicate, NotPredicate,
                                          OrPredicate, RangePredicate)

    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = tempfile.mkdtemp(prefix="boltspark_ornot_")
    encode_table(docs, f"{d}/blocks", f"{d}/manifest", key_cols=("doc_id",),
                 target_partition_bytes=4 << 20, resume=False)

    def leg(tag: str, pred) -> DataFrame:
        out = decode_table(spark, f"{d}/blocks", f"{d}/manifest",
                           columns=["doc_id", "lang", "n_chars"],
                           predicate=pred)
        return out.select(F.lit(tag).alias("tag"),
                          F.col("doc_id").cast("long").alias("doc_id"),
                          F.col("lang").alias("lang"),
                          F.col("n_chars").cast("long").alias("n_chars"))

    return (
        leg("or", OrPredicate([
            RangePredicate(column="n_chars", upper=150),
            BytesEqPredicate(column="lang", value=b"en")]))
        .unionAll(leg("neq", NotPredicate(
            BytesEqPredicate(column="lang", value=b"en"))))
        .unionAll(leg("nrange", NotPredicate(
            RangePredicate(column="n_chars", lower=100, upper=500)))))


def _q_dsv2_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark-native DSv2 read surface in ONE entry (round-5
    consolidation of dsv2_filtered_read + dsv2_map_read):
    spark.read.format('boltspark') with pushed filters (EqualTo on a
    dict-coded string + range on the key, -> engine predicates,
    enforced exactly incl. the Spark 4.1 filter-replay sharp edge:
    fresh load() per query shape — sources/datasource.py) AND a
    map<string,long> column reassembled by the reader from its
    #keys/#vals leaves (null map vs empty map preserved).  Output
    exploded to (doc_id, lang, key, value) rows."""
    from boltspark.engine import encode_table
    from boltspark.sources import datasource as ds

    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.when(F.col("n_chars").isNotNull(), F.create_map(
            F.lit("n_chars"), F.col("n_chars").cast("long"),
            F.lit("n2"), (F.col("n_chars") * 2).cast("long"),
        )).alias("props"),
    )
    d = tempfile.mkdtemp(prefix="boltspark_dsv2_")
    encode_table(src, f"{d}/blocks", f"{d}/manifest", key_cols=("doc_id",),
                 target_partition_bytes=4 << 20, resume=False)
    r = ds.load(spark, f"{d}/blocks", f"{d}/manifest")
    return (r.filter((F.col("lang") == "en") & (F.col("doc_id") <= 250))
            .select("doc_id", "lang",
                    F.explode_outer("props").alias("key", "value"))
            .select("doc_id", "lang", "key",
                    F.col("value").cast("long").alias("value")))


def _q_manifest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only table statistics in ONE entry (round-5
    consolidation of stats_minmax + manifest_rowcounts): per-column
    MIN/MAX aggregated from the zone-map stats leaves alone — the scan
    never reads a payload byte (footer-Statistics analog,
    parquet_metadata_thrift.rs:657) — joined against the checkpoint
    manifest's per-column row counts, which must equal the table's row
    count (the bookkeeping invariant)."""
    from boltspark.engine import encode_table
    from boltspark.engine.stats import zone_minmax

    _ship(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "value")
    d = tempfile.mkdtemp(prefix="boltspark_minmax_")
    encode_table(ev, f"{d}/blocks", f"{d}/manifest", key_cols=("event_id",),
                 target_partition_bytes=4 << 20, resume=False)
    mm = zone_minmax(spark, f"{d}/blocks", f"{d}/manifest")
    man = spark.read.parquet(f"{d}/manifest")
    mrows = (man.filter(F.col("column") != "__table_meta__")
             .groupBy("column").agg(F.sum("n_rows").alias("manifest_rows")))
    return mm.join(mrows, "column", "inner").select(
        "column", F.round("vmin", 6).alias("vmin"),
        F.round("vmax", 6).alias("vmax"), "n_rows", "manifest_rows",
        "has_null").orderBy("column")


def _q_selector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-selector statistics as a declarative aggregation: distinct
    count, distinct ratio and average byte length per string column."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    parts = []
    for c in ("lang", "source", "text"):
        parts.append(
            docs.agg(
                F.lit(c).alias("column"),
                F.count(F.lit(1)).alias("n"),
                F.count_distinct(F.col(c)).alias("n_distinct"),
                F.avg(F.octet_length(F.col(c))).alias("avg_len"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("column")


def _q_run_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean run length of lineitem.l_returnflag in (l_orderkey,
    l_linenumber) order — the statistic the selector uses to pick RLE."""
    from pyspark.sql import Window

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    w = Window.orderBy("l_orderkey", "l_linenumber")
    runs = li.select(
        "l_returnflag",
        F.lag("l_returnflag").over(w).alias("prev"),
    ).select(
        (F.col("prev").isNull() | (F.col("l_returnflag") != F.col("prev")))
        .cast("long").alias("is_start")
    )
    return runs.agg(
        F.count(F.lit(1)).alias("n_values"),
        F.sum("is_start").cast("long").alias("n_runs"),
        (F.count(F.lit(1)) / F.sum("is_start")).alias("mean_run_length"),
    )


def _q_roundtrip_nullable_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array<float> embeddings through the engine (kernels/lists.py),
    WITH null elements INSIDE list values (element-validity bitmap —
    the def-level-at-depth case the reference refuses,
    rep_def_parser.rs:36-46): every (vec_id+idx)%97==0 element nulled.
    The label column rides along so the plain fixed-width path is
    pinned by the same oracle (round-5 consolidation of the former
    roundtrip_embeddings query — same decode machinery, one entry)."""
    from boltspark.engine import decode_table, encode_table

    _ship(spark)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "label",
        F.transform(
            "embedding",
            lambda x, i: F.when((F.col("vec_id") + i) % 97 == 0,
                                F.lit(None)).otherwise(x),
        ).alias("embedding"),
    )
    d = tempfile.mkdtemp(prefix="boltspark_nulllist_")
    encode_table(emb, f"{d}/blocks", f"{d}/manifest", key_cols=("vec_id",),
                 target_partition_bytes=4 << 20, resume=False)
    back = decode_table(spark, f"{d}/blocks", f"{d}/manifest")
    return back.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("label").cast("long").alias("label"),
        F.posexplode("embedding").alias("idx", "val"),
    ).select("vec_id", "label", F.col("idx").cast("long").alias("idx"),
             F.col("val").cast("double").alias("val"))


def _q_roundtrip_string_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array<string> columns (lbytes list codec: hybrid-RLE lengths +
    selector-coded flattened byte stream): null arrays and element order
    round-trip exactly; output exploded for the oracle."""
    from boltspark.engine import decode_table, encode_table

    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.when(F.col("n_chars").isNotNull(),
               F.split(F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 64),
                       " ")).alias("tags"),
    )
    d = tempfile.mkdtemp(prefix="boltspark_strlist_")
    encode_table(src, f"{d}/blocks", f"{d}/manifest", key_cols=("doc_id",),
                 target_partition_bytes=4 << 20, resume=False)
    back = decode_table(spark, f"{d}/blocks", f"{d}/manifest")
    return back.select(
        "doc_id", F.posexplode_outer("tags").alias("pos", "tag")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "tag")


def _q_roundtrip_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map<string,long> columns: flatten to two aligned list leaves
    (engine/nest.py), rebuild with map_from_arrays; null map vs empty
    map preserved.  Output exploded to (key, value) rows."""
    from boltspark.engine import decode_table, encode_table

    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.when(F.col("n_chars").isNotNull(), F.create_map(
            F.lit("n_chars"), F.col("n_chars").cast("long"),
            F.lit("n2"), (F.col("n_chars") * 2).cast("long"),
        )).alias("props"),
    )
    d = tempfile.mkdtemp(prefix="boltspark_map_")
    encode_table(src, f"{d}/blocks", f"{d}/manifest", key_cols=("doc_id",),
                 target_partition_bytes=4 << 20, resume=False)
    back = decode_table(spark, f"{d}/blocks", f"{d}/manifest")
    return back.select(
        "doc_id", F.explode_outer("props").alias("key", "value")
    ).select("doc_id", "key", F.col("value").cast("long").alias("value"))


def _q_array_contains_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership predicate over an encoded array<string> column
    (ArrayContainsPredicate): rows whose tag list contains 'the',
    evaluated inside the decode cascade (null rows excluded)."""
    from boltspark.engine import decode_table, encode_table
    from boltspark.engine.filters import ArrayContainsPredicate

    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split(F.lower(F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 120)),
                " ").alias("tags"),
    )
    d = tempfile.mkdtemp(prefix="boltspark_arrc_")
    encode_table(src, f"{d}/blocks", f"{d}/manifest", key_cols=("doc_id",),
                 target_partition_bytes=4 << 20, resume=False)
    pred = ArrayContainsPredicate(column="tags", value=b"the")
    return decode_table(spark, f"{d}/blocks", f"{d}/manifest",
                        columns=["doc_id"], predicate=pred)


def _q_roundtrip_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decimal(12,2) scaled-int64 storage, exact round-trip (the
    reference rejects decimals: primitive_column_reader.rs:450-455)."""
    from boltspark.engine import decode_table, encode_table

    _ship(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dfd = li.select(
        "l_orderkey", "l_linenumber",
        F.col("l_quantity").cast("decimal(12,2)").alias("qty_dec"),
        F.col("l_discount").cast("decimal(12,2)").alias("disc_dec"),
    )
    d = tempfile.mkdtemp(prefix="boltspark_dec_")
    encode_table(dfd, f"{d}/blocks", f"{d}/manifest",
                 key_cols=("l_orderkey", "l_linenumber"),
                 target_partition_bytes=4 << 20, resume=False)
    back = decode_table(spark, f"{d}/blocks", f"{d}/manifest")
    return back.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        F.col("qty_dec").cast("double").alias("qty"),
        F.col("disc_dec").cast("double").alias("disc"),
    )


def _q_roundtrip_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array<struct<start,end>> (tokenized-span shape) round-trip: the
    struct elements flatten to parallel list leaves sharing one offsets
    stream + an element-validity leaf (engine/nest.py), rebuild via
    arrays_zip — all JVM-side.  The reference refuses ALL nested data
    (rep_def_parser.rs:36-46).  Null lists, empty lists and null
    elements are all distinct; output exploded to rows."""
    from boltspark.engine import decode_table, encode_table

    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.when(F.col("doc_id") % 13 == 0, F.lit(None))
        .otherwise(F.transform(
            F.sequence(F.lit(0), (F.col("doc_id") % 4).cast("int")),
            lambda i: F.when(i % 5 != 2, F.struct(
                (F.col("doc_id") * 10 + i).cast("int").alias("start"),
                (F.col("doc_id") * 10 + i * 2).cast("int").alias("end"),
            )))).alias("spans"),
    )
    d = tempfile.mkdtemp(prefix="boltspark_spans_")
    encode_table(src, f"{d}/blocks", f"{d}/manifest", key_cols=("doc_id",),
                 target_partition_bytes=4 << 20, resume=False)
    back = decode_table(spark, f"{d}/blocks", f"{d}/manifest")
    return (back.select("doc_id", F.posexplode_outer("spans").alias("pos", "s"))
            .select("doc_id", F.col("pos").cast("long").alias("pos"),
                    F.col("s.start").cast("long").alias("s_start"),
                    F.col("s.end").cast("long").alias("s_end")))


def _q_roundtrip_nested_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array<array<int>> (nested token spans) round-trip: inner-lengths
    leaf + flattened element stream (engine/nest.py), re-sliced JVM-side
    on decode.  The corpus is formulaic, so the oracle recomputes the
    same per-doc aggregates (outer size, null-inner count, element
    count, value sum, null-scalar count) from doc_id arithmetic — any
    mis-slice or lost null shifts at least one aggregate."""
    from boltspark.engine import decode_table, encode_table

    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    src = docs.select(
        did.cast("long").alias("doc_id"),
        F.when(did % 13 == 0, F.lit(None))
        .otherwise(F.transform(
            F.sequence(F.lit(0), (did % 4).cast("int")),
            lambda i: F.when(i % 5 != 2, F.transform(
                F.sequence(F.lit(0), i),
                lambda j: F.when(j % 3 != 1, (did * 10 + j).cast("int"))))))
        .alias("toks"),
    )
    d = tempfile.mkdtemp(prefix="boltspark_nested_")
    encode_table(src, f"{d}/blocks", f"{d}/manifest", key_cols=("doc_id",),
                 target_partition_bytes=4 << 20, resume=False)
    back = decode_table(spark, f"{d}/blocks", f"{d}/manifest")
    toks = F.col("toks")
    nn = F.filter(toks, lambda x: x.isNotNull())
    flat = F.flatten(nn)
    return back.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_outer"),
        F.size(F.filter(toks, lambda x: x.isNull())).cast("long")
        .alias("n_null_inner"),
        F.size(flat).cast("long").alias("n_elems"),
        F.aggregate(F.filter(flat, lambda v: v.isNotNull()),
                    F.lit(0).cast("long"), lambda acc, v: acc + v)
        .alias("sum_vals"),
        F.size(F.filter(flat, lambda v: v.isNull())).cast("long")
        .alias("n_null_scalars"),
    ).orderBy("doc_id")


def _q_roundtrip_decimal38(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decimal(38,4) storage, ONE encode, TWO decodes (round-5
    consolidation of roundtrip_decimal38 + decimal38_filter):

    * tag 'all' — full round-trip of the 128-bit two's-complement word
      pair (tag 'd128', word-plane plain storage, engine/schema.py +
      kernels/block.py); |v| ~ 6e22 needs the high word, alternating
      sign exercises the carry;
    * tag 'pos' — Decimal128RangePredicate over the positive band
      [0, 3e22] (signed-128 lexicographic compare on (lo, hi) pairs
      with UNSCALED int bounds — the high word matters on both sides).

    Output as strings so both engines print exact unscaled digits."""
    from boltspark.engine import decode_table, encode_table
    from boltspark.engine.filters import Decimal128RangePredicate

    _ship(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dfd = li.select(
        "l_orderkey", "l_linenumber",
        F.expr(
            "CAST((CAST(l_orderkey AS DECIMAL(38,0)) * 1000000000000000000 "
            "+ l_partkey) * CASE WHEN l_linenumber % 2 = 0 THEN -1 ELSE 1 END "
            "AS DECIMAL(38,4))").alias("big_dec"),
    )
    d = tempfile.mkdtemp(prefix="boltspark_dec38_")
    encode_table(dfd, f"{d}/blocks", f"{d}/manifest",
                 key_cols=("l_orderkey", "l_linenumber"),
                 target_partition_bytes=4 << 20, resume=False)
    out_cols = ["l_orderkey",
                F.col("l_linenumber").cast("long").alias("l_linenumber"),
                F.col("big_dec").cast("string").alias("big_str")]
    full = decode_table(spark, f"{d}/blocks", f"{d}/manifest").select(
        F.lit("all").alias("tag"), *out_cols)
    pred = Decimal128RangePredicate(
        column="big_dec", lower=0, upper=30000 * 10**18 * 10**4)
    pos = decode_table(spark, f"{d}/blocks", f"{d}/manifest",
                       predicate=pred).select(
        F.lit("pos").alias("tag"), *out_cols)
    return full.unionAll(pos)


def _encode_events_flags(spark: SparkSession, sf_dir: str) -> str:
    """Shared helper: events with derived boolean columns, encoded."""
    from boltspark.engine import encode_table

    _ship(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "value",
        (F.col("value") > 245.0).alias("is_big"),
        (F.col("event_type") == "click").alias("is_click"),
    )
    d = tempfile.mkdtemp(prefix="boltspark_flags_")
    encode_table(ev, f"{d}/blocks", f"{d}/manifest", key_cols=("event_id",),
                 target_partition_bytes=4 << 20, resume=False)
    return d


def _q_roundtrip_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean decode (bit-unpack) with oracle evidence — reference
    boolean_data_page_v1.rs:100-263 tests the same physical path."""
    from boltspark.engine import decode_table

    d = _encode_events_flags(spark, sf_dir)
    return decode_table(spark, f"{d}/blocks", f"{d}/manifest").select(
        "event_id", "is_big", "is_click")


def _q_decode_bool_const(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BooleanPredicate pushdown (boolean_filter.rs:21-75) PLUS the
    const accept-all / reject-all predicates (const_filter.rs:21-135)
    over ONE encoded table (round-5 consolidation of decode_bool_eq +
    decode_const_pred): tag 'click' = rows passing is_click == true;
    tag 'all' = const-true decode (every event id exactly once, after
    the const-false decode unions in zero rows)."""
    from boltspark.engine import decode_table
    from boltspark.engine.filters import BooleanPredicate, ConstPredicate

    d = _encode_events_flags(spark, sf_dir)
    clicks = decode_table(
        spark, f"{d}/blocks", f"{d}/manifest",
        columns=["event_id", "is_big"],
        predicate=BooleanPredicate(column="is_click", value=True),
    ).select(F.lit("click").alias("tag"), "event_id", "is_big")
    # const rows carry a definite is_big=false: a NULL here would be
    # the only null boolean in the result and the driver's canon()
    # str-hashes Spark None and DuckDB NaN differently
    keep_all = decode_table(
        spark, f"{d}/blocks", f"{d}/manifest", columns=["event_id"],
        predicate=ConstPredicate(column="value", accept=True),
    ).select(F.lit("all").alias("tag"), "event_id",
             F.lit(False).alias("is_big"))
    drop_all = decode_table(
        spark, f"{d}/blocks", f"{d}/manifest", columns=["event_id"],
        predicate=ConstPredicate(column="value", accept=False),
    ).select(F.lit("all").alias("tag"), "event_id",
             F.lit(False).alias("is_big"))
    return clicks.unionAll(keep_all).unionAll(drop_all)


def _q_point_query_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-group skip analog (#6, local_file_reader.rs:126-171): decode
    exactly one partition by id and verify its contents against the
    source table.  The partition hash is not SQL-portable, so the oracle
    pins the three verification invariants instead of the row set."""
    from boltspark.engine import decode_table, encode_table

    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = tempfile.mkdtemp(prefix="boltspark_point_")
    res = encode_table(docs, f"{d}/blocks", f"{d}/manifest", key_cols=("doc_id",),
                       target_partition_bytes=4 << 20, resume=False)
    target_doc = 1
    pid = docs.select(
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(res.n_partitions)).alias("p")
    ).filter(F.col("doc_id") == target_doc).first()["p"]
    part = decode_table(spark, f"{d}/blocks", f"{d}/manifest",
                        columns=["doc_id", "text"], part_ids=[int(pid)])
    orig = docs.select("doc_id", F.sha2(F.coalesce(F.col("text"), F.lit("")), 256).alias("h0"))
    back = part.select("doc_id", F.sha2(F.coalesce(F.col("text"), F.lit("")), 256).alias("h1"))
    j = back.join(orig, "doc_id", "left")
    return j.agg(
        (F.count(F.lit(1)) > 0).alias("has_rows"),
        F.sum(F.when(F.col("h0").isNull() | (F.col("h0") != F.col("h1")), 1)
              .otherwise(0)).cast("long").alias("n_mismatch"),
        F.max(F.when(F.col("doc_id") == target_doc, True).otherwise(False))
        .alias("contains_target"),
    )


def _q_point_query_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mid-partition point query (row_range): rows [k, k+n) of one
    partition in encode order must equal the k..k+n smallest doc_ids of
    that partition with bit-identical text (partition rows are sorted by
    key).  Partition hashes are not SQL-portable, so the oracle pins the
    verification invariants (the point_query_partition pattern).

    n_parts is pinned to 8 so the fixture is parallelism-independent:
    encode_table would otherwise derive n_parts from defaultParallelism
    (partitioner.num_partitions), and at local[32] the 500-row sf0.01
    table splits into partitions smaller than k+n rows, truncating the
    slice (the round-3 CORRECTNESS red).  pmod(xxhash64(doc_id), 8) is
    deterministic, so partition 1's membership never varies."""
    from boltspark.engine import decode_table, encode_table

    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = tempfile.mkdtemp(prefix="boltspark_rowrange_")
    res = encode_table(docs, f"{d}/blocks", f"{d}/manifest", key_cols=("doc_id",),
                       n_parts=8, target_partition_bytes=4 << 20,
                       block_bytes=16 << 10, resume=False)
    pid, k, n = 1, 5, 12
    part = docs.withColumn(
        "p", F.pmod(F.xxhash64("doc_id"), F.lit(res.n_partitions))
    ).filter(F.col("p") == pid)
    from pyspark.sql import Window

    w = Window.orderBy("doc_id")
    exp = (part.select("doc_id", "text", (F.row_number().over(w) - 1).alias("pos"))
           .filter((F.col("pos") >= k) & (F.col("pos") < k + n)))
    got = decode_table(spark, f"{d}/blocks", f"{d}/manifest",
                       columns=["doc_id", "text"], part_ids=[pid],
                       row_range=(k, k + n))
    je = exp.select("doc_id", F.sha2(F.coalesce("text", F.lit("")), 256).alias("h0"))
    jg = got.select("doc_id", F.sha2(F.coalesce("text", F.lit("")), 256).alias("h1"))
    j = je.join(jg, "doc_id", "full_outer")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("h0").isNull() | F.col("h1").isNull()
                     | (F.col("h0") != F.col("h1")), 1).otherwise(0))
        .cast("long").alias("n_mismatch"),
    )


def _q_roundtrip_after_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocks compaction (engine/compact.py): two appended runs fold into
    one run with no re-encode; the compacted dataset must decode to the
    exact source table."""
    from boltspark.engine import decode_table, encode_table
    from boltspark.engine.compact import compact_blocks

    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = tempfile.mkdtemp(prefix="boltspark_compact_")
    half = F.col("doc_id") % 2
    encode_table(docs.filter(half == 0), f"{d}/b", f"{d}/m", key_cols=("doc_id",),
                 n_parts=8, resume=False, run_id="r1")
    encode_table(docs.filter(half == 1), f"{d}/b", f"{d}/m", key_cols=("doc_id",),
                 n_parts=8, resume=False, run_id="r2")
    compact_blocks(spark, f"{d}/b", f"{d}/m", f"{d}/b2", f"{d}/m2")
    back = decode_table(spark, f"{d}/b2", f"{d}/m2")
    return back.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text", "lang",
        F.col("n_chars").cast("long").alias("n_chars"))


def _q_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three pinned codecs in ONE encode (round-5 consolidation of
    fsst_roundtrip + delta_roundtrip + prefix_roundtrip — one table,
    one codec_override per column):

    * text  -> 'fsst' (kernels/fsst.py): greedy-parse symbol-table
      compression, bit-exact on real document text;
    * path  -> 'prefix' (kernels/prefix.py, DELTA_BYTE_ARRAY analog):
      front coding over path-sorted rows sharing long prefixes;
    * tsl   -> 'delta' (kernels/delta.py, DELTA_BINARY_PACKED analog):
      first value + bit-packed consecutive differences.

    sort_cols=('path',) clusters by path, and both path and tsl are
    MONOTONE in doc_id (lpad keeps the lexicographic order numeric), so
    one sort satisfies both sorted-codec preconditions.  A manifest
    codec assertion guards against a silent selector fallback making
    the pins vacuous."""
    from boltspark.engine import decode_table, encode_table

    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text",
        F.concat(F.lit("corpus/doc_"),
                 F.lpad(F.col("doc_id").cast("string"), 10, "0"),
                 F.lit(".txt")).alias("path"),
        (F.col("doc_id") * 977 + 13).cast("long").alias("tsl"),
    )
    d = tempfile.mkdtemp(prefix="boltspark_codec_")
    encode_table(src, f"{d}/blocks", f"{d}/manifest", key_cols=("doc_id",),
                 target_partition_bytes=4 << 20, resume=False,
                 sort_cols=("path",),
                 codec_override={"text": "fsst", "path": "prefix",
                                 "tsl": "delta"})
    used: dict[str, set] = {}
    for r in (spark.read.parquet(f"{d}/blocks")
              .select(F.explode(F.array(*[
                  F.struct(F.lit(c).alias("column"),
                           F.col("cols").getField(c).getField("codec")
                           .alias("codec"))
                  for c in ("text", "path", "tsl")])).alias("m"))
              .select("m.*").distinct().collect()):
        used.setdefault(r["column"], set()).add(r["codec"])
    if not ("fsst" in used.get("text", set())
            and "prefix" in used.get("path", set())
            and "delta" in used.get("tsl", set())):
        # explicit raise, not assert: python -O must not turn a silent
        # selector fallback into a vacuous pass
        raise RuntimeError(f"codec pins not honored: {used}")
    return decode_table(spark, f"{d}/blocks", f"{d}/manifest").select(
        "doc_id", "text", "path", "tsl")


# ---------------------------------------------------------------------------
# training-data pipeline queries (boltspark.pipeline)
# ---------------------------------------------------------------------------


def _q_roundtrip_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip a mixed-type table (bigint/int/double/varchar/timestamp):
    temporal columns ride as epoch integers through FoR/bitpack."""
    from boltspark.engine import decode_table, encode_table

    _ship(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    d = tempfile.mkdtemp(prefix="boltspark_li_")
    encode_table(li, f"{d}/blocks", f"{d}/manifest",
                 key_cols=("l_orderkey", "l_linenumber"),
                 target_partition_bytes=4 << 20, resume=False)
    return decode_table(spark, f"{d}/blocks", f"{d}/manifest").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    )


def _q_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip the events stream table (timestamp/double/JSON-string
    props) — the event-log shape of a training-data pipeline."""
    from boltspark.engine import decode_table, encode_table

    _ship(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    d = tempfile.mkdtemp(prefix="boltspark_ev_")
    encode_table(ev, f"{d}/blocks", f"{d}/manifest",
                 key_cols=("event_id",), target_partition_bytes=4 << 20,
                 resume=False)
    return decode_table(spark, f"{d}/blocks", f"{d}/manifest").select(
        "event_id", "ts", "user_id", "event_type", "value", "props")


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup AND duplicate-group detection over one augmented
    corpus (round-5 consolidation of exact_dedup + duplicate_groups —
    both are the same sha2 hash-groupBy machinery): 15 byte-identical
    clones of the 15 smallest non-empty docs guarantee >= 15 dup-group
    rows at any scale factor, and the oracle recomputes the SAME
    union+group-by in SQL, so natural exact-dup groups (sf0.1 has 8)
    match too — self-verifying at any SF (the reference's formulaic
    discipline, test_utils.rs:77-144).  Output: one (n_dups, min_key)
    row per duplicate group, plus a summary row (min_key = -1) whose
    n_dups is the surviving-doc count after exact_dedup of the same
    augmented corpus."""
    from boltspark.pipeline import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    seeds = (docs.filter(F.length(F.coalesce(F.col("text"), F.lit(""))) >= 1)
             .orderBy("doc_id").limit(15))
    clones = seeds.select(
        (F.col("doc_id") + _CLONE_OFFSET).alias("doc_id"), "text")
    aug = docs.unionByName(clones)
    groups = (
        dedup.duplicate_groups(aug)
        .select(F.col("n_dups").cast("long").alias("n_dups"),
                F.col("min_key").cast("long").alias("min_key"))
    )
    survivors = dedup.exact_dedup(aug, cols=["text"]).count()
    summary = spark.createDataFrame(
        [(int(survivors), -1)], "n_dups long, min_key long")
    return groups.unionByName(summary).orderBy("min_key")


def _q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from boltspark.pipeline import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = textstats.quality_features(docs, "text")
    return out.select(
        "doc_id",
        "n_tokens",
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
    ).orderBy("doc_id")


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from boltspark.pipeline import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        textstats.language_id(docs, "text")
        .groupBy("lang_pred").agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang_pred")
    )


def _q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from boltspark.pipeline import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])
    q = [(1.0 if i % 7 == 0 else 0.1) for i in range(dim)]
    topk = similarity.brute_force_topk(emb, q, k=20)
    return topk.select("vec_id", F.round("cosine", 6).alias("cosine"))


_CLONE_OFFSET = 10_000_000


def _with_planted_clones(spark: SparkSession, sf_dir: str, k: int):
    """documents UNION k planted near-duplicate clones with EXACTLY known
    ground truth (the reference's formulaic self-verifying fixture trick,
    test_utils.rs:77-144): clone text uppercases the first character —
    byte-different, but the lowercased token sequence is identical, so
    word-3-gram Jaccard is exactly 1.0 and the simhash is bit-identical
    (hamming 0).  Clone key = source key + _CLONE_OFFSET.  Seeds are the
    k smallest doc_ids with >= 100 chars (SQL-reproducible selection)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    seeds = (docs.filter(F.length(F.coalesce(F.col("text"), F.lit(""))) >= 100)
             .orderBy("doc_id").limit(k))
    clones = seeds.select(
        (F.col("doc_id") + _CLONE_OFFSET).alias("doc_id"),
        F.concat(F.upper(F.substring("text", 1, 1)),
                 F.expr("substring(text, 2)")).alias("text"),
    )
    return docs.unionByName(clones)


def _q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection with planted ground truth: 20
    byte-different clones must come back as candidate pairs and verify
    at word-3-gram Jaccard exactly 1.0 — a full row-level oracle."""
    from boltspark.pipeline import dedup

    corpus2 = _with_planted_clones(spark, sf_dir, k=20)
    pairs = dedup.lsh_candidate_pairs(corpus2, n_hashes=32, bands=8)
    verified = dedup.ngram_jaccard(corpus2, pairs).filter(F.col("jaccard") >= 0.8)
    return verified.filter(F.col("key_b") == F.col("key_a") + _CLONE_OFFSET).select(
        F.col("key_a").cast("long").alias("key_a"),
        F.col("key_b").cast("long").alias("key_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def _q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection with planted ground truth: 25 clones
    with identical token streams must pair with their source at hamming
    exactly 0 through the 16-bit-chunk blocking join."""
    from boltspark.pipeline import dedup

    corpus2 = _with_planted_clones(spark, sf_dir, k=25)
    pairs = dedup.simhash_near_pairs(corpus2, max_hamming=3)
    return pairs.filter(F.col("key_b") == F.col("key_a") + _CLONE_OFFSET).select(
        F.col("key_a").cast("long").alias("key_a"),
        F.col("key_b").cast("long").alias("key_b"),
        F.col("hamming").cast("long").alias("hamming"))


def _q_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reflow-robust fingerprint (xxhash64 of normalized text): distinct
    fingerprint count must equal distinct normalized-text count (the
    hash is injective on this corpus), plus the surviving-doc count
    after fingerprint dedup — both SQL-expressible."""
    from boltspark.pipeline import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fp = textstats.fingerprint(docs, "text")
    return fp.agg(
        F.count_distinct("fingerprint").alias("n_distinct_fp"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def _q_ann_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH ANN vs brute force: the approximate top-10 must
    recover >= 5 of the exact top-10 (the approximate result set is not
    SQL-portable; the oracle pins the recall invariant).  The corpus
    embeddings are RANDOM, the hardest regime for LSH — neighbors have
    weak cosine, so recall/scan is intrinsically poor here; on clustered
    real embeddings the same machinery prunes far harder."""
    from boltspark.pipeline import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])
    q = [(1.0 if i % 5 == 0 else -0.2) for i in range(dim)]
    exact = {r["vec_id"] for r in
             similarity.brute_force_topk(emb, q, k=10).collect()}
    bucketed = similarity.banded_signatures(emb, n_planes=5, bands=12, dim=dim)
    approx = {r["vec_id"] for r in
              similarity.ann_topk_banded(bucketed, q, k=10, n_planes=5,
                                         bands=12).collect()}
    recall_ok = len(exact & approx) >= 5
    return spark.createDataFrame([(10, bool(recall_ok))],
                                 "k long, recall_ok boolean")


def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing with a REAL oracle: payloads are the utf-8
    bytes of documents.text riding the binary-media path (mapInPandas
    feature extraction); DuckDB recomputes sha256 + byte length from the
    source table directly."""
    from boltspark.pipeline import multimodal

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    media = multimodal.media_from_text(docs)
    feats = multimodal.extract_features(media)
    return feats.select("doc_id", "payload_sha",
                        F.col("n_bytes").cast("long").alias("n_bytes"))


def _q_roundtrip_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct-column encode (engine/nest.py): a MEDIA_META-shaped struct
    (nullable, with a nullable leaf) rides through encode_table as
    flattened leaf columns and reassembles on decode; the oracle
    recomputes every leaf (and the null-struct rows) from the source
    table."""
    from boltspark.engine import decode_table, encode_table

    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8").alias("payload"),
        F.when(F.col("n_chars").isNotNull(), F.struct(
            F.lit("text").alias("media_type"),
            F.lit("utf-8").alias("format"),
            F.col("n_chars").cast("int").alias("width"),
            (F.col("n_chars") % 256).cast("int").alias("height"),
            F.lit(1).cast("int").alias("n_frames"),
            F.lit(0).cast("int").alias("sample_rate"),
        )).alias("meta"),
    )
    d = tempfile.mkdtemp(prefix="boltspark_media_")
    encode_table(media, f"{d}/blocks", f"{d}/manifest", key_cols=("doc_id",),
                 target_partition_bytes=4 << 20, resume=False)
    back = decode_table(spark, f"{d}/blocks", f"{d}/manifest")
    return back.select(
        "doc_id",
        F.sha2(F.col("payload"), 256).alias("payload_sha"),
        F.col("meta.media_type").alias("media_type"),
        F.col("meta.width").cast("long").alias("width"),
        F.col("meta.height").cast("long").alias("height"),
    )


def _q_group_counts_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-domain GROUP BY count (engine/agg.py::value_counts):
    dictionary blocks contribute (distinct value, code-histogram count)
    rows, so only per-block distincts ride the final shuffle — the
    column's strings are never materialized."""
    from boltspark.engine import encode_table
    from boltspark.engine.agg import value_counts

    _ship(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_returnflag")
    d = tempfile.mkdtemp(prefix="boltspark_aggvc_")
    encode_table(li, f"{d}/blocks", f"{d}/manifest",
                 key_cols=("l_orderkey", "l_linenumber"),
                 target_partition_bytes=4 << 20, resume=False)
    vc = value_counts(spark, f"{d}/blocks", f"{d}/manifest", "l_returnflag")
    return vc.select(F.col("value"), F.col("cnt")).orderBy("value")


def _q_agg_filtered_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE -> SUM entirely in the compressed domain: the decoder's
    zone/mask cascade gates each block (all/none answered from zone maps
    without opening it), partially-surviving blocks reduce a selective
    decode of only the surviving rows, and one partial row per task
    crosses the shuffle."""
    from boltspark.engine import encode_table
    from boltspark.engine.agg import column_sum
    from boltspark.engine.filters import RangePredicate

    _ship(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity")
    d = tempfile.mkdtemp(prefix="boltspark_aggfs_")
    encode_table(li, f"{d}/blocks", f"{d}/manifest",
                 key_cols=("l_orderkey", "l_linenumber"),
                 target_partition_bytes=4 << 20, resume=False)
    pred = RangePredicate(column="l_quantity", lower=10.0, upper=30.0,
                          null_allowed=False)
    return column_sum(spark, f"{d}/blocks", f"{d}/manifest", "l_orderkey",
                      predicate=pred).select(
        "column", F.round("sum_value", 4).alias("sum_value"),
        "n_rows", "n_nulls")


def _q_topk_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY ... LIMIT k in the compressed domain: each block emits
    only its own top-k (sorted-dictionary tail for dict blocks,
    np.partition otherwise), so k rows per block ride the final fold
    instead of the column.  Round-5: tag 'flat' = global top-25; tags
    'grp:*' = grouped_topk, per-group ORDER BY LIMIT 5 ("top files per
    language" shape) — per-block per-group slices, window row_number
    over n_blocks x n_groups x k partials only.  Ties at the k
    boundary are value-identical, so the emitted VALUE multiset is
    deterministic even though row_number's choice isn't."""
    from boltspark.engine import encode_table
    from boltspark.engine.agg import (column_topk, grouped_topk,
                                      grouped_topk_rows, topk_rows)

    _ship(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
    d = tempfile.mkdtemp(prefix="boltspark_topk_")
    encode_table(li, f"{d}/blocks", f"{d}/manifest",
                 key_cols=("l_orderkey", "l_linenumber"),
                 target_partition_bytes=4 << 20, resume=False)
    flat = column_topk(spark, f"{d}/blocks", f"{d}/manifest",
                       "l_extendedprice", 25, ascending=False).select(
        F.lit("flat").alias("tag"), F.round("value", 2).alias("value"))
    grp = grouped_topk(spark, f"{d}/blocks", f"{d}/manifest",
                       "l_returnflag", "l_extendedprice", k=5,
                       ascending=False).select(
        F.concat(F.lit("grp:"), F.col("value")).alias("tag"),
        F.round("item", 2).alias("value"))
    # round-5 tag 'rows:*': whole-ROW top-k (topk_rows) — phase 1 finds
    # the k-th value compressed-domain, phase 2 decodes only rows the
    # zone maps admit at that threshold, deterministic via tiebreak
    rows = topk_rows(spark, f"{d}/blocks", f"{d}/manifest",
                     "l_extendedprice", k=10,
                     tiebreak=("l_orderkey", "l_linenumber")).select(
        F.concat(F.lit("rows:"), F.col("l_orderkey").cast("string"),
                 F.lit(":"), F.col("l_linenumber").cast("string"))
        .alias("tag"),
        F.round("l_extendedprice", 2).alias("value"))
    # round-5 tag 'grows:*': whole-ROW per-group top-k
    # (grouped_topk_rows) — per-group thresholds decoded through an
    # OR-of-AND composite, window rank over the sliver
    grows = grouped_topk_rows(
        spark, f"{d}/blocks", f"{d}/manifest", "l_returnflag",
        "l_extendedprice", k=3,
        tiebreak=("l_orderkey", "l_linenumber")).select(
        F.concat(F.lit("grows:"), F.col("l_returnflag"), F.lit(":"),
                 F.col("rnk").cast("string")).alias("tag"),
        F.round("l_extendedprice", 2).alias("value"))
    return (flat.unionAll(grp).unionAll(rows).unionAll(grows)
            .orderBy("tag", "value"))


def _q_grouped_sum_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1's core (GROUP BY flag -> SUM, COUNT) in the compressed
    domain: the wide blocks layout aligns the dict-coded group column
    with the numeric column inside one parquet row, so each task reduces
    a block pair with np.bincount over the code stream — the flag
    strings are never materialized, and only (n_blocks x n_distinct)
    partial rows cross the final shuffle.  A quantity predicate rides
    the decoder's zone/mask cascade first."""
    from boltspark.engine import encode_table
    from boltspark.engine.agg import grouped_sum
    from boltspark.engine.filters import RangePredicate

    _ship(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity",
        "l_extendedprice")
    d = tempfile.mkdtemp(prefix="boltspark_gsum_")
    encode_table(li, f"{d}/blocks", f"{d}/manifest",
                 key_cols=("l_orderkey", "l_linenumber"),
                 target_partition_bytes=4 << 20, resume=False)
    pred = RangePredicate(column="l_quantity", lower=5.0, upper=45.0,
                          null_allowed=False)
    return grouped_sum(spark, f"{d}/blocks", f"{d}/manifest",
                       "l_returnflag", "l_extendedprice",
                       predicate=pred).select(
        "value", F.round("sum_value", 2).alias("sum_value"),
        "cnt").orderBy("value")


def _q_decimal_sum_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUM(decimal) stays in the unscaled-integer domain end-to-end:
    int64 low-word blocks (p<=18) and d128 word-pair blocks sum with
    arbitrary-precision Python ints, partials ride as decimal(38,0), and
    the final fold rescales in the decimal domain — exact to the last
    digit, never a float."""
    from boltspark.engine import encode_table
    from boltspark.engine.agg import column_sum
    from boltspark.engine.filters import RangePredicate

    _ship(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity",
        F.expr("CAST(l_extendedprice AS DECIMAL(12,2))").alias("price"))
    d = tempfile.mkdtemp(prefix="boltspark_decsum_")
    encode_table(li, f"{d}/blocks", f"{d}/manifest",
                 key_cols=("l_orderkey", "l_linenumber"),
                 target_partition_bytes=4 << 20, resume=False)
    pred = RangePredicate(column="l_quantity", lower=10.0, upper=35.0,
                          null_allowed=False)
    # the engine returns sum_value as exact decimal(38,2)
    # (tests/test_agg.py::test_decimal_sum_exact pins digit equality);
    # the driver harness reads DuckDB decimals as float64, so compare
    # as rounded doubles here
    return column_sum(spark, f"{d}/blocks", f"{d}/manifest", "price",
                      predicate=pred).select(
        "column",
        F.round(F.col("sum_value").cast("double"), 2).alias("sum_value"),
        "n_rows", "n_nulls")


def _q_multi_sum_onescan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four column SUMs in ONE scan of the blocks parquet (the stats-
    sweep shape): the predicate mask resolves once per block group and
    is shared by every column, so the table is read once instead of
    four times.  l_orderkey pins the exact-int64 sum path alongside the
    float columns (round-5 consolidation of the former
    agg_sum_pushdown entry — same kernel reductions, one scan)."""
    from boltspark.engine import encode_table
    from boltspark.engine.agg import column_sums
    from boltspark.engine.filters import RangePredicate

    _ship(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_tax")
    d = tempfile.mkdtemp(prefix="boltspark_msum_")
    encode_table(li, f"{d}/blocks", f"{d}/manifest",
                 key_cols=("l_orderkey", "l_linenumber"),
                 target_partition_bytes=4 << 20, resume=False)
    pred = RangePredicate(column="l_quantity", lower=5.0, upper=45.0,
                          null_allowed=False)
    return column_sums(spark, f"{d}/blocks", f"{d}/manifest",
                       ["l_orderkey", "l_quantity", "l_extendedprice",
                        "l_tax"],
                       predicate=pred).select(
        "column", F.round("sum_value", 4).alias("sum_value"),
        "n_rows", "n_nulls").orderBy("column")


def _q_minmax_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX in the compressed domain, value-exact, three shapes over
    ONE encoded table: tag 'flat' = filtered scalar min/max (sorted
    dictionaries answer O(1) from their head/tail, rle blocks reduce
    run values, the quantity predicate rides the zone/mask cascade);
    tag 'dec' = decimal(12,2) min/max reduced in the UNSCALED integer
    domain, digit-exact (round-5: decimals previously raised here);
    tags 'grp:*' = GROUP BY l_returnflag -> min/max per group (round-5
    grouped_minmax: typed per-(block,group) partials folded under
    Catalyst's own F.min/F.max, one row per (block, group) through the
    shuffle)."""
    from boltspark.engine import encode_table
    from boltspark.engine.agg import column_minmax, grouped_minmax
    from boltspark.engine.filters import RangePredicate

    _ship(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity",
        "l_returnflag",
        F.col("l_extendedprice").cast("decimal(12,2)").alias("price_dec"))
    d = tempfile.mkdtemp(prefix="boltspark_minmax_")
    encode_table(li, f"{d}/blocks", f"{d}/manifest",
                 key_cols=("l_orderkey", "l_linenumber"),
                 target_partition_bytes=4 << 20, resume=False)
    pred = RangePredicate(column="l_quantity", lower=10.0, upper=40.0,
                          null_allowed=False)
    b, m = f"{d}/blocks", f"{d}/manifest"
    flat = column_minmax(spark, b, m, "l_extendedprice",
                         predicate=pred).select(
        F.lit("flat").alias("tag"), F.round("vmin", 2).alias("vmin"),
        F.round("vmax", 2).alias("vmax"), "n_rows")
    dec = column_minmax(spark, b, m, "price_dec").select(
        F.lit("dec").alias("tag"),
        F.round(F.col("vmin").cast("double"), 2).alias("vmin"),
        F.round(F.col("vmax").cast("double"), 2).alias("vmax"), "n_rows")
    grp = grouped_minmax(spark, b, m, "l_returnflag",
                         "l_extendedprice").select(
        F.concat(F.lit("grp:"), F.col("value")).alias("tag"),
        F.round("min_value", 2).alias("vmin"),
        F.round("max_value", 2).alias("vmax"),
        F.col("cnt").alias("n_rows"))
    return flat.unionAll(dec).unionAll(grp)


def _q_distinct_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT in the compressed domain: dict blocks hand over their
    dictionary without decoding the code stream (every entry occurs by
    construction), so only per-block distinct sets cross the shuffle."""
    from boltspark.engine import encode_table
    from boltspark.engine.agg import column_distinct
    from boltspark.engine.filters import RangePredicate

    _ship(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    d = tempfile.mkdtemp(prefix="boltspark_dist_")
    encode_table(li, f"{d}/blocks", f"{d}/manifest",
                 key_cols=("l_orderkey", "l_linenumber"),
                 target_partition_bytes=4 << 20, resume=False)
    pred = RangePredicate(column="l_quantity", lower=None, upper=25.0,
                          null_allowed=False)
    return column_distinct(spark, f"{d}/blocks", f"{d}/manifest",
                           "l_returnflag", predicate=pred).orderBy("value")


def _q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog COUNT(DISTINCT) in the compressed domain
    (engine/agg.py::column_distinct_approx): each task folds its blocks
    into one 2^14-byte register array, so ONE constant-size row per task
    crosses the shuffle regardless of cardinality — the shape a 100 TB
    distinct count needs.  The estimate itself is not SQL-portable; the
    oracle pins the exact count plus the error invariant (within 3% of
    exact — deterministic: fixed hash functions, no seed)."""
    from boltspark.engine import encode_table
    from boltspark.engine.agg import column_distinct_approx

    _ship(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber")
    d = tempfile.mkdtemp(prefix="boltspark_hll_")
    encode_table(li, f"{d}/blocks", f"{d}/manifest",
                 key_cols=("l_orderkey", "l_linenumber"),
                 target_partition_bytes=4 << 20, resume=False)
    got = column_distinct_approx(spark, f"{d}/blocks", f"{d}/manifest",
                                 "l_orderkey").collect()[0]
    exact = li.select(F.countDistinct("l_orderkey")).collect()[0][0]
    ok = abs(got["approx_distinct"] - exact) <= max(3.0, 0.03 * exact)
    return spark.createDataFrame(
        [(int(exact), int(got["n_rows"]), bool(ok))],
        "exact_distinct long, n_rows long, within_3pct boolean")


def _q_grouped_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group HLL COUNT(DISTINCT) in the compressed domain
    (engine/agg.py::grouped_distinct_approx) — the "distinct users per
    day" shape: per-(block, group) 4 KB registers cross the shuffle,
    never the values.  The oracle pins each group's exact distinct
    count, row count, and the 5% error invariant (deterministic: fixed
    hashes)."""
    from boltspark.engine import encode_table
    from boltspark.engine.agg import grouped_distinct_approx

    _ship(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_returnflag")
    d = tempfile.mkdtemp(prefix="boltspark_ghll_")
    encode_table(li, f"{d}/blocks", f"{d}/manifest",
                 key_cols=("l_orderkey", "l_linenumber"),
                 target_partition_bytes=4 << 20, resume=False)
    got = grouped_distinct_approx(spark, f"{d}/blocks", f"{d}/manifest",
                                  "l_returnflag", "l_orderkey").collect()
    exact = {r["value"]: r for r in
             li.groupBy(F.col("l_returnflag").alias("value"))
             .agg(F.countDistinct("l_orderkey").alias("nd"),
                  F.count(F.lit(1)).alias("cnt")).collect()}
    rows = []
    for r in sorted(got, key=lambda r: r["value"]):
        e = exact[r["value"]]
        ok = (abs(r["approx_distinct"] - e["nd"]) <= max(3.0, 0.05 * e["nd"])
              and r["cnt"] == e["cnt"])
        rows.append((r["value"], int(e["nd"]), int(e["cnt"]), bool(ok)))
    return spark.createDataFrame(
        rows, "value string, exact_distinct long, cnt long, within_5pct boolean")


def _q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth-summary quantiles in the compressed domain
    (engine/agg.py::column_quantiles): each block contributes <= 256
    weighted points, each task one compacted summary row — an ORDER-BY-
    free percentile whose shuffle is O(n_tasks * 4096) tiny rows at any
    scale.  The estimates are not SQL-portable; the oracle pins the rank
    invariant (each estimate's true rank within 1% of its target p —
    deterministic: pure arithmetic, no sampling)."""
    from boltspark.engine import encode_table
    from boltspark.engine.agg import column_quantiles

    _ship(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_extendedprice")
    d = tempfile.mkdtemp(prefix="boltspark_qtl_")
    encode_table(li, f"{d}/blocks", f"{d}/manifest",
                 key_cols=("l_orderkey", "l_linenumber"),
                 target_partition_bytes=4 << 20, resume=False)
    got = column_quantiles(spark, f"{d}/blocks", f"{d}/manifest",
                           "l_extendedprice",
                           probs=(0.25, 0.5, 0.95)).collect()
    n = li.count()
    out = []
    for r in sorted(got, key=lambda r: r["p"]):
        rank = li.filter(F.col("l_extendedprice") <= r["value"]).count() / n
        out.append((float(r["p"]), bool(abs(rank - r["p"]) <= 0.01)))
    return spark.createDataFrame(out, "p double, rank_within_1pct boolean")


def _q_grouped_sum_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL TPC-H Q1 rollup shape: GROUP BY (l_returnflag,
    l_linestatus) -> SUM, COUNT in the compressed domain
    (engine/agg.py::grouped_sum_multi).  The wide layout aligns both
    dict-coded group leaves and the value leaf in one parquet row; each
    task joint-codes the aligned code streams into a composite group id
    and reduces with bincount — neither flag string is ever
    materialized, and only per-block distinct COMBINATIONS cross the
    one final shuffle.  A quantity predicate rides the decoder's
    zone/mask cascade first (round-4 VERDICT next #2).  Round-5: joined
    with grouped_aggs — SUM/AVG/COUNT of BOTH l_quantity and
    l_extendedprice per group in ONE additional pass (all five leaves
    aligned in one parquet row) — so the row is Q1's full measure set:
    sum_qty, avg_qty, sum_price, avg_price, counts."""
    from boltspark.engine import encode_table
    from boltspark.engine.agg import grouped_aggs, grouped_sum_multi
    from boltspark.engine.filters import RangePredicate

    _ship(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
        "l_quantity", "l_extendedprice")
    d = tempfile.mkdtemp(prefix="boltspark_gsm_")
    encode_table(li, f"{d}/blocks", f"{d}/manifest",
                 key_cols=("l_orderkey", "l_linenumber"),
                 target_partition_bytes=4 << 20, resume=False)
    pred = RangePredicate(column="l_quantity", lower=5.0, upper=45.0,
                          null_allowed=False)
    gsm = grouped_sum_multi(spark, f"{d}/blocks", f"{d}/manifest",
                            ["l_returnflag", "l_linestatus"],
                            "l_extendedprice", predicate=pred).select(
        "l_returnflag", "l_linestatus",
        F.round("sum_value", 2).alias("sum_value"), "cnt")
    ga = grouped_aggs(spark, f"{d}/blocks", f"{d}/manifest",
                      ["l_returnflag", "l_linestatus"],
                      ["l_quantity", "l_extendedprice"],
                      predicate=pred).select(
        "l_returnflag", "l_linestatus",
        F.round("sum_l_quantity", 2).alias("sum_qty"),
        F.round("avg_l_quantity", 6).alias("avg_qty"),
        F.round("avg_l_extendedprice", 6).alias("avg_price"),
        F.col("n_l_quantity").alias("n_qty"))
    return (gsm.join(ga, ["l_returnflag", "l_linestatus"], "inner")
            .orderBy("l_returnflag", "l_linestatus"))


def _q_avg_count_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVG + COUNT(col) as first-class compressed-domain results
    (engine/agg.py::column_avg/column_count), pinning the SQL null
    corners: n_chars has nulls (they leave numerator AND denominator);
    'nul' is an ALL-NULL double column (AVG -> NULL, COUNT -> 0); text
    is a STRING column — COUNT works because it reads block validity
    only, no value decode (round-4 VERDICT next #6)."""
    from boltspark.engine import encode_table
    from boltspark.engine.agg import column_avg, column_count

    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
        "text",
        F.lit(None).cast("double").alias("nul"),
    )
    d = tempfile.mkdtemp(prefix="boltspark_avg_")
    encode_table(docs, f"{d}/blocks", f"{d}/manifest", key_cols=("doc_id",),
                 target_partition_bytes=4 << 20, resume=False)
    b, m = f"{d}/blocks", f"{d}/manifest"
    rows = []
    for c in ("n_chars", "nul"):
        a = column_avg(spark, b, m, c).collect()[0]
        n = column_count(spark, b, m, c).collect()[0]
        rows.append((c, None if a["avg_value"] is None
                     else round(a["avg_value"], 6),
                     n["n_values"], n["n_rows"], n["n_nulls"]))
    n = column_count(spark, b, m, "text").collect()[0]
    rows.append(("text", None, n["n_values"], n["n_rows"], n["n_nulls"]))
    return spark.createDataFrame(
        rows, "column string, avg_value double, n_values long, "
              "n_rows long, n_nulls long").orderBy("column")


def _q_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group approx quantiles in the compressed domain
    (engine/agg.py::grouped_quantiles) — the "p95 per group" shape.
    Estimates are not SQL-portable; the oracle pins, per (group, p),
    the rank invariant (true rank within 1.5% of target — deterministic
    arithmetic, no sampling) plus each group's exact row count
    (round-4 VERDICT next #7)."""
    from boltspark.engine import encode_table
    from boltspark.engine.agg import grouped_quantiles

    _ship(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
    d = tempfile.mkdtemp(prefix="boltspark_gqtl_")
    encode_table(li, f"{d}/blocks", f"{d}/manifest",
                 key_cols=("l_orderkey", "l_linenumber"),
                 target_partition_bytes=4 << 20, resume=False)
    got = grouped_quantiles(spark, f"{d}/blocks", f"{d}/manifest",
                            "l_returnflag", "l_extendedprice",
                            probs=(0.5, 0.95)).collect()
    counts = {r["l_returnflag"]: r["n"] for r in
              li.groupBy("l_returnflag").agg(
                  F.count(F.lit(1)).alias("n")).collect()}
    out = []
    for r in sorted(got, key=lambda r: (r["value"], r["p"])):
        grp = li.filter(F.col("l_returnflag") == r["value"])
        rank = (grp.filter(F.col("l_extendedprice") <= r["q"]).count()
                / counts[r["value"]])
        out.append((r["value"], float(r["p"]), int(r["n_rows"]),
                    bool(abs(rank - r["p"]) <= 0.015)))
    return spark.createDataFrame(
        out, "value string, p double, n_rows long, rank_ok boolean")


def _q_row_range_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL positional slice across a partition boundary (round-5
    lift of the one-partition row_range restriction): rows [c0-5,
    c0+7) where c0 = partition 0's row count must stitch the tail of
    partition 0 to the head of partition 1 with bit-identical text.
    Partition hashes are not SQL-portable; the oracle pins the
    verification invariants (the point_query_rows pattern): 12 rows,
    0 sha mismatches, exactly 2 partitions spanned."""
    from boltspark.engine import decode_table, encode_table

    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = tempfile.mkdtemp(prefix="boltspark_rrg_")
    res = encode_table(docs, f"{d}/blocks", f"{d}/manifest",
                       key_cols=("doc_id",), n_parts=8,
                       target_partition_bytes=4 << 20,
                       block_bytes=16 << 10, resume=False)
    withp = docs.withColumn(
        "p", F.pmod(F.xxhash64("doc_id"), F.lit(res.n_partitions)))
    c0 = withp.filter(F.col("p") == 0).count()
    k, n = c0 - 5, 12
    from pyspark.sql import Window

    w = Window.orderBy("p", "doc_id")
    exp = (withp.select("doc_id", "text", "p",
                        (F.row_number().over(w) - 1).alias("pos"))
           .filter((F.col("pos") >= k) & (F.col("pos") < k + n)))
    got = decode_table(spark, f"{d}/blocks", f"{d}/manifest",
                       columns=["doc_id", "text"], include_part_id=True,
                       row_range=(k, k + n))
    je = exp.select("doc_id", "p",
                    F.sha2(F.coalesce("text", F.lit("")), 256).alias("h0"))
    jg = got.select("doc_id", F.col("part_id").alias("gp"),
                    F.sha2(F.coalesce("text", F.lit("")), 256).alias("h1"))
    j = je.join(jg, "doc_id", "full_outer")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("h0").isNull() | F.col("h1").isNull()
                     | (F.col("h0") != F.col("h1"))
                     | (F.col("p") != F.col("gp")), 1).otherwise(0))
        .cast("long").alias("n_mismatch"),
        F.count_distinct("gp").cast("long").alias("n_parts_spanned"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """49 entries — deliberately UNDER the driver's 50-query window
    (round-4 VERDICT #1: 56 entries silently dropped the last 6), with
    every family represented early in case the window ever shrinks:
    roundtrips (1-12), decode/predicates (13-20), LLM pipeline (21-29),
    compressed-domain aggregation (30-43), sources/stats/infra (44-49).
    Round-5 consolidations merged same-machinery entries (each merged
    query's docstring names its parents); nothing lost coverage —
    token_count's machinery rides inside quality_scores (its n_tokens
    column is textstats.token_count), duplicate_groups inside
    exact_dedup."""
    return {
        # --- engine round-trips -------------------------------------
        "roundtrip_documents": _q_roundtrip_documents,
        "roundtrip_lineitem": _q_roundtrip_lineitem,
        "roundtrip_events": _q_roundtrip_events,
        "roundtrip_nullable_list": _q_roundtrip_nullable_list,
        "roundtrip_string_list": _q_roundtrip_string_list,
        "roundtrip_map": _q_roundtrip_map,
        "array_contains_filter": _q_array_contains_filter,
        "roundtrip_decimal": _q_roundtrip_decimal,
        "roundtrip_decimal38": _q_roundtrip_decimal38,
        "roundtrip_nested_tokens": _q_roundtrip_nested_tokens,
        "roundtrip_spans": _q_roundtrip_spans,
        "roundtrip_flags": _q_roundtrip_flags,
        # --- predicate decode / point queries / codecs ---------------
        "decode_bool_const": _q_decode_bool_const,
        "decode_range_filter": _q_decode_range_filter,
        "decode_null_allowed": _q_decode_null_allowed,
        "decode_dict_eq": _q_decode_dict_eq,
        "decode_or_not": _q_decode_or_not,
        "point_query_partition": _q_point_query_partition,
        "point_query_rows": _q_point_query_rows,
        "row_range_global": _q_row_range_global,
        "codec_roundtrip": _q_codec_roundtrip,
        # --- LLM training-data pipeline ------------------------------
        "embedding_topk": _q_embedding_topk,
        "fingerprint_dedup": _q_fingerprint_dedup,
        "ann_recall_check": _q_ann_recall_check,
        "minhash_near_dups": _q_minhash_near_dups,
        "simhash_near_dups": _q_simhash_near_dups,
        "multimodal_features": _q_multimodal_features,
        "exact_dedup": _q_exact_dedup,
        "quality_scores": _q_quality_scores,
        "lang_id": _q_lang_id,
        # --- compressed-domain aggregation ---------------------------
        "group_counts_pushdown": _q_group_counts_pushdown,
        "agg_filtered_sum": _q_agg_filtered_sum,
        "multi_sum_onescan": _q_multi_sum_onescan,
        "topk_pushdown": _q_topk_pushdown,
        "grouped_sum_pushdown": _q_grouped_sum_pushdown,
        "grouped_sum_multi": _q_grouped_sum_multi,
        "decimal_sum_pushdown": _q_decimal_sum_pushdown,
        "minmax_pushdown": _q_minmax_pushdown,
        "distinct_pushdown": _q_distinct_pushdown,
        "avg_count_pushdown": _q_avg_count_pushdown,
        "approx_distinct": _q_approx_distinct,
        "grouped_approx_distinct": _q_grouped_approx_distinct,
        "approx_quantiles": _q_approx_quantiles,
        "grouped_quantiles": _q_grouped_quantiles,
        # --- sources / stats / maintenance ---------------------------
        "roundtrip_media_meta": _q_roundtrip_media_meta,
        "roundtrip_after_compact": _q_roundtrip_after_compact,
        "dsv2_read": _q_dsv2_read,
        "selector_stats": _q_selector_stats,
        "run_length_stats": _q_run_length_stats,
        "manifest_stats": _q_manifest_stats,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "roundtrip_documents": (
            "SELECT doc_id, text, lang, source, n_chars FROM documents"
        ),
        "roundtrip_lineitem": (
            "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, "
            "l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, "
            "l_linestatus, l_shipdate FROM lineitem"
        ),
        "roundtrip_events": (
            "SELECT event_id, ts, user_id, event_type, value, props FROM events"
        ),
        "roundtrip_nullable_list": (
            "SELECT vec_id, CAST(label AS BIGINT) AS label, "
            "CAST(u.i - 1 AS BIGINT) AS idx, "
            "CASE WHEN (vec_id + u.i - 1) % 97 = 0 THEN NULL "
            "ELSE CAST(embedding[u.i] AS DOUBLE) END AS val "
            "FROM embeddings, LATERAL UNNEST(generate_series(1, len(embedding))) AS u(i)"
        ),
        "roundtrip_string_list": (
            "WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "CASE WHEN n_chars IS NOT NULL THEN "
            "string_split(substr(COALESCE(text, ''), 1, 64), ' ') END AS tags "
            "FROM documents) "
            "SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, tags[u.i] AS tag "
            "FROM t, LATERAL UNNEST(generate_series(1, len(tags))) AS u(i) "
            "WHERE tags IS NOT NULL "
            "UNION ALL SELECT doc_id, NULL, NULL FROM t WHERE tags IS NULL"
        ),
        "array_contains_filter": (
            "SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents "
            "WHERE list_contains(string_split(lower(substr(COALESCE(text, ''),"
            " 1, 120)), ' '), 'the')"
        ),
        "roundtrip_map": (
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, 'n_chars' AS key, "
            "CAST(n_chars AS BIGINT) AS value FROM documents "
            "WHERE n_chars IS NOT NULL "
            "UNION ALL SELECT CAST(doc_id AS BIGINT), 'n2', "
            "CAST(n_chars * 2 AS BIGINT) FROM documents WHERE n_chars IS NOT NULL "
            "UNION ALL SELECT CAST(doc_id AS BIGINT), NULL, NULL "
            "FROM documents WHERE n_chars IS NULL"
        ),
        "roundtrip_decimal": (
            "SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, "
            "CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS qty, "
            "CAST(CAST(l_discount AS DECIMAL(12,2)) AS DOUBLE) AS disc "
            "FROM lineitem"
        ),
        "roundtrip_spans": (
            "WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id "
            "FROM documents) "
            "SELECT doc_id, CAST(u.i AS BIGINT) AS pos, "
            "CASE WHEN u.i % 5 <> 2 THEN CAST(doc_id*10 + u.i AS BIGINT) END "
            "AS s_start, "
            "CASE WHEN u.i % 5 <> 2 THEN CAST(doc_id*10 + 2*u.i AS BIGINT) END "
            "AS s_end "
            "FROM ids, LATERAL UNNEST(generate_series(0, "
            "CAST(doc_id % 4 AS INT))) AS u(i) WHERE doc_id % 13 <> 0 "
            "UNION ALL SELECT doc_id, NULL, NULL, NULL FROM ids "
            "WHERE doc_id % 13 = 0"
        ),
        # the nested-tokens corpus is formulaic: the oracle recomputes
        # the same per-doc aggregates from doc_id arithmetic alone
        "roundtrip_nested_tokens": (
            "WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS d FROM documents), "
            "oi AS (SELECT d, u.i AS i FROM ids, LATERAL UNNEST("
            "generate_series(0, CAST(d % 4 AS INT))) u(i) WHERE d % 13 <> 0), "
            "ij AS (SELECT d, i, v.j AS j FROM oi, LATERAL UNNEST("
            "generate_series(0, CAST(i AS INT))) v(j) WHERE i % 5 <> 2), "
            "a1 AS (SELECT d, COUNT(*) AS n_outer, "
            "SUM(CASE WHEN i % 5 = 2 THEN 1 ELSE 0 END) AS n_null_inner "
            "FROM oi GROUP BY d), "
            "a2 AS (SELECT d, COUNT(*) AS n_elems, "
            "COALESCE(SUM(CASE WHEN j % 3 <> 1 THEN d*10 + j END), 0) "
            "AS sum_vals, "
            "SUM(CASE WHEN j % 3 = 1 THEN 1 ELSE 0 END) AS n_null_scalars "
            "FROM ij GROUP BY d) "
            "SELECT a1.d AS doc_id, CAST(n_outer AS BIGINT) AS n_outer, "
            "CAST(n_null_inner AS BIGINT) AS n_null_inner, "
            "CAST(COALESCE(a2.n_elems, 0) AS BIGINT) AS n_elems, "
            "CAST(COALESCE(a2.sum_vals, 0) AS BIGINT) AS sum_vals, "
            "CAST(COALESCE(a2.n_null_scalars, 0) AS BIGINT) AS n_null_scalars "
            "FROM a1 LEFT JOIN a2 USING (d) "
            "UNION ALL SELECT d, NULL, NULL, NULL, NULL, NULL FROM ids "
            "WHERE d % 13 = 0 ORDER BY doc_id"
        ),
        # hugeint arithmetic keeps the 128-bit value exact; VARCHAR cast
        # prints scale-4 digits identically to Spark's decimal toString.
        # tag 'all' = full roundtrip; 'pos' = the d128 range predicate
        "roundtrip_decimal38": (
            "WITH t AS (SELECT l_orderkey, l_linenumber, "
            "CAST((CAST(l_orderkey AS HUGEINT) * 1000000000000000000 "
            "+ l_partkey) * CASE WHEN l_linenumber % 2 = 0 THEN -1 ELSE 1 END "
            "AS DECIMAL(38,4)) AS big FROM lineitem) "
            "SELECT 'all' AS tag, l_orderkey, "
            "CAST(l_linenumber AS BIGINT) AS l_linenumber, "
            "CAST(big AS VARCHAR) AS big_str FROM t "
            "UNION ALL "
            "SELECT 'pos', l_orderkey, CAST(l_linenumber AS BIGINT), "
            "CAST(big AS VARCHAR) FROM t "
            "WHERE big >= 0 AND big <= "
            "CAST('30000000000000000000000' AS DECIMAL(38,4))"
        ),
        "roundtrip_flags": (
            "SELECT event_id, value > 245.0 AS is_big, "
            "event_type = 'click' AS is_click FROM events"
        ),
        "decode_bool_const": (
            "SELECT 'click' AS tag, event_id, value > 245.0 AS is_big "
            "FROM events WHERE event_type = 'click' "
            "UNION ALL "
            "SELECT 'all', event_id, FALSE FROM events"
        ),
        "point_query_partition": (
            "SELECT TRUE AS has_rows, CAST(0 AS BIGINT) AS n_mismatch, "
            "TRUE AS contains_target"
        ),
        "point_query_rows": (
            "SELECT CAST(12 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_mismatch"
        ),
        "codec_roundtrip": (
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, text, "
            "'corpus/doc_' || lpad(CAST(doc_id AS VARCHAR), 10, '0') "
            "|| '.txt' AS path, "
            "CAST(doc_id * 977 + 13 AS BIGINT) AS tsl FROM documents"
        ),
        "row_range_global": (
            "SELECT CAST(12 AS BIGINT) AS n_rows, "
            "CAST(0 AS BIGINT) AS n_mismatch, "
            "CAST(2 AS BIGINT) AS n_parts_spanned"
        ),
        "grouped_sum_multi": (
            "SELECT l_returnflag, l_linestatus, "
            "ROUND(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_value, "
            "count(*) AS cnt, "
            "ROUND(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty, "
            "ROUND(CAST(avg(l_quantity) AS DOUBLE), 6) AS avg_qty, "
            "ROUND(CAST(avg(l_extendedprice) AS DOUBLE), 6) AS avg_price, "
            "count(l_quantity) AS n_qty FROM lineitem "
            "WHERE l_quantity >= 5 AND l_quantity <= 45 "
            "GROUP BY l_returnflag, l_linestatus "
            "ORDER BY l_returnflag, l_linestatus"
        ),
        "avg_count_pushdown": (
            "SELECT * FROM ("
            'SELECT \'n_chars\' AS "column", '
            "ROUND(AVG(n_chars), 6) AS avg_value, "
            "COUNT(n_chars) AS n_values, COUNT(*) AS n_rows, "
            "COUNT(*) - COUNT(n_chars) AS n_nulls FROM documents "
            "UNION ALL "
            "SELECT 'nul', NULL, 0, COUNT(*), COUNT(*) FROM documents "
            "UNION ALL "
            "SELECT 'text', NULL, COUNT(text), COUNT(*), "
            "COUNT(*) - COUNT(text) FROM documents"
            ') ORDER BY "column"'
        ),
        "grouped_quantiles": (
            "SELECT l_returnflag AS value, CAST(p AS DOUBLE) AS p, "
            "COUNT(*) AS n_rows, TRUE AS rank_ok "
            "FROM lineitem, (VALUES (0.5), (0.95)) AS t(p) "
            "GROUP BY l_returnflag, p ORDER BY value, p"
        ),
        "group_counts_pushdown": (
            "SELECT l_returnflag AS value, count(*) AS cnt FROM lineitem "
            "GROUP BY l_returnflag ORDER BY value"
        ),
        "agg_filtered_sum": (
            'SELECT \'l_orderkey\' AS "column", '
            "ROUND(CAST(sum(l_orderkey) AS DOUBLE), 4) AS sum_value, "
            "count(*) AS n_rows, "
            "CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            " AS n_nulls FROM lineitem "
            "WHERE l_quantity >= 10 AND l_quantity <= 30"
        ),
        "topk_pushdown": (
            "SELECT * FROM ("
            "SELECT 'flat' AS tag, ROUND(l_extendedprice, 2) AS value "
            "FROM lineitem ORDER BY l_extendedprice DESC LIMIT 25) "
            "UNION ALL "
            "SELECT 'grp:' || l_returnflag, ROUND(v, 2) FROM ("
            "SELECT l_returnflag, l_extendedprice AS v, "
            "ROW_NUMBER() OVER (PARTITION BY l_returnflag "
            "ORDER BY l_extendedprice DESC) AS rn FROM lineitem) "
            "WHERE rn <= 5 "
            "UNION ALL "
            "SELECT 'rows:' || l_orderkey || ':' || l_linenumber, "
            "ROUND(l_extendedprice, 2) FROM ("
            "SELECT * FROM lineitem ORDER BY l_extendedprice DESC, "
            "l_orderkey, l_linenumber LIMIT 10) "
            "UNION ALL "
            "SELECT 'grows:' || l_returnflag || ':' || rn, "
            "ROUND(p, 2) FROM ("
            "SELECT l_returnflag, l_extendedprice AS p, "
            "ROW_NUMBER() OVER (PARTITION BY l_returnflag "
            "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) "
            "AS rn FROM lineitem) WHERE rn <= 3 "
            "ORDER BY tag, value"
        ),
        "grouped_sum_pushdown": (
            "SELECT l_returnflag AS value, "
            "ROUND(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_value, "
            "count(*) AS cnt FROM lineitem "
            "WHERE l_quantity >= 5 AND l_quantity <= 45 "
            "GROUP BY l_returnflag ORDER BY value"
        ),
        "decimal_sum_pushdown": (
            'SELECT \'price\' AS "column", '
            "ROUND(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) "
            "AS DOUBLE), 2) AS sum_value, "
            "count(*) AS n_rows, "
            "CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) "
            "AS BIGINT) AS n_nulls FROM lineitem "
            "WHERE l_quantity >= 10 AND l_quantity <= 35"
        ),
        "multi_sum_onescan": (
            "WITH f AS (SELECT * FROM lineitem "
            "WHERE l_quantity >= 5 AND l_quantity <= 45) "
            'SELECT \'l_extendedprice\' AS "column", '
            "ROUND(CAST(sum(l_extendedprice) AS DOUBLE), 4) AS sum_value, "
            "count(*) AS n_rows, CAST(sum(CASE WHEN l_extendedprice IS NULL "
            "THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls FROM f "
            "UNION ALL SELECT 'l_orderkey', "
            "ROUND(CAST(sum(l_orderkey) AS DOUBLE), 4), count(*), "
            "CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) "
            "AS BIGINT) FROM f "
            "UNION ALL SELECT 'l_quantity', "
            "ROUND(CAST(sum(l_quantity) AS DOUBLE), 4), count(*), "
            "CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) "
            "AS BIGINT) FROM f "
            "UNION ALL SELECT 'l_tax', "
            "ROUND(CAST(sum(l_tax) AS DOUBLE), 4), count(*), "
            "CAST(sum(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) "
            "AS BIGINT) FROM f "
            'ORDER BY "column"'
        ),
        "minmax_pushdown": (
            "SELECT 'flat' AS tag, ROUND(min(l_extendedprice), 2) AS vmin, "
            "ROUND(max(l_extendedprice), 2) AS vmax, count(*) AS n_rows "
            "FROM lineitem WHERE l_quantity >= 10 AND l_quantity <= 40 "
            "UNION ALL "
            "SELECT 'dec', "
            "ROUND(CAST(min(CAST(l_extendedprice AS DECIMAL(12,2))) "
            "AS DOUBLE), 2), "
            "ROUND(CAST(max(CAST(l_extendedprice AS DECIMAL(12,2))) "
            "AS DOUBLE), 2), count(*) FROM lineitem "
            "UNION ALL "
            "SELECT 'grp:' || l_returnflag, ROUND(min(l_extendedprice), 2), "
            "ROUND(max(l_extendedprice), 2), count(*) FROM lineitem "
            "GROUP BY l_returnflag"
        ),
        "distinct_pushdown": (
            "SELECT DISTINCT l_returnflag AS value FROM lineitem "
            "WHERE l_quantity <= 25 ORDER BY value"
        ),
        "approx_distinct": (
            "SELECT COUNT(DISTINCT l_orderkey) AS exact_distinct, "
            "COUNT(*) AS n_rows, TRUE AS within_3pct FROM lineitem"
        ),
        "approx_quantiles": (
            "SELECT CAST(p AS DOUBLE) AS p, TRUE AS rank_within_1pct "
            "FROM (VALUES (0.25), (0.5), (0.95)) AS t(p) ORDER BY p"
        ),
        "grouped_approx_distinct": (
            "SELECT l_returnflag AS value, "
            "COUNT(DISTINCT l_orderkey) AS exact_distinct, "
            "COUNT(*) AS cnt, TRUE AS within_5pct "
            "FROM lineitem GROUP BY 1 ORDER BY 1"
        ),
        "roundtrip_after_compact": (
            "SELECT doc_id, text, lang, CAST(n_chars AS BIGINT) AS n_chars "
            "FROM documents"
        ),
        "roundtrip_media_meta": (
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "sha256(COALESCE(text, '')) AS payload_sha, "
            "CASE WHEN n_chars IS NOT NULL THEN 'text' END AS media_type, "
            "CASE WHEN n_chars IS NOT NULL THEN CAST(n_chars AS BIGINT) END AS width, "
            "CASE WHEN n_chars IS NOT NULL THEN CAST(n_chars % 256 AS BIGINT) END "
            "AS height FROM documents"
        ),
        "fingerprint_dedup": (
            "SELECT COUNT(DISTINCT regexp_replace(lower(trim(COALESCE(text, ''))),"
            " '\\s+', ' ', 'g')) AS n_distinct_fp, COUNT(*) AS n_docs FROM documents"
        ),
        "ann_recall_check": "SELECT CAST(10 AS BIGINT) AS k, TRUE AS recall_ok",
        # planted near-dup ground truth: clones uppercase the first char
        # (byte-different, token-identical), so jaccard is exactly 1.0 and
        # simhash hamming exactly 0; seeds = k smallest doc_ids >=100 chars
        "minhash_near_dups": (
            "SELECT CAST(doc_id AS BIGINT) AS key_a, "
            "CAST(doc_id + 10000000 AS BIGINT) AS key_b, "
            "CAST(1.0 AS DOUBLE) AS jaccard FROM documents "
            "WHERE length(COALESCE(text, '')) >= 100 ORDER BY doc_id LIMIT 20"
        ),
        "simhash_near_dups": (
            "SELECT CAST(doc_id AS BIGINT) AS key_a, "
            "CAST(doc_id + 10000000 AS BIGINT) AS key_b, "
            "CAST(0 AS BIGINT) AS hamming FROM documents "
            "WHERE length(COALESCE(text, '')) >= 100 ORDER BY doc_id LIMIT 25"
        ),
        # DuckDB sha256(varchar) hashes the utf-8 bytes — exactly the
        # payload the media table carries
        "multimodal_features": (
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "sha256(COALESCE(text, '')) AS payload_sha, "
            "CAST(octet_length(encode(COALESCE(text, ''))) AS BIGINT) AS n_bytes "
            "FROM documents"
        ),
        "decode_range_filter": (
            "SELECT 'int' AS tag, CAST(doc_id AS BIGINT) AS rid, "
            "CAST(n_chars AS DOUBLE) AS val FROM documents "
            "WHERE n_chars BETWEEN 200 AND 900 AND n_chars IS NOT NULL "
            "UNION ALL "
            "SELECT 'float', event_id, ROUND(value, 6) FROM events "
            "WHERE value BETWEEN 100.5 AND 300.25"
        ),
        "decode_null_allowed": (
            "SELECT doc_id, n_chars FROM documents "
            "WHERE n_chars >= 500 OR n_chars IS NULL"
        ),
        "decode_dict_eq": (
            "SELECT 'eq' AS tag, doc_id, lang AS val FROM documents "
            "WHERE lang = 'en' AND lang IS NOT NULL "
            "UNION ALL "
            "SELECT 'has1', doc_id, source FROM documents "
            "WHERE source LIKE '%1%' AND source IS NOT NULL "
            "UNION ALL "
            "SELECT 'end3', doc_id, source FROM documents "
            "WHERE source LIKE '%3' AND source IS NOT NULL "
            "UNION ALL "
            "SELECT 'rng', doc_id, source FROM documents "
            "WHERE source >= 'src12' AND source < 'src17' "
            "AND source IS NOT NULL"
        ),
        "decode_or_not": (
            "SELECT 'or' AS tag, doc_id, lang, n_chars FROM documents "
            "WHERE (n_chars <= 150 AND n_chars IS NOT NULL) "
            "OR (lang = 'en' AND lang IS NOT NULL) "
            "UNION ALL "
            "SELECT 'neq', doc_id, lang, n_chars FROM documents "
            "WHERE lang <> 'en' AND lang IS NOT NULL "
            "UNION ALL "
            "SELECT 'nrange', doc_id, lang, n_chars FROM documents "
            "WHERE NOT (n_chars BETWEEN 100 AND 500) "
            "AND n_chars IS NOT NULL"
        ),
        "dsv2_read": (
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, "
            "'n_chars' AS key, CAST(n_chars AS BIGINT) AS value "
            "FROM documents "
            "WHERE lang = 'en' AND n_chars IS NOT NULL AND doc_id <= 250 "
            "UNION ALL SELECT CAST(doc_id AS BIGINT), lang, 'n2', "
            "CAST(n_chars * 2 AS BIGINT) FROM documents "
            "WHERE lang = 'en' AND n_chars IS NOT NULL AND doc_id <= 250 "
            "UNION ALL SELECT CAST(doc_id AS BIGINT), lang, NULL, NULL "
            "FROM documents "
            "WHERE lang = 'en' AND n_chars IS NULL AND doc_id <= 250"
        ),
        "manifest_stats": (
            "SELECT 'event_id' AS \"column\", "
            "ROUND(CAST(MIN(event_id) AS DOUBLE), 6) AS vmin, "
            "ROUND(CAST(MAX(event_id) AS DOUBLE), 6) AS vmax, "
            "COUNT(*) AS n_rows, COUNT(*) AS manifest_rows, "
            "FALSE AS has_null FROM events "
            "UNION ALL SELECT 'value', ROUND(MIN(value), 6), "
            "ROUND(MAX(value), 6), COUNT(*), COUNT(*), FALSE FROM events "
            "ORDER BY \"column\""
        ),
        "selector_stats": (
            "SELECT * FROM ("
            "SELECT 'lang' AS \"column\", COUNT(*) AS n, "
            "COUNT(DISTINCT lang) AS n_distinct, "
            "AVG(OCTET_LENGTH(CAST(lang AS BLOB))) AS avg_len FROM documents "
            "UNION ALL "
            "SELECT 'source', COUNT(*), COUNT(DISTINCT source), "
            "AVG(OCTET_LENGTH(CAST(source AS BLOB))) FROM documents "
            "UNION ALL "
            "SELECT 'text', COUNT(*), COUNT(DISTINCT text), "
            "AVG(OCTET_LENGTH(CAST(text AS BLOB))) FROM documents"
            ") ORDER BY \"column\""
        ),
        "run_length_stats": (
            "WITH ordered AS ("
            "  SELECT l_returnflag, LAG(l_returnflag) OVER "
            "    (ORDER BY l_orderkey, l_linenumber) AS prev FROM lineitem"
            ") SELECT COUNT(*) AS n_values, "
            "CAST(SUM(CASE WHEN prev IS NULL OR l_returnflag <> prev THEN 1 ELSE 0 END) AS BIGINT) AS n_runs, "
            "COUNT(*)::DOUBLE / SUM(CASE WHEN prev IS NULL OR l_returnflag <> prev "
            "THEN 1 ELSE 0 END) AS mean_run_length FROM ordered"
        ),
        # planted byte-identical clones (the 15 smallest non-empty docs
        # gain one clone each) UNIONed with the corpus, then the same
        # group-by-text the Spark pipeline runs — SF-independent: at
        # scale factors where the corpus has NATURAL exact-dup texts
        # (sf0.1 has 8 such groups) both sides include them identically.
        # The min_key = -1 summary row is the exact-dedup survivor count
        # of the SAME augmented corpus (null text forms one dedup group)
        "exact_dedup": (
            "WITH aug AS ("
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents "
            "UNION ALL SELECT CAST(doc_id AS BIGINT) + 10000000, text FROM ("
            "SELECT doc_id, text FROM documents "
            "WHERE length(COALESCE(text, '')) >= 1 ORDER BY doc_id LIMIT 15)) "
            "SELECT CAST(COUNT(*) AS BIGINT) AS n_dups, "
            "CAST(MIN(doc_id) AS BIGINT) AS min_key FROM aug "
            "GROUP BY COALESCE(text, '') HAVING COUNT(*) > 1 "
            "UNION ALL "
            "SELECT CAST(COUNT(DISTINCT text) + CASE WHEN "
            "COUNT(*) - COUNT(text) > 0 THEN 1 ELSE 0 END AS BIGINT), "
            "CAST(-1 AS BIGINT) FROM aug "
            "ORDER BY min_key"
        ),
        "quality_scores": (
            "WITH base AS ("
            "  SELECT doc_id, COALESCE(text, '') AS c FROM documents"
            "), feat AS ("
            "  SELECT doc_id,"
            "    CASE WHEN trim(c) = '' THEN 0"
            "         ELSE len(regexp_split_to_array(trim(c), '\\s+')) END AS n_tokens,"
            "    length(c) AS n_chars,"
            "    length(c) - length(regexp_replace(c, '[^\\w\\s]', '', 'g')) AS n_punct,"
            "    len(list_filter(regexp_split_to_array(lower(trim(c)), '\\s+'),"
            "        x -> x IN ('the','of','and','to','in','is','a','that','for','it')"
            "    )) AS n_stop"
            "  FROM base"
            ") SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,"
            "  ROUND(n_punct::DOUBLE / GREATEST(n_chars, 1), 6) AS punct_ratio,"
            "  ROUND(n_stop::DOUBLE / GREATEST(n_tokens, 1), 6) AS stopword_ratio "
            "FROM feat ORDER BY doc_id"
        ),
        "lang_id": (
            "WITH toks AS ("
            "  SELECT doc_id, regexp_split_to_array(lower(COALESCE(text,'')), '\\s+') AS t"
            "  FROM documents"
            "), scores AS ("
            "  SELECT doc_id,"
            "    len(list_filter(t, x -> x IN ('the','of','and','to','in','is','a','that','for','it'))) AS en,"
            "    len(list_filter(t, x -> x IN ('der','die','und','das','ist','nicht','ein','mit','zu','den'))) AS de,"
            "    len(list_filter(t, x -> x IN ('le','la','et','les','des','est','un','une','dans','que'))) AS fr,"
            "    len(list_filter(t, x -> x IN ('el','la','de','que','los','una','por','con','para','es'))) AS es"
            "  FROM toks"
            "), pred AS ("
            "  SELECT CASE"
            "    WHEN GREATEST(en, de, fr, es) = 0 THEN 'und'"
            "    WHEN en >= de AND en >= fr AND en >= es THEN 'en'"
            "    WHEN de >= fr AND de >= es THEN 'de'"
            "    WHEN fr >= es THEN 'fr' ELSE 'es' END AS lang_pred"
            "  FROM scores"
            ") SELECT lang_pred, CAST(COUNT(*) AS BIGINT) AS n FROM pred "
            "GROUP BY lang_pred ORDER BY lang_pred"
        ),
        # embedding_topk oracle is generated to match the Spark-side query
        # vector (see _q_embedding_topk): q_i = 1.0 if i%7==0 else 0.1
        "embedding_topk": (
            "WITH q AS (SELECT list_transform(range(0, len(embedding)),"
            "    i -> CASE WHEN i % 7 = 0 THEN 1.0 ELSE 0.1 END) AS qv,"
            "    vec_id, embedding FROM embeddings) "
            "SELECT vec_id, ROUND(list_cosine_similarity(embedding::DOUBLE[],"
            "    qv::DOUBLE[]), 6) AS cosine FROM q "
            "ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv::DOUBLE[]) DESC,"
            " vec_id LIMIT 20"
        ),
    }
