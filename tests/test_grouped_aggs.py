"""grouped_aggs (engine/agg.py): the full TPC-H Q1 rollup — GROUP BY
(g1..gN) with SUM/AVG/COUNT of several value columns in ONE pass over
the blocks parquet — must match Catalyst, including NULL group keys,
NULL values (excluded from sum/avg, counted in cnt), and the
multi-dimension composite-code path."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from boltspark.engine import encode_table
from boltspark.engine.agg import grouped_aggs, grouped_avg
from boltspark.engine.filters import RangePredicate
from tests.conftest import null_mask


@pytest.fixture(scope="module")
def ga_table(spark, tmp_path_factory):
    n = 15000
    i = np.arange(n)
    mask = null_mask(n)
    df = pd.DataFrame({
        "k": i,
        "flag": np.array(["A", "N", "R"])[i % 3].astype(object),
        "status": np.array(["F", "O"])[(i // 7) % 2].astype(object),
        "qty": (i % 53).astype(np.int64),
        "price": np.where(mask, (i % 997) / 4.0, np.nan),
    })
    df.loc[~mask, "price"] = None
    sdf = spark.createDataFrame(df)
    sdf = sdf.withColumn("price", F.when(
        F.col("price").isNotNull() & ~F.isnan("price"), F.col("price")))
    sdf = sdf.withColumn("flag", F.when(F.col("k") % 89 == 0,
                                        F.lit(None)).otherwise(F.col("flag")))
    base = tmp_path_factory.mktemp("gaenc")
    out, man = str(base / "blocks"), str(base / "manifest")
    encode_table(sdf, out, man, key_cols=("k",),
                 target_partition_bytes=1 << 18, block_bytes=64 << 10,
                 resume=False)
    return sdf, out, man


def _exp(sdf, gcols, vcols, cond=None):
    d = sdf.filter(cond) if cond is not None else sdf
    aggs = []
    for v in vcols:
        aggs += [F.sum(v).alias(f"sum_{v}"), F.avg(v).alias(f"avg_{v}"),
                 F.count(v).alias(f"n_{v}")]
    aggs.append(F.count(F.lit(1)).alias("cnt"))
    rows = d.groupBy(*gcols).agg(*aggs).collect()
    return {tuple(r[g] for g in gcols): r.asDict() for r in rows}


def _check(got_rows, exp, gcols, vcols):
    got = {tuple(r[g] for g in gcols): r.asDict() for r in got_rows}
    assert set(got) == set(exp)
    for key, e in exp.items():
        g = got[key]
        assert g["cnt"] == e["cnt"], key
        for v in vcols:
            assert g[f"n_{v}"] == e[f"n_{v}"], (key, v)
            for m in (f"sum_{v}", f"avg_{v}"):
                if e[m] is None:
                    assert g[m] is None, (key, m)
                else:
                    assert g[m] == pytest.approx(float(e[m]),
                                                 rel=1e-12), (key, m)


def test_grouped_aggs_q1_shape(spark, ga_table):
    sdf, out, man = ga_table
    gcols, vcols = ["flag", "status"], ["qty", "price"]
    got = grouped_aggs(spark, out, man, gcols, vcols).collect()
    _check(got, _exp(sdf, gcols, vcols), gcols, vcols)


def test_grouped_aggs_single_dim(spark, ga_table):
    sdf, out, man = ga_table
    got = grouped_aggs(spark, out, man, ["flag"], ["price"]).collect()
    _check(got, _exp(sdf, ["flag"], ["price"]), ["flag"], ["price"])


def test_grouped_aggs_filtered(spark, ga_table):
    sdf, out, man = ga_table
    pred = RangePredicate(column="qty", lower=5, upper=45,
                          null_allowed=False)
    cond = (F.col("qty") >= 5) & (F.col("qty") <= 45)
    got = grouped_aggs(spark, out, man, ["flag", "status"],
                       ["qty", "price"], predicate=pred).collect()
    _check(got, _exp(sdf, ["flag", "status"], ["qty", "price"], cond),
           ["flag", "status"], ["qty", "price"])


def test_grouped_avg_matches_catalyst(spark, ga_table):
    sdf, out, man = ga_table
    got = {r["value"]: (r["avg_value"], r["n_values"], r["cnt"]) for r in
           grouped_avg(spark, out, man, "flag", "price").collect()}
    exp = {r["flag"]: (r["a"], r["n"], r["c"]) for r in
           sdf.groupBy("flag").agg(F.avg("price").alias("a"),
                                   F.count("price").alias("n"),
                                   F.count(F.lit(1)).alias("c")).collect()}
    assert set(got) == set(exp)
    for k, (ea, en, ec) in exp.items():
        ga, gn, gc = got[k]
        assert (gn, gc) == (en, ec), k
        if ea is None:
            assert ga is None, k
        else:
            assert ga == pytest.approx(ea, rel=1e-12), k


def test_grouped_aggs_decimal_refused(spark, ga_table):
    sdf, out, man = ga_table
    import tempfile

    d = tempfile.mkdtemp()
    wide = sdf.select("k", "flag",
                      F.col("qty").cast("decimal(12,2)").alias("dq"))
    encode_table(wide, f"{d}/b", f"{d}/m", key_cols=("k",), resume=False)
    with pytest.raises(NotImplementedError, match="decimal"):
        grouped_aggs(spark, f"{d}/b", f"{d}/m", ["flag"], ["dq"])


def test_grouped_aggs_minmax(spark, ga_table):
    sdf, out, man = ga_table
    got = {(r["flag"], r["status"]):
           (r["min_qty"], r["max_qty"], r["min_price"], r["max_price"])
           for r in grouped_aggs(spark, out, man, ["flag", "status"],
                                 ["qty", "price"], minmax=True).collect()}
    exp = {(r["flag"], r["status"]):
           (r["mnq"], r["mxq"], r["mnp"], r["mxp"]) for r in
           sdf.groupBy("flag", "status").agg(
               F.min("qty").alias("mnq"), F.max("qty").alias("mxq"),
               F.min("price").alias("mnp"),
               F.max("price").alias("mxp")).collect()}
    assert got == exp
