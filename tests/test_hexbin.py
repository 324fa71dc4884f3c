"""hex_bin / hex_bin_multi — correctness vs numpy+DuckDB, plan shape."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from demeter_spark.functions import hexgrid as hx
from demeter_spark.operators import hexbin

_SHUFFLE = re.compile(r"(?<!Broadcast)Exchange")


def _points(spark, n=5000, seed=11):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "lon": rng.uniform(-30, 30, n),
            "lat": rng.uniform(-20, 20, n),
            "score": rng.integers(0, 100, n).astype("int64"),
        }
    )
    return spark.createDataFrame(pdf).repartition(8), pdf


def test_hex_bin_matches_numpy_groupby(spark, ddb):
    df, pdf = _points(spark)
    res = 5
    out = hexbin.hex_bin(
        df, res, values={"sum_score": F.sum("score")}
    ).toPandas()
    ids = hx.hex_of(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), res)
    pdf = pdf.assign(hex_id=ids)
    want = (
        pdf.groupby("hex_id")
        .agg(n=("hex_id", "size"), sum_score=("score", "sum"))
        .reset_index()
    )
    got = out.sort_values("hex_id").reset_index(drop=True)
    want = want.sort_values("hex_id").reset_index(drop=True)
    assert np.array_equal(got["hex_id"], want["hex_id"])
    assert np.array_equal(got["n"], want["n"])
    assert np.array_equal(got["sum_score"], want["sum_score"])
    # centers decoded in-plan match the numpy decode bit-for-bit
    clon, clat = hx.hex_center(got["hex_id"].to_numpy().astype(np.int64))
    assert np.array_equal(got["hex_lon"].to_numpy(), clon)
    assert np.array_equal(got["hex_lat"].to_numpy(), clat)
    # and the DuckDB mirror of the whole aggregation agrees
    ddb.register("hb_pts", pdf[["lon", "lat", "score"]])
    sql = hx.hex_of_sql("lon", "lat", res)
    want_db = ddb.sql(
        f"SELECT {sql} AS hex_id, count(*) AS n, sum(score) AS s"
        " FROM hb_pts GROUP BY 1 ORDER BY 1"
    ).df()
    assert np.array_equal(got["hex_id"], want_db["hex_id"])
    assert np.array_equal(got["n"], want_db["n"])


def test_hex_bin_single_exchange(spark):
    df, _ = _points(spark, n=200)
    out = hexbin.hex_bin(df, 6)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # caller repartition aside, the aggregation itself adds exactly one
    # shuffle (hash partial -> exchange -> final); assignment+decode are
    # codegen (no Python eval)
    assert len(_SHUFFLE.findall(plan)) <= 2  # input round-robin + agg
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hex_bin_multi_exact_per_level(spark):
    df, pdf = _points(spark, n=3000, seed=12)
    out = hexbin.hex_bin_multi(df, [3, 5, 7]).toPandas()
    for res in (3, 5, 7):
        ids = hx.hex_of(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), res)
        want = pd.Series(ids).value_counts().sort_index()
        got = (
            out[out["res"] == res]
            .sort_values("hex_id")
            .set_index("hex_id")["n"]
        )
        assert np.array_equal(got.index.to_numpy(), want.index.to_numpy())
        assert np.array_equal(got.to_numpy(), want.to_numpy())
    # per-level totals all equal the point count (every point binned once
    # per level)
    assert (out.groupby("res")["n"].sum() == len(pdf)).all()


def test_hex_bin_multi_single_exchange(spark):
    df, _ = _points(spark, n=200)
    out = hexbin.hex_bin_multi(df, [2, 4, 6, 8])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(_SHUFFLE.findall(plan)) <= 2  # input round-robin + ONE agg
    # the ids are computed once, in the Project below the generator: the
    # generator only stacks columns and carries none of the id arithmetic
    gen = [ln for ln in plan.splitlines() if "Generate " in ln]
    assert len(gen) == 1, plan
    assert "FLOOR(" not in gen[0], gen[0]
