"""Pure-SQL DDSketch path: accuracy, agreement with the pandas-UDF engine,
and agreement between the Spark SQL form and the DuckDB ANSI form."""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
import pytest

from ddspark.agg import quantile_label, quantile_sketch
from ddspark.datasets import exact_quantile
from ddspark.mapping import LogarithmicMapping
from ddspark.sketch import Sketch, SketchConfig
from ddspark.sqlpath import ansi_sql_quantile_sketch, sql_quantile_sketch
from ddspark.store import COLLAPSE_LOWEST

ALPHA = 0.01
QS = [0.5, 0.95, 0.99]


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def test_sql_path_accuracy(spark, lineitem):
    res = sql_quantile_sketch(
        lineitem, "l_extendedprice", ["l_returnflag"], QS, ALPHA
    ).toPandas()
    pdf = lineitem.select("l_returnflag", "l_extendedprice").toPandas()
    for rec in res.to_dict("records"):
        g = pdf[pdf["l_returnflag"] == rec["l_returnflag"]]["l_extendedprice"]
        v = g.to_numpy(np.float64)
        assert rec["count"] == len(v)
        for q in QS:
            exact = exact_quantile(v, q)
            assert abs(rec[quantile_label(q)] - exact) <= ALPHA * abs(exact) + 1e-15


def test_sql_path_matches_pandas_path(spark, lineitem):
    """Same bucket function, same rank rule -> results differ by at most the
    pow ulp; typically bit-identical."""
    sql_res = (
        sql_quantile_sketch(lineitem, "l_extendedprice", ["l_returnflag"], QS, ALPHA)
        .toPandas()
        .set_index("l_returnflag")
        .sort_index()
    )
    pd_res = (
        quantile_sketch(
            lineitem,
            "l_extendedprice",
            ["l_returnflag"],
            QS,
            SketchConfig(ALPHA),
        )
        .toPandas()
        .set_index("l_returnflag")
        .sort_index()
    )
    for q in QS:
        col = quantile_label(q)
        np.testing.assert_allclose(
            sql_res[col].to_numpy(), pd_res[col].to_numpy(), rtol=1e-12
        )
    np.testing.assert_array_equal(
        sql_res["count"].to_numpy(), pd_res["count"].to_numpy()
    )


def test_ansi_sql_matches_spark_sql(spark, lineitem, sf_dir):
    sql = ansi_sql_quantile_sketch(
        "lineitem", "l_extendedprice", ["l_returnflag"], QS, ALPHA, round_digits=6
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet'"
    )
    duck = con.execute(sql).df().set_index("l_returnflag").sort_index()
    spark_res = (
        sql_quantile_sketch(lineitem, "l_extendedprice", ["l_returnflag"], QS, ALPHA)
        .toPandas()
        .set_index("l_returnflag")
        .sort_index()
    )
    for q in QS:
        col = quantile_label(q)
        np.testing.assert_allclose(
            duck[col].to_numpy(),
            np.round(spark_res[col].to_numpy(), 6),
            rtol=0,
            atol=1e-9,
        )
    np.testing.assert_array_equal(
        duck["count"].to_numpy(), spark_res["count"].to_numpy()
    )


def test_sql_path_collapsing(spark, lineitem, sf_dir):
    """Collapse-lowest clamp in SQL == clamp oracle, vs DuckDB too."""
    limit = 8
    res = sql_quantile_sketch(
        lineitem, "l_extendedprice", ["l_returnflag"], QS, ALPHA,
        mode=COLLAPSE_LOWEST, bin_limit=limit,
    ).toPandas().set_index("l_returnflag").sort_index()
    sql = ansi_sql_quantile_sketch(
        "lineitem", "l_extendedprice", ["l_returnflag"], QS, ALPHA,
        mode=COLLAPSE_LOWEST, bin_limit=limit, round_digits=6,
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet'")
    duck = con.execute(sql).df().set_index("l_returnflag").sort_index()
    for q in QS:
        col = quantile_label(q)
        np.testing.assert_allclose(
            duck[col].to_numpy(), np.round(res[col].to_numpy(), 6), atol=1e-9
        )
    # p99 must still be accurate (collapse hits the lowest bins only)
    pdf = lineitem.select("l_returnflag", "l_extendedprice").toPandas()
    for flag, rec in res.iterrows():
        v = pdf[pdf["l_returnflag"] == flag]["l_extendedprice"].to_numpy(np.float64)
        exact = exact_quantile(v, 0.99)
        assert abs(rec[quantile_label(0.99)] - exact) <= ALPHA * exact + 1e-15


def test_sql_path_global(spark, lineitem):
    res = sql_quantile_sketch(lineitem, "l_quantity", None, [0.5], ALPHA).toPandas()
    assert len(res) == 1
    pdf = lineitem.select("l_quantity").toPandas()["l_quantity"].to_numpy(np.float64)
    exact = exact_quantile(pdf, 0.5)
    assert abs(res.iloc[0][quantile_label(0.5)] - exact) <= ALPHA * exact + 1e-15


def test_sql_path_plan_is_jvm_only(spark, lineitem):
    """No Python evaluation anywhere in the physical plan; scan prunes to the
    two referenced columns."""
    plan = (
        sql_quantile_sketch(lineitem, "l_extendedprice", ["l_returnflag"], QS, ALPHA)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_cdf_probe_bracket_and_values(spark):
    import numpy as np

    from ddspark.sqlpath import sql_cdf_probe

    rng = np.random.default_rng(23)
    vals = np.abs(rng.lognormal(3.0, 1.0, 8000)) + 0.1
    df = spark.createDataFrame(
        [("a" if i % 2 else "b", float(v)) for i, v in enumerate(vals)],
        "g string, v double",
    )
    xs = [5.0, 20.0, 60.0, 200.0]
    out = sql_cdf_probe(df, "v", xs, by=["g"], alpha=0.01)
    rows = out.collect()
    assert len(rows) == 8  # 2 groups x 4 probes
    assert all(r["within_bracket"] for r in rows)
    # spot-check: estimate near the true CDF for each group
    for g in ("a", "b"):
        gv = np.sort(vals[(np.arange(len(vals)) % 2) == (1 if g == "a" else 0)])
        for r in rows:
            if r["g"] != g:
                continue
            exact = np.searchsorted(gv, r["x"], side="right") / len(gv)
            assert abs(r["est_cdf"] - exact) < 0.05


def test_cdf_probe_matches_duckdb(spark):
    import duckdb
    import numpy as np

    from ddspark.sqlpath import ansi_sql_cdf_probe, sql_cdf_probe

    rng = np.random.default_rng(7)
    vals = np.abs(rng.lognormal(2.0, 1.2, 3000)) + 0.01
    pdf = __import__("pandas").DataFrame(
        {"g": ["x" if i % 3 else "y" for i in range(len(vals))], "v": vals}
    )
    df = spark.createDataFrame(pdf)
    xs = [1.0, 7.5, 40.0]
    got = sorted(
        map(tuple, sql_cdf_probe(df, "v", xs, by=["g"]).collect())
    )
    con = duckdb.connect()
    con.register("t", pdf)
    duck = sorted(
        map(tuple, con.execute(ansi_sql_cdf_probe("t", "v", xs, by=["g"])).fetchall())
    )
    assert got == duck


def test_sql_path_drops_nan_and_null_weight_rows(spark):
    """NaN values and NULL weights are dropped exactly as the cells engine
    drops them (Spark orders NaN above every number, so ``v > 0`` alone
    would keep it): the answer is quantile_sketch's over ``v > 0``."""
    nan = float("nan")
    # built from tuples: pandas input would turn NaN into NULL on the way in
    df = spark.createDataFrame(
        [
            ("a", 10.0, 1.0), ("a", 20.0, 2.0), ("a", nan, 1.0),
            ("a", nan, 1.0), ("a", nan, None),
            ("b", 3.0, None), ("b", 7.0, 0.5), ("b", -1.0, 1.0),
        ],
        "g string, v double, w double",
    )
    cfg = SketchConfig(ALPHA)
    positive = df.where(df["v"] > 0)
    rows = lambda d: sorted(d.toPandas().to_dict("records"), key=lambda r: r["g"])
    for weight_col in (None, "w"):
        got = sql_quantile_sketch(df, "v", ["g"], QS, ALPHA, weight_col=weight_col)
        want = quantile_sketch(
            positive, "v", ["g"], QS, cfg, weight_col=weight_col, exact_stats=False
        )
        assert got.columns == want.columns
        assert rows(got) == rows(want)
    a = sql_quantile_sketch(df.where(df["g"] == "a"), "v", None, [0.5], ALPHA).first()
    assert a["count"] == 2 and abs(a["p50"] - 10.0) <= ALPHA * 10.0


def test_sql_path_zero_bucket_edge(spark):
    """Positive values at or below the mapping's min_possible go to the zero
    bucket and read back as 0.0 — the reference's rule
    (ddsketch/ddsketch.py:144-149), shared by all three engines."""
    vals = [1e-310, 2e-310, 3e-310]
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    cfg = SketchConfig(ALPHA)
    sql = sql_quantile_sketch(df, "v", None, [0.5], ALPHA).first()
    cells = quantile_sketch(df, "v", None, [0.5], cfg).first()
    local = Sketch.from_values(np.array(vals), cfg)
    assert sql["count"] == cells["count"] == local.count == 3
    assert sql["p50"] == cells["p50"] == local.quantile(0.5) == 0.0


def test_cdf_probe_drops_nan_rows(spark):
    from ddspark.sqlpath import sql_cdf_probe

    nan = float("nan")
    df = spark.createDataFrame([(0.5,), (4.0,), (nan,), (nan,)], "v double")
    (row,) = sql_cdf_probe(df, "v", [2.0]).collect()
    assert row["est_cdf"] == 0.5 and row["within_bracket"]


def test_cdf_probe_counts_zero_bucket_below_every_probe(spark):
    from ddspark.sqlpath import sql_cdf_probe

    df = spark.createDataFrame(pd.DataFrame({"v": [1e-310, 4.0, 8.0, 16.0]}))
    rows = sql_cdf_probe(df, "v", [1e-300, 5.0]).collect()
    assert [r["est_cdf"] for r in rows] == [0.25, 0.5]
    assert all(r["within_bracket"] for r in rows)


def test_cdf_probe_rejects_nonpositive_weight(spark):
    from ddspark.sqlpath import sql_cdf_probe

    df = spark.createDataFrame(
        pd.DataFrame({"v": [1.0, 3.0, 5.0], "w": [1.0, -2.0, None]})
    )
    with pytest.raises(Exception, match="weight must be positive"):
        sql_cdf_probe(df, "v", [2.0], weight_col="w").collect()
    ok = df.where(df["w"].isNull() | (df["w"] > 0))
    (row,) = sql_cdf_probe(ok, "v", [2.0], weight_col="w").collect()
    assert row["est_cdf"] == 1.0
