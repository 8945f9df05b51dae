"""End-to-end Spark aggregation tests: accuracy vs exact oracle, partition
invariance, skewed groups, global paths, weighted and null handling."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ddspark.agg import (
    build_partials,
    finalize_quantiles,
    merge_partials,
    quantile_label,
    quantile_sketch,
    sketch_to_driver,
)
from ddspark.datasets import exact_quantile, generate
from ddspark.sketch import Sketch, SketchConfig
from ddspark.store import COLLAPSE_LOWEST

ALPHA = 0.01
QS = [0.5, 0.95, 0.99]


def exact_oracle(pdf: pd.DataFrame, by: str, value: str) -> dict:
    out = {}
    for key, g in pdf.groupby(by):
        v = g[value].to_numpy(np.float64)
        out[key] = {q: exact_quantile(v, q) for q in QS}
    return out


@pytest.fixture(scope="module")
def skewed_df(spark):
    """Zipf-skewed groups (top group ~45%) with lognormal values."""
    rng = np.random.default_rng(42)
    n = 40_000
    langs = np.array(["python", "js", "java", "go", "rust", "ruby", "php", "c"])
    weights = np.array([0.45, 0.2, 0.12, 0.08, 0.06, 0.04, 0.03, 0.02])
    lang = rng.choice(langs, size=n, p=weights)
    values = np.round(rng.lognormal(mean=5.0, sigma=1.5, size=n))
    pdf = pd.DataFrame({"lang": lang, "v": values})
    return spark.createDataFrame(pdf).repartition(8), pdf


def test_grouped_quantiles_within_alpha(spark, skewed_df):
    df, pdf = skewed_df
    cfg = SketchConfig(ALPHA)
    res = quantile_sketch(df, "v", by=["lang"], qs=QS, cfg=cfg).toPandas()
    oracle = exact_oracle(pdf, "lang", "v")
    assert set(res["lang"]) == set(oracle)
    for rec in res.to_dict("records"):
        for q in QS:
            est = rec[quantile_label(q)]
            exact = oracle[rec["lang"]][q]
            assert abs(est - exact) <= ALPHA * abs(exact) + 1e-15
        g = pdf[pdf["lang"] == rec["lang"]]["v"]
        assert rec["count"] == len(g)
        assert rec["sum"] == pytest.approx(g.sum())
        assert rec["min"] == g.min() and rec["max"] == g.max()


@pytest.mark.parametrize("n_parts", [1, 3, 32])
def test_partition_invariance(spark, skewed_df, n_parts):
    """The merged sketch state must be identical for any repartitioning."""
    df, _ = skewed_df
    cfg = SketchConfig(ALPHA)
    states = []
    parts = df.repartition(n_parts)
    merged = merge_partials(
        build_partials(parts, "v", ["lang"], cfg), ["lang"], cfg
    ).toPandas()
    merged = merged.sort_values("lang").reset_index(drop=True)
    states.append(merged)
    baseline = merge_partials(
        build_partials(df.coalesce(1), "v", ["lang"], cfg), ["lang"], cfg
    ).toPandas().sort_values("lang").reset_index(drop=True)
    for col in ["lang", "zero_count", "count", "min", "max", "pos_offset", "neg_offset"]:
        assert list(merged[col]) == list(baseline[col]), col
    for a, b in zip(merged["pos_bins"], baseline["pos_bins"]):
        np.testing.assert_array_equal(np.array(a), np.array(b))
    for a, b in zip(merged["sum"], baseline["sum"]):
        assert a == pytest.approx(b, rel=1e-12)


def test_global_sketch_paths(spark):
    values = generate("lognormal", 5000)
    df = spark.createDataFrame(pd.DataFrame({"v": values})).repartition(8)
    cfg = SketchConfig(ALPHA)
    # DataFrame path
    res = quantile_sketch(df, "v", by=None, qs=QS, cfg=cfg).toPandas()
    assert len(res) == 1
    rec = res.iloc[0]
    # driver-object path
    sk = sketch_to_driver(df, "v", cfg)
    local = Sketch.from_values(values, cfg)
    assert sk.nonzero_bins() == local.nonzero_bins()
    assert rec["count"] == len(values) == sk.count
    for q in QS:
        exact = exact_quantile(values, q)
        assert abs(rec[quantile_label(q)] - exact) <= ALPHA * abs(exact) + 1e-15
        assert sk.quantile(q) == local.quantile(q)


def test_spark_matches_local_bitwise(spark, skewed_df):
    """Distributed result == single-threaded local kernel on the same rows."""
    df, pdf = skewed_df
    cfg = SketchConfig(ALPHA, mode=COLLAPSE_LOWEST, bin_limit=256)
    merged = merge_partials(
        build_partials(df, "v", ["lang"], cfg), ["lang"], cfg
    ).toPandas()
    for rec in merged.to_dict("records"):
        local = Sketch.from_values(
            pdf[pdf["lang"] == rec["lang"]]["v"].to_numpy(np.float64), cfg
        )
        got = Sketch.from_state(cfg, rec)
        assert got.nonzero_bins() == local.nonzero_bins(), rec["lang"]
        assert got.count == local.count


def test_weighted_and_nulls(spark):
    pdf = pd.DataFrame(
        {
            "g": ["a"] * 4 + ["b"] * 3,
            "v": [1.0, 10.0, None, 100.0, 5.0, None, 5.0],
            "w": [1.0, 2.0, 1.0, 1.0, 3.0, 1.0, None],
        }
    )
    df = spark.createDataFrame(pdf)
    cfg = SketchConfig(0.05)
    res = (
        quantile_sketch(df, "v", by=["g"], qs=[0.5], cfg=cfg, weight_col="w")
        .toPandas()
        .set_index("g")
    )
    # nulls in value or weight are skipped
    assert res.loc["a", "count"] == 4.0  # weights 1+2+1
    assert res.loc["b", "count"] == 3.0
    assert res.loc["a", "sum"] == pytest.approx(1 + 20 + 100)


def test_partials_lineage_columns(spark, skewed_df):
    df, _ = skewed_df
    partials = build_partials(df.repartition(4), "v", ["lang"], SketchConfig())
    pdf = partials.select("lang", "rows").toPandas()
    # one row per (group, partition): the top group is in all 4 partitions
    assert pdf.groupby("lang").size().max() == 4
    assert pdf["rows"].sum() == 40_000
    merged = merge_partials(partials, ["lang"], SketchConfig()).toPandas()
    assert merged["rows"].sum() == 40_000
    assert (merged["n_partials"] >= 1).all()


def test_gamma_guard_across_pipeline(spark):
    cfg_a = SketchConfig(0.05)
    cfg_b = SketchConfig(0.01)
    sdf = spark.createDataFrame(pd.DataFrame({"v": [1.0, 2.0]}))
    partials = build_partials(sdf, "v", [], cfg_a)
    with pytest.raises(Exception):
        merge_partials(partials, [], cfg_b).collect()


def test_finalize_quantiles_rejects_states_of_another_alpha(spark):
    """State rows built at alpha 0.02 and finalized at 0.01 were silently
    read with the wrong gamma; they must be refused like merge_partials
    refuses them, and finalize within alpha at their own config."""
    rng = np.random.default_rng(9)
    pdf = pd.DataFrame({"g": rng.choice(["a", "b"], 20_000),
                        "v": np.exp(rng.uniform(0.0, np.log(1e4), 20_000))})
    partials = build_partials(spark.createDataFrame(pdf), "v", ["g"], SketchConfig(0.02))
    with pytest.raises(Exception, match="Cannot finalize DDSketch states with different parameters"):
        finalize_quantiles(partials, [0.5], SketchConfig(0.01), ["g"]).collect()
    got = finalize_quantiles(partials, [0.5], SketchConfig(0.02), ["g"]).toPandas()
    for row in got.itertuples():
        exact = exact_quantile(pdf.loc[pdf["g"] == row.g, "v"].to_numpy(), 0.5)
        assert abs(row.p50 - exact) <= 0.02 * exact


def test_finalize_empty_group_is_absent(spark):
    # groups simply don't appear when they have no rows; empty input -> empty out
    df = spark.createDataFrame([], "g string, v double")
    res = quantile_sketch(df, "v", by=["g"], qs=[0.5]).toPandas()
    assert len(res) == 0


def test_empty_global_input_same_row_every_engine(spark):
    """A global aggregate over no rows is one all-NULL row (SQL semantics),
    whichever engine computes it."""
    from ddspark.sqlpath import sql_quantile_sketch

    df = spark.createDataFrame([], "v double")
    cells = quantile_sketch(df, "v", qs=[0.5], engine="cells").collect()
    kernel = quantile_sketch(df, "v", qs=[0.5], engine="kernel").collect()
    sqlpath = sql_quantile_sketch(df, "v", qs=[0.5]).collect()
    assert len(cells) == len(kernel) == len(sqlpath) == 1
    assert cells == kernel
    assert cells[0].asDict() == {
        "count": None, "sum": None, "min": None, "max": None, "avg": None, "p50": None,
    }
    assert sqlpath[0].asDict() == {"count": None, "p50": None}


def test_kernel_quantiles_run_one_python_stage_and_one_exchange(spark, skewed_df, tmp_path):
    """The kernel engine crosses into Python only to build the partial
    sketch states; they are finalized in the JVM without a merge, so the
    finalize window's hash exchange is the only shuffle.  The checkpointed
    quantile path finalizes its stored partials the same way."""
    import re

    from ddspark.checkpoint import checkpointed_quantile_sketch

    def shape(out):
        plan = out._jdf.queryExecution().executedPlan().toString()
        python_ops = re.findall(
            r"^[\s:+\-]*(\w*(?:InPandas|InArrow|EvalPython)\w*)", plan, re.M)
        return python_ops, len(re.findall(r"Exchange hashpartitioning", plan)), plan

    df, pdf = skewed_df
    ops, exchanges, plan = shape(quantile_sketch(df, "v", by=["lang"], qs=QS, engine="kernel"))
    assert (ops, exchanges) == (["MapInPandas"], 1), plan
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf).repartition(4).write.parquet(src)
    # the build's MapInPandas ran in the attempt's write job; the result
    # reads the stored partials back, with no Python stage at all
    ops, exchanges, plan = shape(checkpointed_quantile_sketch(
        spark, src, "v", by=["lang"], qs=QS, ckpt_dir=str(tmp_path / "ckpt")))
    assert (ops, exchanges) == ([], 1), plan


@pytest.mark.parametrize("engine", ["cell", "Cells"])
def test_unknown_engine_rejected(spark, skewed_df, engine):
    """A misspelled engine must fail, not silently run the kernel engine."""
    from ddspark.agg import sketch_agg

    df, _ = skewed_df
    with pytest.raises(ValueError, match="engine must be one of"):
        quantile_sketch(df, "v", by=["lang"], qs=QS, engine=engine)
    with pytest.raises(ValueError, match="engine must be one of"):
        sketch_agg(df, "v", ["lang"], engine=engine)


def test_nonpositive_weight_fails_fast_cells_engine(spark):
    """The JVM cells path must reject weight <= 0 like the kernel engine and
    the reference (ddsketch/ddsketch.py:141-142), not corrupt counts."""
    df = spark.createDataFrame(
        pd.DataFrame({"v": [1.0, 2.0, 3.0], "w": [1.0, 0.0, 2.0]})
    )
    with pytest.raises(Exception, match="weight must be positive"):
        quantile_sketch(
            df, "v", qs=[0.5], cfg=SketchConfig(0.02), weight_col="w"
        ).collect()


def test_nonpositive_weight_fails_fast_sqlpath(spark):
    from ddspark.sqlpath import sql_quantile_sketch

    df = spark.createDataFrame(
        pd.DataFrame({"v": [1.0, 2.0], "w": [1.0, -1.0]})
    )
    with pytest.raises(Exception, match="weight must be positive"):
        sql_quantile_sketch(df, "v", None, [0.5], 0.05, weight_col="w").collect()


def test_cross_check_vs_spark_builtins(spark):
    """SURVEY §7 step 9: Spark's own approximate aggregates as independent
    sanity anchors.  percentile_approx bounds *rank* error and DDSketch
    bounds *relative value* error, so they are not equal — but on a smooth
    distribution both must sit near the exact value; approx_count_distinct
    (HLL++) must land within its published ~5% envelope of our exact count."""
    import numpy as np

    from ddspark.agg import quantile_sketch
    from ddspark.sketch import SketchConfig

    rng = np.random.default_rng(11)
    vals = np.abs(rng.lognormal(3.0, 1.0, 20000)) + 1.0
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    ours = quantile_sketch(df, "v", by=None, qs=[0.5, 0.95], cfg=SketchConfig(0.01))
    r = ours.first()
    builtin = df.selectExpr(
        "percentile_approx(v, 0.5, 10000) AS p50",
        "percentile_approx(v, 0.95, 10000) AS p95",
        "approx_count_distinct(v) AS acd",
    ).first()
    exact50 = float(np.sort(vals)[int(0.5 * (len(vals) - 1))])
    exact95 = float(np.sort(vals)[int(0.95 * (len(vals) - 1))])
    # both engines near exact (ours within alpha; builtin within 2%)
    assert abs(r["p50"] - exact50) <= 0.01 * exact50 + 1e-9
    assert abs(r["p95"] - exact95) <= 0.01 * exact95 + 1e-9
    assert abs(builtin["p50"] - exact50) <= 0.02 * exact50
    assert abs(builtin["p95"] - exact95) <= 0.02 * exact95
    # HLL++ vs our exact count field
    assert abs(builtin["acd"] - r["count"]) <= 0.05 * r["count"]


def test_quantile_sketch_multi_one_scan_matches_per_column(spark):
    """Multi-metric sketch reads the table once and returns exactly what
    per-column quantile_sketch calls return."""
    from ddspark.agg import quantile_sketch, quantile_sketch_multi
    from ddspark.sketch import SketchConfig
    from pyspark.sql import functions as F

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").where(
        (F.col("l_extendedprice") > 0) & (F.col("l_quantity") > 0)
    )
    cfg = SketchConfig(0.02)
    multi = quantile_sketch_multi(
        li, ["l_extendedprice", "l_quantity"], by=["l_returnflag"],
        qs=[0.5, 0.99], cfg=cfg,
    )
    plan = multi._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1  # ONE scan for both metrics
    got = {(r["metric"], r["l_returnflag"]): r for r in multi.collect()}
    for col in ("l_extendedprice", "l_quantity"):
        single = quantile_sketch(li, col, by=["l_returnflag"], qs=[0.5, 0.99], cfg=cfg)
        for r in single.collect():
            m = got[(col, r["l_returnflag"])]
            for field in ("count", "sum", "min", "max", "p50", "p99"):
                assert m[field] == r[field], (col, field)
    from ddspark.agg import quantile_sketch_multi as qm
    import pytest as _pytest
    with _pytest.raises(ValueError, match="non-empty"):
        qm(li, [], by=["l_returnflag"])


def test_quantile_sketch_multi_weighted(spark):
    from ddspark.agg import quantile_sketch, quantile_sketch_multi
    from ddspark.sketch import SketchConfig
    from pyspark.sql import functions as F

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").where(
        (F.col("l_extendedprice") > 0) & (F.col("l_quantity") > 0)
    )
    cfg = SketchConfig(0.02)
    multi = {
        (r["metric"], r["l_returnflag"]): r
        for r in quantile_sketch_multi(
            li, ["l_extendedprice", "l_quantity"], by=["l_returnflag"],
            qs=[0.5], cfg=cfg, weight_col="l_linenumber",
        ).collect()
    }
    for col in ("l_extendedprice", "l_quantity"):
        single = quantile_sketch(
            li, col, by=["l_returnflag"], qs=[0.5], cfg=cfg,
            weight_col="l_linenumber",
        )
        for r in single.collect():
            assert multi[(col, r["l_returnflag"])]["p50"] == r["p50"]
            assert multi[(col, r["l_returnflag"])]["count"] == r["count"]


def test_bucket_by_quantiles_equidepth_and_replay(spark):
    """Sketch-driven binning: buckets are near-equi-depth (edges within the
    sketch accuracy of exact deciles), assignment == the #edges<=value
    comparison chain, and the hot path is join-free (edges are literals)."""
    import pytest as _pytest

    from ddspark.agg import bucket_by_quantiles

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    out, edges = bucket_by_quantiles(li, "l_extendedprice", k=10)
    assert len(edges) == 9 and edges == sorted(edges)

    counts = {r["bucket"]: r["n"] for r in
              out.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()}
    n = sum(counts.values())
    for b in range(10):
        # equi-depth up to sketch accuracy (1%) + bucket-boundary discreteness
        assert counts.get(b, 0) == _pytest.approx(n / 10, rel=0.15), (b, counts)

    # exact replay of the assignment rule on a sample
    sample = out.select("l_extendedprice", "bucket").limit(500).collect()
    for r in sample:
        want = sum(1 for e in edges if r["l_extendedprice"] >= e)
        assert r["bucket"] == want

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan

    with _pytest.raises(ValueError, match="k must be"):
        bucket_by_quantiles(li, "l_extendedprice", k=1)
    with _pytest.raises(ValueError, match="no positive"):
        bucket_by_quantiles(li.where("l_extendedprice < 0"), "l_extendedprice")


def test_bucket_by_quantiles_grouped_matches_per_group_global(spark):
    """Per-group binning == running the global binner on each group's rows
    alone (same sketch, same edges), with no driver collect and a
    broadcast edge join; null values and groups with no positive values
    get NULL buckets."""
    from ddspark.agg import bucket_by_quantiles, bucket_by_quantiles_grouped

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    out = bucket_by_quantiles_grouped(li, "l_extendedprice", "l_returnflag", k=4)
    # (orderkey, linenumber) is NOT unique in the synthetic table — compare
    # the (price, bucket) multiset per group
    rows = out.select("l_returnflag", "l_extendedprice", "bucket").collect()
    for flag in ("A", "N", "R"):
        sub = li.where(F.col("l_returnflag") == flag)
        per, _ = bucket_by_quantiles(sub, "l_extendedprice", k=4)
        want = sorted(
            (r["l_extendedprice"], r["bucket"])
            for r in per.select("l_extendedprice", "bucket").collect()
        )
        got = sorted(
            (r["l_extendedprice"], r["bucket"])
            for r in rows
            if r["l_returnflag"] == flag
        )
        assert got == want, flag

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        bucket_by_quantiles_grouped(li, "l_extendedprice", "l_returnflag", k=1)
