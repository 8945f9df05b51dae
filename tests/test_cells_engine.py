"""The cells engine (JVM key computation + hash-agg, Python bin assembly)
must produce the same sketch state as the kernel engine and the local
algebra."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window, functions as F

from ddspark import plancache
from ddspark.agg import (
    _state_cells,
    build_cells,
    build_partials,
    quantile_label,
    quantile_sketch,
    sketch_agg,
)
from ddspark.datasets import exact_quantile, generate
from ddspark.sketch import Sketch, SketchConfig
from ddspark.sqlpath import sql_quantile_sketch
from ddspark.store import COLLAPSE_HIGHEST, COLLAPSE_LOWEST

ALPHA = 0.01
QS = [0.5, 0.95, 0.99]


@pytest.fixture(scope="module")
def mixed_df(spark):
    """Positive, negative and zero values across skewed groups."""
    rng = np.random.default_rng(7)
    n = 20_000
    g = rng.choice(["a", "b", "c"], size=n, p=[0.7, 0.2, 0.1])
    v = np.round(rng.lognormal(4.0, 1.5, size=n))
    v[rng.random(n) < 0.1] *= -1
    v[rng.random(n) < 0.05] = 0.0
    pdf = pd.DataFrame({"g": g, "v": v})
    return spark.createDataFrame(pdf).repartition(8), pdf


@pytest.mark.parametrize(
    "cfg",
    [
        SketchConfig(ALPHA),
        SketchConfig(0.05, mode=COLLAPSE_LOWEST, bin_limit=64),
        SketchConfig(0.05, mode=COLLAPSE_HIGHEST, bin_limit=64),
    ],
    ids=["dense", "collapse_lowest", "collapse_highest"],
)
def test_cells_equals_kernel_and_local(spark, mixed_df, cfg):
    df, pdf = mixed_df
    cells = (
        sketch_agg(df, "v", ["g"], cfg, engine="cells")
        .toPandas()
        .set_index("g")
        .sort_index()
    )
    kernel = (
        sketch_agg(df, "v", ["g"], cfg, engine="kernel")
        .toPandas()
        .set_index("g")
        .sort_index()
    )
    for key in cells.index:
        local = Sketch.from_values(
            pdf[pdf["g"] == key]["v"].to_numpy(np.float64), cfg
        )
        got = Sketch.from_state(cfg, cells.loc[key].to_dict())
        ker = Sketch.from_state(cfg, kernel.loc[key].to_dict())
        assert got.nonzero_bins() == local.nonzero_bins() == ker.nonzero_bins(), key
        assert got.count == local.count == ker.count
        assert got.zero_count == local.zero_count
        assert got.min == local.min and got.max == local.max
        assert got.sum == pytest.approx(local.sum, rel=1e-12)


def test_cells_quantiles_within_alpha(spark, mixed_df):
    df, pdf = mixed_df
    res = (
        quantile_sketch(df, "v", ["g"], QS, SketchConfig(ALPHA), engine="cells")
        .toPandas()
        .set_index("g")
    )
    for key, rec in res.iterrows():
        v = pdf[pdf["g"] == key]["v"].to_numpy(np.float64)
        for q in QS:
            exact = exact_quantile(v, q)
            assert abs(rec[quantile_label(q)] - exact) <= ALPHA * abs(exact) + 1e-15


def test_cells_weighted(spark):
    values = generate("integers", 1000) + 20.0
    uniq, counts = np.unique(values, return_counts=True)
    pdf = pd.DataFrame({"v": uniq, "w": counts.astype(float)})
    df = spark.createDataFrame(pdf).repartition(4)
    cfg = SketchConfig(0.05)
    got = sketch_agg(df, "v", None, cfg, weight_col="w", engine="cells").toPandas()
    local = Sketch.from_values(values, cfg)
    sk = Sketch.from_state(cfg, got.iloc[0].to_dict())
    assert sk.nonzero_bins() == local.nonzero_bins()
    assert sk.count == local.count
    for q in QS:
        assert sk.quantile(q) == local.quantile(q)


def test_cells_global_and_plan(spark, mixed_df):
    df, pdf = mixed_df
    res = quantile_sketch(df, "v", None, [0.5], SketchConfig(ALPHA), engine="cells")
    rec = res.toPandas().iloc[0]
    v = pdf["v"].to_numpy(np.float64)
    exact = exact_quantile(v, 0.5)
    assert abs(rec[quantile_label(0.5)] - exact) <= ALPHA * abs(exact) + 1e-15
    # the pre-shuffle stage must be pure JVM: python only appears after
    # the cell aggregation (FlatMapGroupsInPandas on tiny cells)
    from ddspark.agg import build_cells

    plan = (
        build_cells(df, "v", ["g"], SketchConfig(ALPHA))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert "HashAggregate" in plan


@pytest.mark.parametrize("mapping", ["linear", "cubic"])
def test_cells_supports_interpolated_mappings(spark, mixed_df, mapping):
    """Round 2: the corrected-frexp Catalyst key makes the cells engine
    cover the interpolated mappings too — bit-identical bins vs the Arrow
    kernel engine and the local algebra."""
    df, pdf = mixed_df
    cfg = SketchConfig(0.02, mapping=mapping)
    cells = (
        sketch_agg(df, "v", ["g"], cfg, engine="cells")
        .toPandas().set_index("g").sort_index()
    )
    kernel = (
        sketch_agg(df, "v", ["g"], cfg, engine="kernel")
        .toPandas().set_index("g").sort_index()
    )
    for key in cells.index:
        local = Sketch.from_values(pdf[pdf["g"] == key]["v"].to_numpy(np.float64), cfg)
        got = Sketch.from_state(cfg, cells.loc[key].to_dict())
        ker = Sketch.from_state(cfg, kernel.loc[key].to_dict())
        assert got.nonzero_bins() == local.nonzero_bins() == ker.nonzero_bins(), key
        assert got.count == local.count == ker.count


@pytest.mark.parametrize("mapping", ["linear", "cubic"])
def test_mapping_exprs_match_numpy_kernels(spark, mapping):
    """key_expr/value_expr (Catalyst) vs key_vec/value_vec (NumPy): keys
    bit-identical across frexp boundary cases; values within 1 ulp."""
    from ddspark.mapping import mapping_from_name

    rng = np.random.default_rng(0)
    vals = np.concatenate([
        rng.uniform(1e-6, 1e6, 4000),
        np.exp(rng.uniform(-20, 20, 4000)),
        2.0 ** np.arange(-30, 31),
        np.nextafter(2.0 ** np.arange(-30, 31), 0),
        np.nextafter(2.0 ** np.arange(-30, 31), np.inf),
    ])
    km = mapping_from_name(mapping, 0.01)
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    got_k = (
        df.select(km.key_expr(F.col("v")).alias("k")).toPandas()["k"]
        .to_numpy(np.int64)
    )
    assert np.array_equal(got_k, km.key_vec(vals))
    keys = np.unique(km.key_vec(vals))
    kdf = spark.createDataFrame(pd.DataFrame({"k": keys}))
    got_v = kdf.select(km.value_expr(F.col("k")).alias("x")).toPandas()["x"].to_numpy()
    want_v = km.value_vec(keys)
    assert np.allclose(got_v, want_v, rtol=1e-12)


def test_rollup_levels_consistent(spark, mixed_df):
    from ddspark.agg import quantile_sketch_rollup

    df, pdf = mixed_df
    cfg = SketchConfig(ALPHA)
    res = quantile_sketch_rollup(df, "v", ["g"], qs=[0.5], cfg=cfg).toPandas()
    # per-group rows + one grand-total row
    assert len(res) == pdf["g"].nunique() + 1
    total = res[res["g"].isna()].iloc[0]
    assert total["count"] == len(pdf)
    # the grand-total row equals a direct global sketch
    direct = quantile_sketch(df, "v", None, [0.5], cfg).toPandas().iloc[0]
    assert total[quantile_label(0.5)] == direct[quantile_label(0.5)]
    assert total["min"] == direct["min"] and total["max"] == direct["max"]
    # per-group rows equal direct grouped sketches
    grouped = quantile_sketch(df, "v", ["g"], [0.5], cfg).toPandas().set_index("g")
    for g in grouped.index:
        row = res[res["g"] == g].iloc[0]
        assert row[quantile_label(0.5)] == grouped.loc[g, quantile_label(0.5)]


def test_cube_grouping_sets(spark):
    from ddspark.agg import quantile_sketch_rollup

    rng = np.random.default_rng(2)
    pdf = pd.DataFrame(
        {
            "a": rng.choice(["x", "y"], 5000),
            "b": rng.choice(["u", "v", "w"], 5000),
            "v": np.round(rng.lognormal(3, 1, 5000)),
        }
    )
    df = spark.createDataFrame(pdf).repartition(4)
    sets = [["a", "b"], ["a"], ["b"], []]  # CUBE(a, b)
    res = quantile_sketch_rollup(
        df, "v", ["a", "b"], qs=[0.5], cfg=SketchConfig(0.02), grouping_sets=sets
    ).toPandas()
    assert len(res) == 6 + 2 + 3 + 1
    assert res[res["a"].isna() & res["b"].isna()].iloc[0]["count"] == 5000
    for a in ["x", "y"]:
        want = (pdf["a"] == a).sum()
        got = res[(res["a"] == a) & (res["b"].isna())].iloc[0]["count"]
        assert got == want


def test_driver_finalize_equals_distributed(spark, mixed_df):
    from ddspark.agg import quantile_sketch_collect

    df, pdf = mixed_df
    cfg = SketchConfig(ALPHA)
    dist = quantile_sketch(df, "v", ["g"], QS, cfg).toPandas().set_index("g").sort_index()
    drv = quantile_sketch_collect(df, "v", ["g"], QS, cfg).set_index("g").sort_index()
    for q in QS:
        col = quantile_label(q)
        # same bucket keys; representative values may differ in the last ulp
        # (distributed finalizer is JVM pow, driver finalizer np.power)
        assert np.allclose(dist[col], drv[col], rtol=1e-12), col
    assert list(dist["count"]) == list(drv["count"])
    assert list(dist["min"]) == list(drv["min"])
    # global path too
    dist_g = quantile_sketch(df, "v", None, [0.5], cfg).toPandas().iloc[0]
    drv_g = quantile_sketch_collect(df, "v", None, [0.5], cfg).iloc[0]
    assert dist_g[quantile_label(0.5)] == pytest.approx(
        drv_g[quantile_label(0.5)], rel=1e-12
    )


# ------------------------------------------------------ distributed finalizer


def test_finalize_cells_sql_many_groups(spark):
    """Correctness at high group cardinality: spot-check groups against the
    local algebra."""
    from ddspark.agg import build_cells, finalize_cells_sql

    rng = np.random.default_rng(11)
    n = 60_000
    g = rng.integers(0, 5_000, n)
    v = np.round(rng.lognormal(3.0, 1.0, n), 3)
    v[rng.random(n) < 0.05] *= -1
    pdf = pd.DataFrame({"g": g, "v": v})
    df = spark.createDataFrame(pdf).repartition(16)
    cfg = SketchConfig(ALPHA)
    res = finalize_cells_sql(
        build_cells(df, "v", ["g"], cfg), QS, ["g"], cfg
    ).toPandas().set_index("g")
    assert len(res) == pdf["g"].nunique()
    for gid in rng.choice(pdf["g"].unique(), 25, replace=False):
        vals = pdf[pdf["g"] == gid]["v"].to_numpy(np.float64)
        sk = Sketch.from_values(vals, cfg)
        row = res.loc[gid]
        assert row["count"] == len(vals)
        assert row["min"] == vals.min() and row["max"] == vals.max()
        for q in QS:
            # same bucket; JVM pow vs np.power may differ in the last ulp
            assert row[quantile_label(q)] == pytest.approx(
                sk.quantile(q), rel=1e-12
            ), (gid, q)


def test_finalize_cells_sql_matches_python_all_modes(spark, mixed_df):
    """The pure-JVM finalizer must agree with the driver-side Sketch algebra
    over the same cells (``_sketch_from_cells`` + ``Sketch.quantile``, as
    ``quantile_sketch_collect`` does) on mixed-sign data in every store
    mode — this is the property that licenses the ordering identity
    documented on finalize_cells_sql.  ``finalize_quantiles`` over the
    kernel engine's state rows of the same data — merged, and the unmerged
    per-partition partials — runs the same finalizer on cells exploded from
    those states, and must agree too."""
    from ddspark.agg import (
        _sketch_from_cells,
        build_cells,
        build_partials,
        finalize_cells_sql,
        finalize_quantiles,
    )

    df, _ = mixed_df
    for cfg in [
        SketchConfig(ALPHA),
        SketchConfig(0.05, mode=COLLAPSE_LOWEST, bin_limit=16),
        SketchConfig(0.05, mode=COLLAPSE_HIGHEST, bin_limit=16),
    ]:
        cells = build_cells(df, "v", ["g"], cfg)
        local = {g: _sketch_from_cells(c, cfg) for g, c in cells.toPandas().groupby("g")}
        states = sketch_agg(df, "v", ["g"], cfg, engine="kernel")
        partials = build_partials(df, "v", ["g"], cfg)
        for res in [
            finalize_cells_sql(cells, QS, ["g"], cfg).toPandas(),
            finalize_quantiles(states, QS, cfg, ["g"]).toPandas(),
            finalize_quantiles(partials, QS, cfg, ["g"]).toPandas(),
        ]:
            assert sorted(res["g"]) == sorted(local)
            for row in res.to_dict("records"):
                sk = local[row["g"]]
                for col in ["count", "sum", "min", "max"]:
                    assert row[col] == getattr(sk, col), (cfg.mode, row["g"], col)
                for q in QS:
                    # np.power vs JVM pow may differ in the last ulp
                    assert row[quantile_label(q)] == pytest.approx(
                        sk.quantile(q), rel=1e-12
                    ), (cfg.mode, row["g"], q)


def test_finalize_cells_sql_negative_heavy_quantiles(spark):
    """Directed check of the negative/zero/positive branch walk against the
    local Sketch algebra across the full quantile sweep."""
    from ddspark.agg import build_cells, finalize_cells_sql

    rng = np.random.default_rng(3)
    v = np.concatenate([
        -np.round(rng.lognormal(3, 1, 4000)),
        np.zeros(500),
        np.round(rng.lognormal(2, 1, 1500)),
    ])
    rng.shuffle(v)
    pdf = pd.DataFrame({"v": v})
    df = spark.createDataFrame(pdf).repartition(8)
    cfg = SketchConfig(0.02)
    qs = [0.0, 0.05, 0.25, 0.5, 0.7, 0.72, 0.73, 0.9, 1.0]
    res = finalize_cells_sql(build_cells(df, "v", None, cfg), qs, None, cfg).toPandas()
    sk = Sketch.from_values(v, cfg)
    for q in qs:
        got = res.iloc[0][quantile_label(q)]
        want = sk.quantile(q)
        assert got == pytest.approx(want, rel=1e-12), q


def test_quantile_sketch_exact_stats_false(spark, mixed_df):
    """Lean quantiles-only shape: same quantile values, no stat columns,
    narrower cells."""
    from ddspark.agg import build_cells

    df, _ = mixed_df
    cfg = SketchConfig(ALPHA)
    full = quantile_sketch(df, "v", ["g"], QS, cfg).toPandas().set_index("g")
    lean = (
        quantile_sketch(df, "v", ["g"], QS, cfg, exact_stats=False)
        .toPandas().set_index("g")
    )
    assert list(lean.columns) == ["count"] + [quantile_label(q) for q in QS]
    for q in QS:
        col = quantile_label(q)
        assert (full[col].sort_index() == lean[col].sort_index()).all(), col
    assert (full["count"].sort_index() == lean["count"].sort_index()).all()
    cells = build_cells(df, "v", ["g"], cfg, stats=False)
    assert set(cells.columns) == {"g", "_sgn", "_k", "_c", "_rc"}


# ------------------------------------------------ rolling trailing windows


def test_rolling_quantiles_match_per_window_sketch(spark):
    """quantile_sketch_rolling (daily cells exploded to windows) must equal
    quantile_sketch run directly on each trailing window's rows."""
    import pandas as pd

    from ddspark.agg import quantile_label, quantile_sketch, quantile_sketch_rolling
    from ddspark.sketch import SketchConfig

    rng = np.random.default_rng(11)
    n = 4000
    pdf = pd.DataFrame(
        {
            "ts": pd.Timestamp("2026-03-01")
            + pd.to_timedelta(rng.integers(0, 12 * 86400, n), unit="s"),
            "g": rng.choice(["a", "b"], n),
            "v": np.round(rng.lognormal(2.0, 1.0, n), 3),
        }
    )
    # punch a hole: no data for g='a' on day 5 -> that window_end must be absent
    day5 = (pdf["ts"].dt.normalize() == pd.Timestamp("2026-03-06")) & (pdf["g"] == "a")
    pdf = pdf[~day5].reset_index(drop=True)
    df = spark.createDataFrame(pdf)
    cfg = SketchConfig(0.02)
    qs = [0.5, 0.95]
    got = {
        (r["g"], str(r["window_end"])): (r["count"], r[quantile_label(0.5)], r[quantile_label(0.95)])
        for r in quantile_sketch_rolling(df, "v", "ts", ["g"], 7, qs, cfg).collect()
    }
    # absent day is absent from output
    assert ("a", "2026-03-06") not in got
    days = sorted({(g, d) for g, d in zip(pdf["g"], pdf["ts"].dt.date)})
    assert set(got) == {(g, str(d)) for g, d in days}
    for g, d in days[:: max(1, len(days) // 8)]:  # spot-check a spread
        lo = pd.Timestamp(d) - pd.Timedelta(days=6)
        hi = pd.Timestamp(d) + pd.Timedelta(days=1)
        sub = pdf[(pdf["g"] == g) & (pdf["ts"] >= lo) & (pdf["ts"] < hi)]
        want = quantile_sketch(
            spark.createDataFrame(sub[["v"]]), "v", qs=qs, cfg=cfg
        ).collect()[0]
        n_, p50, p95 = got[(g, str(d))]
        assert n_ == float(len(sub))
        assert p50 == want[quantile_label(0.5)]
        assert p95 == want[quantile_label(0.95)]


def test_rolling_quantiles_partition_invariant(spark):
    import pandas as pd

    from ddspark.agg import quantile_sketch_rolling
    from ddspark.sketch import SketchConfig

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {
            "ts": pd.Timestamp("2026-03-01")
            + pd.to_timedelta(rng.integers(0, 5 * 86400, 1000), unit="s"),
            "g": rng.choice(["x", "y"], 1000),
            "v": rng.uniform(1, 100, 1000).round(2),
        }
    )
    df = spark.createDataFrame(pdf)
    a = quantile_sketch_rolling(df.repartition(1), "v", "ts", ["g"], 3, cfg=SketchConfig(0.01)).collect()
    b = quantile_sketch_rolling(df.repartition(11), "v", "ts", ["g"], 3, cfg=SketchConfig(0.01)).collect()
    assert len(a) == len(b) > 0
    key = lambda r: (r["g"], str(r["window_end"]))
    for ra, rb in zip(sorted(a, key=key), sorted(b, key=key)):
        da, db = ra.asDict(), rb.asDict()
        # exact-stat sum/avg are float sums (partition-order last-ulp
        # drift is inherent); count, extremes, and every quantile — the
        # cells themselves — must be bit-identical
        for c in da:
            if c in ("sum", "avg"):
                assert abs(da[c] - db[c]) <= 1e-9 * max(1.0, abs(da[c]))
            else:
                assert da[c] == db[c], c


def test_rolling_quantiles_plan_one_scan_no_python(spark):
    """The cell-explode formulation must stay one FileScan (the presence
    filter rides a window over the cells, not a second scan or self-join)
    and fully JVM-side."""
    from ddspark.agg import quantile_sketch_rolling
    from ddspark.sketch import SketchConfig

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").where(
        "value > 0"
    )
    plan = (
        quantile_sketch_rolling(ev, "value", "ts", ["event_type"], 7, cfg=SketchConfig(0.05))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("FileScan") == 1, plan
    assert "Python" not in plan


def _column_finalize(cells, qs, by, cfg):
    """The finalizer as one Column tree per output column, clamp, running
    count and value inlined into each quantile's aggregate, ranks read from
    one array literal: the form before the walk/tail split."""
    part = Window.partitionBy(*by) if by else Window.partitionBy(F.lit(0))
    if cfg.mode in (COLLAPSE_LOWEST, COLLAPSE_HIGHEST):
        lowest = cfg.mode == COLLAPSE_LOWEST

        def bound(sgn):
            e = (F.max if lowest else F.min)(F.when(F.col("_sgn") == sgn, F.col("_k")))
            off = F.lit(cfg.bin_limit - 1)
            return e.over(part) - off if lowest else e.over(part) + off

        lim = F.when(F.col("_sgn") == 1, bound(1)).otherwise(bound(-1))
        clamp = (F.greatest if lowest else F.least)(F.col("_k"), lim)
        cells = cells.withColumn(
            "_k", F.when(F.col("_sgn") == 0, F.col("_k")).otherwise(clamp))
    w_cum = part.orderBy(F.col("_sgn").asc(), (F.col("_sgn") * F.col("_k")).asc()
                         ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = cells.withColumns({"run": F.sum("_c").over(w_cum), "n": F.sum("_c").over(part)})
    val = F.when(F.col("_sgn") == 0, F.lit(0.0)).otherwise(
        F.col("_sgn").cast("double") * cfg.key_mapping.value_expr(F.col("_k")))
    aggs = [F.sum("_c").alias("count")]
    if "_s" in cells.columns:
        aggs += [F.sum("_s").alias("sum"), F.min("_mn").alias("min"),
                 F.max("_mx").alias("max"), (F.sum("_s") / F.sum("_c")).alias("avg")]
    ranks = F.transform(F.lit([float(q) for q in qs]), lambda x: x * (F.col("n") - 1))
    aggs += [F.min(F.when(F.col("run") > ranks[i], val)).alias(quantile_label(q))
             for i, q in enumerate(qs)]
    return cum.groupBy(*by).agg(*aggs)


@pytest.fixture(scope="module")
def one_file(spark, tmp_path_factory):
    """Mixed-sign values in ONE parquet file: a single input partition, so
    weighted sums add up in the same order in every plan."""
    rng = np.random.default_rng(23)
    n = 3_000
    v = np.round(rng.lognormal(3.0, 1.5, n), 3)
    v[rng.random(n) < 0.2] *= -1
    v[rng.random(n) < 0.05] = 0.0
    path = str(tmp_path_factory.mktemp("shape_memo") / "t.parquet")
    pd.DataFrame({"g": rng.choice(["a", "b", "c"], n), "v": v,
                  "w": rng.uniform(0.5, 3.0, n)}).to_parquet(path)
    return spark.read.parquet(path)


@pytest.mark.parametrize("path", ["cells", "kernel", "sql"])
@pytest.mark.parametrize(
    "cfg",
    [
        SketchConfig(0.01),
        SketchConfig(0.05, mode=COLLAPSE_LOWEST, bin_limit=16),
        SketchConfig(0.05, mode=COLLAPSE_HIGHEST, bin_limit=16),
        SketchConfig(0.01, mapping="cubic"),
    ],
    ids=["dense", "collapse_lowest", "collapse_highest", "cubic"],
)
def test_shape_hit_equals_column_finalizer(spark, one_file, cfg, path):
    """A new quantile set of a seen shape is built from the memoized walk
    plus a SQL-text tail; its answers and schema equal the Column-built
    finalizer's exactly, weighted or not, grouped or global."""
    if path == "sql" and cfg.mapping != "logarithmic":
        pytest.skip("sql_quantile_sketch keys with the logarithmic mapping only")
    df = one_file
    qs = [0.0, 0.25, 0.999, 1.0]
    for weight in (None, "w"):
        for by in (["g"], []):
            if path == "sql":
                run = lambda qs: sql_quantile_sketch(  # noqa: E731
                    df, "v", by, qs, cfg.relative_accuracy, cfg.mode, cfg.bin_limit, weight)
                cells = build_cells(df.where(F.col("v") > 0), "v", by, cfg, weight, stats=False)
            else:
                run = lambda qs: quantile_sketch(  # noqa: E731
                    df, "v", by, qs, cfg, weight, engine=path)
                cells = (build_cells(df, "v", by, cfg, weight) if path == "cells" else
                         _state_cells(build_partials(df, "v", by, cfg, weight), by, cfg))
            run([0.5, 0.9])
            shape_hits = plancache._SHAPE_HITS
            got = run(qs)
            assert plancache._SHAPE_HITS == shape_hits + 1
            want = _column_finalize(cells, qs, by, cfg)
            assert got.schema == want.schema
            key = lambda r: tuple(r[c] for c in by)  # noqa: E731
            assert ({key(r): r for r in got.collect()}
                    == {key(r): r for r in want.collect()}), (weight, by)


def test_rank_literals_parse_to_the_same_double(spark):
    """The tail writes each quantile as ``repr(q)`` + ``D``; Spark's parser
    must read back the same double, exponent forms included."""
    from ddspark.agg import _rank_sql

    qs = [0.0, 1e-05, 0.1, 0.30000000000000004, 1 / 3, 0.999999, 1.0]
    arr = _rank_sql(qs)[0].split("array(")[1].split(")")[0]
    got = spark.sql(f"SELECT array({arr}) AS a").collect()[0]["a"]
    assert got == qs


def test_group_columns_named_like_walk_columns(spark):
    """Group columns named ``n`` or ``run`` keep their values: the finalize
    window's own columns once replaced them with group totals and running
    counts."""
    df = spark.createDataFrame(pd.DataFrame(
        {"n": ["a", "a", "b"], "run": [1, 1, 2], "v": [1.0, 2.0, 3.0]}))
    for col, want in (("n", [("a", 2.0), ("b", 1.0)]), ("run", [(1, 2.0), (2, 1.0)])):
        out = quantile_sketch(df, "v", by=[col], qs=[0.5], cfg=SketchConfig(ALPHA))
        assert sorted(tuple(r) for r in out.select(col, "count").collect()) == want
