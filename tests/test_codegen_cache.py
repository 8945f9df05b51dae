"""Generated code is compiled once per sketch-query *shape* (table schema,
value column, ``by``, number of quantiles, alpha, path) and stays compiled:
``get_spark`` sizes Spark's generated-code cache beyond the 100-entry
default, and ``finalize_cells_sql`` keeps quantile values out of the
generated source.  Compiles are read as differences of the JVM's Janino
compile count (``ddspark.session.codegen_counters``)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from ddspark import agg
from ddspark.agg import build_cells, finalize_cells_sql, quantile_sketch
from ddspark.session import codegen_counters
from ddspark.sketch import SketchConfig
from ddspark.sqlpath import sql_quantile_sketch
from ddspark.store import COLLAPSE_HIGHEST, COLLAPSE_LOWEST


def compiled_by(spark, fn) -> int:
    """Classes compiled while ``fn`` runs."""
    before = codegen_counters(spark)[0]
    fn()
    return codegen_counters(spark)[0] - before


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """Two small parquet tables with different schemas."""
    rng = np.random.default_rng(11)
    n = 2_000
    root = tmp_path_factory.mktemp("codegen")
    a = pd.DataFrame({
        "g": rng.choice(["x", "y", "z"], n),
        "h": rng.integers(0, 4, n).astype(np.int32),
        "v": rng.lognormal(3.0, 1.0, n),
        "w": rng.integers(1, 5, n).astype(np.float64),
    })
    b = pd.DataFrame({
        "k": rng.choice(["p", "q"], n),
        "x": rng.integers(1, 10_000, n),
    })
    spark.createDataFrame(a).coalesce(1).write.parquet(str(root / "a"))
    spark.createDataFrame(b).coalesce(1).write.parquet(str(root / "b"))
    return spark.read.parquet(str(root / "a")), spark.read.parquet(str(root / "b"))


def shapes(tables):
    """Twelve distinct query shapes, each a function of its quantiles."""
    a, b = tables
    qsk = lambda df, v, by, alpha: lambda qs: quantile_sketch(  # noqa: E731
        df, v, by=by, qs=qs, cfg=SketchConfig(alpha))
    sql = lambda df, v, by, alpha: lambda qs: sql_quantile_sketch(  # noqa: E731
        df, v, by, qs, alpha)
    return [
        (qsk(a, "v", ["g"], 0.01), 3),
        (qsk(a, "v", [], 0.02), 1),
        (qsk(a, "v", ["g", "h"], 0.005), 2),
        (qsk(a, "w", ["h"], 0.05), 3),
        (qsk(b, "x", ["k"], 0.01), 2),
        (qsk(b, "x", [], 0.05), 3),
        (sql(a, "v", ["g"], 0.01), 3),
        (sql(a, "v", ["h"], 0.02), 1),
        (sql(a, "w", ["g", "h"], 0.05), 2),
        (sql(b, "x", ["k"], 0.005), 3),
        (sql(b, "x", [], 0.01), 2),
        (sql(a, "v", [], 0.05), 1),
    ]


def test_get_spark_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_repeat_and_new_quantile_values_compile_nothing(spark, tables):
    """After one run of a shape, neither a repeat call nor a call with other
    quantile values of the same count compiles a class."""
    qsk, sql = shapes(tables)[0][0], shapes(tables)[6][0]
    for make in (qsk, sql):
        make([0.5, 0.9]).collect()
        assert compiled_by(spark, lambda: make([0.5, 0.9]).collect()) == 0
        assert compiled_by(spark, lambda: make([0.3, 0.77]).collect()) == 0


def test_shape_cycle_stays_compiled(spark, tables):
    """A second cycle over twelve shapes compiles nothing: every class of
    the first cycle is still cached (a 100-entry cache evicts them)."""
    qs = [0.1, 0.5, 0.9]
    cycle = [lambda m=make, k=k: m(qs[:k]).collect() for make, k in shapes(tables)]
    for run in cycle:
        run()
    assert [compiled_by(spark, run) for run in cycle] == [0] * len(cycle)


def _literal_ranks(qs):
    """The earlier rank form: one ``double`` literal per quantile."""
    return [f"{float(q)!r}D * (_n - 1)" for q in qs]


@pytest.mark.parametrize(
    "cfg, weighted",
    [
        (SketchConfig(0.01), False),
        (SketchConfig(0.01), True),
        (SketchConfig(0.05, mode=COLLAPSE_LOWEST, bin_limit=16), False),
        (SketchConfig(0.05, mode=COLLAPSE_HIGHEST, bin_limit=16), True),
    ],
    ids=["dense", "dense_weighted", "collapse_lowest", "collapse_highest_weighted"],
)
def test_array_ranks_match_literal_ranks_exactly(spark, monkeypatch, cfg, weighted):
    """Reading ranks from the array literal changes no answer, bit for bit,
    including q = 0 and q = 1 and for the global group."""
    rng = np.random.default_rng(5)
    n = 5_000
    v = np.round(rng.lognormal(3.0, 1.5, n), 3)
    v[rng.random(n) < 0.2] *= -1
    v[rng.random(n) < 0.05] = 0.0
    pdf = pd.DataFrame({"g": rng.choice(["a", "b", "c"], n), "v": v,
                        "w": rng.uniform(0.5, 3.0, n)})
    # one cached partition: weighted sums then add up in the same order in
    # both runs, whatever order shuffle blocks arrive in
    cells = build_cells(spark.createDataFrame(pdf).repartition(4), "v", ["g"], cfg,
                        "w" if weighted else None).coalesce(1).cache()
    qs = [0.0, 0.01, 0.25, 0.5, 0.9, 0.999, 1.0]

    def run():
        grouped = finalize_cells_sql(cells, qs, ["g"], cfg).toPandas()
        total = finalize_cells_sql(cells, qs, [], cfg).toPandas()
        return grouped.sort_values("g").reset_index(drop=True), total

    got = run()
    monkeypatch.setattr(agg, "_rank_sql", _literal_ranks)
    monkeypatch.setattr(agg, "_COLUMN_CACHE", {})
    want = run()
    cells.unpersist()
    for g, w in zip(got, want):
        pd.testing.assert_frame_equal(g, w, check_exact=True)
