"""Plan-construction memo (ddspark.plancache): a cache hit must be the
same computation served as a FRESH Dataset (plans, never results — a hit
must re-execute from its inputs), and anything whose identity can't be
established must bypass."""

from __future__ import annotations

import os
import sys
import threading
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ddspark import plancache
from ddspark.agg import quantile_sketch
from ddspark.session import codegen_counters
from ddspark.sketch import SketchConfig
from ddspark.sqlpath import sql_quantile_sketch


@pytest.fixture(autouse=True)
def _clean_cache():
    plancache._PLAN_CACHE.clear()
    plancache._WALK_CACHE.clear()
    plancache._HITS = 0
    plancache._SHAPE_HITS = 0
    yield
    plancache._PLAN_CACHE.clear()
    plancache._WALK_CACHE.clear()


def _write_parquet(path: str, values: list[float], group: str = "a") -> None:
    pd.DataFrame({"g": [group] * len(values), "v": values}).to_parquet(path)


def test_hit_serves_fresh_dataset_same_results(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    _write_parquet(p, [1.0, 2.0, 3.0, 4.0])
    df = spark.read.parquet(p)

    def q():
        return quantile_sketch(
            df.where(F.col("v") > 0), "v", by=["g"], qs=[0.5], cfg=SketchConfig(0.01)
        )

    first = q()
    second = q()
    assert plancache._HITS == 1
    # a hit is a FRESH Dataset (fresh QueryExecution): returning the same
    # object would let AQE replay materialized stages across invocations
    assert second is not first
    assert len(plancache._PLAN_CACHE) == 1
    r1 = first.collect()
    r2 = second.collect()
    assert r1 == r2 and r1[0]["count"] == 4.0


def test_hit_recomputes_from_inputs(spark, tmp_path):
    """A memoized plan is not a result: once the backing file is gone, an
    action on a HIT must fail — there is no stored answer to fall back on.
    (Re-collecting the ORIGINAL object can succeed via AQE stage reuse,
    which is exactly why hits are fresh Datasets.)"""
    p = str(tmp_path / "gone.parquet")
    _write_parquet(p, [1.0, 2.0])
    df = spark.read.parquet(p)
    out = quantile_sketch(df, "v", by=["g"], qs=[0.5], cfg=SketchConfig(0.01))
    assert out.collect()[0]["count"] == 2.0
    again = quantile_sketch(df, "v", by=["g"], qs=[0.5], cfg=SketchConfig(0.01))
    assert plancache._HITS == 1
    os.remove(p)
    with pytest.raises(Exception):
        again.collect()


def test_different_files_miss(spark, tmp_path):
    pa, pb = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    _write_parquet(pa, [1.0, 2.0])
    _write_parquet(pb, [10.0, 20.0, 30.0])
    qa = quantile_sketch(
        spark.read.parquet(pa), "v", by=["g"], qs=[0.5], cfg=SketchConfig(0.01)
    )
    qb = quantile_sketch(
        spark.read.parquet(pb), "v", by=["g"], qs=[0.5], cfg=SketchConfig(0.01)
    )
    # same schema, same params — the file list alone must split the key
    assert plancache._HITS == 0
    assert qa.collect()[0]["count"] == 2.0
    assert qb.collect()[0]["count"] == 3.0


def test_different_filter_and_params_miss(spark, tmp_path):
    p = str(tmp_path / "f.parquet")
    _write_parquet(p, [1.0, 2.0, 3.0])
    df = spark.read.parquet(p)
    base = quantile_sketch(df, "v", by=["g"], qs=[0.5], cfg=SketchConfig(0.01))
    filtered = quantile_sketch(
        df.where(F.col("v") > 1), "v", by=["g"], qs=[0.5], cfg=SketchConfig(0.01)
    )
    quantile_sketch(df, "v", by=["g"], qs=[0.9], cfg=SketchConfig(0.01))
    quantile_sketch(df, "v", by=["g"], qs=[0.5], cfg=SketchConfig(0.02))
    assert plancache._HITS == 0
    assert len(plancache._PLAN_CACHE) == 4
    assert base.collect()[0]["count"] == 3.0
    assert filtered.collect()[0]["count"] == 2.0


def test_new_file_in_directory_misses(spark, tmp_path):
    """Appending a part file to the input directory changes inputFiles() —
    the fresh read must rebuild, not serve the earlier snapshot."""
    d = tmp_path / "dir.parquet"
    d.mkdir()
    _write_parquet(str(d / "part-0.parquet"), [1.0, 2.0])
    q1 = quantile_sketch(
        spark.read.parquet(str(d)), "v", by=["g"], qs=[0.5], cfg=SketchConfig(0.01)
    )
    assert q1.collect()[0]["count"] == 2.0
    _write_parquet(str(d / "part-1.parquet"), [3.0])
    q2 = quantile_sketch(
        spark.read.parquet(str(d)), "v", by=["g"], qs=[0.5], cfg=SketchConfig(0.01)
    )
    assert plancache._HITS == 0
    assert q2.collect()[0]["count"] == 3.0


def test_local_relation_bypasses(spark):
    df = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "g string, v double")
    assert plancache.source_key(df) is None
    quantile_sketch(df, "v", by=["g"], qs=[0.5], cfg=SketchConfig(0.01))
    quantile_sketch(df, "v", by=["g"], qs=[0.5], cfg=SketchConfig(0.01))
    # never memoized: identity not establishable for in-memory relations
    assert plancache._HITS == 0
    assert len(plancache._PLAN_CACHE) == 0


def test_join_with_local_relation_bypasses(spark, tmp_path):
    """A file scan joined to an in-memory relation must not memoize: the
    canonical plan elides LocalRelation rows, so two different dims once
    shared one key and the second call returned the first join's groups."""
    p = str(tmp_path / "base.parquet")
    pd.DataFrame({"k": [1, 2, 3], "v": [1.0, 2.0, 3.0]}).to_parquet(p)
    base = spark.read.parquet(p)
    dim_a = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], "k int, g string")
    dim_b = spark.createDataFrame([(1, "x")], "k int, g string")
    a = quantile_sketch(base.join(dim_a, "k"), "v", by=["g"], qs=[0.5])
    b = quantile_sketch(base.join(dim_b, "k"), "v", by=["g"], qs=[0.5])
    assert plancache._HITS == 0 and len(plancache._PLAN_CACHE) == 0
    assert sorted(r["g"] for r in a.collect()) == ["x", "y", "z"]
    assert [r["g"] for r in b.collect()] == ["x"]


def test_file_self_join_memoized(spark, tmp_path):
    p = str(tmp_path / "self.parquet")
    pd.DataFrame({"k": [1, 2, 3], "g": ["a", "a", "b"], "v": [1.0, 2.0, 3.0]}).to_parquet(p)

    def q():
        left = spark.read.parquet(p)
        right = spark.read.parquet(p).select("k", F.col("v").alias("w"))
        return quantile_sketch(left.join(right, "k"), "w", by=["g"], qs=[0.5])

    first = q().collect()
    second = q().collect()
    assert plancache._HITS == 1
    assert first == second


def test_sqlpath_memo(spark, tmp_path):
    p = str(tmp_path / "s.parquet")
    _write_parquet(p, [1.0, 2.0, 3.0, 4.0, 5.0])
    df = spark.read.parquet(p)
    a = sql_quantile_sketch(df, "v", ["g"], [0.5], 0.01)
    b = sql_quantile_sketch(df, "v", ["g"], [0.5], 0.01)
    sql_quantile_sketch(df, "v", ["g"], [0.5], 0.02)
    assert plancache._HITS == 1 and len(plancache._PLAN_CACHE) == 2
    assert a.collect() == b.collect()
    assert a.collect()[0]["count"] == 5.0


def test_kill_switch(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "k.parquet")
    _write_parquet(p, [1.0])
    df = spark.read.parquet(p)
    monkeypatch.setenv("DDSPARK_PLAN_MEMO", "0")
    quantile_sketch(df, "v", by=["g"], qs=[0.5], cfg=SketchConfig(0.01))
    quantile_sketch(df, "v", by=["g"], qs=[0.5], cfg=SketchConfig(0.01))
    assert plancache._HITS == 0
    assert len(plancache._PLAN_CACHE) == 0


def test_fifo_bound(spark, tmp_path):
    p = str(tmp_path / "fifo.parquet")
    _write_parquet(p, [1.0, 2.0])
    df = spark.read.parquet(p)
    for i in range(plancache._MAX_ENTRIES + 8):
        quantile_sketch(
            df, "v", by=["g"], qs=[round(0.01 + i * 0.01, 2)], cfg=SketchConfig(0.01)
        )
    assert len(plancache._PLAN_CACHE) <= plancache._MAX_ENTRIES


def test_key_carries_session_identity(spark, tmp_path):
    p = str(tmp_path / "sess.parquet")
    _write_parquet(p, [1.0])
    key = plancache.source_key(spark.read.parquet(p))
    assert key is not None
    # stale-session guard: (python gateway id, JVM object id)
    assert key[0] == (id(spark._jvm), spark._jsparkSession._target_id)


def test_kernel_engine_memoized_separately(spark, tmp_path):
    p = str(tmp_path / "eng.parquet")
    _write_parquet(p, [1.0, 2.0, 3.0])
    df = spark.read.parquet(p)
    cells = quantile_sketch(df, "v", by=["g"], qs=[0.5], cfg=SketchConfig(0.01))
    kern = quantile_sketch(
        df, "v", by=["g"], qs=[0.5], cfg=SketchConfig(0.01), engine="kernel"
    )
    assert plancache._HITS == 0  # engine is part of the key
    kern2 = quantile_sketch(
        df, "v", by=["g"], qs=[0.5], cfg=SketchConfig(0.01), engine="kernel"
    )
    assert plancache._HITS == 1
    a = {r["g"]: r["p50"] for r in cells.collect()}
    b = {r["g"]: r["p50"] for r in kern.collect()}
    c = {r["g"]: r["p50"] for r in kern2.collect()}
    assert a == b == c


def test_new_quantile_set_served_from_shape_map(spark, tmp_path):
    """A seen shape with a new quantile set reuses the memoized walk: one
    shape hit, no full-plan hit, and no class compiled to run it."""
    p = str(tmp_path / "shape.parquet")
    _write_parquet(p, [1.0, 2.0, 3.0, 4.0, 5.0])
    df = spark.read.parquet(p)

    def q(qs):
        return quantile_sketch(df, "v", by=["g"], qs=qs, cfg=SketchConfig(0.01))

    q([0.5, 0.9]).collect()
    assert (plancache._HITS, plancache._SHAPE_HITS) == (0, 0)
    compiled = codegen_counters(spark)[0]
    out = q([0.3, 0.77])
    assert (plancache._HITS, plancache._SHAPE_HITS) == (0, 1)
    row = out.collect()[0]
    assert codegen_counters(spark)[0] == compiled
    assert row["count"] == 5.0 and row["p30"] is not None
    assert len(plancache._WALK_CACHE) == 1 and len(plancache._PLAN_CACHE) == 2


def test_shape_hit_recomputes_from_inputs(spark, tmp_path):
    """The delete-the-input test for a shape hit: the memoized walk is a
    plan, not a result, so the new quantile set's action fails once the
    backing file is gone."""
    p = str(tmp_path / "gone.parquet")
    _write_parquet(p, [1.0, 2.0])
    df = spark.read.parquet(p)
    out = quantile_sketch(df, "v", by=["g"], qs=[0.5], cfg=SketchConfig(0.01))
    assert out.collect()[0]["count"] == 2.0
    fresh = quantile_sketch(df, "v", by=["g"], qs=[0.7], cfg=SketchConfig(0.01))
    assert (plancache._HITS, plancache._SHAPE_HITS) == (0, 1)
    os.remove(p)
    with pytest.raises(Exception):
        fresh.collect()


def test_different_shapes_never_share_a_walk(spark, tmp_path):
    """Each parameter other than the quantiles splits the walk key."""
    p = str(tmp_path / "shapes.parquet")
    pd.DataFrame({"g": ["a", "b"] * 3, "h": ["x"] * 6, "v": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
                  "u": [6.0, 5.0, 4.0, 3.0, 2.0, 1.0], "w": [1.0, 2.0] * 3}).to_parquet(p)
    df = spark.read.parquet(p)
    cfg = SketchConfig(0.01)
    calls = [
        lambda qs: quantile_sketch(df, "v", ["g"], qs, cfg),
        lambda qs: quantile_sketch(df, "u", ["g"], qs, cfg),
        lambda qs: quantile_sketch(df, "v", ["h"], qs, cfg),
        lambda qs: quantile_sketch(df, "v", [], qs, cfg),
        lambda qs: quantile_sketch(df, "v", ["g"], qs, SketchConfig(0.02)),
        lambda qs: quantile_sketch(df, "v", ["g"], qs, SketchConfig(0.01, mapping="cubic")),
        lambda qs: quantile_sketch(
            df, "v", ["g"], qs, SketchConfig(0.01, mode="collapse_lowest", bin_limit=8)),
        lambda qs: quantile_sketch(df, "v", ["g"], qs, cfg, weight_col="w"),
        lambda qs: quantile_sketch(df, "v", ["g"], qs, cfg, exact_stats=False),
        lambda qs: quantile_sketch(df, "v", ["g"], qs, cfg, engine="kernel"),
        lambda qs: sql_quantile_sketch(df, "v", ["g"], qs, 0.01),
    ]
    for i, call in enumerate(calls):
        call([0.1 + 0.01 * i])
    assert plancache._SHAPE_HITS == 0
    assert len(plancache._WALK_CACHE) == len(calls)
    # and each shape does reuse its own walk
    for i, call in enumerate(calls):
        call([0.5 + 0.01 * i])
    assert plancache._SHAPE_HITS == len(calls) and plancache._HITS == 0


def test_threads_share_the_memo_safely(spark, tmp_path, monkeypatch):
    """Eight threads issue fresh and repeat calls on one session through
    maps of one entry, so lookups, stores and FIFO evictions interleave:
    every answer equals the memo-off answer, nothing raises, and both maps
    stay within their bound."""
    p = str(tmp_path / "threads.parquet")
    _write_parquet(p, [float(i) for i in range(1, 41)])
    df = spark.read.parquet(p)
    cfg = SketchConfig(0.01)
    calls = [
        (path, qs)
        for path in ("cells", "sql")
        for qs in ([0.5], [0.25], [0.9], [0.5], [0.1], [0.25])
    ]

    def build(path, qs):
        if path == "sql":
            return sql_quantile_sketch(df, "v", ["g"], qs, 0.01)
        return quantile_sketch(df, "v", by=["g"], qs=qs, cfg=cfg)

    monkeypatch.setenv("DDSPARK_PLAN_MEMO", "0")
    want = {(path, tuple(qs)): build(path, qs).collect() for path, qs in calls}
    monkeypatch.delenv("DDSPARK_PLAN_MEMO")
    monkeypatch.setattr(plancache, "_MAX_ENTRIES", 1)

    class SlowDict(dict):
        """Lets other threads run inside a bound check and an eviction."""

        def __len__(self):
            n = super().__len__()
            time.sleep(0.002)
            return n

        def pop(self, *args):
            out = super().pop(*args)
            time.sleep(0.002)
            return out

    monkeypatch.setattr(plancache, "_PLAN_CACHE", SlowDict())
    monkeypatch.setattr(plancache, "_WALK_CACHE", SlowDict())
    errors, mismatches = [], []

    def worker(t):
        try:
            # construction is where threads meet in the memo; collect a few
            order = (calls[t % 4:] + calls[:t % 4]) * 3
            built = [(path, qs, build(path, qs)) for path, qs in order]
            for path, qs, out in built[t % 6::6]:
                if out.collect() != want[(path, tuple(qs))]:
                    mismatches.append((path, qs))
        except Exception as e:  # noqa: BLE001 — StopIteration included
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(th.is_alive() for th in threads)
    assert errors == [] and mismatches == []
    assert len(plancache._PLAN_CACHE) <= 1 and len(plancache._WALK_CACHE) <= 1
    assert plancache._HITS + plancache._SHAPE_HITS > 0
