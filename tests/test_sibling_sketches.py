"""Sibling sketch tests: HLL, Bloom, Count-Min, t-digest — accuracy vs exact
oracles and merge semantics."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ddspark.sketches import bloom, countmin, hll
from ddspark.sketches.tdigest import TDigest, tdigest_agg
from ddspark.datasets import exact_quantile


@pytest.fixture(scope="module")
def items_df(spark):
    rng = np.random.default_rng(17)
    n = 60_000
    g = rng.choice(["x", "y"], n, p=[0.6, 0.4])
    # zipf-ish item popularity over ~8k distinct items
    items = (rng.pareto(1.2, n) * 100).astype(np.int64) % 20_000
    pdf = pd.DataFrame({"g": g, "item": [f"it{v}" for v in items]})
    return spark.createDataFrame(pdf).repartition(8), pdf


# -------------------------------------------------------------------- HLL


def test_hll_accuracy(spark, items_df):
    df, pdf = items_df
    p = 12
    res = hll.hll_agg(df, "item", ["g"], p=p).toPandas().set_index("g")
    rel_err_bound = 3 * 1.04 / np.sqrt(1 << p)
    for g in ["x", "y"]:
        exact = pdf[pdf["g"] == g]["item"].nunique()
        est = res.loc[g, "hll_estimate"]
        assert abs(est - exact) / exact < rel_err_bound, (g, est, exact)


def test_hll_global_and_merge(spark, items_df):
    df, pdf = items_df
    res = hll.hll_agg(df, "item", None, p=12).toPandas()
    exact = pdf["item"].nunique()
    est = res.iloc[0]["hll_estimate"]
    assert abs(est - exact) / exact < 3 * 1.04 / np.sqrt(4096)
    # register merge across disjoint halves == whole
    halves = [
        hll.hll_agg(df.where(F.col("g") == g), "item", None, p=12).toPandas()
        for g in ["x", "y"]
    ]
    merged = hll.merge_registers(
        np.array(halves[0].iloc[0]["registers"]),
        np.array(halves[1].iloc[0]["registers"]),
    )
    whole = np.array(res.iloc[0]["registers"])
    np.testing.assert_array_equal(merged, whole)
    assert hll.estimate_from_registers(merged) == est


def test_hll_partition_invariance(spark, items_df):
    df, _ = items_df
    a = hll.hll_agg(df.repartition(3), "item", ["g"], p=10).toPandas().set_index("g")
    b = hll.hll_agg(df.coalesce(1), "item", ["g"], p=10).toPandas().set_index("g")
    for g in ["x", "y"]:
        np.testing.assert_array_equal(
            np.array(a.loc[g, "registers"]), np.array(b.loc[g, "registers"])
        )


# ------------------------------------------------------------------ Bloom


def test_bloom_membership(spark, items_df):
    df, pdf = items_df
    m, k = 1 << 17, 5
    res = bloom.bloom_agg(df, "item", None, m=m, k=k).toPandas().iloc[0]
    present = pdf["item"].drop_duplicates().sample(50, random_state=0).tolist()
    absent = [f"absent{i}" for i in range(200)]
    got_present = bloom.contains(spark, res["bitmap"], m, k, present)
    assert all(got_present)  # no false negatives, ever
    got_absent = bloom.contains(spark, res["bitmap"], m, k, absent)
    fpr = sum(got_absent) / len(got_absent)
    expected_fpr = bloom.false_positive_rate(res["n_bits_set"], m, k)
    assert fpr <= max(5 * expected_fpr, 0.05), (fpr, expected_fpr)


def test_bloom_merge_is_or(spark, items_df):
    df, _ = items_df
    m, k = 1 << 14, 4
    whole = bloom.bloom_agg(df, "item", None, m=m, k=k).toPandas().iloc[0]["bitmap"]
    parts = [
        bloom.bloom_agg(df.where(F.col("g") == g), "item", None, m=m, k=k)
        .toPandas()
        .iloc[0]["bitmap"]
        for g in ["x", "y"]
    ]
    assert bloom.merge_bitmaps(parts[0], parts[1]) == whole


# --------------------------------------------------------------- Count-Min


def test_countmin_point_queries(spark, items_df):
    df, pdf = items_df
    eps, delta = 0.005, 0.01
    depth, width = countmin.params_for(eps, delta)
    res = countmin.cm_agg(df, "item", None, depth=depth, width=width).toPandas().iloc[0]
    counts = pdf["item"].value_counts()
    heavy = counts.head(20)
    ests = countmin.cm_query(spark, res["matrix"], heavy.index.tolist(), depth, width)
    n = len(pdf)
    for (item, true_c), est in zip(heavy.items(), ests):
        assert est >= true_c  # never underestimates
        assert est <= true_c + eps * n * 3


def test_countmin_merge_additive(spark, items_df):
    df, _ = items_df
    whole = countmin.cm_agg(df, "item", None, depth=4, width=512).toPandas().iloc[0]
    parts = [
        countmin.cm_agg(df.where(F.col("g") == g), "item", None, depth=4, width=512)
        .toPandas()
        .iloc[0]["matrix"]
        for g in ["x", "y"]
    ]
    merged = countmin.merge_matrices(parts[0], parts[1])
    np.testing.assert_array_equal(merged, countmin._to_matrix(whole["matrix"]))


# ---------------------------------------------------------------- t-digest


QS = [0.01, 0.1, 0.5, 0.9, 0.99]


def test_tdigest_local_accuracy():
    rng = np.random.default_rng(3)
    values = rng.lognormal(4.0, 2.0, 50_000)
    d = TDigest.from_values(values)
    assert len(d.means) < 200  # compressed
    n = len(values)
    s = np.sort(values)
    for q in QS:
        est = d.quantile(q)
        # rank error: the estimate's rank must be within ~1% of target
        rank = np.searchsorted(s, est) / n
        assert abs(rank - q) < 0.012, (q, rank)


def test_tdigest_merge_preserves_accuracy():
    rng = np.random.default_rng(4)
    values = rng.normal(100.0, 15.0, 30_000)
    parts = np.array_split(values, 13)
    merged = TDigest.merge_all([TDigest.from_values(p) for p in parts])
    s = np.sort(values)
    for q in QS:
        rank = np.searchsorted(s, merged.quantile(q)) / len(values)
        assert abs(rank - q) < 0.02, q
    assert merged.count == len(values)
    assert merged.min == values.min() and merged.max == values.max()


def test_tdigest_spark_agg(spark, items_df):
    rng = np.random.default_rng(5)
    pdf = pd.DataFrame(
        {"g": rng.choice(["a", "b"], 20_000), "v": rng.lognormal(3, 1.5, 20_000)}
    )
    df = spark.createDataFrame(pdf).repartition(8)
    res = tdigest_agg(df, "v", ["g"], qs=[0.5, 0.99]).toPandas().set_index("g")
    for g in ["a", "b"]:
        vals = pdf[pdf["g"] == g]["v"].to_numpy()
        s = np.sort(vals)
        assert res.loc[g, "count"] == len(vals)
        for q, col in [(0.5, "td_p50"), (0.99, "td_p99")]:
            rank = np.searchsorted(s, res.loc[g, col]) / len(vals)
            assert abs(rank - q) < 0.02, (g, q, rank)


def test_tdigest_empty_and_single():
    assert TDigest.from_values(np.array([])).quantile(0.5) is None
    d = TDigest.from_values(np.array([7.0]))
    assert d.quantile(0.0) == 7.0 and d.quantile(1.0) == 7.0


# -------------------------------------------------------------------- KLL


from ddspark.sketches.kll import KLL, kll_agg  # noqa: E402


def test_kll_local_rank_accuracy():
    rng = np.random.default_rng(9)
    values = rng.lognormal(2.0, 1.5, 100_000)
    sk = KLL.from_values(values, k=200)
    s = np.sort(values)
    for q in [0.01, 0.1, 0.5, 0.9, 0.99]:
        est = sk.quantile(q)
        rank = np.searchsorted(s, est) / len(s)
        assert abs(rank - q) < 0.025, (q, rank)
    assert sk.n == len(values)
    assert sk.quantile(0) == values.min() and sk.quantile(1) == values.max()
    # compressed state: far fewer retained items than inputs
    assert sum(len(c) for c in sk.compactors) < 3000


def test_kll_merge_accuracy():
    rng = np.random.default_rng(10)
    values = rng.normal(0.0, 1.0, 60_000)
    parts = np.array_split(values, 9)
    merged = KLL.merge_all([KLL.from_values(p, k=200) for p in parts])
    s = np.sort(values)
    for q in [0.1, 0.5, 0.9]:
        rank = np.searchsorted(s, merged.quantile(q)) / len(s)
        assert abs(rank - q) < 0.03, (q, rank)
    assert merged.n == len(values)


def test_kll_state_roundtrip():
    sk = KLL.from_values(np.arange(10_000, dtype=np.float64))
    back = KLL.from_state(sk.to_state())
    assert back.n == sk.n
    for q in [0.25, 0.5, 0.75]:
        assert back.quantile(q) == sk.quantile(q)


def test_kll_spark_agg(spark):
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {"g": rng.choice(["a", "b"], 30_000), "v": rng.lognormal(3, 1, 30_000)}
    )
    df = spark.createDataFrame(pdf).repartition(8)
    res = kll_agg(df, "v", ["g"], qs=[0.5, 0.95]).toPandas().set_index("g")
    for g in ["a", "b"]:
        vals = np.sort(pdf[pdf["g"] == g]["v"].to_numpy())
        assert res.loc[g, "count"] == len(vals)
        for q, col in [(0.5, "kll_p50"), (0.95, "kll_p95")]:
            rank = np.searchsorted(vals, res.loc[g, col]) / len(vals)
            assert abs(rank - q) < 0.03, (g, q, rank)


# ------------------------------------------------------------ round-2 APIs


def test_cm_point_estimates_bound(spark, items_df):
    import math

    from ddspark.sketches.countmin import cm_point_estimates

    df, pdf = items_df
    depth, width = 5, 1024
    probes = spark.createDataFrame(
        [(v,) for v in ["it1", "it2", "it3", "never_seen"]], "v string"
    )
    est = cm_point_estimates(df, "item", probes, "v", depth, width).toPandas()
    exact = pdf["item"].value_counts()
    n = len(pdf)
    eps = math.e / width
    assert len(est) == 4
    for rec in est.to_dict("records"):
        ex = float(exact.get(rec["v"], 0))
        assert rec["cm_est"] >= ex, rec
        assert rec["cm_est"] <= ex + eps * n, rec


def test_bloom_contains_df_no_false_negatives(spark, items_df):
    from ddspark.sketches.bloom import bloom_contains_df

    df, pdf = items_df
    present = sorted(pdf["item"].unique())[:5]
    absent = ["nope_1", "nope_2"]
    probes = spark.createDataFrame([(v,) for v in list(present) + absent], "v string")
    for portable in (False, True):
        res = (
            bloom_contains_df(df, "item", probes, "v", m=1 << 17, k=5,
                              portable=portable)
            .toPandas().set_index("v")["might_contain"]
        )
        for p in present:
            assert bool(res[p]), (portable, p)  # never a false negative
        # at this load the FPR is ~0, so absents should read False
        assert not any(bool(res[a]) for a in absent)


def test_proto_roundtrip_quantiles_distributed(spark, items_df):
    from ddspark.agg import quantile_sketch, sketch_agg
    from ddspark.proto import proto_roundtrip_quantiles, sketch_from_proto_bytes, sketch_to_proto_bytes
    from ddspark.sketch import Sketch, SketchConfig

    df, _ = items_df
    # at the second alpha, gamma rebuilt through (gamma - 1)/(gamma + 1) is
    # one ulp off the config's; the decoder keeps the wire gamma, so the
    # finalizer's exact gamma check accepts the decoded states
    drift = SketchConfig(0.13907553776888446)
    one = Sketch.from_values(np.array([1.0, 2.0]), drift)
    assert sketch_from_proto_bytes(sketch_to_proto_bytes(one)).cfg.gamma == drift.gamma
    vdf = df.withColumn("v", F.abs(F.xxhash64("item")).cast("double") + 1.0)
    for cfg in (SketchConfig(0.02), drift):
        states = sketch_agg(vdf, "v", ["g"], cfg)
        rt = proto_roundtrip_quantiles(states, [0.5, 0.95], ["g"], cfg).toPandas()
        direct = quantile_sketch(vdf, "v", ["g"], [0.5, 0.95], cfg).toPandas()
        merged = rt.merge(direct, on="g", suffixes=("_rt", "_d"))
        assert len(merged) == len(direct) == 2
        for q in ["p50", "p95"]:
            a = merged[f"{q}_rt"].to_numpy()
            b = merged[f"{q}_d"].to_numpy()
            assert np.allclose(a, b, rtol=1e-9), q
        assert np.allclose(
            merged["count_rt"].to_numpy(), merged["count_d"].to_numpy()
        )


# --------------------------------------------------------- Misra-Gries (MG)


class TestMGFrequent:
    def _zipf(self, spark, n=20000, seed=3):
        import numpy as np

        rng = np.random.default_rng(seed)
        items = rng.zipf(1.5, n).clip(max=5000)
        return spark.createDataFrame(
            [(int(x),) for x in items], "item long"
        )

    def test_guarantee_certified(self, spark):
        from ddspark.sketches.mgfreq import mg_summary

        df = self._zipf(spark)
        exact = {
            str(r["item"]): r["c"]
            for r in df.groupBy("item").agg(F.count(F.lit(1)).alias("c")).collect()
        }
        rows = mg_summary(df, "item", k=32).collect()
        bound = rows[0]["err_bound"]
        total = rows[0]["total"]
        assert total == 20000.0
        present = set()
        for r in rows:
            if r["item"] is None:
                continue
            present.add(r["item"])
            true = exact[r["item"]]
            assert r["est"] <= true <= r["est"] + bound
        # completeness: every item more frequent than the bound is present
        for it, c in exact.items():
            if c > bound:
                assert it in present, (it, c, bound)

    def test_bounded_shuffle_rows(self, spark):
        from ddspark.sketches.mgfreq import mg_partials

        df = self._zipf(spark).repartition(8)
        n_parts = mg_partials(df, "item", k=16).count()
        assert n_parts <= 8 * (16 + 1)

    def test_grouped_and_weighted(self, spark):
        from ddspark.sketches.mgfreq import mg_check

        rows = [("a", "x", 5.0)] * 50 + [("a", "y", 1.0)] * 200 + [
            ("b", str(i % 40), 2.0) for i in range(400)
        ]
        df = spark.createDataFrame(rows, "g string, item string, w double")
        out = {
            r["g"]: (r["n_rows"], r["guarantee_ok"])
            for r in mg_check(df, "item", k=8, by=["g"], weight_col="w").collect()
        }
        assert out["a"] == (450.0, True)
        assert out["b"][1] is True

    def test_check_partition_invariant(self, spark):
        from ddspark.sketches.mgfreq import mg_check

        df = self._zipf(spark, n=5000)
        for p in (1, 7, 32):
            row = mg_check(df.repartition(p), "item", k=24).first()
            assert row["guarantee_ok"] is True
            assert row["n_rows"] == 5000.0

    def test_nonpositive_weight_raises(self, spark):
        import pytest as _pytest

        from ddspark.sketches.mgfreq import mg_summary

        df = spark.createDataFrame(
            [("x", 1.0), ("y", 0.0)], "item string, w double"
        )
        with _pytest.raises(Exception, match="weight must be positive"):
            mg_summary(df, "item", k=4, weight_col="w").collect()


# ----------------------------------------------------------- theta (KMV)


class TestTheta:
    def _items(self, spark, n, prefix="x", extra_col=None):
        rows = [(f"{prefix}{i}",) for i in range(n)]
        return spark.createDataFrame(rows, "item string")

    def test_exact_mode_below_k(self, spark):
        from ddspark.sketches.theta import theta_summary

        df = self._items(spark, 200)
        r = theta_summary(df, "item", k=1024).first()
        assert r["is_exact"] is True
        assert r["est"] == 200.0
        assert len(r["ks"]) == 200

    def test_estimation_accuracy(self, spark):
        from ddspark.sketches.theta import theta_summary

        n, k = 30000, 1024
        df = self._items(spark, n)
        r = theta_summary(df, "item", k=k).first()
        assert r["is_exact"] is False
        # 5-sigma envelope, sigma ~ 1/sqrt(k-2)
        assert abs(r["est"] - n) <= 5.0 * n / (k - 2) ** 0.5

    def test_partition_invariant(self, spark):
        from ddspark.sketches.theta import theta_summary

        df = self._items(spark, 5000)
        a = theta_summary(df, "item", k=256).first()
        b = theta_summary(df.repartition(17), "item", k=256).first()
        assert a["ks"] == b["ks"] and a["est"] == b["est"]

    def test_duplicates_do_not_inflate(self, spark):
        from ddspark.sketches.theta import theta_summary

        import pyspark.sql.functions as _F

        df = self._items(spark, 300)
        tripled = df.union(df).union(df).repartition(9)
        r = theta_summary(tripled, "item", k=1024).first()
        assert r["est"] == 300.0

    def test_intersection_and_union(self, spark):
        from ddspark.sketches.theta import (
            theta_estimate,
            theta_intersect,
            theta_intersect_bound,
            theta_summary,
            theta_union,
        )

        n, overlap, k = 20000, 6000, 1024
        a = self._items(spark, n)  # x0..x19999
        b = spark.createDataFrame(
            [(f"x{i}",) for i in range(n - overlap, 2 * n - overlap)],
            "item string",
        )
        sa = theta_summary(a, "item", k=k).first()
        sb = theta_summary(b, "item", k=k).first()
        est, nc, theta = theta_intersect(sa["ks"], sa["theta"], sb["ks"], sb["theta"])
        half = theta_intersect_bound(nc, theta)
        assert abs(est - overlap) <= half
        uks, utheta = theta_union(sa["ks"], sa["theta"], sb["ks"], sb["theta"], k)
        u_est = theta_estimate(uks, utheta)
        true_union = 2 * n - overlap
        assert abs(u_est - true_union) <= 5.0 * true_union / (k - 2) ** 0.5

    def test_difference(self, spark):
        from ddspark.sketches.theta import (
            theta_difference,
            theta_intersect_bound,
            theta_summary,
        )

        n, overlap, k = 20000, 6000, 1024
        a = self._items(spark, n)  # x0..x19999
        b = spark.createDataFrame(
            [(f"x{i}",) for i in range(n - overlap, 2 * n - overlap)],
            "item string",
        )
        sa = theta_summary(a, "item", k=k).first()
        sb = theta_summary(b, "item", k=k).first()
        est, nd, theta = theta_difference(sa["ks"], sa["theta"], sb["ks"], sb["theta"])
        half = theta_intersect_bound(nd, theta)
        assert abs(est - (n - overlap)) <= half
        # reverse direction: |B \ A| has the same true size here
        est2, nd2, _ = theta_difference(sb["ks"], sb["theta"], sa["ks"], sa["theta"])
        assert abs(est2 - (n - overlap)) <= theta_intersect_bound(nd2, theta)

    def test_exact_difference_when_both_small(self, spark):
        from ddspark.sketches.theta import theta_difference, theta_summary

        a = self._items(spark, 100)
        b = spark.createDataFrame(
            [(f"x{i}",) for i in range(60, 160)], "item string"
        )
        sa = theta_summary(a, "item", k=1024).first()
        sb = theta_summary(b, "item", k=1024).first()
        est, nd, theta = theta_difference(sa["ks"], sa["theta"], sb["ks"], sb["theta"])
        assert (est, theta) == (60.0, 1.0)  # exact: x0..x59
        # identity: |A\B| + |A∩B| == |A| in exact mode
        from ddspark.sketches.theta import theta_intersect

        i_est, _, _ = theta_intersect(sa["ks"], sa["theta"], sb["ks"], sb["theta"])
        assert est + i_est == 100.0

    def test_exact_intersection_when_both_small(self, spark):
        from ddspark.sketches.theta import theta_intersect, theta_summary

        a = self._items(spark, 100)
        b = spark.createDataFrame(
            [(f"x{i}",) for i in range(60, 160)], "item string"
        )
        sa = theta_summary(a, "item", k=1024).first()
        sb = theta_summary(b, "item", k=1024).first()
        est, nc, theta = theta_intersect(sa["ks"], sa["theta"], sb["ks"], sb["theta"])
        assert (est, theta) == (40.0, 1.0)  # exact: both sets fit

    def test_grouped(self, spark):
        from ddspark.sketches.theta import theta_summary

        rows = [("g1", f"a{i}") for i in range(50)] + [
            ("g2", f"b{i}") for i in range(80)
        ]
        df = spark.createDataFrame(rows, "g string, item string")
        out = {r["g"]: r["est"] for r in theta_summary(df, "item", k=512, by=["g"]).collect()}
        assert out == {"g1": 50.0, "g2": 80.0}


def test_mg_check_null_group_key(spark):
    """A NULL group value must not fail the guarantee spuriously (null-safe
    join regression)."""
    from ddspark.sketches.mgfreq import mg_check

    rows = [(None, "x")] * 40 + [(None, "y")] * 5 + [("g", "z")] * 10
    df = spark.createDataFrame(rows, "grp string, item string")
    out = {r["grp"]: r["guarantee_ok"] for r in mg_check(df, "item", k=4, by=["grp"]).collect()}
    assert out[None] is True and out["g"] is True


def test_theta_estimate_consistent_with_summary(spark):
    from ddspark.sketches.theta import theta_estimate, theta_summary

    df = spark.createDataFrame([(f"x{i}",) for i in range(30000)], "item string")
    r = theta_summary(df, "item", k=512).first()
    # the standalone estimator must agree exactly with the summary's est
    assert theta_estimate(r["ks"], r["theta"]) == r["est"]


def test_bloom_prefilter_semi_join_reduction(spark):
    """bloom_prefilter drops non-joinable big-side rows with NO shuffle and
    NO false drops: the prefiltered inner join equals the plain inner join,
    and the plan is a one-row broadcast nested-loop + pure expressions."""
    from pyspark.sql import functions as F

    big = spark.range(0, 100_000).select(
        (F.col("id") % 20_000).alias("key"), F.col("id").alias("payload")
    )
    keys = spark.range(0, 500).select((F.col("id") * 11).alias("key"))
    pre = bloom.bloom_prefilter(big, keys, "key", m=1 << 16, k=5)
    want = big.join(keys.distinct(), "key").orderBy("key", "payload").collect()
    got = pre.join(keys.distinct(), "key").orderBy("key", "payload").collect()
    assert got == want and len(got) > 0
    # strong reduction: most non-matching rows dropped (FP rate ~ (load)^k)
    n_pre = pre.count()
    assert n_pre < big.count() * 0.1
    plan = pre._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "Python" not in plan
    # null keys cannot match an inner join -> dropped
    with_null = big.unionByName(
        spark.createDataFrame([(None, -1)], "key bigint, payload bigint")
    )
    assert bloom.bloom_prefilter(with_null, keys, "key", m=1 << 16).where(
        F.col("payload") == -1
    ).count() == 0
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom.bloom_words(keys, "key", m=100)


def test_bloom_prefilter_rejects_type_mismatch(spark):
    """xxhash64 is type-sensitive: an INT-vs-BIGINT key mismatch would drop
    every matching row silently — the guard makes it loud."""
    from pyspark.sql import functions as F

    big = spark.range(10).select(F.col("id").cast("int").alias("key"))
    keys = spark.range(10).select(F.col("id").alias("key"))
    with pytest.raises(ValueError, match="type-sensitive"):
        bloom.bloom_prefilter(big, keys, "key")


# ------------------------------------------------------------ Count-Sketch


def test_countsketch_f2_accuracy_and_partition_invariance(spark, items_df):
    from ddspark.sketches.countsketch import cs_f2_estimates

    df, pdf = items_df
    exact = (
        pdf.groupby(["g", "item"]).size().pow(2).groupby(level=0).sum().to_dict()
    )
    for portable in (False, True):
        est = {
            r["g"]: r["f2_est"]
            for r in cs_f2_estimates(
                df, "item", ["g"], depth=5, width=2048, portable=portable
            ).collect()
        }
        for g, f2 in exact.items():
            assert abs(est[g] - f2) <= 0.15 * f2, (portable, g, est[g], f2)
    # merge associativity: the estimate is a pure function of the multiset,
    # independent of how rows are partitioned
    a = cs_f2_estimates(df.repartition(1), "item", ["g"], portable=True)
    b = cs_f2_estimates(df.repartition(13), "item", ["g"], portable=True)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_countsketch_point_estimates_no_collision_exact(spark):
    """With far fewer distinct items than width the estimate is exact
    (unbiased, zero collision noise) — unlike Count-Min this can also
    return the true count for absent items (0), not an overestimate."""
    from ddspark.sketches.countsketch import cs_point_estimates

    rows = [("a",)] * 7 + [("b",)] * 3 + [("c",)] * 1
    df = spark.createDataFrame(rows, "item string").repartition(4)
    probes = spark.createDataFrame([("a",), ("b",), ("c",), ("zz",)], "v string")
    got = {
        r["v"]: r["cs_est"]
        for r in cs_point_estimates(
            df, "item", probes, "v", depth=5, width=4096, portable=True
        ).collect()
    }
    assert got == {"a": 7, "b": 3, "c": 1, "zz": 0}


def test_countsketch_join_size(spark, items_df):
    from ddspark.sketches.countsketch import cs_join_size

    df, pdf = items_df
    left = df.where(F.col("g") == "x").select("item")
    right = df.where(F.col("g") == "y").select("item")
    lx = pdf[pdf["g"] == "x"]["item"].value_counts()
    ly = pdf[pdf["g"] == "y"]["item"].value_counts()
    exact = int((lx * ly).dropna().sum())
    est = cs_join_size(left, "item", right, "item", depth=5, width=4096)
    got = est.collect()[0]["join_size_est"]
    assert abs(got - exact) <= 0.15 * exact, (got, exact)


def test_countsketch_weighted_and_depth_validation(spark):
    from ddspark.sketches.countsketch import cs_f2_estimates, cs_point_estimates

    rows = [("a", 3), ("a", 2), ("b", 10)]
    df = spark.createDataFrame(rows, "item string, w long")
    probes = spark.createDataFrame([("a",), ("b",)], "v string")
    got = {
        r["v"]: r["cs_est"]
        for r in cs_point_estimates(
            df, "item", probes, "v", depth=3, width=1024, weight_col="w", portable=True
        ).collect()
    }
    assert got == {"a": 5, "b": 10}
    with pytest.raises(ValueError, match="odd"):
        cs_f2_estimates(df, "item", depth=4)


def test_hll_cube_matches_per_level_hll_agg(spark):
    """One-scan grouping-sets HLL == running hll_agg per level: identical
    registers and estimates for every level, set_id disambiguates NULL
    padding, and the plan is one scan with Expand before partial agg."""
    from ddspark.sketches.hll import hll_agg, hll_cube

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select(
            "event_type",
            (F.col("event_id") % 3).alias("g"),
            F.col("user_id").cast("string").alias("u"),
        )
    )
    cube = hll_cube(ev, "u", ["event_type", "g"])
    rows = cube.collect()
    got = {
        (r["set_id"], r["event_type"], r["g"]): (r["hll_estimate"], r["registers"])
        for r in rows
    }
    levels = [["event_type", "g"], ["event_type"], []]
    for si, lvl in enumerate(levels):
        want = hll_agg(ev, "u", lvl).collect()
        assert len([k for k in got if k[0] == si]) == len(want)
        for r in want:
            key = (
                si,
                r["event_type"] if "event_type" in lvl else None,
                r["g"] if "g" in lvl else None,
            )
            assert got[key][0] == r["hll_estimate"], key
            assert got[key][1] == r["registers"], key

    # fresh frame: an executed AQE plan prints initial+final sections and
    # would double-count the scan
    plan = (
        hll_cube(ev, "u", ["event_type", "g"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("FileScan") == 1, plan
    assert "Expand" in plan

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in by"):
        hll_cube(ev, "u", ["event_type"], grouping_sets=[["nope"]])
    with _pytest.raises(ValueError, match="duplicate"):
        hll_cube(ev, "u", ["event_type"], grouping_sets=[[], []])
