"""Round-6 optimization harness — NOT the frozen bench.py.

Isolates the headline queries (same definitions as bench.py) with:
  * per-query wall time via the noop sink AND .collect() (bench methodology)
  * optional .explain("formatted") dumps to plans/r06/
  * breakdown timings (scan-only, cells-only) for attribution
  * per query and round, the classes Spark compiled and their compile ms
    (``codegen_warmup``, ``codegen_rounds``): 0 on a round means the query
    ran on already-compiled code
  * per query, the median driver construction time (no action) of a
    first-seen quantile set and of its repeat (``construct_ms``)

Usage:
  python bench_extra.py [--sf DIR] [--plans] [--rounds N] [--queries a,b,...]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)
os.environ.setdefault("SPARK_HOME", "/opt/spark")

from pyspark.sql import functions as F

from ddspark.agg import quantile_sketch
from ddspark.session import codegen_counters, get_spark
from ddspark.sketch import SketchConfig
from ddspark.sqlpath import sql_quantile_sketch
from ddspark.store import COLLAPSE_LOWEST

QS = [0.5, 0.95, 0.99]


def suite(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return {
        "price_by_returnflag": lambda qs=QS: quantile_sketch(
            li.where(F.col("l_extendedprice") > 0), "l_extendedprice",
            by=["l_returnflag"], qs=qs, cfg=SketchConfig(0.01),
        ),
        "price_global": lambda qs=QS: quantile_sketch(
            li.where(F.col("l_extendedprice") > 0), "l_extendedprice",
            by=None, qs=qs, cfg=SketchConfig(0.01),
        ),
        "docs_by_lang": lambda qs=QS: quantile_sketch(
            docs, "n_chars", by=["lang"], qs=qs, cfg=SketchConfig(0.01)
        ),
        "events_collapsing": lambda qs=QS: quantile_sketch(
            ev.where(F.col("value") > 0), "value", by=["event_type"], qs=qs,
            cfg=SketchConfig(0.02, mode=COLLAPSE_LOWEST, bin_limit=512),
        ),
        "kernel_engine_by_flag": lambda qs=QS: quantile_sketch(
            li.where(F.col("l_extendedprice") > 0), "l_extendedprice",
            by=["l_returnflag"], qs=qs, cfg=SketchConfig(0.01), engine="kernel",
        ),
        "sqlpath_quantity": lambda qs=QS: sql_quantile_sketch(
            li, "l_quantity", ["l_linestatus"], qs, 0.05
        ),
    }


def construct_ms(fn, reps: int = 7) -> dict:
    """Median ms to construct (no action) ``fn`` with a first-seen quantile
    set, and with the same set again."""
    fresh, repeat = [], []
    for i in range(reps):
        qs = [round(0.011 + 0.013 * i, 3), 0.5, round(0.987 - 0.011 * i, 3)]
        for times in (fresh, repeat):
            t0 = time.perf_counter()
            fn(qs)
            times.append((time.perf_counter() - t0) * 1e3)
    return {"fresh": round(statistics.median(fresh), 1),
            "repeat": round(statistics.median(repeat), 1)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plans", default=None,
                    help="suffix: dump plans to plans/r06/<q>_<suffix>.txt")
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--queries", default=None)
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="ddspark-bench-extra", cores=cpus,
                      shuffle_partitions=max(8, cpus))
    qsuite = suite(spark, args.sf)
    if args.queries:
        keep = set(args.queries.split(","))
        qsuite = {k: v for k, v in qsuite.items() if k in keep}

    if args.plans:
        os.makedirs(f"{REPO}/plans/r06", exist_ok=True)
        for name, fn in qsuite.items():
            df = fn()
            p = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(f"{REPO}/plans/r06/{name}_{args.plans}.txt", "w") as fh:
                fh.write(p)
            print(f"wrote plans/r06/{name}_{args.plans}.txt")

    if args.rounds < 1:
        print(json.dumps({"sf": args.sf, "queries": {}, "value": 0, "rounds": []}))
        spark.stop()
        return

    def compiled_since(before: tuple) -> dict:
        n, ms = codegen_counters(spark)
        return {"compiles": n - before[0], "compile_ms": round(ms - before[1], 1)}

    # warm every query (bench methodology)
    warm_codegen = {}
    for name, fn in qsuite.items():
        c0 = codegen_counters(spark)
        fn().collect()
        warm_codegen[name] = compiled_since(c0)
    rounds, codegen_rounds = [], []
    for _ in range(args.rounds):
        t, cg = {}, {}
        for name, fn in qsuite.items():
            spark.sparkContext.setJobDescription(f"headline:{name}")
            c0 = codegen_counters(spark)
            t0 = time.perf_counter()
            fn().collect()
            t[name] = round(time.perf_counter() - t0, 4)
            cg[name] = compiled_since(c0)
        rounds.append(t)
        codegen_rounds.append(cg)
    best = {n: min(r[n] for r in rounds) for n in rounds[0]}
    construct = {name: construct_ms(fn) for name, fn in qsuite.items()}
    print(json.dumps({
        "sf": args.sf,
        "queries": best,
        "value": round(sum(best.values()), 4),
        "rounds": rounds,
        "codegen_warmup": warm_codegen,
        "codegen_rounds": codegen_rounds,
        "construct_ms": construct,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
