"""Layer probes for the traced run.

Each probe times one ddspark layer on the workload's own input, writing the
layer's output to Spark's ``noop`` sink so that nothing but the layer runs.
A stage's self time is its pipeline's time minus the upstream pipeline's.
The pipelines of one layer run interleaved, ``ROUNDS`` times; the first
round warms them up and the rest are timed (median).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from ddspark.agg import (
    build_cells,
    build_partials,
    finalize_quantiles,
    merge_partials,
    quantile_sketch,
)
from ddspark.checkpoint import attempts_info, checkpointed_quantile_sketch
from ddspark.sketch import SketchConfig

from .spans import plan_metrics

ROUNDS = 3


def _noop(tracer, pipelines: dict) -> dict:
    """Median wall time per pipeline of writing its DataFrame to the noop
    sink, over interleaved rounds after a warm-up round."""
    times: dict[str, list[float]] = {name: [] for name in pipelines}
    for r in range(ROUNDS):
        for name, make_df in pipelines.items():
            with tracer.span(name, warmup=r == 0):
                t0 = time.perf_counter()
                make_df().write.format("noop").mode("overwrite").save()
                if r:
                    times[name].append(time.perf_counter() - t0)
    return {name: statistics.median(ts) for name, ts in times.items()}


def probe_layers(spark, spec, tracer, work: str) -> tuple[dict, dict]:
    """Per-layer metrics from the probes, and the SQL counters of the kernel
    pipeline (its Python stages).  The finalize and exchange layer is probed
    with ``spec.wide_by``, whose cell table is large; the others with the
    workload's own grouping."""
    cfg = SketchConfig(spec.alpha)
    qs = list(spec.qs)
    out: dict[str, float] = {}
    with tracer.span("probe", query_id="probe"):
        df = spark.read.parquet(spec.path)
        wide = lambda: quantile_sketch(df, spec.value, by=spec.wide_by, qs=qs, cfg=cfg)  # noqa: E731
        t = _noop(tracer, {
            "probe.agg.build_cells": lambda: build_cells(df, spec.value, spec.by, cfg),
            "probe.agg.build_cells_wide": lambda: build_cells(df, spec.value, spec.wide_by, cfg),
            "probe.agg.quantile_sketch_wide": wide,
        })
        out["agg.build_cells_s"] = t["probe.agg.build_cells"]
        # the finalize layer on a wide key, where its cell table is large
        out["agg.finalize_cells_s"] = (
            t["probe.agg.quantile_sketch_wide"] - t["probe.agg.build_cells_wide"])
        with tracer.span("probe.exchange_metrics"):
            w = wide()
            w.toArrow()
            exchange = plan_metrics(w)
        out["exchange.shuffle_bytes"] = exchange["exchange.shuffle_bytes"]
        out["exchange.shuffle_records"] = exchange["exchange.shuffle_records"]

        part = spark.read.parquet(*spec.slice_files)
        build = lambda: build_partials(part, spec.value, spec.by, cfg)  # noqa: E731
        merge = lambda: merge_partials(build(), spec.by, cfg)  # noqa: E731
        fin = lambda: finalize_quantiles(merge(), qs, cfg, spec.by)  # noqa: E731
        t = _noop(tracer, {
            "probe.agg.build_partials": build,
            "probe.agg.merge_partials": merge,
            "probe.agg.finalize_quantiles": fin,
        })
        out["agg.build_partials_s"] = t["probe.agg.build_partials"]
        out["agg.merge_partials_s"] = t["probe.agg.merge_partials"] - out["agg.build_partials_s"]
        out["agg.finalize_quantiles_s"] = (
            t["probe.agg.finalize_quantiles"] - t["probe.agg.merge_partials"])
        with tracer.span("probe.kernel_metrics"):
            k = fin()
            k.toArrow()
            kernel_counters = plan_metrics(k)

        ckpt = os.path.join(work, "probe_ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        slice_dir = os.path.join(work, "probe_slice")
        shutil.rmtree(slice_dir, ignore_errors=True)
        os.makedirs(slice_dir)
        for f in spec.slice_files:
            shutil.copy(f, slice_dir)
        with tracer.span("probe.checkpoint.build"):
            checkpointed_quantile_sketch(
                spark, slice_dir, spec.value, by=spec.by, qs=qs, cfg=cfg,
                ckpt_dir=ckpt).toArrow()
        infos = attempts_info(ckpt)
        attempts = [os.path.join(ckpt, i["attempt"]) for i in infos]
        state = [os.path.join(a, f) for a in attempts for f in os.listdir(a)
                 if f.endswith(".parquet")]
        out["checkpoint.attempt_s"] = sum(i["seconds"] for i in infos)
        out["checkpoint.state_files"] = len(state)
        out["checkpoint.state_bytes"] = sum(os.path.getsize(f) for f in state)
        out["checkpoint.state_bytes_per_row"] = out["checkpoint.state_bytes"] / spec.slice_rows
        out["checkpoint.resume_read_s"] = _noop(tracer, {
            "probe.checkpoint.resume_read": lambda: spark.read.parquet(*attempts),
        })["probe.checkpoint.resume_read"]
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(slice_dir, ignore_errors=True)
    return out, kernel_counters
