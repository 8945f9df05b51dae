"""ddspark benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload bulk_scan --seed 1 --seconds 15 --trace 0

Run from the repository root.  Inputs generated from ``--seed`` and other
scratch files (Spark local dirs, the shipped Python zip, checkpoints) go to
``.bench_work/`` and are deleted at exit; the run record (and, traced, the
spans) go to ``.bench_out/``.

A run sets up once (JVM and session launch, shipping the Python files, the
workload's fixed warm-up), then runs the workload's closed loop for
``--seconds``, checking every answer against exact quantiles computed
outside Spark.  ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
records spans and SQL metrics around every call, runs the layer probes and
prints the per-layer metrics instead.  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it is the
run record (inputs, samples, host contention).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # the process start, for setup_s

import argparse
import functools
import gc
import itertools
import json
import os
import shutil
import statistics
import sys
import tempfile
from typing import NamedTuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END_UNITS = {
    "setup_s": "s",
    "query_s_p50": "s",
    "rows_per_s": "rows/s",
    "queries_per_s": "1/s",
    "fresh_query_s_p50": "s",
    "repeat_query_s_p50": "s",
    "max_rel_err": "alpha",
}
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "agg.construct_ms_p50": "ms",
    "agg.construct_fresh_ms_p50": "ms",
    "agg.construct_repeat_ms_p50": "ms",
    "plancache.hit_ratio": "ratio",
    "agg.build_cells_s": "s",
    "agg.cells_out": "count",
    "scan.time_ms": "ms",
    "scan.files": "count",
    "scan.rows": "count",
    "agg.partial_agg_time_ms": "ms",
    "exchange.shuffle_bytes": "B",
    "exchange.shuffle_records": "count",
    "agg.finalize_cells_s": "s",
    "agg.build_partials_s": "s",
    "agg.merge_partials_s": "s",
    "agg.finalize_quantiles_s": "s",
    "python.data_sent_bytes": "B",
    "python.total_ms": "ms",
    "python.boot_ms": "ms",
    "checkpoint.attempt_s": "s",
    "checkpoint.state_files": "count",
    "checkpoint.state_bytes": "B",
    "checkpoint.state_bytes_per_row": "B/row",
    "checkpoint.resume_read_s": "s",
    "trace.query_s_p50": "s",
}
# SQL counters of the timed queries' plans (median over queries); neither
# workload has a Python stage, so the Python counters come from the kernel
# pipeline of the layer probes, and the exchange counters from the probe on
# a wide key
_LOOP_COUNTERS = (
    "scan.time_ms", "scan.files", "scan.rows", "agg.partial_agg_time_ms", "agg.cells_out",
)
_PROBE_COUNTERS = ("python.data_sent_bytes", "python.total_ms", "python.boot_ms")


class Sample(NamedTuple):
    kind: str          # "fresh" or "repeat"
    seconds: float     # API call through the action
    rows: int          # input rows the call covers
    ok: bool           # answer passed the check
    err: float | None  # largest relative error, in units of the query's alpha
    label: str


def _isolate(work: str) -> dict:
    """Keep every file Spark, its JVM and its Python workers write inside
    ``work``; returns the extra Spark conf for ``get_spark``."""
    import ddspark.session as session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["DDSPARK_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ.setdefault("DDSPARK_DRIVER_MEM", "3g")
    # no hsperfdata file in /tmp from the JVM that builds the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = tmp
    # get_spark zips ddspark into /tmp for the executors; zip it here instead
    ship = getattr(session.package_pyfiles, "func", session.package_pyfiles)
    session.package_pyfiles = functools.partial(ship, out_dir=tmp)
    return {
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata file in /tmp: the JVM writes only under ``work``
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def _cpu_times() -> list[int] | None:
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def _contention(before, after) -> dict | None:
    """Host steal and idle shares over the run, from ``/proc/stat``."""
    if before is None or after is None:
        return None
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {
        "steal_pct": round(100 * d[7] / total, 3),
        "idle_pct": round(100 * d[3] / total, 3),
        "iowait_pct": round(100 * d[4] / total, 3),
        "before": before,
        "after": after,
    }


def _median(xs):
    return statistics.median(xs) if xs else None


def _setup(wl, tracer, conf: dict, cores: int):
    """Launch the JVM and the session (which ships the Python files), then
    run the workload's fixed warm-up and prime its caches; returns the live
    session and the phase times."""
    from ddspark.session import get_spark

    with tracer.span("setup", query_id="setup"):
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        with tracer.span("warmup"):
            wl.prepare(spark)
            for op in itertools.islice(wl.warmup_ops(), wl.warmup_count):
                op.call().toArrow()
        with tracer.span("prime"):
            wl.prime(spark)
        t2 = time.perf_counter()
    return spark, {"get_spark_s": t1 - t0, "warmup_s": t2 - t1}


def _timed_loop(wl, tracer, seconds: float, trace: bool):
    """The closed loop, for ``seconds`` rounded up to whole rounds: returns
    samples, per-query SQL counters (traced runs), failures and the loop's
    wall time."""
    from .inputs import check_answer
    from .spans import plan_metrics

    samples, counters, failures = [], [], []
    t_loop = time.perf_counter()
    for i, op in enumerate(wl.ops()):
        # whole rounds only, so that every run has the workload's mix
        if i % wl.round_len == 0 and time.perf_counter() - t_loop >= seconds:
            break
        qid = f"q{i}"
        ok, err, why, result = False, None, "", None
        # collect the benchmark's own garbage (answer checks) outside the
        # timed call, so that Python's collector does not bill it to ddspark
        gc.collect()
        with tracer.span("query", query_id=qid, kind=op.kind):
            t0 = time.perf_counter()
            try:
                with tracer.span("agg.construct"):
                    df = op.call()
                with tracer.span("action"):
                    result = df.toArrow()
            except Exception as exc:  # noqa: BLE001 — a failed call is counted, not fatal
                why = f"{type(exc).__name__}: {exc}"[:500]
            dt = time.perf_counter() - t0
        if result is not None:
            if trace:
                with tracer.span("sql_metrics", query_id=qid) as sp:
                    sp["metrics"] = plan_metrics(df)
                    counters.append(sp["metrics"])
            with tracer.span("check", query_id=qid):
                try:
                    ok, err, why = check_answer(
                        result.to_pandas(), op.exact(), op.by, op.qs, op.alpha)
                except Exception as exc:  # noqa: BLE001 — an unreadable answer fails the call
                    ok, err, why = False, None, f"check: {type(exc).__name__}: {exc}"[:500]
        samples.append(Sample(op.kind, dt, op.rows, ok,
                              None if err is None else err / op.alpha, op.label))
        if not ok:
            failures.append({"query": qid, "kind": op.kind, "why": why})
    return samples, counters, failures, time.perf_counter() - t_loop


def _end_to_end(wl, samples: list[Sample], setup_s: float) -> dict:
    """End-to-end metrics over the calls whose answers passed the check; a
    wrong answer is a failed call, never a fast one."""
    good = [s for s in samples if s.ok]
    by_kind = {k: [s.seconds for s in good if s.kind == k] for k in ("fresh", "repeat")}
    if wl.rate == "sum":
        rate = sum(s.rows for s in good) / sum(s.seconds for s in good) if good else None
    else:
        rate = _median([s.rows / s.seconds for s in good])
    return {
        "setup_s": setup_s,
        "query_s_p50": _median([s.seconds for s in good]),
        "rows_per_s": rate,
        "queries_per_s": len(good) / sum(s.seconds for s in samples) if samples else None,
        "fresh_query_s_p50": _median(by_kind["fresh"]),
        "repeat_query_s_p50": _median(by_kind["repeat"]),
        "max_rel_err": max((s.err for s in good), default=None),
    }


def _per_layer(tracer, probe: dict, kernel_counters: dict, counters: list[dict],
               memo: tuple[int, int], traced_query_s: float | None) -> dict:
    values = dict(probe)
    values.update({name: _median([c[name] for c in counters]) for name in _LOOP_COUNTERS})
    values.update({name: kernel_counters[name] for name in _PROBE_COUNTERS})
    hits, misses = memo
    def construct_ms(kinds) -> float | None:
        ms = [1000 * (s["end"] - s["start"]) for s in tracer.spans
              if s["name"] == "agg.construct" and tracer.spans[s["parent"]]["kind"] in kinds]
        return _median(ms)

    values.update({
        "session.get_spark_s": tracer.durations("session.get_spark")[0],
        "agg.construct_ms_p50": construct_ms(("fresh", "repeat")),
        # the memo splits construction in two: a miss builds the plan
        "agg.construct_fresh_ms_p50": construct_ms(("fresh",)),
        "agg.construct_repeat_ms_p50": construct_ms(("repeat",)),
        "plancache.hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
        "trace.query_s_p50": traced_query_s,
    })
    return values


def run_benchmark(workload: str, seed: int, seconds: float, trace: bool,
                  scale: str = "full", root: str = ROOT,
                  t_start: float | None = None) -> tuple[dict, dict]:
    """One benchmark run; returns ``(result, record)``.  ``setup_s`` counts
    from ``t_start`` (``perf_counter`` at the process start; default: now)
    to the first timed call, less input generation.  Stops its session but
    leaves the JVM up, so that callers in one process can run again."""
    if t_start is None:
        t_start = time.perf_counter()
    from ddspark import plancache

    from . import inputs, layers, workloads
    from .spans import Tracer

    work = os.path.join(root, ".bench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spark = None
    try:
        conf = _isolate(work)
        cores = len(os.sched_getaffinity(0))
        tracer = Tracer(trace)
        t_gen = time.perf_counter()
        manifest = inputs.build_inputs(workload, seed, scale, os.path.join(work, "inputs"))
        wl = workloads.make(workload, manifest, seed)
        t_gen = time.perf_counter() - t_gen

        cpu_before = _cpu_times()
        spark, phases = _setup(wl, tracer, conf, cores)
        setup_s = time.perf_counter() - t_start - t_gen
        memo0 = (plancache._HITS, plancache._MISSES)
        samples, counters, failures, loop_wall = _timed_loop(wl, tracer, seconds, trace)
        memo = (plancache._HITS - memo0[0], plancache._MISSES - memo0[1])
        if trace:
            probe, kernel_counters = layers.probe_layers(spark, wl.probe_spec(), tracer, work)
        cpu_after = _cpu_times()
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    end_to_end = _end_to_end(wl, samples, setup_s)
    if trace:
        values = _per_layer(tracer, probe, kernel_counters, counters, memo,
                            end_to_end["query_s_p50"])
        units = PER_LAYER_UNITS
    else:
        values, units = end_to_end, END_TO_END_UNITS
    result = {
        "correct": bool(samples) and not failures,
        "attempted": len(samples),
        "failed": len(failures),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    times = sorted(s.seconds for s in samples if s.ok)
    p90 = times[int(0.9 * len(times))] if times else None
    record = {
        "workload": workload,
        "seed": seed,
        "scale": scale,
        "trace": trace,
        "cores": cores,
        "input": wl.describe(),
        "input_gen_s": t_gen,
        "setup_phases_s": phases,
        "samples": {"fresh": sum(s.kind == "fresh" for s in samples),
                    "repeat": sum(s.kind == "repeat" for s in samples), "ok": len(times)},
        # reported, not gated: a run holds ~30 calls, so few lie beyond p90
        "query_s_p90": p90,
        "beyond_p90": sum(t > p90 for t in times) if times else 0,
        "loop_wall_s": loop_wall,
        "ops": [[s.kind, round(s.seconds, 4), s.ok, s.label] for s in samples],
        "plancache": {"hits": memo[0], "misses": memo[1]},
        "contention": _contention(cpu_before, cpu_after),
        "failures": failures[:20],
        "end_to_end": end_to_end,
    }
    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{workload}-s{seed}-t{int(trace)}")
    if trace:
        tracer.write(stem + "-spans.json")
        record["spans_file"] = stem + "-spans.json"
    with open(stem + ".json", "w") as fh:
        json.dump({"record": record, "result": result}, fh, indent=1)
    return result, record


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None, t_start: float | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: the smoke-test input size")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ddspark", "__init__.py")):
        print(f"perfbench: no ddspark package under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # run as a script, this file is __main__; the package copy has the
    # relative imports
    from perfbench import run, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {workloads.WORKLOADS}",
              file=sys.stderr)
        return 2
    try:
        result, record = run.run_benchmark(
            args.workload, args.seed, args.seconds, bool(args.trace), args.scale,
            t_start=t_start)
    finally:
        run.shutdown_jvm()
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(t_start=T_START))
