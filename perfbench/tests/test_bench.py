"""Benchmark self-tests: the answer check, the result contract and a
tiny-size smoke run of every workload.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import run
from perfbench.inputs import ExactQuantiles, build_inputs, check_answer
from perfbench.workloads import FLAGSHIP_QS, WORKLOADS, BulkScan, Interactive, Op

ROOT = run.ROOT
QS = (0.5, 0.95, 0.99)
ALPHA = 0.01

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


@pytest.fixture()
def exact():
    d = os.path.join(ROOT, ".bench_work", f"test-exact-{os.getpid()}")
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(7)
    n = 5_000
    pq.write_table(pa.table({
        "g": np.array(["a", "b", "c"])[rng.integers(0, 3, n)],
        "v": rng.lognormal(0.0, 2.0, n),
    }), os.path.join(d, "t.parquet"))
    yield ExactQuantiles(d, "v", ["g"]).answer(QS)
    shutil.rmtree(d, ignore_errors=True)


def test_exact_uses_lower_rank_convention():
    from ddspark.datasets import exact_quantile

    d = os.path.join(ROOT, ".bench_work", f"test-rank-{os.getpid()}")
    os.makedirs(d, exist_ok=True)
    v = np.random.default_rng(3).normal(size=1001)
    pq.write_table(pa.table({"v": v}), os.path.join(d, "t.parquet"))
    try:
        got = ExactQuantiles(d, "v", []).answer((0.1, 0.5, 0.99))
    finally:
        shutil.rmtree(d, ignore_errors=True)
    for q, col in ((0.1, "p10"), (0.5, "p50"), (0.99, "p99")):
        assert got[col].iloc[0] == exact_quantile(v, q)


def test_answer_check_accepts_within_alpha(exact):
    ok, err, _ = check_answer(exact.assign(p50=exact.p50 * (1 + ALPHA / 2)), exact, ["g"],
                              QS, ALPHA)
    assert ok and 0 < err <= ALPHA


@pytest.mark.parametrize("perturb", [
    lambda df: df.assign(p95=df.p95 * (1 + 2 * ALPHA)),
    lambda df: df.assign(p99=df.p99 * (1 - 1.5 * ALPHA)),
    lambda df: df.assign(count=df["count"] + 1),
    lambda df: df.iloc[1:],
    lambda df: df.drop(columns=["p50"]),
    lambda df: df.assign(g=df.g.str.upper()),
])
def test_answer_check_rejects_perturbed_answer(exact, perturb):
    ok, _, why = check_answer(perturb(exact.copy()), exact, ["g"], QS, ALPHA)
    assert not ok and why


def test_wrong_answer_is_a_failed_call_not_a_fast_one():
    class Wl:
        rate = "median"

    samples = [run.Sample("repeat", 1.0, 100, True, 0.5, ""),
               run.Sample("repeat", 3.0, 100, True, 0.9, ""),
               run.Sample("repeat", 0.01, 100, False, None, "")]
    m = run._end_to_end(Wl, samples, 2.0)
    assert m["query_s_p50"] == 2.0 and m["rows_per_s"] == 200 / 3
    assert m["queries_per_s"] == 2 / 4.01 and m["max_rel_err"] == 0.9
    assert m["setup_s"] == 2.0


def test_bulk_scan_fresh_quantiles_are_new_columns():
    """A fresh call's extra quantile is never one of the flagship's, which
    would give the result two columns of one name."""
    d = os.path.join(ROOT, ".bench_work", f"test-extras-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    try:
        wl = BulkScan(build_inputs("bulk_scan", 5, "tiny", d), seed=5)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    ops = list(itertools.islice(wl.ops(), 3 * 996))
    extras = [op.qs[-1] for op in ops if op.kind == "fresh"]
    assert len(extras) == len(set(extras)) == 996
    assert not set(extras) & set(FLAGSHIP_QS)


def test_interactive_rounds_hold_the_same_mix():
    """Every round of the interactive sequence runs each hot set once and
    each of their shapes once fresh, so runs of whole rounds have one mix."""
    d = os.path.join(ROOT, ".bench_work", f"test-rounds-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    try:
        wl = Interactive(build_inputs("interactive", 5, "tiny", d), seed=5)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    ops = list(itertools.islice(wl.ops(), 3 * wl.round_len))
    rounds = [ops[i:i + wl.round_len] for i in range(0, len(ops), wl.round_len)]
    for r in rounds:
        assert sorted(op.label for op in r if op.kind == "repeat") == sorted(
            op.label for op in rounds[0] if op.kind == "repeat")
        assert sorted(op.label for op in r if op.kind == "fresh") == sorted(
            op.label for op in rounds[0] if op.kind == "repeat")


def test_check_that_raises_is_a_failed_call(monkeypatch, exact):
    """An answer the check cannot read fails its call; the run goes on."""
    from perfbench import inputs
    from perfbench.spans import Tracer

    class Result:
        def to_pandas(self):
            return exact

    class Df:
        def toArrow(self):
            return Result()

    class Wl:
        round_len = 1

        def ops(self):
            while True:
                yield Op("repeat", Df, lambda: exact, ["g"], QS, ALPHA, 1)

    def boom(*_args):
        raise ValueError("cannot broadcast")

    monkeypatch.setattr(inputs, "check_answer", boom)
    samples, _, failures, _ = run._timed_loop(Wl(), Tracer(False), 0.05, False)
    assert samples and not any(s.ok for s in samples)
    assert len(failures) == len(samples) and "cannot broadcast" in failures[0]["why"]


def test_spec_matches_emitted_metrics():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER_UNITS


def test_fails_without_the_program():
    """In a directory holding only the benchmark, the command exits non-zero
    and prints no result."""
    bare = os.path.join(ROOT, ".bench_work", f"bare-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = subprocess.run(
            [*SPEC["command"], "--workload", WORKLOADS[0], "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.fixture(scope="module")
def spark_jvm():
    yield
    run.shutdown_jvm()


def _assert_result(result: dict, units: dict) -> None:
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(units)
    for name, m in result["metrics"].items():
        assert m["unit"] == units[name], name
        assert isinstance(m["value"], (int, float)), name


@pytest.mark.parametrize("trace", [False, True])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_smoke_run(spark_jvm, workload, trace):
    result, record = run.run_benchmark(workload, seed=11, seconds=1, trace=trace, scale="tiny")
    _assert_result(result, run.PER_LAYER_UNITS if trace else run.END_TO_END_UNITS)
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    assert set(record["setup_phases_s"]) == {"get_spark_s", "warmup_s"}
    assert record["contention"] is None or "steal_pct" in record["contention"]
    assert record["input"]


def test_cli_prints_result_last(spark_jvm):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk_scan", "--seed", "12",
         "--seconds", "1", "--trace", "0", "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    _assert_result(result, run.END_TO_END_UNITS)
