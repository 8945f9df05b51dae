"""Structured Streaming sketch tests: stateful per-key sketches and
watermarked windowed cells, fed from file streams with availableNow
triggers so results are deterministic."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ddspark.agg import quantile_label
from ddspark.datasets import exact_quantile
from ddspark.sketch import Sketch, SketchConfig
from ddspark.streaming import (
    finalize_cells_batch,
    sketch_stream_state,
    windowed_sketch_cells,
)

CFG = SketchConfig(0.02)


@pytest.fixture(scope="module")
def stream_rows():
    rng = np.random.default_rng(31)
    n = 5000
    return pd.DataFrame(
        {
            "ts": pd.Timestamp("2026-01-01 00:00:00")
            + pd.to_timedelta(rng.integers(0, 600, n), unit="s"),
            "g": rng.choice(["a", "b"], n, p=[0.7, 0.3]),
            "v": np.round(rng.lognormal(3.0, 1.0, n), 3),
        }
    )


def test_stateful_stream_matches_batch(spark, tmp_path, stream_rows):
    src = str(tmp_path / "src")
    # 3 files -> up to 3 micro-batches of incremental state updates
    for i, part in enumerate(np.array_split(np.arange(len(stream_rows)), 3)):
        spark.createDataFrame(stream_rows.iloc[part]).write.parquet(
            f"{src}/f{i}.parquet"
        )
    sdf = spark.readStream.schema("ts timestamp, g string, v double").parquet(
        src + "/*"
    )
    out = sketch_stream_state(sdf, "v", ["g"], CFG, qs=[0.5, 0.95])
    q = (
        out.writeStream.format("memory")
        .queryName("sketch_state_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = spark.sql(
        "SELECT * FROM sketch_state_test"
    ).toPandas()
    # last update per key reflects the full stream
    final = res.groupby("g").apply(lambda d: d[d["count"] == d["count"].max()].iloc[0])
    for g in ["a", "b"]:
        vals = stream_rows[stream_rows["g"] == g]["v"].to_numpy(np.float64)
        local = Sketch.from_values(vals, CFG)
        assert final.loc[g, "count"] == len(vals)
        assert final.loc[g, "min"] == vals.min()
        assert final.loc[g, "max"] == vals.max()
        for q_, col in [(0.5, quantile_label(0.5)), (0.95, quantile_label(0.95))]:
            assert final.loc[g, col] == pytest.approx(local.quantile(q_), rel=1e-12)
            exact = exact_quantile(vals, q_)
            assert abs(final.loc[g, col] - exact) <= 0.02 * abs(exact) + 1e-15


def test_windowed_cells_stream(spark, tmp_path, stream_rows):
    src = str(tmp_path / "src2")
    spark.createDataFrame(stream_rows).write.parquet(src + "/all.parquet")
    # sentinel far in the future: pushes the watermark so every real
    # window closes and emits (append mode only emits finalized windows)
    sentinel = pd.DataFrame(
        {"ts": [pd.Timestamp("2026-01-01 01:00:00")], "g": ["zz"], "v": [1.0]}
    )
    spark.createDataFrame(sentinel).write.parquet(src + "/sentinel.parquet")
    sdf = spark.readStream.schema("ts timestamp, g string, v double").parquet(
        src + "/*"
    )
    cells = windowed_sketch_cells(
        sdf, "ts", "v", ["g"], window_duration="5 minutes", watermark="1 minute",
        cfg=CFG,
    )
    collected = []

    def sink(batch_df, batch_id):
        fin = finalize_cells_batch(batch_df, [0.5, 0.95], ["g"], CFG)
        collected.append(fin.toPandas())

    q = (
        cells.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = pd.concat([c for c in collected if len(c)], ignore_index=True)
    res = res[res["g"] != "zz"]
    # windows: [00:00,05:00) and [05:00,10:00) per group
    assert res["count"].sum() == len(stream_rows)
    pdf = stream_rows.copy()
    pdf["win"] = pdf["ts"].dt.floor("5min")
    for rec in res.to_dict("records"):
        start = pd.Timestamp(rec["win"]["start"] if isinstance(rec["win"], dict) else rec["win"][0])
        vals = pdf[(pdf["g"] == rec["g"]) & (pdf["win"] == start)]["v"].to_numpy(np.float64)
        assert rec["count"] == len(vals)
        exact = exact_quantile(vals, 0.95)
        assert abs(rec[quantile_label(0.95)] - exact) <= 0.02 * abs(exact) + 1e-15


def test_finalize_cells_batch_output_types(spark):
    """Integer value columns keep the batch finalizer's DOUBLE stat and
    quantile columns (the cells carry the value type in _mn/_mx)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(t0 + dt.timedelta(minutes=i), "a", 3 + i) for i in range(5)],
        "ts timestamp, g string, v long",
    )
    cells = windowed_sketch_cells(df, "ts", "v", ["g"], "1 hour", "2 hours", CFG)
    fin = finalize_cells_batch(cells, [0.5], ["g"], CFG)
    assert fin.columns == ["win", "g", "count", "sum", "min", "max", "avg", "p50"]
    assert {c: t for c, t in fin.dtypes if c not in ("win", "g")} == dict.fromkeys(
        fin.columns[2:], "double"
    )
    (row,) = fin.collect()
    assert (row["count"], row["min"], row["max"]) == (5.0, 3.0, 7.0)


def test_sessionize_islands(spark):
    """Session assignment: maximal runs with gaps < gap; boundary at
    exactly gap starts a new session (session_window parity)."""
    import datetime as dt

    import pandas as pd

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("u1", t0),
        ("u1", t0 + dt.timedelta(minutes=10)),      # same session (<30m)
        ("u1", t0 + dt.timedelta(minutes=40)),      # exactly 30m after prev -> new
        ("u1", t0 + dt.timedelta(minutes=69)),      # 29m after prev -> same
        ("u2", t0 + dt.timedelta(minutes=5)),       # separate key
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["u", "ts"]))
    from ddspark.streaming import sessionize

    res = sessionize(df, "ts", ["u"], gap="30 minutes").toPandas()
    res["s"] = res["session_start"]
    u1 = res[res["u"] == "u1"].sort_values("ts")
    starts = u1["s"].tolist()
    assert starts[0] == starts[1] == t0
    assert starts[2] == starts[3] == t0 + dt.timedelta(minutes=40)
    assert res[res["u"] == "u2"]["s"].iloc[0] == t0 + dt.timedelta(minutes=5)


def test_session_sketch_state_stream(spark, tmp_path):
    """Streaming sessionization with custom keyed state: sessions split
    across micro-batches are carried and closed correctly (by gap or by
    event-time timeout), and each closed session's sketch equals the local
    algebra over exactly its events."""
    import datetime as dt

    from ddspark.streaming import session_sketch_state

    rng = np.random.default_rng(9)
    base = pd.Timestamp("2026-01-01 00:00:00")
    rows = []
    for ui, u in enumerate(["u0", "u1"]):
        for s in range(3):  # 3 sessions per key, 1h apart
            t0 = base + pd.Timedelta(hours=s) + pd.Timedelta(minutes=7 * ui)
            for i in range(5):  # events 20s apart
                rows.append((u, t0 + pd.Timedelta(seconds=20 * i),
                             float(np.round(rng.lognormal(3, 1), 3))))
    pdf = pd.DataFrame(rows, columns=["u", "ts", "v"]).sort_values("ts")
    src = str(tmp_path / "sess_src")
    # split mid-stream (and mid-session) to exercise cross-batch carry;
    # one part file per batch (coalesce) + mtime spacing so the file source
    # delivers them in event-time order — the documented assumption of
    # streaming sessionization (out-of-order beyond the watermark is
    # dropped by Spark itself)
    import time as _time

    cut = len(pdf) // 2 + 1
    spark.createDataFrame(pdf.iloc[:cut]).coalesce(1).write.parquet(f"{src}/f0.parquet")
    _time.sleep(1.5)
    spark.createDataFrame(pdf.iloc[cut:]).coalesce(1).write.parquet(f"{src}/f1.parquet")
    _time.sleep(1.5)
    sentinel = pd.DataFrame(
        {"u": ["zz"], "ts": [base + pd.Timedelta(days=1)], "v": [1.0]}
    )
    spark.createDataFrame(sentinel).coalesce(1).write.parquet(f"{src}/f2.parquet")

    sdf = (
        spark.readStream.schema("u string, ts timestamp, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = session_sketch_state(
        sdf, "ts", "v", ["u"], gap="2 minutes", cfg=CFG, qs=[0.5, 0.95]
    )
    q = (
        out.writeStream.format("memory")
        .queryName("session_state_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    res = spark.sql("SELECT * FROM session_state_test").toPandas()
    res = res[res["u"] != "zz"]
    assert len(res) == 6, res  # 2 keys x 3 sessions, all closed
    for rec in res.to_dict("records"):
        start = pd.Timestamp(rec["session_start"] * 1000)  # us -> ns
        g = pdf[(pdf["u"] == rec["u"]) & (pdf["ts"] >= start)
                & (pdf["ts"] < start + pd.Timedelta(minutes=2))]
        vals = g["v"].to_numpy(np.float64)
        assert rec["count"] == len(vals) == 5
        local = Sketch.from_values(vals, CFG)
        assert rec["min"] == vals.min() and rec["max"] == vals.max()
        assert rec[quantile_label(0.5)] == pytest.approx(local.quantile(0.5), rel=1e-12)


def test_mg_stream_heavy_hitters(spark, tmp_path):
    """Streaming MG: after all micro-batches the per-key certificate holds
    against the exact stream counts, with state carried across batches."""
    from ddspark.streaming import mg_stream_state

    rng = np.random.default_rng(13)
    items = rng.zipf(1.4, 6000).clip(max=800)
    rows = pd.DataFrame({"g": ["k"] * len(items), "item": items.astype(str)})
    src = str(tmp_path / "mg_src")
    for i, part in enumerate(np.array_split(np.arange(len(rows)), 3)):
        spark.createDataFrame(rows.iloc[part]).write.parquet(f"{src}/f{i}.parquet")
    sdf = spark.readStream.schema("g string, item string").parquet(src + "/*")
    out = mg_stream_state(sdf, "item", ["g"], k=32, topn=5)
    q = (
        out.writeStream.format("memory")
        .queryName("mg_stream_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "mg_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = spark.sql("SELECT * FROM mg_stream_test").toPandas()
    final = res[res["total"] == res["total"].max()]
    assert final["total"].iloc[0] == len(items)  # state carried across batches
    exact = rows["item"].value_counts()
    bound = final["err_bound"].iloc[0]
    assert bound > 0  # with 32 counters and this stream, compression happened
    for _, r in final.iterrows():
        true = exact[r["item"]]
        assert r["est"] <= true <= r["est"] + bound
    # the true top item must be surfaced (its count dwarfs the bound)
    assert exact.index[0] in set(final["item"])


def test_stream_dedup_across_batches(spark, tmp_path):
    """Cross-batch duplicates are dropped; first occurrences survive; state
    persists through the checkpoint between micro-batches."""
    from ddspark.streaming import stream_dedup

    batches = [
        pd.DataFrame({"doc_id": [0, 1, 2], "text": ["alpha one", "beta two", "alpha one"]}),
        pd.DataFrame({"doc_id": [3, 4], "text": ["ALPHA   ONE", "gamma three"]}),
        pd.DataFrame({"doc_id": [5, 6], "text": ["beta two", "delta four"]}),
    ]
    src = str(tmp_path / "dd_src")
    for i, b in enumerate(batches):
        spark.createDataFrame(b).write.parquet(f"{src}/f{i}.parquet")
    sdf = spark.readStream.schema("doc_id long, text string").parquet(src + "/*")
    out = stream_dedup(sdf, m_bits=1 << 12, k=4, n_routes=4)
    q = (
        out.writeStream.format("memory")
        .queryName("stream_dedup_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "dd_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = spark.sql("SELECT * FROM stream_dedup_test").toPandas()
    kept = set(res["doc_id"])
    # one survivor per distinct normalized content; dups (2: same as 0,
    # 3: whitespace/case-normalized dup of 0, 5: dup of 1) dropped
    assert 2 not in kept and 3 not in kept and 5 not in kept
    assert {1, 4, 6} <= kept
    assert len(kept) == 4  # 0-or... exactly: {0,1,4,6}
    assert 0 in kept


def test_mg_stream_state_survives_empty_string_item(spark, tmp_path):
    """Regression: a checkpointed state whose only item is '' must decode
    (emptiness keys on counts, not the joined item string)."""
    from ddspark.streaming import mg_stream_state

    b1 = pd.DataFrame({"g": ["k"] * 3, "item": ["", "", ""]})
    b2 = pd.DataFrame({"g": ["k"] * 2, "item": ["", "w"]})
    src = str(tmp_path / "mg_empty_src")
    for i, b in enumerate([b1, b2]):
        spark.createDataFrame(b).write.parquet(f"{src}/f{i}.parquet")
    sdf = spark.readStream.schema("g string, item string").parquet(src + "/*")
    q = (
        mg_stream_state(sdf, "item", ["g"], k=4, topn=3)
        .writeStream.format("memory")
        .queryName("mg_empty_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "mg_empty_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = spark.sql("SELECT * FROM mg_empty_test").toPandas()
    final = res[res["total"] == res["total"].max()]
    assert final["total"].iloc[0] == 5.0
    ests = dict(zip(final["item"], final["est"]))
    assert ests[""] == 4.0 and ests["w"] == 1.0


def test_session_state_out_of_order_above_watermark(spark, tmp_path):
    """Regression: an above-watermark event OLDER than the carried session's
    last event must not regress the session's last-event timestamp — the
    next event within the true gap must extend, not split, the session."""
    from ddspark.streaming import session_sketch_state

    base = pd.Timestamp("2026-01-01 00:00:00")
    mk = lambda secs: pd.DataFrame(
        {"ts": [base + pd.Timedelta(seconds=s) for s in secs],
         "g": ["k"] * len(secs),
         "v": [float(10 + s) for s in secs]}
    )
    src = str(tmp_path / "ooo_src")
    # batch1: t=100; batch2: t=30 (older, legal under a 1h watermark);
    # batch3: t=150 — true gap from last event (100) is 50s < 120s gap
    for i, b in enumerate([mk([100]), mk([30]), mk([150])]):
        spark.createDataFrame(b).write.parquet(f"{src}/f{i}.parquet")
    sdf = (
        spark.readStream.schema("ts timestamp, g string, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = session_sketch_state(
        sdf, "ts", "v", ["g"], gap="2 minutes", watermark="1 hour",
        qs=[0.5],
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ooo_session_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ooo_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    res = spark.sql("SELECT * FROM ooo_session_test").toPandas()
    # no session may close mid-stream: all three events belong to one
    # still-open session (closed rows would appear here)
    assert len(res) == 0, res.to_string()


def test_mg_stream_tws_matches_legacy_state(spark, tmp_path):
    """The transformWithStateInPandas variant carries state across
    micro-batches and honors the same certificate as the legacy-API MG.
    Skipped where Spark's v2 state protocol dependency (protobuf) is
    absent; the operator itself then raises a clear ImportError."""
    from ddspark.streaming import mg_stream_tws

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="protobuf"):
            mg_stream_tws(
                spark.readStream.format("rate").load(), "value", ["value"]
            )
        pytest.skip("protobuf not available: TWS v2 state protocol unusable")

    rng = np.random.default_rng(19)
    items = rng.zipf(1.5, 4000).clip(max=500)
    rows = pd.DataFrame({"g": ["k"] * len(items), "item": items.astype(str)})
    src = str(tmp_path / "tws_src")
    for i, part in enumerate(np.array_split(np.arange(len(rows)), 2)):
        spark.createDataFrame(rows.iloc[part]).write.parquet(f"{src}/f{i}.parquet")
    sdf = (
        spark.readStream.schema("g string, item string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = mg_stream_tws(sdf, "item", ["g"], k=32, topn=5)
    q = (
        out.writeStream.format("memory")
        .queryName("mg_tws_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "tws_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    res = spark.sql("SELECT * FROM mg_tws_test").toPandas()
    final = res[res["total"] == res["total"].max()]
    assert final["total"].iloc[0] == len(items)  # cross-batch state carried
    exact = rows["item"].value_counts()
    bound = final["err_bound"].iloc[0]
    for _, r in final.iterrows():
        true = exact[r["item"]]
        assert r["est"] <= true <= r["est"] + bound
    assert exact.index[0] in set(final["item"])


def test_incremental_cells_sink_exactly_once_and_queryable(spark, tmp_path):
    """The foreachBatch state sink: durable versioned cells, exactly-once on
    batch replay, and the finalized quantiles equal a one-shot batch sketch
    over the same rows."""
    from ddspark.agg import finalize_cells_sql, quantile_sketch
    from ddspark.streaming import incremental_cells_sink, read_sketch_state

    cfg = SketchConfig(0.02)
    state = str(tmp_path / "cells_state")
    sink = incremental_cells_sink(state, "v", ["g"], cfg)
    rng = np.random.default_rng(31)
    batches = [
        pd.DataFrame({
            "g": rng.choice(["a", "b"], 5000),
            "v": np.round(rng.lognormal(3, 1, 5000), 2),
        })
        for _ in range(3)
    ]
    for i, pdf in enumerate(batches):
        sink(spark.createDataFrame(pdf), i)
    # replay of the most recent committed batch (the only batch foreachBatch
    # ever retries) must be a no-op (exactly-once)
    before = read_sketch_state(spark, state).orderBy("g", "_sgn", "_k").collect()
    sink(spark.createDataFrame(batches[2]), 2)
    after = read_sketch_state(spark, state).orderBy("g", "_sgn", "_k").collect()
    assert before == after
    # the durable state finalizes to the same answer as one batch sketch
    got = {
        r["g"]: r
        for r in finalize_cells_sql(
            read_sketch_state(spark, state), [0.5, 0.99], ["g"], cfg
        ).collect()
    }
    whole = spark.createDataFrame(pd.concat(batches, ignore_index=True))
    want = {
        r["g"]: r
        for r in quantile_sketch(whole, "v", ["g"], [0.5, 0.99], cfg).collect()
    }
    assert got.keys() == want.keys()
    for k_ in want:
        g, w = got[k_].asDict(), want[k_].asDict()
        for field in ("count", "min", "max", "p50", "p99"):
            assert g[field] == w[field], (k_, field)
        # float addition is not associative: the incremental merge adds the
        # partial sums in a different order than the one-shot agg
        assert g["sum"] == pytest.approx(w["sum"], rel=1e-12)
        assert g["avg"] == pytest.approx(w["avg"], rel=1e-12)
    # retention: only the newest 2 versions remain
    import os

    vs = [d for d in os.listdir(state) if d.startswith("v_")]
    assert len(vs) == 2


def test_incremental_cells_sink_with_real_stream(spark, tmp_path):
    """Drive the sink through an actual file-source stream."""
    from ddspark.agg import finalize_cells_sql, quantile_sketch
    from ddspark.streaming import incremental_cells_sink, read_sketch_state

    cfg = SketchConfig(0.02)
    src = str(tmp_path / "src")
    rng = np.random.default_rng(7)
    pdfs = [
        pd.DataFrame({"g": ["x"] * 2000, "v": np.round(rng.lognormal(2, 1, 2000), 2)})
        for _ in range(2)
    ]
    for i, pdf in enumerate(pdfs):
        spark.createDataFrame(pdf).write.parquet(f"{src}/f{i}.parquet")
    sdf = spark.readStream.schema("g string, v double").option(
        "maxFilesPerTrigger", "1"
    ).parquet(f"{src}/*")
    state = str(tmp_path / "stream_state")
    q = (
        sdf.writeStream.outputMode("update")
        .foreachBatch(incremental_cells_sink(state, "v", ["g"], cfg))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = finalize_cells_sql(
        read_sketch_state(spark, state), [0.5, 0.95], ["g"], cfg
    ).collect()
    whole = spark.createDataFrame(pd.concat(pdfs, ignore_index=True))
    want = quantile_sketch(whole, "v", ["g"], [0.5, 0.95], cfg).collect()
    assert len(got) == len(want) == 1
    g, w = got[0].asDict(), want[0].asDict()
    for field in ("g", "count", "min", "max", "p50", "p95"):
        assert g[field] == w[field], field
    assert g["sum"] == pytest.approx(w["sum"], rel=1e-12)  # non-assoc fp adds
    assert g["avg"] == pytest.approx(w["avg"], rel=1e-12)


def test_windowed_hll_distinct_counts(spark, tmp_path):
    """Per-window distinct counts as a native streaming min-agg; estimates
    land within the HLL error envelope of the exact per-window distincts."""
    from ddspark.streaming import finalize_hll_batch, windowed_hll_cells

    rng = np.random.default_rng(13)
    rows = []
    for w, base in [(0, 0), (1, 60)]:  # two 1-minute windows
        # window 0: ~800 distinct users; window 1: ~300
        n_dist = 800 if w == 0 else 300
        for _ in range(3000):
            rows.append(
                (
                    pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=base + int(rng.integers(0, 60))),
                    f"u{int(rng.integers(0, n_dist))}_{w}",
                )
            )
    pdf = pd.DataFrame(rows, columns=["ts", "user"])
    src = str(tmp_path / "hll_src")
    spark.createDataFrame(pdf).write.parquet(f"{src}/data.parquet")
    # sentinel far ahead: advances the watermark so both real windows close
    # (append mode emits only finalized windows)
    sentinel = pd.DataFrame(
        {"ts": [pd.Timestamp("2026-01-01 01:00:00")], "user": ["zz"]}
    )
    spark.createDataFrame(sentinel).write.parquet(f"{src}/sentinel.parquet")
    src = f"{src}/*"
    sdf = spark.readStream.schema("ts timestamp, user string").parquet(src)
    cells = windowed_hll_cells(sdf, "ts", "user", [], "1 minute", "2 minutes", p=12)
    out = []
    q = (
        cells.writeStream.outputMode("append")
        .foreachBatch(lambda b, _i: out.append(finalize_hll_batch(b, [], 12).toPandas()))
        .option("checkpointLocation", str(tmp_path / "hll_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = pd.concat([o for o in out if len(o)], ignore_index=True)
    got = got[got["hll_estimate"] > 1.5]  # drop the 1-user sentinel window
    exact = (
        pdf.assign(win=pdf["ts"].dt.floor("1min"))
        .groupby("win")["user"].nunique()
    )
    assert len(got) == len(exact) == 2
    for rec in got.to_dict("records"):
        want = exact[pd.Timestamp(rec["win"]["start"])]
        assert abs(rec["hll_estimate"] - want) / want < 0.05, (rec, want)


def test_incremental_cells_sink_rejects_stale_batch_id(spark, tmp_path):
    """A batch_id BELOW the latest committed version means a fresh stream
    checkpoint was pointed at an old state_dir — silently skipping would
    drop every batch until ids catch up, so the sink raises instead."""
    from ddspark.streaming import incremental_cells_sink, read_sketch_state

    state = str(tmp_path / "stale_state")
    sink = incremental_cells_sink(state, "v", ["g"], SketchConfig(0.02))
    pdf = pd.DataFrame({"g": ["a"] * 100, "v": np.arange(100.0)})
    sink(spark.createDataFrame(pdf), 5)
    before = read_sketch_state(spark, state).orderBy("g", "_sgn", "_k").collect()
    # genuine retry of the most recent batch: still a silent no-op
    sink(spark.createDataFrame(pdf), 5)
    assert read_sketch_state(spark, state).orderBy(
        "g", "_sgn", "_k"
    ).collect() == before
    # restart-with-fresh-checkpoint (lower id): loud, state untouched
    with pytest.raises(RuntimeError, match="out of sync"):
        sink(spark.createDataFrame(pdf), 2)
    assert read_sketch_state(spark, state).orderBy(
        "g", "_sgn", "_k"
    ).collect() == before


def test_windowed_cells_equal_batch_replay_across_batches(spark, tmp_path):
    """The native windowed DDSketch cells path (watermark -> window groupBy
    -> sum on (win, keys, _sgn, _k), zero custom state) must be EXACTLY the
    batch computation: rows split across 3 micro-batches, per-window
    quantiles/count/min/max/sum equal to quantile_sketch over the same rows
    grouped by the same window — cell merging across batches is Spark's own
    streaming state, so stream == batch bit-for-bit."""
    from ddspark.agg import quantile_sketch
    from ddspark.streaming import finalize_cells_batch, windowed_sketch_cells

    rng = np.random.default_rng(41)
    base = pd.Timestamp("2024-03-01 00:00:00")
    rows = pd.DataFrame(
        {
            "ts": [
                base + pd.Timedelta(seconds=int(s))
                for s in rng.integers(0, 600, 3000)
            ],
            "g": rng.choice(["a", "b"], 3000),
            "v": np.round(rng.lognormal(2, 1, 3000), 3),
        }
    )
    src = str(tmp_path / "wsrc")
    # 3 files -> 3 micro-batches; every batch holds rows of BOTH windows,
    # so each window's cells merge across all batches in streaming state
    for i in range(3):
        spark.createDataFrame(rows.iloc[i::3]).write.parquet(f"{src}/f{i}.parquet")
    sentinel = pd.DataFrame(
        {"ts": [pd.Timestamp("2024-03-02 00:00:00")], "g": ["zz"], "v": [1.0]}
    )
    spark.createDataFrame(sentinel).write.parquet(f"{src}/zz.parquet")
    sdf = spark.readStream.schema("ts timestamp, g string, v double").option(
        "maxFilesPerTrigger", "1"
    ).parquet(f"{src}/*")
    # watermark delay covers the full 10-minute event span: each batch holds
    # rows of every window, and none may be dropped as late — the sentinel
    # (next day) is what finally closes the windows
    cells = windowed_sketch_cells(
        sdf, "ts", "v", ["g"], window_duration="5 minutes",
        watermark="15 minutes", cfg=CFG,
    )
    collected = []

    def sink(batch_df, batch_id):
        collected.append(
            finalize_cells_batch(batch_df, [0.5, 0.95], ["g"], CFG).toPandas()
        )

    q = (
        cells.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "wck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = pd.concat([c for c in collected if len(c)], ignore_index=True)
    got = got[got["g"] != "zz"]
    # batch twin through the SAME cells+finalizer: streaming state merging
    # must be invisible — identical cells, identical finalize, bit-for-bit
    from ddspark.agg import build_cells

    batch_win = spark.createDataFrame(rows).withColumn(
        "win", F.window("ts", "5 minutes")
    )
    want = finalize_cells_batch(
        build_cells(batch_win, "v", ["win", "g"], CFG), [0.5, 0.95], ["g"], CFG
    ).toPandas()
    key = lambda r: (pd.Timestamp(r["win"]["start"]), r["g"])
    got_d = {key(r): r for r in got.to_dict("records")}
    want_d = {key(r): r for r in want.to_dict("records")}
    assert got_d.keys() == want_d.keys() and len(got_d) == 4  # 2 windows x 2 groups
    for k in want_d:
        g, w = got_d[k], want_d[k]
        for field in ("count", "min", "max", quantile_label(0.5), quantile_label(0.95)):
            assert g[field] == w[field], (k, field, g[field], w[field])
        # float sum order differs between streaming-state merge and batch agg
        assert g["sum"] == pytest.approx(w["sum"], rel=1e-12)
    # and quantile_sketch over the same windowed rows agrees — the same
    # finalizer, reached through the flagship entry point's cells instead
    # of the stream's
    qs_d = {
        key(r): r
        for r in quantile_sketch(batch_win, "v", ["win", "g"], [0.5, 0.95], CFG)
        .toPandas().to_dict("records")
    }
    assert qs_d.keys() == got_d.keys()
    for k in qs_d:
        for field in (quantile_label(0.5), quantile_label(0.95)):
            assert got_d[k][field] == pytest.approx(qs_d[k][field], rel=1e-12)
        assert got_d[k]["count"] == qs_d[k]["count"]


def test_sessionize_duplicate_timestamps_share_a_session(spark):
    """Rows with the exact same timestamp must land in the same session —
    the tie guarantee the 10x-scale gate depends on (replicated tables
    carry exact duplicate instants).  Exercised with duplicates at a
    session boundary and across many partitions."""
    import datetime as dt

    from ddspark.streaming import sessionize

    t0 = dt.datetime(2024, 5, 1)
    rows = []
    for copy in range(3):  # 3 exact copies of every event
        rows += [
            ("u", t0),
            ("u", t0 + dt.timedelta(hours=1)),
            ("u", t0 + dt.timedelta(hours=14)),   # >= 12h after prev -> new
            ("u", t0 + dt.timedelta(hours=15)),
        ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["u", "ts"])
    ).repartition(8)
    res = sessionize(df, "ts", ["u"], gap="12 hours").toPandas()
    # every distinct instant maps to exactly one session_start
    per_ts = res.groupby("ts")["session_start"].nunique()
    assert (per_ts == 1).all(), per_ts
    counts = res.groupby("session_start").size().sort_index()
    assert counts.tolist() == [6, 6]  # 2 sessions x (2 events x 3 copies)


def test_curation_filters_run_on_streams(spark, tmp_path):
    """The r5 map-only curation operators (gopher_quality, c4_clean,
    url_stats) are stateless column pipelines, so they run UNCHANGED on a
    streaming DataFrame and agree row-for-row with the batch result."""
    from ddspark.pipeline.curation import c4_clean, gopher_quality
    from ddspark.pipeline.urlops import url_stats

    rows = [
        (i, ("the cat and dog have fun with that bird " * (3 + i % 5)).strip())
        for i in range(40)
    ]
    src = str(tmp_path / "src")
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    batch.write.parquet(f"{src}/f0.parquet")
    sdf = spark.readStream.schema("doc_id long, text string").parquet(src + "/*")

    for name, fn in [
        ("gq", lambda d: gopher_quality(d, min_words=50, min_stopword_hits=1)),
        ("c4", lambda d: c4_clean(d, min_kept_lines=1)),
        (
            "us",
            lambda d: url_stats(
                d.select(
                    "doc_id",
                    F.concat(
                        F.lit("https://h"),
                        F.col("doc_id").cast("string"),
                        F.lit(".example.com/x?utm_source=a&id=1"),
                    ).alias("url"),
                ),
                blocklist=["example.com"],
            ),
        ),
    ]:
        q = (
            fn(sdf)
            .writeStream.format("memory")
            .queryName(f"cur_stream_{name}")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = (
            spark.sql(f"SELECT * FROM cur_stream_{name}")
            .orderBy("doc_id")
            .toPandas()
        )
        want = fn(batch).orderBy("doc_id").toPandas()
        assert got.shape == want.shape
        for c in got.columns:
            assert (got[c].astype(str).values == want[c].astype(str).values).all(), (
                name, c,
            )


def test_r5_text_ops_run_on_streams(spark, tmp_path):
    """The round-5 stateless text operators (html_to_text, unicode
    normalization/stats, sliding-window chunking) are map-only column
    pipelines — explode included — so they run UNCHANGED on a streaming
    DataFrame and agree row-for-row with batch."""
    from ddspark.pipeline.curation import chunk_documents
    from ddspark.pipeline.html import html_to_text
    from ddspark.pipeline.unicode import normalize_text, unicode_stats

    rows = [
        (i, f"<p>doc {i} café é</p><div>w{i % 7} " + "tok " * (5 + i % 9) + "</div>")
        for i in range(30)
    ]
    src = str(tmp_path / "src")
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    batch.write.parquet(f"{src}/f0.parquet")
    sdf = spark.readStream.schema("doc_id long, text string").parquet(src + "/*")

    cases = [
        (
            "html",
            lambda d: d.select("doc_id", html_to_text(F.col("text")).alias("t")),
            ["doc_id"],
        ),
        (
            "uni",
            lambda d: unicode_stats(normalize_text(d, "text"), "text").select(
                "doc_id", "text_norm", "n_bytes", "n_codepoints", "ascii_only"
            ),
            ["doc_id"],
        ),
        (
            "chunk",
            lambda d: chunk_documents(d, chunk_tokens=6, overlap=2),
            ["doc_id", "chunk_idx"],
        ),
    ]
    for name, fn, keys in cases:
        q = (
            fn(sdf)
            .writeStream.format("memory")
            .queryName(f"r5_stream_{name}")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ck5_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql(f"SELECT * FROM r5_stream_{name}").orderBy(*keys).toPandas()
        want = fn(batch).orderBy(*keys).toPandas()
        assert got.shape == want.shape, name
        for c in got.columns:
            assert (got[c].astype(str).values == want[c].astype(str).values).all(), (
                name, c,
            )


def test_upsert_state_sink_equals_batch_replay(spark, tmp_path):
    """The streaming CDC materialization: after N micro-batches the durable
    snapshot equals latest_snapshot over the concatenated log (tombstones
    applied), batch replay is exactly-once, a stale batch_id raises, and
    tombstoned keys can reappear in later batches."""
    from ddspark.io import latest_snapshot
    from ddspark.streaming import read_upsert_state, upsert_state_sink

    state = str(tmp_path / "upsert_state")
    sink = upsert_state_sink(state, "k", "seq", delete_col="del")
    rng = np.random.default_rng(23)
    seq = 0
    batches = []
    for _ in range(3):
        n = 400
        batches.append(
            pd.DataFrame(
                {
                    "k": rng.integers(0, 50, n),
                    "seq": np.arange(seq, seq + n),
                    "val": rng.integers(0, 1000, n),
                    "del": rng.random(n) < 0.15,
                }
            )
        )
        seq += n
    # force a delete-then-reinsert on key 0
    batches[1].loc[0, ["k", "seq", "val", "del"]] = [0, seq, 1, True]
    batches[2].loc[0, ["k", "seq", "val", "del"]] = [0, seq + 1, 2, False]

    for i, pdf in enumerate(batches):
        sink(spark.createDataFrame(pdf), i)

    got = sorted(
        tuple(r) for r in read_upsert_state(spark, state).collect()
    )
    whole = spark.createDataFrame(pd.concat(batches, ignore_index=True))
    want = sorted(
        tuple(r)
        for r in latest_snapshot(whole, "k", "seq", delete_col="del").collect()
    )
    assert got == want
    assert any(r[0] == 0 for r in got)  # reinserted key survives

    # exactly-once: replaying the newest committed batch is a no-op
    sink(spark.createDataFrame(batches[2]), 2)
    again = sorted(tuple(r) for r in read_upsert_state(spark, state).collect())
    assert again == got
    # a STALE batch id means checkpoint/state mismatch: hard error
    with pytest.raises(RuntimeError, match="out of sync"):
        sink(spark.createDataFrame(batches[0]), 0)

    import os

    vs = [d for d in os.listdir(state) if d.startswith("v_")]
    assert len(vs) == 2  # retention


def test_upsert_state_sink_with_real_stream(spark, tmp_path):
    """Drive the upsert sink through an actual file-source stream."""
    from ddspark.io import latest_snapshot
    from ddspark.streaming import read_upsert_state, upsert_state_sink

    src = str(tmp_path / "src")
    pdfs = [
        pd.DataFrame({"k": [1, 2, 3], "seq": [0, 1, 2],
                      "val": [10, 20, 30], "del": [False] * 3}),
        pd.DataFrame({"k": [2, 4], "seq": [3, 4],
                      "val": [21, 40], "del": [True, False]}),
    ]
    for i, pdf in enumerate(pdfs):
        spark.createDataFrame(pdf).write.parquet(f"{src}/f{i}.parquet")
    sdf = spark.readStream.schema(
        "k long, seq long, val long, del boolean"
    ).option("maxFilesPerTrigger", "1").parquet(f"{src}/*")
    state = str(tmp_path / "state")
    q = (
        sdf.writeStream.outputMode("update")
        .foreachBatch(upsert_state_sink(state, "k", "seq", delete_col="del"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(tuple(r) for r in read_upsert_state(spark, state).collect())
    whole = spark.createDataFrame(pd.concat(pdfs, ignore_index=True))
    want = sorted(
        tuple(r)
        for r in latest_snapshot(whole, "k", "seq", delete_col="del").collect()
    )
    assert got == want


# ------------------------------------------------- stream-stream attribution


def _attrib_frames():
    """Views and clicks with matches straddling the 10-minute gap: exact
    duplicate-boundary, inside, outside, click-before-view, wrong user."""
    t0 = pd.Timestamp("2026-02-01 00:00:00")
    views = pd.DataFrame(
        {
            "view_id": [1, 2, 3, 4],
            "view_ts": [
                t0,
                t0 + pd.Timedelta(minutes=30),
                t0 + pd.Timedelta(minutes=60),
                t0 + pd.Timedelta(minutes=90),
            ],
            "user_id": [7, 7, 8, 9],
        }
    )
    clicks = pd.DataFrame(
        {
            "click_id": [10, 11, 12, 13, 14],
            "click_ts": [
                t0 + pd.Timedelta(minutes=5),      # in window of view 1 (u7)
                t0 + pd.Timedelta(minutes=10),     # boundary: gap == max_gap
                t0 + pd.Timedelta(minutes=59),     # before view 3 -> no match
                t0 + pd.Timedelta(minutes=65),     # in window of view 3 (u8)
                t0 + pd.Timedelta(minutes=95),     # u8 but view 4 is u9 -> no
            ],
            "user_id": [7, 7, 8, 8, 8],
        }
    )
    return views, clicks


def test_attribution_join_batch_semantics(spark):
    from ddspark.pipeline.joins import attribution_join

    vpdf, cpdf = _attrib_frames()
    out = attribution_join(
        spark.createDataFrame(vpdf),
        spark.createDataFrame(cpdf),
        "user_id",
        "view_ts",
        "click_ts",
        max_gap="10 minutes",
    )
    got = {(r.view_id, r.click_id) for r in out.collect()}
    # boundary click (gap exactly 10 min) is INCLUDED; click before view
    # and cross-user clicks are not
    assert got == {(1, 10), (1, 11), (3, 13)}


def test_attribution_join_guards(spark):
    from ddspark.pipeline.joins import attribution_join

    vpdf, cpdf = _attrib_frames()
    v, c = spark.createDataFrame(vpdf), spark.createDataFrame(cpdf)
    with pytest.raises(ValueError, match="equality key"):
        attribution_join(v, c, [], "view_ts", "click_ts")
    with pytest.raises(ValueError, match="missing column"):
        attribution_join(v, c, "user_id", "nope_ts", "click_ts")
    with pytest.raises(ValueError, match="distinct column names"):
        attribution_join(
            v.withColumnRenamed("view_ts", "ts"),
            c.withColumnRenamed("click_ts", "ts").withColumnRenamed(
                "click_id", "cid"
            ),
            "user_id",
            "ts",
            "ts",
        )
    with pytest.raises(ValueError, match="clash"):
        attribution_join(
            v, c.withColumnRenamed("click_id", "view_id"),
            "user_id", "view_ts", "click_ts",
        )


def test_attribution_join_streaming_matches_batch(spark, tmp_path):
    """The SAME function on two file streams (3 + 3 micro-batches, both
    sides watermarked) emits exactly the batch join's rows — the
    stream-stream inner join with range condition that Structured
    Streaming state-bounds via watermark + max_gap."""
    from ddspark.pipeline.joins import attribution_join

    rng = np.random.default_rng(17)
    t0 = pd.Timestamp("2026-02-01 00:00:00")
    n_v, n_c = 300, 400
    vpdf = pd.DataFrame(
        {
            "view_id": np.arange(n_v, dtype=np.int64),
            "view_ts": t0
            + pd.to_timedelta(rng.integers(0, 7200, n_v), unit="s"),
            "user_id": rng.integers(0, 40, n_v).astype(np.int64),
        }
    )
    cpdf = pd.DataFrame(
        {
            "click_id": np.arange(n_c, dtype=np.int64),
            "click_ts": t0
            + pd.to_timedelta(rng.integers(0, 7200, n_c), unit="s"),
            "user_id": rng.integers(0, 40, n_c).astype(np.int64),
        }
    )
    # micro-batches must be ROUGHLY time-ordered (as a real stream is):
    # a batch spanning the whole 2h range would advance the watermark past
    # rows still to arrive in later files, and the join would (correctly,
    # per watermark semantics) drop them as late
    vpdf = vpdf.sort_values("view_ts", ignore_index=True)
    cpdf = cpdf.sort_values("click_ts", ignore_index=True)
    vsrc, csrc = str(tmp_path / "views"), str(tmp_path / "clicks")
    for i, part in enumerate(np.array_split(np.arange(n_v), 3)):
        spark.createDataFrame(vpdf.iloc[part]).write.parquet(f"{vsrc}/f{i}.parquet")
    for i, part in enumerate(np.array_split(np.arange(n_c), 3)):
        spark.createDataFrame(cpdf.iloc[part]).write.parquet(f"{csrc}/f{i}.parquet")

    vs = (
        spark.readStream.schema("view_id long, view_ts timestamp, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(vsrc + "/*")
    )
    cs = (
        spark.readStream.schema("click_id long, click_ts timestamp, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(csrc + "/*")
    )
    with pytest.raises(ValueError, match="watermark"):
        attribution_join(vs, cs, "user_id", "view_ts", "click_ts")
    out = attribution_join(
        vs, cs, "user_id", "view_ts", "click_ts",
        max_gap="10 minutes", watermark="1 hour",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("attrib_stream_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r.view_id, r.click_id)
        for r in spark.sql("SELECT * FROM attrib_stream_test").collect()
    )
    want = sorted(
        (r.view_id, r.click_id)
        for r in attribution_join(
            spark.createDataFrame(vpdf),
            spark.createDataFrame(cpdf),
            "user_id",
            "view_ts",
            "click_ts",
            max_gap="10 minutes",
        ).collect()
    )
    assert len(want) > 50  # the synthetic data actually exercises the join
    assert got == want


def test_upsert_state_time_travel(spark, tmp_path):
    """read_upsert_state(version=) serves any retained committed snapshot;
    GC'd / unknown versions raise with the available list."""
    from ddspark.io import latest_snapshot
    from ddspark.streaming import read_upsert_state, upsert_state_sink

    state = str(tmp_path / "tt_state")
    sink = upsert_state_sink(state, "k", "seq", retain_versions=10)
    batches = [
        pd.DataFrame({"k": [1, 2], "seq": [0, 1], "val": [10, 20]}),
        pd.DataFrame({"k": [2, 3], "seq": [2, 3], "val": [21, 30]}),
        pd.DataFrame({"k": [1], "seq": [4], "val": [11]}),
    ]
    for i, pdf in enumerate(batches):
        sink(spark.createDataFrame(pdf), i)

    def snap(upto):
        whole = spark.createDataFrame(pd.concat(batches[: upto + 1], ignore_index=True))
        return sorted(tuple(r) for r in latest_snapshot(whole, "k", "seq").collect())

    for v in range(3):
        got = sorted(
            tuple(r) for r in read_upsert_state(spark, state, version=v).collect()
        )
        assert got == snap(v), v
    # default = latest
    assert sorted(
        tuple(r) for r in read_upsert_state(spark, state).collect()
    ) == snap(2)
    with pytest.raises(FileNotFoundError, match="available: \\[0, 1, 2\\]"):
        read_upsert_state(spark, state, version=9)


def test_incremental_state_powers_rolling_quantiles(spark, tmp_path):
    """The durable cells state (keyed by group + event day) IS the input
    to rolling_cells_quantiles: after 3 micro-batches the rolling
    dashboard computed FROM STATE equals quantile_sketch_rolling over the
    full concatenated data — no raw history was reread."""
    from ddspark.agg import quantile_sketch_rolling, rolling_cells_quantiles
    from ddspark.streaming import incremental_cells_sink, read_sketch_state

    cfg = SketchConfig(0.02)
    rng = np.random.default_rng(13)
    n = 3000
    pdf = pd.DataFrame(
        {
            "ts": pd.Timestamp("2026-04-01")
            + pd.to_timedelta(rng.integers(0, 9 * 86400, n), unit="s"),
            "g": rng.choice(["a", "b"], n),
            "v": np.round(rng.lognormal(2.5, 1.0, n), 3),
        }
    ).sort_values("ts", ignore_index=True)

    state = str(tmp_path / "roll_state")
    sink = incremental_cells_sink(state, "v", ["g", "_day"], cfg)
    epoch = pd.Timestamp("1970-01-01")
    for i, part in enumerate(np.array_split(np.arange(n), 3)):
        batch = spark.createDataFrame(pdf.iloc[part]).withColumn(
            "_day", F.datediff(F.col("ts").cast("date"), F.to_date(F.lit("1970-01-01")))
        )
        sink(batch, i)

    cells = read_sketch_state(spark, state)
    from_state = rolling_cells_quantiles(cells, ["g"], 7, [0.5, 0.95], cfg)
    direct = quantile_sketch_rolling(
        spark.createDataFrame(pdf), "v", "ts", ["g"], 7, [0.5, 0.95], cfg
    )
    key = lambda r: (r["g"], str(r["window_end"]))
    a = sorted(from_state.collect(), key=key)
    b = sorted(direct.collect(), key=key)
    assert len(a) == len(b) > 0
    for ra, rb in zip(a, b):
        da, db = ra.asDict(), rb.asDict()
        for c in da:
            if c in ("sum", "avg"):
                assert abs(da[c] - db[c]) <= 1e-9 * max(1.0, abs(da[c]))
            else:
                assert da[c] == db[c], c
