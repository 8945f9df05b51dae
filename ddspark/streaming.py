"""Structured Streaming sketch aggregation.

Four shapes, matching how DDSketch is used on live data:

1. **Continuous per-key sketches** — :func:`sketch_stream_state`:
   ``applyInPandasWithState`` keeps one flat sketch state per group
   (the reference's merge semantics applied incrementally per micro-batch)
   and emits updated quantiles every trigger.  State is the same flat
   column layout the batch engine uses, so it is bounded (bins array ≈ KBs)
   and watermark-free keys never grow it.

2. **Windowed quantiles** — :func:`windowed_sketch_cells` +
   :func:`finalize_cells_batch`: the cells trick from the batch engine
   applied to streams.  ``groupBy(window(ts), keys, sgn, k).agg(sum(w))``
   is a *native* Spark streaming stateful aggregation — watermarks, late
   data, and state eviction are Spark's own, with nothing custom in the
   loop — and the tiny per-window cell sets are finalized to quantiles in
   ``foreachBatch`` (or any downstream batch hop).

3. **Session quantiles, streaming** — :func:`session_sketch_state`:
   gap-based sessions with one open-session sketch per key in custom
   keyed state, closed by the next gap or an event-time timeout.

4. **Session quantiles, batch/replay** — :func:`sessionize`: row-level
   gaps-and-islands session assignment that composes with the fused JVM
   sketch; the oracle-checkable twin of shape 3.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .agg import STATE_FIELDS, STATE_COLS, _by_fields, quantile_label
from .sketch import Sketch, SketchConfig

__all__ = [
    "sketch_stream_state",
    "windowed_sketch_cells",
    "sessionize",
    "session_sketch_state",
    "finalize_cells_batch",
    "mg_stream_state",
    "mg_stream_tws",
    "stream_dedup",
    "incremental_cells_sink",
    "read_sketch_state",
    "windowed_hll_cells",
    "finalize_hll_batch",
    "upsert_state_sink",
    "read_upsert_state",
]

_STATE_SCHEMA = StructType(STATE_FIELDS)


def sketch_stream_state(
    sdf: DataFrame,
    value_col: str,
    by: list[str],
    cfg: SketchConfig | None = None,
    qs: list[float] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Per-key running sketch over a stream; emits one updated row per key
    per micro-batch: ``by... | count sum min max | p...``."""
    cfg = cfg or SketchConfig()
    q_cols = [quantile_label(q) for q in qs]
    out_schema = StructType(
        _by_fields(sdf, by)
        + [
            StructField("count", DoubleType()),
            StructField("sum", DoubleType()),
            StructField("min", DoubleType()),
            StructField("max", DoubleType()),
        ]
        + [StructField(c, DoubleType()) for c in q_cols]
    )

    def update(key, pdfs, state: GroupState):
        if state.exists:
            row = dict(zip(STATE_COLS, state.get))
            if row["gamma"] != cfg.gamma:
                # same guard the batch merge applies (agg._merge_fn): a
                # restart with a changed alpha must not reinterpret old bins
                raise ValueError(
                    "checkpointed sketch state has gamma "
                    f"{row['gamma']!r}, current config {cfg.gamma!r}"
                )
            sk = Sketch.from_state(cfg, row)
        else:
            sk = Sketch.empty(cfg)
        for pdf in pdfs:
            vals = pdf[value_col].dropna().to_numpy(np.float64)
            if len(vals):
                sk = sk.merge(Sketch.from_values(vals, cfg))
        st = sk.to_state()
        state.update(tuple(
            st[c] if c not in ("pos_bins", "neg_bins") else st[c].tolist()
            for c in STATE_COLS
        ))
        rec = dict(zip(by, key))
        rec.update(count=sk.count, sum=sk.sum, min=sk.min, max=sk.max)
        for q, c in zip(qs, q_cols):
            rec[c] = sk.quantile(q)
        yield pd.DataFrame([rec], columns=[f.name for f in out_schema.fields])

    return (
        sdf.select(*by, value_col)
        .groupBy(*by)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def mg_stream_state(
    sdf: DataFrame,
    item_col: str,
    by: list[str],
    k: int = 64,
    topn: int = 10,
) -> DataFrame:
    """Streaming heavy hitters: a running Misra-Gries summary per key,
    emitting the top-``topn`` items after every micro-batch:
    ``by... | rank | item | est | err_bound | total``.

    The MG summary is the canonical bounded streaming-state structure —
    exactly ``k`` counters per key forever, no matter how many distinct
    items the stream carries — and the certificate survives restarts
    because the cumulative subtracted mass (``err``) is part of the
    checkpointed state: at any point ``est <= true <= est + err_bound``
    over the whole stream so far (see :mod:`ddspark.sketches.mgfreq`).
    """
    from .sketches.mgfreq import mg_compress

    state_schema = StructType(
        [
            StructField("items", StringType()),  # JSON-free: \x1f-joined
            StructField("counts", StringType()),
            StructField("err", DoubleType()),
            StructField("total", DoubleType()),
        ]
    )
    out_schema = StructType(
        _by_fields(sdf, by)
        + [
            StructField("rank", LongType()),
            StructField("item", StringType()),
            StructField("est", DoubleType()),
            StructField("err_bound", DoubleType()),
            StructField("total", DoubleType()),
        ]
    )
    names = [f.name for f in out_schema.fields]
    SEP = "\x1f"

    def update(key, pdfs, state: GroupState):
        if state.exists:
            items_s, counts_s, err, total = state.get
            # emptiness keys on counts_s: items_s == "" is ambiguous (it is
            # also the encoding of the single empty-string item)
            if counts_s:
                idx = items_s.split(SEP)
                vals = [float(x) for x in counts_s.split(SEP)]
            else:
                idx, vals = [], []
            counts = pd.Series(vals, index=idx, dtype=np.float64)
        else:
            counts, err, total = pd.Series(dtype=np.float64), 0.0, 0.0
        for pdf in pdfs:
            items = pdf[item_col].dropna().astype(str)
            if not len(items):
                continue
            if items.str.contains(SEP).any():
                raise ValueError(
                    "items containing the \\x1f unit separator are not "
                    "representable in the checkpoint encoding"
                )
            batch = items.value_counts().astype(np.float64)
            counts = counts.add(batch, fill_value=0.0)
            counts, e = mg_compress(counts, k)
            err += e
            total += float(len(items))
        state.update(
            (
                SEP.join(counts.index),
                SEP.join(repr(float(c)) for c in counts),
                float(err),
                float(total),
            )
        )
        top = counts.sort_values(ascending=False).head(topn)
        recs = [
            dict(zip(by, key))
            | {"rank": r + 1, "item": it, "est": float(c),
               "err_bound": float(err), "total": float(total)}
            for r, (it, c) in enumerate(top.items())
        ]
        yield pd.DataFrame(recs, columns=names)

    return (
        sdf.select(*by, item_col)
        .groupBy(*by)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def mg_stream_tws(
    sdf: DataFrame,
    item_col: str,
    by: list[str],
    k: int = 64,
    topn: int = 10,
) -> DataFrame:
    """:func:`mg_stream_state` on Spark 4's ``transformWithStateInPandas``
    (the Arbitrary Stateful Processing v2 API): the same running
    Misra-Gries summary per key, held in a typed ``ValueState`` instead of
    the legacy ``GroupState`` tuple.  Same output and certificate; the new
    API additionally supports state TTL and multiple typed state variables
    per key, which is the forward path for composite per-key state.

    Runtime requirement: Spark's v2 state protocol talks protobuf between
    the JVM and the Python worker, so this operator needs the ``protobuf``
    package (an optional Spark dependency not present in every
    environment); it raises a clear ImportError up front instead of a deep
    mid-query failure.  :func:`mg_stream_state` is the dependency-free
    equivalent on the legacy ``applyInPandasWithState`` API.
    """
    try:
        from google.protobuf import descriptor as _descriptor  # noqa: F401
    except ImportError as exc:
        raise ImportError(
            "transformWithStateInPandas requires the 'protobuf' package "
            "(Spark's v2 state protocol); use mg_stream_state instead"
        ) from exc
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from .sketches.mgfreq import mg_compress

    out_schema = StructType(
        _by_fields(sdf, by)
        + [
            StructField("rank", LongType()),
            StructField("item", StringType()),
            StructField("est", DoubleType()),
            StructField("err_bound", DoubleType()),
            StructField("total", DoubleType()),
        ]
    )
    names = [f.name for f in out_schema.fields]
    SEP = "\x1f"
    state_schema = "items string, counts string, err double, total double"

    class MGProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._mg = handle.getValueState("mg", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            if self._mg.exists():
                items_s, counts_s, err, total = self._mg.get()
                if counts_s:
                    counts = pd.Series(
                        [float(x) for x in counts_s.split(SEP)],
                        index=items_s.split(SEP),
                        dtype=np.float64,
                    )
                else:
                    counts = pd.Series(dtype=np.float64)
            else:
                counts, err, total = pd.Series(dtype=np.float64), 0.0, 0.0
            for pdf in rows:
                items = pdf[item_col].dropna().astype(str)
                if not len(items):
                    continue
                if items.str.contains(SEP).any():
                    # same guard as mg_stream_state: an item holding the
                    # unit separator would corrupt the checkpointed
                    # items/counts encoding and surface only as an opaque
                    # length mismatch on the NEXT batch's decode
                    raise ValueError(
                        "items containing the \\x1f unit separator are not "
                        "representable in the checkpoint encoding"
                    )
                batch = items.value_counts().astype(np.float64)
                counts = counts.add(batch, fill_value=0.0)
                counts, e = mg_compress(counts, k)
                err += e
                total += float(len(items))
            self._mg.update(
                (
                    SEP.join(counts.index),
                    SEP.join(repr(float(c)) for c in counts),
                    float(err),
                    float(total),
                )
            )
            top = counts.sort_values(ascending=False).head(topn)
            recs = [
                dict(zip(by, key))
                | {"rank": r + 1, "item": it, "est": float(c),
                   "err_bound": float(err), "total": float(total)}
                for r, (it, c) in enumerate(top.items())
            ]
            yield pd.DataFrame(recs, columns=names)

        def close(self) -> None:
            pass

    return (
        sdf.select(*by, item_col)
        .groupBy(*by)
        .transformWithStateInPandas(
            statefulProcessor=MGProcessor(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )


def stream_dedup(
    sdf: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 1 << 20,
    k: int = 4,
    n_routes: int = 16,
) -> DataFrame:
    """Cross-micro-batch deduplication with bounded state: emit only the
    first occurrence of each normalized-content fingerprint ever seen on
    the stream.

    State per routing key is a Bloom bitset of ``m_bits`` (``m_bits/8``
    bytes — 128 KB at the default — forever, regardless of stream length).
    Fingerprints are routed to ``n_routes`` keys by fingerprint hash, so
    every occurrence of the same content reaches the same state and the
    work spreads over the cluster.  Guarantees: a true duplicate is ALWAYS
    dropped (no false negatives in a Bloom filter); a novel document is
    dropped with probability ~``(1 - e^(-kn/m))^k`` (false positive) — the
    standard trade-off of streaming dedup at bounded memory; size
    ``m_bits`` for the expected distinct count.

    Output: the deduplicated stream ``(id_col, fingerprint)``.
    """
    import hashlib

    from .pipeline.textops import fingerprint

    route = F.pmod(F.xxhash64(fingerprint(F.col(text_col))), F.lit(n_routes))
    base = sdf.select(
        F.col(id_col),
        fingerprint(F.col(text_col)).alias("fingerprint"),
        route.alias("_route"),
    )
    state_schema = StructType([StructField("bits", StringType())])  # hex
    out_schema = StructType(
        [
            next(f for f in sdf.schema.fields if f.name == id_col),
            StructField("fingerprint", StringType()),
        ]
    )
    n_bytes = m_bits // 8

    def positions(fp: str) -> list[int]:
        h = hashlib.md5(fp.encode()).digest()
        h1 = int.from_bytes(h[:8], "big") % m_bits
        h2 = int.from_bytes(h[8:], "big") % (m_bits - 1) + 1
        return [(h1 + i * h2) % m_bits for i in range(k)]

    def update(key, pdfs, state: GroupState):
        bits = (
            bytearray.fromhex(state.get[0]) if state.exists else bytearray(n_bytes)
        )
        out = []
        for pdf in pdfs:
            # the first ARRIVAL wins (streaming semantics); within one
            # Arrow chunk ties break by id, but duplicates split across
            # chunks of the same micro-batch still resolve by arrival
            # order — the survivor id is not globally deterministic, only
            # the dedup itself is (exactly one survivor per fingerprint)
            pdf = pdf.sort_values(id_col).drop_duplicates(
                subset=["fingerprint"], keep="first"
            )
            for rid, fp in zip(pdf[id_col], pdf["fingerprint"]):
                pos = positions(fp)
                if all(bits[p >> 3] & (1 << (p & 7)) for p in pos):
                    continue  # seen (or Bloom false positive): drop
                for p in pos:
                    bits[p >> 3] |= 1 << (p & 7)
                out.append((rid, fp))
        state.update((bytes(bits).hex(),))
        yield pd.DataFrame(out, columns=[id_col, "fingerprint"])

    return (
        base.groupBy("_route")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def windowed_sketch_cells(
    sdf: DataFrame,
    ts_col: str,
    value_col: str,
    by: list[str],
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
    cfg: SketchConfig | None = None,
) -> DataFrame:
    """Streaming bucket-cell aggregation per (event-time window, keys).

    Pure built-in streaming operators: watermark → window groupBy → sum.
    Late data past the watermark is dropped by Spark's own state manager.
    Output (append mode, on window close): one row per live bucket.
    """
    cfg = cfg or SketchConfig()
    from .agg import keyed_projection

    keyed = keyed_projection(
        sdf.withWatermark(ts_col, watermark),
        value_col,
        by,
        cfg,
        extra_cols=[ts_col],
    )
    return keyed.groupBy(
        F.window(ts_col, window_duration).alias("win"), *by, "_sgn", "_k"
    ).agg(
        # unweighted (_w is literal 1.0 here): count(*) is the cheaper
        # bit-identical accumulator for both _c and _rc, and sum(_v) drops
        # the * 1.0 multiply — same cells, two fewer double accumulators
        F.count(F.lit(1)).cast("double").alias("_c"),
        F.sum(F.col("_v").cast("double")).alias("_s"),
        F.min("_v").alias("_mn"),
        F.max("_v").alias("_mx"),
        F.count(F.lit(1)).alias("_rc"),
    )


def sessionize(
    df: DataFrame,
    ts_col: str,
    by: list[str],
    gap: str = "30 minutes",
) -> DataFrame:
    """Row-level sessionization (batch): adds ``session_start`` — the first
    event time of the row's session, where a session is a maximal run of
    per-key events with inter-event gaps strictly below ``gap`` (the same
    boundary rule as Spark's ``session_window``: an event exactly ``gap``
    after the last one starts a new session).

    Why not ``F.session_window``?  Native session windows merge per *full
    grouping key*, so they cannot host the cells trick — adding the bucket
    key to the groupBy would fragment a session into per-bucket pseudo-
    sessions.  Row-level assignment (gaps-and-islands: LAG + running sum,
    two windows over the same per-key sort) composes with any downstream
    aggregation: ``quantile_sketch(sessionize(df, ...), v,
    by=[key, "session_start"])`` stays fully JVM.  For *streaming*
    per-session sketches use :func:`session_sketch_state`; this helper is
    the batch/replay twin the correctness gate can oracle-check.

    Scale: the two windows sort rows within each key partition — the
    natural requirement of sessionization; keys are users/devices, so
    partitions stay bounded.

    Tie guarantee: rows sharing the exact same timestamp always land in
    the SAME session.  Both windows here use one partition+order spec, so
    Catalyst evaluates them in a single Window operator over a single
    sort — the tie run's first row (whichever it is) carries the
    session-open marker and the running sum assigns the whole run one
    session id.  (A two-pass implementation with independent sorts — e.g.
    LAG in one subquery, the running SUM in another — can order ties
    differently per pass and split a tie run across two sessions; the
    DuckDB oracle for `ddsketch_session_events` derives boundaries over
    DISTINCT timestamps for exactly that reason.)
    """
    w = Window.partitionBy(*by).orderBy(ts_col)
    prev = F.lag(ts_col).over(w)
    gap_expr = F.expr(f"INTERVAL {gap}")
    new_s = F.when(
        prev.isNull() | (F.col(ts_col) >= prev + gap_expr), 1
    ).otherwise(0)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = df.withColumn("_sid", F.sum(new_s).over(cum))
    sw = Window.partitionBy(*by, "_sid")
    return out.withColumn("session_start", F.min(ts_col).over(sw)).drop("_sid")


def session_sketch_state(
    sdf: DataFrame,
    ts_col: str,
    value_col: str,
    by: list[str],
    gap: str = "30 minutes",
    cfg: SketchConfig | None = None,
    qs: list[float] = (0.5, 0.95, 0.99),
    watermark: str | None = None,
) -> DataFrame:
    """Streaming per-session sketches: ``applyInPandasWithState`` keyed by
    ``by``, one open-session sketch per key, closed either by a new event
    arriving ``>= gap`` after the session's last event or by an event-time
    timeout once the watermark passes ``last_event + gap``.

    Emits one row per *closed* session: ``by... | session_start | count |
    min | max | p...``.  Within a micro-batch events are sorted and split
    into islands vectorized; across micro-batches the usual streaming-
    sessionization assumption applies (per-key data no later than the
    watermark).  This is the streaming twin of :func:`sessionize` — native
    ``session_window`` cannot host a sketch aggregate (it merges sessions
    per full grouping key), and custom keyed state is the idiomatic Spark
    vehicle for session aggregates.  State per key is one flat sketch row
    (KBs), evicted on timeout.
    """
    cfg = cfg or SketchConfig()
    watermark = watermark or gap
    gap_us = int(pd.Timedelta(gap).value // 1_000)
    q_cols = [quantile_label(q) for q in qs]
    out_schema = StructType(
        _by_fields(sdf, by)
        + [
            StructField("session_start", LongType()),
            StructField("count", DoubleType()),
            StructField("min", DoubleType()),
            StructField("max", DoubleType()),
        ]
        + [StructField(c, DoubleType()) for c in q_cols]
    )
    state_keys = ["_session_start", "_last_ts"] + STATE_COLS
    state_schema = StructType(
        [
            StructField("_session_start", LongType()),
            StructField("_last_ts", LongType()),
        ]
        + STATE_FIELDS
    )

    def close_row(key, start_us: int, sk: Sketch) -> dict:
        rec = dict(zip(by, key))
        rec["session_start"] = int(start_us)
        rec.update(count=sk.count, min=sk.min, max=sk.max)
        for q, c in zip(qs, q_cols):
            rec[c] = sk.quantile(q)
        return rec

    def update(key, pdfs, state: GroupState):
        out: list[dict] = []
        carried = None
        if state.exists:
            st = dict(zip(state_keys, state.get))
            carried = (
                int(st["_session_start"]),
                int(st["_last_ts"]),
                Sketch.from_state(cfg, st),
            )
        if state.hasTimedOut:
            if carried is not None:
                out.append(close_row(key, carried[0], carried[2]))
            state.remove()
            if out:
                yield pd.DataFrame(out, columns=[f.name for f in out_schema.fields])
            return
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
            pdf = pdf[pdf[value_col].notna()].sort_values(ts_col)
            ts_us = (pdf[ts_col].astype("int64") // 1_000).to_numpy()
            vals = pdf[value_col].to_numpy(np.float64)
        else:
            ts_us = np.array([], dtype=np.int64)
            vals = np.array([], dtype=np.float64)
        if len(ts_us) == 0:
            starts = np.array([], dtype=np.int64)
        else:
            new_s = np.r_[True, np.diff(ts_us) >= gap_us]
            starts = np.flatnonzero(new_s)
        islands = [
            (int(ts_us[s]), int(ts_us[e - 1]), vals[s:e])
            for s, e in zip(starts, np.r_[starts[1:], len(ts_us)])
        ]
        if not islands:
            # batch had no usable rows for this key: keep the open session
            if carried is not None:
                wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(
                    max(carried[1] // 1_000 + gap_us // 1_000, wm + 1)
                )
            return
        if carried is not None and islands and islands[0][0] - carried[1] < gap_us:
            # first island continues the open session.  The session's last
            # event may still be the carried one: rows older than the
            # carried last event (but above the watermark) are legal, so
            # keep max(batch end, carried end) — and since that later
            # timestamp can bridge gaps the batch-local splitting saw,
            # re-merge following islands while they fall inside the gap.
            s0, e0, v0 = islands[0]
            cur = (
                carried[0],
                max(e0, carried[1]),
                carried[2].merge(Sketch.from_values(v0, cfg)),
            )
            rest = islands[1:]
            while rest and rest[0][0] - cur[1] < gap_us:
                s1, e1, v1 = rest.pop(0)
                cur = (
                    cur[0],
                    max(cur[1], e1),
                    cur[2].merge(Sketch.from_values(v1, cfg)),
                )
            islands = [cur] + rest
            carried = None
        if carried is not None:
            # gap between state and everything new: close the old session
            out.append(close_row(key, carried[0], carried[2]))
        open_sess = None
        for i, (s, e, v) in enumerate(islands):
            sk = v if isinstance(v, Sketch) else Sketch.from_values(v, cfg)
            if i < len(islands) - 1:
                out.append(close_row(key, s, sk))
            else:
                open_sess = (s, e, sk)
        if open_sess is not None:
            s, e, sk = open_sess
            st = sk.to_state()
            state.update(
                (int(s), int(e))
                + tuple(
                    st[c] if c not in ("pos_bins", "neg_bins") else st[c].tolist()
                    for c in STATE_COLS
                )
            )
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(e // 1_000 + gap_us // 1_000, wm + 1))
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in out_schema.fields])

    return (
        sdf.withWatermark(ts_col, watermark)
        .select(*by, ts_col, value_col)
        .groupBy(*by)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def finalize_cells_batch(
    cells_batch: DataFrame,
    qs: list[float],
    by: list[str],
    cfg: SketchConfig | None = None,
) -> DataFrame:
    """Batch finalizer for the windowed cells (use inside ``foreachBatch``):
    per-(window, keys) ``count sum min max avg | p...`` from the emitted
    cells, through the engine's one distributed finalizer."""
    from .agg import finalize_cells_sql

    cfg = cfg or SketchConfig()
    fin = finalize_cells_sql(cells_batch, list(qs), ["win"] + list(by), cfg)
    # the cells keep the value column's type in _mn/_mx; min/max are DOUBLE
    return fin.withColumns({c: F.col(c).cast("double") for c in ("min", "max")})


def _state_versions(state_dir: str) -> list[tuple[int, str]]:
    import os

    if not os.path.isdir(state_dir):
        return []
    out = []
    for d in os.listdir(state_dir):
        if d.startswith("v_") and os.path.exists(
            os.path.join(state_dir, d, "_SUCCESS")
        ):
            out.append((int(d[2:]), os.path.join(state_dir, d)))
    return sorted(out)


def incremental_cells_sink(
    state_dir: str,
    value_col: str,
    by: list[str] | None = None,
    cfg: SketchConfig | None = None,
    weight_col: str | None = None,
    retain_versions: int = 2,
):
    """``foreachBatch`` sink maintaining a DURABLE sketch state table:
    every micro-batch's rows are reduced to bucket cells and merged into a
    versioned parquet state dir, queryable at any moment with
    :func:`read_sketch_state` + ``agg.finalize_cells_sql``.

    Exactly-once across retries: each version dir ``v_<batch_id>`` is the
    FULL merged state after that batch, committed atomically by the
    parquet ``_SUCCESS`` marker; a replayed ``batch_id`` (foreachBatch
    only ever retries the MOST RECENT batch) is skipped because a
    committed version with the same id already exists.  A ``batch_id``
    STRICTLY BELOW the latest committed version is impossible under
    retries — it means the stream was restarted with a fresh
    ``checkpointLocation`` against an existing ``state_dir``, and
    silently skipping those batches would drop data forever — so that
    case raises instead.  State size is bounded at
    ``groups x live-buckets`` cells regardless of stream length, so the
    per-batch merge cost never grows with history — the streaming twin of
    :mod:`ddspark.checkpoint`'s file-granular batch resume.  Only the
    newest ``retain_versions`` versions are kept.

    Version discovery walks the state dir with ``os`` (same contract as
    :mod:`ddspark.checkpoint`), so ``state_dir`` must be a driver-visible
    path (local disk / NFS / fuse mount); on object storage swap
    ``_state_versions`` for a Hadoop-FS listing — the commit protocol
    (version dir + ``_SUCCESS``) is storage-agnostic.

    Usage::

        q = (events.writeStream.outputMode("update")
             .foreachBatch(incremental_cells_sink("/state/dir", "value",
                                                  ["event_type"]))
             .start())
        # any time, from any session:
        cells = read_sketch_state(spark, "/state/dir")
        finalize_cells_sql(cells, [0.5, 0.99], ["event_type"], cfg).show()
    """
    import os
    import shutil

    from .agg import _reaggregate_cells, build_cells

    by = list(by or [])
    cfg = cfg or SketchConfig()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        versions = _state_versions(state_dir)
        if versions and versions[-1][0] == batch_id:
            return  # retry of the already-committed most-recent batch
        if versions and versions[-1][0] > batch_id:
            # foreachBatch only retries the latest batch, so a LOWER id
            # means a fresh checkpointLocation was pointed at an existing
            # state_dir — skipping would silently discard every batch
            # until ids catch up.  Surface the mismatch instead.
            raise RuntimeError(
                f"incremental_cells_sink: batch_id {batch_id} is below the "
                f"latest committed version {versions[-1][0]} in {state_dir}; "
                "the stream checkpoint and the state dir are out of sync "
                "(restarted with a fresh checkpointLocation?). Use a new "
                "state_dir or restore the matching checkpoint."
            )
        new_cells = build_cells(batch_df, value_col, by, cfg, weight_col)
        if versions:
            old = batch_df.sparkSession.read.parquet(versions[-1][1])
            merged = _reaggregate_cells(old.unionByName(new_cells), by)
        else:
            merged = new_cells
        os.makedirs(state_dir, exist_ok=True)
        merged.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v_{batch_id:020d}")
        )
        for _, path in _state_versions(state_dir)[:-retain_versions]:
            shutil.rmtree(path, ignore_errors=True)

    return sink


def read_sketch_state(spark, state_dir: str) -> DataFrame:
    """Latest committed cells state written by :func:`incremental_cells_sink`
    (finalize with ``agg.finalize_cells_sql``; mergeable with more cells)."""
    versions = _state_versions(state_dir)
    if not versions:
        raise FileNotFoundError(f"no committed sketch state under {state_dir}")
    return spark.read.parquet(versions[-1][1])


def windowed_hll_cells(
    sdf: DataFrame,
    ts_col: str,
    col: str,
    by: list[str],
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
    p: int = 12,
) -> DataFrame:
    """Streaming distinct-count state per (event-time window, keys): the
    HLL bucket cells as a NATIVE streaming min-aggregation — watermark →
    window groupBy → min, nothing custom in the loop, at most ``2^p`` state
    rows per (window, key).  Finalize emitted cells with
    :func:`finalize_hll_batch` inside ``foreachBatch``."""
    from .sketches.hll import _LONG_MIN

    h = F.xxhash64(F.col(col))
    bucket = F.shiftrightunsigned(h, 64 - p)
    flipped = F.shiftleft(h, p).bitwiseXOR(F.lit(_LONG_MIN))
    return (
        sdf.withWatermark(ts_col, watermark)
        .where(F.col(col).isNotNull())
        .select(ts_col, *by, bucket.alias("_b"), flipped.alias("_r"))
        .groupBy(F.window(ts_col, window_duration).alias("win"), *by, "_b")
        .agg(F.min("_r").alias("_rmin"))
    )


def finalize_hll_batch(
    cells_batch: DataFrame, by: list[str], p: int = 12
) -> DataFrame:
    """Batch finalizer for :func:`windowed_hll_cells` (use inside
    ``foreachBatch``): per-(window, keys) distinct-count estimates."""
    from .sketches.hll import hll_from_cells

    return hll_from_cells(cells_batch, ["win"] + list(by), p)


def upsert_state_sink(
    state_dir: str,
    key: list[str] | str,
    version: list[str] | str,
    delete_col: str | None = None,
    retain_versions: int = 2,
):
    """``foreachBatch`` sink maintaining a DURABLE latest-row-per-key table
    from a CDC/changelog stream — the streaming materialization of
    :func:`ddspark.io.latest_snapshot` + :func:`ddspark.io.merge_upsert`:
    each micro-batch is compacted to one row per key (greatest
    ``version``; tombstones via ``delete_col``) and MERGEd into the
    committed state, so the state table is always the exact replay of the
    full log, queryable mid-stream with :func:`read_upsert_state`.

    Exactly-once across retries with the same commit protocol as
    :func:`incremental_cells_sink`: full-state version dirs
    ``v_<batch_id>`` committed by parquet ``_SUCCESS``; an exact-id
    replay (foreachBatch only retries the newest batch) is a no-op, a
    LOWER id raises — a fresh checkpoint pointed at an old state dir
    would otherwise silently drop batches.  State size is one row per
    live key regardless of stream length; the per-batch cost is one
    max-struct compaction of the batch plus one join-free merge with the
    state.  ``state_dir`` must be driver-visible (same contract and
    object-store caveat as the cells sink).
    """
    import os
    import shutil

    from .io import latest_snapshot, merge_upsert

    key = [key] if isinstance(key, str) else list(key)
    version = [version] if isinstance(version, str) else list(version)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        versions = _state_versions(state_dir)
        if versions and versions[-1][0] == batch_id:
            return  # retry of the already-committed most-recent batch
        if versions and versions[-1][0] > batch_id:
            raise RuntimeError(
                f"upsert_state_sink: batch_id {batch_id} is below the "
                f"latest committed version {versions[-1][0]} in {state_dir}; "
                "the stream checkpoint and the state dir are out of sync "
                "(restarted with a fresh checkpointLocation?). Use a new "
                "state_dir or restore the matching checkpoint."
            )
        # keep tombstones through the batch compaction so they can delete
        # state-table rows; merge_upsert applies them
        compact = latest_snapshot(batch_df, key, version)
        if versions:
            old = batch_df.sparkSession.read.parquet(versions[-1][1])
            merged = merge_upsert(old, compact, key, delete_col=delete_col)
        else:
            if delete_col is not None:
                # the state table never carries the tombstone flag — drop
                # it here so later merges see it only on the update side
                compact = compact.where(
                    ~F.coalesce(F.col(delete_col), F.lit(False))
                ).drop(delete_col)
            merged = compact
        os.makedirs(state_dir, exist_ok=True)
        merged.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v_{batch_id:020d}")
        )
        for _, path in _state_versions(state_dir)[:-retain_versions]:
            shutil.rmtree(path, ignore_errors=True)

    return sink


def read_upsert_state(spark, state_dir: str, version: int | None = None) -> DataFrame:
    """Committed snapshot written by :func:`upsert_state_sink` — the
    latest by default, or time-travel to an earlier committed ``version``
    (the batch_id embedded in the snapshot directory name).

    Versions are retained until :func:`upsert_state_sink`'s
    ``retain_versions`` GC drops them; reading a GC'd or never-committed
    version raises with the list that IS available rather than silently
    serving the wrong snapshot.
    """
    versions = _state_versions(state_dir)
    if not versions:
        raise FileNotFoundError(f"no committed upsert state under {state_dir}")
    if version is None:
        return spark.read.parquet(versions[-1][1])
    for v, path in versions:
        if v == version:
            return spark.read.parquet(path)
    raise FileNotFoundError(
        f"version {version} not committed under {state_dir}; "
        f"available: {[v for v, _ in versions]}"
    )
