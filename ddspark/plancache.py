"""Plan-construction memo for the repeated-invocation sketch APIs.

Building a sketch query's DataFrame costs driver latency before any job
runs: each DataFrame operation is a py4j round trip plus an eager JVM
analyzer pass over the growing logical plan.  On a 1k-row parquet table
(4-core host, ``local[2]``, median of 15) a new query shape costs 79 ms to
construct even with the expression trees memoized
(:func:`ddspark.agg._cached_cols`).  Workloads that issue the same query repeatedly — dashboards, retry loops,
streaming ``foreachBatch`` — or the same query with other quantiles pay
that construction on every invocation.  A memo hit saves construction
only: the hit is planned and code-generated afresh, and its classes come
from Spark's generated-code cache (sized in :mod:`ddspark.session`), not
from this memo.

Two bounded maps, filled and read by :func:`memoized`:

* ``_PLAN_CACHE`` holds a query's full plan under its whole key, the
  quantiles included.  An exact repeat is served from it in 1.3 ms
  (``_HITS`` counts these hits, ``_MISSES`` the full plans built and kept).
* ``_WALK_CACHE`` holds each query shape's quantile-free walk
  (:func:`ddspark.agg._finalize_walk`: cells, collapse clamp, running
  count, group total, representative value) under the same key minus the
  quantile values.  A new quantile set of a seen shape wraps that walk and
  builds only the quantile aggregate on it
  (:func:`ddspark.agg._finalize_tail`: one analyzer pass, a few dozen py4j
  calls): 18.5 ms instead of 79 ms (``_SHAPE_HITS`` counts these).  DDSketch
  answers any quantile from the same summary, so the quantiles only ever
  change that last aggregate.

This module memoizes the *analyzed logical plan* (a JVM plan-tree handle —
never data, rows, or results).  A cache hit wraps that plan in a FRESH
``Dataset`` via ``Dataset.ofRows`` (~0.5 ms), i.e. a fresh
``QueryExecution``: this is deliberate and load-bearing for honesty.
Returning the previously built DataFrame *object* would let AQE reuse its
already-materialized shuffle stages across actions — repeat invocations
would silently replay the first run's intermediate results instead of
computing.  A fresh ``QueryExecution`` per hit re-plans and re-executes
from the parquet inputs every time (verified by a delete-the-input test:
a hit's action fails once the backing file is gone).  It is the plan-level
analogue of a prepared statement.

Key design — a cache hit must be *provably* the same computation:

* ``canonicalized().toString()`` of the analyzed input plan normalizes
  expression ids and commutative comparisons, but it ELIDES file paths and
  ``LocalRelation`` data, so it is never sufficient alone.  The key
  therefore also carries the exact ``df.inputFiles()`` list, and only
  frames whose EVERY leaf is a file scan (``LogicalRelation`` over a
  ``HadoopFsRelation``) are memoized.  A frame with any other leaf — an
  in-memory or RDD-backed relation, even one joined to files — or a
  streaming source always rebuilds: its identity cannot be established
  cheaply.
* The key carries the owning SparkSession's JVM object id: a plan built
  on a stopped session can never be served to a new one.
* All sketch parameters that shape the plan are part of the key at the
  call site.  The walk's key is the full key without the quantiles, so it
  has the same identity, and the same limits.

Each map is a bounded FIFO (64 entries) like the expression cache, and one
lock guards both maps' lookups, stores and evictions, so threads may share
a session.  ``DDSPARK_PLAN_MEMO=0`` disables both maps.

Known (documented) limits, both shared with plain "hold a DataFrame and
re-collect it" usage: two reads of the *same files* with different
datasource options within one session would collide (the options are not
in the canonical form), and an in-place same-name file overwrite is
picked up per-scan but with the original listing's file sizes.
"""

from __future__ import annotations

import os
import threading
from typing import Callable

from pyspark.sql import DataFrame

_PLAN_CACHE: dict[tuple, object] = {}  # key -> JVM analyzed-LogicalPlan handle
_WALK_CACHE: dict[tuple, object] = {}  # key minus quantiles -> analyzed walk
_MAX_ENTRIES = 64  # per map
_HITS = 0  # full-plan hits
_MISSES = 0  # full plans built and kept
_SHAPE_HITS = 0  # full-plan misses served from _WALK_CACHE
_LOCK = threading.Lock()  # guards both maps, _OFROWS and the counters


def source_key(df: DataFrame) -> tuple | None:
    """Collision-free identity of ``df``'s plan, or ``None`` when the frame
    must not be memoized (disabled, streaming, or not wholly file-backed)."""
    if os.environ.get("DDSPARK_PLAN_MEMO", "1") == "0":
        return None
    try:
        if df.isStreaming:
            return None
        files = df.inputFiles()
        if not files:
            return None
        analyzed = df._jdf.queryExecution().analyzed()
        leaves = analyzed.collectLeaves()
        for leaf in (leaves.apply(i) for i in range(leaves.size())):
            if leaf.getClass().getSimpleName() != "LogicalRelation" or (
                    leaf.relation().getClass().getSimpleName() != "HadoopFsRelation"):
                return None
        canon = analyzed.canonicalized().toString()
        # session identity = (python gateway object, JVM object id): target
        # ids restart per JVM, so the gateway id guards against a new JVM
        # in the same process aliasing a stopped session's "oNN" id
        sess = (id(df.sparkSession._jvm), df.sparkSession._jsparkSession._target_id)
        return (sess, canon, tuple(files))
    except Exception:  # noqa: BLE001 — any introspection failure: just rebuild
        return None


_OFROWS: dict[int, object] = {}


def _of_rows(spark):
    with _LOCK:
        fn = _OFROWS.get(id(spark._jvm))
    if fn is None:
        fn = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows
        with _LOCK:
            _OFROWS[id(spark._jvm)] = fn
            if len(_OFROWS) > 8:  # dead gateways after session churn
                _OFROWS.pop(next(iter(_OFROWS)))
    return fn


def _serve(cache: dict, key: tuple, spark) -> DataFrame | None:
    """A fresh Dataset over the plan memoized under ``key``, or ``None``."""
    with _LOCK:
        plan = cache.get(key)
    if plan is None:
        return None
    try:
        return DataFrame(_of_rows(spark)(spark._jsparkSession, plan), spark)
    except Exception:  # noqa: BLE001 — stale/defunct handle: drop and rebuild
        with _LOCK:
            cache.pop(key, None)
            _OFROWS.pop(id(spark._jvm), None)
        return None


def _keep(cache: dict, key: tuple, df: DataFrame) -> bool:
    """Memoize ``df``'s analyzed plan under ``key``, evicting FIFO."""
    try:
        plan = df._jdf.queryExecution().analyzed()
    except Exception:  # noqa: BLE001 — nothing to cache
        return False
    with _LOCK:
        if key not in cache and len(cache) >= _MAX_ENTRIES:
            cache.pop(next(iter(cache)))
        cache[key] = plan
    return True


def memoized(
    df: DataFrame,
    shape: tuple,
    qs: list[float],
    walk: Callable[[], DataFrame],
    tail: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """The sketch query ``tail(walk())`` over ``df``, served from the memo.

    ``shape`` holds every parameter but the quantiles ``qs``; ``walk``
    builds the quantile-free plan over ``df`` and ``tail`` the quantile
    aggregate over a walk.  Tried in order: the full plan of ``shape`` and
    ``qs`` (a hit), the walk of ``shape`` plus a new tail (a shape hit),
    and a new walk, which is then kept.  Both kinds of miss keep the full
    plan.
    """
    global _HITS, _MISSES, _SHAPE_HITS
    src = source_key(df)
    if src is None:
        return tail(walk())
    spark = df.sparkSession
    shape_key = src + shape
    key = shape_key + (tuple(float(q) for q in qs),)
    out = _serve(_PLAN_CACHE, key, spark)
    if out is not None:
        with _LOCK:
            _HITS += 1
        return out
    w = _serve(_WALK_CACHE, shape_key, spark)
    if w is None:
        w = walk()
        _keep(_WALK_CACHE, shape_key, w)
    else:
        with _LOCK:
            _SHAPE_HITS += 1
    out = tail(w)
    if _keep(_PLAN_CACHE, key, out):
        with _LOCK:
            _MISSES += 1
    return out
