"""The workloads: what each runs through ddspark's public API.

Each workload is a closed loop: the next operation starts only after the
previous one returned and was checked.  An operation is one public API call
plus the action on the DataFrame it returns, and is either ``fresh`` (its
parameter set is new to the process, so the plan memo misses) or ``repeat``
(it repeats one already seen).
"""

from __future__ import annotations

import itertools
import os
import random
from dataclasses import dataclass
from typing import Callable, Iterator

from ddspark.agg import quantile_sketch
from ddspark.sketch import SketchConfig
from ddspark.sqlpath import sql_quantile_sketch

from .inputs import ExactQuantiles

FLAGSHIP_QS = (0.5, 0.95, 0.99)
ALPHA = 0.01
# the kernel-engine and checkpoint probes push every row through Python,
# so they run on a bounded prefix of the input
PROBE_ROWS = 500_000


@dataclass
class Op:
    kind: str                      # "fresh" or "repeat"
    call: Callable[[], object]     # the public API call; returns a DataFrame
    exact: Callable[[], object]    # exact answer (pandas), computed outside Spark
    by: list[str]
    qs: tuple
    alpha: float
    rows: int                      # input rows the call covers
    label: str = ""                # shape, for the run record


@dataclass
class ProbeSpec:
    """Where the traced run's layer probes point: the workload's main table,
    and a prefix of its files for the Python-boundary and checkpoint probes."""
    path: str
    slice_files: list[str]
    slice_rows: int
    value: str
    by: list[str]
    wide_by: list[str]             # a key of 10^3..10^4 groups, for the finalize probe
    qs: tuple
    alpha: float


def _slice(path: str, rows: int) -> tuple[list[str], int]:
    """The longest prefix of the files with at most ``PROBE_ROWS`` rows
    (at least one file); the files hold equal shares of the rows."""
    files = sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))
    n = max(1, min(len(files), len(files) * PROBE_ROWS // rows))
    return files[:n], rows * n // len(files)


class BulkScan:
    """The flagship call ``quantile_sketch(corpus, "content_length",
    by=["lang"], alpha=0.01)`` repeated; every third call asks one extra,
    first-seen quantile, so that its plan is new to the process."""

    rate = "median"
    warmup_count = 12
    round_len = 3

    def __init__(self, manifest: dict, seed: int):
        self.table = manifest["corpus"]
        self.exact = ExactQuantiles(self.table["path"], "content_length", ["lang"])
        # extra quantiles k/1000 in seeded order, each used once and never
        # one of the flagship's; warm-up uses (2k+1)/2000, which no timed
        # call asks
        rng = random.Random(seed)
        extras = [k for k in range(1, 1000) if k / 1000 not in FLAGSHIP_QS]
        self._extra = iter(k / 1000 for k in rng.sample(extras, len(extras)))
        self._warm_extra = [(2 * q + 1) / 2000 for q in rng.sample(range(1, 999), 100)]
        self.df = None

    def describe(self) -> dict:
        return {**self.table, "groups": len(self.exact.keys), "by": ["lang"]}

    def _call(self, qs: tuple):
        return quantile_sketch(self.df, "content_length", by=["lang"], qs=list(qs),
                               cfg=SketchConfig(ALPHA))

    def prepare(self, spark) -> None:
        self.df = spark.read.parquet(self.table["path"])

    def prime(self, spark) -> None:
        pass

    def _op(self, kind: str, qs: tuple) -> Op:
        return Op(kind, lambda: self._call(qs), lambda: self.exact.answer(qs), ["lang"], qs,
                  ALPHA, self.table["rows"])

    def _mix(self, extras) -> Iterator[Op]:
        for i in itertools.count():
            if i % 3 == 2:
                yield self._op("fresh", FLAGSHIP_QS + (next(extras),))
            else:
                yield self._op("repeat", FLAGSHIP_QS)

    def warmup_ops(self) -> Iterator[Op]:
        return self._mix(iter(self._warm_extra))

    def ops(self) -> Iterator[Op]:
        return self._mix(self._extra)

    def probe_spec(self) -> ProbeSpec:
        files, rows = _slice(self.table["path"], self.table["rows"])
        return ProbeSpec(self.table["path"], files, rows, "content_length", ["lang"], ["repo"],
                         FLAGSHIP_QS, ALPHA)


_QS = (0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99)
# fresh sets draw their quantiles from a wider pool, so that no run runs out
_FRESH_QS = tuple(k / 20 for k in range(1, 20))
# the shapes of the hot sets and of the fresh sets: (table, value, by,
# number of quantiles, alpha, path).  Twelve, so that one shape's cost
# changing mode between runs moves a median by little; the same twelve for
# fresh sets, so that fresh and repeat calls differ only in the memo
_HOT = (
    ("lineitem", "l_extendedprice", ("l_returnflag",), 3, 0.01, "cells"),
    ("events", "value", ("event_type",), 2, 0.02, "sql"),
    ("documents", "n_chars", ("lang",), 3, 0.005, "cells"),
    ("lineitem", "l_quantity", ("l_returnflag", "l_linestatus"), 2, 0.05, "sql"),
    ("events", "value", (), 1, 0.01, "cells"),
    ("documents", "n_chars", ("source",), 1, 0.02, "sql"),
    ("lineitem", "l_quantity", ("l_linenumber",), 2, 0.005, "cells"),
    ("events", "value", (), 3, 0.05, "sql"),
    ("documents", "n_chars", ("lang", "source"), 2, 0.01, "cells"),
    ("lineitem", "l_extendedprice", ("l_linestatus",), 1, 0.02, "sql"),
    ("events", "value", ("event_type",), 3, 0.05, "cells"),
    ("documents", "n_chars", (), 2, 0.01, "sql"),
)


class Interactive:
    """A seeded mix of small queries over three tables shaped like the
    sf0.1 ``lineitem``, ``events`` and ``documents``.  A parameter set is
    (table, value, by, qs, alpha, path), where path is ``cells``
    (``quantile_sketch``) or ``sql`` (``sql_quantile_sketch``, which drops
    values that are not positive).

    The sequence has a fixed shape; the seed picks the quantiles.  Calls
    alternate between repeating a hot set, in turn (12 sets, well under the
    64-entry plan memo), and a first-seen set (fresh) of one of the same
    twelve shapes, in turn.  The shapes span the value columns, groupings
    (none to two columns), 1 to 3 quantiles, every alpha and both paths.
    A round of 24 calls holds every hot set once and every shape once
    fresh, and a run ends on a round's end, so every run has the same mix.
    Set-up fills the memo, so the fresh stream keeps it at capacity.  No
    set is used twice, so warm-up (the same generator) never touches a
    timed set.  Seeding only the quantiles keeps a round's cost independent
    of the seed.
    """

    rate = "sum"
    warmup_count = 20
    round_len = 2 * len(_HOT)

    def __init__(self, manifest: dict, seed: int):
        self.manifest = manifest
        self._rng = random.Random(seed)
        self._used: set = set()
        self.hot = [self._draw(*shape) for shape in _HOT]
        self.warmup = [self._fresh(j) for j in range(self.warmup_count - len(self.hot))]
        self._exact: dict[tuple, ExactQuantiles] = {}
        self.dfs: dict = {}
        self.memo_fill = 0

    def _draw(self, table: str, value: str, by: tuple, n_qs: int, alpha: float,
              path: str, pool: tuple = _QS) -> tuple:
        """A first-seen set of the given shape with seeded quantiles."""
        for _ in range(1000):
            p = (table, value, by, tuple(sorted(self._rng.sample(pool, n_qs))), alpha, path)
            if p not in self._used:
                self._used.add(p)
                return p
        raise RuntimeError(f"no unused parameter set of shape {table, value, by, n_qs}")

    def _fresh(self, j: int) -> tuple:
        """The j-th fresh set: the shapes in turn, with seeded quantiles."""
        return self._draw(*_HOT[j % len(_HOT)], pool=_FRESH_QS)

    def describe(self) -> dict:
        from ddspark import plancache
        return {
            "tables": self.manifest,
            "warmup_sets": len(self.warmup),
            "hot_sets": len(self.hot),
            "plan_memo_entries": plancache._MAX_ENTRIES,
            "memo_fill_sets": self.memo_fill,
            "sequence": "repeat fresh repeat fresh ...: hot sets in turn, fresh shapes in turn",
        }

    def _build(self, p):
        table, value, by, qs, alpha, path = p
        df = self.dfs[table]
        if path == "sql":
            return sql_quantile_sketch(df, value, by=list(by), qs=list(qs), alpha=alpha)
        return quantile_sketch(df, value, by=list(by), qs=list(qs), cfg=SketchConfig(alpha))

    def _answer(self, p):
        table, value, by, qs, _alpha, path = p
        key = (table, value, by, path == "sql")
        if key not in self._exact:
            self._exact[key] = ExactQuantiles(
                self.manifest[table]["path"], value, list(by), positive_only=path == "sql")
        return self._exact[key].answer(qs)

    def prepare(self, spark) -> None:
        self.dfs = {t: spark.read.parquet(m["path"]) for t, m in self.manifest.items()}
        self._fill_memo()

    def _fill_memo(self) -> None:
        """Construct (no action) first-seen sets until the warm-up will
        leave the plan memo full, so that every timed fresh call evicts an
        entry, as in a long-lived driver.  The fill sets are the oldest
        entries, so a run's fresh stream evicts them and not the hot set."""
        from ddspark import plancache

        n = plancache._MAX_ENTRIES - len(plancache._PLAN_CACHE) - self.warmup_count
        for j in range(max(0, n)):
            # three quantiles, so that the fill leaves the one-quantile
            # shapes' few sets to the fresh calls
            table, value, by, _, alpha, path = _HOT[j % len(_HOT)]
            self._build(self._draw(table, value, by, 3, alpha, path, _FRESH_QS))
        self.memo_fill = max(0, n)

    def prime(self, spark) -> None:
        """Put the hot set in the plan memo: construction only, no action."""
        for p in self.hot:
            self._build(p)

    def _op(self, kind: str, p) -> Op:
        return Op(kind, lambda: self._build(p), lambda: self._answer(p), list(p[2]), p[3],
                  p[4], self.manifest[p[0]]["rows"], f"{p[0]}/{p[5]}/{len(p[2])}by/{len(p[3])}q")

    def warmup_ops(self) -> Iterator[Op]:
        """Warm-up sets, then one run of each hot set so that its generated
        code is compiled before timing, as in any dashboard's steady state."""
        yield from (self._op("fresh", p) for p in self.warmup)
        yield from (self._op("repeat", p) for p in self.hot)

    def ops(self) -> Iterator[Op]:
        """Rounds of ``round_len`` calls: every hot set once, every shape
        once fresh.  A fresh call's shape is six places from the repeat
        before it, so that no two calls in a row share generated code."""
        for j in itertools.count():
            yield self._op("repeat", self.hot[j % len(_HOT)])
            yield self._op("fresh", self._fresh(j + len(_HOT) // 2))

    def probe_spec(self) -> ProbeSpec:
        t = self.manifest["lineitem"]
        files, rows = _slice(t["path"], t["rows"])
        return ProbeSpec(t["path"], files, rows, "l_extendedprice", ["l_returnflag"],
                         ["l_suppkey"], FLAGSHIP_QS, ALPHA)


WORKLOADS = ("bulk_scan", "interactive")


def make(name: str, manifest: dict, seed: int):
    if name == "bulk_scan":
        return BulkScan(manifest, seed)
    if name == "interactive":
        return Interactive(manifest, seed)
    raise ValueError(f"unknown workload {name!r}")
