"""Seeded inputs, exact answers and the answer check.

Every input is generated from the workload seed with NumPy and written as
parquet into the run's scratch directory; the program under test only ever
reads those files.  The same seed gives the same bytes.  Exact answers
are computed here, outside Spark, with the lower-rank convention of
``ddspark.datasets.exact_quantile``: ``sorted(values)[int(q * (n - 1))]``.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = np.array(["python", "javascript", "java", "c", "cpp", "go", "rust", "ruby", "php"])

# rows per workload input; "tiny" is the smoke-test size.  The interactive
# tables have the row counts of the repository's sf0.1 test data
SIZES = {
    "full": {
        "corpus_rows": 4_000_000, "corpus_files": 8,
        "lineitem_rows": 600_000, "events_rows": 100_000, "documents_rows": 5_000,
    },
    "tiny": {
        "corpus_rows": 20_000, "corpus_files": 2,
        "lineitem_rows": 3_000, "events_rows": 2_000, "documents_rows": 1_000,
    },
}


def _rng(seed: int, salt: str) -> np.random.Generator:
    return np.random.default_rng([seed, *salt.encode()])


def _content_length(rng, n: int) -> np.ndarray:
    # log-uniform file sizes, 20 B .. 8 KB, integral like real byte counts
    return np.floor(np.exp(rng.random(n) * 6.0 + 3.0))


def _write_files(out: str, table: pa.Table, n_files: int) -> None:
    os.makedirs(out)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out, f"part-{i:03d}.parquet"))


def _corpus(rng, n: int) -> pa.Table:
    lang = np.minimum(rng.zipf(1.6, n) - 1, len(LANGS) - 1).astype(np.int32)
    repo = (rng.zipf(1.3, n) - 1) % 10_000
    return pa.table({
        "lang": pa.DictionaryArray.from_arrays(pa.array(lang), pa.array(LANGS)),
        "repo": pa.array(repo.astype(np.int64)),
        "content_length": pa.array(_content_length(rng, n)),
    })


_WORDS = np.array("a the data query scan join sort hash key group agg window merge filter "
                  "batch row column value table part order customer stream spark vector "
                  "fast slow big small line".split())


def _interactive_tables(rng, s: dict) -> dict[str, pa.Table]:
    """Tables with the schema, row counts (at full size), key cardinalities
    and value distributions of the sf0.1 ``lineitem``, ``events`` and
    ``documents`` test tables, one file and one row group each like those."""
    n = s["lineitem_rows"]
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n // 4, n),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(
            np.datetime64("1995-01-02") + rng.integers(0, 2_499, n).astype("timedelta64[D]"),
            pa.timestamp("us")),
    })
    n = s["events_rows"]
    events = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + np.sort(rng.integers(0, 30 * 86_400_000_000, n)).astype(
                           "timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, 1_500, n),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n)],
        # exponential, mean 50, in cents: a few exact zeros, as in sf0.1
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"),
    })
    n = s["documents_rows"]
    words = rng.integers(8, 120, n)
    text = [" ".join(_WORDS[rng.integers(0, len(_WORDS), w)]) for w in words]
    documents = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": np.array(["en", "zh", "es", "fr", "de"])[
            rng.choice(5, n, p=[0.41, 0.15, 0.15, 0.15, 0.14])],
        "source": np.char.add("src", (np.arange(n) % 20).astype(str)),
        "n_chars": rng.integers(44, 578, n),
    })
    return {"lineitem": lineitem, "events": events, "documents": documents}


def build_inputs(workload: str, seed: int, scale: str, out_dir: str) -> dict:
    """Write the workload's parquet inputs under ``out_dir``; returns a
    manifest ``{table: {"path", "rows", "files", "bytes"}}``."""
    s = SIZES[scale]
    rng = _rng(seed, workload)
    if workload == "bulk_scan":
        tables = {"corpus": (_corpus(rng, s["corpus_rows"]), s["corpus_files"])}
    elif workload == "interactive":
        tables = {k: (t, 1) for k, t in _interactive_tables(rng, s).items()}
    else:
        raise ValueError(f"unknown workload {workload!r}")
    manifest = {}
    for name, (table, n_files) in tables.items():
        out = os.path.join(out_dir, name)
        _write_files(out, table, n_files)
        files = sorted(os.listdir(out))
        manifest[name] = {
            "path": out,
            "rows": table.num_rows,
            "files": len(files),
            "bytes": sum(os.path.getsize(os.path.join(out, f)) for f in files),
        }
    return manifest


def quantile_label(q: float) -> str:
    """Output column name ddspark gives quantile ``q`` (0.5 -> ``p50``)."""
    return "p" + f"{q * 100:g}".replace(".", "_")


class ExactQuantiles:
    """Exact per-group ``count`` and lower-rank quantiles of one value
    column, computed once with NumPy from the parquet files; any ``qs`` is
    then answered by index arithmetic."""

    def __init__(self, path: str, value: str, by: list[str], positive_only: bool = False):
        df = pq.read_table(path, columns=[*by, value]).to_pandas()
        v = df[value].to_numpy(dtype=np.float64)
        keep = ~np.isnan(v)
        if positive_only:
            keep &= v > 0
        df, v = df[keep], v[keep]
        if by:
            codes, uniques = pd.MultiIndex.from_frame(df[by].astype(object)).factorize()
            self.keys = uniques.to_frame(index=False)
            self.keys.columns = by
        else:
            codes, self.keys = np.zeros(len(v), dtype=np.int64), pd.DataFrame(index=[0])
        self.sorted = v[np.lexsort((v, codes))]
        self.counts = np.bincount(codes, minlength=len(self.keys))
        self.starts = np.concatenate(([0], np.cumsum(self.counts)[:-1]))

    def answer(self, qs) -> pd.DataFrame:
        """One row per group: ``by... count p50 ...``."""
        out = self.keys.copy()
        out["count"] = self.counts.astype(np.float64)
        for q in qs:
            # float rank then truncation, exactly as int(q * (n - 1))
            rank = (float(q) * (self.counts - 1).astype(np.float64)).astype(np.int64)
            out[quantile_label(q)] = self.sorted[self.starts + rank]
        return out


def check_answer(result: pd.DataFrame, exact: pd.DataFrame, by: list[str],
                 qs: list[float], alpha: float) -> tuple[bool, float, str]:
    """Compare one query result with the exact answer.

    Passes when the groups match, every count is exact and every quantile
    is within ``alpha`` relative error.  Returns ``(ok, max_rel_err, why)``.
    """
    labels = [quantile_label(q) for q in qs]
    missing = [c for c in [*by, "count", *labels] if c not in result.columns]
    if missing:
        return False, float("inf"), f"missing columns {missing}"
    if len(result) != len(exact):
        return False, float("inf"), f"{len(result)} groups, expected {len(exact)}"
    if by:
        res = result[[*by, "count", *labels]].astype({c: object for c in by})
        ex = exact.astype({c: object for c in by})
        joined = ex.merge(res, on=by, how="left", suffixes=("", "_got"))
    else:
        joined = exact.join(result[["count", *labels]].reset_index(drop=True), rsuffix="_got")
    got_count = joined["count_got"].to_numpy(dtype=np.float64)
    if np.isnan(got_count).any():
        return False, float("inf"), "a group is missing from the result"
    if not np.array_equal(got_count, joined["count"].to_numpy(dtype=np.float64)):
        return False, float("inf"), "count differs from the exact count"
    worst = 0.0
    for c in labels:
        want = joined[c].to_numpy(dtype=np.float64)
        got = joined[c + "_got"].to_numpy(dtype=np.float64)
        err = np.abs(got - want) / np.abs(want)
        err = np.where(want == 0, np.where(got == 0, 0.0, np.inf), err)
        err = np.where(np.isnan(got), np.inf, err)
        worst = max(worst, float(err.max(initial=0.0)))
    # 1e-9 slack absorbs the last-digit rounding of the key/value mapping
    if worst > alpha * (1 + 1e-9):
        return False, worst, f"relative error {worst:.6g} exceeds alpha {alpha}"
    return True, worst, ""
