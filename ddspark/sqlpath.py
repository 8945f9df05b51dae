"""DDSketch quantiles over positive values with no Python in the plan, and
the same formula as ANSI SQL — the DuckDB oracle of the cells engine.

:func:`sql_quantile_sketch` is the positive-values entry point of the cells
engine (:mod:`ddspark.agg`): it keeps only ``v > 0`` and runs
``build_cells(..., stats=False)`` + ``finalize_cells_sql``, so the row rules
(NULL/NaN values and NULL weights dropped, non-positive weights rejected),
the bucket key ``ceil(log2(v) * multiplier)`` (reference
``ddsketch/mapping.py:75-83,107-109``), the collapsing clamp and the rank
walk (first bucket whose running count exceeds ``q*(n-1)``,
``ddsketch/store.py:234-242``) are the engine's own.  ``mode``/``bin_limit``
collapse only when both are set.  Use :func:`ddspark.agg.quantile_sketch`
when values can be negative or zero, when you need the exact
min/max/sum side stats, or when sketch *state* must be persisted.

:func:`ansi_sql_quantile_sketch` renders the key → count → clamp → window
pipeline as portable SQL for DuckDB.  It differs from the Spark engines
only on values in ``(0, min_possible]`` (~2.2e-308): the engines route them
to the zero bucket, which reads back as 0.0 (the reference's rule,
``ddsketch/ddsketch.py:144-149``), while the oracle keys them like any other
positive value.  No gate table contains such a value.

:func:`sql_cdf_probe` (the inverse, rank queries) selects its rows through
the same ``keyed_projection``; zero-bucket values count below every probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .agg import (
    _cached_cols,
    _finalize_tail,
    _finalize_walk,
    build_cells,
    keyed_projection,
    quantile_label,
)
from .mapping import LogarithmicMapping
from .plancache import memoized
from .sketch import SketchConfig
from .store import COLLAPSE_HIGHEST, COLLAPSE_LOWEST

__all__ = [
    "sql_quantile_sketch",
    "ansi_sql_quantile_sketch",
    "sql_cdf_probe",
    "ansi_sql_cdf_probe",
]


def sql_quantile_sketch(
    df: DataFrame,
    value_col: str,
    by: list[str] | None = None,
    qs: list[float] = (0.5, 0.95, 0.99),
    alpha: float = 0.01,
    mode: str | None = None,
    bin_limit: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Pure-SQL grouped DDSketch quantiles over positive values.

    Returns one row per group: ``by... | count | p50 | p95 | ...`` with each
    estimate within ``alpha`` relative error of the exact rank value.
    Weighted adds (fractional weights included) via ``weight_col``.
    """
    by = list(by or [])
    # mode/bin_limit collapse only when both are set, as they always have
    if mode in (COLLAPSE_LOWEST, COLLAPSE_HIGHEST) and bin_limit:
        cfg = SketchConfig(alpha, mode=mode, bin_limit=bin_limit)
    else:
        cfg = SketchConfig(alpha)

    def walk():
        positive = _cached_cols(("sqlpath_pos", value_col), lambda: F.col(value_col) > 0)
        cells = build_cells(df.where(positive), value_col, by, cfg, weight_col, stats=False)
        return _finalize_walk(cells, by, cfg)

    # plan memo: a repeated invocation serves the memoized plan, and a new
    # quantile set the memoized walk, in a fresh Dataset (plans, never data
    # — see ddspark.plancache)
    shape = (
        "sql_quantile_sketch", value_col, tuple(by), float(alpha), mode, bin_limit,
        weight_col,
    )
    return memoized(df, shape, qs, walk, lambda w: _finalize_tail(w, list(qs), by, False))


def _ansi_key_sql(mapping_name: str, mapping) -> tuple[str, str]:
    """(pre-key CTE SQL fragment, key expression) for a mapping.

    The fragment exposes columns ``v`` (DOUBLE, positive), ``w`` and the
    group columns; the key expression mirrors the NumPy kernels in
    :mod:`ddspark.mapping` operation-for-operation so float64 results are
    bit-identical (see the frexp notes below).
    """
    m = repr(mapping._multiplier)
    if mapping_name == "logarithmic":
        return "", f"CAST(CEIL(LOG2(v) * {m}) AS BIGINT)"
    # frexp in closed SQL form: e such that v / 2^e is in [1, 2).  FLOOR(LOG2)
    # can be off by one at exact powers of two (libm last-ulp), so correct it
    # explicitly; v / POWER(2, e) and the subtraction of 1.0 are then IEEE-
    # exact (Sterbenz), making the SQL approx-log equal to np.frexp's bit-
    # for-bit.
    frexp = (
        ",\nfx AS (\n"
        "  SELECT *, CAST(FLOOR(LOG2(v)) AS BIGINT) AS e0 FROM base\n"
        "),\nfx2 AS (\n"
        "  SELECT *, CASE WHEN v / POWER(2.0, e0) >= 2.0 THEN e0 + 1\n"
        "                 WHEN v / POWER(2.0, e0) < 1.0 THEN e0 - 1\n"
        "                 ELSE e0 END AS e\n"
        "  FROM fx\n)"
    )
    s = "(v / POWER(2.0, e) - 1.0)"
    if mapping_name == "linear":
        # LinearlyInterpolatedMapping._log2_approx_vec: s + (exponent - 1)
        return frexp, f"CAST(CEIL(({s} + e) * {m}) AS BIGINT)"
    if mapping_name == "cubic":
        A, B, C = mapping.A, mapping.B, mapping.C
        horner = f"(({A!r} * {s} + {B!r}) * {s} + {C!r}) * {s}"
        return frexp, f"CAST(CEIL(({horner} + e) * {m}) AS BIGINT)"
    raise ValueError(f"unknown mapping {mapping_name!r}")


def _ansi_value_sql(mapping_name: str, mapping, x: str) -> str:
    """Bucket-representative value for key expression ``x = k / multiplier``
    — the SQL twin of ``KeyMapping.value_vec`` (reference
    ``ddsketch/mapping.py:85-93,144-149,190-208``)."""
    gamma = repr(mapping.gamma)
    half = f"* (2.0 / (1.0 + {gamma}))"
    if mapping_name == "logarithmic":
        return f"POWER(2.0, {x}) {half}"
    if mapping_name == "linear":
        # _exp2_approx_vec: exponent = floor(x)+1; ldexp((x-exponent+2)/2, exponent)
        e2 = f"(CAST(FLOOR({x}) AS BIGINT) + 1)"
        return f"((({x}) - {e2} + 2.0) / 2.0) * POWER(2.0, {e2}) {half}"
    if mapping_name == "cubic":
        # _cubic_exp2_approx_vec via Cardano; constants folded exactly as the
        # NumPy kernel folds them (Python left-to-right evaluation order)
        A, B, C = mapping.A, mapping.B, mapping.C
        d0 = B * B - 3.0 * A * C
        t1 = 2.0 * B**3 - 9.0 * A * B * C
        c2 = 27.0 * A * A
        c3 = 4.0 * d0**3
        three_a = 3.0 * A
        ex = f"CAST(FLOOR({x}) AS BIGINT)"
        frac = f"(({x}) - FLOOR({x}))"
        d1 = f"({t1!r} - {c2!r} * {frac})"
        card = f"CBRT(({d1} - SQRT({d1} * {d1} - {c3!r})) / 2.0)"
        sp1 = f"((-(({B!r} + {card}) + ({d0!r} / {card}))) / {three_a!r} + 1.0)"
        return f"({sp1} / 2.0) * POWER(2.0, {ex} + 1) {half}"
    raise ValueError(f"unknown mapping {mapping_name!r}")


def ansi_sql_quantile_sketch(
    table: str,
    value_expr: str,
    by: list[str] | None = None,
    qs: list[float] = (0.5, 0.95, 0.99),
    alpha: float = 0.01,
    mode: str | None = None,
    bin_limit: int | None = None,
    where: str | None = None,
    round_digits: int | None = 6,
    weight_expr: str = "1.0",
    mapping: str = "logarithmic",
) -> str:
    """The same DDSketch computation as portable ANSI SQL (DuckDB-ready).

    Used as the independent oracle for this engine's correctness gate: the
    distributed Spark pipeline and this single-node SQL must produce the same
    quantile values for the same input.  ``mapping`` selects the key/value
    functions: ``logarithmic`` (exact), or the reference's ``linear`` /
    ``cubic`` interpolated approximations (frexp expressed in closed SQL
    form) — the twins of the kernel engine's NumPy mappings.
    """
    from .mapping import mapping_from_name

    by = list(by or [])
    km = mapping_from_name(mapping, alpha)
    m = repr(km._multiplier)
    by_sel = ", ".join(by) + ", " if by else ""
    by_grp = ", ".join(by) if by else ""
    part = f"PARTITION BY {by_grp} " if by else ""
    filt = f"({value_expr}) > 0" + (f" AND ({where})" if where else "")
    pre_key, key_sql = _ansi_key_sql(mapping, km)
    keyed_src = "fx2" if pre_key else "base"

    if mode == COLLAPSE_LOWEST and bin_limit:
        clamp = (
            f"GREATEST(k, MAX(k) OVER ({part.strip() or 'PARTITION BY 1'}) "
            f"- {bin_limit - 1})"
        )
    elif mode == COLLAPSE_HIGHEST and bin_limit:
        clamp = (
            f"LEAST(k, MIN(k) OVER ({part.strip() or 'PARTITION BY 1'}) "
            f"+ {bin_limit - 1})"
        )
    else:
        clamp = "k"

    k_exprs = []
    v_exprs = []
    for i, q in enumerate(qs):
        k_exprs.append(f"MIN(CASE WHEN run > {q!r} * (n - 1) THEN k END) AS k_{i}")
        val = _ansi_value_sql(mapping, km, f"CAST(k_{i} AS DOUBLE) / {m}")
        if round_digits is not None:
            val = f"ROUND({val}, {round_digits})"
        v_exprs.append(f"{val} AS {quantile_label(q)}")
    k_sel = ",\n         ".join(k_exprs)
    v_sel = ",\n       ".join(v_exprs)

    return f"""
WITH base AS (
  SELECT {by_sel}CAST({value_expr} AS DOUBLE) AS v,
         CAST(({weight_expr}) AS DOUBLE) AS w
  FROM {table}
  WHERE {filt}
){pre_key},
keyed AS (
  SELECT {by_sel}{key_sql} AS k, w FROM {keyed_src}
),
counts0 AS (
  SELECT {by_sel}k, SUM(w) AS c
  FROM keyed GROUP BY {by_sel.rstrip(', ') + ', ' if by else ''}k
),
counts AS (
  SELECT {by_sel}ck AS k, SUM(c) AS c FROM (
    SELECT {by_sel}{clamp} AS ck, c FROM counts0
  ) GROUP BY {by_sel.rstrip(', ') + ', ' if by else ''}ck
),
cum AS (
  SELECT {by_sel}k, c,
         SUM(c) OVER ({part}ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run,
         SUM(c) OVER ({part.strip() or 'PARTITION BY 1'}) AS n
  FROM counts
),
sel AS (
  SELECT {by_sel}MAX(n) AS count,
         {k_sel}
  FROM cum
  {('GROUP BY ' + by_grp) if by else ''}
)
SELECT {by_sel}count,
       {v_sel}
FROM sel
""".strip()


def _probe_keys(xs: list[float], alpha: float) -> tuple[float, float, list[int]]:
    """(multiplier, gamma, bucket key per probe) — the key is computed once
    in Python with the same correctly-rounded log2 the engines use, and
    inlined as a literal into BOTH the Spark plan and the ANSI oracle, so
    the two engines can never disagree on the probe's bucket."""
    import math

    mapping = LogarithmicMapping(alpha)
    m = mapping._multiplier
    keys = [int(math.ceil(math.log2(float(x)) * m)) for x in xs]
    return m, mapping.gamma, keys


def sql_cdf_probe(
    df: DataFrame,
    value_col: str,
    xs: list[float],
    by: list[str] | None = None,
    alpha: float = 0.01,
    weight_col: str | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Approximate CDF (rank) queries over positive values — the inverse of
    the quantile query: for each probe ``x``, the weighted fraction of
    values in buckets at or below ``x``'s bucket.

    **Certified bracket** (emitted as a boolean, exact sides computed in
    the same pass): every value the estimate counts satisfies
    ``v <= x * gamma`` and every value ``v <= x / gamma`` is counted, so
    ``exact_cdf(x/gamma) <= est_cdf(x) <= exact_cdf(x*gamma)`` — the CDF
    analogue of DDSketch's relative-value quantile guarantee.

    Output: ``by... | x | est_cdf | within_bracket``; one scan, one hash
    aggregation (all probes as parallel aggregate expressions), then a
    probe explode over the tiny per-group result.
    """
    by = list(by or [])
    _, gamma, keys = _probe_keys(xs, alpha)
    # the cells engine's projection owns the row rules: NULL/NaN values and
    # NULL weights dropped, non-positive weights rejected; values at or
    # below min_possible land in the zero bucket (_sgn = 0), below every probe
    base = keyed_projection(
        df.where(F.col(value_col) > 0), value_col, by, SketchConfig(alpha), weight_col
    )
    aggs = [F.sum("_w").alias("_n")]
    for i, (x, kx) in enumerate(zip(xs, keys)):
        aggs.append(
            F.sum(F.when((F.col("_sgn") == 0) | (F.col("_k") <= kx), F.col("_w")))
            .alias(f"_e{i}")
        )
        aggs.append(
            F.sum(F.when(F.col("_v") <= float(x) / gamma, F.col("_w"))).alias(f"_lo{i}")
        )
        aggs.append(
            F.sum(F.when(F.col("_v") <= float(x) * gamma, F.col("_w"))).alias(f"_hi{i}")
        )
    grouped = (base.groupBy(*by) if by else base.groupBy()).agg(*aggs)
    probes = F.array(
        *[
            F.struct(
                F.lit(float(x)).alias("x"),
                (F.coalesce(F.col(f"_e{i}"), F.lit(0.0)) / F.col("_n")).alias("est"),
                (F.coalesce(F.col(f"_lo{i}"), F.lit(0.0)) / F.col("_n")).alias("lo"),
                (F.coalesce(F.col(f"_hi{i}"), F.lit(0.0)) / F.col("_n")).alias("hi"),
            )
            for i, x in enumerate(xs)
        ]
    )
    out = grouped.select(*by, F.explode(probes).alias("p"))
    return out.select(
        *by,
        F.col("p.x").alias("x"),
        F.round(F.col("p.est"), round_digits).alias("est_cdf"),
        (
            (F.col("p.lo") <= F.col("p.est")) & (F.col("p.est") <= F.col("p.hi"))
        ).alias("within_bracket"),
    )


def ansi_sql_cdf_probe(
    table: str,
    value_expr: str,
    xs: list[float],
    by: list[str] | None = None,
    alpha: float = 0.01,
    round_digits: int = 6,
) -> str:
    """DuckDB twin of :func:`sql_cdf_probe` (unit weights)."""
    by = list(by or [])
    m, gamma, keys = _probe_keys(xs, alpha)
    by_sel = ", ".join(by) + ", " if by else ""
    by_grp = f"GROUP BY {', '.join(by)}" if by else ""
    agg_cols = ["SUM(1.0) AS n"]
    for i, (x, kx) in enumerate(zip(xs, keys)):
        agg_cols.append(f"SUM(CASE WHEN k <= {kx} THEN 1.0 END) AS e{i}")
        agg_cols.append(
            f"SUM(CASE WHEN v <= {float(x) / gamma!r} THEN 1.0 END) AS lo{i}"
        )
        agg_cols.append(
            f"SUM(CASE WHEN v <= {float(x) * gamma!r} THEN 1.0 END) AS hi{i}"
        )
    rows = []
    for i, x in enumerate(xs):
        est = f"COALESCE(e{i}, 0.0) / n"
        lo = f"COALESCE(lo{i}, 0.0) / n"
        hi = f"COALESCE(hi{i}, 0.0) / n"
        rows.append(
            f"SELECT {by_sel}CAST({float(x)!r} AS DOUBLE) AS x, "
            f"ROUND({est}, {round_digits}) AS est_cdf, "
            f"({lo} <= {est} AND {est} <= {hi}) AS within_bracket FROM agg"
        )
    union = "\nUNION ALL\n".join(rows)
    return f"""
WITH base AS (
  SELECT {by_sel}CAST({value_expr} AS DOUBLE) AS v,
         CAST(CEIL(LOG2(CAST({value_expr} AS DOUBLE)) * {m!r}) AS BIGINT) AS k
  FROM {table} WHERE {value_expr} > 0
),
agg AS (
  SELECT {by_sel}{', '.join(agg_cols)} FROM base {by_grp}
)
{union}
"""
