"""Sketch-level tests: reference equivalence, accuracy bound over the full
distribution sweep, merge semantics, weighted adds.

Mirrors sketches-py ``tests/test_ddsketch.py`` (alpha=0.05,
bin_limit=1024, sizes {3,5,10,100,1000}, 10 quantiles, 18 distributions).

Every host checks the alpha accuracy bound against exact quantiles, merge
semantics and weighted-vs-replayed equality.  The tests that compare with the
reference sketch itself (``test_quantiles_match_reference_exactly``,
``test_merge_matches_reference``, ``test_weighted_fractional``) run only where
the sketches-py checkout (``REFERENCE_ROOT`` in ``conftest.py``) or an
installed ``ddsketch`` can be imported, and are skipped elsewhere.
"""

from __future__ import annotations

import numpy as np
import pytest

from ddspark.datasets import DATASET_NAMES, exact_quantile, generate
from ddspark.sketch import Sketch, SketchConfig
from ddspark.store import COLLAPSE_HIGHEST, COLLAPSE_LOWEST, DENSE

ALPHA = 0.05
BIN_LIMIT = 1024
QUANTILES = [0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99, 0.999, 1]
SIZES = [3, 5, 10, 100, 1000]

CONFIGS = {
    "dense": SketchConfig(ALPHA, mode=DENSE),
    "collapse_lowest": SketchConfig(ALPHA, mode=COLLAPSE_LOWEST, bin_limit=BIN_LIMIT),
    "collapse_highest": SketchConfig(ALPHA, mode=COLLAPSE_HIGHEST, bin_limit=BIN_LIMIT),
}


def ref_sketch(ref, cfg_name):
    from ddsketch import (
        DDSketch,
        LogCollapsingHighestDenseDDSketch,
        LogCollapsingLowestDenseDDSketch,
    )

    if cfg_name == "dense":
        return DDSketch(ALPHA)
    if cfg_name == "collapse_lowest":
        return LogCollapsingLowestDenseDDSketch(ALPHA, bin_limit=BIN_LIMIT)
    return LogCollapsingHighestDenseDDSketch(ALPHA, bin_limit=BIN_LIMIT)


def assert_accuracy(sketch: Sketch, values: np.ndarray) -> None:
    """The reference's core assertion (tests/test_ddsketch.py:76-86)."""
    for q in QUANTILES:
        est = sketch.quantile(q)
        exact = exact_quantile(values, q)
        err = abs(est - exact)
        assert err - ALPHA * abs(exact) <= 1e-15, (q, est, exact)
    assert sketch.num_values == len(values)
    assert sketch.sum == pytest.approx(float(np.sum(values)))
    assert sketch.avg == pytest.approx(float(np.mean(values)))
    assert sketch.min == float(np.min(values))
    assert sketch.max == float(np.max(values))


@pytest.mark.parametrize("cfg_name", list(CONFIGS))
@pytest.mark.parametrize("size", SIZES)
@pytest.mark.parametrize("dataset", DATASET_NAMES)
def test_distribution_accuracy(cfg_name, dataset, size):
    values = generate(dataset, size)
    sketch = Sketch.from_values(values, CONFIGS[cfg_name])
    assert_accuracy(sketch, values)


@pytest.mark.parametrize("cfg_name", list(CONFIGS))
@pytest.mark.parametrize("dataset", ["lognormal", "number_line_forward", "trimodal"])
def test_quantiles_match_reference_exactly(ref, cfg_name, dataset):
    """Feed identical values to our kernel and the reference object: same
    bucket contents and same quantile estimates."""
    values = generate(dataset, 1000)
    ours = Sketch.from_values(values, CONFIGS[cfg_name])
    theirs = ref_sketch(ref, cfg_name)
    for v in values:
        theirs.add(float(v))
    pos, neg = ours.nonzero_bins()
    assert pos == {
        theirs._store.offset + i: c
        for i, c in enumerate(theirs._store.bins)
        if c != 0
    }
    assert neg == {
        theirs._negative_store.offset + i: c
        for i, c in enumerate(theirs._negative_store.bins)
        if c != 0
    }
    assert ours.zero_count == theirs._zero_count
    assert ours.count == theirs.count
    for q in QUANTILES:
        ref_q = theirs.get_quantile_value(q)
        our_q = ours.quantile(q)
        assert our_q == pytest.approx(ref_q, rel=5e-15), q


def test_empty_sketch_semantics():
    s = Sketch.empty(SketchConfig(ALPHA))
    assert s.quantile(0.5) is None
    assert s.quantile(-0.1) is None
    assert s.quantile(1.5) is None
    s2 = Sketch.from_values(np.array([1.0]), SketchConfig(ALPHA))
    assert s2.quantile(1.5) is None


def test_zero_and_sign_routing():
    cfg = SketchConfig(ALPHA)
    values = np.array([0.0, -0.0, 1e-310, -1e-310, 5.0, -5.0])
    s = Sketch.from_values(values, cfg)
    assert s.zero_count == 4.0
    assert s.count == 6.0
    pos, neg = s.nonzero_bins()
    assert sum(pos.values()) == 1.0
    assert sum(neg.values()) == 1.0
    assert s.min == -5.0 and s.max == 5.0


@pytest.mark.parametrize("cfg_name", list(CONFIGS))
def test_merge_matches_reference(ref, cfg_name):
    values_a = generate("normal", 500)
    values_b = generate("laplace", 500)
    ours = Sketch.from_values(values_a, CONFIGS[cfg_name]).merge(
        Sketch.from_values(values_b, CONFIGS[cfg_name])
    )
    theirs = ref_sketch(ref, cfg_name)
    other = ref_sketch(ref, cfg_name)
    for v in values_a:
        theirs.add(float(v))
    for v in values_b:
        other.add(float(v))
    theirs.merge(other)
    pos, neg = ours.nonzero_bins()
    assert pos == {
        theirs._store.offset + i: c
        for i, c in enumerate(theirs._store.bins)
        if c != 0
    }
    for q in QUANTILES:
        assert ours.quantile(q) == pytest.approx(
            theirs.get_quantile_value(q), rel=5e-15
        )


def test_merge_gamma_guard():
    a = Sketch.from_values(np.array([1.0]), SketchConfig(0.05))
    b = Sketch.from_values(np.array([1.0]), SketchConfig(0.01))
    with pytest.raises(ValueError):
        a.merge(b)


def test_merge_empty_cases():
    cfg = SketchConfig(ALPHA)
    full = Sketch.from_values(generate("lognormal", 100), cfg)
    empty = Sketch.empty(cfg)
    m1 = full.merge(empty)
    m2 = empty.merge(full)
    for q in QUANTILES:
        assert m1.quantile(q) == full.quantile(q)
        assert m2.quantile(q) == full.quantile(q)
    m3 = empty.merge(empty)
    assert m3.count == 0 and m3.quantile(0.5) is None


def test_merge_does_not_mutate_operands():
    cfg = SketchConfig(ALPHA)
    a = Sketch.from_values(generate("normal", 200), cfg)
    b = Sketch.from_values(generate("lognormal", 200), cfg)
    a_bins_before = (a.pos[0], a.pos[1].copy(), a.count, a.sum)
    b_bins_before = (b.pos[0], b.pos[1].copy(), b.count, b.sum)
    a.merge(b)
    assert a.pos[0] == a_bins_before[0]
    np.testing.assert_array_equal(a.pos[1], a_bins_before[1])
    assert (a.count, a.sum) == a_bins_before[2:]
    assert b.pos[0] == b_bins_before[0]
    np.testing.assert_array_equal(b.pos[1], b_bins_before[1])
    assert (b.count, b.sum) == b_bins_before[2:]


@pytest.mark.parametrize("cfg_name", list(CONFIGS))
@pytest.mark.parametrize("n_splits", [1, 2, 7, 32])
def test_merge_split_invariance(cfg_name, n_splits):
    """Any partition split + merge == one-shot build (bit-identical bins for
    dense; clamp-oracle-identical for collapsing)."""
    cfg = CONFIGS[cfg_name]
    values = generate("integers", 2000) * 1000 + generate("number_line_forward", 2000)
    whole = Sketch.from_values(values, cfg)
    rng = np.random.default_rng(3)
    parts = np.array_split(rng.permutation(values), n_splits)
    merged = Sketch.merge_all([Sketch.from_values(p, cfg) for p in parts])
    assert whole.nonzero_bins() == merged.nonzero_bins()
    assert whole.count == merged.count
    assert whole.zero_count == merged.zero_count
    assert whole.min == merged.min and whole.max == merged.max
    assert whole.sum == pytest.approx(merged.sum, rel=1e-12)
    for q in QUANTILES:
        assert whole.quantile(q) == merged.quantile(q)


def test_merge_random_splits_accuracy():
    """Reference tests/test_ddsketch.py:138-152: random 30/70 splits."""
    cfg = CONFIGS["dense"]
    rng = np.random.default_rng(11)
    for _ in range(10):
        values = rng.lognormal(size=500) / 100.0
        mask = rng.random(500) < 0.3
        merged = Sketch.from_values(values[mask], cfg).merge(
            Sketch.from_values(values[~mask], cfg)
        )
        for q in QUANTILES:
            est = merged.quantile(q)
            exact = exact_quantile(values, q)
            assert abs(est - exact) - ALPHA * abs(exact) <= 1e-15


def test_weighted_integer_counts():
    """Weighted adds with integer weights equal unweighted replay
    (reference tests/test_ddsketch.py:98-104)."""
    values = generate("integers", 1000)
    uniq, counts = np.unique(values, return_counts=True)
    cfg = CONFIGS["dense"]
    weighted = Sketch.from_values(uniq, cfg, weights=counts.astype(float))
    plain = Sketch.from_values(values, cfg)
    assert weighted.nonzero_bins() == plain.nonzero_bins()
    assert weighted.count == plain.count
    for q in QUANTILES:
        assert weighted.quantile(q) == plain.quantile(q)


def test_weighted_fractional(ref):
    """Fractional weights (reference tests/test_ddsketch.py:106-119)."""
    values = np.arange(100, dtype=np.float64)
    weights = np.full(100, 1.1)
    values = np.append(values, 100.0)
    weights = np.append(weights, 110.0)
    s = Sketch.from_values(values, CONFIGS["dense"], weights=weights)
    theirs = ref_sketch(ref, "dense")
    for v, w in zip(values, weights):
        theirs.add(float(v), float(w))
    assert s.count == pytest.approx(theirs.count)
    assert s.sum == pytest.approx(theirs.sum)
    for q in QUANTILES:
        assert s.quantile(q) == pytest.approx(theirs.get_quantile_value(q), rel=5e-15)
    median = s.quantile(0.5)
    assert abs(median - 99.0) <= ALPHA * 99.0 + 1e-15


def test_invalid_weights_rejected():
    with pytest.raises(ValueError):
        Sketch.from_values(np.array([1.0]), weights=np.array([0.0]))
    with pytest.raises(ValueError):
        Sketch.from_values(np.array([1.0]), weights=np.array([-1.0]))


def test_state_roundtrip():
    cfg = CONFIGS["collapse_lowest"]
    s = Sketch.from_values(generate("mixed", 1000), cfg)
    row = s.to_state()
    back = Sketch.from_state(cfg, row)
    assert back.nonzero_bins() == s.nonzero_bins()
    for q in QUANTILES:
        assert back.quantile(q) == s.quantile(q)
