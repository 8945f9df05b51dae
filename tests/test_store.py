"""Store kernel tests over the reference's stream matrix (sketches-py
``tests/test_store.py``).

Every host checks bins against the clamped-``Counter`` oracle of the
reference's own tests, and ``key_at_rank`` against the contract documented in
``ddspark/store.py``.  The bin-level and rank comparisons with the reference
stores themselves run only where the sketches-py checkout (``REFERENCE_ROOT``
in ``conftest.py``) or an installed ``ddsketch`` can be imported."""

from __future__ import annotations

import sys
from collections import Counter

import numpy as np
import pytest

from ddspark.store import (
    COLLAPSE_HIGHEST,
    COLLAPSE_LOWEST,
    DENSE,
    bins_from_keys,
    canonicalize,
    empty_bins,
    key_at_rank,
    merge_bins,
    merge_many,
)

EXTREME_MAX = sys.maxsize
EXTREME_MIN = -sys.maxsize - 1

STREAMS = {
    "empty": [],
    "constant": [0] * 10000,
    "linear_up": list(range(10000)),
    "linear_down": list(reversed(range(10000))),
    "exp_up": [2**x for x in range(16)],
    "exp_down": [2**x for x in reversed(range(16))],
    "bin_counts": [x for x in range(10) for _ in range(2 * x)],
    "bin_counts_neg": [-x for x in range(10) for _ in range(2 * x)],
    "far_apart": [-10000, 10000, 0, 0, -10000, 10000],
}
EXTREME_STREAMS = {
    "extreme_max": [0, EXTREME_MAX],
    "extreme_min": [0, EXTREME_MIN],
    "both_extremes": [EXTREME_MIN, EXTREME_MAX],
}

BIN_LIMITS = [1, 20, 1000]


def store_to_dict(offset: int, bins: np.ndarray) -> dict[int, float]:
    return {offset + i: float(c) for i, c in enumerate(bins) if c != 0}


def oracle(keys, mode, bin_limit) -> dict[int, float]:
    """Reference tests' oracle: exact Counter with collapse-clamped keys
    (tests/test_store.py:216-218 and :257-259)."""
    if not keys:
        return {}
    out: Counter = Counter()
    if mode == COLLAPSE_LOWEST:
        lo = max(keys) - bin_limit + 1
        for k in keys:
            out[max(k, lo)] += 1
    elif mode == COLLAPSE_HIGHEST:
        hi = min(keys) + bin_limit - 1
        for k in keys:
            out[min(k, hi)] += 1
    else:
        for k in keys:
            out[k] += 1
    return {k: float(v) for k, v in out.items()}


def ref_store(mode, bin_limit):
    from ddsketch.store import (
        CollapsingHighestDenseStore,
        CollapsingLowestDenseStore,
        DenseStore,
    )

    if mode == DENSE:
        return DenseStore()
    if mode == COLLAPSE_LOWEST:
        return CollapsingLowestDenseStore(bin_limit)
    return CollapsingHighestDenseStore(bin_limit)


def ref_store_dict(store) -> dict[int, float]:
    return {
        store.offset + i: float(c) for i, c in enumerate(store.bins) if c != 0
    }


@pytest.mark.parametrize("stream", list(STREAMS))
def test_dense_matches_reference(optional_ref, stream):
    keys = STREAMS[stream]
    ours = bins_from_keys(np.array(keys, dtype=np.int64), mode=DENSE)
    assert store_to_dict(*ours) == oracle(keys, DENSE, None)
    if optional_ref is not None:
        theirs = ref_store(DENSE, None)
        for k in keys:
            theirs.add(k)
        assert store_to_dict(*ours) == ref_store_dict(theirs)


@pytest.mark.parametrize("mode", [COLLAPSE_LOWEST, COLLAPSE_HIGHEST])
@pytest.mark.parametrize("bin_limit", BIN_LIMITS)
@pytest.mark.parametrize("stream", list(STREAMS) + list(EXTREME_STREAMS))
def test_collapsing_matches_reference_and_oracle(optional_ref, mode, bin_limit, stream):
    keys = {**STREAMS, **EXTREME_STREAMS}[stream]
    ours = bins_from_keys(
        np.array(keys, dtype=np.int64), mode=mode, bin_limit=bin_limit
    )
    expected = oracle(keys, mode, bin_limit)
    assert store_to_dict(*ours) == expected
    if optional_ref is not None:
        theirs = ref_store(mode, bin_limit)
        for k in keys:
            theirs.add(k)
        assert ref_store_dict(theirs) == expected  # sanity: oracle == reference


@pytest.mark.parametrize("mode", [DENSE, COLLAPSE_LOWEST, COLLAPSE_HIGHEST])
@pytest.mark.parametrize("bin_limit", BIN_LIMITS)
@pytest.mark.parametrize(
    "pair",
    [
        ("constant", "far_apart"),
        ("linear_up", "linear_down"),
        ("exp_up", "bin_counts_neg"),
        ("empty", "linear_up"),
        ("linear_up", "empty"),
        ("empty", "empty"),
    ],
)
def test_merge_equals_union_oracle(mode, bin_limit, pair):
    a_keys, b_keys = STREAMS[pair[0]], STREAMS[pair[1]]
    limit = None if mode == DENSE else bin_limit
    a = bins_from_keys(np.array(a_keys, dtype=np.int64), mode=mode, bin_limit=limit)
    b = bins_from_keys(np.array(b_keys, dtype=np.int64), mode=mode, bin_limit=limit)
    merged = merge_bins(a, b, mode=mode, bin_limit=limit)
    assert store_to_dict(*merged) == oracle(list(a_keys) + list(b_keys), mode, limit)
    # commutativity
    merged_rev = merge_bins(b, a, mode=mode, bin_limit=limit)
    assert store_to_dict(*merged) == store_to_dict(*merged_rev)


@pytest.mark.parametrize("mode", [DENSE, COLLAPSE_LOWEST, COLLAPSE_HIGHEST])
@pytest.mark.parametrize("bin_limit", [1, 20, 1000])
@pytest.mark.parametrize("n_splits", [1, 2, 7, 32])
def test_split_invariance(mode, bin_limit, n_splits):
    """Building from any partition split then merging equals building once —
    the core distributed-aggregation property."""
    rng = np.random.default_rng(7)
    keys = rng.integers(-500, 1500, size=5000)
    limit = None if mode == DENSE else bin_limit
    whole = bins_from_keys(keys, mode=mode, bin_limit=limit)
    parts = np.array_split(rng.permutation(keys), n_splits)
    partials = [bins_from_keys(p, mode=mode, bin_limit=limit) for p in parts]
    merged = merge_many(partials, mode=mode, bin_limit=limit)
    assert store_to_dict(*whole) == store_to_dict(*merged)


def test_weighted_bins():
    keys = np.array([5, 5, 7, -2], dtype=np.int64)
    w = np.array([0.5, 1.5, 2.0, 0.25])
    off, bins = bins_from_keys(keys, weights=w)
    assert store_to_dict(off, bins) == {5: 2.0, 7: 2.0, -2: 0.25}


def test_key_at_rank_contract(optional_ref):
    """Decimal-rank and lower-flag semantics: the contract of
    ``ddspark/store.py:key_at_rank`` (reference store.py:90-103,
    tests/test_store.py:171-188), and the reference where present.

    Running counts are [3, 5, 6] over keys [0, 1, 2].  With ``lower`` the
    answer is the first key whose running count exceeds ``rank``; otherwise
    the first key whose running count reaches ``rank + 1``; past the total
    count, ``max_key``."""
    keys = [0, 0, 0, 1, 1, 2]
    ranks = [0, 0.5, 1, 2, 2.5, 3, 4, 4.5, 5, 6, 10]
    expected = {
        True: [0, 0, 0, 0, 0, 1, 1, 1, 2, 2, 2],
        False: [0, 0, 0, 0, 1, 1, 1, 2, 2, 2, 2],
    }
    ours = bins_from_keys(np.array(keys, dtype=np.int64))
    for lower in (True, False):
        got = [key_at_rank(ours, rank, lower) for rank in ranks]
        assert got == expected[lower], lower
    if optional_ref is not None:
        theirs = ref_store(DENSE, None)
        for k in keys:
            theirs.add(k)
        for rank in ranks:
            for lower in (True, False):
                assert key_at_rank(ours, rank, lower) == theirs.key_at_rank(
                    rank, lower
                ), (rank, lower)


def test_canonicalize_trims():
    off, bins = canonicalize(10, np.array([0.0, 0.0, 3.0, 0.0, 1.0, 0.0]))
    assert off == 12
    assert list(bins) == [3.0, 0.0, 1.0]
    off2, bins2 = canonicalize(5, np.zeros(4))
    assert off2 == 0 and len(bins2) == 0
