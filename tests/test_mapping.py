"""Mapping equivalence + accuracy tests.

Mirrors the reference's strategy (sketches-py ``tests/test_mapping.py``):
sweep alpha and sweep values multiplicatively across the representable range,
asserting the relative-error guarantee — and additionally assert *element-wise
key equality* between our vectorized kernels and the reference's scalar
implementations.

Every host checks the accuracy bound, offset semantics and the documented
mapping constants (PAPER.md, SURVEY.md).  The comparisons with the reference's
scalar code paths (``test_keys_match_reference`` and the reference half of
``test_gamma_and_multiplier_constants``) run only where the sketches-py
checkout (``REFERENCE_ROOT`` in ``conftest.py``) or an installed ``ddsketch``
can be imported; elsewhere ``test_keys_match_reference`` is skipped.
"""

from __future__ import annotations

import math
import sys

import numpy as np
import pytest

from ddspark.mapping import (
    CubicallyInterpolatedMapping,
    LinearlyInterpolatedMapping,
    LogarithmicMapping,
    mapping_from_name,
)

OURS_TO_REF = {
    "logarithmic": "LogarithmicMapping",
    "linear": "LinearlyInterpolatedMapping",
    "cubic": "CubicallyInterpolatedMapping",
}

ALPHAS = [1e-1, 2e-2, 1e-2, 5e-4, 1e-8]


def _sweep_values(lo: float = 1e-280, hi: float = 1e280, mult: float = 1.7) -> np.ndarray:
    n = int((np.log(hi) - np.log(lo)) / np.log(mult))
    return np.exp(np.linspace(np.log(lo), np.log(hi), n))


@pytest.mark.parametrize("name", list(OURS_TO_REF))
@pytest.mark.parametrize("alpha", ALPHAS)
def test_keys_match_reference(ref, name, alpha):
    from ddsketch import mapping as ref_mapping

    ours = mapping_from_name(name, alpha)
    theirs = getattr(ref_mapping, OURS_TO_REF[name])(alpha)
    values = _sweep_values()
    our_keys = ours.key_vec(values)
    ref_keys = np.array([theirs.key(float(v)) for v in values])
    np.testing.assert_array_equal(our_keys, ref_keys)
    # bucket representative values agree to 1 ulp (np.power vs math.pow)
    our_vals = ours.value_vec(our_keys)
    ref_vals = np.array([theirs.value(int(k)) for k in our_keys])
    np.testing.assert_allclose(our_vals, ref_vals, rtol=5e-15, atol=0)


@pytest.mark.parametrize("name", list(OURS_TO_REF))
@pytest.mark.parametrize("alpha", ALPHAS)
def test_relative_accuracy_bound(name, alpha):
    ours = mapping_from_name(name, alpha)
    values = _sweep_values()
    round_trip = ours.value_vec(ours.key_vec(values))
    rel_err = np.abs(round_trip - values) / values
    assert float(rel_err.max()) < alpha


@pytest.mark.parametrize("name", list(OURS_TO_REF))
def test_offset_semantics(name):
    # key(1) == ceil(log(1)) + offset == int(offset); reference
    # tests/test_mapping.py:79-83
    for offset in (0.0, 1.0, -12.3, 7742.0):
        m = mapping_from_name(name, 0.01, offset=offset)
        assert m.key(1.0) == int(offset)


def test_gamma_and_multiplier_constants(optional_ref):
    """Constants bit-for-bit as documented: ``m = 2a/(1-a)``, ``gamma = 1 + m``
    (PAPER.md, SURVEY.md section 1), ``multiplier = 1/log1p(m)`` then
    ``*= log(2)`` (SURVEY.md row 14), ``min_possible = float_info.min * gamma``,
    ``max_possible = float_info.max / gamma``; and equal to the reference's
    where present."""
    for alpha in ALPHAS:
        ours = LogarithmicMapping(alpha)
        m = 2 * alpha / (1 - alpha)
        gamma = 1 + m
        multiplier = 1 / math.log1p(m)
        multiplier *= math.log(2)
        assert ours.gamma == gamma, alpha
        assert ours._multiplier == multiplier, alpha
        assert ours.min_possible == sys.float_info.min * gamma, alpha
        assert ours.max_possible == sys.float_info.max / gamma, alpha
        if optional_ref is not None:
            from ddsketch.mapping import LogarithmicMapping as RefLog

            theirs = RefLog(alpha)
            assert ours.gamma == theirs.gamma
            assert ours._multiplier == theirs._multiplier
            assert ours.min_possible == theirs.min_possible
            assert ours.max_possible == theirs.max_possible


def test_from_gamma_offset_roundtrip():
    m = LogarithmicMapping(0.02, offset=3.0)
    m2 = LogarithmicMapping.from_gamma_offset(m.gamma, 3.0)
    v = np.array([0.5, 1.0, 3.14, 1e6])
    np.testing.assert_array_equal(m.key_vec(v), m2.key_vec(v))


def test_cbrt_equivalence():
    # np.cbrt must behave like the reference's sign-preserving cube root
    # (reference tests/test_mapping.py:107-109)
    x = np.array([-8.0, -1.0, -1e-9, 0.0, 1e-9, 1.0, 27.0])
    np.testing.assert_allclose(np.cbrt(x), np.sign(x) * np.abs(x) ** (1 / 3), rtol=1e-12)


@pytest.mark.parametrize(
    "cls", [LogarithmicMapping, LinearlyInterpolatedMapping, CubicallyInterpolatedMapping]
)
def test_invalid_alpha_rejected(cls):
    for bad in (0.0, 1.0, -0.5, 2.0):
        with pytest.raises(ValueError):
            cls(bad)
