"""Vectorized key mappings: value <-> integer bucket index with relative-error
guarantees.

A key mapping assigns every representable positive float ``v`` an integer
bucket key such that the bucket's representative value is within
``relative_accuracy`` (alpha) of ``v``.  Three mappings are provided, matching
the semantics of the reference implementation (DataDog/sketches-py,
``ddsketch/mapping.py:30-216``) but re-expressed as NumPy array kernels so a
whole Arrow batch of values is keyed in one shot — this is the hot inner loop
of the Spark partial-aggregation stage.

* ``LogarithmicMapping`` — memory-optimal, ``key = ceil(log_gamma(v))``
  computed as ``ceil(log2(v) * multiplier)`` (reference ``mapping.py:96-113``).
* ``LinearlyInterpolatedMapping`` — approximates log2 from the float's binary
  representation via ``np.frexp`` (reference ``mapping.py:124-157``).
* ``CubicallyInterpolatedMapping`` — cubic polynomial on the significand,
  inverse via Cardano's formula (reference ``mapping.py:160-216``).

All kernels are pure float64 NumPy and therefore deterministic for a given
input array, independent of how Spark partitions the data.
"""

from __future__ import annotations

import math
import sys
from abc import ABC, abstractmethod

import numpy as np

__all__ = [
    "KeyMapping",
    "LogarithmicMapping",
    "LinearlyInterpolatedMapping",
    "CubicallyInterpolatedMapping",
    "mapping_from_name",
    "MAPPING_NAMES",
    "relative_accuracy_for_gamma",
]


def _gamma(relative_accuracy: float) -> float:
    return 1.0 + 2.0 * relative_accuracy / (1.0 - relative_accuracy)


def relative_accuracy_for_gamma(gamma: float) -> float:
    """The alpha whose mapping has exactly this ``gamma``.

    ``(gamma - 1)/(gamma + 1)`` inverts ``gamma = 1 + 2*alpha/(1 - alpha)``
    only up to rounding: at some alphas the rebuilt gamma is one ulp off the
    original, and sketches of the two gammas refuse to merge.  So the
    quotient is snapped to the nearest alpha (within two ulps) that rebuilds
    ``gamma`` bit for bit; a gamma that no nearby alpha produces keeps the
    quotient.
    """
    alpha = (gamma - 1.0) / (gamma + 1.0)
    candidates = [alpha]
    up = down = alpha
    for _ in range(2):
        up, down = math.nextafter(up, 1.0), math.nextafter(down, 0.0)
        candidates += [up, down]
    return next((a for a in candidates if _gamma(a) == gamma), alpha)


class KeyMapping(ABC):
    """Base mapping: derives gamma and the log multiplier from alpha.

    Semantics match reference ``ddsketch/mapping.py:43-93``:
    ``gamma = 1 + 2*alpha/(1-alpha)``, ``multiplier = 1/log1p(2*alpha/(1-alpha))``,
    ``key(v) = int(ceil(log_gamma(v)) + offset)``,
    ``value(k) = pow_gamma(k - offset) * 2/(1+gamma)`` (lower bound times the
    mid-bucket correction factor).
    """

    name: str = "abstract"

    def __init__(self, relative_accuracy: float, offset: float = 0.0) -> None:
        if relative_accuracy <= 0 or relative_accuracy >= 1:
            raise ValueError(
                f"relative_accuracy must be in (0, 1), got {relative_accuracy!r}"
            )
        self.relative_accuracy = float(relative_accuracy)
        self._offset = float(offset)
        gamma_mantissa = 2.0 * relative_accuracy / (1.0 - relative_accuracy)
        self.gamma = _gamma(relative_accuracy)
        self._multiplier = 1.0 / math.log1p(gamma_mantissa)
        self.min_possible = sys.float_info.min * self.gamma
        self.max_possible = sys.float_info.max / self.gamma

    @classmethod
    def from_gamma_offset(cls, gamma: float, offset: float) -> "KeyMapping":
        """Rebuild a mapping from its wire parameters (gamma, index offset)."""
        return cls(relative_accuracy_for_gamma(gamma), offset=offset)

    # -- vector kernels (the API the Spark layer uses) ----------------------

    @abstractmethod
    def _log_gamma_vec(self, values: np.ndarray) -> np.ndarray:
        """log base gamma (or an approximation) of a float64 array."""

    @abstractmethod
    def _pow_gamma_vec(self, x: np.ndarray) -> np.ndarray:
        """gamma**x (or the matching approximate inverse) of a float64 array."""

    def key_vec(self, values: np.ndarray) -> np.ndarray:
        """Bucket keys for an array of positive values -> int64 array.

        Non-finite inputs raise, mirroring the reference's ``int(ceil(inf))``
        ``OverflowError`` (``mapping.py:83``) instead of silently casting to
        INT64_MIN."""
        v = np.asarray(values, dtype=np.float64)
        lg = self._log_gamma_vec(v)
        if not np.isfinite(lg).all():
            bad = v[~np.isfinite(lg)][:3]
            raise ValueError(f"non-finite values cannot be keyed: {bad.tolist()}")
        return (np.ceil(lg) + self._offset).astype(np.int64)

    def value_vec(self, keys: np.ndarray) -> np.ndarray:
        """Representative value of each bucket key -> float64 array."""
        k = np.asarray(keys, dtype=np.float64)
        return self._pow_gamma_vec(k - self._offset) * (2.0 / (1.0 + self.gamma))

    # -- scalar conveniences (tests / finalizers) ---------------------------

    def key(self, value: float) -> int:
        return int(self.key_vec(np.array([value]))[0])

    def value(self, key: int) -> float:
        return float(self.value_vec(np.array([key]))[0])

    # -- Catalyst expression forms (the cells engine) -----------------------
    #
    # Each mapping also renders its key/value functions as Spark Column
    # expressions so the JVM cells engine works for every mapping, not just
    # the logarithmic one.  The interpolated mappings need frexp; its closed
    # column form is FLOOR(LOG2(v)) with an explicit +/-1 correction (libm
    # log2 can be one ulp off at powers of two), after which v / 2^e and the
    # subtraction of 1.0 are IEEE-exact — keys are bit-identical to the
    # NumPy kernels (property-tested in tests/test_mapping.py).

    def _approx_log_expr(self, v):
        """Mapping-specific log expression on a positive double column."""
        raise NotImplementedError

    def _approx_pow_expr(self, x):
        """Inverse of :meth:`_approx_log_expr` on a double column."""
        raise NotImplementedError

    def key_expr(self, v):
        """Bucket key (BIGINT column) of a positive double column — the
        Catalyst twin of :meth:`key_vec`."""
        from pyspark.sql import functions as F

        k = F.ceil(self._approx_log_expr(v) * F.lit(self._multiplier))
        if self._offset:
            k = (k.cast("double") + F.lit(self._offset)).cast("long")
        return k

    def value_expr(self, k):
        """Bucket representative value (double column) of a key column —
        the Catalyst twin of :meth:`value_vec`."""
        from pyspark.sql import functions as F

        x = (k.cast("double") - F.lit(self._offset)) / F.lit(self._multiplier)
        return self._approx_pow_expr(x) * F.lit(2.0 / (1.0 + self.gamma))


def _frexp_e_expr(v):
    """Column form of frexp's exponent-1: e such that v / 2^e is in [1, 2)."""
    from pyspark.sql import functions as F

    e0 = F.floor(F.log2(v))
    p = F.pow(F.lit(2.0), e0)
    return (
        F.when(v / p >= 2.0, e0 + 1).when(v / p < 1.0, e0 - 1).otherwise(e0)
    ).cast("long")


class LogarithmicMapping(KeyMapping):
    """Exact logarithmic mapping (reference ``mapping.py:96-113``).

    ``log_gamma(v) = log2(v) * (log(2)/log1p(2a/(1-a)))`` mirrors the
    reference's ``math.log(value, 2) * multiplier`` to within 1 ulp
    (``math.log(v, 2)`` is computed as ``log(v)/log(2)``, which can differ
    from the correctly-rounded ``np.log2`` in the last bit, shifting
    ``ceil()`` by one bucket only for values at exact bucket boundaries —
    the alpha accuracy guarantee is unaffected either way).
    """

    name = "logarithmic"

    def __init__(self, relative_accuracy: float, offset: float = 0.0) -> None:
        super().__init__(relative_accuracy, offset=offset)
        self._multiplier *= math.log(2.0)

    def _log_gamma_vec(self, values: np.ndarray) -> np.ndarray:
        return np.log2(values) * self._multiplier

    def _pow_gamma_vec(self, x: np.ndarray) -> np.ndarray:
        return np.power(2.0, x / self._multiplier)

    def _approx_log_expr(self, v):
        from pyspark.sql import functions as F

        return F.log2(v)

    def _approx_pow_expr(self, x):
        from pyspark.sql import functions as F

        return F.pow(F.lit(2.0), x)


def _frexp_vec(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vector frexp: v = m * 2**e with m in [0.5, 1)."""
    mantissa, exponent = np.frexp(values)
    return mantissa, exponent


class LinearlyInterpolatedMapping(KeyMapping):
    """Linear log2 approximation from the binary representation
    (reference ``mapping.py:124-157``): for ``v = (s+1) * 2**f`` with
    ``s in [0,1)``, approximate ``log2(v) ~= s + f``.
    """

    name = "linear"

    def _log2_approx_vec(self, values: np.ndarray) -> np.ndarray:
        mantissa, exponent = _frexp_vec(values)
        significand = 2.0 * mantissa - 1.0
        return significand + (exponent - 1)

    def _exp2_approx_vec(self, x: np.ndarray) -> np.ndarray:
        exponent = np.floor(x).astype(np.int64) + 1
        mantissa = (x - exponent + 2.0) / 2.0
        return np.ldexp(mantissa, exponent)

    def _log_gamma_vec(self, values: np.ndarray) -> np.ndarray:
        return self._log2_approx_vec(values) * self._multiplier

    def _pow_gamma_vec(self, x: np.ndarray) -> np.ndarray:
        return self._exp2_approx_vec(x / self._multiplier)

    def _approx_log_expr(self, v):
        from pyspark.sql import functions as F

        e = _frexp_e_expr(v)
        s = v / F.pow(F.lit(2.0), e.cast("double")) - F.lit(1.0)
        return s + e.cast("double")

    def _approx_pow_expr(self, x):
        from pyspark.sql import functions as F

        e2 = F.floor(x).cast("long") + 1
        mant = (x - e2.cast("double") + F.lit(2.0)) / F.lit(2.0)
        return mant * F.pow(F.lit(2.0), e2.cast("double"))


class CubicallyInterpolatedMapping(KeyMapping):
    """Cubic log2 approximation on the significand; inverse via Cardano
    (reference ``mapping.py:160-216``).  ``multiplier`` is divided by C so the
    polynomial's range matches one octave.
    """

    name = "cubic"

    A = 6.0 / 35.0
    B = -3.0 / 5.0
    C = 10.0 / 7.0

    def __init__(self, relative_accuracy: float, offset: float = 0.0) -> None:
        super().__init__(relative_accuracy, offset=offset)
        self._multiplier /= self.C

    def _cubic_log2_approx_vec(self, values: np.ndarray) -> np.ndarray:
        mantissa, exponent = _frexp_vec(values)
        s = 2.0 * mantissa - 1.0
        return ((self.A * s + self.B) * s + self.C) * s + (exponent - 1)

    def _cubic_exp2_approx_vec(self, x: np.ndarray) -> np.ndarray:
        exponent = np.floor(x)
        frac = x - exponent
        d0 = self.B * self.B - 3.0 * self.A * self.C
        d1 = (
            2.0 * self.B**3
            - 9.0 * self.A * self.B * self.C
            - 27.0 * self.A * self.A * frac
        )
        cardano = np.cbrt((d1 - np.sqrt(d1 * d1 - 4.0 * d0**3)) / 2.0)
        s_plus_one = -(self.B + cardano + d0 / cardano) / (3.0 * self.A) + 1.0
        return np.ldexp(s_plus_one / 2.0, exponent.astype(np.int64) + 1)

    def _log_gamma_vec(self, values: np.ndarray) -> np.ndarray:
        return self._cubic_log2_approx_vec(values) * self._multiplier

    def _pow_gamma_vec(self, x: np.ndarray) -> np.ndarray:
        return self._cubic_exp2_approx_vec(x / self._multiplier)

    def _approx_log_expr(self, v):
        from pyspark.sql import functions as F

        e = _frexp_e_expr(v)
        s = v / F.pow(F.lit(2.0), e.cast("double")) - F.lit(1.0)
        A, B, C = self.A, self.B, self.C
        return ((F.lit(A) * s + F.lit(B)) * s + F.lit(C)) * s + e.cast("double")

    def _approx_pow_expr(self, x):
        # Cardano inverse, constants folded exactly as the NumPy kernel
        # folds them (see _cubic_exp2_approx_vec)
        from pyspark.sql import functions as F

        A, B, C = self.A, self.B, self.C
        d0 = B * B - 3.0 * A * C
        t1 = 2.0 * B**3 - 9.0 * A * B * C
        c2 = 27.0 * A * A
        c3 = 4.0 * d0**3
        three_a = 3.0 * A
        ex = F.floor(x)
        frac = x - ex
        d1 = F.lit(t1) - F.lit(c2) * frac
        card = F.cbrt((d1 - F.sqrt(d1 * d1 - F.lit(c3))) / F.lit(2.0))
        sp1 = (-((F.lit(B) + card) + (F.lit(d0) / card))) / F.lit(three_a) + F.lit(1.0)
        return (sp1 / F.lit(2.0)) * F.pow(F.lit(2.0), ex.cast("long").cast("double") + F.lit(1.0))


_MAPPING_CLASSES = {
    "logarithmic": LogarithmicMapping,
    "linear": LinearlyInterpolatedMapping,
    "cubic": CubicallyInterpolatedMapping,
}

MAPPING_NAMES = tuple(_MAPPING_CLASSES)


def mapping_from_name(
    name: str, relative_accuracy: float, offset: float = 0.0
) -> KeyMapping:
    try:
        cls = _MAPPING_CLASSES[name]
    except KeyError:
        raise ValueError(f"unknown mapping {name!r}; one of {MAPPING_NAMES}") from None
    return cls(relative_accuracy, offset=offset)
