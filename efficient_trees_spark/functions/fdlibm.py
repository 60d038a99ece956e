"""Spark's ``log2`` in numpy, bit for bit.

Catalyst's ``Log2`` evaluates ``StrictMath.log(x) / StrictMath.log(2)``
(codegen and interpreted alike), and the Java spec requires
``StrictMath.log`` to return exactly fdlibm's ``__ieee754_log``.  The
platform ``np.log`` differs from it in the last bit on a fair share of
inputs, which is enough to flip an argmax between near-equal entropy gains.
:func:`log` is a vectorized transcription of fdlibm 5.3's ``e_log.c``: the
same constants and the same operation order, each step an IEEE-754
correctly rounded float64 operation, so numpy reproduces the JVM's bits.
"""

from __future__ import annotations

import numpy as np

_LN2_HI = 6.93147180369123816490e-01  # 3fe62e42 fee00000
_LN2_LO = 1.90821492927058770002e-10  # 3dea39ef 35793c76
_LG1 = 6.666666666666735130e-01  # 3FE55555 55555593
_LG2 = 3.999999999940941908e-01  # 3FD99999 9997FA04
_LG3 = 2.857142874366239149e-01  # 3FD24924 94229359
_LG4 = 2.222219843214978396e-01  # 3FCC71C5 1D8E78AF
_LG5 = 1.818357216161805012e-01  # 3FC74664 96CB03DE
_LG6 = 1.531383769920937332e-01  # 3FC39A09 D078C69F
_LG7 = 1.479819860511658591e-01  # 3FC2F112 DF3E5244


def log(x) -> np.ndarray:
    """``StrictMath.log`` of every element of ``x``, as float64.  The
    elements must be positive normal doubles — the proportions entropy
    takes; fdlibm's branches for zero, negative, subnormal, infinite and
    NaN input are not ported."""
    bits = np.array(x, dtype=np.float64, ndmin=1).view(np.int64)
    hx = (bits >> 32) & 0x000FFFFF  # the high word's mantissa bits
    i = (hx + 0x95F64) & 0x100000
    # x or x/2 normalized into [sqrt(2)/2, sqrt(2)): a new high word
    f = (((hx | (i ^ 0x3FF00000)) << 32) | (bits & 0xFFFFFFFF)).view(np.float64) - 1.0
    dk = ((bits >> 52) - 1023 + (i >> 20)).astype(np.float64)
    # fdlibm's separate k == 0 returns are these expressions at dk = 0:
    # 0.0 - (y - f) and f - y are the same IEEE double.
    s = f / (2.0 + f)
    z = s * s
    w = z * z
    t1 = w * (_LG2 + w * (_LG4 + w * _LG6))
    t2 = z * (_LG1 + w * (_LG3 + w * (_LG5 + w * _LG7)))
    r = t2 + t1
    hfsq = 0.5 * f * f
    tail = np.where(
        ((hx - 0x6147A) | (0x6B851 - hx)) > 0,
        hfsq - (s * (hfsq + r) + dk * _LN2_LO),
        s * (f - r) - dk * _LN2_LO,
    )
    out = dk * _LN2_HI - (tail - f)
    near = (0x000FFFFF & (2 + hx)) < 3  # |f| < 2**-20
    if near.any():
        f, dk = f[near], dk[near]
        r = f * f * (0.5 - 0.33333333333333333 * f)
        out[near] = np.where(
            f == 0.0,
            dk * _LN2_HI + dk * _LN2_LO,
            dk * _LN2_HI - ((r - dk * _LN2_LO) - f),
        )
    return out


_LOG_2 = float(log(2.0)[0])


def log2(x) -> np.ndarray:
    """Spark SQL's ``log2`` of every element of ``x`` (as :func:`log`):
    ``StrictMath.log(x) / StrictMath.log(2)``."""
    return log(x) / _LOG_2
