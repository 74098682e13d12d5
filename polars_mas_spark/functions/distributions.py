"""Pure-Python/NumPy statistical distributions.

The execution environment (driver *and* Spark executors) has no SciPy,
statsmodels, or firthmodels, so the engine carries its own implementations
of the handful of special functions the regression kernels need:

- normal CDF/SF/PPF          (erfc + Acklam's inverse-normal + Newton polish)
- chi-square survival        (regularized incomplete gamma; df=1 fast path)
- Student-t survival/PPF     (regularized incomplete beta via Lentz's
                              continued fraction; PPF by Newton iteration)

All algorithms are classical published numerical methods (Abramowitz &
Stegun §6.5/§26.5; Lentz 1976 continued fractions; Acklam 2003 inverse
normal approximation). Accuracy is ~1e-14 relative after Newton polish,
comfortably inside the 1e-8 parity budget the reference engine itself
uses against R (reference: /root/reference/benchmarks/README.md:69-81).
"""

from __future__ import annotations

import math

_SQRT2 = math.sqrt(2.0)
_EPS = 1e-15
_FPMIN = 1e-300


def norm_cdf(x: float) -> float:
    return 0.5 * math.erfc(-x / _SQRT2)


def norm_sf(x: float) -> float:
    return 0.5 * math.erfc(x / _SQRT2)


# Coefficients for Acklam's rational approximation of the inverse normal CDF.
_ACKLAM_A = (-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
             1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00)
_ACKLAM_B = (-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
             6.680131188771972e+01, -1.328068155288572e+01)
_ACKLAM_C = (-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
             -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00)
_ACKLAM_D = (7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
             3.754408661907416e+00)


def norm_ppf(p: float) -> float:
    """Inverse normal CDF: Acklam's approximation + one Halley polish step."""
    if not 0.0 < p < 1.0:
        if p == 0.0:
            return -math.inf
        if p == 1.0:
            return math.inf
        return math.nan
    a, b, c, d = _ACKLAM_A, _ACKLAM_B, _ACKLAM_C, _ACKLAM_D
    plow, phigh = 0.02425, 1 - 0.02425
    if p < plow:
        q = math.sqrt(-2.0 * math.log(p))
        x = ((((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5])
             / ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1.0))
    elif p <= phigh:
        q = p - 0.5
        r = q * q
        x = ((((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r + a[5]) * q
             / (((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1.0))
    else:
        q = math.sqrt(-2.0 * math.log(1.0 - p))
        x = -((((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5])
              / ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1.0))
    # Halley polish to near machine precision.
    e = norm_cdf(x) - p
    u = e * math.sqrt(2.0 * math.pi) * math.exp(0.5 * x * x)
    x = x - u / (1.0 + 0.5 * x * u)
    return x


def _gammainc_lower_reg(a: float, x: float) -> float:
    """Regularized lower incomplete gamma P(a, x)."""
    if x < 0 or a <= 0:
        return math.nan
    if x == 0:
        return 0.0
    if x < a + 1.0:
        # Series expansion.
        ap = a
        summ = 1.0 / a
        delta = summ
        for _ in range(500):
            ap += 1.0
            delta *= x / ap
            summ += delta
            if abs(delta) < abs(summ) * _EPS:
                break
        return summ * math.exp(-x + a * math.log(x) - math.lgamma(a))
    return 1.0 - _gammainc_upper_reg_cf(a, x)


def _gammainc_upper_reg_cf(a: float, x: float) -> float:
    """Regularized upper incomplete gamma Q(a, x) by continued fraction."""
    b = x + 1.0 - a
    c = 1.0 / _FPMIN
    d = 1.0 / b
    h = d
    for i in range(1, 500):
        an = -i * (i - a)
        b += 2.0
        d = an * d + b
        if abs(d) < _FPMIN:
            d = _FPMIN
        c = b + an / c
        if abs(c) < _FPMIN:
            c = _FPMIN
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < _EPS:
            break
    return math.exp(-x + a * math.log(x) - math.lgamma(a)) * h


def chi2_sf(x: float, df: float = 1.0) -> float:
    """Chi-square survival function P(X > x)."""
    if math.isnan(x):
        return math.nan
    if x <= 0:
        return 1.0
    if df == 1.0:
        return math.erfc(math.sqrt(0.5 * x))
    if x < 0.5 * df + 1.0:
        return 1.0 - _gammainc_lower_reg(0.5 * df, 0.5 * x)
    return _gammainc_upper_reg_cf(0.5 * df, 0.5 * x)


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction for the incomplete beta (modified Lentz)."""
    qab = a + b
    qap = a + 1.0
    qam = a - 1.0
    c = 1.0
    d = 1.0 - qab * x / qap
    if abs(d) < _FPMIN:
        d = _FPMIN
    d = 1.0 / d
    h = d
    for m in range(1, 500):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < _FPMIN:
            d = _FPMIN
        c = 1.0 + aa / c
        if abs(c) < _FPMIN:
            c = _FPMIN
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < _FPMIN:
            d = _FPMIN
        c = 1.0 + aa / c
        if abs(c) < _FPMIN:
            c = _FPMIN
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < _EPS:
            break
    return h


def betainc_reg(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_front = (math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                + a * math.log(x) + b * math.log(1.0 - x))
    front = math.exp(ln_front)
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def t_sf(t: float, df: float) -> float:
    """Student-t survival function P(T > t)."""
    if math.isnan(t):
        return math.nan
    if math.isinf(t):
        return 0.0 if t > 0 else 1.0
    x = df / (df + t * t)
    p = 0.5 * betainc_reg(0.5 * df, 0.5, x)
    return p if t >= 0 else 1.0 - p


def t_pdf(x: float, df: float) -> float:
    return math.exp(math.lgamma(0.5 * (df + 1.0)) - math.lgamma(0.5 * df)
                    - 0.5 * math.log(df * math.pi)
                    - 0.5 * (df + 1.0) * math.log1p(x * x / df))


# ---------------------------------------------------------------------------
# Vectorized (numpy) normal CDF / inverse CDF for Arrow-batched UDFs.
#
# numpy has no erfc (that lives in scipy.special, absent here), so the
# CDF uses W. J. Cody's classical rational Chebyshev approximation for
# erf/erfc ("Rational Chebyshev approximation for the error function",
# Math. Comp. 23, 1969; the netlib CALERF coefficients), accurate to
# ~1e-16 relative — validated against math.erfc in tests. The inverse is
# Acklam's approximation polished with one Halley step, identical in
# structure to the scalar norm_ppf above; scalar and vector paths agree
# to ~1e-15 (pinned by a test).
# ---------------------------------------------------------------------------

import numpy as np

_CODY_A = (3.16112374387056560e00, 1.13864154151050156e02,
           3.77485237685302021e02, 3.20937758913846947e03,
           1.85777706184603153e-1)
_CODY_B = (2.36012909523441209e01, 2.44024637934444173e02,
           1.28261652607737228e03, 2.84423683343917062e03)
_CODY_C = (5.64188496988670089e-1, 8.88314979438837594e00,
           6.61191906371416295e01, 2.98635138197400131e02,
           8.81952221241769090e02, 1.71204761263407058e03,
           2.05107837782607147e03, 1.23033935479799725e03,
           2.15311535474403846e-8)
_CODY_D = (1.57449261107098347e01, 1.17693950891312499e02,
           5.37181101862009858e02, 1.62138957456669019e03,
           3.29079923573345963e03, 4.36261909014324716e03,
           3.43936767414372164e03, 1.23033935480374942e03)
_CODY_P = (3.05326634961232344e-1, 3.60344899949804439e-1,
           1.25781726111229246e-1, 1.60837851487422766e-2,
           6.58749161529837803e-4, 1.63153871373020978e-2)
_CODY_Q = (2.56852019228982242e00, 1.87295284992346047e00,
           5.27905102951428412e-1, 6.05183413124413191e-2,
           2.33520497626869185e-3)


def erfc_vec(x: np.ndarray) -> np.ndarray:
    """Vectorized complementary error function (Cody/CALERF)."""
    x = np.asarray(x, dtype=np.float64)
    ax = np.abs(x)
    # NaN-initialized, NOT empty: NaN inputs match none of the three
    # range masks, and an uninitialized slot would leak stale heap
    # contents as a "result" (math.erfc(nan) is nan; so is this).
    out = np.full_like(ax, np.nan)

    # |x| <= 0.46875: erfc = 1 - erf, erf via A/B rational in x^2.
    m1 = ax <= 0.46875
    if m1.any():
        z = ax[m1] * ax[m1]
        a, b = _CODY_A, _CODY_B
        num = ((((a[4] * z + a[0]) * z + a[1]) * z + a[2]) * z + a[3]) * ax[m1]
        den = (((z + b[0]) * z + b[1]) * z + b[2]) * z + b[3]
        out[m1] = 1.0 - num / den

    # 0.46875 < |x| <= 4: erfc = exp(-x^2) * C/D rational in |x|.
    m2 = (ax > 0.46875) & (ax <= 4.0)
    if m2.any():
        y = ax[m2]
        c, d = _CODY_C, _CODY_D
        num = ((((((((c[8] * y + c[0]) * y + c[1]) * y + c[2]) * y + c[3])
                  * y + c[4]) * y + c[5]) * y + c[6]) * y + c[7])
        den = ((((((((y + d[0]) * y + d[1]) * y + d[2]) * y + d[3])
                  * y + d[4]) * y + d[5]) * y + d[6]) * y + d[7])
        out[m2] = np.exp(-y * y) * num / den

    # |x| > 4: erfc = exp(-x^2)/x * (1/sqrt(pi) - P/Q rational in 1/x^2).
    m3 = ax > 4.0
    if m3.any():
        y = ax[m3]
        z = 1.0 / (y * y)
        p, q = _CODY_P, _CODY_Q
        num = ((((p[5] * z + p[0]) * z + p[1]) * z + p[2]) * z + p[3]) * z + p[4]
        den = ((((z + q[0]) * z + q[1]) * z + q[2]) * z + q[3]) * z + q[4]
        r = z * num / den
        with np.errstate(under="ignore"):
            out[m3] = np.exp(-y * y) * (1.0 / np.sqrt(np.pi) - r) / y
        out[m3] = np.where(y > 26.5, 0.0, out[m3])

    # Reflect for negative x: erfc(-x) = 2 - erfc(x).
    return np.where(x < 0, 2.0 - out, out)


def norm_cdf_vec(x: np.ndarray) -> np.ndarray:
    return 0.5 * erfc_vec(-np.asarray(x, dtype=np.float64) / _SQRT2)


def norm_ppf_vec(p: np.ndarray) -> np.ndarray:
    """Vectorized inverse normal CDF (Acklam + one Halley polish step).
    NaN in -> NaN out; 0 -> -inf, 1 -> +inf, outside [0,1] -> NaN."""
    p = np.asarray(p, dtype=np.float64)
    x = np.full_like(p, np.nan)
    a, b, c, d = _ACKLAM_A, _ACKLAM_B, _ACKLAM_C, _ACKLAM_D
    plow, phigh = 0.02425, 1 - 0.02425

    with np.errstate(invalid="ignore", divide="ignore"):
        mlow = (p > 0.0) & (p < plow)
        if mlow.any():
            q = np.sqrt(-2.0 * np.log(p[mlow]))
            x[mlow] = (
                (((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5])
                / ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1.0)
            )
        mmid = (p >= plow) & (p <= phigh)
        if mmid.any():
            q = p[mmid] - 0.5
            r = q * q
            x[mmid] = (
                (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r + a[5]) * q
                / (((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1.0)
            )
        mhigh = (p > phigh) & (p < 1.0)
        if mhigh.any():
            q = np.sqrt(-2.0 * np.log(1.0 - p[mhigh]))
            x[mhigh] = -(
                (((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5])
                / ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1.0)
            )
        finite = mlow | mmid | mhigh
        if finite.any():
            # Halley polish to near machine precision (same step as the
            # scalar norm_ppf so both paths agree bit-for-bit in spirit).
            xf = x[finite]
            e = norm_cdf_vec(xf) - p[finite]
            u = e * np.sqrt(2.0 * np.pi) * np.exp(0.5 * xf * xf)
            x[finite] = xf - u / (1.0 + 0.5 * xf * u)
        x[p == 0.0] = -np.inf
        x[p == 1.0] = np.inf
    return x


def t_ppf(p: float, df: float) -> float:
    """Inverse Student-t CDF via Newton iteration from the normal start."""
    if not 0.0 < p < 1.0:
        if p == 0.0:
            return -math.inf
        if p == 1.0:
            return math.inf
        return math.nan
    if p == 0.5:
        return 0.0
    x = norm_ppf(p)
    for _ in range(100):
        cdf = 1.0 - t_sf(x, df)
        pdf = t_pdf(x, df)
        if pdf <= 0:
            break
        step = (cdf - p) / pdf
        # Damp huge steps in the far tails.
        if abs(step) > 2.0 + abs(x):
            step = math.copysign(2.0 + abs(x), step)
        x -= step
        if abs(step) < 1e-12 * max(1.0, abs(x)):
            break
    return x
