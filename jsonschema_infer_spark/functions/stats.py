"""Statistical test machinery for distribution-drift checks.

No scipy exists in the target environment (SURVEY.md environment facts), so
the p-values are implemented from the standard published algorithms:

- regularized incomplete gamma P/Q via series + Lentz continued fraction
  (Abramowitz & Stegun 6.5 / the classic gammp/gammq formulation), giving
  the chi-square survival function Q(k/2, x/2);
- the Kolmogorov asymptotic series Q_KS(lambda) = 2 * sum (-1)^{j-1}
  exp(-2 j^2 lambda^2), with Stephens' small-sample correction for the
  two-sample KS test.

Unit-tested against published table values (tests/test_stats.py).
"""

from __future__ import annotations

import math

_EPS = 3e-14
_MAX_ITER = 500


def _gamma_p_series(a: float, x: float) -> float:
    """P(a,x) by series expansion (valid for x < a+1)."""
    ap = a
    summ = term = 1.0 / a
    for _ in range(_MAX_ITER):
        ap += 1.0
        term *= x / ap
        summ += term
        if abs(term) < abs(summ) * _EPS:
            break
    return summ * math.exp(-x + a * math.log(x) - math.lgamma(a))


def _gamma_q_contfrac(a: float, x: float) -> float:
    """Q(a,x) by modified Lentz continued fraction (valid for x >= a+1)."""
    tiny = 1e-300
    b = x + 1.0 - a
    c = 1.0 / tiny
    d = 1.0 / b
    h = d
    for i in range(1, _MAX_ITER + 1):
        an = -i * (i - a)
        b += 2.0
        d = an * d + b
        if abs(d) < tiny:
            d = tiny
        c = b + an / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < _EPS:
            break
    return math.exp(-x + a * math.log(x) - math.lgamma(a)) * h


def gamma_q(a: float, x: float) -> float:
    """Regularized upper incomplete gamma Q(a, x) = 1 - P(a, x)."""
    if x < 0 or a <= 0:
        raise ValueError("gamma_q requires x >= 0, a > 0")
    if x == 0:
        return 1.0
    if x < a + 1.0:
        return 1.0 - _gamma_p_series(a, x)
    return _gamma_q_contfrac(a, x)


def chi2_sf(x: float, k: int) -> float:
    """Chi-square survival function P(X >= x) with k degrees of freedom."""
    if k <= 0:
        raise ValueError("k must be positive")
    return gamma_q(k / 2.0, x / 2.0)


def chi2_homogeneity(counts_a: dict, counts_b: dict) -> dict:
    """Two-sample chi-square homogeneity test over category counts.

    Expected counts from pooled proportions; dof = (#categories with pooled
    count > 0) - 1. Categories absent on one side count as 0 there."""
    cats = sorted(set(counts_a) | set(counts_b), key=str)
    na = float(sum(counts_a.values()))
    nb = float(sum(counts_b.values()))
    if na == 0 or nb == 0:
        raise ValueError("both samples must be non-empty")
    stat = 0.0
    used = 0
    for c in cats:
        oa = float(counts_a.get(c, 0))
        ob = float(counts_b.get(c, 0))
        pooled = (oa + ob) / (na + nb)
        if pooled == 0:
            continue
        used += 1
        ea, eb = na * pooled, nb * pooled
        stat += (oa - ea) ** 2 / ea + (ob - eb) ** 2 / eb
    dof = max(used - 1, 1)
    return {
        "statistic": stat,
        "dof": dof,
        "p_value": chi2_sf(stat, dof),
        "n_a": int(na),
        "n_b": int(nb),
        "categories": len(cats),
    }


def kolmogorov_sf(lam: float) -> float:
    """Kolmogorov distribution survival Q_KS(lambda) = 2*sum(-1)^{j-1}
    exp(-2 j^2 lambda^2). Monotone, Q(0)=1, Q(inf)=0."""
    if lam <= 0:
        return 1.0
    a2 = -2.0 * lam * lam
    total = 0.0
    sign = 1.0
    prev = 0.0
    for j in range(1, 101):
        term = sign * math.exp(a2 * j * j)
        total += term
        if abs(term) <= 1e-12 * abs(total) or abs(term) <= 1e-300:
            return max(min(2.0 * total, 1.0), 0.0)
        sign = -sign
        prev = term
    return max(min(2.0 * total, 1.0), 0.0)


def ks_two_sample_p(d: float, n1: int, n2: int) -> float:
    """Two-sample KS p-value: Stephens' asymptotic approximation
    (Numerical Recipes 14.3.3): ne = n1*n2/(n1+n2),
    lambda = (sqrt(ne) + 0.12 + 0.11/sqrt(ne)) * D."""
    if n1 <= 0 or n2 <= 0:
        raise ValueError("sample sizes must be positive")
    ne = n1 * n2 / float(n1 + n2)
    sq = math.sqrt(ne)
    return kolmogorov_sf((sq + 0.12 + 0.11 / sq) * d)
