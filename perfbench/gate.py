"""The benchmark's correctness gate.

An operation passes only if every evaluation it made passes. The checks,
all computed outside the timed region:

- schema: the noisy result has the columns of the exact result;
- size: a KeySet query returns one row per KeySet row;
- materialized: a second fetch of the same DataFrame returns identical
  rows (the result was checkpointed, not re-sampled);
- noise: for additive mechanisms (count, sum, count_distinct) the
  residuals noisy - exact, divided by the standard deviation of the
  mechanism the session reports, have a mean square of 1 and no more
  exact zeros than the mechanism allows; for nonlinear releases
  (average, variance, stdev) at least one value differs from the exact
  one; quantiles fall inside their clamp bounds; released groups are
  groups of the exact result;
- budget: each session's remaining budget equals its initial budget
  minus the budgets charged, exactly.

The exact result of a query comes from an evaluate of the same query at
epsilon 2**40 on a separate session (``workloads.ORACLE_EPSILON``):
integer mechanisms add exactly 0 there, and sums, averages, variances
and stdevs were within 1e-8 relative of the infinite-budget answer.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import List

import numpy as np
import pandas as pd

#: Residual checks tolerate this many standard errors.
SIGMAS = 6.0


def noise_variance(info: dict) -> float:
    """Variance of one draw of the mechanism a noise-info record names."""
    mech, p = info["noise_mechanism"], float(info["noise_parameter"])
    if p == 0:
        return 0.0
    if mech == "GEOMETRIC":
        a = math.exp(-1.0 / p)
        return 2.0 * a / (1.0 - a) ** 2
    if mech == "LAPLACE":
        return 2.0 * p * p
    if mech in ("GAUSSIAN", "DISCRETE_GAUSSIAN"):
        return p  # reported as sigma^2
    raise ValueError(f"no residual model for {mech}")


def zero_probability(info: dict) -> float:
    """P(draw == 0): positive only for integer mechanisms."""
    mech, p = info["noise_mechanism"], float(info["noise_parameter"])
    if mech == "GEOMETRIC":
        a = math.exp(-1.0 / p)
        return (1.0 - a) / (1.0 + a)
    if mech == "DISCRETE_GAUSSIAN":
        return min(1.0, 1.0 / math.sqrt(2.0 * math.pi * p))
    return 0.0


@dataclass
class Residuals:
    """Pooled residual statistics of the additive evaluations of a run."""

    z2: List[float] = field(default_factory=list)
    zeros: int = 0
    zeros_expected: float = 0.0
    zeros_var: float = 0.0
    owners: set = field(default_factory=set)

    def add(self, owner: int, resid: np.ndarray, info: dict) -> None:
        var = noise_variance(info)
        p0 = zero_probability(info)
        self.z2.extend((resid * resid / var).tolist())
        self.zeros += int(np.count_nonzero(resid == 0))
        self.zeros_expected += p0 * len(resid)
        self.zeros_var += p0 * (1 - p0) * len(resid)
        self.owners.add(owner)

    def failures(self) -> List[str]:
        n = len(self.z2)
        if n == 0:
            return []
        out = []
        # A Laplace draw has kurtosis 6; 8 bounds Var(z^2) for every
        # mechanism and scale used here.
        mean = float(np.mean(self.z2))
        tol = SIGMAS * math.sqrt(8.0 / n)
        if abs(mean - 1.0) > tol:
            out.append(f"mean squared z-score {mean:.3f} over {n} groups, want 1 +- {tol:.3f}")
        limit = self.zeros_expected + SIGMAS * math.sqrt(self.zeros_var) + 1
        if self.zeros > limit:
            out.append(f"{self.zeros} zero residuals of {n}, at most {limit:.1f} expected")
        return out


def _aligned(noisy: pd.DataFrame, exact: pd.DataFrame, keys: List[str], col: str):
    if not keys:
        return noisy[col].to_numpy(dtype=float), exact[col].to_numpy(dtype=float)
    m = noisy.merge(exact, on=keys, how="inner", suffixes=("", "__exact"))
    if len(m) != len(noisy):
        return None
    return m[col].to_numpy(dtype=float), m[f"{col}__exact"].to_numpy(dtype=float)


def check_evaluation(ev, exact: pd.DataFrame, keyset_size, owner: int,
                     residuals: Residuals) -> List[str]:
    """Failures of one noisy evaluation against its exact counterpart."""
    noisy = ev.rows
    fails = []
    if list(noisy.columns) != list(exact.columns):
        fails.append(f"columns {list(noisy.columns)} != {list(exact.columns)}")
        return fails
    if not ev.same_on_refetch:
        fails.append("a second fetch returned different rows (not materialized)")
    if ev.kind == "groups":
        got = set(map(tuple, noisy[ev.key_cols].itertuples(index=False)))
        want = set(map(tuple, exact[ev.key_cols].itertuples(index=False)))
        if not got <= want:
            fails.append(f"{len(got - want)} released groups are not in the data")
        return fails
    if keyset_size is not None and len(noisy) != keyset_size:
        fails.append(f"{len(noisy)} rows for a {keyset_size}-row KeySet")
        return fails
    pair = _aligned(noisy, exact, ev.key_cols, ev.value_col)
    if pair is None:
        fails.append("result keys do not match the exact result's keys")
        return fails
    got, want = pair
    if not np.all(np.isfinite(got)):
        fails.append("non-finite released values")
        return fails
    if ev.kind == "additive":
        infos = ev.noise_info
        if len(infos) != 1:
            fails.append(f"expected one noise mechanism, session reports {len(infos)}")
            return fails
        residuals.add(owner, got - want, infos[0])
    elif ev.kind == "nonlinear":
        # The oracle's own noise moves a value by at most ~1e-8 relative;
        # the timed queries' noise moves it by far more than 1e-6.
        close = np.abs(got - want) <= 1e-6 * np.maximum(1.0, np.abs(want))
        if close.all():
            fails.append("every released value equals the exact value: no noise")
    elif ev.kind == "quantile":
        lo, hi = ev.bounds
        if np.any(got < lo) or np.any(got > hi):
            fails.append(f"quantile outside its clamp bounds [{lo}, {hi}]")
    return fails
