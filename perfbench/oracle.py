"""Row-set comparison used by the correctness checks."""

from __future__ import annotations

import decimal
import math


def _close(a, b, rtol: float) -> bool:
    if isinstance(a, (float, decimal.Decimal)) or isinstance(b, (float, decimal.Decimal)):
        if a is None or b is None:
            return a is b
        a, b = float(a), float(b)
        return math.isclose(a, b, rel_tol=rtol, abs_tol=1e-9)
    return a == b


def compare_rows(name: str, expected: list[dict], got: list[dict], keys: list[str],
                 rtol: float = 1e-9) -> list[str]:
    """Problems found comparing two row sets keyed by ``keys``: missing or
    extra keys, and values that differ (floats within ``rtol``; the
    exact-decimal sums both engines use agree far inside it)."""
    def index(rows):
        return {tuple(r[k] for k in keys): r for r in rows}

    exp, act = index(expected), index(got)
    problems = []
    if len(exp) != len(expected) or len(act) != len(got):
        problems.append(f"{name}: duplicate keys")
    missing, extra = exp.keys() - act.keys(), act.keys() - exp.keys()
    if missing or extra:
        problems.append(f"{name}: {len(missing)} missing / {len(extra)} extra keys")
    bad = 0
    for k in exp.keys() & act.keys():
        if any(not _close(v, act[k].get(c), rtol) for c, v in exp[k].items()):
            bad += 1
    if bad:
        problems.append(f"{name}: {bad} rows differ")
    return problems


def compare_sequence(name: str, expected: list[tuple], got: list[tuple],
                     rtol: float = 1e-9) -> list[str]:
    """Problems found comparing two ordered result lists row by row."""
    if len(expected) != len(got):
        return [f"{name}: {len(got)} rows, expected {len(expected)}"]
    bad = sum(1 for e, g in zip(expected, got)
              if len(e) != len(g) or not all(_close(a, b, rtol) for a, b in zip(e, g)))
    return [f"{name}: {bad} rows differ"] if bad else []
