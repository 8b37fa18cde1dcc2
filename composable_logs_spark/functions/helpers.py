"""Small helper parity with the reference's helpers.py (SURVEY §2.7
C7-C10, §2.3 J10): range arithmetic, list/dict utilities, function
composition. Each comes in a plain-Python form (used by the orchestrator
and tests, like the reference) and — where it appears in queries — a
Column-expression form.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Sequence, TypeVar

from pyspark.sql import Column
from pyspark.sql import functions as F

T = TypeVar("T")

# --- range arithmetic (reference helpers.py:28-53; J10) -------------------


def range_intersection(a: tuple[float, float], b: tuple[float, float]) -> tuple[float, float] | None:
    """Intersection of two half-open ranges [start, end); None if empty."""
    lo, hi = max(a[0], b[0]), min(a[1], b[1])
    return (lo, hi) if lo < hi else None


def range_intersect(a: tuple[float, float], b: tuple[float, float]) -> bool:
    return range_intersection(a, b) is not None


def range_is_empty(r: tuple[float, float] | None) -> bool:
    return r is None or r[0] >= r[1]


# --- list helpers (reference helpers.py:65-87; C9/C10) --------------------


def flatten(nested: Iterable[Iterable[T]]) -> list[T]:
    return [x for inner in nested for x in inner]


def pairs(xs: Sequence[T]) -> list[tuple[T, T]]:
    """Consecutive pairs: pairs([1,2,3]) == [(1,2),(2,3)]."""
    return list(zip(xs, xs[1:]))


# --- dict helpers (reference helpers.py:108-130; C7/C8) -------------------


def dict_prefix_keys(prefix: str, d: dict[str, Any]) -> dict[str, Any]:
    return {f"{prefix}{k}": v for k, v in d.items()}


def del_key(d: dict[str, Any], key: str) -> dict[str, Any]:
    """Copy without ``key`` (missing key is fine)."""
    return {k: v for k, v in d.items() if k != key}


def map_prefix_keys_col(m: Column, prefix: str) -> Column:
    return F.transform_keys(m, lambda k, v: F.concat(F.lit(prefix), k))


def map_del_key_col(m: Column, key: str) -> Column:
    return F.map_filter(m, lambda k, v: k != F.lit(key))


# --- composition (reference helpers.py:133-154) ---------------------------


def compose(*fns: Callable) -> Callable:
    """compose(f, g, h)(x) == f(g(h(x)))."""

    def run(x):
        for f in reversed(fns):
            x = f(x)
        return x

    return run


def one(xs: Iterable[T]) -> T:
    """O2: assert exactly one element and return it (helpers.py:90-102)."""
    items = list(xs)
    if len(items) != 1:
        raise ValueError(f"expected exactly one element, got {len(items)}")
    return items[0]
