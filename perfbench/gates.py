"""Correctness gates: compare a workload's output with its reference.

Each gate returns ``(mismatches, expected)``; ``mismatches / expected`` is
the run's ``error_frac``. The gates are pure Python so the benchmark's own
tests can feed them corrupted outputs without Spark.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

_MISSING = object()


def compare_sequence(expected: Sequence[tuple], got: Iterable[tuple]) -> tuple[int, int]:
    """``expected[i]`` is the row the output must hold at position ``i``
    (``got`` yields ``(position, *row)``). Mismatches count expected
    positions whose row is missing or differs, plus output rows at
    positions the reference does not have or that repeat a position."""
    seen: dict[int, tuple] = {}
    extra = 0
    for pos, *row in got:
        if pos in seen or not 0 <= pos < len(expected):
            extra += 1
        else:
            seen[pos] = tuple(row)
    bad = sum(1 for i, row in enumerate(expected) if seen.get(i) != tuple(row))
    return bad + extra, len(expected)


def compare_set(expected: Iterable, got: Iterable) -> tuple[int, int]:
    """Symmetric difference of two sets (a duplicate in ``got`` counts too)."""
    exp = set(expected)
    got = list(got)
    dup = len(got) - len(set(got))
    return len(exp ^ set(got)) + dup, len(exp)


def compare_keyed(expected: dict, got: Iterable[tuple]) -> tuple[int, int]:
    """``got`` yields ``(key, row)``; a key is wrong when its row differs
    from ``expected[key]``, is missing, repeats, or is not expected."""
    seen: dict = {}
    extra = 0
    for key, row in got:
        if key in seen or key not in expected:
            extra += 1
        else:
            seen[key] = row
    bad = sum(1 for k, row in expected.items() if seen.get(k, _MISSING) != row)
    return bad + extra, len(expected)


def combine(*results: tuple[int, int]) -> tuple[int, int]:
    return sum(r[0] for r in results), sum(r[1] for r in results)
