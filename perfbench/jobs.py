"""Map, reduce and merge functions of the benchmark's MapReduce jobs.

Kept free of imports from the rest of the benchmark: the worker
registers this module for pickling by value, so Spark's Python workers
rebuild these functions without the benchmark on their import path.
"""

from __future__ import annotations

MOD = (1 << 61) - 1


def add(a, b):
    return a + b


def keyed_map_fn(row):
    return [(row.group_key, row.amount)]


def keyed_reduce_fn(value, acc):
    return acc + value


def ordered_map_fn(row):
    return [(row.group_key, row.v)]


def ordered_step(value, acc):
    """A fold that is not commutative: a polynomial hash of the key's
    values in emission order, so any reordering changes the answer."""
    return (acc * 31 + value + 1) % MOD
