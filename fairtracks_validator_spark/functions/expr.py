"""Expression-level helpers shared across operators."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def let_(bound_expr: Column, body) -> Column:
    """Poor-man's let-binding for Column expressions: ``let_(e, f) ≡ f(e)``
    but ``e`` is evaluated ONCE per row.

    Catalyst's CollapseProject inlines a projected column into every use
    site and interpreted higher-order functions have no common-subexpression
    elimination, so an expensive expression referenced k times (a MinHash
    signature used by 4 band keys, a token array scored by 4 stopword
    profiles) is otherwise recomputed k times. Wrapping it as the input of a
    single-element ``transform`` forces one evaluation; the lambda variable
    is a cheap bound reference. Works for any data type, including structs.
    """
    return F.element_at(F.transform(F.array(bound_expr), body), 1)


def unpushable(cond: Column) -> Column:
    """Block predicate pushdown of ``cond`` without changing its value.

    The optimizer pushes filters below repartition exchanges, unions and
    semi-joins, alias-inlining every computed column the predicate touches
    (``PushDownPredicates`` → ``replaceAlias``). For a predicate over an
    expensive derived column — a shingle array, the fused check verdict —
    that duplicates the whole derivation: once below the exchange, where the
    scan side may be a single unsplittable parquet row group (ONE task), and
    again above it. Measured on the 50k-doc corpus: the pushed copy of the
    shingle filter ran 2 s single-threaded before the 32-way stage even
    started.

    Wrapping the predicate in a non-deterministic-but-value-preserving
    guard makes it ineligible for pushdown (non-deterministic predicates
    are never moved and never split into conjuncts), so it evaluates
    exactly where written — after the parallelizing exchange, once. The
    guard is ``shuffle`` of a one-element array: non-deterministic to the
    optimizer, identity in value, so the filter's VALUE is deterministic
    under task retry. (A ``rand() >= -1`` guard does NOT survive: the
    optimizer folds comparisons against constants outside rand's [0,1)
    range and the unwrapped predicate pushes right back down.)

    Use only on predicates whose inputs are expensive to compute; cheap
    key-based filters benefit from pushdown and must stay pushable.
    """
    return F.element_at(F.shuffle(F.array(cond)), 1)


def null_safe_group_key(col: Column) -> Column:
    """Grouping/rejoin surrogate that keeps NULL as a real stratum.

    Equi-joins drop NULL keys (null != null), so operators that aggregate
    per group and join the result back would silently lose every NULL-group
    row. Coalescing onto a sentinel that no cast-to-string value can equal
    (a leading NUL byte) keeps the stratum intact; the original column
    passes through untouched for output.
    """
    return F.coalesce(col.cast("string"), F.lit("\x00null"))


def context_memo(store: dict, key, sc, build):
    """``build()`` once per ``key`` and live SparkContext ``sc``, kept in
    ``store``. For Columns built once and reused across runs: they are JVM
    objects, and each function call that builds one is a round trip to the
    JVM, so a run that rebuilds its expressions pays thousands of them. A
    restarted session rebuilds instead of reusing Columns of a dead one."""
    hit = store.get(key)
    if hit is None or hit[0] is not sc:
        hit = store[key] = (sc, build())
    return hit[1]

