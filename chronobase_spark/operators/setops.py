"""Set operators (SURVEY.md §2.3).

The reference's only 'union' is the implicit memtable ∪ disk-tablets
concatenation inside its scan (reference internal/storage/table.go:140,156);
there are no user-facing set operations. Spark supplies all of them; the
notes below are the scale-relevant physical facts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def union_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    """UNION (distinct): concatenate then hash-deduplicate — one shuffle
    on all columns."""
    return a.unionByName(b).distinct()


def intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    """INTERSECT — planned as a left-semi hash join on all columns."""
    return a.intersect(b)


def except_(a: DataFrame, b: DataFrame) -> DataFrame:
    """ANSI EXCEPT (distinct): rows of ``a`` not present in ``b`` at all —
    planned as a left-anti hash join on all columns. (``exceptAll`` is the
    bag variant; ANSI EXCEPT is ``subtract``.)"""
    return a.subtract(b)


def intersect_all(a: DataFrame, b: DataFrame) -> DataFrame:
    """INTERSECT ALL (bag semantics): keeps min(multiplicity) copies —
    planned as an aggregate of per-side counts, one shuffle per side."""
    return a.intersectAll(b)


def except_all(a: DataFrame, b: DataFrame) -> DataFrame:
    """EXCEPT ALL (bag semantics): multiplicity-aware subtraction."""
    return a.exceptAll(b)
