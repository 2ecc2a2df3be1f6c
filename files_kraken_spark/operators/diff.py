"""Snapshot diff operators (reference parity: D1-D4).

The reference diffs two file-tree snapshots with Python set
differences (``monitoring/_monitoring.py:39-50``) and merges change
sets with list concat (``:31-34``). Columnar form: two anti-joins on
the key plus a tagged union. Catalyst/AQE picks broadcast vs shuffle
per side size; at 100 TB the diff is one shuffle on the path key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CREATED, DELETED = "created", "deleted"


def snapshot_diff(prev: DataFrame, cur: DataFrame, key: str = "path") -> DataFrame:
    """D1 — ``created = cur − prev``, ``deleted = prev − cur`` on the
    key column; returns ``(key, change)`` rows, empty if no changes."""
    created = cur.select(key).join(prev.select(key), key, "left_anti").withColumn(
        "change", F.lit(CREATED)
    )
    deleted = prev.select(key).join(cur.select(key), key, "left_anti").withColumn(
        "change", F.lit(DELETED)
    )
    return created.unionByName(deleted)


def merge_changes(*change_sets: DataFrame) -> DataFrame:
    """D4 — Changes.extend: union of change sets
    (``monitoring/_monitoring.py:31-34``)."""
    out = change_sets[0]
    for c in change_sets[1:]:
        out = out.unionByName(c)
    return out


def restrict_to_subtrees(changes: DataFrame, roots: list[str], col: str = "path") -> DataFrame:
    """D5 — coworker semantics: keep only changes under the given
    directory roots (``monitoring/_monitoring.py:229-264``); a single
    recursive source + this filter replaces per-subtree watchers."""
    pred: Column = F.lit(False)
    for r in roots:
        pred = pred | F.col(col).startswith(r.rstrip("/") + "/")
    return changes.filter(pred)
