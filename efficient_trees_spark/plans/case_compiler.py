"""Compile a dict decision tree into a single nested CASE WHEN Column.

The reference evaluates batch prediction as a recursive partition query: tag
rows with an index, split the frame with two filters per internal node, project
a literal at each leaf, union the 2^depth leaf frames, and re-sort by the index
(``/root/reference/efficient_trees/tree.py:117-145``).  On Spark that shape
costs 2^depth scans plus a union plus a global sort whose only purpose is
restoring row order.

The plan-equivalent Spark form (SURVEY.md §2.9) is ONE projection: each row
evaluates a nested ``CASE WHEN feature <= threshold THEN <left> ELSE <right>``
expression compiled from the tree.  One pass, no shuffle, order preserved by
construction, whole-stage codegen end to end.  Depth-4 trees compile to ~31
nested WHENs — trivial for Catalyst.

Null routing parity (SURVEY.md §2.11.3): in the reference a row whose split
feature is NULL satisfies neither child filter and silently vanishes from the
output.  A naive ``when(c <= t, L).otherwise(R)`` would instead route NULLs
right (``otherwise`` fires on false AND null).  The compiled form therefore
uses two explicit WHEN arms and lets NULL fall through to a NULL prediction;
callers choose to drop (bit-parity), keep, or reject those rows.

The filter-union formulation is kept in ``filter_union_predict`` as a
cross-check oracle for tests.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def compile_tree(
    node: dict[str, Any], leaf: Callable[[dict[str, Any]], Column] | None = None
) -> Column:
    """Recursively compile a node dict (see ``tree.py`` for the schema) to a
    Column whose value is the predicted class, or NULL when the row's path
    hits a NULL split feature.  ``leaf`` compiles every node that is not
    an internal split (default: the leaf's class literal); the tree fit's
    melt passes one that maps a partial tree's pending nodes to their
    level slots, so its routing column is this same CASE."""
    if node["type"] != "node":
        return F.lit(node["value"]) if leaf is None else leaf(node)
    feature = F.col(node["feature"])
    threshold = F.lit(node["threshold"])
    return (
        F.when(feature <= threshold, compile_tree(node["left"], leaf))
        .when(feature > threshold, compile_tree(node["right"], leaf))
        .otherwise(F.lit(None))
    )


def filter_union_predict(
    df: DataFrame, node: dict[str, Any], index_col: str, prediction_col: str = "prediction"
) -> DataFrame:
    """Test oracle replicating the reference's recursive filter-union plan
    (tree.py:127-136): split on each internal node, project (index, literal)
    at each leaf, union all leaves.  Exercises the same null-drop semantics
    the compiled CASE emulates.  Not for production use — 2^depth branches."""
    if node["type"] == "leaf":
        return df.select(
            F.col(index_col), F.lit(node["value"]).alias(prediction_col)
        )
    left = filter_union_predict(
        df.filter(F.col(node["feature"]) <= node["threshold"]), node["left"], index_col, prediction_col
    )
    right = filter_union_predict(
        df.filter(F.col(node["feature"]) > node["threshold"]), node["right"], index_col, prediction_col
    )
    return left.unionByName(right, allowMissingColumns=True)
