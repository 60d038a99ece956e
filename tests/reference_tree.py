"""Independent NumPy/pandas oracle for the decision-tree semantics.

Implements the SAME contract as efficient_trees_spark.tree (exact
distinct-value threshold search, feature-max excluded, entropy/gini, gain>0
stopping, null-drop routing, deterministic tie-breaks) with a completely
different execution strategy (in-memory numpy loops).  Agreement between the
two implementations on randomized data is the parity gate (SURVEY.md §5),
standing in for the reference's golden iris lists (sklearn is not available in
this environment to regenerate the fixture).
"""

from __future__ import annotations

import math
from typing import Any

import numpy as np
import pandas as pd


def _impurity(counts: np.ndarray, criterion: str) -> float:
    total = counts.sum()
    if total == 0:
        return 0.0
    p = counts / total
    if criterion == "entropy":
        return float(-sum(pi * math.log2(pi) for pi in p if pi > 0))
    return float(1.0 - (p**2).sum())


def best_split(
    df: pd.DataFrame, features: list[str], target: str, classes: list, criterion: str
) -> dict | None:
    best = None
    for pos, feature in enumerate(features):
        sub = df[[feature, target]].dropna(subset=[feature])
        if sub.empty:
            continue
        values = np.sort(sub[feature].unique())
        parent_counts = np.array(
            [(sub[target] == c).sum() for c in classes], dtype=float
        )
        parent_imp = _impurity(parent_counts, criterion)
        n = len(sub)
        for threshold in values[:-1]:  # max value excluded
            left = sub[sub[feature] <= threshold]
            right = sub[sub[feature] > threshold]
            lc = np.array([(left[target] == c).sum() for c in classes], dtype=float)
            rc = np.array([(right[target] == c).sum() for c in classes], dtype=float)
            child = (len(left) / n) * _impurity(lc, criterion) + (
                len(right) / n
            ) * _impurity(rc, criterion)
            gain = parent_imp - child
            if math.isnan(gain):
                continue
            key = (-gain, pos, threshold)
            if best is None or key < best[0]:
                best = (key, {
                    "feature": feature,
                    "threshold": float(threshold),
                    "information_gain": gain,
                    "parent_criterion": parent_imp,
                })
    return best[1] if best else None


def _majority(df: pd.DataFrame, target: str, classes: list) -> Any:
    counts = [( (df[target] == c).sum(), c) for c in classes if (df[target] == c).sum() > 0]
    counts.sort(key=lambda pair: (-pair[0], classes.index(pair[1])))
    return counts[0][1]


def build_tree(
    df: pd.DataFrame,
    features: list[str],
    target: str,
    classes: list,
    criterion: str,
    max_depth: int | None,
    depth: int = 0,
) -> dict:
    majority = _majority(df, target, classes)
    if max_depth is not None and depth >= max_depth:
        return {"type": "leaf", "value": majority}
    best = best_split(df, features, target, classes, criterion)
    if best is None or not best["information_gain"] > 0:
        return {"type": "leaf", "value": majority}
    feature, threshold = best["feature"], best["threshold"]
    mask = df[feature] <= threshold  # NaN compares False → dropped from both
    anti_mask = df[feature] > threshold
    present = [c for c in classes if (df[target] == c).sum() > 0]
    return {
        "type": "node",
        "feature": feature,
        "threshold": threshold,
        "information_gain": best["information_gain"],
        "criterion_value": best["parent_criterion"],
        "target_distribution": [int((df[target] == c).sum()) for c in present],
        "left": build_tree(df[mask], features, target, classes, criterion, max_depth, depth + 1),
        "right": build_tree(df[anti_mask], features, target, classes, criterion, max_depth, depth + 1),
    }


def fit_reference(
    pdf: pd.DataFrame,
    target: str,
    criterion: str = "entropy",
    max_depth: int | None = None,
    categorical_columns: list[str] | None = None,
    shrink_features: bool = True,
) -> tuple[dict, dict]:
    """Returns (tree_dict, categorical_mappings) under the engine's contract."""
    df = pdf.copy()
    mappings: dict[str, dict] = {}
    for col in categorical_columns or []:
        # Spark's avg(cast(target as double)) yields NULL for non-numeric
        # labels; pd.to_numeric(errors="coerce") replicates that.
        numeric_target = pd.to_numeric(df[target], errors="coerce")
        avg = numeric_target.groupby(df[col]).mean()
        order = sorted(avg.index, key=lambda v: (not pd.isna(avg[v]), avg[v] if not pd.isna(avg[v]) else 0.0, v))
        mappings[col] = {value: index for index, value in enumerate(order)}
        df[col] = df[col].map(mappings[col])
    classes = sorted(df[target].unique().tolist())
    features = [c for c in df.columns if c != target]
    for f in features:
        # Reference shrink_dtype (tree.py:90): fractional features round to
        # float32, so thresholds are f32 values; ints/codes stay exact.
        if shrink_features and df[f].dtype.kind == "f":
            df[f] = df[f].astype(np.float32).astype(np.float64)
        else:
            df[f] = df[f].astype(float)
    tree = build_tree(df, features, target, classes, criterion, max_depth)
    return tree, mappings


def predict_reference(tree: dict, pdf: pd.DataFrame, mappings: dict) -> list:
    """Row walk with null-drop semantics (rows hitting a NaN split feature are
    omitted), mirroring transform(null_policy='drop')."""
    out = []
    for _, row in pdf.iterrows():
        node = tree
        dropped = False
        while node["type"] == "node":
            value = row[node["feature"]]
            if node["feature"] in mappings:
                value = mappings[node["feature"]].get(value)
            if value is None or (isinstance(value, float) and math.isnan(value)):
                dropped = True
                break
            node = node["left"] if value <= node["threshold"] else node["right"]
        if not dropped:
            out.append(node["value"])
    return out


def trees_equal(a: dict, b: dict, tol: float = 1e-9) -> bool:
    """Structural tree equality: exact features, class distributions and
    leaf values; thresholds and float criteria to a tolerance (the oracle's
    arithmetic is numpy's, not the engine's)."""
    if a["type"] != b["type"]:
        return False
    if a["type"] == "leaf":
        return a["value"] == b["value"]
    return (
        a["feature"] == b["feature"]
        and math.isclose(a["threshold"], b["threshold"], abs_tol=tol)
        and math.isclose(a["information_gain"], b["information_gain"], abs_tol=1e-6)
        and math.isclose(a["criterion_value"], b["criterion_value"], abs_tol=1e-6)
        and a["target_distribution"] == b["target_distribution"]
        and trees_equal(a["left"], b["left"], tol)
        and trees_equal(a["right"], b["right"], tol)
    )
