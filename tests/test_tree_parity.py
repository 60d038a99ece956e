"""Parity gate: the Spark engine must produce the IDENTICAL tree dict and
predictions as an independent in-memory oracle (tests/reference_tree.py) under
the shared deterministic-semantics contract, across the reference's test
matrix dimensions (criterion x categorical x label dtype —
/root/reference/tests/integration/test_tree.py:67-70)."""

import math

import numpy as np
import pandas as pd
import pytest

from efficient_trees_spark import Criterion, DecisionTreeClassifier
from tests.reference_tree import fit_reference, predict_reference, trees_equal
from tests.spies import force_fit_path


def _synthetic_frame(seed: int, n: int = 200, with_nulls: bool = False) -> pd.DataFrame:
    """Deterministic classification data: 4 informative floats + 1 cyclic
    categorical + int target with class structure (iris-like shape)."""
    rng = np.random.RandomState(seed)
    target = rng.randint(0, 3, size=n)
    pdf = pd.DataFrame(
        {
            "f_a": np.round(target * 1.5 + rng.normal(0, 1.0, n), 2),
            "f_b": np.round(-target * 0.8 + rng.normal(0, 1.2, n), 2),
            "f_c": np.round(rng.normal(0, 1.0, n), 2),
            "f_d": np.round(target * 0.3 + rng.normal(0, 2.0, n), 2),
            "categorical_feature": [(i % 3) + 1 for i in range(n)],
            "target": target,
        }
    )
    if with_nulls:
        null_mask = rng.rand(n) < 0.1
        pdf.loc[null_mask, "f_a"] = np.nan
    return pdf


@pytest.mark.parametrize("criterion", [Criterion.ENTROPY, Criterion.GINI])
@pytest.mark.parametrize("use_categorical", [False, True])
@pytest.mark.parametrize("string_labels", [False, True])
def test_fit_matches_oracle(spark, criterion, use_categorical, string_labels):
    pdf = _synthetic_frame(seed=42)
    if string_labels:
        pdf["target"] = pdf["target"].map({0: "setosa", 1: "versicolor", 2: "virginica"})
    cats = ["categorical_feature"] if use_categorical else None

    ref_tree, ref_mappings = fit_reference(
        pdf, "target", criterion.value, max_depth=4, categorical_columns=cats
    )

    model = DecisionTreeClassifier(max_depth=4, categorical_columns=cats, criterion=criterion)
    model.fit(spark.createDataFrame(pdf), "target")

    assert model.categorical_mappings == (ref_mappings if cats else None) or (
        not cats and model.categorical_mappings is None
    )
    assert trees_equal(model.tree, ref_tree), f"{model.tree}\n!=\n{ref_tree}"

    # predictions: compiled CASE == oracle row walk == driver predict
    sdf = spark.createDataFrame(pdf)
    spark_preds = model.predict_many(sdf)
    ref_preds = predict_reference(ref_tree, pdf, ref_mappings)
    assert spark_preds == ref_preds

    driver_preds = model.predict(pdf.to_dict("records"))
    assert driver_preds == spark_preds


def test_null_routing_drops_rows_from_both_children(spark):
    pdf = _synthetic_frame(seed=7, with_nulls=True)
    ref_tree, ref_mappings = fit_reference(pdf, "target", "entropy", max_depth=3)

    model = DecisionTreeClassifier(max_depth=3, criterion=Criterion.ENTROPY)
    model.fit(spark.createDataFrame(pdf), "target")
    assert trees_equal(model.tree, ref_tree)

    sdf = spark.createDataFrame(pdf)
    preds = model.predict_many(sdf)
    ref_preds = predict_reference(ref_tree, pdf, ref_mappings)
    assert preds == ref_preds
    if model.tree["type"] == "node":  # some rows should actually have been dropped
        assert len(preds) < len(pdf)

    # keep-policy returns every row, NULL prediction on dropped paths
    kept = model.transform(sdf, null_policy="keep")
    assert kept.count() == len(pdf)

    with pytest.raises(ValueError, match="NULL split feature"):
        model.transform(sdf, null_policy="strict").count()


def test_depth4_fit_with_nulls_matches_oracle(spark, monkeypatch):
    """A depth-4 fit over NULL-bearing data equals the oracle on both fit
    paths: the exact melt and the packed level loop (exact candidates)."""
    pdf = _synthetic_frame(seed=7, with_nulls=True)
    ref_tree, _ = fit_reference(pdf, "target", "entropy", max_depth=4)
    sdf = spark.createDataFrame(pdf)
    for path in ("melt", "packed"):
        force_fit_path(monkeypatch, path)
        model = DecisionTreeClassifier(max_depth=4)
        model.fit(sdf, "target")
        assert (model.bin_edges_ is not None) == (path == "packed")
        assert trees_equal(model.tree, ref_tree), path


def test_binned_matches_exact_when_bins_cover_values(spark):
    """With more bins than training rows every distinct value becomes a bin
    edge, so binned mode must reproduce the exact tree bit-for-bit — binning
    thins the candidate set and changes nothing else."""
    pdf = _synthetic_frame(seed=3)
    sdf = spark.createDataFrame(pdf.drop(columns=["categorical_feature"]))
    exact = DecisionTreeClassifier(max_depth=4)
    exact.fit(sdf, "target")
    binned = DecisionTreeClassifier(max_depth=4, max_bins=256)
    binned.fit(sdf, "target")
    assert trees_equal(exact.tree, binned.tree)


def test_binned_thresholds_are_edges_with_exact_gains(spark):
    """Coarse binning: every split threshold is a stored quantile edge, and
    the root's recorded gain equals the EXACT-mode gain of that same threshold
    on the raw data — the `value <= edge` count-preservation invariant."""
    from pyspark.sql import functions as F

    from efficient_trees_spark.operators import split_finder

    pdf = _synthetic_frame(seed=11)
    features = ["f_a", "f_b", "f_c", "f_d"]
    sdf = spark.createDataFrame(pdf[features + ["target"]])
    model = DecisionTreeClassifier(max_depth=3, max_bins=8)
    model.fit(sdf, "target")

    def walk(node):
        if node["type"] == "node":
            assert node["threshold"] in model.bin_edges_[node["feature"]]
            walk(node["left"])
            walk(node["right"])

    walk(model.tree)

    prepared = sdf.select(
        *[F.col(f).cast("float").cast("double").alias(f) for f in features],
        F.col("target").cast("int").alias(split_finder.TARGET_IDX),
    )
    raw_gains = split_finder.candidate_split_gains(
        split_finder.melt_counts(prepared, features, 3, None), 3, Criterion.ENTROPY
    )
    root = model.tree
    row = raw_gains.filter(
        (F.col("feature") == root["feature"])
        & (F.col("feature_value") == root["threshold"])
    ).collect()
    assert len(row) == 1
    assert math.isclose(
        row[0]["information_gain"], root["information_gain"], rel_tol=1e-9
    )


def test_gain_zero_becomes_leaf(spark):
    # constant features → no positive gain → single leaf with majority class
    pdf = pd.DataFrame({"x": [1.0] * 10, "target": [0] * 6 + [1] * 4})
    model = DecisionTreeClassifier(max_depth=4)
    model.fit(spark.createDataFrame(pdf), "target")
    assert model.tree == {"type": "leaf", "value": 0}


def test_majority_tie_breaks_to_smallest_class(spark):
    pdf = pd.DataFrame({"x": [1.0] * 10, "target": [1] * 5 + [0] * 5})
    model = DecisionTreeClassifier(max_depth=2)
    model.fit(spark.createDataFrame(pdf), "target")
    assert model.tree == {"type": "leaf", "value": 0}


def test_model_roundtrip(spark, tmp_path):
    pdf = _synthetic_frame(seed=3)
    model = DecisionTreeClassifier(max_depth=3, criterion=Criterion.GINI)
    sdf = spark.createDataFrame(pdf)
    model.fit(sdf, "target")

    path = str(tmp_path / "model.pkl")
    model.save_model(path)
    loaded = DecisionTreeClassifier()
    loaded.load_model(path)
    assert loaded.tree == model.tree
    assert loaded.predict_many(sdf) == model.predict_many(sdf)

    json_model = DecisionTreeClassifier.from_json(model.to_json())
    assert json_model.tree == model.tree


def test_filter_union_oracle_matches_case_plan(spark):
    """The reference's filter-union prediction plan (tree.py:127-136) and the
    compiled CASE projection must agree row-for-row."""
    from pyspark.sql import functions as F

    from efficient_trees_spark.plans.case_compiler import filter_union_predict

    pdf = _synthetic_frame(seed=11)
    model = DecisionTreeClassifier(max_depth=4)
    sdf = spark.createDataFrame(pdf)
    model.fit(sdf, "target")

    indexed = sdf.withColumn("idx", F.monotonically_increasing_id())
    union_preds = [
        row["prediction"]
        for row in filter_union_predict(indexed, model.tree, "idx").orderBy("idx").collect()
    ]
    case_df = model.transform(indexed, null_policy="drop").orderBy("idx")
    case_preds = [row["prediction"] for row in case_df.collect()]
    assert union_preds == case_preds
