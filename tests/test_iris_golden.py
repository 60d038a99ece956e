"""The reference's golden end-to-end test, ported verbatim (SURVEY.md §5).

Reference: `/root/reference/tests/integration/test_tree.py` — iris, seed-42
70/30 split, max_depth=4, hard-coded expected predictions.  The reference's
16-combo matrix is {int,str} × {lazy,eager} × {±categorical} × {entropy,gini};
Spark DataFrames are always lazy, so the lazy/eager axis collapses and 8
combos remain.  Invariants asserted per combo (test_tree.py:91-102):

  predict(iter rows) == predict_many(frame) == golden list   (train and test)
"""

from __future__ import annotations

import numpy as np
import pytest

from efficient_trees_spark import Criterion, DecisionTreeClassifier
from tests.iris_fixture import FEATURE_NAMES, IRIS, golden, train_test_frames
from tests.spies import force_fit_path


def test_fixture_checksums():
    """Guard the inlined iris transcription against the dataset's published
    statistics (per-column means/stds, per-class means, UCI/sklearn copy)."""
    a = np.array(IRIS)
    assert a.shape == (150, 4)
    np.testing.assert_allclose(
        a.mean(axis=0), [5.8433, 3.0573, 3.7580, 1.1993], atol=5e-5
    )
    np.testing.assert_allclose(
        a.std(axis=0, ddof=1), [0.8281, 0.4359, 1.7653, 0.7622], atol=5e-5
    )
    np.testing.assert_allclose(a[:50].mean(axis=0), [5.006, 3.428, 1.462, 0.246], atol=5e-4)
    np.testing.assert_allclose(a[50:100].mean(axis=0), [5.936, 2.770, 4.260, 1.326], atol=5e-4)
    np.testing.assert_allclose(a[100:].mean(axis=0), [6.588, 2.974, 5.552, 2.026], atol=5e-4)


@pytest.mark.parametrize("criterion", [Criterion.ENTROPY, Criterion.GINI])
@pytest.mark.parametrize("use_categorical_feature", [True, False])
@pytest.mark.parametrize("string_labels", [False, True], ids=["int", "str"])
def test_iris_golden(spark, string_labels, use_categorical_feature, criterion):
    train_pdf, test_pdf = train_test_frames(string_labels)
    if not use_categorical_feature:
        train_pdf = train_pdf.drop(columns=["categorical_feature"])
        test_pdf = test_pdf.drop(columns=["categorical_feature"])

    df_train = spark.createDataFrame(train_pdf)
    df_test = spark.createDataFrame(test_pdf)

    model = DecisionTreeClassifier(max_depth=4, criterion=criterion)
    model.fit(df_train, "target")

    train_many = model.predict_many(df_train)
    test_many = model.predict_many(df_test)
    train_rows = model.predict(train_pdf.to_dict("records"))
    test_rows = model.predict(test_pdf.to_dict("records"))

    assert train_rows == train_many
    assert test_rows == test_many

    key = "entropy" if criterion == Criterion.ENTROPY else "gini"
    assert train_many == golden(f"train_{key}", string_labels)
    assert test_many == golden(f"test_{key}", string_labels)


@pytest.mark.parametrize("criterion", [Criterion.ENTROPY, Criterion.GINI])
@pytest.mark.parametrize("string_labels", [False, True], ids=["int", "str"])
def test_iris_golden_exact_arrow(spark, monkeypatch, string_labels, criterion):
    """The reference's golden outputs through the PACKED exact path: an
    exact fit (max_bins=None) forced onto the packed level loop
    (candidates = every distinct value as uint8 codes, f32 shrink
    semantics included) must reproduce the published predictions
    byte-for-byte."""
    train_pdf, test_pdf = train_test_frames(string_labels)
    train_pdf = train_pdf.drop(columns=["categorical_feature"])
    test_pdf = test_pdf.drop(columns=["categorical_feature"])
    df_train = spark.createDataFrame(train_pdf)
    df_test = spark.createDataFrame(test_pdf)

    force_fit_path(monkeypatch, "packed")
    model = DecisionTreeClassifier(max_depth=4, criterion=criterion)
    model.fit(df_train, "target")
    assert model.bin_edges_ is not None

    key = "entropy" if criterion == Criterion.ENTROPY else "gini"
    assert model.predict_many(df_train) == golden(f"train_{key}", string_labels)
    assert model.predict_many(df_test) == golden(f"test_{key}", string_labels)


def test_feature_names_with_spaces_survive_round_trip(spark):
    """The iris feature names contain spaces and parentheses — ensure the
    whole surface (fit, transform, save/load) handles non-identifier column
    names (FIXTURES.md F1)."""
    train_pdf, _ = train_test_frames(string_labels=False)
    df = spark.createDataFrame(train_pdf)
    model = DecisionTreeClassifier(max_depth=2)
    model.fit(df, "target")
    used = set()

    def features(node):
        if node["type"] == "node":
            used.add(node["feature"])
            features(node["left"])
            features(node["right"])

    features(model.tree)
    assert used <= set(FEATURE_NAMES) | {"categorical_feature"}
    assert model.transform(df).count() == len(train_pdf)
