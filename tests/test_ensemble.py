"""RandomForestClassifier: vote semantics, determinism, persistence."""

from __future__ import annotations

import pandas as pd
import pytest

from efficient_trees_spark import DecisionTreeClassifier, RandomForestClassifier
from tests.iris_fixture import train_test_frames
from tests.snapping import snap_to_edges
from tests.spies import force_fit_path, record_calls


def _iris(spark):
    train_pd, test_pd = train_test_frames(string_labels=False)
    train = spark.createDataFrame(train_pd.drop(columns=["categorical_feature"]))
    test = spark.createDataFrame(test_pd.drop(columns=["categorical_feature"]))
    return train, test, list(test_pd["target"])


def test_forest_accuracy_and_determinism(spark):
    train, test, labels = _iris(spark)
    rf = RandomForestClassifier(n_trees=7, max_depth=4, feature_fraction=0.75, seed=42)
    rf.fit(train, "target")
    preds = rf.predict_many(test)
    acc = sum(p == l for p, l in zip(preds, labels)) / len(labels)
    assert acc >= 0.9
    rf2 = RandomForestClassifier(n_trees=7, max_depth=4, feature_fraction=0.75, seed=42)
    rf2.fit(train, "target")
    assert rf.trees == rf2.trees  # same seed → identical forest


def _leaf_forest(values, targets):
    rf = RandomForestClassifier(n_trees=len(values))
    rf.trees = [{"type": "leaf", "value": v} for v in values]
    rf._unique_targets = targets
    return rf


def test_vote_majority_and_tie_break(spark):
    df = spark.createDataFrame([(1.0,)], ["x"])
    # clear majority
    rf = _leaf_forest([1, 1, 0], [0, 1])
    assert rf.transform(df).collect()[0]["prediction"] == 1
    # 2-2 tie breaks to the smaller class, like the single tree's majority vote
    rf = _leaf_forest([1, 1, 0, 0], [0, 1])
    assert rf.transform(df).collect()[0]["prediction"] == 0


def test_vote_null_abstention(spark):
    # both trees split on x; a NULL x means every tree abstains → NULL
    node = {
        "type": "node",
        "feature": "x",
        "threshold": 0.5,
        "information_gain": 0.1,
        "criterion_value": 0.5,
        "target_distribution": [1, 1],
        "left": {"type": "leaf", "value": 0},
        "right": {"type": "leaf", "value": 1},
    }
    rf = RandomForestClassifier(n_trees=2)
    rf.trees = [node, node]
    rf._unique_targets = [0, 1]
    df = spark.createDataFrame(pd.DataFrame({"x": [1.0, None]}))
    kept = rf.transform(df, null_policy="keep").orderBy("x").collect()
    assert [r["prediction"] for r in kept] == [None, 1]
    assert rf.transform(df, null_policy="drop").count() == 1


def test_forest_roundtrip(spark, tmp_path):
    train, test, _ = _iris(spark)
    rf = RandomForestClassifier(n_trees=3, max_depth=3, seed=7)
    rf.fit(train, "target")
    path = str(tmp_path / "forest.pkl")
    rf.save_model(path)
    loaded = RandomForestClassifier()
    loaded.load_model(path)
    assert loaded.predict_many(test) == rf.predict_many(test)


def test_forest_json_roundtrip_with_categoricals(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "color": ["red", "blue", "red", "green", "blue", "green"] * 5,
            "x": [1.0, 2.0, 1.5, 3.0, 2.5, 3.5] * 5,
            "target": [0, 1, 0, 1, 1, 1] * 5,
        }
    )
    df = spark.createDataFrame(pdf)
    rf = RandomForestClassifier(n_trees=2, max_depth=3, seed=3, categorical_columns=["color"])
    rf.fit(df, "target")
    clone = RandomForestClassifier.from_json(rf.to_json())
    assert clone.categorical_mappings == rf.categorical_mappings
    assert clone.predict_many(df) == rf.predict_many(df)


def _iris_with_missing(spark):
    """Iris training rows with NULL and NaN cells sprinkled over the
    features."""
    train_pd, _ = train_test_frames(string_labels=False)
    features = [c for c in train_pd.columns if c not in ("target", "categorical_feature")]
    rows = []
    for i, (values, target) in enumerate(
        zip(train_pd[features].itertuples(index=False, name=None), train_pd["target"])
    ):
        cells = [
            None if (i + j) % 11 == 0
            else float("nan") if (i + 2 * j) % 13 == 0
            else float(v)
            for j, v in enumerate(values)
        ]
        rows.append((*cells, int(target)))
    schema = ", ".join(f"`{f}` double" for f in features) + ", target long"
    return spark.createDataFrame(rows, schema)


def test_binned_forest_packed_matches_snapped_expand(spark):
    """A binned forest (the 100 TB path) trains on the shared packed code
    relation, all trees level-synchronously; an EXACT forest (the melt,
    one tree at a time) with the same seed, fit on the input snapped in
    test code to the binned forest's edges, must be the IDENTICAL forest —
    same bootstrap rows, same candidate thresholds, same trees, with NULL
    cells dropped from both children and NaN cells routed right.  The
    input already has ``defaultParallelism`` partitions, so the binned
    fit's fan-out is a no-op and both forests sample the same partitions
    (the encode is a 1:1 row map, so seeded sampling picks the same
    logical rows)."""
    train = _iris_with_missing(spark).repartition(
        spark.sparkContext.defaultParallelism
    )
    kwargs = dict(n_trees=5, max_depth=4, feature_fraction=0.75, seed=11)
    rf_packed = RandomForestClassifier(max_bins=8, **kwargs)
    rf_packed.fit(train, "target")
    assert sum(t["type"] == "node" for t in rf_packed.trees) >= 3

    rf_exact = RandomForestClassifier(**kwargs)
    rf_exact.fit(snap_to_edges(train, rf_packed.bin_edges_), "target")

    assert rf_packed.trees == rf_exact.trees


@pytest.mark.parametrize("max_bins", [8, None])
def test_forest_tree_equals_single_tree_forest_at_its_seed(spark, max_bins):
    """Growing trees together changes no tree, on either fit path: with
    every feature in every tree, tree t of a 4-tree forest seeded s is the
    only tree of a 1-tree forest seeded s + t (same bootstrap draw, same
    splits)."""
    train, _, _ = _iris(spark)
    kwargs = dict(max_depth=3, max_bins=max_bins)
    forest = RandomForestClassifier(n_trees=4, seed=5, **kwargs)
    forest.fit(train, "target")
    for t, tree in enumerate(forest.trees):
        single = RandomForestClassifier(n_trees=1, seed=5 + t, **kwargs)
        single.fit(train, "target")
        assert single.trees == [tree], t


@pytest.mark.parametrize("path", ["packed", "melt"])
def test_forest_subset_trees_break_ties_in_input_order(spark, monkeypatch, path):
    """Two identical columns, ``z`` before ``a`` in the input, tie
    exactly on gain.  A single tree splits on ``z``, the first in the
    input's order, and so must every forest tree whose feature subset
    holds both: a subset keeps the input's column order, whichever fit
    path scores the level."""
    force_fit_path(monkeypatch, path)
    rows = [
        (float(i % 12), float(i % 12), float(7 * i % 5), float(11 * i % 3), int(i % 12 >= 6))
        for i in range(120)
    ]
    data = spark.createDataFrame(rows, "z double, a double, b double, c double, target int")
    tree = DecisionTreeClassifier(max_depth=1, criterion="gini")
    tree.fit(data, "target")
    assert tree.tree["feature"] == "z"

    subsets: list = []
    build = DecisionTreeClassifier._build_tree_levelwise

    def spy(self, data, tree_features, *args, **kwargs):
        subsets.extend(tree_features)
        return build(self, data, tree_features, *args, **kwargs)

    monkeypatch.setattr(DecisionTreeClassifier, "_build_tree_levelwise", spy)
    rf = RandomForestClassifier(
        n_trees=4, max_depth=1, criterion="gini", feature_fraction=0.75, seed=1
    )
    rf.fit(data, "target")
    both = [t for t, s in enumerate(subsets) if {"z", "a"} <= set(s)]
    assert both, subsets
    for t in both:
        assert rf.trees[t]["feature"] == "z", (t, subsets[t])
    assert all(s == [f for f in data.columns if f in s] for s in subsets), subsets


def test_forest_level_branches_agree(spark, monkeypatch):
    """A feature-bagged forest's level passes give the same trees on the
    dense (and pair) cube branches, the sparse-rows branch scored
    driver-side and the distributed-gains branch — each level scored once
    under the input's feature order, which every tree's subset keeps,
    whichever branch merged the histograms.  Spies
    on the pass emitters and the distributed gains record the branches
    each fit reached."""
    from efficient_trees_spark.operators import histogram, split_finder

    train = _iris_with_missing(spark)
    kwargs = dict(n_trees=3, max_depth=3, feature_fraction=0.75, max_bins=8, seed=2)
    calls: list = []
    record_calls(monkeypatch, histogram, "packed_histogram_pair_cubes", calls, "pair")
    record_calls(monkeypatch, histogram, "packed_histogram_cubes", calls, "dense")
    record_calls(monkeypatch, histogram, "packed_histogram_counts", calls, "sparse")
    record_calls(monkeypatch, split_finder, "candidate_split_gains", calls, "distributed")
    reached: list[set] = []

    def fit():
        calls.clear()
        rf = RandomForestClassifier(**kwargs)
        rf.fit(train, "target")
        reached.append(set(calls))
        return rf.trees

    dense = fit()
    # No dense cubes.  The driver-collect row cap shares their byte budget,
    # so keep it at its row bound for the sparse rows to be scored
    # driver-side; zeroing that bound then forces the distributed form.
    monkeypatch.setattr(split_finder, "_DENSE_CUBE_MAX_BYTES", 0)
    monkeypatch.setattr(
        split_finder,
        "_local_gains_row_cap",
        lambda _spark, _n_classes: split_finder._LOCAL_GAINS_MAX_ROWS,
    )
    sparse = fit()
    monkeypatch.setattr(split_finder, "_LOCAL_GAINS_MAX_ROWS", 0)
    distributed = fit()
    assert reached[0] and reached[0] <= {"pair", "dense"}
    assert reached[1] == {"sparse"}
    assert reached[2] == {"sparse", "distributed"}
    assert dense == sparse == distributed


@pytest.mark.parametrize("fraction", [0.0, -0.5])
def test_forest_rejects_nonpositive_sample_fraction(fraction):
    with pytest.raises(ValueError, match="sample_fraction must be > 0"):
        RandomForestClassifier(sample_fraction=fraction)


def test_fit_rejects_empty_training_data(spark):
    train, _, _ = _iris(spark)
    with pytest.raises(ValueError, match="training data with no rows"):
        DecisionTreeClassifier().fit(train.limit(0), "target")


@pytest.mark.parametrize("max_bins", [8, None])
def test_forest_names_the_tree_whose_bootstrap_drew_no_rows(spark, max_bins):
    """Six bags of ~0.1 iris rows each: some bag draws none, and the fit says
    which tree it is on either fit path."""
    train, _, _ = _iris(spark)
    rf = RandomForestClassifier(n_trees=6, sample_fraction=0.001, max_bins=max_bins)
    with pytest.raises(ValueError, match=r"tree \d+'s bootstrap sample drew no rows"):
        rf.fit(train, "target")
