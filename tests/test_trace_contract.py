"""The benchmark's traced run wraps the program functions listed in
``treebench.trace.WRAPPED`` by module attribute and reads per-layer
metrics from those wrappers.  A refactor that renames, inlines or stops
calling one of them through its module would silently zero that layer's
metrics; these tests fail instead."""

from __future__ import annotations

import importlib

from efficient_trees_spark import DecisionTreeClassifier, RandomForestClassifier
from tests.iris_fixture import train_test_frames
from tests.spies import force_fit_path
from treebench.trace import WRAPPED


def test_wrapped_entries_are_module_callables():
    for module_name, attr, _layer in WRAPPED:
        module = importlib.import_module(module_name)
        assert callable(getattr(module, attr, None)), (module_name, attr)


def test_every_wrapped_entry_is_called_by_a_fit(spark, monkeypatch):
    """Each entry, patched by a counting spy as the tracer patches it
    (``setattr`` on its module), is called by at least one of four fits:
    a depth-3 binned tree, a depth-2 melt tree, a 2-tree binned forest
    and an exact fit forced onto the packed path."""
    calls = {layer: 0 for _, _, layer in WRAPPED}
    for module_name, attr, layer in WRAPPED:
        module = importlib.import_module(module_name)
        real = getattr(module, attr)

        def spy(*args, _real=real, _layer=layer, **kwargs):
            calls[_layer] += 1
            return _real(*args, **kwargs)

        monkeypatch.setattr(module, attr, spy)

    train_pd, _ = train_test_frames(string_labels=False)
    train = spark.createDataFrame(train_pd.drop(columns=["categorical_feature"]))
    DecisionTreeClassifier(max_depth=3, max_bins=8).fit(train, "target")
    DecisionTreeClassifier(max_depth=2).fit(train, "target")
    RandomForestClassifier(n_trees=2, max_depth=2, max_bins=8).fit(train, "target")
    force_fit_path(monkeypatch, "packed")
    DecisionTreeClassifier(max_depth=2).fit(train, "target")

    assert len(calls) == 7
    assert all(n > 0 for n in calls.values()), calls


def _scoring_calls_outside_level_passes(monkeypatch, fit) -> int:
    """``best_splits_from_counts_pdf`` calls made during ``fit()`` outside
    any ``find_best_splits_packed`` call: the calls the tracer counts as
    carried levels (``treebench.trace.CARRIED_LAYER``)."""
    from efficient_trees_spark.operators import split_finder

    open_passes = []
    outside = []
    level_pass = split_finder.find_best_splits_packed
    score = split_finder.best_splits_from_counts_pdf

    def traced_pass(*args, **kwargs):
        open_passes.append(1)
        try:
            return level_pass(*args, **kwargs)
        finally:
            open_passes.pop()

    def traced_score(*args, **kwargs):
        if not open_passes:
            outside.append(1)
        return score(*args, **kwargs)

    monkeypatch.setattr(split_finder, "find_best_splits_packed", traced_pass)
    monkeypatch.setattr(split_finder, "best_splits_from_counts_pdf", traced_score)
    fit()
    monkeypatch.undo()
    return len(outside)


def test_carried_level_is_one_scoring_call(spark, monkeypatch):
    """A depth-3 binned fit looks ahead from its root pass, so level 1 is
    carried: the tracer must see it as exactly ONE scoring call outside
    the level passes, for a single tree and for a 4-tree forest alike
    (the forest's trees share one carried level)."""
    train_pd, _ = train_test_frames(string_labels=False)
    train = spark.createDataFrame(train_pd.drop(columns=["categorical_feature"]))
    tree = DecisionTreeClassifier(max_depth=3, max_bins=8)
    forest = RandomForestClassifier(n_trees=4, max_depth=3, max_bins=8, seed=3)
    for model in (tree, forest):
        calls = _scoring_calls_outside_level_passes(
            monkeypatch, lambda: model.fit(train, "target")
        )
        assert calls == 1, model
    assert tree.tree["type"] == "node"
    assert all(t["type"] == "node" for t in forest.trees)
