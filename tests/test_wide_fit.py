"""Wide-fit (AMEX-shaped) parity and correctness tests.

The reference's published benchmark is a ~190-float-feature depth-4 entropy
fit (``/root/reference/examples/memory_profiling.py:30-45,78-79``).  These
tests pin the pieces the packed level loop adds:

* ``histogram.pack_encode_features`` + ``packed_histogram_counts`` — packed
  histograms must reproduce the melt + groupBy counts relation EXACTLY,
  including NULL-drop (reference F1) and NaN-keeps-its-own-slot semantics;
* ``tree._two_scan_binned_edges`` — the order-statistic merge must produce
  exact equi-depth edges when the statistics cover every row
  (g >= partition size), and must always include the true max;
* end-to-end: a binned packed fit must grow the BIT-IDENTICAL tree to the
  exact melt over the same data snapped to its edges, and packed exact fits
  the identical tree to the exact melt.
"""

from __future__ import annotations

import json
import math
import uuid
import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from efficient_trees_spark.ensemble import RandomForestClassifier
from efficient_trees_spark.enums import Criterion
from efficient_trees_spark.operators import split_finder
from efficient_trees_spark.operators.histogram import (
    TreeRoute,
    _code_info,
    compile_routing_splits,
    pack_encode_features,
    packed_histogram_counts,
)
from efficient_trees_spark.tree import (
    DecisionTreeClassifier,
    _encode_codes,
    _two_scan_binned_edges,
)
from efficient_trees_spark.workloads.wide_fit import build_wide_table
from tests.snapping import snap_to_edges
from tests.spies import force_fit_path, record_calls

SF_DIR = "/root/testdata/sf0.001"
NAN = float("nan")


@pytest.fixture(scope="module")
def messy_df(spark):
    """Small frame with NULLs, NaNs, and ties — the semantic corners."""
    rows = [
        (1.0, 5.0, 0),
        (1.0, None, 0),
        (2.5, NAN, 1),
        (2.5, 7.5, 1),
        (None, 7.5, 0),
        (4.0, 9.0, 1),
        (4.0, 9.0, 0),
        (NAN, 9.0, 1),
    ]
    return spark.createDataFrame(rows, "a double, b double, __target_idx int").repartition(3)


def _collect_counts(df):
    out = {}
    for r in df.collect():
        v = r["feature_value"]
        key = (r["feature"], "NaN" if v is not None and math.isnan(v) else v)
        out[key] = (r["class_0_count"], r["class_1_count"], r["count_examples"])
    return out


def _packed_counts(df, names, edges):
    """Root-level (no routing) counts relation of the packed level loop:
    the fused encode of ``df`` to bin codes, then one histogram pass."""
    codes = pack_encode_features(df, names, edges, dtype="f8")
    return _collect_counts(
        packed_histogram_counts(
            codes, names, 2, edges, {0: TreeRoute([], {0: 0})}
        )
    )


def test_arrow_counts_match_melt_counts(spark, messy_df):
    edges = {"a": [1.0, 2.5, 4.0], "b": [5.0, 7.5, 9.0]}
    arrow = _packed_counts(messy_df, ["a", "b"], edges)

    # Reference relation: snap (values are already edges here), melt, count.
    long_df = split_finder.melt_features(messy_df, ["a", "b"])
    melt = _collect_counts(
        long_df.groupBy("feature", "feature_value").agg(
            F.count(F.when(F.col("__target_idx") == 0, 1)).alias("class_0_count"),
            F.count(F.when(F.col("__target_idx") == 1, 1)).alias("class_1_count"),
            F.count(F.lit(1)).alias("count_examples"),
        )
    )
    assert arrow == melt
    # NULLs dropped (a has 7 non-null rows), NaN kept as its own slot.
    assert ("a", "NaN") in arrow
    assert sum(v[2] for k, v in arrow.items() if k[0] == "a") == 7


def test_arrow_counts_snap_between_edges(spark):
    df = spark.createDataFrame(
        [(0.2, 0), (0.4, 1), (0.6, 0), (0.9, 1), (1.0, 1)],
        "a double, __target_idx int",
    )
    counts = _packed_counts(df, ["a"], {"a": [0.5, 1.0]})
    # 0.2, 0.4 -> 0.5 ; 0.6, 0.9, 1.0 -> 1.0
    assert counts == {("a", 0.5): (1, 1, 2), ("a", 1.0): (1, 2, 3)}


def test_two_scan_edges_exact_when_stats_cover(spark):
    rng = np.random.default_rng(7)
    vals = rng.normal(size=400).round(3)
    df = spark.createDataFrame([(float(v),) for v in vals], "x double").repartition(4)
    n_bins = 8
    edges_map, n_rows = _two_scan_binned_edges(df, ["x"], n_bins, 400, "f8", 4)
    edges = edges_map["x"]
    assert n_rows == 400
    s = np.sort(vals)
    expected = sorted(
        {float(s[min(int(np.ceil(k / n_bins * s.size)) - 1, s.size - 1)]) for k in range(1, n_bins)}
        | {float(s[-1])}
    )
    assert edges == expected
    assert edges[-1] == float(s[-1])  # true max is always the top edge


def test_two_scan_edges_drops_null_nan(spark):
    df = spark.createDataFrame(
        [(1.0,), (2.0,), (3.0,), (None,), (NAN,)], "x double"
    )
    n_parts = df.rdd.getNumPartitions()
    edges = _two_scan_binned_edges(df, ["x"], 2, 64, "f8", n_parts)[0]["x"]
    assert edges[-1] == 3.0
    assert all(not math.isnan(e) for e in edges)


def _assert_binned_equals_exact_on_snapped(data, **kwargs):
    """A binned packed fit must grow the BIT-identical tree to the exact
    melt fit on the same data snapped (in test code) to its edges."""
    binned = DecisionTreeClassifier(**kwargs)
    binned.fit(data, "target")
    del kwargs["max_bins"]
    exact = DecisionTreeClassifier(**kwargs)
    exact.fit(snap_to_edges(data, binned.bin_edges_), "target")
    assert exact.bin_edges_ is None  # a narrow exact fit runs on the melt
    assert json.dumps(binned.tree, sort_keys=True) == json.dumps(
        exact.tree, sort_keys=True
    )
    return binned.tree


def test_wide_fit_arrow_expand_parity(spark):
    data = build_wide_table(spark, SF_DIR, n_features=24)
    tree = _assert_binned_equals_exact_on_snapped(
        data, max_depth=3, criterion=Criterion.ENTROPY, max_bins=16
    )
    assert tree["type"] == "node"  # the fit actually split


def _level_passes(
    spark, monkeypatch, fit, name="find_best_splits_packed"
) -> tuple[int, int]:
    """(calls, Spark jobs) of the level search ``split_finder.<name>``
    during ``fit()``, its jobs counted by a job group the wrapped search
    sets."""
    sc = spark.sparkContext
    group = f"level-pass-{uuid.uuid4().hex}"
    calls = []
    search = getattr(split_finder, name)

    def tagged(*args, **kwargs):
        calls.append(1)
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, "packed level pass")
        try:
            return search(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    monkeypatch.setattr(split_finder, name, tagged)
    try:
        fit()
    finally:
        monkeypatch.setattr(split_finder, name, search)
    return len(calls), len(sc.statusTracker().getJobIdsForGroup(group))


def _iris_frame(spark):
    from tests.iris_fixture import train_test_frames

    train_pd, _ = train_test_frames(string_labels=False)
    return spark.createDataFrame(train_pd.drop(columns=["categorical_feature"]))


def _jobs_in_group(spark, action) -> int:
    """Spark jobs ``action()`` runs, counted in a job group of its own."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted action")
    try:
        action()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_depth2_binned_fits_run_one_level_job(spark, monkeypatch):
    """A depth-2 binned fit scores both levels from ONE pair-cube job
    (level 1 is carried and scored driver-side), and a 4-tree depth-2
    binned forest grows its trees level-synchronously: one level job for
    all four trees, not four.  (Gini gains are driver-side numpy and the
    local input has no exchange, so the level pass's only job is its
    histogram pass.)"""
    data = _iris_frame(spark)
    tree = DecisionTreeClassifier(max_depth=2, criterion=Criterion.GINI, max_bins=8)
    assert _level_passes(spark, monkeypatch, lambda: tree.fit(data, "target")) == (1, 1)
    assert tree.tree["type"] == "node"
    forest = RandomForestClassifier(
        n_trees=4, max_depth=2, criterion=Criterion.GINI, max_bins=8, seed=3
    )
    assert _level_passes(spark, monkeypatch, lambda: forest.fit(data, "target")) == (1, 1)
    assert all(t["type"] == "node" for t in forest.trees)


def test_exact_forest_runs_one_melt_per_level(spark, monkeypatch):
    """An exact forest grows its trees level-synchronously on the melt
    too: a 4-tree depth-3 forest runs one melt per level for all four
    trees, not one per tree and level."""
    data = _iris_frame(spark)
    forest = RandomForestClassifier(
        n_trees=4, max_depth=3, criterion=Criterion.GINI, feature_fraction=0.75, seed=3
    )
    calls, _ = _level_passes(
        spark, monkeypatch, lambda: forest.fit(data, "target"),
        name="find_best_splits_per_node",
    )
    assert calls == 3
    assert forest.bin_edges_ is None
    assert all(t["type"] == "node" for t in forest.trees)


def test_depth0_melt_fit_runs_only_the_label_job(spark):
    """The root's class counts come from the fit's label job: a depth-0
    exact fit runs exactly the jobs of that one query, no separate
    root-distribution job, and the query sorts its few rows in one
    partition: 2 jobs (aggregate + result), where ``orderBy``'s range
    partitioning runs 4."""
    data = _iris_frame(spark)
    label_jobs = _jobs_in_group(
        spark,
        lambda: data.groupBy("target")
        .count()
        .coalesce(1)
        .sortWithinPartitions("target")
        .collect(),
    )
    model = DecisionTreeClassifier(max_depth=0)
    assert _jobs_in_group(spark, lambda: model.fit(data, "target")) == label_jobs == 2
    counts = {r["target"]: r["count"] for r in data.groupBy("target").count().collect()}
    majority = max(counts, key=lambda c: (counts[c], -c))
    assert model.tree == {"type": "leaf", "value": majority}


def test_melt_entropy_gains_read_the_checkpointed_counts(spark, monkeypatch):
    """An exact-melt entropy level over the driver-collect budget reads
    its counts relation three times in the distributed gains pipeline;
    the scorer checkpoints it, so the gains plan re-runs no melt (no
    ``Expand``)."""
    data = _iris_frame(spark)
    monkeypatch.setattr(split_finder, "_LOCAL_GAINS_MAX_ROWS", 0)
    plans: list = []
    gains = split_finder.candidate_split_gains

    def spy(*args, **kwargs):
        df = gains(*args, **kwargs)
        plans.append(df)
        return df

    monkeypatch.setattr(split_finder, "candidate_split_gains", spy)
    model = DecisionTreeClassifier(max_depth=2, criterion=Criterion.ENTROPY)
    model.fit(data, "target")
    assert len(plans) == 2
    for df in plans:
        assert "Expand" not in df._jdf.queryExecution().executedPlan().toString()
    assert model.tree["type"] == "node"


def test_feature_named_dist_is_a_root_candidate(spark, monkeypatch):
    """A user feature named ``__dist__`` is scored like any other: on the
    packed sparse-row collected pass, renaming the root's split feature
    to it grows the same tree up to the name."""
    from efficient_trees_spark.operators import histogram as H

    data = _iris_frame(spark)
    monkeypatch.setattr(split_finder, "_DENSE_CUBE_MAX_BYTES", 2000)
    calls: list = []
    record_calls(monkeypatch, H, "packed_histogram_counts", calls, "sparse")
    record_calls(monkeypatch, H, "packed_histogram_cubes", calls, "dense")
    record_calls(monkeypatch, H, "packed_histogram_pair_cubes", calls, "pair")

    def fit(df):
        m = DecisionTreeClassifier(max_depth=3, criterion=Criterion.GINI, max_bins=8)
        m.fit(df, "target")
        return m.tree

    base = fit(data)
    assert base["feature"] == "petal length (cm)"
    renamed = fit(data.withColumnRenamed("petal length (cm)", "__dist__"))
    assert "sparse" in calls
    assert "dense" not in calls and "pair" not in calls

    def named_back(node):
        if node["type"] != "node":
            return node
        feature = node["feature"]
        return dict(
            node,
            feature="petal length (cm)" if feature == "__dist__" else feature,
            left=named_back(node["left"]),
            right=named_back(node["right"]),
        )

    assert named_back(renamed) == base


def test_melt_fit_runs_every_job_in_the_callers_job_group(spark):
    """The melt runs every job of a fit on the caller's thread (no pool
    thread), so each carries the caller's job group and no job of the fit
    is left without a group."""
    data = _iris_frame(spark)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"melt-fit-{uuid.uuid4().hex}"
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "depth-1 melt fit")
    try:
        DecisionTreeClassifier(max_depth=1).fit(data, "target")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    assert tracker.getJobIdsForGroup(group)
    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped


@pytest.mark.parametrize(
    "make, match",
    [
        # binned codes must fit uint16: edges number at most max_bins
        pytest.param(
            lambda: DecisionTreeClassifier(max_bins=65534),
            "max_bins must be <= 65533",
            id="tree-max_bins-65534",
        ),
        pytest.param(
            lambda: RandomForestClassifier(max_bins=70000),
            "max_bins must be <= 65533",
            id="forest-max_bins-70000",
        ),
        pytest.param(
            lambda: DecisionTreeClassifier(max_bins=1),
            "max_bins must be >= 2",
            id="tree-max_bins-1",
        ),
        pytest.param(
            lambda: RandomForestClassifier(max_bins=1),
            "max_bins must be >= 2",
            id="forest-max_bins-1",
        ),
        pytest.param(
            lambda: DecisionTreeClassifier(bin_rel_error=0),
            "bin_rel_error must be > 0",
            id="tree-bin_rel_error-0",
        ),
        pytest.param(
            lambda: DecisionTreeClassifier(bin_rel_error=-1e-3),
            "bin_rel_error must be > 0",
            id="tree-bin_rel_error-negative",
        ),
    ],
)
def test_max_bins_must_fit_uint16_codes(make, match):
    """Binning parameters no fit can honor fail at construction, before
    any Spark job (no session is used here)."""
    with pytest.raises(ValueError, match=match):
        make()
    DecisionTreeClassifier(max_bins=65533)
    DecisionTreeClassifier(max_bins=2, bin_rel_error=1.0)
    RandomForestClassifier(max_bins=65533)


# ----------------------------------------------------- exact-mode packed path


def test_exact_arrow_matches_exact_expand(spark, monkeypatch):
    """An exact fit (max_bins=None) forced onto the packed path scores
    every distinct value as a candidate — the tree must be bit-identical
    to the exact melt, including NULL/NaN routing corners."""
    rows = []
    for i in range(300):
        a = None if i % 13 == 0 else (NAN if i % 17 == 0 else float(i % 23))
        b = NAN if i % 11 == 0 else float((i * 7) % 19)
        rows.append((a, b, i % 2))
    data = spark.createDataFrame(rows, "a double, b double, target int")
    trees = {}
    for path in ("packed", "melt"):
        force_fit_path(monkeypatch, path)
        m = DecisionTreeClassifier(max_depth=3, criterion=Criterion.GINI)
        m.fit(data, "target")
        assert (m.bin_edges_ is not None) == (path == "packed")
        trees[path] = json.dumps(m.tree, sort_keys=True)
        assert m.tree["type"] == "node"
    assert trees["packed"] == trees["melt"]


def test_exact_uint16_parity_past_253_distinct(spark, monkeypatch):
    """EXACT mode with a >253-distinct feature takes the packed uint16 path
    (no melt Expand, no fallback warning) and produces the IDENTICAL tree
    to the melt exact search."""
    import warnings

    data = spark.createDataFrame(
        [
            (float(i) * 0.5, float(i % 23), float((i * 7) % 11), i % 3)
            for i in range(900)
        ],
        "a double, b double, c double, target int",
    )
    force_fit_path(monkeypatch, "packed")
    m_packed = DecisionTreeClassifier(max_depth=3)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any fallback warning fails the test
        # pyspark leaves collect sockets to the garbage collector
        warnings.simplefilter("ignore", ResourceWarning)
        m_packed.fit(data, "target")
    # the wide feature really went through packed codes: its full distinct
    # set became the candidate edges (the u2 selection precondition)
    assert len(m_packed.bin_edges_["a"]) == 900  # > 253 -> uint16 codes
    force_fit_path(monkeypatch, "melt")
    m_melt = DecisionTreeClassifier(max_depth=3)
    m_melt.fit(data, "target")
    assert m_melt.bin_edges_ is None
    assert m_packed.tree == m_melt.tree


def test_auto_wide_exact_uses_packed_when_cardinality_fits(spark):
    """Exact mode + >= 64 features + low per-feature cardinality: the
    packed exact path engages (bin_edges_ = the distinct
    values); no fallback warning."""
    cols = [
        ((F.col("id") * (j + 3)) % (7 + j % 5)).cast("double").alias(f"f{j}")
        for j in range(64)
    ]
    data = spark.range(2000).select(*cols, (F.col("id") % 2).cast("int").alias("target"))
    m = DecisionTreeClassifier(max_depth=2)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        warnings.simplefilter("ignore", ResourceWarning)
        m.fit(data, "target")
    assert m.bin_edges_ is not None
    assert all(len(e) <= 253 for e in m.bin_edges_.values())


def test_wide_exact_forest_takes_the_packed_path(spark, monkeypatch):
    """An exact forest picks its fit path the way the single tree does:
    at >= 64 features it takes the packed exact path (distinct-value
    edges, no melt-width warning), and forcing the melt grows the same
    trees.  The input already has ``defaultParallelism`` partitions, so
    the packed path's fan-out is a no-op and both fits draw the same
    bags."""
    from efficient_trees_spark import tree as tree_module
    from efficient_trees_spark.operators import histogram

    cols = [
        ((F.col("id") * (j + 3)) % (7 + j % 5)).cast("double").alias(f"f{j}")
        for j in range(64)
    ]
    data = (
        spark.range(400)
        .select(*cols, ((F.col("id") * 7) % 5 < 2).cast("int").alias("target"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    kwargs = dict(n_trees=3, max_depth=2, feature_fraction=0.5, seed=4)
    calls: list = []
    record_calls(monkeypatch, histogram, "distinct_edges_packed", calls, "distinct")
    packed = RandomForestClassifier(**kwargs)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        warnings.simplefilter("ignore", ResourceWarning)
        packed.fit(data, "target")
    assert calls == ["distinct"]
    assert packed.bin_edges_ is not None
    assert all(t["type"] == "node" for t in packed.trees)

    monkeypatch.setattr(tree_module, "_AUTO_PACKED_MIN_FEATURES", 1_000)
    melt = RandomForestClassifier(**kwargs)
    melt.fit(data, "target")
    assert calls == ["distinct"]
    assert melt.bin_edges_ is None
    assert melt.trees == packed.trees


def test_auto_wide_exact_falls_back_to_melt_on_overflow(spark):
    """Exact + wide, but one feature has > 65 533 distinct values (uint16
    code space): the packed probe falls back to the melt with a warning
    that carries the probe's own message, and the fit still completes."""
    cols = [
        ((F.col("id") * (j + 3)) % 11).cast("double").alias(f"f{j}")
        for j in range(63)
    ] + [F.col("id").cast("double").alias("f_hi")]  # 66 000 distinct values
    data = spark.range(66_000).select(
        *cols, (F.col("id") % 2).cast("int").alias("target")
    )
    m = DecisionTreeClassifier(max_depth=1)
    with pytest.warns(UserWarning, match="falling back to the melt") as caught:
        m.fit(data, "target")
    assert any("exceeded by ['f_hi']" in str(w.message) for w in caught)
    assert m.bin_edges_ is None
    assert m.tree is not None


def test_auto_exact_fallback_costs_the_probe_plus_a_melt_fit(spark, monkeypatch):
    """What the auto-exact fallback costs: a wide exact fit whose
    distinct-value probe overflows warns, keeps no edges, and runs
    exactly the probe's jobs plus the jobs of a forced-melt fit on the
    same input — the melt after the probe is the narrow fit's melt, on
    the un-fanned-out relation.  The code-space cap is patched down
    rather than building 65k distinct values; the one-partition input
    makes the packed path's fan-out fire."""
    from efficient_trees_spark.operators import histogram

    cols = [
        ((F.col("id") * (j + 3)) % 11).cast("double").alias(f"f{j}")
        for j in range(64)
    ]
    data = spark.range(300, numPartitions=1).select(
        *cols, (F.col("id") % 2).cast("int").alias("target")
    )
    monkeypatch.setattr(histogram, "_MAX_PACKED16_EDGES", 8)  # 11 values overflow
    sc = spark.sparkContext
    probe_group = f"probe-{uuid.uuid4().hex}"
    probe = histogram.distinct_edges_packed

    def tagged(*args, **kwargs):
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(probe_group, "distinct-value probe")
        try:
            return probe(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    monkeypatch.setattr(histogram, "distinct_edges_packed", tagged)
    fallback = DecisionTreeClassifier(max_depth=2)
    with pytest.warns(UserWarning, match="falling back to the melt"):
        fit_jobs = _jobs_in_group(spark, lambda: fallback.fit(data, "target"))
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    probe_jobs = len(sc.statusTracker().getJobIdsForGroup(probe_group))
    assert fallback.bin_edges_ is None
    force_fit_path(monkeypatch, "melt")
    melt = DecisionTreeClassifier(max_depth=2)
    melt_jobs = _jobs_in_group(spark, lambda: melt.fit(data, "target"))
    # the fit's own group holds every job but the probe's
    assert probe_jobs > 0
    assert fit_jobs == melt_jobs
    assert fallback.tree == melt.tree


@pytest.mark.parametrize(
    "schema, low, high, threshold",
    [
        # 2^24 + 1 is the first integer float32 cannot hold
        ("x long", 16_777_216, 16_777_217, 16_777_216.0),
        ("x decimal(10,7)", "1.1", "1.1000001", 1.1),
    ],
)
def test_integer_and_decimal_features_train_exact_on_every_path(
    spark, monkeypatch, schema, low, high, threshold
):
    """Integer and decimal features train as exact doubles on both fit
    paths: the packed edge and encode passes read them as float64, not
    float32, so a forced packed-exact fit and a binned fit split two
    values float32 merges where the melt does, and the tree routes every
    training row to its own class."""
    from decimal import Decimal

    cast = Decimal if "decimal" in schema else int
    data = spark.createDataFrame(
        [(cast(high if i % 2 else low), i % 2) for i in range(40)],
        f"{schema}, target int",
    )
    trees = {}
    for name, path, kw in (
        ("melt", "melt", {}),
        ("packed", "packed", {}),
        ("binned", "melt", {"max_bins": 8}),
    ):
        force_fit_path(monkeypatch, path)
        m = DecisionTreeClassifier(max_depth=2, criterion=Criterion.GINI, **kw)
        m.fit(data, "target")
        assert (m.bin_edges_ is None) == (name == "melt"), name
        trees[name] = m.tree
        predicted = m.transform(data).select("prediction", "target").collect()
        assert all(r["prediction"] == r["target"] for r in predicted), name
    assert trees["melt"]["threshold"] == threshold
    assert trees["packed"] == trees["melt"]
    assert trees["binned"] == trees["melt"]


def test_auto_wide_exact_uses_uint16_between_253_and_65533(spark):
    """Exact + wide with one mid-cardinality feature (254..65533
    distinct): NO fallback — the uint16 packed path engages silently."""
    import warnings

    cols = [
        ((F.col("id") * (j + 3)) % 11).cast("double").alias(f"f{j}")
        for j in range(63)
    ] + [F.col("id").cast("double").alias("f_hi")]  # 2000 distinct values
    data = spark.range(2000).select(
        *cols, (F.col("id") % 2).cast("int").alias("target")
    )
    m = DecisionTreeClassifier(max_depth=1)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        warnings.simplefilter("ignore", ResourceWarning)
        m.fit(data, "target")
    assert len(m.bin_edges_["f_hi"]) == 2000
    assert m.tree is not None


def test_packed_fit_parity_with_nan_and_null(spark):
    """Tree-level parity on a frame mixing NULL and NaN in split features:
    the binned packed path (numpy routing + uint8 codes) must produce the
    same tree as the exact melt (JVM routing column) over the data snapped
    to its edges — NULL drops from both children, NaN routes right."""
    rows = []
    for i in range(200):
        a = None if i % 13 == 0 else (NAN if i % 17 == 0 else float(i % 29))
        b = NAN if i % 11 == 0 else float((i * 7) % 31)
        rows.append((a, b, i % 2))
    data = spark.createDataFrame(rows, "a double, b double, target int")
    tree = _assert_binned_equals_exact_on_snapped(
        data, max_depth=3, criterion=Criterion.ENTROPY, max_bins=8
    )
    assert tree["type"] == "node"


def test_packed_relation_caches_at_one_byte_per_cell(spark):
    """Regression gate on the wide fit's memory contract: the persisted
    training relation stores uint8 bin codes — its cached size must stay
    ~1 byte/cell (vs 8 for a double column matrix).  This is the bound that
    keeps the 5.5M x 190 reference shape inside a modest heap."""
    width = 190
    data = build_wide_table(spark, SF_DIR, n_features=width).na.fill(0.0)
    feats = [c for c in data.columns if c != "target"]
    prepared = data.select(
        *[F.col(f).cast("double").alias(f) for f in feats],
        F.col("target").cast("int").alias("__target_idx"),
    )
    n_parts = prepared.rdd.getNumPartitions()
    edges, n_rows = _two_scan_binned_edges(prepared, feats, 16, 64, "f4", n_parts)
    # Other operators legitimately leave lazy localCheckpoint blocks in the
    # shared session's RDD cache until GC (split-gains counts, BM25 postings
    # — r11), so attribute ONLY the relation this test persists instead of
    # taking max over the whole cache.
    before = {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    codes, _ = _encode_codes(prepared, feats, edges, "f4", n_parts, n_rows)
    assert _code_info(edges).dtype == np.uint8
    codes = codes.persist()
    try:
        rows = codes.count()
        infos = [
            i
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if i.id() not in before
        ]
        assert infos, "encoded relation was not cached"
        mem = sum(i.memSize() + i.diskSize() for i in infos)
        cells = rows * width
        assert cells > 1_000_000
        # measured 1.03 B/cell (uint8 blob + int target + batch overhead);
        # 1.2 leaves headroom without letting a dtype regression (2x+) pass
        assert mem <= cells * 1.2, f"{mem / cells:.2f} bytes/cell"
    finally:
        codes.unpersist()


def test_route_codes_semantics():
    """Vectorized routing: left on code<=t, right on code>t incl. NaN(254),
    dropped (-1) on NULL(255) in the split feature and under finalized
    leaves."""
    import numpy as np

    from efficient_trees_spark.operators.histogram import route_codes

    #                  rows: code_a, code_b
    mat = np.array(
        [[0, 5], [2, 5], [3, 5], [254, 5], [255, 5], [1, 254], [1, 255]],
        dtype=np.uint8,
    )
    # root (node 0) splits on feature 0 at code 2 -> left pending 1 / right leaf (-1)
    # node 1 splits on feature 1 at code 10 -> children pending 3 / 4
    splits = [(0, 0, 2, 1, -1), (1, 1, 10, 3, 4)]
    out = route_codes(mat, splits)
    assert out.tolist() == [3, 3, -1, -1, -1, 4, -1]


def test_routing_splits_reject_non_edge_threshold():
    """Code routing equals value routing only at a bin edge: a threshold
    between edges, or past the top edge, must raise instead of routing
    rows by the neighbouring edge."""
    leaf = {"type": "leaf", "value": 0}
    edges = {"a": [1.0, 2.0]}
    node = {"type": "node", "feature": "a", "threshold": 2.0, "left": leaf, "right": leaf}
    assert compile_routing_splits(node, ["a"], edges) == [
        (0, 0, 1, -1, -1)
    ]
    for threshold in (1.5, 3.0):
        bad = dict(node, threshold=threshold)
        with pytest.raises(ValueError, match="not a bin edge"):
            compile_routing_splits(bad, ["a"], edges)


def test_pair_child_counts_reject_non_edge_threshold():
    """``pair_cubes_to_child_counts`` slices the cube at the threshold's
    edge code; a threshold that is not an edge must raise."""
    from efficient_trees_spark.operators.histogram import (
        pair_cube_bytes,
        pair_cubes_to_child_counts,
    )

    edges = {"a": [1.0, 2.0]}
    cubes = {0: np.zeros(pair_cube_bytes(["a"], edges, 2) // 8, dtype=np.int64)}
    children = {1: ({"node_id": 0, "feature": "a", "threshold": 1.5}, True)}
    with pytest.raises(ValueError, match="not a bin edge"):
        pair_cubes_to_child_counts(cubes, children, ["a"], 2, edges)


@pytest.mark.parametrize("dtype", ["f4", "f8"])
def test_partition_order_stats_wire_types(spark, dtype):
    """Wire-type round trip of the order-stats pass: an ``f4`` fit ships
    its stat values as ``array<float>``, an ``f8`` fit as
    ``array<double>``, and the values are exactly what the numeric core
    (``_matrix_order_stats``) computes on the same dtype-converted matrix,
    NULL and NaN cells dropped."""
    import pyarrow as pa

    from efficient_trees_spark.operators.histogram import (
        STATS_FEATURE,
        _matrix_order_stats,
        partition_order_stats,
    )

    rng = np.random.default_rng(5)
    rows = [tuple(map(float, r)) for r in rng.normal(size=(300, 2))]
    rows += [(None, NAN), (NAN, None)]
    df = spark.createDataFrame(rows, "a double, b double").coalesce(1)
    stats = partition_order_stats(df, ["a", "b"], 16, dtype=dtype)
    elem = "float" if dtype == "f4" else "double"
    assert stats.schema["__sv"].dataType.simpleString() == f"array<{elem}>"
    tbl = stats.toArrow()
    np_dtype, pa_type = (
        (np.float32, pa.float32()) if dtype == "f4" else (np.float64, pa.float64())
    )
    assert tbl.schema.field("__sv").type == pa.list_(pa_type)

    matrix = np.array(
        [[NAN if v is None else v for v in r] for r in rows], dtype=np_dtype
    )
    feats, vals, vmax, ns = _matrix_order_stats(matrix, ["a", "b"], 16)
    got = {r[STATS_FEATURE]: r for r in tbl.to_pylist()}
    assert sorted(got) == feats == ["a", "b"]
    for name, v, mx, n in zip(feats, vals, vmax, ns):
        shipped = np.asarray(got[name]["__sv"], dtype=np_dtype)
        assert shipped.tobytes() == v.astype(np_dtype).tobytes(), name
        assert got[name]["__svx"] == mx and got[name]["__sn"] == n == 300


@pytest.mark.parametrize("width, n_edges", [("u1", 200), ("u2", 300)])
def test_pack_encode_wire_types(spark, width, n_edges):
    """Wire-type round trip of the fused pack + encode: the class index
    ships as ``int32``, and each row's blob holds one code per feature —
    ``uint8`` while every feature fits 253 edges, ``uint16`` past that,
    read from the edges alone — that decodes to the input value's edge
    index, NaN and NULL to the width's reserved top codes.  A dense cube
    pass given the same edges and no width reads the codes back: its
    merged counts are the bincount of the input's edge indices."""
    import pyarrow as pa

    from efficient_trees_spark.operators.histogram import (
        PACKED_COL,
        arrow_cube_rows,
        merge_cube_rows,
        packed_histogram_cubes,
    )
    from efficient_trees_spark.operators.split_finder import TARGET_IDX

    edges = {
        "a": [0.5, 1.5, 2.5],
        "b": [float(e) for e in np.arange(n_edges) * 0.25],
    }
    np_code = {"u1": np.uint8, "u2": np.uint16}[width]
    codes = _code_info(edges)
    assert codes.dtype == np_code
    rng = np.random.default_rng(9)
    want = {}
    rows = []
    for i in range(400):
        ia, ib = int(rng.integers(0, 3)), int(rng.integers(0, n_edges))
        rows.append((edges["a"][ia], edges["b"][ib], i))
        want[i] = [ia, ib]
    rows += [(None, NAN, 400), (NAN, None, 401)]
    want[400], want[401] = [codes.null, codes.nan], [codes.nan, codes.null]
    df = spark.createDataFrame(rows, f"a double, b double, {TARGET_IDX} int")
    packed = pack_encode_features(df, ["a", "b"], edges, dtype="f8")
    assert packed.schema[TARGET_IDX].dataType.simpleString() == "int"
    tbl = packed.toArrow()
    assert tbl.schema.field(TARGET_IDX).type == pa.int32()
    assert tbl.schema.field(PACKED_COL).type == pa.binary()
    got = {
        t: np.frombuffer(blob, dtype=np_code).tolist()
        for blob, t in zip(
            tbl.column(PACKED_COL).to_pylist(), tbl.column(TARGET_IDX).to_pylist()
        )
    }
    assert got == want

    n_classes = len(rows)  # each row is a class of its own
    merged = merge_cube_rows(
        arrow_cube_rows(
            packed_histogram_cubes(
                packed, ["a", "b"], n_classes, edges, {0: TreeRoute([], {0: 0})}
            ).toArrow()
        )
    )
    # Ragged slots: a's 3 edges and NaN, then b's n_edges edges and NaN;
    # the NULL cells count nowhere.
    a_idx = [want[i][0] for i in range(400)] + [3]
    b_idx = [want[i][1] for i in range(400)] + [n_edges]
    expected = np.concatenate(
        [np.bincount(a_idx, minlength=4), np.bincount(b_idx, minlength=n_edges + 1)]
    )
    cube = merged[0].reshape(-1, n_classes)
    assert cube.sum(axis=1).tolist() == expected.tolist()


def test_arrow_stat_rows_matches_collect(spark):
    """The zero-copy Arrow consumption of the order-stats relation must see
    exactly what row collect() sees — same tuples, same merged edges."""
    from efficient_trees_spark.operators.histogram import (
        arrow_stat_rows,
        merge_edge_stats_rows,
        partition_order_stats,
    )

    df = spark.createDataFrame(
        [(float(i % 7), float(i % 3), i % 2) for i in range(500)]
        + [(None, float("nan"), 0)],
        "a double, b double, t int",
    ).repartition(4)
    stats_df = partition_order_stats(df, ["a", "b"], 8, dtype="f4")
    via_arrow = arrow_stat_rows(stats_df.toArrow())
    via_rows = stats_df.collect()
    assert len(via_arrow) == len(via_rows)
    key = lambda r: (r[0], list(map(float, r[1])))  # noqa: E731
    for a, r in zip(sorted(via_arrow, key=key), sorted(via_rows, key=key)):
        assert a[0] == r[0]
        assert list(map(float, a[1])) == list(map(float, r[1]))
        assert float(a[2]) == float(r[2]) and int(a[3]) == int(r[3])
    ea = merge_edge_stats_rows(via_arrow, ["a", "b"], 4, stats_per_partition=8)
    er = merge_edge_stats_rows(via_rows, ["a", "b"], 4, stats_per_partition=8)
    assert ea == er


def test_linspace_gaps_reconstruction_matches_stage1():
    """The gap-free stats transfer (r12) reconstructs gap run-lengths from
    (n, g) alone; the reconstruction must be token-identical to the stage-1
    kernel's computation and must cover every non-null row exactly once."""
    from efficient_trees_spark.operators.histogram import _linspace_gaps

    for n in [1, 2, 3, 7, 8, 9, 100, 999, 1000, 1001, 54321]:
        for g in [2, 8, 16, 1000]:
            # the exact expression from _matrix_order_stats / the stage-1 sorts
            pos = np.unique(
                np.round(np.linspace(0, n - 1, min(g, n))).astype(np.int64)
            )
            gaps = np.diff(np.concatenate(([np.int64(-1)], pos))).astype(
                np.float64
            )
            got = _linspace_gaps(n, g)
            assert got.dtype == np.float64
            assert np.array_equal(got, gaps)
            assert got.sum() == n and got.size == pos.size


def test_linspace_gaps_cache_is_bounded_and_read_only():
    """Cached gap arrays are shared by every merge that asks for the same
    (n, g): they must be read-only, and the cache small enough that a
    long-lived worker cannot pile up gigabytes of them."""
    from efficient_trees_spark.operators.histogram import _linspace_gaps

    assert _linspace_gaps.cache_info().maxsize <= 4096
    gaps = _linspace_gaps(100, 8)
    with pytest.raises(ValueError, match="read-only"):
        gaps[0] = 5.0
    assert _linspace_gaps(100, 8)[0] == 1.0


def test_stats_merges_require_stats_per_partition():
    """The gaps never travel with the stats, so the merges cannot run
    without the stage-1 stats budget that rebuilds them."""
    from efficient_trees_spark.operators.histogram import (
        merge_edge_stats_rows,
        merge_order_stats_distributed,
    )

    rows = [("a", np.array([1.0, 2.0]), 2.0, 2)]
    with pytest.raises(TypeError, match="stats_per_partition"):
        merge_edge_stats_rows(rows, ["a"], 2)
    with pytest.raises(TypeError, match="stats_per_partition"):
        merge_order_stats_distributed(None, ["a"], 2)


def test_stats_merges_reject_mismatched_gaps(spark):
    """A stats row whose order statistics do not match the gaps rebuilt
    from (n, stats_per_partition) must fail loudly in both merges instead
    of mis-weighting the edges: 3 stats of a 10-row partition cannot come
    from g=8, which places 8."""
    from pyspark.errors import PythonException

    from efficient_trees_spark.operators.histogram import (
        merge_edge_stats_rows,
        merge_order_stats_distributed,
    )

    rows = [("a", np.array([1.0, 5.0, 9.0]), 9.0, 10)]
    with pytest.raises(ValueError, match="8 gap run-lengths for 3"):
        merge_edge_stats_rows(rows, ["a"], 2, stats_per_partition=8)
    stats_df = spark.createDataFrame(
        [("a", [1.0, 5.0, 9.0], 9.0, 10)],
        "__sf string, __sv array<double>, __svx double, __sn long",
    )
    with pytest.raises(PythonException, match="ValueError: reconstructed 8"):
        merge_order_stats_distributed(stats_df, ["a"], 2, stats_per_partition=8)


def test_distributed_stats_merge_matches_driver_merge(spark):
    """merge_order_stats_distributed (the over-maxResultSize fallback) must
    place bit-identical edges to the collect + driver merge path."""
    from efficient_trees_spark.operators.histogram import (
        arrow_stat_rows,
        merge_edge_stats_rows,
        merge_order_stats_distributed,
        partition_order_stats,
    )

    df = spark.createDataFrame(
        [(float(i % 13) / 3.0, float(i % 5), i % 2) for i in range(700)]
        + [(None, float("nan"), 1)],
        "a double, b double, t int",
    ).repartition(6)
    stats_df = partition_order_stats(df, ["a", "b"], 16, dtype="f4")
    driver = merge_edge_stats_rows(
        arrow_stat_rows(stats_df.toArrow()), ["a", "b"], 6,
        stats_per_partition=16,
    )
    dist = merge_order_stats_distributed(
        stats_df, ["a", "b"], 6, stats_per_partition=16
    )
    assert dist == driver


def _sketch_relation(spark, sizes: list[int]):
    """One partition per entry of ``sizes``, of that many rows: an
    all-duplicate, an all-NULL, a sorted (each partition a contiguous
    value range), a hashed and a 70%-one-value feature with NULLs and NaNs."""
    starts = [0, *np.cumsum(sizes).tolist()]
    ids = (
        spark.sparkContext.parallelize(range(len(sizes)), len(sizes))
        .flatMap(lambda k: ((i,) for i in range(starts[k], starts[k + 1])))
        .toDF("id long")
    )
    hashed = (F.abs(F.xxhash64("id")) % 1000003).cast("double")
    return ids.select(
        F.lit(3.0).alias("dup"),
        F.lit(None).cast("double").alias("null"),
        F.col("id").cast("double").alias("sorted"),
        hashed.alias("hashed"),
        F.when(F.col("id") % 13 == 0, F.lit(None))
        .when(F.col("id") % 17 == 0, F.lit(float("nan")))
        .when(F.col("id") % 10 < 7, F.lit(0.0))
        .otherwise(hashed)
        .alias("heavy"),
    )


@pytest.mark.parametrize(
    "sizes",
    [
        pytest.param([1] * 48, id="one-row-partitions"),
        pytest.param([1, 10, 100, 1_000, 10_000, 100_000], id="size-skewed"),
    ],
)
@pytest.mark.parametrize("stats", [64, 2048])
def test_edge_sketch_rank_error_is_within_one_over_stats(spark, sizes, stats):
    """The binned edges are mergeable order-statistics summaries (cf.
    "Approximation Algorithms for Large Scale Data Analysis", PODS 2021):
    over any partitioning, every target rank k * N / max_bins has an edge
    whose rank interval ``[#values < e, #values <= e]`` lies within
    ``N / stats_per_partition`` of it, N counting the non-NULL, non-NaN
    values.  Both merges of ``partition_order_stats`` give the same
    edges, and an all-NULL feature gets none."""
    from efficient_trees_spark.operators.histogram import (
        arrow_stat_rows,
        merge_edge_stats_rows,
        merge_order_stats_distributed,
        partition_order_stats,
    )

    n_bins = 32
    df = _sketch_relation(spark, sizes)
    names = df.columns
    assert df.rdd.getNumPartitions() == len(sizes)
    stats_df = partition_order_stats(df, names, stats, dtype="f8")
    driver, _ = merge_edge_stats_rows(
        arrow_stat_rows(stats_df.toArrow()), names, n_bins, stats_per_partition=stats
    )
    dist, _ = merge_order_stats_distributed(
        stats_df, names, n_bins, stats_per_partition=stats
    )
    assert driver == dist
    assert driver["null"] == []
    pdf = df.toPandas()
    for name in names:
        values = pdf[name].to_numpy(np.float64)
        values = np.sort(values[~np.isnan(values)])
        if not values.size:
            continue
        n = values.size
        edges = np.asarray(driver[name])
        below = np.searchsorted(values, edges, side="left")
        upto = np.searchsorted(values, edges, side="right")
        for k in range(1, n_bins):
            target = k * n / n_bins
            miss = np.maximum(np.maximum(below - target, target - upto), 0.0)
            assert miss.min() <= n / stats, (name, k, miss.min(), n / stats)


def test_stats_collect_budget_parses_sizes(spark):
    from efficient_trees_spark.operators.histogram import (
        _spark_size_bytes,
        stats_collect_budget,
    )

    assert _spark_size_bytes("1g") == 1 << 30
    assert _spark_size_bytes("512m") == 512 << 20
    assert _spark_size_bytes("2gb") == 2 << 30
    assert _spark_size_bytes("1024") == 1024
    # real session: budget is half the configured maxResultSize (>0)
    assert stats_collect_budget(spark) > 0


def test_binned_fit_identical_under_distributed_stats_merge(spark, monkeypatch):
    """Force the stats budget to zero so a binned fit takes the distributed
    stage-2 merge, and assert the learned tree is identical."""
    import efficient_trees_spark.operators.histogram as H
    from efficient_trees_spark.tree import DecisionTreeClassifier

    df = spark.createDataFrame(
        [(float(i % 11), float((i * 7) % 23) / 2.0, i % 3) for i in range(400)],
        "x0 double, x1 double, label int",
    ).repartition(5)
    kw = dict(max_depth=3, max_bins=8)
    base = DecisionTreeClassifier(**kw)
    base.fit(df, "label")
    monkeypatch.setattr(H, "stats_collect_budget", lambda _s: 0)
    forced = DecisionTreeClassifier(**kw)
    forced.fit(df, "label")
    assert forced.tree == base.tree
    assert forced.bin_edges_ == base.bin_edges_


def test_arrow_cube_rows_zero_copy_merge(spark):
    """arrow_cube_rows buffers feed merge_cubes_to_counts_pdf identically
    to collect() rows."""
    import pyarrow as pa

    from efficient_trees_spark.operators.histogram import (
        arrow_cube_rows,
        merge_cubes_to_counts_pdf,
        packed_histogram_cubes,
    )

    edges = {"f": [0.0, 1.0, 2.0]}
    flat = 1 * 4 * 2  # 1 feature x (3 edges + nan slot) x 2 classes
    cubes = [
        (0, np.arange(flat, dtype=np.int64).tobytes()),
        (0, np.ones(flat, dtype=np.int64).tobytes()),
        (1, (2 * np.ones(flat, dtype=np.int64)).tobytes()),
    ]
    tbl = pa.table(
        {
            "n": pa.array([c[0] for c in cubes], type=pa.int32()),
            "c": pa.array([c[1] for c in cubes], type=pa.binary()),
        }
    )
    pdf_a = merge_cubes_to_counts_pdf(arrow_cube_rows(tbl), ["f"], 2, edges)
    pdf_r = merge_cubes_to_counts_pdf(cubes, ["f"], 2, edges)
    assert pdf_a.equals(pdf_r)

    # Wire format: a dense cube row is exactly flat_slots x n_classes x 8
    # bytes, no tail: one row per (partition, node) of a real pass over
    # 4 rows with a NULL and a NaN cell.
    spark_df = spark.createDataFrame(
        [(0.0, 0), (None, 1), (float("nan"), 1), (2.0, 0)],
        "f double, __target_idx int",
    ).repartition(2)
    codes = pack_encode_features(spark_df, ["f"], edges, dtype="f8")
    rows = arrow_cube_rows(
        packed_histogram_cubes(
            codes, ["f"], 2, edges, {0: TreeRoute([], {0: 0})}
        ).toArrow()
    )
    assert rows
    assert all(len(memoryview(cube)) == flat * 8 for _, cube in rows)
    pdf = merge_cubes_to_counts_pdf(rows, ["f"], 2, edges)
    assert pdf["count_examples"].sum() == 3  # the NULL cell is not binned


def test_packed_partition_target_sizing():
    """Size-based code-cache partitioning: reduce many tiny source splits
    toward ~64 MB of codes per partition, floored at 4x parallelism (wave
    balance for the fused encode scan); never increase; never act without
    a row estimate (callers skip coalesce)."""
    from efficient_trees_spark.tree import _packed_partition_target

    # x30 ladder shape: 18M rows x 190 features over 848 splits -> ~3.5 GB
    # of codes -> ~64 MB per partition wants ~56, floored at 4*32.
    assert _packed_partition_target(848, 18_000_000, 190, 32) == 128
    # small input: no reduction (want above current count)
    assert _packed_partition_target(32, 600_000, 190, 32) == 32
    # huge input: bytes target and the 4x-parallelism floor both bound it
    big = _packed_partition_target(800_000, 10_000_000_000, 190, 8000)
    assert big == max(32_000, -(-10_000_000_000 * 198 // (64 << 20)))
    assert big < 800_000


def test_stats_merges_with_counts(spark):
    """Row counts ride every edge-merge path and report the same total
    row count the relation actually has."""
    from efficient_trees_spark.operators.histogram import (
        arrow_stat_rows,
        distinct_edges_packed,
        merge_edge_stats_rows,
        merge_order_stats_distributed,
        partition_order_stats,
    )

    rows = [(float(i % 13) / 3.0, float(i % 5), i % 2) for i in range(700)]
    df = spark.createDataFrame(
        rows + [(None, float("nan"), 1)], "a double, b double, t int"
    ).repartition(6)
    stats_df = partition_order_stats(df, ["a", "b"], 16, dtype="f4")
    stat_rows = arrow_stat_rows(stats_df.toArrow())
    edges_d, counts_d = merge_edge_stats_rows(
        stat_rows, ["a", "b"], 6, stats_per_partition=16
    )
    # per-feature non-null totals: 'a' misses the NULL row, 'b' the NaN row
    assert counts_d == {"a": 700, "b": 700}
    edges_x, counts_x = merge_order_stats_distributed(
        stats_df, ["a", "b"], 6, stats_per_partition=16
    )
    assert edges_x == edges_d
    assert counts_x == counts_d

    exact_edges, total_rows = distinct_edges_packed(df, ["a", "b"], dtype="f4")
    assert exact_edges["b"] == [0.0, 1.0, 2.0, 3.0, 4.0]
    # per-partition ROW counts (not non-null) summed once per partition
    assert total_rows == 701


def _gains_frame(pdf, n_classes, criterion):
    """The driver-side gains of ``pdf`` as the frame the Catalyst form's
    ``toPandas()`` yields, assembled from the production numpy core
    ``split_finder._gains_arrays``."""
    import pandas as pd

    nodes, features, values, gain, parent_c, lc, rc = (
        split_finder._gains_arrays(pdf, n_classes, criterion)
    )
    out = pd.DataFrame(
        {
            "__node_id": nodes.astype("int32"),
            split_finder.FEATURE: features,
            split_finder.FEATURE_VALUE: values,
            "information_gain": gain,
            "parent_criterion": parent_c,
        }
    )
    out["left_counts"] = list(lc)
    out["right_counts"] = list(rc)
    return out


def _spark_counts(spark, pdf):
    """``pdf`` as a Spark counts relation, built through a pyarrow table
    of numpy columns so the NaN candidate survives as NaN (pandas
    conversion would make it NULL, which sorts first)."""
    import pyarrow as pa

    types = {
        "__node_id": pa.int32(),
        split_finder.FEATURE: pa.string(),
        split_finder.FEATURE_VALUE: pa.float64(),
    }
    return spark.createDataFrame(
        pa.table(
            {
                c: pa.array(pdf[c].to_numpy(), type=types.get(c, pa.int64()))
                for c in pdf.columns
            }
        )
    )


@pytest.mark.parametrize("criterion", [Criterion.GINI, Criterion.ENTROPY])
def test_local_gains_numpy_gini_matches_catalyst(spark, criterion):
    """The driver-side scoring computes gains in numpy
    (``split_finder._gains_arrays``) instead of a Catalyst roundtrip —
    legitimate only because every step is IEEE correctly-rounded float64
    arithmetic in Catalyst's operation order, and entropy's log2 is a
    port of the fdlibm log Spark's ``Log2`` calls.  Pin BIT-identity
    against the distributed Catalyst form over the same counts, with NaN
    candidates, per-class zeros, 3 classes, single-candidate features
    (fully filtered by the max-value rule) and large counts."""
    import pandas as pd

    rng = np.random.default_rng(23)
    nodes, feats, bins, ncls = 3, 5, 9, 3
    n = nodes * feats * bins
    pdf = pd.DataFrame(
        {
            "__node_id": np.repeat(np.arange(nodes, dtype=np.int32), feats * bins),
            split_finder.FEATURE: np.tile(
                np.repeat([f"f_{j}" for j in range(feats)], bins), nodes
            ),
            split_finder.FEATURE_VALUE: np.tile(
                np.arange(bins, dtype=np.float64) / bins, nodes * feats
            ),
            "count_examples": np.zeros(n, dtype=np.int64),
        }
    )
    for c in range(ncls):
        col = rng.integers(0, 97, n)
        col[rng.random(n) < 0.3] = 0  # per-class zeros exercise p = 0
        pdf[f"class_{c}_count"] = col
        pdf["count_examples"] += col
    zero = pdf["count_examples"] == 0
    pdf.loc[zero, "class_0_count"] += 1
    pdf.loc[zero, "count_examples"] += 1
    # the last slot of each feature is the NaN candidate, like the real cube
    pdf.loc[pdf.index % bins == bins - 1, split_finder.FEATURE_VALUE] = NAN
    # one single-candidate feature per node: its only row IS the maximum, so
    # the cum < sum filter must drop the whole feature in both forms
    single = pd.DataFrame(
        {
            "__node_id": np.arange(nodes, dtype=np.int32),
            split_finder.FEATURE: "f_single",
            split_finder.FEATURE_VALUE: 1.0,
            "count_examples": np.int64(7),
            "class_0_count": np.int64(3),
            "class_1_count": np.int64(4),
            "class_2_count": np.int64(0),
        }
    )
    # large counts: int64 -> double casts well past int32
    big = pd.DataFrame(
        {
            "__node_id": np.int32(0),
            split_finder.FEATURE: "f_big",
            split_finder.FEATURE_VALUE: [0.0, 1.0],
            "count_examples": np.array([1 << 40, (1 << 40) + 3], dtype=np.int64),
            "class_0_count": np.array([1 << 39, 1 << 38], dtype=np.int64),
            "class_1_count": np.array([1 << 39, (1 << 39) + (1 << 38) + 3], dtype=np.int64),
            "class_2_count": np.array([0, 0], dtype=np.int64),
        }
    )
    pdf = pd.concat([pdf, single, big], ignore_index=True)

    def sort(out):
        return out.sort_values(
            ["__node_id", "feature", "feature_value"]
        ).reset_index(drop=True)

    counts = _spark_counts(spark, pdf)
    catalyst = sort(
        split_finder.candidate_split_gains(
            counts, ncls, criterion, node_col="__node_id"
        ).toPandas()
    )
    local = sort(_gains_frame(pdf, ncls, criterion))

    assert len(catalyst) == len(local) > 0
    assert not (catalyst["feature"] == "f_single").any()  # max-value filter
    assert (catalyst["feature"].to_numpy() == local["feature"].to_numpy()).all()
    a = catalyst["feature_value"].to_numpy(np.float64)
    b = local["feature_value"].to_numpy(np.float64)
    assert (a.view(np.int64) == b.view(np.int64)).all()  # NaN-exact
    for col in ("information_gain", "parent_criterion"):
        av = catalyst[col].to_numpy(np.float64).view(np.int64)
        bv = local[col].to_numpy(np.float64).view(np.int64)
        assert (av == bv).all(), col
    for col in ("left_counts", "right_counts"):
        assert all(
            list(x) == list(y) for x, y in zip(catalyst[col], local[col])
        ), col


def test_fdlibm_log2_matches_spark_log2_bit_for_bit(spark):
    """``fdlibm.log2`` must return Spark's ``log2`` bits on every
    proportion ``c/n`` with ``n <= 1000`` (500,500 values).  The platform
    ``np.log`` must differ on some of them, or the port pins nothing."""
    from efficient_trees_spark.functions import fdlibm

    tbl = (
        spark.range(1, 1001)
        .select(
            F.col("id").alias("n"),
            F.explode(F.sequence(F.lit(1).cast("long"), F.col("id"))).alias("c"),
        )
        .select((F.col("c") / F.col("n")).alias("p"))
        .select("p", F.log2("p").alias("log2"))
        .toArrow()
    )
    p = tbl.column("p").to_numpy()
    spark_bits = tbl.column("log2").to_numpy().view(np.int64)
    assert len(p) == 500_500
    assert (fdlibm.log2(p).view(np.int64) == spark_bits).all()
    assert ((np.log(p) / np.log(2.0)).view(np.int64) != spark_bits).any()


def test_entropy_counts_pdf_scores_without_spark_jobs(spark):
    """An entropy level scored from a driver-local counts relation (the
    scorer's collect, merged cubes or a carried pair-cube level) runs no
    Spark job."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "__node_id": np.int32(0),
            split_finder.FEATURE: ["a", "a", "a", "b", "b"],
            split_finder.FEATURE_VALUE: [1.0, 2.0, NAN, 0.5, 1.5],
            "class_0_count": np.array([5, 1, 2, 3, 5], dtype=np.int64),
            "class_1_count": np.array([0, 4, 3, 4, 1], dtype=np.int64),
        }
    )
    pdf["count_examples"] = pdf["class_0_count"] + pdf["class_1_count"]
    found: list = []
    jobs = _jobs_in_group(
        spark,
        lambda: found.extend(
            split_finder.best_splits_from_counts_pdf(
                pdf, 2, ["a", "b"], Criterion.ENTROPY
            )
        ),
    )
    assert jobs == 0
    assert [(b["feature"], b["threshold"]) for b in found] == [("a", 1.0)]


def test_binned_fit_never_probes_rdd_on_parquet_source(spark, monkeypatch, tmp_path):
    """The partition-count probes (`tree._fan_out_small_input`,
    `_two_scan_binned_edges`, `_coalesce_for_pack`,
    `split_finder.find_best_splits_packed`) must thread the KNOWN count
    instead of calling ``df.rdd``: under AQE, ``.rdd`` on a plan containing
    the fan-out Exchange EXECUTES the shuffle stage — a full extra source
    pass per probe (two per binned fit before r11's threading fix,
    measured ~2.3 s of the 5.2 s sf0.1 binned fit).  Poison the property
    and require parquet-backed binned fits to complete without it: one on
    lineitem, and one whose features are all NULL (a row estimate of 0,
    where the count must still be threaded on)."""
    import pyspark.sql.classic.dataframe as _cdf

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        F.col("l_returnflag").alias("target"),
    )
    null_path = str(tmp_path / "all_null.parquet")
    li.select(
        *[F.lit(None).cast("double").alias(c) for c in ("a", "b")], "target"
    ).write.parquet(null_path)
    all_null = spark.read.parquet(null_path)

    def fit(df):
        model = DecisionTreeClassifier(
            max_depth=2, criterion=Criterion.GINI, max_bins=16
        )
        model.fit(df, "target")
        return model.tree

    expected = [fit(li), fit(all_null)]
    assert expected[1]["type"] == "leaf"

    def poisoned_rdd(self):
        raise AssertionError(
            ".rdd probe reached on the binned fit path — partition-count "
            "threading regressed (this executes Exchange stages under AQE)"
        )

    monkeypatch.setattr(
        _cdf.DataFrame, "rdd", property(poisoned_rdd), raising=True
    )
    assert [fit(li), fit(all_null)] == expected


def _nulls_nans_lineitem(spark):
    """sf0.001 lineitem numerics with NULL cells, NaN cells and a
    high-cardinality continuous feature."""
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.when(F.col("l_quantity") > 45, F.lit(None)).otherwise(
            F.col("l_quantity")
        ).alias("q_nullable"),
        F.when(F.col("l_discount") > 0.09, F.lit(float("nan"))).otherwise(
            F.col("l_extendedprice")
        ).alias("price_nanable"),
        "l_discount", "l_tax",
        F.col("l_returnflag").alias("target"),
    )


def test_exact_gini_local_gains_tree_matches_distributed(spark, monkeypatch):
    """The exact melt's levels go through the shared scorer: under the
    driver-collect budget the checkpointed gini counts are collected and
    scored driver-side (numpy gains, then a local argmax); over it, the
    distributed two-phase-window + max_by pipeline.  Both forms must fit
    BIT-identical trees.  Force the distributed form by zeroing the budget
    and compare whole trees on a relation with NULLs, NaNs and a
    high-cardinality continuous feature; a spy on
    ``candidate_split_gains`` pins the form each fit took, for gini and
    entropy alike."""
    li = _nulls_nans_lineitem(spark)
    calls: list = []
    record_calls(monkeypatch, split_finder, "candidate_split_gains", calls, "distributed")

    def fit_tree(criterion):
        calls.clear()
        m = DecisionTreeClassifier(max_depth=3, criterion=criterion)
        m.fit(li, "target")
        return m.tree, len(calls)

    budget = split_finder._LOCAL_GAINS_MAX_ROWS
    for criterion in (Criterion.GINI, Criterion.ENTROPY):
        monkeypatch.setattr(split_finder, "_LOCAL_GAINS_MAX_ROWS", budget)
        local_tree, local_calls = fit_tree(criterion)
        monkeypatch.setattr(split_finder, "_LOCAL_GAINS_MAX_ROWS", 0)
        distributed_tree, distributed_calls = fit_tree(criterion)
        assert distributed_calls > 0, criterion
        assert local_calls == 0, criterion
        assert local_tree["type"] == "node", criterion
        assert local_tree == distributed_tree, criterion


@pytest.mark.parametrize(
    "criterion, row_width, budget",
    # 1 KiB: a 21-row counts cap at 3 classes, under the root level's ~56
    # rows.  Both criteria collect only the counts.
    [(Criterion.GINI, 3 + 3, 1 << 10), (Criterion.ENTROPY, 3 + 3, 1 << 10)],
)
def test_packed_sparse_collect_is_byte_bounded(
    spark, monkeypatch, criterion, row_width, budget
):
    """The packed fit scores a level driver-side only while every collect
    of that scoring fits the driver-collect BYTE budget
    (``_local_gains_row_cap``), not just a row count: the counts row of
    ``n_classes + 3`` columns, for either criterion.  With
    ``spark.driver.maxResultSize``'s budget
    too small for the root level at that width (which also rules the
    dense cubes out), the level must take the distributed gains pipeline,
    no driver-scored level may exceed the budget, and the tree must not
    change."""
    from efficient_trees_spark.operators import histogram as H

    li = _nulls_nans_lineitem(spark)
    kw = dict(max_depth=3, criterion=criterion, max_bins=16)
    base = DecisionTreeClassifier(**kw)
    base.fit(li, "target")

    calls: list = []
    record_calls(monkeypatch, split_finder, "candidate_split_gains", calls, "distributed")
    record_calls(monkeypatch, H, "packed_histogram_cubes", calls, "dense")
    record_calls(monkeypatch, H, "packed_histogram_pair_cubes", calls, "pair")
    scored: list = []
    score = split_finder.best_splits_from_counts_pdf

    def spy(pdf, *args, **kwargs):
        scored.append(len(pdf))
        return score(pdf, *args, **kwargs)

    monkeypatch.setattr(split_finder, "best_splits_from_counts_pdf", spy)
    monkeypatch.setattr(H, "stats_collect_budget", lambda _s: budget)
    bounded = DecisionTreeClassifier(**kw)
    bounded.fit(li, "target")
    assert "distributed" in calls
    assert "dense" not in calls and "pair" not in calls
    assert all(rows * row_width * 8 <= budget for rows in scored), scored
    assert bounded.tree == base.tree


def test_best_splits_gini_local_matches_two_step_form():
    """The fused winners-only argmax (`best_splits_from_counts_pdf`) must pick, for
    both criteria, the rows a plain-Python argmax picks over the full gains
    frame of `_gains_arrays` in the `max_by` form's total order (gain desc,
    position asc, threshold asc, the NaN threshold first) — on a
    multi-node relation engineered with exact gain TIES across features
    and NaN candidates.  Pure driver code, no Spark session needed."""
    import pandas as pd

    rng = np.random.default_rng(41)
    nodes, feats, bins, ncls = 5, 6, 7, 3
    n = nodes * feats * bins
    pdf = pd.DataFrame(
        {
            "__node_id": np.repeat(np.arange(nodes, dtype=np.int32), feats * bins),
            split_finder.FEATURE: np.tile(
                np.repeat([f"f_{j}" for j in range(feats)], bins), nodes
            ),
            split_finder.FEATURE_VALUE: np.tile(
                np.arange(bins, dtype=np.float64), nodes * feats
            ),
            "count_examples": np.zeros(n, dtype=np.int64),
        }
    )
    for c in range(ncls):
        col = rng.integers(0, 9, n)
        pdf[f"class_{c}_count"] = col
        pdf["count_examples"] += col
    zero = pdf["count_examples"] == 0
    pdf.loc[zero, "class_0_count"] += 1
    pdf.loc[zero, "count_examples"] += 1
    # engineered ties: every feature of node 0 gets IDENTICAL per-bin
    # counts (same gains for all 6 features -> the position tie-break
    # decides); NaN candidates on the last bin of two features
    base = pdf[pdf["__node_id"] == 0]
    for j in range(1, feats):
        sel = (pdf["__node_id"] == 0) & (
            pdf[split_finder.FEATURE] == f"f_{j}"
        )
        for c in range(ncls):
            pdf.loc[sel, f"class_{c}_count"] = base.loc[
                base[split_finder.FEATURE] == "f_0", f"class_{c}_count"
            ].to_numpy()
        pdf.loc[sel, "count_examples"] = base.loc[
            base[split_finder.FEATURE] == "f_0", "count_examples"
        ].to_numpy()
    nan_rows = pdf[split_finder.FEATURE].isin(["f_1", "f_4"]) & (
        pdf[split_finder.FEATURE_VALUE] == bins - 1
    )
    pdf.loc[nan_rows, split_finder.FEATURE_VALUE] = NAN

    names = [f"f_{j}" for j in range(feats)]

    def total_order(r):
        v = r[split_finder.FEATURE_VALUE]
        return (
            r["information_gain"],
            -names.index(r[split_finder.FEATURE]),
            math.inf if math.isnan(v) else -v,
        )

    for criterion in (Criterion.GINI, Criterion.ENTROPY):
        fused = split_finder.best_splits_from_counts_pdf(
            pdf, ncls, names, criterion
        )
        best: dict = {}
        for r in _gains_frame(pdf, ncls, criterion).to_dict("records"):
            node = int(r["__node_id"])
            if node not in best or total_order(r) > total_order(best[node]):
                best[node] = r
        two_step = [
            {
                "node_id": node,
                "feature": r[split_finder.FEATURE],
                "threshold": float(r[split_finder.FEATURE_VALUE]),
                "information_gain": float(r["information_gain"]),
                "parent_criterion": float(r["parent_criterion"]),
                "left_counts": [int(x) for x in r["left_counts"]],
                "right_counts": [int(x) for x in r["right_counts"]],
            }
            for node, r in best.items()
        ]
        key = lambda r: r["node_id"]
        assert repr(sorted(fused, key=key)) == repr(sorted(two_step, key=key))
        assert len(fused) == nodes
        # the engineered node-0 tie goes to the first feature
        assert next(b for b in fused if b["node_id"] == 0)["feature"] == "f_0"


def test_entropy_scores_parent_impurity_once_per_group(monkeypatch):
    """The parent impurity is constant within a (node, feature) group, so
    an entropy level takes one ``log2`` per group and class for it, not
    one per candidate: at most 2 x candidates x classes values (the two
    children) plus groups x classes reach ``fdlibm.log2``."""
    import pandas as pd

    from efficient_trees_spark.functions import fdlibm

    rng = np.random.default_rng(5)
    nodes, feats, values, ncls = 2, 3, 20, 3
    n = nodes * feats * values
    pdf = pd.DataFrame(
        {
            "__node_id": np.repeat(np.arange(nodes, dtype=np.int32), feats * values),
            split_finder.FEATURE: np.tile(
                np.repeat([f"f_{j}" for j in range(feats)], values), nodes
            ),
            split_finder.FEATURE_VALUE: np.tile(
                np.arange(values, dtype=np.float64), nodes * feats
            ),
        }
    )
    for c in range(ncls):  # every class on every row: every p is > 0
        pdf[f"class_{c}_count"] = rng.integers(1, 9, n)
    pdf["count_examples"] = sum(pdf[f"class_{c}_count"] for c in range(ncls))
    seen: list = []
    log2 = fdlibm.log2

    def spy(x):
        seen.append(np.size(x))
        return log2(x)

    monkeypatch.setattr(fdlibm, "log2", spy)
    best = split_finder.best_splits_from_counts_pdf(
        pdf, ncls, [f"f_{j}" for j in range(feats)], Criterion.ENTROPY,
    )
    assert len(best) == nodes
    groups = nodes * feats
    candidates = groups * (values - 1)  # each group's maximum is no candidate
    assert sum(seen) <= 2 * candidates * ncls + groups * ncls, sum(seen)


def test_pair_lookahead_fit_matches_single_level_passes(spark, monkeypatch):
    """r12 pair-cube lookahead: a binned fit that scores two levels from
    ONE joint-histogram pass must produce the BIT-identical tree to the
    one-level-per-pass form (exact int64 marginals/conditionals of the
    same routed rows).  Exercised with NULLs (drop-from-both-children)
    and NaNs (route right, own candidate bucket) in the mix, at a depth
    where a carried level is followed by another pair pass, for a single
    tree and for a feature-bagged forest, whose carried levels span its
    trees."""
    from efficient_trees_spark.operators import histogram

    li = _nulls_nans_lineitem(spark)

    def fit_tree(criterion):
        m = DecisionTreeClassifier(max_depth=4, criterion=criterion, max_bins=16)
        m.fit(li, "target")
        return m.tree

    def fit_forest(criterion):
        rf = RandomForestClassifier(
            n_trees=3, max_depth=4, criterion=criterion, feature_fraction=0.5,
            max_bins=16, seed=5,
        )
        rf.fit(li, "target")
        return rf.trees

    for fit in (fit_tree, fit_forest):
        for criterion in (Criterion.GINI, Criterion.ENTROPY):
            carried: list = []
            record_calls(
                monkeypatch, histogram, "pair_cubes_to_child_counts", carried, "carried"
            )
            pair_tree = fit(criterion)
            assert carried, (fit.__name__, criterion)
            # force the pair budget to always exclude: every level runs
            # its own single-level pass (the r11 shape)
            monkeypatch.setattr(
                histogram, "pair_cube_bytes", lambda *a, **k: 1 << 62
            )
            carried.clear()
            single_tree = fit(criterion)
            monkeypatch.undo()
            assert not carried, (fit.__name__, criterion)
            assert pair_tree == single_tree, (fit.__name__, criterion)


def test_pair_cube_child_counts_match_real_second_level(spark):
    """The pair cube's conditional slices must equal a REAL level-1
    histogram pass over the same routing — row-for-row, count-for-count
    (the relation the carried level scores is what a Spark job would
    have produced)."""
    from efficient_trees_spark.operators import histogram, split_finder as sf
    from efficient_trees_spark.operators.histogram import (
        merge_cubes_to_counts_pdf, merge_cube_rows,
        packed_histogram_cubes, packed_histogram_pair_cubes,
        pair_cubes_to_child_counts, pair_cubes_to_level_counts,
        pack_encode_features, distinct_edges_packed,
    )
    from efficient_trees_spark.operators.split_finder import TARGET_IDX

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.col("l_quantity").cast("double").alias("q"),
        F.when(F.col("l_tax") > 0.05, F.lit(None))
        .otherwise(F.col("l_discount")).cast("double").alias("d_nullable"),
        F.when(F.col("l_linenumber") > 5, F.lit(float("nan")))
        .otherwise(F.col("l_tax")).cast("double").alias("t_nanable"),
        F.when(F.col("l_returnflag") == "A", 0)
        .when(F.col("l_returnflag") == "N", 1)
        .otherwise(2).alias(TARGET_IDX),
    )
    names = ["q", "d_nullable", "t_nanable"]
    edges, _ = distinct_edges_packed(li, names, dtype="f8")
    packed = pack_encode_features(li, names, edges, dtype="f8")
    packed = packed.persist()
    n_classes = 3

    # level 0 from the pair cube
    pair_rows = histogram.arrow_cube_rows(
        packed_histogram_pair_cubes(
            packed, names, n_classes, edges, {0: TreeRoute([], {0: 0})},
        ).toArrow()
    )
    merged = merge_cube_rows(pair_rows)
    pdf0_pair = pair_cubes_to_level_counts(
        merged, names, n_classes, edges
    )
    # level 0 from the one-level cube pass
    rows0 = histogram.arrow_cube_rows(
        packed_histogram_cubes(
            packed, names, n_classes, edges, {0: TreeRoute([], {0: 0})},
        ).toArrow()
    )
    pdf0 = merge_cubes_to_counts_pdf(rows0, names, n_classes, edges)
    import pandas as pd

    key = ["__node_id", sf.FEATURE, sf.FEATURE_VALUE]
    pd.testing.assert_frame_equal(
        pdf0_pair.sort_values(key).reset_index(drop=True),
        pdf0.sort_values(key).reset_index(drop=True),
    )

    # choose level-0 splits, derive level-1 from the pair cube, and
    # compare against a REAL routed level-1 pass
    best = sf.best_splits_from_counts_pdf(
        pdf0, n_classes, names, Criterion.GINI
    )
    chosen = [b for b in best if b["information_gain"] > 0]
    assert chosen, "fixture must produce a splittable root"
    b = chosen[0]
    carry = pair_cubes_to_child_counts(
        merged,
        {1: (b, True), 2: (b, False)},
        names, n_classes, edges,
    )
    from bisect import bisect_left

    splits = [
        (0, names.index(b["feature"]),
         bisect_left(edges[b["feature"]], b["threshold"]), 1, 2)
    ]
    rows1 = histogram.arrow_cube_rows(
        packed_histogram_cubes(
            packed, names, n_classes, edges,
            {0: TreeRoute(splits, {1: 1, 2: 2})},
        ).toArrow()
    )
    pdf1 = merge_cubes_to_counts_pdf(rows1, names, n_classes, edges)
    pd.testing.assert_frame_equal(
        carry.sort_values(key).reset_index(drop=True),
        pdf1.sort_values(key).reset_index(drop=True),
    )
    packed.unpersist()
