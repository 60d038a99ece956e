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

from efficient_trees_spark.enums import Criterion
from efficient_trees_spark.operators import split_finder
from efficient_trees_spark.operators.histogram import (
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
    codes = pack_encode_features(df, names, edges, "__target_idx", dtype="f8")
    return _collect_counts(
        packed_histogram_counts(
            codes, names, 2, edges, "__target_idx", [], "__node_id"
        )
    )


def test_arrow_counts_match_melt_counts(spark, messy_df):
    edges = {"a": [1.0, 2.5, 4.0], "b": [5.0, 7.5, 9.0]}
    arrow = _packed_counts(messy_df, ["a", "b"], edges)

    # Reference relation: snap (values are already edges here), melt, count.
    long_df = split_finder.melt_features(messy_df, ["a", "b"], "__target_idx")
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
    edges_map, n_rows = _two_scan_binned_edges(df, ["x"], n_bins, 400, "f8")
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
    edges = _two_scan_binned_edges(df, ["x"], 2, 64, "f8")[0]["x"]
    assert edges[-1] == 3.0
    assert all(not math.isnan(e) for e in edges)


def _assert_binned_equals_exact_on_snapped(data, **kwargs):
    """A binned packed fit must grow the BIT-identical tree to the exact
    melt fit on the same data snapped (in test code) to its edges."""
    binned = DecisionTreeClassifier(**kwargs)
    binned.fit(data, "target")
    del kwargs["max_bins"]
    exact = DecisionTreeClassifier(hist_method="expand", **kwargs)
    exact.fit(snap_to_edges(data, binned.bin_edges_), "target")
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


def _level_passes(spark, monkeypatch, fit) -> tuple[int, int]:
    """(calls, Spark jobs) of the packed level search during ``fit()``,
    its jobs counted by a job group the wrapped search sets."""
    sc = spark.sparkContext
    group = f"level-pass-{uuid.uuid4().hex}"
    calls = []
    search = split_finder.find_best_splits_packed

    def tagged(*args, **kwargs):
        calls.append(1)
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, "packed level pass")
        try:
            return search(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    monkeypatch.setattr(split_finder, "find_best_splits_packed", tagged)
    try:
        fit()
    finally:
        monkeypatch.setattr(split_finder, "find_best_splits_packed", search)
    return len(calls), len(sc.statusTracker().getJobIdsForGroup(group))


def test_depth2_binned_fits_run_one_level_job(spark, monkeypatch):
    """A depth-2 binned fit scores both levels from ONE pair-cube job
    (level 1 is carried and scored driver-side), and a 4-tree depth-2
    binned forest grows its trees level-synchronously: one level job for
    all four trees, not four.  (Gini gains are driver-side numpy and the
    local input has no exchange, so the level pass's only job is its
    histogram pass.)"""
    from efficient_trees_spark.ensemble import RandomForestClassifier
    from tests.iris_fixture import train_test_frames

    train_pd, _ = train_test_frames(string_labels=False)
    data = spark.createDataFrame(train_pd.drop(columns=["categorical_feature"]))
    tree = DecisionTreeClassifier(max_depth=2, criterion=Criterion.GINI, max_bins=8)
    assert _level_passes(spark, monkeypatch, lambda: tree.fit(data, "target")) == (1, 1)
    assert tree.tree["type"] == "node"
    forest = RandomForestClassifier(
        n_trees=4, max_depth=2, criterion=Criterion.GINI, max_bins=8, seed=3
    )
    assert _level_passes(spark, monkeypatch, lambda: forest.fit(data, "target")) == (1, 1)
    assert all(t["type"] == "node" for t in forest.trees)


def test_hist_method_validation():
    with pytest.raises(ValueError, match="unknown hist_method"):
        DecisionTreeClassifier(hist_method="numpy")
    # binned codes must fit uint16: edges number at most max_bins
    with pytest.raises(ValueError, match="max_bins must be <= 65533"):
        DecisionTreeClassifier(max_bins=65534)
    DecisionTreeClassifier(max_bins=65533)
    # the melt is exact-only; binned fits run on the packed level loop
    with pytest.raises(ValueError, match="takes no max_bins"):
        DecisionTreeClassifier(max_bins=8, hist_method="expand")


# ----------------------------------------------------- exact-mode packed path


def test_exact_arrow_matches_exact_expand(spark):
    """max_bins=None + hist_method='arrow': candidates are every distinct
    value on the packed path — the tree must be bit-identical to the exact
    melt, including NULL/NaN routing corners."""
    rows = []
    for i in range(300):
        a = None if i % 13 == 0 else (NAN if i % 17 == 0 else float(i % 23))
        b = NAN if i % 11 == 0 else float((i * 7) % 19)
        rows.append((a, b, i % 2))
    data = spark.createDataFrame(rows, "a double, b double, target int")
    trees = {}
    for hm in ("arrow", "expand"):
        m = DecisionTreeClassifier(max_depth=3, criterion=Criterion.GINI, hist_method=hm)
        m.fit(data, "target")
        trees[hm] = json.dumps(m.tree, sort_keys=True)
        assert m.tree["type"] == "node"
    assert trees["arrow"] == trees["expand"]


def test_exact_arrow_overflow_raises_with_guidance(spark):
    """A feature with more distinct values than uint16 code space must fail
    loudly in exact arrow mode, pointing at max_bins / expand.  (Up to
    65 533 distinct values the packed path now handles it via uint16 codes
    — see test_exact_uint16_parity_past_253_distinct.)"""
    data = spark.range(66_000).selectExpr(
        "CAST(id AS DOUBLE) AS a", "CAST(id % 2 AS INT) AS target"
    )
    with pytest.raises(ValueError, match="distinct values per feature"):
        DecisionTreeClassifier(max_depth=2, hist_method="arrow").fit(data, "target")


def test_exact_uint16_parity_past_253_distinct(spark):
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
    m_packed = DecisionTreeClassifier(max_depth=3, hist_method="arrow")
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any fallback warning fails the test
        m_packed.fit(data, "target")
    # the wide feature really went through packed codes: its full distinct
    # set became the candidate edges (the u2 selection precondition)
    assert len(m_packed.bin_edges_["a"]) == 900  # > 253 -> uint16 codes
    m_melt = DecisionTreeClassifier(max_depth=3, hist_method="expand")
    m_melt.fit(data, "target")
    assert m_packed.tree == m_melt.tree


def test_wide_exact_melt_warns(spark):
    """An EXPLICIT exact-mode melt over >= 64 features must not run silently."""
    data = build_wide_table(spark, SF_DIR, n_features=64)
    m = DecisionTreeClassifier(max_depth=1, hist_method="expand")
    with pytest.warns(UserWarning, match="Expands every row per feature"):
        m.fit(data, "target")


def test_auto_wide_exact_uses_packed_when_cardinality_fits(spark):
    """hist_method='auto' + exact mode + >= 64 features + low per-feature
    cardinality: the packed exact path engages (bin_edges_ = the distinct
    values); no fallback warning."""
    cols = [
        ((F.col("id") * (j + 3)) % (7 + j % 5)).cast("double").alias(f"f{j}")
        for j in range(64)
    ]
    data = spark.range(2000).select(*cols, (F.col("id") % 2).cast("int").alias("target"))
    m = DecisionTreeClassifier(max_depth=2)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        m.fit(data, "target")
    assert m.bin_edges_ is not None
    assert all(len(e) <= 253 for e in m.bin_edges_.values())


def test_auto_wide_exact_falls_back_to_melt_on_overflow(spark):
    """auto + exact + wide, but one feature has > 65 533 distinct values
    (uint16 code space): the packed probe falls back to the melt with a
    warning and the fit still completes."""
    cols = [
        ((F.col("id") * (j + 3)) % 11).cast("double").alias(f"f{j}")
        for j in range(63)
    ] + [F.col("id").cast("double").alias("f_hi")]  # 66 000 distinct values
    data = spark.range(66_000).select(
        *cols, (F.col("id") % 2).cast("int").alias("target")
    )
    m = DecisionTreeClassifier(max_depth=1)
    with pytest.warns(UserWarning, match="falling back to the melt"):
        m.fit(data, "target")
    assert m.bin_edges_ is None
    assert m.tree is not None


def test_auto_wide_exact_uses_uint16_between_253_and_65533(spark):
    """auto + exact + wide with one mid-cardinality feature (254..65533
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
    edges, _ = _two_scan_binned_edges(prepared, feats, 16, 64, "f4")
    # Other operators legitimately leave lazy localCheckpoint blocks in the
    # shared session's RDD cache until GC (split-gains counts, BM25 postings
    # — r11), so attribute ONLY the relation this test persists instead of
    # taking max over the whole cache.
    before = {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    codes, code_dtype, _ = _encode_codes(prepared, feats, edges, "f4")
    assert code_dtype == "u1"
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
    assert DecisionTreeClassifier._compile_routing_splits(node, ["a"], edges) == [
        (0, 0, 1, -1, -1)
    ]
    for threshold in (1.5, 3.0):
        bad = dict(node, threshold=threshold)
        with pytest.raises(ValueError, match="not a bin edge"):
            DecisionTreeClassifier._compile_routing_splits(bad, ["a"], edges)


def test_pair_child_counts_reject_non_edge_threshold():
    """``pair_cubes_to_child_counts`` slices the cube at the threshold's
    edge code; a threshold that is not an edge must raise."""
    from efficient_trees_spark.operators.histogram import (
        pair_cube_bytes,
        pair_cubes_to_child_counts,
    )

    edges = {"a": [1.0, 2.0]}
    cubes = {0: np.zeros(pair_cube_bytes(["a"], edges, 2) // 8, dtype=np.int64)}
    chosen = [{"node_id": 0, "feature": "a", "threshold": 1.5}]
    with pytest.raises(ValueError, match="not a bin edge"):
        pair_cubes_to_child_counts(cubes, chosen, ["a"], 2, edges, "__node_id")


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
    kw = dict(max_depth=3, max_bins=8, hist_method="arrow")
    base = DecisionTreeClassifier(**kw)
    base.fit(df, "label")
    monkeypatch.setattr(H, "stats_collect_budget", lambda _s: 0)
    forced = DecisionTreeClassifier(**kw)
    forced.fit(df, "label")
    assert forced.tree == base.tree
    assert forced.bin_edges_ == base.bin_edges_


def test_arrow_cube_rows_zero_copy_merge(spark):
    """_arrow_cube_rows buffers feed merge_cubes_to_counts_pdf identically
    to collect() rows."""
    import pyarrow as pa

    from efficient_trees_spark.operators.histogram import (
        merge_cubes_to_counts_pdf,
    )
    from efficient_trees_spark.operators.split_finder import _arrow_cube_rows

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
    pdf_a, _ = merge_cubes_to_counts_pdf(
        _arrow_cube_rows(tbl), ["f"], 2, edges, "n"
    )
    pdf_r, _ = merge_cubes_to_counts_pdf(cubes, ["f"], 2, edges, "n")
    assert pdf_a.equals(pdf_r)


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
    """with_counts rides every edge-merge path and reports the same total
    row count the relation actually has; edges are unchanged."""
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
    plain = merge_edge_stats_rows(
        stat_rows, ["a", "b"], 6, stats_per_partition=16
    )
    edges_d, counts_d = merge_edge_stats_rows(
        stat_rows, ["a", "b"], 6, with_counts=True, stats_per_partition=16
    )
    assert edges_d == plain
    # per-feature non-null totals: 'a' misses the NULL row, 'b' the NaN row
    assert counts_d == {"a": 700, "b": 700}
    edges_x, counts_x = merge_order_stats_distributed(
        stats_df, ["a", "b"], 6, with_counts=True, stats_per_partition=16
    )
    assert edges_x == plain
    assert counts_x == counts_d

    exact_plain = distinct_edges_packed(df, ["a", "b"], dtype="f4")
    exact_edges, total_rows = distinct_edges_packed(
        df, ["a", "b"], dtype="f4", with_counts=True
    )
    assert exact_edges == exact_plain
    # per-partition ROW counts (not non-null) summed once per partition
    assert total_rows == 701


def test_local_gains_fold_free_parity_and_conf_restore(spark):
    """The packed local-gains query runs with ``ConvertToLocalRelation``
    excluded (split_finder._no_local_relation_fold): the optimizer
    otherwise evaluates the whole staged entropy/gini pipeline
    row-at-a-time, single-threaded, at PLAN time.  The exclusion only
    moves where the same Catalyst expressions are evaluated, so the gains
    must be BIT-identical folded vs fold-free — pinned here over NaN
    candidates, per-class zeros, and 3 classes — and the session conf
    must be restored afterwards."""
    import pandas as pd

    rng = np.random.default_rng(11)
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
        col[rng.random(n) < 0.3] = 0  # per-class zeros exercise the p>0 CASE
        pdf[f"class_{c}_count"] = col
        pdf["count_examples"] += col
    # a histogram row exists only because >= 1 example landed in it
    zero = pdf["count_examples"] == 0
    pdf.loc[zero, "class_0_count"] += 1
    pdf.loc[zero, "count_examples"] += 1
    # the last slot of each feature is the NaN candidate, like the real cube
    pdf.loc[pdf.index % bins == bins - 1, split_finder.FEATURE_VALUE] = NAN

    key = "spark.sql.optimizer.excludedRules"
    prev = spark.conf.get(key, None)

    def run(fold_free):
        cum = split_finder._local_prefix_sums(pdf, spark, ncls, "__node_id")
        gains = split_finder._gains_from_prefix_sums(
            cum,
            ["__node_id", split_finder.FEATURE],
            ncls,
            Criterion.ENTROPY,
            include_child_counts=True,
        )
        if fold_free:
            with split_finder._no_local_relation_fold(spark):
                out = gains.toPandas()
                plan = gains._jdf.queryExecution().optimizedPlan().toString()
            # structural pin: the relation must NOT have been folded away
            assert "Project" in plan, plan
        else:
            out = gains.toPandas()
        return out.sort_values(
            ["__node_id", "feature", "feature_value"]
        ).reset_index(drop=True)

    folded, free = run(False), run(True)
    assert spark.conf.get(key, None) == prev  # conf restored
    assert len(folded) == len(free) > 0
    for col in ("information_gain", "parent_criterion"):
        a = folded[col].to_numpy(np.float64).view(np.int64)
        b = free[col].to_numpy(np.float64).view(np.int64)
        assert (a == b).all(), col
    for col in ("left_counts", "right_counts"):
        assert all(
            list(x) == list(y) for x, y in zip(folded[col], free[col])
        ), col


def test_local_gains_numpy_gini_matches_catalyst(spark):
    """The packed local path computes GINI gains driver-side
    (``split_finder._local_gains_gini_numpy``) instead of the per-level
    Catalyst roundtrip — legitimate only because the gini pipeline is pure
    rational float64 arithmetic (IEEE correctly-rounded ops), mirrored
    term-for-term.  Pin BIT-identity against the Catalyst form over NaN
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

    with split_finder._no_local_relation_fold(spark):
        cum = split_finder._local_prefix_sums(pdf, spark, ncls, "__node_id")
        catalyst = sort(
            split_finder._gains_from_prefix_sums(
                cum,
                ["__node_id", split_finder.FEATURE],
                ncls,
                Criterion.GINI,
                include_child_counts=True,
            ).toPandas()
        )
    local = sort(split_finder._local_gains_gini_numpy(pdf, ncls, "__node_id"))

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


def test_binned_fit_never_probes_rdd_on_parquet_source(spark, monkeypatch):
    """The partition-count probes (`tree._fan_out_small_input`,
    `_two_scan_binned_edges`, `_coalesce_for_pack`,
    `split_finder.find_best_splits_packed`) must thread the KNOWN count
    instead of calling ``df.rdd``: under AQE, ``.rdd`` on a plan containing
    the fan-out Exchange EXECUTES the shuffle stage — a full extra source
    pass per probe (two per binned fit before r11's threading fix,
    measured ~2.3 s of the 5.2 s sf0.1 binned fit).  Poison the property
    and require a parquet-backed binned fit to complete without it."""
    import pyspark.sql.classic.dataframe as _cdf

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        F.col("l_returnflag").alias("target"),
    )
    expected = DecisionTreeClassifier(
        max_depth=2, criterion=Criterion.GINI, max_bins=16
    )
    expected.fit(li, "target")

    def poisoned_rdd(self):
        raise AssertionError(
            ".rdd probe reached on the binned fit path — partition-count "
            "threading regressed (this executes Exchange stages under AQE)"
        )

    monkeypatch.setattr(
        _cdf.DataFrame, "rdd", property(poisoned_rdd), raising=True
    )
    model = DecisionTreeClassifier(
        max_depth=2, criterion=Criterion.GINI, max_bins=16
    )
    model.fit(li, "target")
    assert model.tree == expected.tree


def test_exact_gini_local_gains_tree_matches_distributed(spark, monkeypatch):
    """find_best_splits_per_node's exact-mode gini shortcut (checkpoint the
    candidate counts, collect, numpy gains + local argmax) must fit trees
    BIT-identical to the distributed two-phase-window + max_by pipeline it
    replaces.  Force the distributed form by zeroing the budget and compare
    whole trees on a relation with NULLs, NaNs and a high-cardinality
    continuous feature."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.when(F.col("l_quantity") > 45, F.lit(None)).otherwise(
            F.col("l_quantity")
        ).alias("q_nullable"),
        F.when(F.col("l_discount") > 0.09, F.lit(float("nan"))).otherwise(
            F.col("l_extendedprice")
        ).alias("price_nanable"),
        "l_discount", "l_tax",
        F.col("l_returnflag").alias("target"),
    )

    def fit_tree():
        m = DecisionTreeClassifier(max_depth=3, criterion=Criterion.GINI)
        m.fit(li, "target")
        return m.tree

    local_tree = fit_tree()
    monkeypatch.setattr(split_finder, "_LOCAL_GAINS_MAX_ROWS", 0)
    distributed_tree = fit_tree()
    assert local_tree == distributed_tree


def test_best_splits_gini_local_matches_two_step_form():
    """The fused winners-only gini path (`_best_splits_gini_local`) must
    reproduce `_best_split_rows_local(_local_gains_gini_numpy(...))`
    exactly — same total order (gain desc, position asc, threshold asc,
    NaN threshold -> -inf key), same winner rows — on a multi-node
    relation engineered with exact gain TIES across features and NaN
    candidates.  Pure driver code, no Spark session needed."""
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
    fused = split_finder._best_splits_gini_local(pdf, ncls, names, "__node_id")
    two_step = split_finder._best_split_rows_local(
        split_finder._local_gains_gini_numpy(pdf, ncls, "__node_id"),
        names,
        "__node_id",
    )
    key = lambda r: r["node_id"]
    assert sorted(fused, key=key) == sorted(two_step, key=key)
    assert len(fused) == nodes


def test_pair_lookahead_fit_matches_single_level_passes(spark, monkeypatch):
    """r12 pair-cube lookahead: a binned fit that scores two levels from
    ONE joint-histogram pass must produce the BIT-identical tree to the
    one-level-per-pass form (exact int64 marginals/conditionals of the
    same routed rows).  Exercised with NULLs (drop-from-both-children)
    and NaNs (route right, own candidate bucket) in the mix, at a depth
    where a carried level is followed by another pair pass."""
    from efficient_trees_spark.operators import histogram

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.when(F.col("l_quantity") > 45, F.lit(None)).otherwise(
            F.col("l_quantity")
        ).alias("q_nullable"),
        F.when(F.col("l_discount") > 0.09, F.lit(float("nan"))).otherwise(
            F.col("l_extendedprice")
        ).alias("price_nanable"),
        "l_discount", "l_tax",
        F.col("l_returnflag").alias("target"),
    )

    def fit(criterion, max_bins, hist_method="auto", max_depth=4):
        m = DecisionTreeClassifier(
            max_depth=max_depth, criterion=criterion, max_bins=max_bins,
            hist_method=hist_method,
        )
        m.fit(li, "target")
        return m.tree

    for criterion, max_bins, hist in (
        (Criterion.GINI, 16, "auto"),       # binned gini (numpy local gains)
        (Criterion.ENTROPY, 16, "auto"),    # binned entropy (Catalyst gains)
    ):
        pair_tree = fit(criterion, max_bins, hist)
        # force the pair budget to always exclude: every level runs its
        # own single-level pass (the r11 shape)
        monkeypatch.setattr(
            histogram, "pair_cube_bytes", lambda *a, **k: 1 << 62
        )
        single_tree = fit(criterion, max_bins, hist)
        monkeypatch.undo()
        assert pair_tree == single_tree, (criterion, max_bins)


def test_pair_cube_child_counts_match_real_second_level(spark):
    """The pair cube's conditional slices must equal a REAL level-1
    histogram pass over the same routing — row-for-row, count-for-count
    (the relation the carried level scores is what a Spark job would
    have produced)."""
    from efficient_trees_spark.operators import histogram, split_finder as sf
    from efficient_trees_spark.operators.histogram import (
        merge_cubes_to_counts_pdf, merge_pair_cubes,
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
    edges, _ = distinct_edges_packed(li, names, dtype="f8", with_counts=True)
    packed = pack_encode_features(li, names, edges, TARGET_IDX, dtype="f8")
    packed = packed.persist()
    n_classes = 3

    # level 0 from the pair cube
    pair_rows = sf._arrow_cube_rows(
        packed_histogram_pair_cubes(
            packed, names, n_classes, edges, TARGET_IDX, [], "__node_id"
        ).toArrow()
    )
    merged = merge_pair_cubes(pair_rows)
    pdf0_pair, dists = pair_cubes_to_level_counts(
        merged, names, n_classes, edges, "__node_id", emit_node_totals=True
    )
    # level 0 from the one-level cube pass
    rows0 = sf._arrow_cube_rows(
        packed_histogram_cubes(
            packed, names, n_classes, edges, TARGET_IDX, [], "__node_id",
            emit_node_totals=True,
        ).toArrow()
    )
    pdf0, dists0 = merge_cubes_to_counts_pdf(
        rows0, names, n_classes, edges, "__node_id", emit_node_totals=True
    )
    import pandas as pd

    key = ["__node_id", sf.FEATURE, sf.FEATURE_VALUE]
    pd.testing.assert_frame_equal(
        pdf0_pair.sort_values(key).reset_index(drop=True),
        pdf0.sort_values(key).reset_index(drop=True),
    )
    assert dists == dists0

    # choose level-0 splits, derive level-1 from the pair cube, and
    # compare against a REAL routed level-1 pass
    best = sf._best_splits_gini_local(pdf0, n_classes, names, "__node_id")
    chosen = [b for b in best if b["information_gain"] > 0]
    assert chosen, "fixture must produce a splittable root"
    carry = pair_cubes_to_child_counts(
        merged, chosen, names, n_classes, edges, "__node_id"
    )
    from bisect import bisect_left

    b = chosen[0]
    splits = [
        (0, names.index(b["feature"]),
         bisect_left(edges[b["feature"]], b["threshold"]), 1, 2)
    ]
    rows1 = sf._arrow_cube_rows(
        packed_histogram_cubes(
            packed, names, n_classes, edges, TARGET_IDX, splits, "__node_id"
        ).toArrow()
    )
    pdf1, _ = merge_cubes_to_counts_pdf(
        rows1, names, n_classes, edges, "__node_id"
    )
    pd.testing.assert_frame_equal(
        carry.sort_values(key).reset_index(drop=True),
        pdf1.sort_values(key).reset_index(drop=True),
    )
    packed.unpersist()
