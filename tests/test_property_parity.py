"""Property-based parity (hypothesis): on arbitrary small numeric datasets,
the compiled-CASE batch plan and the driver-side tree walk must agree, and
the fitted tree must equal the independent numpy oracle
(``tests/reference_tree.py``).

Data strategy: up to 24 rows, 2 features drawn from a SMALL value grid
(collisions and exact-threshold sits are the interesting cases — a uniform
float draw would almost never produce ties), binary-ish labels.  One shared
Spark session; hypothesis deadline disabled (Spark latency dominates).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from efficient_trees_spark.enums import Criterion
from efficient_trees_spark.tree import DecisionTreeClassifier
from tests.reference_tree import fit_reference, trees_equal
from tests.spies import force_fit_path

VALUES = [0.0, 1.0, 1.5, 2.0, 3.0]
LABELS = [0, 1, 2]

rows_strategy = st.lists(
    st.tuples(
        st.sampled_from(VALUES), st.sampled_from(VALUES), st.sampled_from(LABELS)
    ),
    min_size=4,
    max_size=24,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=rows_strategy)
def test_compiled_case_equals_driver_walk_and_strategies_agree(spark, rows):
    import pandas as pd

    df = spark.createDataFrame(rows, ["f1", "f2", "target"])
    model = DecisionTreeClassifier(max_depth=3, criterion=Criterion.GINI)
    model.fit(df, "target")

    ref_tree, _ = fit_reference(
        pd.DataFrame(rows, columns=["f1", "f2", "target"]), "target", "gini",
        max_depth=3,
    )
    assert trees_equal(model.tree, ref_tree), f"{model.tree}\n!=\n{ref_tree}"

    # compiled CASE plan vs pure-driver walk, row for row (same input order:
    # the transform plan is select-only, so collected order == input order)
    batch = model.predict_many(df)
    walked = model.predict([{"f1": f1, "f2": f2} for f1, f2, _ in rows])
    assert batch == walked


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_distinct=st.integers(min_value=250, max_value=260),
    seed=st.integers(min_value=0, max_value=5),
    depth=st.integers(min_value=1, max_value=3),
)
def test_packed_exact_parity_across_code_width_boundary(
    spark, monkeypatch, n_distinct, seed, depth
):
    """The uint8/uint16 switch-over sits at 253 distinct values: draws that
    straddle it must produce packed-exact trees identical to the melt on
    BOTH sides of the boundary (and the choice of code width must never be
    observable in the model)."""
    import random

    rng = random.Random(seed)
    vals = [round(rng.uniform(0, 50), 3) for _ in range(n_distinct)]
    rows = [
        (float(vals[i % n_distinct]), float(i % 7), i % 2)
        for i in range(n_distinct * 2)
    ]
    df = spark.createDataFrame(rows, ["wide", "narrow", "target"])
    force_fit_path(monkeypatch, "packed")
    packed = DecisionTreeClassifier(max_depth=depth, criterion=Criterion.GINI)
    packed.fit(df, "target")
    force_fit_path(monkeypatch, "melt")
    melt = DecisionTreeClassifier(max_depth=depth, criterion=Criterion.GINI)
    melt.fit(df, "target")
    assert melt.bin_edges_ is None
    assert packed.tree == melt.tree
    assert len(packed.bin_edges_["wide"]) == len(set(vals))
