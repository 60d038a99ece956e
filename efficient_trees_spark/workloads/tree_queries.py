"""The decision-tree engine's own dataflow as checkable queries.

``split_candidate_gains_gini`` / ``split_best_gini`` run the actual
``operators/split_finder.py`` pipeline on the lineitem table (features =
numeric lineitem columns, target = l_returnflag) and are verified against a
pure-SQL re-derivation in DuckDB — i.e. the engine's core math is in the
correctness gate, not just unit tests.

Gini is used for the oracle-checked variants because it is pure arithmetic
(count ratios, exact in IEEE doubles given identical expression shape);
entropy involves libm log2 whose last-ulp behavior may differ between the JVM
and DuckDB, so the entropy variant rounds to 9 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from efficient_trees_spark.enums import Criterion
from efficient_trees_spark.operators import split_finder
from efficient_trees_spark.tree import DecisionTreeClassifier
from efficient_trees_spark.workloads.base import load, require_pinned_scale, workload

FEATURES = ["l_quantity", "l_discount", "l_tax"]
CLASSES = ["A", "N", "R"]  # distinct l_returnflag, ascending


def _prepared_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    class_map = F.create_map(*[x for i, c in enumerate(CLASSES) for x in (F.lit(c), F.lit(i))])
    return li.select(
        *[F.col(f).cast("double").alias(f) for f in FEATURES],
        class_map[F.col("l_returnflag")].cast("int").alias(split_finder.TARGET_IDX),
    )


def _gains_oracle(criterion: str) -> str:
    """SQL re-derivation of the split-gain pipeline for DuckDB."""
    melt = "\nUNION ALL\n".join(
        f"SELECT '{f}' AS feature, CAST({f} AS DOUBLE) AS feature_value, l_returnflag FROM lineitem"
        for f in FEATURES
    )
    class_counts = ",\n".join(
        f"count(CASE WHEN l_returnflag = '{c}' THEN 1 END) AS class_{i}"
        for i, c in enumerate(CLASSES)
    )
    cum_cols = ",\n".join(
        f"sum(class_{i}) OVER w_cum AS cum_{i}, sum(class_{i}) OVER w_tot AS tot_{i}"
        for i in range(len(CLASSES))
    )
    if criterion == "gini":
        left = " + ".join(f"pow(CAST(cum_{i} AS DOUBLE)/cum_n, 2)" for i in range(len(CLASSES)))
        right = " + ".join(
            f"pow(CAST(tot_{i}-cum_{i} AS DOUBLE)/(tot_n-cum_n), 2)" for i in range(len(CLASSES))
        )
        parent = " + ".join(f"pow(CAST(tot_{i} AS DOUBLE)/tot_n, 2)" for i in range(len(CLASSES)))
        crit = lambda body: f"(1.0 - ({body}))"  # noqa: E731
        left_e, right_e, parent_e = crit(left), crit(right), crit(parent)
    else:  # entropy
        def ent(num, den):
            terms = " + ".join(
                f"(CASE WHEN CAST({num.format(i=i)} AS DOUBLE)/{den} > 0 "
                f"THEN (CAST({num.format(i=i)} AS DOUBLE)/{den}) * log2(CAST({num.format(i=i)} AS DOUBLE)/{den}) "
                f"ELSE 0.0 END)"
                for i in range(len(CLASSES))
            )
            return f"(-1.0 * ({terms}))"

        left_e = ent("cum_{i}", "cum_n")
        right_e = ent("tot_{i}-cum_{i}", "(tot_n-cum_n)")
        parent_e = ent("tot_{i}", "tot_n")

    return f"""
        WITH long AS ({melt}),
        counts AS (
            SELECT feature, feature_value, {class_counts}, count(*) AS n
            FROM long GROUP BY feature, feature_value
        ),
        cum AS (
            SELECT feature, feature_value, {cum_cols},
                   sum(n) OVER w_cum AS cum_n, sum(n) OVER w_tot AS tot_n
            FROM counts
            WINDOW w_cum AS (PARTITION BY feature ORDER BY feature_value
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   w_tot AS (PARTITION BY feature)
        )
        SELECT feature, feature_value,
               round({parent_e} - (CAST(cum_n AS DOUBLE)/tot_n * {left_e}
                     + CAST(tot_n-cum_n AS DOUBLE)/tot_n * {right_e}), 9) AS information_gain,
               round({parent_e}, 9) AS parent_criterion
        FROM cum
        WHERE tot_n > cum_n
    """


def _rounded_gains(spark: SparkSession, sf_dir: str, criterion: Criterion) -> DataFrame:
    counts = split_finder.melt_counts(
        _prepared_lineitem(spark, sf_dir), FEATURES, len(CLASSES), None
    )
    gains = split_finder.candidate_split_gains(
        counts.localCheckpoint(eager=False), len(CLASSES), criterion
    )
    return gains.select(
        "feature",
        "feature_value",
        F.round("information_gain", 9).alias("information_gain"),
        F.round("parent_criterion", 9).alias("parent_criterion"),
    )


def split_candidate_gains_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's unified split-gain pipeline (melt → conditional counts →
    prefix-sum windows → gini gain).  Registered via
    ``split_candidate_gains`` (criterion='gini'); kept callable for bench.py
    and the plan-quality tests."""
    return _rounded_gains(spark, sf_dir, Criterion.GINI)


def split_candidate_gains_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same pipeline with the entropy criterion (log2 guarded at p=0).
    Registered via ``split_candidate_gains`` (criterion='entropy')."""
    return _rounded_gains(spark, sf_dir, Criterion.ENTROPY)


@workload(
    "split_candidate_gains",
    oracle=f"""
        SELECT 'gini' AS criterion, feature, feature_value,
               information_gain, parent_criterion
        FROM ({_gains_oracle("gini")})
        UNION ALL
        SELECT 'entropy', feature, feature_value,
               information_gain, parent_criterion
        FROM ({_gains_oracle("entropy")})
        UNION ALL
        SELECT 'best_gini', feature, feature_value,
               information_gain, CAST(NULL AS DOUBLE)
        FROM (
            WITH gains AS ({_gains_oracle("gini")})
            SELECT feature, feature_value, information_gain
            FROM gains
            ORDER BY information_gain DESC,
                     CASE feature {' '.join(f"WHEN '{f}' THEN {i}" for i, f in enumerate(FEATURES))} END ASC,
                     feature_value ASC
            LIMIT 1
        )
    """,
    description="The engine's unified split-gain pipeline (melt → "
    "conditional counts → prefix-sum windows → gain) under BOTH criteria, "
    "tagged by criterion, vs a pure-SQL re-derivation: gini is exact "
    "arithmetic; entropy guards log2 at p=0 and rounds to 9 dp (libm "
    "last-ulp differences between the JVM and DuckDB); criterion='best_gini' "
    "is the global argmax over candidates with the engine's total-order "
    "tie-break (reference tree.py:341-348, made deterministic — gain desc, "
    "feature position, feature value)",
    tags=("inventory", "engine", "suite"),
)
def split_candidate_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = ["feature", "feature_value", "information_gain", "parent_criterion"]
    gini = split_candidate_gains_gini(spark, sf_dir).select(
        F.lit("gini").alias("criterion"), *cols
    )
    entropy = split_candidate_gains_entropy(spark, sf_dir).select(
        F.lit("entropy").alias("criterion"), *cols
    )
    best = split_best_gini(spark, sf_dir).select(
        F.lit("best_gini").alias("criterion"),
        "feature",
        "feature_value",
        "information_gain",
        F.lit(None).cast("double").alias("parent_criterion"),
    )
    return gini.unionByName(entropy).unionByName(best)


def split_best_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global argmax over candidate splits, engine total-order tie-break
    (reference tree.py:341-348).  Registered via ``split_candidate_gains``
    (criterion='best_gini')."""
    gains = _rounded_gains(spark, sf_dir, Criterion.GINI)
    position = F.create_map(
        *[x for i, f in enumerate(FEATURES) for x in (F.lit(f), F.lit(i))]
    )[F.col("feature")]
    return (
        gains.orderBy(F.desc("information_gain"), position.asc(), F.asc("feature_value"))
        .limit(1)
        .select("feature", "feature_value", "information_gain")
    )


def tree_fit_predict_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: fit a depth-2 gini tree on lineitem numerics predicting
    l_returnflag, then batch-predict and count predictions per class.
    Registered via ``model_fit_distributions`` (model='tree'); kept callable
    for bench.py."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        F.col("l_returnflag").alias("target"),
    )
    model = DecisionTreeClassifier(max_depth=2, criterion=Criterion.GINI)
    model.fit(li, "target")
    return (
        model.transform(li, null_policy="keep")
        .groupBy("prediction")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def tree_fit_binned_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB fit path: same tree workload with max_bins=32
    quantile-binned candidates — shuffle volume capped at features x bins
    instead of sum of per-feature distinct counts (l_extendedprice alone has
    ~600k distinct values at sf0.1; billions at cluster scale).  Registered
    via ``model_fit_distributions`` (model='tree_binned'); kept callable for
    bench.py."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        F.col("l_returnflag").alias("target"),
    )
    model = DecisionTreeClassifier(max_depth=2, criterion=Criterion.GINI, max_bins=32)
    model.fit(li, "target")
    return (
        model.transform(li, null_policy="keep")
        .groupBy("prediction")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def tree_fit_exact_arrow_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-mode fit (max_bins=None) on the low-cardinality lineitem
    numerics (50/11/9 distinct values): the candidate set is every
    distinct feature value — the reference's exact semantics
    (tree.py:244).  Three features is a narrow fit, so it runs on the
    exact melt, which was measured faster than the packed path on this
    shape.  Registered via ``model_fit_distributions``
    (model='tree_exact_arrow'): the tag dates from when this fit was
    forced onto the packed path, and stays because its VALUES are pinned;
    the packed path grows the bit-identical tree (the parity tests in
    tests/test_wide_fit.py)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_discount", "l_tax", F.col("l_returnflag").alias("target")
    )
    model = DecisionTreeClassifier(max_depth=2, criterion=Criterion.GINI)
    model.fit(li, "target")
    return (
        model.transform(li, null_policy="keep")
        .groupBy("prediction")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def forest_fit_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bagged random forest (4 binned trees, depth 2) on lineitem numerics:
    one shared prepared+persisted relation, per-tree seeded bootstrap
    samples, majority-vote inference as a single shuffle-free projection
    (per-tree CASE columns + struct argmax).  Registered via
    ``model_fit_distributions`` (model='forest')."""
    from efficient_trees_spark.ensemble import RandomForestClassifier

    li = load(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        F.col("l_returnflag").alias("target"),
    )
    model = RandomForestClassifier(
        n_trees=4, max_depth=2, criterion=Criterion.GINI, max_bins=32, seed=7
    )
    model.fit(li, "target")
    return (
        model.transform(li, null_policy="keep")
        .groupBy("prediction")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# Seeded prediction distributions at the driver's sf0.01 gate, pinned as
# literal VALUES (the recursive fit is not SQL-expressible).  Verified
# identical under a vanilla local[*] session and the repo's tuned session.
# Pinned-value inputs: the sf0.01 parquet AND the session's
# defaultParallelism (32 on this host) — binned mode fans the prepared
# relation out to defaultParallelism (tree._fan_out_small_input), and both
# the order-statistic bin edges and the seeded bootstrap sample depend on
# that partitioning.  Recompute with tools/oracle_check.py if the testdata
# or the host core count changes.  tree_binned re-pinned in round 6 when the
# binned flow moved to two-scan stats (histogram.partition_order_stats):
# the new edges agreed on this data with the column-wise quantile pass the
# engine then also carried (since removed), which the previous fused-pack
# stats did NOT (6032 vs 6028 'R' rows at r5 HEAD) — the re-pin records the
# converged value, verified identical under tuned and vanilla sessions.  forest
# re-pinned in round 7 for the same migration: the forest now shares the
# single-tree two-scan flow (no raw float cache), whose stats pass sees
# the column-pruned exchange placement rather than the frozen raw-cache
# placement — same deterministic edges as the single-tree binned fit,
# verified identical under tuned and vanilla sessions.
_FIT_DISTRIBUTIONS_SF0_01 = """
    SELECT model, prediction, CAST(n AS BIGINT) AS n FROM (VALUES
        ('tree', 'A', 1688), ('tree', 'N', 52976), ('tree', 'R', 5336),
        ('tree_binned', 'A', 1688), ('tree_binned', 'N', 52284),
        ('tree_binned', 'R', 6028),
        ('tree_exact_arrow', 'A', 35537), ('tree_exact_arrow', 'N', 23814),
        ('tree_exact_arrow', 'R', 649),
        ('forest', 'A', 36590), ('forest', 'N', 23287), ('forest', 'R', 123)
    ) AS t(model, prediction, n)
"""


@workload(
    "model_fit_distributions",
    oracle=_FIT_DISTRIBUTIONS_SF0_01,
    description="End-to-end model training evidence in one table, tagged by "
    "model: 'tree' fits a depth-2 gini tree on lineitem numerics and "
    "batch-predicts (prediction distribution); 'tree_binned' is the 100 TB "
    "fit path (max_bins=32 quantile-binned candidates — shuffle volume "
    "capped at features x bins); 'tree_exact_arrow' is the exact candidate "
    "set (every distinct value) over three low-cardinality features, grown "
    "on the melt (the tag is kept because its values are pinned; the packed "
    "path grows the bit-identical tree); "
    "'forest' is a 4-tree bagged ensemble with "
    "seeded bootstraps and single-projection majority vote.  The recursive "
    "fits are not SQL-expressible, so the oracle pins the exact seeded "
    "prediction distributions at the driver's sf0.01 gate as literal VALUES",
    tags=("engine", "suite"),
)
def model_fit_distributions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The VALUES oracle is only valid for the sf0.01 parquet inputs (seeded
    # bootstraps + quantile-bin edges are data-dependent): fail loudly as a
    # config error at any other scale instead of hash-mismatching (ADVICE r3).
    require_pinned_scale(
        load(spark, sf_dir, "lineitem").count(), 60_000,
        "model_fit_distributions", "lineitem row count (sf0.01)",
    )
    # The binned fits fan the prepared relation out to defaultParallelism
    # (tree._fan_out_small_input) and both the order-statistic bin edges and
    # the seeded bootstrap are partitioning-dependent — a host with a
    # different core count must fail as a config error, not a hash mismatch.
    # The pinned VALUES ship for the driver's local[32]; a host that has
    # regenerated them at another parallelism (tools/oracle_check.py) can
    # declare it via SPARK_GRAFT_PINNED_PARALLELISM instead of patching code.
    import os

    expected_par = int(os.environ.get("SPARK_GRAFT_PINNED_PARALLELISM", "32"))
    require_pinned_scale(
        spark.sparkContext.defaultParallelism, expected_par,
        "model_fit_distributions", "session defaultParallelism",
    )
    parts = [
        tree_fit_predict_distribution(spark, sf_dir).select(
            F.lit("tree").alias("model"), "prediction", "n"
        ),
        tree_fit_binned_distribution(spark, sf_dir).select(
            F.lit("tree_binned").alias("model"), "prediction", "n"
        ),
        tree_fit_exact_arrow_distribution(spark, sf_dir).select(
            F.lit("tree_exact_arrow").alias("model"), "prediction", "n"
        ),
        forest_fit_distribution(spark, sf_dir).select(
            F.lit("forest").alias("model"), "prediction", "n"
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
