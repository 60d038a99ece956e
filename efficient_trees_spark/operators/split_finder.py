"""Best-split search for one tree LEVEL: every pending node of the level is
scored in ONE pass (PLANET-style), on either of the tree's two fit paths.

The reference builds an independent lazy plan per feature and materializes all
of them with ``pl.collect_all`` (``/root/reference/efficient_trees/tree.py:237-339``).
Spark has no cross-action plan sharing, so a literal translation would re-scan
the node's data once per feature.  Instead the whole search is ONE declarative
plan keyed by (node, feature) (SURVEY.md §7.2):

    unpivot features to long form  (node, feature, feature_value, target_idx)
      → groupBy(node, feature, feature_value): per-class counts         [1 shuffle]
      → prefix sums over sorted values per (node, feature)              [windows]
      → proportions → criterion → information gain                      [projections]
      → per-node argmax with total-order tie-break                      [tiny]

That is the exact melt (:func:`find_best_splits_per_node`).  The packed
level loop (:func:`find_best_splits_packed`) replaces the first two steps
with an Arrow histogram pass over the persisted bin-code relation
(``operators/histogram.py``) and shares everything after the counts.

Scale properties:
* The unpivot multiplies rows by n_features but is map-local (no shuffle) and
  feeds straight into a partial (map-side) aggregation, so the shuffled volume
  is bounded by Σ_f |distinct(f)| rows — the aggregated relation, not the raw one.
* The window partitions by ``feature`` → parallelism = n_features, and its
  input is the aggregated relation, so the single-partition global-sort hazard
  of the reference's per-feature cum_sum (tree.py:255-268) never appears.
* Everything is built-in Catalyst expressions — whole-stage codegen end to end,
  zero Python UDFs.

Determinism: the reference breaks gain ties by engine internals
(SURVEY.md §2.11.4).  Here ties break by (gain desc, feature position in the
caller's feature list asc, threshold asc) — a total order, so results are
stable under any partitioning.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from efficient_trees_spark.enums import Criterion
from efficient_trees_spark.functions import exprs

# Internal column names (never collide with user feature names because the
# unpivoted relation only carries these fixed columns).
FEATURE = "feature"
FEATURE_VALUE = "feature_value"
TARGET_IDX = "__target_idx"


def melt_features(
    df: DataFrame,
    feature_names: list[str],
    target_idx_col: str = TARGET_IDX,
    extra_id_cols: list[str] | None = None,
) -> DataFrame:
    """Long-form (…ids, feature, feature_value, target_idx) relation.

    Reference equivalent: the per-feature ``select([f, t]).filter(is_not_null)
    .rename({f: "feature_value"})`` loop (tree.py:239-240), fused into one
    relation.  Null feature values are dropped per-feature, exactly like the
    reference's F1 filter.  ``extra_id_cols`` carries the node-id column in
    level-wise training.
    """
    unpivoted = df.unpivot(
        ids=[target_idx_col, *(extra_id_cols or [])],
        values=feature_names,
        variableColumnName=FEATURE,
        valueColumnName=FEATURE_VALUE,
    )
    return unpivoted.filter(F.col(FEATURE_VALUE).isNotNull())


def candidate_split_gains(
    df: DataFrame,
    feature_names: list[str],
    n_classes: int,
    criterion: Criterion,
    target_idx_col: str = TARGET_IDX,
    node_col: str | None = None,
    num_buckets: int | None = None,
    include_child_counts: bool = False,
    bounded_candidates: bool = False,
    precomputed_counts: DataFrame | None = None,
) -> DataFrame:
    """Information gain of EVERY candidate split of every feature.

    Input: ``df`` with double-typed feature columns and an integer class-index
    column.  Output columns: ``feature``, ``feature_value`` (candidate
    threshold), ``information_gain``, ``parent_criterion`` (plus ``node_col``
    when given — level-wise training scores every tree node of a level in
    this ONE plan, grouping and windowing by (node, feature)).

    With ``include_child_counts``, each candidate row also carries
    ``left_counts`` / ``right_counts`` — per-class row counts of the would-be
    children (the prefix sums at the threshold and their complements).  These
    are free by-products of the scan; level-wise training uses them to derive
    every child node's class distribution from its parent's chosen split,
    eliminating the per-level distribution job entirely.

    Mirrors the reference's per-feature pipeline (tree.py:243-330) with the
    scalar-broadcast totals (tree.py:261-268) expressed as grouped aggregates
    + broadcast joins and the last-candidate filter (tree.py:274-277) as a
    plain column comparison.

    The prefix sums over sorted candidate values (reference W1,
    tree.py:255-268) use a two-phase distributed scan, NOT a plain
    ``Window.partitionBy(feature)`` — that window is one task per
    (node, feature), i.e. a serial sort of every distinct value of a
    continuous feature (583k at sf0.1 lineitem; billions at cluster scale).
    Phase 1 computes prefix sums inside ``num_buckets`` uniform value ranges
    per feature (parallelism = nodes x features x buckets); phase 2 adds each
    bucket's starting offset, computed by a window over the per-bucket totals
    relation (<= buckets rows per (node, feature) — trivially small).  Count
    sums are 64-bit-integer additions, so bucketed results are bit-identical
    to the serial scan.
    """
    keys = ([node_col] if node_col else []) + [FEATURE]
    spark = df.sparkSession
    if num_buckets is None:
        num_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    if precomputed_counts is not None:
        # Counts relation supplied by the caller (the packed level loop:
        # routing + histograms fused in one Arrow pass, or the melt's
        # checkpointed counts); the gains pipeline below is shared
        # unchanged.
        counts = precomputed_counts
    else:
        long_df = melt_features(
            df, feature_names, target_idx_col, extra_id_cols=[node_col] if node_col else None
        )
        counts = long_df.groupBy(*keys, FEATURE_VALUE).agg(
            *exprs.conditional_class_counts(target_idx_col, n_classes),
            F.count(F.lit(1)).alias("count_examples"),
        )

    if bounded_candidates:
        # Binned mode: ≤ max_bins+1 candidate rows per (node, feature) BY
        # CONSTRUCTION, so the two-phase bucketed scan below is pure fixed
        # overhead (measured ~4 s/level of extra stages at 190 features).
        # One window pass computes running and total sums together; buffering
        # a ≤33-row partition is trivial, and parallelism is nodes x features.
        w_cum = (
            Window.partitionBy(*keys)
            .orderBy(FEATURE_VALUE)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_all = (
            Window.partitionBy(*keys)
            .orderBy(FEATURE_VALUE)
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        cum = counts.select(
            *keys,
            FEATURE_VALUE,
            *[
                F.sum(exprs.class_count_col(i)).over(w_cum).alias(f"cum_class_{i}")
                for i in range(n_classes)
            ],
            F.sum("count_examples").over(w_cum).alias("cum_n"),
            *[
                F.sum(exprs.class_count_col(i)).over(w_all).alias(f"sum_class_{i}")
                for i in range(n_classes)
            ],
            F.sum("count_examples").over(w_all).alias("sum_n"),
        )
        return _gains_from_prefix_sums(
            cum, keys, n_classes, criterion, include_child_counts
        )

    # Unbounded-candidates path: the counts relation below is consumed by
    # THREE branches (totals, the bucketed phase-1 window, and the
    # bucket-totals offsets), and left lazy each branch re-runs the corpus
    # scan + the melt Expand + the counts shuffle — column pruning
    # specializes the branches so exchange reuse never fires (r11; the
    # bench plan carried four scan+Expand+Exchange pipelines).  A lazy
    # local checkpoint materializes the aggregated (keys, value, counts)
    # relation once per call — it is candidate-sized (distinct values),
    # far smaller than the melt it replaces, and recomputed from the
    # source on every invocation.  The bounded branch above has a
    # single consumer and stays fully lazy.  A caller-supplied counts
    # relation is already materialized (find_best_splits_per_node
    # checkpoints before its size probe) — re-checkpointing it would copy
    # the blocks for nothing.
    if precomputed_counts is None:
        counts = counts.localCheckpoint(eager=False)

    # Per-(node,feature) totals as a grouped aggregate + broadcast join — NOT
    # an unbounded-frame window: WindowExec buffers the whole partition for
    # an unbounded frame, which serializes and spills on high-cardinality
    # continuous features (measured 10x slower at 600k distinct values).
    # This is the reference's scalar-broadcast A4 (tree.py:261-268) as
    # "tiny agg + broadcast" (SURVEY.md §4.3.3).  It also carries the value
    # range that defines the scan buckets (NaN excluded: Spark's max treats
    # NaN as the largest double, which would poison width_bucket).
    finite_value = F.when(~F.isnan(FEATURE_VALUE), F.col(FEATURE_VALUE))
    totals = counts.groupBy(*keys).agg(
        *[
            F.sum(exprs.class_count_col(i)).alias(f"sum_class_{i}")
            for i in range(n_classes)
        ],
        F.sum("count_examples").alias("sum_n"),
        F.min(finite_value).alias("__vmin"),
        F.max(finite_value).alias("__vmax"),
    )

    # Bucket id: uniform value ranges; v == vmax lands in bucket B+1 (SQL
    # width_bucket upper bound is exclusive) and NaN in B+2 — both sort after
    # every in-range bucket, matching double ordering (NaN greatest).
    bucket = (
        F.when(F.isnan(FEATURE_VALUE), F.lit(num_buckets + 2))
        .when(
            F.col("__vmax") > F.col("__vmin"),
            F.width_bucket(
                F.col(FEATURE_VALUE), F.col("__vmin"), F.col("__vmax"), F.lit(num_buckets)
            ),
        )
        .otherwise(F.lit(1))
    )
    bucketed = counts.join(F.broadcast(totals), keys).withColumn("__bucket", bucket)

    # Phase 1: prefix sums within each (keys, bucket) range.
    w_in = (
        Window.partitionBy(*keys, "__bucket")
        .orderBy(FEATURE_VALUE)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    in_cum = [
        F.sum(exprs.class_count_col(i)).over(w_in).alias(f"in_cum_{i}")
        for i in range(n_classes)
    ] + [F.sum("count_examples").over(w_in).alias("in_cum_n")]

    # Phase 2: each bucket's starting offset = totals of all earlier buckets.
    # The offsets relation has <= num_buckets+2 rows per (node, feature), so
    # its serial window is trivial; the join back is a broadcast.
    bucket_totals = bucketed.groupBy(*keys, "__bucket").agg(
        *[
            F.sum(exprs.class_count_col(i)).alias(f"bt_{i}")
            for i in range(n_classes)
        ],
        F.sum("count_examples").alias("bt_n"),
    )
    w_off = (
        Window.partitionBy(*keys)
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bucket_totals.select(
        *keys,
        "__bucket",
        *[
            F.coalesce(F.sum(f"bt_{i}").over(w_off), F.lit(0)).alias(f"off_{i}")
            for i in range(n_classes)
        ],
        F.coalesce(F.sum("bt_n").over(w_off), F.lit(0)).alias("off_n"),
    )

    cum_cols = [
        (F.col(f"in_cum_{i}") + F.col(f"off_{i}")).alias(f"cum_class_{i}")
        for i in range(n_classes)
    ] + [(F.col("in_cum_n") + F.col("off_n")).alias("cum_n")]

    sum_cols = [F.col(f"sum_class_{i}") for i in range(n_classes)] + [F.col("sum_n")]
    cum = (
        bucketed.select(*keys, "__bucket", FEATURE_VALUE, *in_cum, *sum_cols)
        .join(F.broadcast(offsets), [*keys, "__bucket"])
        .select(*keys, FEATURE_VALUE, *cum_cols, *sum_cols)
    )
    return _gains_from_prefix_sums(cum, keys, n_classes, criterion, include_child_counts)


# Built Column lists for `_gains_from_prefix_sums`, keyed by the call shape.
# Constructing the staged projections costs ~0.2 s of py4j round trips PER
# CALL (measured: ~60 Column ops, each a gateway call) and the expressions
# are pure functions of (keys, n_classes, criterion, include_child_counts)
# — unresolved trees, reusable across any DataFrame with the schema.  Each
# cached value carries the py4j gateway OBJECT it was built against and a
# hit is honored only when that object IS the live gateway (identity, not
# id(): CPython can reuse a GC'd gateway's id after a JVM restart, which
# would revive Column handles pointing at the dead gateway — ADVICE r11).
_GAINS_EXPR_CACHE: dict[tuple, tuple] = {}


def _gains_select_lists(
    keys: tuple[str, ...],
    n_classes: int,
    criterion: Criterion,
    include_child_counts: bool,
) -> tuple[list, list, list]:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gateway = sc._gateway if sc is not None else None
    cache_key = (keys, n_classes, criterion, include_child_counts)
    hit = _GAINS_EXPR_CACHE.get(cache_key)
    if hit is not None and hit[0] is gateway:
        return hit[1]

    # Staged projections with NAMED intermediates, mirroring the reference's
    # chained selects (tree.py:278-330).  Building one inlined Column would
    # duplicate every proportion sub-expression into a single huge projection
    # that exceeds the JIT method limits and drops the whole stage out of
    # codegen (measured 5-8x slower); named columns let Catalyst's collapse
    # guard keep the stages separate and fully code-generated.
    first_carry: list = [*keys, FEATURE_VALUE, F.col("cum_n"), F.col("sum_n")]
    carry: list = [*keys, FEATURE_VALUE, F.col("cum_n"), F.col("sum_n")]
    if include_child_counts:
        first_carry += [
            F.array(
                *[F.col(f"cum_class_{i}") for i in range(n_classes)]
            ).alias("left_counts"),
            F.array(
                *[
                    (F.col(f"sum_class_{i}") - F.col(f"cum_class_{i}"))
                    for i in range(n_classes)
                ]
            ).alias("right_counts"),
        ]
        carry += [F.col("left_counts"), F.col("right_counts")]
    props_select = [
        *first_carry,
        *[
            (F.col(f"cum_class_{i}") / F.col("cum_n")).alias(f"left_p_{i}")
            for i in range(n_classes)
        ],
        *[
            (
                (F.col(f"sum_class_{i}") - F.col(f"cum_class_{i}"))
                / (F.col("sum_n") - F.col("cum_n"))
            ).alias(f"right_p_{i}")
            for i in range(n_classes)
        ],
        *[
            (F.col(f"sum_class_{i}") / F.col("sum_n")).alias(f"parent_p_{i}")
            for i in range(n_classes)
        ],
    ]
    crits_select = [
        *carry,
        exprs.criterion_expr(
            criterion, [F.col(f"left_p_{i}") for i in range(n_classes)]
        ).alias("left_criterion"),
        exprs.criterion_expr(
            criterion, [F.col(f"right_p_{i}") for i in range(n_classes)]
        ).alias("right_criterion"),
        exprs.criterion_expr(
            criterion, [F.col(f"parent_p_{i}") for i in range(n_classes)]
        ).alias("parent_criterion"),
    ]
    child = exprs.weighted_child_criterion(
        F.col("left_criterion"),
        F.col("right_criterion"),
        F.col("cum_n"),
        F.col("sum_n"),
    )
    final_select = [
        *keys,
        FEATURE_VALUE,
        exprs.information_gain(F.col("parent_criterion"), child).alias(
            "information_gain"
        ),
        "parent_criterion",
        *(["left_counts", "right_counts"] if include_child_counts else []),
    ]
    out = (props_select, crits_select, final_select)
    _GAINS_EXPR_CACHE[cache_key] = (gateway, out)
    return out


def _gains_from_prefix_sums(
    cum: DataFrame,
    keys: list[str],
    n_classes: int,
    criterion: Criterion,
    include_child_counts: bool,
) -> DataFrame:
    """Prefix-sum relation (keys, feature_value, cum_class_*, cum_n,
    sum_class_*, sum_n) → per-candidate information gains.  Shared by the
    two-phase bucketed scan (exact mode) and the single-window bounded path
    (binned mode)."""
    # Drop the maximal value of each feature: a split there leaves the right
    # child empty (reference F3, tree.py:274-277).
    cum = cum.filter(F.col("sum_n") > F.col("cum_n"))

    props_select, crits_select, final_select = _gains_select_lists(
        tuple(keys), n_classes, criterion, include_child_counts
    )
    props = cum.select(*props_select)
    crits = props.select(*crits_select)
    # Reference F4 — filter(information_gain.is_not_nan()) (tree.py:331) — is
    # deliberately ABSENT: it exists because Polars produces NaN from
    # 0*log2(0), which the Spark formulation guards at the source (p>0 CASE,
    # denominators strictly positive by the cum<sum filter), so gain is never
    # NaN/NULL here.  Adding the filter is also a performance trap: Catalyst
    # pushes isnan(gain) down into the broadcast-join condition with the whole
    # criterion expression inlined, evaluating the entropy math 2-3x per row
    # (measured 2x wall-clock on 600k candidate rows).
    return crits.select(*final_select)


def find_best_splits_per_node(
    df: DataFrame,
    feature_names: list[str],
    n_classes: int,
    criterion: Criterion,
    node_col: str,
    target_idx_col: str = TARGET_IDX,
) -> list[dict[str, Any]]:
    """Best split of EVERY node of a tree level in one job (PLANET-style),
    on the exact melt: ``df`` is the prepared training relation with a
    routing node-id column.

    Total-order tie-break — (gain desc, feature position asc, threshold
    asc; the reference's stable concat-then-sort in feature-list order,
    tree.py:341-348) — expressed as ``max_by`` over an
    ordering struct rather than a ``row_number`` window.  The window form is
    a scale trap: at the root level the node column is the foldable
    ``lit(0)``, Catalyst folds it out of the partition spec, and the window
    serializes EVERY candidate gain row through one partition.  ``max_by``
    aggregates with map-side partial combine (one surviving row per node per
    input partition) and shuffles only those. Struct comparison is
    lexicographic; position and threshold are negated so the whole order is
    a single max, and (gain, position, threshold) is unique per candidate so
    no arbitrary tie remains.

    Exact-mode GINI levels take a driver-local shortcut when the aggregated
    candidate relation fits the local-gains budget: the relation is
    checkpointed (the unbounded pipeline materializes it anyway) and
    collected in ONE action — ``limit(cap + 1)`` + Arrow collect — where
    the old form (r11) paid a ``count()`` job and then a ``toPandas()``
    job per level (~0.2 s of per-level job latency, and at low core
    counts a whole extra serialized stage).  ``cap + 1`` rows coming back
    proves the relation is over budget and the distributed pipeline takes
    over, reading the same (partially) materialized checkpoint blocks —
    nothing is recomputed.  The cap itself is bounded in BYTES as well as
    rows (ADVICE r11): rows x (n_classes + 3) x 8 B must fit the shared
    driver-collect budget, so a high-class-count fit falls back to the
    distributed form instead of blowing ``spark.driver.maxResultSize``.
    Under budget the prefix sums + gini gains + argmax run driver-side
    (``_local_gains_gini_numpy`` + ``_best_split_rows_local`` — both
    pinned bit-identical to the distributed forms), replacing the
    two-phase bucketed windows, broadcast joins and max_by shuffle.
    Entropy and over-budget relations keep the distributed pipeline.
    """
    if criterion == Criterion.GINI:
        keys = [node_col, FEATURE]
        long_df = melt_features(
            df, feature_names, target_idx_col, extra_id_cols=[node_col]
        )
        counts = (
            long_df.groupBy(*keys, FEATURE_VALUE)
            .agg(
                *exprs.conditional_class_counts(target_idx_col, n_classes),
                F.count(F.lit(1)).alias("count_examples"),
            )
            .localCheckpoint(eager=False)
        )
        cap = _local_gains_row_cap(df.sparkSession, n_classes)
        head = counts.limit(cap + 1)
        if hasattr(head, "toArrow"):
            pdf = head.toArrow().to_pandas()
        else:  # pragma: no cover - pre-Arrow-collect Spark
            pdf = head.toPandas()
        if len(pdf) <= cap:
            return _best_splits_gini_local(
                pdf, n_classes, feature_names, node_col
            )
        del pdf
        gains = candidate_split_gains(
            df,
            feature_names,
            n_classes,
            criterion,
            target_idx_col,
            node_col=node_col,
            include_child_counts=True,
            precomputed_counts=counts,
        )
        return _best_split_rows(gains, _feature_position(feature_names), node_col)
    gains = candidate_split_gains(
        df,
        feature_names,
        n_classes,
        criterion,
        target_idx_col,
        node_col=node_col,
        include_child_counts=True,
    )
    return _best_split_rows(gains, _feature_position(feature_names), node_col)


# A level's aggregated histogram relation above this row estimate keeps the
# fully distributed gains pipeline (window prefix sums); below it, the
# relation is collected and prefix-summed driver-side — see
# find_best_splits_packed.  2M rows ≈ ~100 MB of counts, comfortable for a
# driver at any corpus size (the relation is nodes × features × bins —
# row-count-INDEPENDENT).
_LOCAL_GAINS_MAX_ROWS = 2_000_000


def _local_gains_row_cap(spark, n_classes: int) -> int:
    """Row cap for collecting a candidate counts relation to the driver:
    ``_LOCAL_GAINS_MAX_ROWS`` additionally bounded in BYTES (ADVICE r11 —
    a 100-class fit at 2M rows would serialize ~1.6 GB where the
    distributed pipeline succeeds): rows x (n_classes + 3 key/count cols)
    x 8 B must fit the same driver budget the packed dense-cube path
    honors."""
    from efficient_trees_spark.operators.histogram import stats_collect_budget

    budget = min(_DENSE_CUBE_MAX_BYTES, stats_collect_budget(spark))
    return min(_LOCAL_GAINS_MAX_ROWS, budget // ((n_classes + 3) * 8))

# Budget for collecting DENSE per-(partition, node) histogram cubes to the
# driver (the no-shuffle level-job form).  Volume = partitions × pending
# nodes × features × slots × classes × 8 B; past this the sparse rows +
# distributed SUM path takes over (thousands-of-partitions clusters).
_DENSE_CUBE_MAX_BYTES = 256 << 20

_LOCAL_FOLD_RULE = "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"


@contextmanager
def _no_local_relation_fold(spark):
    """Run the per-level local-gains query with ``ConvertToLocalRelation``
    excluded from the optimizer.

    The prefix-sum relation the gains query reads is a driver-local
    ``LocalRelation``, and that rule eagerly evaluates Project-over-
    LocalRelation AT PLAN TIME with a single-threaded interpreted
    projection — the whole staged entropy/gini pipeline was running
    row-at-a-time inside the optimizer, charged to "planning" (the
    second ``toPandas()`` of the same DataFrame was 3-4x cheaper than the
    first; excluded, the first run matches the second).  Excluding the
    rule only moves WHERE the same Catalyst expressions are evaluated
    (whole-stage codegen across cores instead of the optimizer's
    interpreter — both call the same JVM arithmetic), so the gains are
    bit-identical either way: pinned by
    ``test_local_gains_fold_free_parity_and_conf_restore``.

    Scoped set/restore of the session conf: fits are sequential (the
    packed level loop runs no concurrent jobs and scores a forest's trees
    one after another), and any pre-existing exclusion list is
    preserved.
    """
    key = "spark.sql.optimizer.excludedRules"
    prev = spark.conf.get(key, None)
    if prev and _LOCAL_FOLD_RULE in prev:
        rules = prev
    elif prev:
        rules = f"{prev},{_LOCAL_FOLD_RULE}"
    else:
        rules = _LOCAL_FOLD_RULE
    spark.conf.set(key, rules)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


class TreeLevel(NamedTuple):
    """One tree's share of a packed level pass (:func:`find_best_splits_packed`)."""

    feature_names: list[str]  # the features it scores, in tie-break order
    routing_splits: list[tuple]  # ``histogram.route_codes`` splits
    pending: list[int]  # its pending node ids


def find_best_splits_packed(
    packed_df: DataFrame,
    trees: dict[int, TreeLevel],
    n_classes: int,
    criterion: Criterion,
    bin_edges: dict[str, list[float]],
    target_idx_col: str = TARGET_IDX,
    node_col: str = "__node_id",
    all_feature_names: list[str] | None = None,
    tree_col: str | None = None,
    want_distributions: bool = False,
    code_dtype: str = "u1",
    n_input_parts: int | None = None,
    lookahead: bool = False,
) -> tuple[dict[int, tuple[list[dict[str, Any]], dict[int, list] | None]], Any]:
    """:func:`find_best_splits_per_node` over the packed bin-code matrix
    (uint8, or uint16 when a feature needs more than 253 edges —
    ``code_dtype`` must match the encode;
    ``operators/histogram.py`` packed path): tree routing runs vectorized
    inside the histogram pass instead of as a JVM routing column, so each
    level costs one 2-column Arrow transfer of the cached code relation.

    ONE pass scores the pending nodes of every tree in ``trees``
    (``{tree_id: TreeLevel}``) — the PLANET / MLlib ``RandomForest``
    shape: a forest's level is one Spark stage, not one per tree.  With
    ``tree_col`` each row carries its tree id and is routed by that tree's
    splits; without it every row is tree 0's (a single tree's fit).  The
    kernels key their accumulators by a dense SLOT id per pending (tree,
    node) pair, so the dense, pair and sparse/distributed branches below
    run unchanged over any number of trees; the driver splits the merged
    rows back by tree and scores each tree with its own feature list (its
    tie-break order).  Budgets sum over the trees in the pass.

    The aggregated histogram relation is bounded by nodes × features ×
    (bins+1) rows — independent of corpus size — so when that bound is
    small (every binned fit; the architecture XGBoost/LightGBM use:
    distributed histogram aggregation, central split finding) it is
    COLLECTED and the integer prefix sums run driver-side; the float gain
    expressions and the argmax then evaluate over a tiny local relation
    through the SAME Catalyst pipeline, skipping the per-level window
    shuffle stages (~1 s/level of fixed latency at sf0.1).  All float math
    stays in Catalyst with identical expression shapes and the prefix sums
    are exact int64 either way, so trees are bit-identical to the exact
    melt (``tests/test_wide_fit.py``) and to the fully
    distributed form, which remains the path for relations past
    ``_LOCAL_GAINS_MAX_ROWS`` (deep trees in packed-exact mode).

    ``all_feature_names`` is the packed matrix's full column order when a
    tree scores only a subset (forest feature bagging).  The pass
    histograms the union of the trees' features; each row fills only its
    own tree's.

    Returns ``(found, carried)``: ``found[tree] = (splits,
    distributions)``.  With ``want_distributions`` the per-node class
    totals ride the local path's histogram (``DIST_FEATURE`` rows / cube
    tails — no separate distribution job, no cache-materialization race
    with one) as ``{node_id: [(class_idx, count), ...]}``; otherwise, and
    on the distributed path, they are None and the caller runs its own
    job.

    ``lookahead=True`` (r12), when the PAIR cube fits the same byte
    budget, computes this level from one joint (feature, feature)
    histogram pass whose conditional slices are the NEXT level's counts:
    ``carried[tree]`` is then that tree's level-(d+1) counts pdf (None
    when no child has a histogram row) and the caller scores level d+1
    driver-side, with no Spark job (``best_splits_from_counts_pdf``).
    Two tree levels per pass over the code cache: at 100 TB that halves
    the cache scans of a depth-2 binned fit; locally it removes one
    ~0.3 s job-floor level job.  Both levels' decisions are bit-identical
    to the one-level-per-pass form (exact int64 marginals/conditionals of
    the same routed rows — ``histogram.packed_histogram_pair_cubes``;
    test-pinned).  ``carried`` is None whenever the pair budget excludes
    the pass (wide fits) or the level went sparse or distributed."""
    import numpy as np

    from efficient_trees_spark.functions.exprs import class_count_col
    from efficient_trees_spark.operators.histogram import (
        DIST_FEATURE,
        TreeRoute,
        _trim_malloc,
        merge_cubes_to_counts_pdf,
        merge_pair_cubes,
        packed_histogram_counts,
        packed_histogram_cubes,
        packed_histogram_pair_cubes,
        pair_cube_bytes,
        pair_cubes_to_child_counts,
        pair_cubes_to_level_counts,
        stats_collect_budget,
    )

    order = sorted(trees)
    lists = [list(trees[t].feature_names) for t in order]
    shared = all(fl == lists[0] for fl in lists)
    matrix = list(all_feature_names) if all_feature_names is not None else lists[0]
    if shared:
        names = lists[0]
    else:
        used = set().union(*lists)
        names = [f for f in matrix if f in used]
    col_of = {f: j for j, f in enumerate(names)}
    # Dense slot ids over the pass's (tree, node) pairs, tree by tree, so
    # each tree owns a contiguous slot range.
    routes: dict[int, TreeRoute] = {}
    slot_tree: list[int] = []
    slot_node: list[int] = []
    for t, fl in zip(order, lists):
        level = trees[t]
        routes[t] = TreeRoute(
            level.routing_splits,
            slots={node: len(slot_node) + i for i, node in enumerate(level.pending)},
            features=None if shared else [col_of[f] for f in fl],
        )
        slot_tree += [t] * len(level.pending)
        slot_node += list(level.pending)
    if matrix != names:
        positions, width = [matrix.index(f) for f in names], len(matrix)
    else:
        positions, width = None, None
    kernel_args = dict(
        feature_positions=positions,
        matrix_width=width,
        code_dtype=code_dtype,
        tree_col=tree_col,
    )
    spark = packed_df.sparkSession

    def node_keyed(slot_keyed: dict) -> dict[int, dict]:
        out: dict[int, dict] = {t: {} for t in order}
        for slot, value in slot_keyed.items():
            out[slot_tree[slot]][slot_node[slot]] = value
        return out

    est_rows = sum(
        max(1, len(trees[t].pending))
        * sum(len(bin_edges.get(f, ())) + 1 for f in fl)
        for t, fl in zip(order, lists)
    )
    if est_rows <= _LOCAL_GAINS_MAX_ROWS:
        # Dense-cube variant when the partitions × nodes × cube collect is
        # small: the level job collapses to one mapInArrow stage + an exact
        # driver merge — no shuffle at all.  Volume grows with the input's
        # partition count, so past the budget (big clusters, deep trees)
        # the sparse rows + distributed SUM form below takes over.
        # `slots` is the RAGGED flat slot total (per-feature edges + NaN
        # slot), which is exactly the dense cube's int64 cell count per
        # node — one wide feature no longer inflates the estimate (or
        # the cube) by max-edges x width.
        slots = sum(len(bin_edges.get(f, ())) + 1 for f in names)
        cube_bytes = (
            slots * n_classes * 8
            + (n_classes * 8 if want_distributions else 0)
        )
        # Budget decision only (dense vs sparse are bit-identical): prefer
        # the caller's known count — under AQE, probing .rdd on a plan that
        # contains the fan-out Exchange EXECUTES the shuffle stage (a full
        # extra source pass per fit; see tree._fan_out_small_input).
        n_parts = (
            n_input_parts
            if n_input_parts is not None
            else packed_df.rdd.getNumPartitions()
        )
        # Also bounded by the configured spark.driver.maxResultSize (dense
        # int64 cubes serialize at most at raw size, so half the cap is
        # clearly safe) — a cluster with a small maxResultSize must fall
        # back rather than fail the collect.
        cube_budget = min(_DENSE_CUBE_MAX_BYTES, stats_collect_budget(spark))
        # x1.25 on the partition count: when the caller's count came from
        # the fan-out's file-size ESTIMATE it is a lower bound for budget
        # purposes (ADVICE r11); both branches are bit-identical, so the
        # pad only moves the (safe) fallback boundary.  A partition emits
        # at most one cube per pending node of every tree in the pass.
        cubes_per_part = int(n_parts * 1.25) * max(1, len(slot_node))
        dense_ok = cubes_per_part * cube_bytes <= cube_budget
        pair_ok = (
            lookahead
            and dense_ok
            and cubes_per_part * pair_cube_bytes(names, bin_edges, n_classes)
            <= cube_budget
        )
        if pair_ok:
            pair_cubes = node_keyed(
                merge_pair_cubes(
                    _collect_cube_rows(
                        packed_histogram_pair_cubes(
                            packed_df, names, n_classes, bin_edges,
                            target_idx_col, routes, node_col, **kernel_args,
                        )
                    )
                )
            )
            _trim_malloc()
            levels = {
                t: pair_cubes_to_level_counts(
                    pair_cubes[t], names, n_classes, bin_edges, node_col,
                    emit_node_totals=want_distributions,
                )
                for t in order
            }
        elif dense_ok:
            # Arrow transport for the cube partials: a depth-d level
            # collects partitions x nodes ~100 KB binary cubes (hundreds of
            # MB at depth 3+ on many-partition inputs).
            cube_rows: dict[int, list] = {t: [] for t in order}
            for slot, cube in _collect_cube_rows(
                packed_histogram_cubes(
                    packed_df, names, n_classes, bin_edges, target_idx_col,
                    routes, node_col, emit_node_totals=want_distributions,
                    **kernel_args,
                )
            ):
                cube_rows[slot_tree[slot]].append((slot_node[slot], cube))
            levels = {
                t: merge_cubes_to_counts_pdf(
                    cube_rows[t], names, n_classes, bin_edges, node_col,
                    emit_node_totals=want_distributions,
                )
                for t in order
            }
            # The per-level IPC table is hundreds of MB on many-partition
            # inputs; return it to the OS before the next level piles on
            # (the DRIVER ratchets across levels otherwise, same allocator
            # behavior the workers showed — histogram._trim_malloc notes).
            del cube_rows
            _trim_malloc()
        else:
            pdf = packed_histogram_counts(
                packed_df, names, n_classes, bin_edges, target_idx_col,
                routes, node_col, emit_node_totals=want_distributions,
                **kernel_args,
            ).toPandas()
            dists: dict[int, dict | None] = dict.fromkeys(order)
            if want_distributions:
                mask = pdf[FEATURE] == DIST_FEATURE
                dists = node_keyed(
                    {
                        int(r[node_col]): [
                            (i, int(r[class_count_col(i)]))
                            for i in range(n_classes)
                            if r[class_count_col(i)] > 0
                        ]
                        for _, r in pdf[mask].iterrows()
                    }
                )
                pdf = pdf[~mask]
            levels = {t: (None, dists[t]) for t in order}
            slot = pdf[node_col].to_numpy()
            owner = np.asarray(slot_tree, dtype=np.int64)[slot]
            node_of = np.asarray(slot_node, dtype=np.int32)
            for t in order:
                mine = owner == t
                if mine.any():
                    levels[t] = (
                        pdf[mine].assign(**{node_col: node_of[slot[mine]]}),
                        dists[t],
                    )
        found = {
            t: (
                best_splits_from_counts_pdf(
                    levels[t][0], spark, n_classes, fl, node_col, criterion
                ),
                levels[t][1],
            )
            for t, fl in zip(order, lists)
        }
        carried = None
        if pair_ok:
            # Next level's counts from the same cubes: only nodes the
            # caller will actually split produce children (gain > 0 —
            # mirrors the tree loop's leaf rule).
            carried = {
                t: pair_cubes_to_child_counts(
                    pair_cubes[t],
                    [b for b in found[t][0] if b["information_gain"] > 0],
                    names, n_classes, bin_edges, node_col,
                )
                for t in order
            }
        return found, carried
    counts = packed_histogram_counts(
        packed_df, names, n_classes, bin_edges, target_idx_col, routes,
        node_col, **kernel_args,
    )
    gains = candidate_split_gains(
        packed_df,
        names,
        n_classes,
        criterion,
        target_idx_col,
        node_col=node_col,
        include_child_counts=True,
        bounded_candidates=True,
        precomputed_counts=counts,
    )
    # Each tree's tie-break position comes from its own feature list,
    # looked up by the tree's contiguous slot range.
    position = _feature_position(lists[0])
    if not shared:
        ends = np.cumsum([len(trees[t].pending) for t in order])
        position = F.when(F.col(node_col) < int(ends[0]), position)
        for end, fl in zip(ends[1:], lists[1:]):
            position = position.when(
                F.col(node_col) < int(end), _feature_position(fl)
            )
    found = {t: ([], None) for t in order}
    for b in _best_split_rows(gains, position, node_col):
        slot = b["node_id"]
        found[slot_tree[slot]][0].append(dict(b, node_id=slot_node[slot]))
    return found, None


def _collect_cube_rows(cubes: DataFrame) -> list[tuple[int, "object"]]:
    """(slot, cube buffer) rows of a dense or pair cube pass.  toArrow
    moves binary columns in columnar IPC batches instead of py4j row
    pickling, and each cube is read as a ZERO-COPY view of the Arrow
    column: the driver never holds more than the IPC table plus one int64
    accumulator per node.  Transport/accounting only, same numbers."""
    if hasattr(cubes, "toArrow"):
        return _arrow_cube_rows(cubes.toArrow())
    return cubes.collect()  # pragma: no cover - pre-Arrow-collect Spark


def best_splits_from_counts_pdf(
    pdf,
    spark,
    n_classes: int,
    feature_names: list[str],
    node_col: str,
    criterion: Criterion,
) -> list[dict[str, Any]]:
    """Best split per node from a DRIVER-LOCAL counts relation (the
    collected/merged histogram rows) — the shared local-gains tail of the
    dense-cube level job, also consumed directly by the tree loop for a
    level whose counts were derived from the previous pass's PAIR cube.

    Gini is pure rational float64 arithmetic, bit-reproducible driver-side
    (see ``_gini_gains_arrays``) — it skips the per-level Catalyst
    roundtrip and its ~0.5 s of fixed plan/launch/collect latency.
    Entropy keeps the Catalyst path: its log2 is transcendental and only
    the JVM's own evaluation is bit-stable against the distributed
    form."""
    if pdf is None or pdf.empty:
        return []
    if criterion == Criterion.GINI:
        return _best_splits_gini_local(pdf, n_classes, feature_names, node_col)
    with _no_local_relation_fold(spark):
        cum = _local_prefix_sums(pdf, spark, n_classes, node_col)
        gains = _gains_from_prefix_sums(
            cum, [node_col, FEATURE], n_classes, criterion,
            include_child_counts=True,
        )
        gains_pdf = gains.toPandas()
    return _best_split_rows_local(gains_pdf, feature_names, node_col)


def _arrow_cube_rows(tbl) -> list[tuple[int, "object"]]:
    """(node, cube-buffer) pairs from a collected Arrow table of dense
    cubes — each cube a zero-copy slice of the IPC binary column's data
    buffer (``np.frombuffer``-ready), so the driver-side merge adds int64
    vectors straight out of the transport buffers."""
    out: list[tuple[int, object]] = []
    for batch in tbl.to_batches():
        nodes = batch.column(0).to_pylist()
        bin_arr = batch.column(1)
        for i, nv in enumerate(nodes):
            out.append((nv, bin_arr[i].as_buffer()))
    return out


def _best_split_rows_local(
    gains_pdf, feature_names: list[str], node_col: str
) -> list[dict[str, Any]]:
    """Driver-side argmax over the COLLECTED gains relation — pure float
    COMPARISONS on values Spark computed (no arithmetic), so the result is
    bit-identical to the ``max_by`` form by construction.  Replicates its
    total order exactly: gain desc, feature position asc, threshold asc
    with the NaN candidate preferred over any finite threshold at equal
    (gain, position) — ``max_by`` maximizes ``-value`` and double NaN
    sorts greatest, so NaN maps to -inf in the ascending sort key."""
    import numpy as np

    if gains_pdf.empty:
        return []
    pos = {name: i for i, name in enumerate(feature_names)}
    vals = gains_pdf[FEATURE_VALUE].to_numpy(np.float64)
    g = gains_pdf.assign(
        __pos=gains_pdf[FEATURE].map(pos).to_numpy(np.int64),
        __vkey=np.where(np.isnan(vals), -np.inf, vals),
    ).sort_values(
        [node_col, "information_gain", "__pos", "__vkey"],
        ascending=[True, False, True, True],
    )
    top = g.groupby(node_col, sort=False).head(1)
    return [
        {
            "node_id": int(r[node_col]),
            "feature": r[FEATURE],
            "threshold": float(r[FEATURE_VALUE]),
            "information_gain": float(r["information_gain"]),
            "parent_criterion": float(r["parent_criterion"]),
            "left_counts": [int(x) for x in r["left_counts"]],
            "right_counts": [int(x) for x in r["right_counts"]],
        }
        for _, r in top.iterrows()
    ]


def _prefix_sum_arrays(pdf, n_classes: int, node_col: str):
    """Sorted counts relation + exact int64 prefix/total sums, shared by
    the Catalyst local-gains relation and the numpy gini twin.  Within
    each (node, feature) group the ordering replicates the window spec
    bit-for-bit: ascending feature_value with NaN LAST (Spark sorts
    double NaN greatest; numpy also sorts NaN last); values are unique
    per group by construction (they come out of a groupBy on exactly
    these keys), so no within-group tie exists.  GROUP order is feature
    first-appearance rather than lexicographic — every consumer is
    group-order-independent (prefix sums are per-group; the argmax key
    is total), and the numpy lexsort is ~5x the pandas string mergesort
    at the 600k-row exact-fit shape (measured r11).

    Per-group cumsums come from one GLOBAL int64 cumsum minus each
    group's starting offset — exact: int64 never loses precision and the
    global total is bounded by total examples x features (~2e15 at the
    100 TB shape, far inside int64)."""
    import numpy as np
    import pandas as pd

    from efficient_trees_spark.functions.exprs import class_count_col

    nodes = pdf[node_col].to_numpy(np.int64)
    feat_codes, _ = pd.factorize(pdf[FEATURE], sort=False)
    values = pdf[FEATURE_VALUE].to_numpy(np.float64)
    order = np.lexsort((values, feat_codes, nodes))
    pdf = pdf.iloc[order].reset_index(drop=True)

    ns = nodes[order]
    fs = feat_codes[order]
    new_grp = np.empty(len(ns), dtype=bool)
    if len(ns):
        new_grp[0] = True
        new_grp[1:] = (ns[1:] != ns[:-1]) | (fs[1:] != fs[:-1])
    starts = np.flatnonzero(new_grp)
    gid = np.cumsum(new_grp) - 1

    def cum_and_sum(col: str):
        x = pdf[col].to_numpy(np.int64)
        cs = np.cumsum(x)
        base = np.zeros(len(starts), dtype=np.int64)
        base[1:] = cs[starts[1:] - 1]
        tot = np.add.reduceat(x, starts) if len(starts) else np.zeros(0, np.int64)
        return cs - base[gid], tot[gid]

    arrays: dict = {}
    for i in range(n_classes):
        col = class_count_col(i)
        arrays[f"cum_class_{i}"], arrays[f"sum_class_{i}"] = cum_and_sum(col)
    arrays["cum_n"], arrays["sum_n"] = cum_and_sum("count_examples")
    return pdf, arrays


def _local_prefix_sums(
    pdf, spark, n_classes: int, node_col: str
) -> DataFrame | None:
    """Per-(node, feature) prefix sums of the collected histogram relation,
    driver-side — exact int64 arithmetic, identical to the window-sum form
    (ordering contract in :func:`_prefix_sum_arrays`).  Returns the cum
    relation as a LOCAL DataFrame (created through pyarrow so the NaN
    candidate survives as NaN, not null), or None when no rows survive."""
    import numpy as np
    import pyarrow as pa

    if pdf.empty:
        return None
    pdf, sums = _prefix_sum_arrays(pdf, n_classes, node_col)
    arrays: dict[str, pa.Array] = {
        node_col: pa.array(pdf[node_col].to_numpy(np.int32), type=pa.int32()),
        FEATURE: pa.array(pdf[FEATURE].tolist(), type=pa.string()),
        FEATURE_VALUE: pa.array(
            pdf[FEATURE_VALUE].to_numpy(np.float64), type=pa.float64()
        ),
    }
    for name, vals in sums.items():
        arrays[name] = pa.array(vals, type=pa.int64())
    tbl = pa.table(arrays)
    # createDataFrame(pyarrow.Table) is Spark 4.x; mirror the toArrow guard
    # the collect paths use so pre-Arrow-table Spark takes a row-list build
    # with an explicit schema (Python float NaN stays NaN in a double col).
    if hasattr(DataFrame, "toArrow"):
        return spark.createDataFrame(tbl)
    schema = ", ".join(  # pragma: no cover - pre-Arrow-table Spark
        f"`{f.name}` {'int' if f.type == pa.int32() else 'bigint' if f.type == pa.int64() else 'string' if f.type == pa.string() else 'double'}"
        for f in tbl.schema
    )
    return spark.createDataFrame(tbl.to_pylist(), schema)  # pragma: no cover


def _gini_gains_arrays(pdf, n_classes: int, node_col: str):
    """Shared numpy core of the driver-side GINI gains: prefix sums →
    max-value filter → gains, all as flat arrays (no per-row Python
    objects).  Returns ``(nodes, features, values, gain, parent_g,
    left_counts 2d, right_counts 2d)`` over the surviving candidates.

    Bit-parity argument: the gini pipeline is pure RATIONAL float64
    arithmetic — divide, multiply, add, subtract are IEEE-754
    correctly-rounded operations, so NumPy and the JVM produce identical
    bits whenever the operation order is identical; this mirrors
    ``exprs.gini_expr`` (left-fold ``1.0 - ((p0*p0 + p1*p1) + …)``),
    ``exprs.weighted_child_criterion`` (``(cum_n/sum_n)*left +
    ((sum_n-cum_n)/sum_n)*right``, int64 subtractions before the double
    casts, exactly as Catalyst inserts them) and
    ``exprs.information_gain`` term-for-term.  ENTROPY stays on the
    Catalyst path: log2 is transcendental (not correctly rounded — JVM
    ``Math.log`` and NumPy's libm differ in the last ulp), and argmax
    ties between equal-gain candidates are load-bearing.  Pinned
    bit-identical to the Catalyst form by
    ``test_local_gains_numpy_gini_matches_catalyst``."""
    import numpy as np

    pdf, arr = _prefix_sum_arrays(pdf, n_classes, node_col)
    # Drop the maximal value of each feature: a split there leaves the
    # right child empty (reference F3, tree.py:274-277).
    keep = arr["sum_n"] > arr["cum_n"]
    cum_n_i = arr["cum_n"][keep]
    sum_n_i = arr["sum_n"][keep]
    right_n_i = sum_n_i - cum_n_i
    cum_n = cum_n_i.astype(np.float64)
    sum_n = sum_n_i.astype(np.float64)
    right_n = right_n_i.astype(np.float64)

    def gini(p_cols: list) -> "np.ndarray":
        acc = p_cols[0] * p_cols[0]
        for p in p_cols[1:]:
            acc = acc + p * p
        return 1.0 - acc

    n_rows = int(keep.sum())
    left_counts = np.empty((n_rows, n_classes), dtype=np.int64)
    right_counts = np.empty((n_rows, n_classes), dtype=np.int64)
    left_p, right_p, parent_p = [], [], []
    for i in range(n_classes):
        cum_i = arr[f"cum_class_{i}"][keep]
        sum_i = arr[f"sum_class_{i}"][keep]
        left_counts[:, i] = cum_i
        right_counts[:, i] = sum_i - cum_i
        left_p.append(cum_i.astype(np.float64) / cum_n)
        right_p.append((sum_i - cum_i).astype(np.float64) / right_n)
        parent_p.append(sum_i.astype(np.float64) / sum_n)
    left_g = gini(left_p)
    right_g = gini(right_p)
    parent_g = gini(parent_p)
    child = cum_n / sum_n * left_g + right_n / sum_n * right_g
    gain = parent_g - child

    import numpy as _np

    nodes = pdf[node_col].to_numpy(_np.int64)[keep]
    features = pdf[FEATURE].to_numpy()[keep]
    values = pdf[FEATURE_VALUE].to_numpy(_np.float64)[keep]
    return nodes, features, values, gain, parent_g, left_counts, right_counts


def _local_gains_gini_numpy(pdf, n_classes: int, node_col: str):
    """The full gains relation as a pandas frame with the exact
    columns/values the Catalyst roundtrip's ``toPandas()`` yields —
    kept as the parity surface (`test_local_gains_numpy_gini_matches_
    catalyst` compares it bit-for-bit against the Catalyst form); the
    production fit path uses :func:`_best_splits_gini_local`, which
    never materializes per-row Python lists."""
    import pandas as pd

    nodes, features, values, gain, parent_g, lc, rc = _gini_gains_arrays(
        pdf, n_classes, node_col
    )
    out = pd.DataFrame(
        {
            node_col: nodes.astype("int32"),
            FEATURE: features,
            FEATURE_VALUE: values,
            "information_gain": gain,
            "parent_criterion": parent_g,
        }
    )
    out["left_counts"] = list(lc)
    out["right_counts"] = list(rc)
    return out


def _best_splits_gini_local(
    pdf, n_classes: int, feature_names: list[str], node_col: str
) -> list[dict[str, Any]]:
    """Fused driver-side GINI gains + argmax: the winners-only form of
    ``_best_split_rows_local(_local_gains_gini_numpy(...))`` — identical
    total order (gain desc, feature position asc, threshold asc with the
    NaN candidate mapped to -inf), but one ``np.lexsort`` over flat
    arrays instead of a pandas multi-key sort plus 2x per-row list
    columns (measured ~1.5 s -> ~0.3 s per level at the 600k-candidate
    exact-fit shape).  ``-gain`` as an ascending key is an exact
    reversal for the non-NaN doubles gains are (0.0 and -0.0 tie either
    way and fall to the next key, as in the pandas form)."""
    import numpy as np

    nodes, features, values, gain, parent_g, lc, rc = _gini_gains_arrays(
        pdf, n_classes, node_col
    )
    if not len(nodes):
        return []
    pos_of = {name: i for i, name in enumerate(feature_names)}
    import pandas as pd

    codes, uniques = pd.factorize(features, sort=False)
    pos = np.asarray([pos_of[u] for u in uniques], dtype=np.int64)[codes]
    vkey = np.where(np.isnan(values), -np.inf, values)
    order = np.lexsort((vkey, pos, -gain, nodes))
    sn = nodes[order]
    first = np.flatnonzero(np.r_[True, sn[1:] != sn[:-1]])
    top = order[first]
    return [
        {
            "node_id": int(nodes[i]),
            "feature": features[i],
            "threshold": float(values[i]),
            "information_gain": float(gain[i]),
            "parent_criterion": float(parent_g[i]),
            "left_counts": [int(x) for x in lc[i]],
            "right_counts": [int(x) for x in rc[i]],
        }
        for i in top
    ]


def _feature_position(feature_names: list[str]):
    """Each candidate's feature position in ``feature_names`` (the
    tie-break key), as a tiny literal map lookup."""
    return F.create_map(
        *[x for i, name in enumerate(feature_names) for x in (F.lit(name), F.lit(i))]
    )[F.col(FEATURE)]


def _best_split_rows(gains: DataFrame, position, node_col: str) -> list[dict[str, Any]]:
    """max_by argmax + collect shared by the routing-column and packed
    level-wise split searches (same total-order tie-break; ``position`` is
    the feature-position column, :func:`_feature_position`)."""
    order = F.struct(
        F.col("information_gain"),
        (-position).alias("neg_position"),
        (-F.col(FEATURE_VALUE)).alias("neg_value"),
    )
    payload = F.struct(
        F.col(FEATURE).alias("feature"),
        F.col(FEATURE_VALUE).alias("threshold"),
        F.col("information_gain").alias("information_gain"),
        F.col("parent_criterion").alias("parent_criterion"),
        F.col("left_counts").alias("left_counts"),
        F.col("right_counts").alias("right_counts"),
    )
    rows = gains.groupBy(node_col).agg(F.max_by(payload, order).alias("best")).collect()
    return [
        {
            "node_id": row[node_col],
            "feature": row["best"]["feature"],
            "threshold": row["best"]["threshold"],
            "information_gain": row["best"]["information_gain"],
            "parent_criterion": row["best"]["parent_criterion"],
            "left_counts": list(row["best"]["left_counts"]),
            "right_counts": list(row["best"]["right_counts"]),
        }
        for row in rows
    ]
