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
(``operators/histogram.py``).  Everything after the counts is written
once: both paths hand their counts relation to one scorer
(:func:`_score_counts`), which collects it and scores it driver-side in
numpy (:func:`best_splits_from_counts_pdf`, both criteria) when it fits
the driver-collect budget, and otherwise runs the one Catalyst gains
form (:func:`candidate_split_gains`, the windows above as a two-phase
bucketed prefix scan) plus a ``max_by`` argmax.  The packed path's
dense and pair cube branches merge their counts on the driver and go
straight to the driver-side scoring, and so does a level the previous
pair pass carried.  Either way a level is scored by ONE call over its
slot-keyed counts, whatever the number of trees.

The level contract: both finders take ``{tree_id: TreeLevel}`` — each
tree's features, its partial node dict and its pending node ids — and
return ``{tree_id: [split dicts keyed by node id]}``.  A fit builds one
level finder (:func:`level_finder`) and calls it once per level; the
finder picks the path and holds what one packed pass carries to the
next level.  How a level's rows are keyed and routed stays in this
module: :func:`_slot_layout` gives
every pending (tree, node) pair a dense slot, tree by tree, and maps the
slots back; the melt routes rows to their slot with a column compiled by
``plans.case_compiler.compile_tree``, the packed pass with
``histogram.route_codes`` over ``histogram.compile_routing_splits``.
Every relation keyed by slot names its key column ``NODE_COL``.

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
relation's feature order asc, threshold asc) — a total order, so results are
stable under any partitioning.  There is one feature order per fit: a
forest tree's feature subset keeps the relation's order, so each level is
scored under the relation's order filtered to its trees' features, and
every tree breaks ties as it would alone.
"""

from __future__ import annotations

from typing import Any, NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from efficient_trees_spark.enums import Criterion
from efficient_trees_spark.functions import exprs
from efficient_trees_spark.plans.case_compiler import compile_tree

# Internal column names (never collide with user feature names because the
# unpivoted relation only carries these fixed columns).
FEATURE = "feature"
FEATURE_VALUE = "feature_value"
TARGET_IDX = "__target_idx"
# The slot column of every level relation (routed rows, counts, cubes).
NODE_COL = "__node_id"


def melt_features(
    df: DataFrame,
    feature_names: list[str],
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
        ids=[TARGET_IDX, *(extra_id_cols or [])],
        values=feature_names,
        variableColumnName=FEATURE,
        valueColumnName=FEATURE_VALUE,
    )
    return unpivoted.filter(F.col(FEATURE_VALUE).isNotNull())


def melt_counts(
    df: DataFrame,
    feature_names: list[str],
    n_classes: int,
    node_col: str | None,
) -> DataFrame:
    """The exact melt's counts relation: one (node, feature,
    feature_value) row per distinct value with its per-class and total
    row counts (reference tree.py:243-254, all features in one
    aggregate) — the input of :func:`candidate_split_gains`."""
    keys = ([node_col] if node_col else []) + [FEATURE]
    long_df = melt_features(
        df, feature_names, extra_id_cols=[node_col] if node_col else None
    )
    return long_df.groupBy(*keys, FEATURE_VALUE).agg(
        *exprs.conditional_class_counts(TARGET_IDX, n_classes),
        F.count(F.lit(1)).alias("count_examples"),
    )


def candidate_split_gains(
    counts: DataFrame,
    n_classes: int,
    criterion: Criterion,
    node_col: str | None = None,
) -> DataFrame:
    """Information gain of EVERY candidate split of every feature.

    Input: a counts relation ``(node_col, feature, feature_value,
    class_*_count, count_examples)`` — the melt's (:func:`melt_counts`)
    or a packed histogram pass's — keyed by (node, feature) when
    ``node_col`` is given (level-wise training scores every tree node of
    a level in this ONE plan), else by feature.  Output columns:
    ``feature``, ``feature_value`` (candidate threshold),
    ``information_gain``, ``parent_criterion`` and ``left_counts`` /
    ``right_counts``, the per-class row counts of the would-be children
    (the prefix sums at the threshold and their complements; a caller
    that does not select them prunes them from the plan), plus
    ``node_col``.

    ``counts`` is read three times (the totals, the phase-1 window and
    the bucket totals); pass it checkpointed (``localCheckpoint``), or
    each read re-runs its plan — for the melt, the scan, the Expand and
    the counts shuffle, since column pruning specializes the branches so
    exchange reuse never fires (r11).

    Mirrors the reference's per-feature pipeline (tree.py:243-330) with the
    scalar-broadcast totals (tree.py:261-268) expressed as grouped aggregates
    + broadcast joins and the last-candidate filter (tree.py:274-277) as a
    plain column comparison.

    The prefix sums over sorted candidate values (reference W1,
    tree.py:255-268) use a two-phase distributed scan, NOT a plain
    ``Window.partitionBy(feature)`` — that window is one task per
    (node, feature), i.e. a serial sort of every distinct value of a
    continuous feature (583k at sf0.1 lineitem; billions at cluster scale).
    Phase 1 computes prefix sums inside ``spark.sql.shuffle.partitions``
    uniform value ranges per feature (parallelism = nodes x features x
    buckets); phase 2 adds each bucket's starting offset, computed by a
    window over the per-bucket totals relation (<= buckets rows per (node,
    feature) — trivially small).  Count
    sums are 64-bit-integer additions, so bucketed results are bit-identical
    to the serial scan.
    """
    keys = ([node_col] if node_col else []) + [FEATURE]
    num_buckets = int(counts.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))

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
    return _gains_from_prefix_sums(cum, keys, n_classes, criterion)


# Built Column lists for `_gains_from_prefix_sums`, keyed by the call shape.
# Constructing the staged projections costs ~0.2 s of py4j round trips PER
# CALL (measured: ~60 Column ops, each a gateway call) and the expressions
# are pure functions of (keys, n_classes, criterion)
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
) -> tuple[list, list, list]:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gateway = sc._gateway if sc is not None else None
    cache_key = (keys, n_classes, criterion)
    hit = _GAINS_EXPR_CACHE.get(cache_key)
    if hit is not None and hit[0] is gateway:
        return hit[1]

    # Staged projections with NAMED intermediates, mirroring the reference's
    # chained selects (tree.py:278-330).  Building one inlined Column would
    # duplicate every proportion sub-expression into a single huge projection
    # that exceeds the JIT method limits and drops the whole stage out of
    # codegen (measured 5-8x slower); named columns let Catalyst's collapse
    # guard keep the stages separate and fully code-generated.
    carry: list = [
        *keys,
        FEATURE_VALUE,
        F.col("cum_n"),
        F.col("sum_n"),
        F.col("left_counts"),
        F.col("right_counts"),
    ]
    props_select = [
        *keys,
        FEATURE_VALUE,
        F.col("cum_n"),
        F.col("sum_n"),
        F.array(
            *[F.col(f"cum_class_{i}") for i in range(n_classes)]
        ).alias("left_counts"),
        F.array(
            *[
                (F.col(f"sum_class_{i}") - F.col(f"cum_class_{i}"))
                for i in range(n_classes)
            ]
        ).alias("right_counts"),
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
        "left_counts",
        "right_counts",
    ]
    out = (props_select, crits_select, final_select)
    _GAINS_EXPR_CACHE[cache_key] = (gateway, out)
    return out


def _gains_from_prefix_sums(
    cum: DataFrame,
    keys: list[str],
    n_classes: int,
    criterion: Criterion,
) -> DataFrame:
    """Prefix-sum relation (keys, feature_value, cum_class_*, cum_n,
    sum_class_*, sum_n) → per-candidate information gains and child
    counts: the tail of :func:`candidate_split_gains`."""
    # Drop the maximal value of each feature: a split there leaves the right
    # child empty (reference F3, tree.py:274-277).
    cum = cum.filter(F.col("sum_n") > F.col("cum_n"))

    props_select, crits_select, final_select = _gains_select_lists(
        tuple(keys), n_classes, criterion
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


class TreeLevel(NamedTuple):
    """One tree's share of a level pass (``{tree_id: TreeLevel}``)."""

    feature_names: list[str]  # the features it scores, in the relation's order
    root: dict[str, Any]  # its partial node dict, pending nodes included
    pending: list[int]  # its pending node ids


class _Slots(NamedTuple):
    """A level's dense slot layout (:func:`_slot_layout`): ``of[t]`` maps
    tree t's pending node ids to their slots; ``tree`` and ``node`` map
    each slot back."""

    of: dict[int, dict[int, int]]
    tree: list[int]
    node: list[int]

    def unslot_splits(self, splits) -> dict[int, list[dict[str, Any]]]:
        """Slot-keyed split dicts -> each tree's node-keyed split dicts."""
        out: dict[int, list] = {t: [] for t in self.of}
        for b in splits:
            slot = b["node_id"]
            out[self.tree[slot]].append(dict(b, node_id=self.node[slot]))
        return out


def _slot_layout(trees: dict[int, TreeLevel]) -> _Slots:
    """Dense slot ids over a level's pending (tree, node) pairs, tree by
    tree in tree-id order, so each tree owns a contiguous slot range.
    Every level relation is keyed by slot (``NODE_COL``): the kernels
    size their accumulators by it, and one pass covers any number of
    trees."""
    of: dict[int, dict[int, int]] = {}
    tree: list[int] = []
    node: list[int] = []
    for t in sorted(trees):
        pending = list(trees[t].pending)
        of[t] = {n: len(node) + i for i, n in enumerate(pending)}
        tree += [t] * len(pending)
        node += pending
    return _Slots(of, tree, node)


def find_best_splits_per_node(
    df: DataFrame,
    trees: dict[int, TreeLevel],
    n_classes: int,
    criterion: Criterion,
    tree_col: str | None = None,
) -> dict[int, list[dict[str, Any]]]:
    """Best split of EVERY pending node of every tree of a level in one
    pass (PLANET-style), on the exact melt: ``df`` is the prepared
    training relation.  Rows are routed to their slot by each tree's
    compiled partial tree (with ``tree_col``, a row takes its own tree's
    route; without it every row is tree 0's), melted, counted, and the
    counts go to the shared scorer (:func:`_score_counts`) under ``df``'s
    column order.  When the trees score different feature subsets, each
    routed row is NULL in the features outside its own tree's, which the
    melt drops."""
    layout = _slot_layout(trees)
    routes = []
    for t, slots in layout.of.items():
        # A pending node's rows take its slot; rows under a finished leaf
        # are NULL, like rows NULL in a split feature (the reference's
        # drop-from-both-children semantics).
        route = compile_tree(
            trees[t].root,
            leaf=lambda n, slots=slots: (
                F.lit(slots[n["node_id"]])
                if n["type"] == "pending"
                else F.lit(None).cast("int")
            ),
        )
        routes.append(
            route if tree_col is None else F.when(F.col(tree_col) == t, route)
        )
    routed = df.withColumn(NODE_COL, F.coalesce(*routes)).filter(
        F.col(NODE_COL).isNotNull()
    )
    used = {f for level in trees.values() for f in level.feature_names}
    names = [c for c in df.columns if c in used]
    if any(level.feature_names != names for level in trees.values()):
        owners = {f: [t for t in trees if f in trees[t].feature_names] for f in names}
        routed = routed.withColumns(
            {f: F.when(F.col(tree_col).isin(ts), F.col(f)) for f, ts in owners.items()}
        )
    counts = melt_counts(routed, names, n_classes, NODE_COL)
    return _score_counts(counts, layout, names, n_classes, criterion)


# A level's aggregated counts relation above this many rows keeps the
# fully distributed gains pipeline (window prefix sums); below it, the
# relation is collected and scored driver-side — see _score_counts.  2M
# rows ≈ ~100 MB of counts, comfortable for a driver at any corpus size
# (a binned relation is nodes × features × bins — row-count-INDEPENDENT).
_LOCAL_GAINS_MAX_ROWS = 2_000_000


def _local_gains_row_cap(spark, n_classes: int) -> int:
    """Row cap for collecting a candidate counts relation to the driver:
    ``_LOCAL_GAINS_MAX_ROWS`` additionally bounded in BYTES (ADVICE r11 —
    a 100-class fit at 2M rows would serialize ~1.6 GB where the
    distributed pipeline succeeds): the driver-side scoring's one collect,
    the counts at rows x (n_classes + 3 key/count cols) x 8 B, must fit
    the same driver budget the packed dense-cube path honors.  The gains
    are computed on the driver for both criteria, so nothing else is
    collected."""
    from efficient_trees_spark.operators.histogram import stats_collect_budget

    budget = min(_DENSE_CUBE_MAX_BYTES, stats_collect_budget(spark))
    return min(_LOCAL_GAINS_MAX_ROWS, budget // ((n_classes + 3) * 8))

# Budget for collecting DENSE per-(partition, node) histogram cubes to the
# driver (the no-shuffle level-job form).  Volume = partitions × pending
# nodes × features × slots × classes × 8 B; past this the sparse rows +
# distributed SUM path takes over (thousands-of-partitions clusters).
_DENSE_CUBE_MAX_BYTES = 256 << 20


def find_best_splits_packed(
    packed_df: DataFrame,
    trees: dict[int, TreeLevel],
    n_classes: int,
    criterion: Criterion,
    bin_edges: dict[str, list[float]],
    n_input_parts: int,
    all_feature_names: list[str] | None = None,
    tree_col: str | None = None,
    lookahead: bool = False,
) -> tuple[dict[int, list[dict[str, Any]]], tuple | None]:
    """:func:`find_best_splits_per_node` over the packed bin-code matrix
    (uint8, or uint16 when a feature needs more than 253 edges;
    ``operators/histogram.py`` packed path): tree routing runs vectorized
    inside the histogram pass instead of as a JVM routing column, so each
    level costs one 2-column Arrow transfer of the cached code relation.

    ONE pass scores the pending nodes of every tree in ``trees`` — the
    PLANET / MLlib ``RandomForest`` shape: a forest's level is one Spark
    stage, not one per tree.  With ``tree_col`` each row carries its tree
    id and is routed by that tree's splits; without it every row is tree
    0's (a single tree's fit).  The kernels count under the level's slot
    layout (:func:`_slot_layout`), so the dense, pair and sparse branches
    below run unchanged over any number of trees, and the level is scored
    once under the matrix order filtered to the trees' features (each
    tree's list follows that order).  Budgets sum over the trees in the
    pass.

    The aggregated histogram relation is bounded by nodes × features ×
    (bins+1) rows — independent of corpus size — so while that bound fits
    the driver-collect cap (every binned fit; the XGBoost/LightGBM
    architecture: distributed histogram aggregation, central split
    finding) the counts are merged and scored on the driver: dense
    per-partition cubes when they fit ``_DENSE_CUBE_MAX_BYTES`` (no
    shuffle), else sparse rows summed by a hash aggregate, which go to the
    shared scorer (:func:`_score_counts`) — and past the cap straight to
    its distributed form (deep packed-exact trees).  Every branch is
    bit-identical to the exact melt (``tests/test_wide_fit.py``).

    ``all_feature_names`` is the packed matrix's full column order when a
    tree scores only a subset (forest feature bagging).  The pass
    histograms the union of the trees' features; each row fills only its
    own tree's.  ``n_input_parts`` is ``packed_df``'s partition count,
    which the fit's fan-out pins; it sizes the dense-cube collect.

    Returns ``(found, carry)``: ``found[tree]`` is the tree's split
    list.  Class distributions are not computed here: the caller counts
    the roots, and each child's falls out of its parent's split.

    ``lookahead=True`` (r12), when the PAIR cube fits the same byte
    budget, computes this level from one joint (feature, feature)
    histogram pass whose conditional slices are the NEXT level's counts:
    ``carry`` is then ``(cubes, splits, layout, names)``, the merged pair
    cubes and the splits with gain > 0 keyed by this level's slots, from
    which :func:`level_finder` scores level d+1 with no Spark job.
    Two tree levels per pass over the code cache: at 100 TB that halves
    the cache scans of a depth-2 binned fit; locally it removes one
    level job at the ~0.22 s empty-mapInArrow job floor (4 vCPUs,
    ``treebench --trace 1``).  Both levels' decisions are bit-identical
    to the one-level-per-pass form (exact int64 marginals/conditionals of
    the same routed rows — ``histogram.packed_histogram_pair_cubes``;
    test-pinned).  ``carry`` is None whenever the pair budget excludes
    the pass (wide fits) or the level went sparse or distributed."""
    from efficient_trees_spark.operators.histogram import (
        TreeRoute,
        _trim_malloc,
        arrow_cube_rows,
        compile_routing_splits,
        merge_cube_rows,
        merge_cubes_to_counts_pdf,
        packed_histogram_counts,
        packed_histogram_cubes,
        packed_histogram_pair_cubes,
        pair_cube_bytes,
        pair_cubes_to_level_counts,
        stats_collect_budget,
    )

    layout = _slot_layout(trees)
    lists = {t: list(trees[t].feature_names) for t in layout.of}
    matrix = list(all_feature_names or next(iter(lists.values())))
    used = set().union(*lists.values())
    names = [f for f in matrix if f in used]
    col_of = {f: j for j, f in enumerate(names)}
    routes = {
        t: TreeRoute(
            compile_routing_splits(trees[t].root, matrix, bin_edges),
            slots=slots,
            features=None if lists[t] == names else [col_of[f] for f in lists[t]],
        )
        for t, slots in layout.of.items()
    }
    if matrix != names:
        positions, width = [matrix.index(f) for f in names], len(matrix)
    else:
        positions, width = None, None
    kernel_args = dict(
        feature_positions=positions,
        matrix_width=width,
        tree_col=tree_col,
    )
    spark = packed_df.sparkSession

    est_rows = sum(
        max(1, len(trees[t].pending))
        * sum(len(bin_edges.get(f, ())) + 1 for f in fl)
        for t, fl in lists.items()
    )
    local_ok = est_rows <= _local_gains_row_cap(spark, n_classes)
    dense_ok = pair_ok = False
    if local_ok:
        # Dense-cube variant when the partitions × nodes × cube collect is
        # small: the level job collapses to one mapInArrow stage + an exact
        # driver merge — no shuffle at all.  Volume grows with the input's
        # partition count, so past the budget (big clusters, deep trees)
        # the sparse rows + hash aggregate take over.
        # `slots` is the RAGGED flat slot total (per-feature edges + NaN
        # slot), which is exactly the dense cube's int64 cell count per
        # node — one wide feature no longer inflates the estimate (or
        # the cube) by max-edges x width.
        slots = sum(len(bin_edges.get(f, ())) + 1 for f in names)
        cube_bytes = slots * n_classes * 8
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
        cubes_per_part = int(n_input_parts * 1.25) * max(1, len(layout.node))
        dense_ok = cubes_per_part * cube_bytes <= cube_budget
        pair_ok = (
            lookahead
            and dense_ok
            and cubes_per_part * pair_cube_bytes(names, bin_edges, n_classes)
            <= cube_budget
        )
    if pair_ok:
        merged = merge_cube_rows(
            arrow_cube_rows(
                packed_histogram_pair_cubes(
                    packed_df, names, n_classes, bin_edges, routes, **kernel_args,
                ).toArrow()
            )
        )
        _trim_malloc()
        counts = pair_cubes_to_level_counts(merged, names, n_classes, bin_edges)
    elif dense_ok:
        # Arrow transport for the cube partials: a depth-d level collects
        # partitions x nodes ~100 KB binary cubes (hundreds of MB at depth
        # 3+ on many-partition inputs).
        cube_rows = arrow_cube_rows(
            packed_histogram_cubes(
                packed_df, names, n_classes, bin_edges, routes, **kernel_args,
            ).toArrow()
        )
        counts = merge_cubes_to_counts_pdf(cube_rows, names, n_classes, bin_edges)
        # The per-level IPC table is hundreds of MB on many-partition
        # inputs; return it to the OS before the next level piles on
        # (the DRIVER ratchets across levels otherwise, same allocator
        # behavior the workers showed — histogram._trim_malloc notes).
        del cube_rows
        _trim_malloc()
    else:
        found = _score_counts(
            packed_histogram_counts(
                packed_df, names, n_classes, bin_edges, routes, **kernel_args,
            ),
            layout,
            names,
            n_classes,
            criterion,
            est_rows=est_rows,
        )
        return found, None
    found = best_splits_from_counts_pdf(counts, n_classes, names, criterion)
    carry = None
    if pair_ok:
        # Only nodes the tree loop will split have children (gain > 0,
        # its leaf rule).
        splits = [b for b in found if b["information_gain"] > 0]
        carry = (merged, splits, layout, names)
    return layout.unslot_splits(found), carry


def level_finder(
    data: DataFrame,
    n_classes: int,
    criterion: Criterion,
    bin_edges: dict[str, list[float]] | None = None,
    n_parts: int | None = None,
    max_depth: int | None = None,
    all_feature_names: list[str] | None = None,
    tree_col: str | None = None,
):
    """One fit's level search: ``finder(levels)`` maps a level's
    ``{tree_id: TreeLevel}`` to each tree's node-keyed splits, called once
    per level from the root down to the last level under ``max_depth``.

    ``bin_edges`` None means the melt: each level is one
    :func:`find_best_splits_per_node` over the training relation
    ``data``.  Otherwise ``data`` is the code relation of ``n_parts``
    partitions and each level one :func:`find_best_splits_packed` pass
    over the growing trees' rows, looking ahead while the next level is
    under ``max_depth``.  A level such a pass carried runs no job: the
    pending children's counts are sliced from their parents' pair cubes
    under the level's slot layout and scored in ONE
    :func:`best_splits_from_counts_pdf` call."""
    if bin_edges is None:
        return lambda levels: find_best_splits_per_node(
            data, levels, n_classes, criterion, tree_col
        )
    from efficient_trees_spark.operators import histogram

    depth, trees, carry = 0, set(), None

    def packed(levels: dict[int, TreeLevel]) -> dict[int, list[dict[str, Any]]]:
        nonlocal depth, carry
        depth += 1  # levels searched, this one included
        trees.update(levels)  # every tree is pending at the root
        if carry is not None:
            (cubes, splits, prev, names), carry = carry, None
            layout = _slot_layout(levels)
            children = {}
            for b in splits:
                t, n = prev.tree[b["node_id"]], prev.node[b["node_id"]]
                slots = layout.of.get(t, {})
                for child, is_left in ((2 * n + 1, True), (2 * n + 2, False)):
                    if child in slots:
                        children[slots[child]] = (b, is_left)
            counts = histogram.pair_cubes_to_child_counts(
                cubes, children, names, n_classes, bin_edges
            )
            return layout.unslot_splits(
                best_splits_from_counts_pdf(counts, n_classes, names, criterion)
            )
        found, carry = find_best_splits_packed(
            data
            if set(levels) == trees
            else data.filter(F.col(tree_col).isin(sorted(levels))),
            levels,
            n_classes,
            criterion,
            bin_edges,
            n_parts,
            all_feature_names=all_feature_names,
            tree_col=tree_col,
            lookahead=max_depth is None or depth < max_depth,
        )
        return found

    return packed


def _score_counts(
    counts: DataFrame,
    layout: _Slots,
    feature_names: list[str],
    n_classes: int,
    criterion: Criterion,
    est_rows: int = 0,
) -> dict[int, list[dict[str, Any]]]:
    """The counts-to-splits step of both fit paths: a level's counts
    relation ``(NODE_COL, feature, feature_value, class_*_count,
    count_examples)``, keyed by the level's slots (``layout``) → each
    tree's best split per pending node, node-keyed.  Ties break by
    position in ``feature_names``, the relation's feature order, which
    every tree's own list follows.

    The relation is checkpointed lazily, since it may be read more than
    once.  While it may fit ``_local_gains_row_cap`` (rows AND bytes, so
    a high-class-count fit cannot blow ``spark.driver.maxResultSize`` —
    ADVICE r11), it is collected in ONE ``limit(cap + 1)`` Arrow action
    and scored driver-side (:func:`best_splits_from_counts_pdf`), whatever
    the criterion.  ``cap + 1`` rows back prove it over budget:
    ``candidate_split_gains`` + ``max_by`` then run over the same
    checkpoint blocks.  An ``est_rows`` upper bound past the cap skips
    the collect.  Both forms are pinned bit-identical."""
    cap = _local_gains_row_cap(counts.sparkSession, n_classes)
    counts = counts.localCheckpoint(eager=False)
    if est_rows <= cap:
        pdf = counts.limit(cap + 1).toArrow().to_pandas()
        if len(pdf) <= cap:
            return layout.unslot_splits(
                best_splits_from_counts_pdf(pdf, n_classes, feature_names, criterion)
            )
        del pdf
    gains = candidate_split_gains(counts, n_classes, criterion, node_col=NODE_COL)
    return layout.unslot_splits(_best_split_rows(gains, feature_names))


def _prefix_sum_arrays(pdf, n_classes: int):
    """Sorted counts relation + exact int64 sums of the driver-side gains
    (:func:`_gains_arrays`): ``(pdf, arrays, gid)``, where ``arrays``
    holds each row's prefix sums (``cum_*``) and each (node, feature)
    group's totals (``sum_*``), and ``gid`` is each row's group.  Within
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

    nodes = pdf[NODE_COL].to_numpy(np.int64)
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
        return cs - base[gid], tot

    arrays: dict = {}
    for i in range(n_classes):
        col = class_count_col(i)
        arrays[f"cum_class_{i}"], arrays[f"sum_class_{i}"] = cum_and_sum(col)
    arrays["cum_n"], arrays["sum_n"] = cum_and_sum("count_examples")
    return pdf, arrays, gid


def _gains_arrays(pdf, n_classes: int, criterion: Criterion):
    """Numpy core of the driver-side gains: prefix sums → max-value
    filter → gains, all as flat arrays (no per-row Python objects).
    Returns ``(nodes, features, values, gain, parent_criterion,
    left_counts 2d, right_counts 2d)`` over the surviving candidates.

    Bit-parity argument: divide, multiply, add and subtract are IEEE-754
    correctly-rounded operations, so NumPy and the JVM produce identical
    bits whenever the operation order is identical; this mirrors
    ``exprs.gini_expr`` (left-fold ``1.0 - ((p0*p0 + p1*p1) + …)``),
    ``exprs.entropy_expr`` (``-1.0 * ((t0 + t1) + …)`` with ``t = p *
    log2(p)`` where ``p > 0``, else ``0.0``),
    ``exprs.weighted_child_criterion`` (``(cum_n/sum_n)*left +
    ((sum_n-cum_n)/sum_n)*right``, int64 subtractions before the double
    casts, exactly as Catalyst inserts them) and
    ``exprs.information_gain`` term-for-term.  Entropy's ``log2`` is not
    correctly rounded, so it is Spark's own: ``fdlibm.log2`` ports the
    ``StrictMath.log`` that Catalyst's ``Log2`` calls, bit for bit.
    The parent impurity is constant within a (node, feature) group, so it
    is computed once per group from the same operands and indexed back
    to the candidates.  Pinned bit-identical to the Catalyst form, for
    both criteria, by ``test_local_gains_numpy_gini_matches_catalyst``."""
    import numpy as np

    from efficient_trees_spark.functions import fdlibm

    pdf, arr, gid = _prefix_sum_arrays(pdf, n_classes)
    # Drop the maximal value of each feature: a split there leaves the
    # right child empty (reference F3, tree.py:274-277).
    keep = arr["sum_n"][gid] > arr["cum_n"]
    grp = gid[keep]
    cum_n_i = arr["cum_n"][keep]
    sum_n_i = arr["sum_n"][grp]
    right_n_i = sum_n_i - cum_n_i
    cum_n = cum_n_i.astype(np.float64)
    sum_n = sum_n_i.astype(np.float64)
    right_n = right_n_i.astype(np.float64)

    def entropy_term(p: "np.ndarray") -> "np.ndarray":
        term = np.zeros_like(p)
        pos = p > 0
        term[pos] = p[pos] * fdlibm.log2(p[pos])
        return term

    if criterion == Criterion.GINI:
        term, finish = (lambda p: p * p), (lambda acc: 1.0 - acc)
    else:
        term, finish = entropy_term, (lambda acc: -1.0 * acc)

    def impurity(p_cols: list) -> "np.ndarray":
        acc = term(p_cols[0])
        for p in p_cols[1:]:
            acc = acc + term(p)
        return finish(acc)

    n_rows = int(keep.sum())
    left_counts = np.empty((n_rows, n_classes), dtype=np.int64)
    right_counts = np.empty((n_rows, n_classes), dtype=np.int64)
    left_p, right_p, parent_p = [], [], []
    group_n = arr["sum_n"].astype(np.float64)
    for i in range(n_classes):
        cum_i = arr[f"cum_class_{i}"][keep]
        sum_i = arr[f"sum_class_{i}"][grp]
        left_counts[:, i] = cum_i
        right_counts[:, i] = sum_i - cum_i
        left_p.append(cum_i.astype(np.float64) / cum_n)
        right_p.append((sum_i - cum_i).astype(np.float64) / right_n)
        parent_p.append(arr[f"sum_class_{i}"].astype(np.float64) / group_n)
    left_c = impurity(left_p)
    right_c = impurity(right_p)
    parent_c = impurity(parent_p)[grp]
    child = cum_n / sum_n * left_c + right_n / sum_n * right_c
    gain = parent_c - child

    nodes = pdf[NODE_COL].to_numpy(np.int64)[keep]
    features = pdf[FEATURE].to_numpy()[keep]
    values = pdf[FEATURE_VALUE].to_numpy(np.float64)[keep]
    return nodes, features, values, gain, parent_c, left_counts, right_counts


def best_splits_from_counts_pdf(
    pdf,
    n_classes: int,
    feature_names: list[str],
    criterion: Criterion,
) -> list[dict[str, Any]]:
    """Best split per node from a DRIVER-LOCAL counts relation — the one
    driver-side scoring of both fit paths: the scorer's collected relation
    (:func:`_score_counts`), the merged dense or pair cubes, and a level
    whose counts the tree loop carried over from the previous pass's PAIR
    cube.  The level runs no Spark job: numpy gains for both criteria
    (:func:`_gains_arrays`), bit-identical to the distributed Catalyst
    form, then a winners-only argmax in the ``max_by`` form's total order
    (:func:`_best_split_rows`): gain
    desc, feature position asc, threshold asc with the NaN candidate
    preferred over any finite threshold at equal (gain, position) —
    ``max_by`` maximizes ``-value`` and double NaN sorts greatest, so NaN
    maps to -inf here.  One ``np.lexsort`` over flat arrays (measured
    ~1.5 s -> ~0.3 s per level against a pandas multi-key sort at the
    600k-candidate exact-fit shape).  ``-gain`` as an ascending key is an
    exact reversal for the non-NaN doubles gains are (0.0 and -0.0 tie
    either way and fall to the next key, as in ``max_by``)."""
    import numpy as np
    import pandas as pd

    if pdf is None or pdf.empty:
        return []
    nodes, features, values, gain, parent_c, lc, rc = _gains_arrays(
        pdf, n_classes, criterion
    )
    if not len(nodes):
        return []
    pos_of = {name: i for i, name in enumerate(feature_names)}
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
            "parent_criterion": float(parent_c[i]),
            "left_counts": [int(x) for x in lc[i]],
            "right_counts": [int(x) for x in rc[i]],
        }
        for i in top
    ]


def _best_split_rows(
    gains: DataFrame, feature_names: list[str]
) -> list[dict[str, Any]]:
    """Distributed argmax + collect of a gains relation: the scorer's
    over-budget form.  A candidate's feature position in
    ``feature_names`` is a tiny literal map lookup.

    Total-order tie-break — (gain desc, feature position asc, threshold
    asc; the reference's stable concat-then-sort in feature-list order,
    tree.py:341-348) — expressed as ``max_by`` over an ordering struct
    rather than a ``row_number`` window.  The window form is a scale
    trap: at the root level the node column is the foldable ``lit(0)``,
    Catalyst folds it out of the partition spec, and the window
    serializes EVERY candidate gain row through one partition.
    ``max_by`` aggregates with map-side partial combine (one surviving
    row per node per input partition) and shuffles only those.  Struct
    comparison is lexicographic; position and threshold are negated so
    the whole order is a single max, and (gain, position, threshold) is
    unique per candidate so no arbitrary tie remains."""
    position = F.create_map(
        *[x for i, name in enumerate(feature_names) for x in (F.lit(name), F.lit(i))]
    )[F.col(FEATURE)]
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
    rows = gains.groupBy(NODE_COL).agg(F.max_by(payload, order).alias("best")).collect()
    return [
        {
            "node_id": row[NODE_COL],
            "feature": row["best"]["feature"],
            "threshold": row["best"]["threshold"],
            "information_gain": row["best"]["information_gain"],
            "parent_criterion": row["best"]["parent_criterion"],
            "left_counts": list(row["best"]["left_counts"]),
            "right_counts": list(row["best"]["right_counts"]),
        }
        for row in rows
    ]
