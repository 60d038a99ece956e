"""DecisionTreeClassifier — exact-split decision tree training as Spark dataflow.

Same capabilities as the reference classifier
(``/root/reference/efficient_trees/tree.py:16-385``) re-architected for Spark:

* **Exact split search** over every distinct feature value (not MLlib's
  quantile bins — SURVEY.md §7.3), or opt-in quantile-binned candidates
  (``max_bins``).
* **Level-wise growth, two fit paths.**  Every pending node of a tree level
  (of every tree of a forest) is scored in ONE pass (PLANET-style).  The
  packed level loop: the features are encoded once into a persisted
  bin-code relation (1 or 2 bytes/cell) and each level is one Arrow
  histogram pass over it with the tree routing run in numpy
  (``operators/histogram.py``).  The exact melt: each level unpivots the
  persisted training relation, routed by a compiled slot column, into one
  declarative gains plan.  The fit loop makes one call per level to a
  level finder (``split_finder.level_finder``) — trees, partial trees and
  pending node ids in, node-keyed splits out — and never sees the path:
  ``operators/split_finder.py`` owns its slot layout, routing and the
  packed path's two-level pair-cube passes.  The paths share the gain
  expressions and tie-breaks, so they grow identical trees.  The fit
  picks the path from its input, with no option: binned fits
  (``max_bins``) and exact fits of at least
  ``_AUTO_PACKED_MIN_FEATURES`` (64) features take the packed loop;
  narrower exact fits take the melt, which was measured faster there (its
  Expand cost grows with width).  A wide exact fit with a feature past
  uint16 code space (65 533 distinct values) falls back to the melt with
  a warning, and runs the very melt a narrow exact fit runs on the same
  input (same relation, same jobs) after its probe's jobs.
* **Float width.**  Float features are rounded to float32 (the
  reference's ``shrink_dtype``); integer and decimal features train as
  exact doubles.  The packed path's edge and encode passes read the
  features as float32 only when every one is float32-exact by its type
  (float, double, byte, short, or categorical codes below 2^24), and as
  double otherwise, so both paths see the same values.
* **Batch prediction compiled to a single CASE projection**
  (``plans/case_compiler.py``) instead of a 2^depth filter-union.
* **Lineage stays one select deep**: the training relation (or code
  relation) is persisted once per fit and each level's plan is built on it
  directly, so no level replays the levels above it.

Model artifact: the same nested dict as the reference — internal nodes
``{"type": "node", "feature", "threshold", "information_gain",
"criterion_value", "target_distribution", "left", "right"}`` (tree.py:374-383),
leaves ``{"type": "leaf", "value"}`` — so persistence is pickle/JSON of a
driver-side object, independent of Spark.

Semantic fine print reproduced from the reference (SURVEY.md §2.11):

* recursion continues only while best information gain > 0 (tree.py:350);
* rows NULL in the chosen split feature drop out of BOTH children during fit
  and batch predict (tree.py:351-358, 129-130) — ``transform`` exposes this as
  ``null_policy="drop"`` (parity), plus ``"keep"`` and ``"strict"`` modes;
* candidate thresholds are distinct feature values with each feature's maximum
  excluded (tree.py:244, 274-277);
* tie-breaking, engine-order-dependent in the reference (§2.11.4), is replaced
  by total orders: splits by (gain desc, feature position asc, threshold asc),
  majority class by (count desc, class value asc).
"""

from __future__ import annotations

import json
import pickle
import warnings
from collections.abc import Iterable
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from efficient_trees_spark.enums import Criterion
from efficient_trees_spark.operators import split_finder
from efficient_trees_spark.plans.case_compiler import compile_tree

_TARGET_IDX = split_finder.TARGET_IDX

# Above this cardinality, categorical codes are applied via a broadcast-join
# mapping table instead of a literal CASE map (SURVEY.md §2.8).
_LITERAL_MAP_MAX = 256

# Exact fits this wide take the packed path: the melt's Expand multiplies
# rows by width.
_AUTO_PACKED_MIN_FEATURES = 64


def _check_binning(max_bins: int | None, bin_rel_error: float = 1e-3) -> None:
    """Reject binning parameters no fit can honor, at construction (the
    tree's and the forest's), before any Spark job runs."""
    from efficient_trees_spark.operators.histogram import _MAX_PACKED16_EDGES

    if max_bins is not None and max_bins < 2:
        raise ValueError(f"max_bins must be >= 2, got {max_bins}")
    if max_bins is not None and max_bins > _MAX_PACKED16_EDGES:
        raise ValueError(
            f"max_bins must be <= {_MAX_PACKED16_EDGES} (uint16 code "
            f"space), got {max_bins}"
        )
    if not bin_rel_error > 0:
        raise ValueError(f"bin_rel_error must be > 0, got {bin_rel_error}")


def _fan_out_small_input(prepared: DataFrame) -> tuple[DataFrame, int]:
    """The packed path's passes (edge stats or distinct values, the fused
    pack + encode, one Arrow histogram per tree level) parallelize over
    THIS relation's partition count.  A local benchmark table is a handful
    of 128 MB parquet splits — 4 partitions would idle 28 of 32 cores in
    EVERY pass — so fan out to the session's parallelism once, before
    anything is persisted, paying one bounded shuffle.  On a real cluster
    the source has far more splits than cores and this is a no-op.  The
    order-statistic edge placement is partitioning-sensitive (within the
    documented rank error), so it runs before the edge pass.  Melt fits
    keep the source partitioning: their map side is pure codegen and the
    repartition was A/B-measured slower (see the note in
    ``_training_relation``).  Partition count via the ~1 ms file-size
    estimate when the lineage is a plain scan pipeline (r11 — the
    ``df.rdd`` probe costs ~0.4 s of physical planning per call), the probe
    otherwise.

    Returns ``(df, n_parts)`` — the relation plus its KNOWN partition count
    (``repartition(n)`` pins exactly n; AQE does not coalesce an explicit
    user repartition).  Callers thread the count through the fit instead of
    re-probing: under AQE, ``df.rdd`` on a plan that now contains this
    fan-out Exchange EXECUTES the shuffle stage to resolve the final plan —
    a full extra source pass per probe (measured ~1.2 s at the sf0.1
    4-feature shape; see OPTIMIZATION_r11.md)."""
    from efficient_trees_spark.sources.io import estimate_scan_partitions

    sc = prepared.sparkSession.sparkContext
    n = estimate_scan_partitions(prepared)
    if n is None:
        # Not a plain scan pipeline.  Without an Exchange below, .rdd only
        # plans; with one (an input derived by a groupBy, say), AQE runs
        # the shuffle's map stage as a Spark job to resolve the plan.
        n = prepared.rdd.getNumPartitions()
    if n < sc.defaultParallelism:
        return prepared.repartition(sc.defaultParallelism), sc.defaultParallelism
    return prepared, n


_PACKED_PARTITION_BYTES = 64 << 20


def _packed_partition_target(
    n_parts: int, n_rows: int, width: int, parallelism: int
) -> int:
    """Partition count the persisted uint8 code cache SHOULD have: enough
    partitions that every core gets ≥ 4 waves (the pack+encode scan runs at
    this granularity too, and a 2-wave schedule was measured ~15% slower on
    the ×30 rung from straggler tail alone), few enough that each holds
    ~``_PACKED_PARTITION_BYTES`` (64 MB) of codes.  Returns ``n_parts``
    unchanged when no reduction is warranted."""
    import math

    # +8: per-row binary header + the int target column riding the blob.
    want = max(
        4 * parallelism,
        math.ceil(max(1, n_rows) * (width + 8) / _PACKED_PARTITION_BYTES),
    )
    return want if n_parts > want else n_parts


def _coalesce_for_pack(
    prepared: DataFrame,
    n_rows: int | None,
    width: int,
    n_parts: int,
    bytes_per_cell: int = 1,
) -> tuple[DataFrame, int]:
    """Right-size the partitioning the pack+encode pass — and therefore the
    PERSISTED code cache every per-level histogram job re-reads — inherits.

    The code relation's partition count defaults to the SOURCE scan's split
    count, sized for reading raw parquet (16–128 MB of compressed floats),
    not for 1-byte/cell codes: at the ×30 wide ladder rung (18M × 190) the
    13 GB table scanned as 848 splits, so the cache held ~4 MB of codes per
    partition and every level's ``mapInArrow`` paid 848 python-worker round
    trips — measured 16 s/level, and the partitions × nodes dense-cube
    driver merge fell out of budget from level 1 (split_finder.py).
    Coalescing (zero shuffle — adjacent splits merge map-side; the pack fn
    streams per Arrow batch, so per-task memory does not grow) to ~64 MB of
    codes per partition amortizes the round trips, keeps the dense merge in
    budget at every level, and leaves ≥ 2 waves per core for balance.  Row
    counts ride the edge-stats / distinct merges, so sizing costs no extra
    job; partition-count-only reduction changes no per-row value — trees
    are bit-identical (histograms are exact integer sums, edges are
    already placed).

    ``n_parts`` is the input's partition count from the fan-out, which
    pins it (:func:`_fan_out_small_input`).  Returns ``(df, n_parts)``
    with the output's count, threaded on to the per-level histogram
    budget."""
    if not n_rows:
        return prepared, n_parts
    sc = prepared.sparkSession.sparkContext
    want = _packed_partition_target(
        n_parts, n_rows, width * bytes_per_cell, sc.defaultParallelism
    )
    if want < n_parts:
        return prepared.coalesce(want), want
    return prepared, n_parts


def _encode_codes(
    prepared: DataFrame,
    feature_names: list[str],
    bin_edges: dict[str, list[float]],
    dtype: str,
    n_parts: int,
    n_rows_est: int,
) -> tuple[DataFrame, int]:
    """Pass 2 of the two-scan flow, shared by the single-tree fit and the
    forest: the fused pack + encode of ``prepared`` into the packed
    bin-code relation — uint8 (1 byte/cell) when every feature fits 253
    edges, uint16 (2 bytes/cell, <= 65 533 edges) past that, a width
    every level pass reads from the same edges.  Routing and histograms
    then run on codes, order-isomorphic to raw values, so trees are
    bit-identical.  Returns ``(codes, n_parts)``.  Edges always fit
    uint16: binned edges number at most ``max_bins`` (capped at 65 533 by
    the constructor) and the exact distinct pass raises past it.  The
    input is first right-sized for the cache from the edge pass's row
    count ``n_rows_est`` (:func:`_coalesce_for_pack`)."""
    from efficient_trees_spark.operators import histogram

    prepared, n_parts = _coalesce_for_pack(
        prepared,
        n_rows_est,
        len(feature_names),
        n_parts,
        bytes_per_cell=histogram._code_info(bin_edges).dtype.itemsize,
    )
    codes = histogram.pack_encode_features(
        prepared, feature_names, bin_edges, dtype=dtype
    )
    return codes, n_parts


def _two_scan_binned_edges(
    prepared: DataFrame,
    feature_names: list[str],
    n_bins: int,
    stats: int,
    dtype: str,
    n_parts: int,
) -> tuple[dict[str, list[float]], int]:
    """Pass 1 of the binned two-scan flow, shared by the single-tree fit
    and the forest: per-partition order statistics over the COLUMNAR
    relation (nothing persisted, rows-independent output) merged into
    quantile edges + the per-feature row counts.  Returns
    ``(bin_edges, n_rows_est)``.  ``n_parts`` is ``prepared``'s partition
    count from the fan-out.

    The raw stats volume is partitions × features × 2·stats doubles —
    row-count-independent but PARTITION-proportional, and a many-partition
    input (wide ladder ×9: 532 parquet splits) serializes past
    ``spark.driver.maxResultSize``.  Under budget, collect + driver merge
    (skips a whole Spark job); over it, the feature-keyed distributed merge
    collects only F edge rows.  Edges are bit-identical either way."""
    from efficient_trees_spark.operators.histogram import (
        _trim_malloc,
        arrow_stat_rows,
        merge_edge_stats_rows,
        merge_order_stats_distributed,
        partition_order_stats,
        stats_collect_budget,
    )

    stats_df = partition_order_stats(prepared, feature_names, stats, dtype=dtype)
    # Budget decision only: both branches are bit-identical.  x1.25: when
    # no repartition fired, n_parts is the ~1 ms FilePartition
    # ESTIMATE (tree._fan_out_small_input), written for a parallelism
    # heuristic where both miss directions are safe; feeding a driver-
    # collect budget it must be treated as a lower bound (ADVICE r11) —
    # the pad trades a slightly earlier distributed-merge fallback (bit-
    # identical) for maxResultSize headroom.
    # Row width: stat values at the matrix dtype + fixed per-row fields —
    # the gap run-lengths never transfer at all (r12 gap-free format:
    # reconstructed from __sn via histogram._linspace_gaps).
    val_bytes = 4 if dtype == "f4" else 8
    est_stats_bytes = (
        int(n_parts * 1.25) * len(feature_names) * (stats * val_bytes + 48)
    )
    if est_stats_bytes > stats_collect_budget(prepared.sparkSession):
        bin_edges, feat_counts = merge_order_stats_distributed(
            stats_df, feature_names, n_bins, stats_per_partition=stats,
        )
    else:
        # partitions x features rows of double-lists: Arrow IPC transport
        # + zero-copy numpy views instead of py4j row pickling.
        stat_rows = arrow_stat_rows(stats_df.toArrow())
        bin_edges, feat_counts = merge_edge_stats_rows(
            stat_rows, feature_names, n_bins, stats_per_partition=stats,
        )
        del stat_rows
    _trim_malloc()
    return bin_edges, max(feat_counts.values(), default=0)


class DecisionTreeClassifier:
    """Decision tree classifier with a Spark DataFrame backend.

    :param max_depth: maximum tree depth; None = unbounded (gain>0 still stops).
    :param categorical_columns: columns to target-encode to ordinal codes
        before training (reference tree.py:93-108).
    :param criterion: impurity criterion (entropy default, like the reference).
    :param max_bins: None (default) = the reference's EXACT split search over
        every distinct feature value (tree.py:244).  An integer (2..65 533,
        so codes fit uint16) caps the
        candidate set at ``max_bins`` equi-depth quantile edges per feature —
        the PLANET/MLlib scale strategy.  Exact mode's shuffle volume is
        Σ_f |distinct(f)| rows; on a 100 TB table a continuous feature has
        ~billions of distinct values, so that aggregated relation itself
        becomes the bottleneck.  Binned mode bounds it at
        n_features × max_bins regardless of data size.  The gain computed for
        each surviving candidate is EXACT — not an approximation — because
        binning maps every value to the smallest edge ≥ it, which preserves
        the row count of ``value <= edge`` for every edge; only the candidate
        set is thinned.  Thresholds remain real feature-space values, so
        inference is unchanged.  A binned fit always runs on the packed
        level loop; the module docstring gives the fit-path rule.
    :param bin_rel_error: requested relative rank error (> 0) of the
        per-partition order statistics that place bin edges; only the edge
        PLACEMENT is approximate, never the gains at the chosen edges.  Each
        partition keeps ``stats = max(2 * max_bins, min(2048,
        round(1 / bin_rel_error)))`` order statistics, and every edge's rank
        lies within ``1 / stats`` of its target rank (relative to the
        non-NULL, non-NaN row count).  So a requested error below 1/2048 is
        not met unless ``max_bins`` is above 1024.

    Float features are rounded to float32 before split search, replicating
    the reference's ``shrink_dtype`` pass (tree.py:90), so thresholds are
    f32 values.  This is NOT semantics-neutral: inference compares the
    user's unrounded float64 data against the f32 threshold, so a row
    sitting exactly on a split value can route differently than under f64
    training (e.g. ``1.9 <= float32(1.9)=1.8999999762`` is false).  The
    reference's golden iris outputs depend on this behavior.  Polars
    shrinks Float64→Float32 only when the column's min/max fit in f32 range
    (±3.4e38); this engine shrinks unconditionally to avoid an extra
    min/max scan.  Integer and decimal features are exact.
    """

    def __init__(
        self,
        max_depth: int | None = None,
        categorical_columns: list[str] | None = None,
        criterion: Criterion = Criterion.ENTROPY,
        streaming: bool = False,
        max_bins: int | None = None,
        bin_rel_error: float = 1e-3,
    ):
        _check_binning(max_bins, bin_rel_error)
        self.max_depth = max_depth
        self.categorical_columns = categorical_columns
        self.criterion = Criterion(criterion)
        self.max_bins = max_bins
        self.bin_rel_error = bin_rel_error
        self.bin_edges_: dict[str, list[float]] | None = None
        # Drop-in compatibility with the reference signature (tree.py:20-26):
        # `streaming` selects Polars' out-of-core engine there.  Spark executes
        # partition-at-a-time with spill by architecture (SURVEY.md §2.10), so
        # the knob is accepted and recorded but changes nothing.
        self.streaming = streaming
        self.categorical_mappings: dict[str, dict[Any, int]] | None = None
        self.tree: dict[str, Any] | None = None

    # ------------------------------------------------------------------ io

    def save_model(self, path: str) -> None:
        """Persist the model artifact (pickle, like reference tree.py:41-53)."""
        with open(path, "wb") as f:
            pickle.dump(
                {"tree": self.tree, "categorical_mappings": self.categorical_mappings},
                f,
                protocol=pickle.HIGHEST_PROTOCOL,
            )

    def load_model(self, path: str) -> None:
        """Load a model artifact saved by :meth:`save_model` (tree.py:55-65)."""
        with open(path, "rb") as f:
            loaded = pickle.load(f)
        self.tree = loaded["tree"]
        self.categorical_mappings = loaded["categorical_mappings"]

    def to_json(self) -> str:
        """Portable JSON form of the model (extension beyond the reference)."""
        return json.dumps(
            {
                "tree": self.tree,
                "categorical_mappings": (
                    {
                        col: [[k, v] for k, v in mapping.items()]
                        for col, mapping in self.categorical_mappings.items()
                    }
                    if self.categorical_mappings
                    else None
                ),
            }
        )

    @classmethod
    def from_json(cls, payload: str) -> "DecisionTreeClassifier":
        data = json.loads(payload)
        model = cls()
        model.tree = data["tree"]
        if data["categorical_mappings"] is not None:
            model.categorical_mappings = {
                col: {k: v for k, v in pairs}
                for col, pairs in data["categorical_mappings"].items()
            }
        return model

    # ------------------------------------------------- categorical encoding

    def _fit_categorical_mappings(self, df: DataFrame, target_name: str) -> None:
        """Target encoding: order each categorical's values by mean target
        (reference tree.py:93-107).  Deterministic tie-break: (avg asc nulls
        first, value asc) — the reference inherits engine order on ties."""
        mappings: dict[str, dict[Any, int]] = {}
        for col in self.categorical_columns or []:
            rows = (
                df.groupBy(col)
                .agg(F.avg(F.col(target_name).try_cast("double")).alias("avg"))
                .orderBy(F.asc_nulls_first("avg"), F.asc(col))
                .collect()
            )
            mappings[col] = {row[col]: index for index, row in enumerate(rows)}
        self.categorical_mappings = mappings

    def apply_categorical_mappings(self, df: DataFrame) -> DataFrame:
        """Replace categorical values with their ordinal codes (tree.py:67-77).

        Small mappings become a literal map lookup (pure expression, no
        shuffle); large ones a broadcast-join against a tiny mapping table —
        both broadcast-cheap at any data scale.
        """
        if not self.categorical_mappings:
            return df
        for col, mapping in self.categorical_mappings.items():
            # NULL is a legal category (the target-encoding groupBy emits a
            # NULL group, and polars' replace maps it like any other value)
            # but neither a map key nor a join key: route it explicitly.
            null_code = mapping.get(None)
            non_null = {k: v for k, v in mapping.items() if k is not None}
            if len(non_null) <= _LITERAL_MAP_MAX:
                literal_map = F.create_map(
                    *[x for k, v in non_null.items() for x in (F.lit(k), F.lit(v))]
                )
                coded = F.when(F.col(col).isNull(), F.lit(null_code)).otherwise(
                    literal_map[F.col(col)]
                )
                df = df.withColumn(col, coded.cast("int"))
            else:
                spark = df.sparkSession
                mapping_df = spark.createDataFrame(
                    [(k, v) for k, v in non_null.items()], [col, f"__code_{col}"]
                )
                df = (
                    df.join(F.broadcast(mapping_df), on=col, how="left")
                    .withColumn(
                        col,
                        F.when(F.col(col).isNull(), F.lit(null_code))
                        .otherwise(F.col(f"__code_{col}"))
                        .cast("int"),
                    )
                    .drop(f"__code_{col}")
                )
        return df

    # ------------------------------------------------------------------ fit

    def fit(self, data: DataFrame, target_name: str) -> None:
        """Train the tree level-wise (PLANET-style): one split pass per tree
        LEVEL scores every pending node of the level.  Reference lifecycle:
        tree.py:79-115."""
        (relation, feature_names, unique_targets, root_distribution, bin_edges,
         n_parts) = self._training_relation(data, target_name)
        # The only relation a single-tree fit persists: the code relation
        # (packed loop) or the prepared training relation (melt), read once
        # per level.
        relation = relation.persist()
        try:
            [self.tree] = self._build_tree_levelwise(
                relation,
                [feature_names],
                unique_targets,
                [root_distribution],
                bin_edges=bin_edges,
                n_parts=n_parts,
            )
        finally:
            relation.unpersist()

    def _training_relation(
        self, data: DataFrame, target_name: str
    ) -> tuple[
        DataFrame, list[str], list[Any], list[tuple[int, int]], dict | None,
        int | None,
    ]:
        """The fit preamble of the tree and the forest.  Returns
        ``(relation, feature_names, unique_targets, root_distribution,
        bin_edges, n_parts)``: root_distribution is the input's
        ``[(class_idx, count), ...]``, bin_edges None on the melt, n_parts
        the code relation's partition count, None on the melt.

        First the prepared relation: categorical encoding, class-label
        discovery with each label's row count (one job, the root's class
        distribution), and the normalized training relation — features cast to
        double (a common unpivot value type), target encoded to its class
        index (cheap int comparisons in the conditional counts).
        Fractional features round-trip through float32 first (reference
        shrink_dtype, tree.py:90) so every candidate threshold downstream
        is an f32 value; integer/decimal features go straight to double
        (exact, like polars' lossless int shrink).  An input with no rows
        raises here, before any fit pass runs.  Then the fit path, by the
        module docstring's rule: on the packed path, fan out, place the
        edges and encode (:func:`_encode_codes`).  A wide exact fit whose
        distinct-value probe overflows keeps the prepared relation, so it
        runs the melt a narrow fit would."""
        feature_names = [c for c in data.columns if c != target_name]

        if self.categorical_columns:
            self._fit_categorical_mappings(data, target_name)
            data = self.apply_categorical_mappings(data)

        # Distinct class labels, sorted ascending (NULL first) for
        # deterministic indexing (reference keeps engine order,
        # tree.py:110-113), and each label's count: the root's class
        # distribution (reference value_counts, tree.py:363-372).  The
        # n_classes rows are sorted in one partition: 2 Spark jobs, where
        # orderBy's range-partitioned sort runs 4.
        rows = (
            data.groupBy(target_name)
            .count()
            .coalesce(1)
            .sortWithinPartitions(target_name)
            .collect()
        )
        if not rows:
            raise ValueError("cannot fit on training data with no rows")
        unique_targets = [row[0] for row in rows]
        root_distribution = [(i, row["count"]) for i, row in enumerate(rows)]
        self._unique_targets = unique_targets

        fractional = {
            f.name
            for f in data.schema.fields
            if f.dataType.typeName() in ("float", "double")
        }

        # One parsed SQL string per feature built in a single py4j call
        # (histogram.array_cast_expr rationale): at width ~190 the
        # per-column F.col().cast().alias() chain costs ~0.5 s of driver
        # round-trips per plan.  CAST == Column.cast — identical plans.
        def feature_sql(name: str) -> str:
            q = f"`{name.replace('`', '``')}`"
            inner = f"CAST({q} AS FLOAT)" if name in fractional else q
            return f"CAST({inner} AS DOUBLE) AS {q}"

        # A NULL label is a class of its own (groupBy surfaces it; the
        # reference's engine-order indexing tolerates it) — but it can't be a
        # literal map key, so it gets an explicit isNull branch.
        null_idx = next((i for i, v in enumerate(unique_targets) if v is None), None)
        label_to_idx = F.create_map(
            *[
                x
                for i, v in enumerate(unique_targets)
                if v is not None
                for x in (F.lit(v), F.lit(i))
            ]
        )
        target_idx_expr = F.when(
            F.col(target_name).isNull(), F.lit(null_idx)
        ).otherwise(label_to_idx[F.col(target_name)])
        prepared = data.select(
            F.expr(
                "struct(" + ", ".join(feature_sql(f) for f in feature_names) + ")"
            ).alias("__feat"),
            target_idx_expr.cast("int").alias(_TARGET_IDX),
        ).select("__feat.*", _TARGET_IDX)
        # NOTE: widening the persisted relation to defaultParallelism via an
        # up-front repartition was measured SLOWER (A/B at sf0.1: ~12s vs
        # ~9s per fit) — the extra shuffle costs more than the narrow cached
        # map side, because the expensive work all happens after the split
        # finder's own shuffles, which AQE already fans out.  Keep the
        # source partitioning.

        n_parts: int | None = None
        bin_edges: dict[str, list[float]] | None = None
        packed = (
            self.max_bins is not None
            or len(feature_names) >= _AUTO_PACKED_MIN_FEATURES
        )
        if packed:
            from efficient_trees_spark.operators.histogram import (
                _MAX_PACKED16_EDGES,
                distinct_edges_packed,
            )

            # The edge and encode passes read the features as float32 when
            # every one is float32-exact by its type — halving the Arrow
            # batch volume each transfers, losslessly (searchsorted
            # compares the f32 upcast to the float64 edges, and the
            # emitted candidates are the edges themselves) — and as
            # double otherwise: an int or decimal feature narrowed to f32
            # would split where the melt does not.
            mappings = self.categorical_mappings or {}

            def f32_exact(field) -> bool:
                if field.name in mappings:  # ordinal codes 0..len-1
                    return len(mappings[field.name]) < 1 << 24
                return field.dataType.typeName() in ("float", "double", "byte", "short")

            dtype = "f4" if all(
                f32_exact(f) for f in data.schema.fields if f.name != target_name
            ) else "f8"
            fanned, fanned_parts = _fan_out_small_input(prepared)
            # Two streaming scans of the source and no raw cache at all —
            # the XGBoost approx-tree architecture.  Pass 1 collects
            # per-partition order statistics (binned) or distinct values
            # (exact) only; pass 2 fuses pack + encode straight to bin
            # codes, the one persisted training artifact (1 or 2
            # bytes/cell).  In exact mode the edges ARE the distinct
            # values, so snapping is the identity and the histogram
            # relation — hence the tree — is bit-identical to the exact
            # melt (the reference's tree.py:244 semantics).
            if self.max_bins is not None:
                n_bins, stats = self._binned_edge_params()
                bin_edges, n_rows_est = _two_scan_binned_edges(
                    fanned, feature_names, n_bins, stats, dtype,
                    n_parts=fanned_parts,
                )
            else:
                try:
                    bin_edges, n_rows_est = distinct_edges_packed(
                        fanned,
                        feature_names,
                        max_distinct=_MAX_PACKED16_EDGES,
                        dtype=dtype,
                    )
                except ValueError as exc:
                    warnings.warn(
                        f"{exc}; falling back to the melt split search",
                        stacklevel=3,
                    )
            if bin_edges is not None:
                self.bin_edges_ = bin_edges
                prepared, n_parts = _encode_codes(
                    fanned, feature_names, bin_edges, dtype, fanned_parts,
                    n_rows_est,
                )

        return (
            prepared, feature_names, unique_targets, root_distribution,
            bin_edges, n_parts,
        )

    # -------------------------------------------------- quantile binning

    def _binned_edge_params(self) -> tuple[int, int]:
        """(n_bins, stats_per_partition) for quantile edge placement
        (:func:`_two_scan_binned_edges`, shared by the tree and the forest).

        Edges sit at ranks k/max_bins of the merged per-partition order
        statistics plus the TRUE max (a top edge below the max would leave
        high values unmappable); NaN and NULL are excluded (NaN keeps its
        own candidate slot sorting greatest).  Rank error of the edge
        PLACEMENT is <= ``1 / stats``.  That meets ``bin_rel_error`` (up
        to the rounding of ``1 / bin_rel_error``) only down to 1/2048:
        ``stats`` is capped at 2048 unless ``2 * max_bins`` is larger.
        The gain math is never approximate — binning maps every value to
        the smallest edge >= it, which preserves the ``value <= edge`` row
        count for every edge.
        (Two JVM-side alternatives were A/B'd at the reference's
        190-feature width and lost: ``df.stat.approxQuantile`` 29 s, one
        ``percentile_approx`` ObjectHashAggregate 19 s, the order-statistic
        pass ~3 s at 600k rows.)"""
        n_bins = int(self.max_bins)
        stats = max(2 * n_bins, min(2048, int(round(1.0 / self.bin_rel_error))))
        return n_bins, stats

    @staticmethod
    def _majority_idx(distribution: list[tuple[int, int]]) -> int:
        """Majority class with (count desc, class asc) tie-break; the
        reference's filter(len == len.max()) + row 0 (tree.py:175-178) is
        engine-order-dependent on ties."""
        return max(distribution, key=lambda pair: (pair[1], -pair[0]))[0]

    # ------------------------------------------------ level-wise training

    def _build_tree_levelwise(
        self,
        data: DataFrame,
        tree_features: list[list[str]],
        unique_targets: list[Any],
        root_distributions: list[list[tuple[int, int]]],
        bin_edges: dict[str, list[float]] | None = None,
        all_features: list[str] | None = None,
        n_parts: int | None = None,
        tree_col: str | None = None,
    ) -> list[dict[str, Any]]:
        """PLANET-style breadth-first growth (the published strategy behind
        MLlib's trees, here with exact distinct-value splits): each level runs
        ONE split search covering every pending node.  The loop hands the
        fit's level finder (``split_finder.level_finder``) each active
        tree's features, partial tree and pending node ids
        (``split_finder.TreeLevel``) and gets back splits keyed by node id,
        one call per level below ``max_depth``.  How a level is searched —
        the fit path, which rows it reads, how they are keyed and routed,
        and what one pass carries to the next — is the finder's business.
        ``bin_edges`` None means ``data`` is the prepared training relation
        (the melt); given, ``data`` is the packed bin-code relation of
        ``n_parts`` partitions.

        Grows ``len(tree_features)`` trees level-synchronously, tree t
        scoring ``tree_features[t]`` (``all_features`` is the relation's
        full feature list when a tree scores a subset): on either path one
        pass per level covers the pending nodes of EVERY tree (rows carry
        their tree id in ``tree_col``), so a forest pays one level job per
        level, not one per tree; a single tree is the one-element case.
        ``data`` is read once per level — the caller persists it (or, for a
        forest's sampled bags, makes it re-derivable: seeded sampling of a
        persisted relation draws the same rows every level).

        ``root_distributions[t]`` is tree t's root class distribution,
        ``[(class_idx, count), ...]`` class-ascending, counted by the
        caller: the fit's label job for a single tree, one bag-count job
        for a forest.  Every other distribution costs no job: a node's
        distribution over its children is a free by-product of its split
        scan (the prefix-sum counts at the chosen threshold are exactly the
        left child's per-class counts; total − prefix the right's — the
        same identity the gain math itself uses), so each child's
        distribution is recorded when its parent splits.  A depth-d fit is
        therefore at most d split jobs.  The reference recomputes
        value_counts per node (tree.py:363-372); the results are identical
        because split routing (`f <= thr` / `f > thr`, NULLs to neither
        side) partitions rows the same way the not-null prefix sums count
        them.
        """
        for t, dist in enumerate(root_distributions):
            if not dist:
                raise ValueError(
                    f"tree {t}'s bootstrap sample drew no rows; raise "
                    "sample_fraction"
                )
        n_trees = len(tree_features)
        finder = split_finder.level_finder(
            data,
            len(unique_targets),
            self.criterion,
            bin_edges=bin_edges,
            n_parts=n_parts,
            max_depth=self.max_depth,
            all_feature_names=all_features,
            tree_col=tree_col,
        )
        roots: list[dict[str, Any]] = [
            {"type": "pending", "node_id": 0} for _ in range(n_trees)
        ]
        frontiers: list[dict[int, dict[str, Any]]] = [{0: r} for r in roots]
        # per tree: node_id -> [(class_idx, count), ...] class-ascending,
        # zero-count classes absent (value_counts semantics, reference
        # tree.py:363-372).
        distributions: list[dict[int, list[tuple[int, int]]]] = [
            {0: dist} for dist in root_distributions
        ]
        depth = 0
        while any(frontiers):
            active = [t for t in range(n_trees) if frontiers[t]]
            at_max_depth = self.max_depth is not None and depth >= self.max_depth
            found = {} if at_max_depth else finder(
                {
                    t: split_finder.TreeLevel(
                        tree_features[t], roots[t], list(frontiers[t])
                    )
                    for t in active
                }
            )
            for t in active:
                frontiers[t] = self._grow_frontier(
                    frontiers[t],
                    distributions[t],
                    {b["node_id"]: b for b in found.get(t, [])},
                    unique_targets,
                    at_max_depth,
                )
            depth += 1
        return roots

    def _grow_frontier(
        self,
        frontier: dict[int, dict[str, Any]],
        distributions: dict[int, list[tuple[int, int]]],
        best_by_node: dict[int, dict[str, Any]],
        unique_targets: list[Any],
        at_max_depth: bool,
    ) -> dict[int, dict[str, Any]]:
        """Apply one level's best splits to a tree's frontier in place:
        each pending node becomes a leaf or a split node; returns the next
        level's frontier."""
        next_frontier: dict[int, dict[str, Any]] = {}
        for node_id, placeholder in frontier.items():
            distribution = distributions.pop(node_id)
            majority = unique_targets[self._majority_idx(distribution)]
            best = best_by_node.get(node_id)
            if at_max_depth or best is None or not best["information_gain"] > 0:
                placeholder.clear()
                placeholder.update({"type": "leaf", "value": majority})
                continue
            # A pure child (single surviving class) can never split
            # again (every candidate gain is 0 → leaf with that class,
            # reference tree.py:350,384-385), so it is finalized here
            # and its rows never enter the next level's split job.
            def make_child(child_id: int, counts: list[int]) -> dict[str, Any]:
                pairs = [(i, c) for i, c in enumerate(counts) if c > 0]
                if len(pairs) == 1:
                    return {"type": "leaf", "value": unique_targets[pairs[0][0]]}
                distributions[child_id] = pairs
                return {"type": "pending", "node_id": child_id}

            left = make_child(2 * node_id + 1, best["left_counts"])
            right = make_child(2 * node_id + 2, best["right_counts"])
            placeholder.clear()
            placeholder.update(
                {
                    "type": "node",
                    "feature": best["feature"],
                    "threshold": best["threshold"],
                    "information_gain": best["information_gain"],
                    "criterion_value": best["parent_criterion"],
                    "target_distribution": [c for _, c in distribution],
                    "left": left,
                    "right": right,
                }
            )
            for child in (left, right):
                if child["type"] == "pending":
                    next_frontier[child["node_id"]] = child
        return next_frontier

    # ------------------------------------------------------------- predict

    def transform(
        self,
        df: DataFrame,
        prediction_col: str = "prediction",
        null_policy: str = "drop",
    ) -> DataFrame:
        """Spark-idiomatic batch inference: input DataFrame + one compiled
        CASE projection → input columns plus ``prediction_col``.  No action is
        triggered; the result composes into larger plans.

        :param null_policy:
            ``"drop"``  — rows whose root-to-leaf path hits a NULL split
            feature are removed (bit-parity with reference predict_many,
            tree.py:129-130);
            ``"keep"``  — such rows survive with a NULL prediction;
            ``"strict"`` — raise if any such row exists (the per-row
            ``predict`` analogue, which fails on NULL comparisons).
        """
        if self.tree is None:
            raise RuntimeError("model not fitted: call fit() or load_model() first")
        if self.categorical_mappings:
            df = self.apply_categorical_mappings(df)
        out = df.withColumn(prediction_col, compile_tree(self.tree))
        if null_policy == "drop":
            return out.filter(F.col(prediction_col).isNotNull())
        if null_policy == "keep":
            return out
        if null_policy == "strict":
            n_bad = out.filter(F.col(prediction_col).isNull()).count()
            if n_bad:
                raise ValueError(
                    f"{n_bad} rows hit a NULL split feature; impute nulls or use "
                    "null_policy='drop'/'keep'"
                )
            return out
        raise ValueError(f"unknown null_policy: {null_policy!r}")

    def predict_many(self, data: DataFrame) -> list[Any]:
        """Reference-shaped API (tree.py:117-145): list of predictions in input
        row order.  The plan is select+filter only — no shuffle — so collected
        order equals input order without the reference's row-index + re-sort."""
        rows = self.transform(data, null_policy="drop").select("prediction").collect()
        return [row[0] for row in rows]

    def predict(self, data: Iterable[dict]) -> list[Any]:
        """Pure-driver per-row tree walk (reference tree.py:147-164); useful as
        an oracle against the compiled CASE plan.  Categorical codes are applied
        from the fitted mappings; a NULL/None split feature raises, like the
        reference's None-comparison TypeError."""

        def walk(node: dict[str, Any], sample: dict) -> Any:
            if node["type"] == "leaf":
                return node["value"]
            value = sample[node["feature"]]
            if value is None:
                raise TypeError(
                    f"NULL value for split feature {node['feature']!r} in predict(); "
                    "use transform(null_policy=...) for explicit NULL routing"
                )
            if self.categorical_mappings and node["feature"] in self.categorical_mappings:
                value = self.categorical_mappings[node["feature"]][value]
            return walk(node["left"] if value <= node["threshold"] else node["right"], sample)

        return [walk(self.tree, sample) for sample in data]

    def feature_importances(self) -> dict[str, float]:
        """Gain-based feature importances (the sklearn/MLlib convention):
        each internal node contributes ``information_gain × node_sample_count``
        to its split feature; totals are normalized to sum to 1.  Pure
        driver-side walk of the node dicts — no Spark job.  Extension beyond
        the reference (which exposes no importances); useful for the feature
        pruning step a wide-table pipeline runs between fits."""
        if self.tree is None:
            raise RuntimeError("model not fitted: call fit() or load_model() first")
        totals: dict[str, float] = {}

        def walk(node: dict[str, Any]) -> None:
            if node["type"] != "node":
                return
            weight = float(sum(node["target_distribution"]))
            totals[node["feature"]] = totals.get(node["feature"], 0.0) + (
                node["information_gain"] * weight
            )
            walk(node["left"])
            walk(node["right"])

        walk(self.tree)
        norm = sum(totals.values())
        if norm <= 0:
            return {f: 0.0 for f in totals}
        return {f: v / norm for f, v in totals.items()}

    def get_majority_class(self, df: DataFrame, target_name: str) -> Any:
        """Majority class of a frame (reference tree.py:166-178), with the
        deterministic (count desc, value asc) tie-break."""
        rows = df.groupBy(target_name).count().orderBy(F.desc("count"), F.asc(target_name)).limit(1).collect()
        return rows[0][0]
