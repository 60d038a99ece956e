"""DecisionTreeClassifier — exact-split decision tree training as Spark dataflow.

Same capabilities as the reference classifier
(``/root/reference/efficient_trees/tree.py:16-385``) re-architected for Spark:

* **Exact split search** over every distinct feature value (not MLlib's
  quantile bins — SURVEY.md §7.3), or opt-in quantile-binned candidates
  (``max_bins``).
* **Level-wise growth, two fit paths.**  Every pending node of a tree level
  is scored in ONE pass (PLANET-style).  The packed level loop serves every
  binned fit and every exact fit whose distinct values fit uint16 code
  space: the features are encoded once into a persisted bin-code relation
  (1 or 2 bytes/cell) and each level is one Arrow histogram pass over it
  with the tree routing run in numpy (``operators/histogram.py``).  The
  exact melt serves exact fits past code space and exact forests: each
  level unpivots the persisted training relation, routed by a compiled
  node-id column, into one declarative gains plan
  (``operators/split_finder.py``).  Both paths share the gain expressions
  and tie-breaks, so they grow identical trees.
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
from concurrent.futures import ThreadPoolExecutor
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


def _fan_out_small_input(prepared: DataFrame) -> DataFrame:
    """The packed path's passes (edge stats or distinct values, the fused
    pack + encode, one Arrow histogram per tree level) parallelize over
    THIS relation's partition count.  A local benchmark table is a handful
    of 128 MB parquet splits — 4 partitions would idle 28 of 32 cores in
    EVERY pass — so fan out to the session's parallelism once, before
    anything is persisted, paying one bounded shuffle.  On a real cluster
    the source has far more splits than cores and this is a no-op.  The
    order-statistic edge placement is partitioning-sensitive (within the
    documented rank error), so the single tree and the forest both fan out
    here, before their edge pass.  Melt fits keep the source partitioning:
    their map side is pure codegen and the repartition was A/B-measured
    slower (see the note in ``_prepare``).  Partition count via the ~1 ms
    file-size estimate when the lineage is a plain scan pipeline (r11 — the
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
        # pre-fan-out lineage: no Exchange below, so .rdd is planning only
        n = prepared.rdd.getNumPartitions()
    if n < sc.defaultParallelism:
        return prepared.repartition(sc.defaultParallelism), sc.defaultParallelism
    return prepared, n


def _packed_partition_target(
    n_parts: int, n_rows: int, width: int, parallelism: int
) -> int:
    """Partition count the persisted uint8 code cache SHOULD have: enough
    partitions that every core gets ≥ 4 waves (the pack+encode scan runs at
    this granularity too, and a 2-wave schedule was measured ~15% slower on
    the ×30 rung from straggler tail alone), few enough that each holds
    ~``SPARK_GRAFT_PACKED_PARTITION_BYTES`` (default 64 MB) of codes.
    Returns ``n_parts`` unchanged when no reduction is warranted."""
    import math
    import os

    target_bytes = int(
        os.environ.get("SPARK_GRAFT_PACKED_PARTITION_BYTES", str(64 << 20))
    )
    # +8: per-row binary header + the int target column riding the blob.
    want = max(
        4 * parallelism, math.ceil(max(1, n_rows) * (width + 8) / target_bytes)
    )
    return want if n_parts > want else n_parts


def _coalesce_for_pack(
    prepared: DataFrame,
    n_rows: int | None,
    width: int,
    bytes_per_cell: int = 1,
    n_parts: int | None = None,
) -> tuple[DataFrame, int | None]:
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
    counts ride the edge-stats / distinct merges (``with_counts``), so
    sizing costs no extra job; partition-count-only reduction changes no
    per-row value — trees are bit-identical (histograms are exact integer
    sums, edges are already placed).

    ``n_parts`` is the caller's known partition count (from the fan-out,
    which pins it) — passed so the probe never runs ``.rdd`` on an
    Exchange-bearing plan (under AQE that executes the shuffle stage: a
    full extra source pass).  Returns ``(df, n_parts)`` with the output's
    count, threaded on to the per-level histogram budget."""
    if not n_rows:
        return prepared, None
    sc = prepared.sparkSession.sparkContext
    if n_parts is None:
        n_parts = prepared.rdd.getNumPartitions()
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
    n_rows_est: int | None = None,
    n_parts: int | None = None,
) -> tuple[DataFrame, str, int | None]:
    """Pass 2 of the two-scan flow, shared by the single-tree fit and the
    forest: the fused pack + encode of ``prepared`` into the packed
    bin-code relation — uint8 (1 byte/cell) when every feature fits 253
    edges, uint16 (2 bytes/cell, <= 65 533 edges) past that.  Routing and
    histograms then run on codes, order-isomorphic to raw values, so trees
    are bit-identical.  Returns ``(codes, code_dtype, n_parts)``.  Edges
    always fit uint16: binned edges number at most ``max_bins`` (capped at
    65 533 by the constructor) and the exact distinct pass raises past it.

    With ``n_rows_est`` the input is first right-sized for the cache
    (:func:`_coalesce_for_pack`); the forest passes none, since its bags
    sample the code relation and a different partitioning would draw
    different rows."""
    from efficient_trees_spark.operators import histogram

    max_card = max((len(e) for e in bin_edges.values()), default=0)
    code_dtype = "u1" if max_card <= histogram._MAX_PACKED_EDGES else "u2"
    if n_rows_est is not None:
        prepared, n_parts = _coalesce_for_pack(
            prepared,
            n_rows_est,
            len(feature_names),
            bytes_per_cell=1 if code_dtype == "u1" else 2,
            n_parts=n_parts,
        )
    codes = histogram.pack_encode_features(
        prepared, feature_names, bin_edges, _TARGET_IDX, dtype=dtype,
        code_dtype=code_dtype,
    )
    return codes, code_dtype, n_parts


def _two_scan_binned_edges(
    prepared: DataFrame,
    feature_names: list[str],
    n_bins: int,
    stats: int,
    dtype: str,
    n_parts: int | None = None,
) -> tuple[dict[str, list[float]], int]:
    """Pass 1 of the binned two-scan flow, shared by the single-tree fit
    and the forest: per-partition order statistics over the COLUMNAR
    relation (nothing persisted, rows-independent output) merged into
    quantile edges + the per-feature row counts.  Returns
    ``(bin_edges, n_rows_est)``.

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
    if n_parts is None:
        # Budget decision only — both branches are bit-identical; but avoid
        # probing .rdd on an Exchange-bearing plan (AQE executes the stage).
        n_parts = prepared.rdd.getNumPartitions()
    # x1.25: when no repartition fired, n_parts is the ~1 ms FilePartition
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
            stats_df, feature_names, n_bins, with_counts=True,
            stats_per_partition=stats,
        )
    else:
        if hasattr(stats_df, "toArrow"):
            # partitions x features rows of double-lists: Arrow IPC
            # transport + zero-copy numpy views instead of py4j row
            # pickling (tuple-indexed either way).
            stat_rows = arrow_stat_rows(stats_df.toArrow())
        else:  # pragma: no cover - pre-Arrow-collect Spark
            stat_rows = stats_df.collect()
        bin_edges, feat_counts = merge_edge_stats_rows(
            stat_rows, feature_names, n_bins, with_counts=True,
            stats_per_partition=stats,
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
        inference is unchanged.
    :param bin_rel_error: relative rank error of the per-partition order
        statistics used to place bin edges; only the edge PLACEMENT is
        approximate, never the gains at the chosen edges.
    :param hist_method: which fit path computes the split statistics.
        ``"arrow"`` is the packed level loop: Arrow-batched histograms over
        the persisted bin-code relation, ~10x faster than the melt at the
        reference's 190-feature width because it skips the rows x
        n_features Expand.  Binned fits always take it; an exact fit takes
        it with every distinct value as a candidate edge and raises with
        guidance when a feature has more than 65 533 distinct values.
        ``"expand"`` is the exact melt (long-form unpivot + Catalyst hash
        aggregate); it takes no ``max_bins``.  ``"auto"`` = arrow for binned
        fits and for WIDE (>= 64 feature) exact fits, falling back to the
        melt with a warning when a feature overflows code space; expand
        otherwise.  Both paths grow bit-identical trees.
    """

    def __init__(
        self,
        max_depth: int | None = None,
        categorical_columns: list[str] | None = None,
        criterion: Criterion = Criterion.ENTROPY,
        streaming: bool = False,
        max_bins: int | None = None,
        bin_rel_error: float = 1e-3,
        hist_method: str = "auto",
    ):
        from efficient_trees_spark.operators.histogram import _MAX_PACKED16_EDGES

        if hist_method not in ("auto", "expand", "arrow"):
            raise ValueError(f"unknown hist_method: {hist_method!r}")
        if max_bins is not None and max_bins > _MAX_PACKED16_EDGES:
            raise ValueError(
                f"max_bins must be <= {_MAX_PACKED16_EDGES} (uint16 code "
                f"space), got {max_bins}"
            )
        if max_bins is not None and hist_method == "expand":
            raise ValueError(
                "hist_method='expand' is the exact melt and takes no "
                "max_bins; binned fits use hist_method='arrow' or 'auto'"
            )
        self.max_depth = max_depth
        self.categorical_columns = categorical_columns
        self.criterion = Criterion(criterion)
        self.max_bins = max_bins
        self.bin_rel_error = bin_rel_error
        self.hist_method = hist_method
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

    def fit(
        self,
        data: DataFrame,
        target_name: str,
        shrink_features: bool = True,
    ) -> None:
        """Train the tree level-wise (PLANET-style): one split pass per tree
        LEVEL scores every pending node of the level.  Reference lifecycle:
        tree.py:79-115.

        :param shrink_features:
            ``True`` (default) replicates the reference's ``shrink_dtype``
            pass (tree.py:90): float features are rounded to float32 before
            split search, so thresholds are f32 values.  This is NOT
            semantics-neutral — inference compares the user's unrounded
            float64 data against the f32 threshold, so a row sitting exactly
            on a split value can route differently than under f64 training
            (e.g. ``1.9 <= float32(1.9)=1.8999999762`` is false).  The
            reference's golden iris outputs depend on this behavior; bit
            parity requires it.  ``False`` trains in full float64.
            Divergence note: polars shrinks Float64→Float32 only when the
            column's min/max fit in f32 range (±3.4e38); this engine shrinks
            unconditionally to avoid an extra min/max scan.  Integer features
            are exact either way.
        """
        prepared, feature_names, unique_targets = self._prepare(
            data, target_name, shrink_features
        )

        hist_method = self.hist_method
        exact_auto_fallback = False
        if hist_method == "auto":
            if self.max_bins is not None:
                hist_method = "arrow"
            elif len(feature_names) >= 64:
                # Wide exact fit: attempt the packed exact path (candidates
                # = every distinct value); fall back to the melt with a
                # warning if any feature exceeds code space.
                hist_method = "arrow"
                exact_auto_fallback = True
            else:
                hist_method = "expand"
        if hist_method == "expand" and len(feature_names) >= 64:
            # The melt's Expand multiplies rows by width (75 s at just
            # 60k x 190 — histogram.py module notes); never let a wide exact
            # fit take it silently.
            warnings.warn(
                f"exact-mode melt split search over {len(feature_names)} "
                "features Expands every row per feature; prefer "
                "hist_method='arrow' (packed exact, needs <= 65533 distinct "
                "values per feature) or max_bins for quantile candidates",
                stacklevel=2,
            )

        known_parts: int | None = None
        bin_edges: dict[str, list[float]] | None = None
        code_dtype = "u1"
        if hist_method == "arrow":
            from efficient_trees_spark.operators.histogram import (
                _MAX_PACKED16_EDGES,
                distinct_edges_packed,
            )

            prepared, known_parts = _fan_out_small_input(prepared)
            # Kept for the auto-exact fallback: the melt path must see the
            # double-typed relation, not the f32-narrowed one below.
            prepared_base = prepared
            if shrink_features:
                # Shrunk features are f32-representable by construction, so
                # the edge and encode passes can read float32: halves the
                # Arrow batch volume each transfers.  Lossless —
                # searchsorted compares f32 upcast to the float64 edges,
                # and the emitted candidate values are the edges themselves.
                prepared = prepared.selectExpr(
                    *[
                        f"CAST(`{f.replace('`', '``')}` AS FLOAT) AS "
                        f"`{f.replace('`', '``')}`"
                        for f in feature_names
                    ],
                    _TARGET_IDX,
                )
            dtype = "f4" if shrink_features else "f8"
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
                    prepared, feature_names, n_bins, stats, dtype,
                    n_parts=known_parts,
                )
            else:
                try:
                    bin_edges, n_rows_est = distinct_edges_packed(
                        prepared,
                        feature_names,
                        max_distinct=_MAX_PACKED16_EDGES,
                        dtype=dtype,
                        with_counts=True,
                    )
                except ValueError:
                    if not exact_auto_fallback:
                        raise
                    warnings.warn(
                        "auto exact fit: a feature exceeds uint16 code space "
                        "(> 65533 distinct values) — falling back to the "
                        "melt split search; consider max_bins for the "
                        "bounded scale path",
                        stacklevel=2,
                    )
                    prepared = prepared_base
            if bin_edges is not None:
                self.bin_edges_ = bin_edges
                prepared, code_dtype, known_parts = _encode_codes(
                    prepared, feature_names, bin_edges, dtype,
                    n_rows_est=n_rows_est, n_parts=known_parts,
                )

        # The only relation a single-tree fit persists: the code relation
        # (packed loop) or the prepared training relation (melt), read once
        # per level.
        prepared = prepared.persist()
        try:
            [self.tree] = self._build_tree_levelwise(
                prepared,
                [feature_names],
                unique_targets,
                bin_edges=bin_edges,
                packed_code_dtype=code_dtype,
                packed_n_parts=known_parts,
            )
        finally:
            prepared.unpersist()

    def _prepare(
        self, data: DataFrame, target_name: str, shrink_features: bool
    ) -> tuple[DataFrame, list[str], list[Any]]:
        """Shared fit preamble: categorical encoding, class-label discovery,
        and the normalized training relation — features cast to double (a
        common unpivot value type), target encoded to its class index (cheap
        int comparisons in the conditional counts).  With shrink_features,
        fractional features round-trip through float32 first (reference
        shrink_dtype, tree.py:90) so every candidate threshold downstream is
        an f32 value; integer/decimal features go straight to double (exact,
        like polars' lossless int shrink).  Also used once per ensemble by
        RandomForestClassifier."""
        feature_names = [c for c in data.columns if c != target_name]

        if self.categorical_columns:
            self._fit_categorical_mappings(data, target_name)
            data = self.apply_categorical_mappings(data)

        # Distinct class labels, sorted ascending for deterministic indexing
        # (reference keeps engine order, tree.py:110-113).
        unique_targets = [
            row[0]
            for row in data.select(target_name).distinct().orderBy(target_name).collect()
        ]
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
            inner = f"CAST({q} AS FLOAT)" if shrink_features and name in fractional else q
            return f"CAST({inner} AS DOUBLE) AS {q}"

        # A NULL label is a class of its own (distinct() surfaces it; the
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
        return prepared, feature_names, unique_targets

    # -------------------------------------------------- quantile binning

    def _binned_edge_params(self) -> tuple[int, int]:
        """(n_bins, stats_per_partition) for quantile edge placement
        (:func:`_two_scan_binned_edges`, shared by the tree and the forest).

        Edges sit at ranks k/max_bins of the merged per-partition order
        statistics plus the TRUE max (a top edge below the max would leave
        high values unmappable); NaN and NULL are excluded (NaN keeps its
        own candidate slot sorting greatest).  Rank error of the edge
        PLACEMENT is <= ``bin_rel_error``; the gain math is never
        approximate — binning maps every value to the smallest edge >= it,
        which preserves the ``value <= edge`` row count for every edge.
        (Two JVM-side alternatives were A/B'd at the reference's
        190-feature width and lost: ``df.stat.approxQuantile`` 29 s, one
        ``percentile_approx`` ObjectHashAggregate 19 s, the order-statistic
        pass ~3 s at 600k rows.)"""
        n_bins = int(self.max_bins)
        if n_bins < 2:
            raise ValueError(f"max_bins must be >= 2, got {self.max_bins}")
        stats = max(2 * n_bins, min(2048, int(round(1.0 / self.bin_rel_error))))
        return n_bins, stats

    @staticmethod
    def _majority_idx(distribution: list[tuple[int, int]]) -> int:
        """Majority class with (count desc, class asc) tie-break; the
        reference's filter(len == len.max()) + row 0 (tree.py:175-178) is
        engine-order-dependent on ties."""
        return max(distribution, key=lambda pair: (pair[1], -pair[0]))[0]

    # ------------------------------------------------ level-wise training

    @staticmethod
    def _routing_expr(node: dict[str, Any]):
        """Compile the partial tree into a node-id routing Column: rows land
        on their pending node's id, NULL under finished leaves or NULL split
        features (the reference's drop-from-both-children semantics)."""
        if node["type"] == "pending":
            return F.lit(node["node_id"])
        if node["type"] == "leaf":
            return F.lit(None).cast("int")
        feature, threshold = node["feature"], node["threshold"]
        return (
            F.when(
                F.col(feature) <= threshold,
                DecisionTreeClassifier._routing_expr(node["left"]),
            )
            .when(
                F.col(feature) > threshold,
                DecisionTreeClassifier._routing_expr(node["right"]),
            )
            .otherwise(F.lit(None).cast("int"))
        )

    @staticmethod
    def _compile_routing_splits(
        node: dict[str, Any],
        feature_names: list[str],
        bin_edges: dict[str, list[float]],
        node_id: int = 0,
        out: list | None = None,
    ) -> list[tuple]:
        """Flatten the partial tree into the parent-before-child split list
        ``histogram.route_codes`` consumes: ``(node_id, feature_pos,
        code_threshold, left_id, right_id)`` per internal node, -1 for
        finalized (leaf) children.  Thresholds (always bin edges) translate
        to their edge index (``histogram.edge_code``, which raises on a
        threshold that is not an edge); code comparisons are bit-equivalent
        to the raw routing expression by the encode's order isomorphism
        (``histogram.pack_encode_features``)."""
        from efficient_trees_spark.operators.histogram import edge_code

        if out is None:
            out = []
        if node["type"] != "node":
            return out
        feature = node["feature"]
        code = edge_code(bin_edges[feature], node["threshold"])
        left, right = node["left"], node["right"]
        lid, rid = 2 * node_id + 1, 2 * node_id + 2
        out.append(
            (
                node_id,
                feature_names.index(feature),
                code,
                lid if left["type"] != "leaf" else -1,
                rid if right["type"] != "leaf" else -1,
            )
        )
        DecisionTreeClassifier._compile_routing_splits(
            left, feature_names, bin_edges, lid, out
        )
        DecisionTreeClassifier._compile_routing_splits(
            right, feature_names, bin_edges, rid, out
        )
        return out

    def _build_tree_levelwise(
        self,
        data: DataFrame,
        tree_features: list[list[str]],
        unique_targets: list[Any],
        bin_edges: dict[str, list[float]] | None = None,
        packed_all_features: list[str] | None = None,
        packed_code_dtype: str = "u1",
        packed_n_parts: int | None = None,
        tree_col: str | None = None,
    ) -> list[dict[str, Any]]:
        """PLANET-style breadth-first growth (the published strategy behind
        MLlib's trees, here with exact distinct-value splits): each level runs
        ONE split-search job covering every pending node, keyed by a routing
        column compiled from the partial tree.

        ``bin_edges`` selects the path: given, ``data`` is the packed
        bin-code relation and each level is one histogram pass over it
        (``split_finder.find_best_splits_packed``); None, ``data`` is the
        prepared training relation and each level is one exact melt
        (``split_finder.find_best_splits_per_node``).

        Grows ``len(tree_features)`` trees level-synchronously, tree t
        scoring ``tree_features[t]``: on the packed path one histogram pass
        per level covers the pending nodes of EVERY tree (rows carry their
        tree id in ``tree_col``), so a forest pays one Spark stage per
        level, not one per tree; a single tree is the one-element case.
        The melt path grows one tree.  ``data`` is read once per level —
        the caller persists it (or, for a forest's sampled bags, makes it
        re-derivable: seeded sampling of a persisted relation draws the
        same rows every level).

        Class distributions cost no extra jobs beyond the root's: a node's
        distribution over its children is a free by-product of its split scan
        (the prefix-sum counts at the chosen threshold are exactly the left
        child's per-class counts; total − prefix the right's — the same
        identity the gain math itself uses), so each child's distribution is
        recorded when its parent splits.  A depth-d fit is therefore d split
        jobs plus one root-distribution job that runs concurrently with the
        first of them.  The reference recomputes value_counts per node
        (tree.py:363-372); the results are identical because split routing
        (`f <= thr` / `f > thr`, NULLs to neither side) partitions rows the
        same way the not-null prefix sums count them.
        """
        node_col = "__node_id"
        n_trees = len(tree_features)
        packed = bin_edges is not None
        if n_trees > 1 and not (packed and tree_col):
            raise ValueError(
                "growing several trees in one pass needs the packed code "
                "relation and a tree-id column"
            )
        all_names = packed_all_features or tree_features[0]
        roots: list[dict[str, Any]] = [
            {"type": "pending", "node_id": 0} for _ in range(n_trees)
        ]
        frontiers: list[dict[int, dict[str, Any]]] = [{0: r} for r in roots]
        # per tree: node_id -> [(class_idx, count), ...] class-ascending,
        # zero-count classes absent (value_counts semantics, reference
        # tree.py:363-372).
        distributions: list[dict[int, list[tuple[int, int]]]] = [
            {} for _ in range(n_trees)
        ]
        # Per-tree counts relations for the NEXT level, derived driver-side
        # from the previous level's PAIR-cube pass (r12): when set, this
        # level's splits are scored with NO Spark job at all.
        carried: dict[int, Any] | None = None
        depth = 0
        while any(frontiers):
            active = [t for t in range(n_trees) if frontiers[t]]
            at_max_depth = self.max_depth is not None and depth >= self.max_depth
            need_root_dist = depth == 0
            best_by_node: list[dict[int, dict[str, Any]]] = [
                {} for _ in range(n_trees)
            ]
            if packed and not at_max_depth:
                if carried is not None:
                    for t in active:
                        best_by_node[t] = {
                            b["node_id"]: b
                            for b in split_finder.best_splits_from_counts_pdf(
                                carried[t],
                                data.sparkSession,
                                len(unique_targets),
                                tree_features[t],
                                node_col,
                                self.criterion,
                            )
                        }
                    carried = None
                else:
                    # Routing runs vectorized inside the histogram pass
                    # (histogram.route_codes).  Look one level ahead
                    # (pair-cube pass) only when the NEXT level will need
                    # splits too; the budget gate inside
                    # find_best_splits_packed decides whether it fires.
                    level_data = (
                        data
                        if len(active) == n_trees
                        else data.filter(F.col(tree_col).isin(active))
                    )
                    found, carried = split_finder.find_best_splits_packed(
                        level_data,
                        {
                            t: split_finder.TreeLevel(
                                tree_features[t],
                                self._compile_routing_splits(
                                    roots[t], all_names, bin_edges
                                ),
                                list(frontiers[t]),
                            )
                            for t in active
                        },
                        len(unique_targets),
                        self.criterion,
                        bin_edges,
                        node_col=node_col,
                        all_feature_names=all_names,
                        tree_col=tree_col,
                        want_distributions=need_root_dist,
                        code_dtype=packed_code_dtype,
                        n_input_parts=packed_n_parts,
                        lookahead=(
                            self.max_depth is None or depth + 1 < self.max_depth
                        ),
                    )
                    for t, (best, dists) in found.items():
                        best_by_node[t] = {b["node_id"]: b for b in best}
                        if need_root_dist and dists and 0 in dists:
                            # the root distribution rode the level-0
                            # histogram: no second job racing the first to
                            # materialize the code cache
                            distributions[t][0] = dists[0]
                    if need_root_dist and any(
                        0 not in distributions[t] for t in active
                    ):
                        for t, dist in enumerate(
                            self._root_distributions(data, tree_col, n_trees)
                        ):
                            distributions[t][0] = dist
            elif need_root_dist or not at_max_depth:
                # Melt path (or a depth-0 packed fit): the (cheap)
                # root-distribution job and the (expensive) split job are
                # independent — submit both and let the scheduler overlap
                # them.
                with ThreadPoolExecutor(max_workers=2) as pool:
                    dist_future = (
                        pool.submit(
                            self._root_distributions, data, tree_col, n_trees
                        )
                        if need_root_dist
                        else None
                    )
                    if not at_max_depth:
                        with_node = data.withColumn(
                            node_col, self._routing_expr(roots[0])
                        ).filter(F.col(node_col).isNotNull())
                        best_by_node[0] = {
                            b["node_id"]: b
                            for b in split_finder.find_best_splits_per_node(
                                with_node,
                                tree_features[0],
                                len(unique_targets),
                                self.criterion,
                                node_col,
                            )
                        }
                    if dist_future is not None:
                        for t, dist in enumerate(dist_future.result()):
                            distributions[t][0] = dist

            for t in active:
                frontiers[t] = self._grow_frontier(
                    frontiers[t],
                    distributions[t],
                    best_by_node[t],
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

    @staticmethod
    def _root_distributions(
        data: DataFrame, tree_col: str | None, n_trees: int
    ) -> list[list[tuple[int, int]]]:
        """Each tree's root class distribution, ``[(class_idx, count),
        ...]`` class-ascending, in one job."""
        keys = ([tree_col] if tree_col else []) + [_TARGET_IDX]
        rows = data.groupBy(*keys).count().orderBy(*keys).collect()
        out: list[list[tuple[int, int]]] = [[] for _ in range(n_trees)]
        for row in rows:
            out[row[tree_col] if tree_col else 0].append(
                (row[_TARGET_IDX], row["count"])
            )
        return out

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
