"""RandomForestClassifier — bagged ensemble of the exact-split trees.

Extension beyond the reference (which ships a single tree —
``/root/reference/efficient_trees/tree.py:16``), composed entirely from this
engine's existing dataflow pieces:

* **One shared prepared relation.** The fit preamble (categorical encoding,
  label discovery, double/f32 normalization, optional quantile binning) runs
  ONCE and is persisted; every tree trains against the same cached relation —
  not T repetitions of the scan.
* **Bootstrap via ``sample(withReplacement=True)``** per tree (seeded, so the
  forest is deterministic given ``seed``), plus per-tree feature subsampling
  (driver-side RNG over column names — zero data movement).
* **Inference is one projection.** Each tree compiles to a nested CASE column
  (``plans/case_compiler.py``); the majority vote is an ``array_max`` over
  per-class vote-count structs — pure Catalyst expressions, zero shuffles,
  zero UDFs, same tie-break as the single tree (count desc, class asc).

At cluster scale the scan and preparation are amortized across the forest,
and ``max_bins`` bounds each search's shuffle volume.  Binned forests share
ONE packed bin-code relation (``operators/histogram.py``), built by the same
two-scan flow as the single-tree fit (edge sketch pass + fused pack→encode —
2 source scans total for ANY n_trees, no raw float cache), and grow their
trees LEVEL-SYNCHRONOUSLY, the PLANET / MLlib ``RandomForest`` shape: each
tree's bootstrap samples the coded cache, the samples are tagged with their
tree id and unioned, and every tree level is ONE histogram pass over that
union (``tree._build_tree_levelwise``) — each row routed by its own tree's
splits and histogramming only its tree's feature subset.  A forest level
therefore costs one Spark stage whatever n_trees is; the per-row work still
grows with the total bootstrap rows.  Exact forests grow one tree at a time.
"""

from __future__ import annotations

import functools
import json
import pickle
import random
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from efficient_trees_spark.enums import Criterion
from efficient_trees_spark.plans.case_compiler import compile_tree
from efficient_trees_spark.tree import DecisionTreeClassifier

# Each bootstrap row's tree id in the forest's level passes.
TREE_COL = "__tree_id"


class RandomForestClassifier:
    """Bagged forest of :class:`DecisionTreeClassifier` trees.

    :param n_trees: number of trees.
    :param max_depth: depth cap per tree.
    :param feature_fraction: fraction of features each tree sees (ceil'd to
        at least one); 1.0 = all features.
    :param sample_fraction: bootstrap sample size as a fraction of the input
        (with replacement, so 1.0 is the classic bootstrap).
    :param max_bins: per-tree quantile binning (see DecisionTreeClassifier);
        binning runs once on the shared relation, before sampling.
    :param seed: makes sampling and feature subsets deterministic.
    """

    def __init__(
        self,
        n_trees: int = 10,
        max_depth: int | None = 5,
        criterion: Criterion = Criterion.ENTROPY,
        feature_fraction: float = 1.0,
        sample_fraction: float = 1.0,
        max_bins: int | None = None,
        categorical_columns: list[str] | None = None,
        seed: int = 42,
    ):
        if n_trees < 1:
            raise ValueError(f"n_trees must be >= 1, got {n_trees}")
        if not 0.0 < feature_fraction <= 1.0:
            raise ValueError(f"feature_fraction must be in (0, 1], got {feature_fraction}")
        self.n_trees = n_trees
        self.max_depth = max_depth
        self.criterion = Criterion(criterion)
        self.feature_fraction = feature_fraction
        self.sample_fraction = sample_fraction
        self.max_bins = max_bins
        self.categorical_columns = categorical_columns
        self.seed = seed
        self.trees: list[dict[str, Any]] | None = None
        # the shared quantile edges of a binned fit (None when exact)
        self.bin_edges_: dict[str, list[float]] | None = None
        self.categorical_mappings: dict[str, dict[Any, int]] | None = None
        self._unique_targets: list[Any] | None = None

    # ------------------------------------------------------------------ fit

    def fit(self, data: DataFrame, target_name: str, shrink_features: bool = True) -> None:
        proto = DecisionTreeClassifier(
            max_depth=self.max_depth,
            categorical_columns=self.categorical_columns,
            criterion=self.criterion,
            max_bins=self.max_bins,
        )
        prepared, feature_names, unique_targets = proto._prepare(
            data, target_name, shrink_features
        )
        bin_edges: dict[str, list[float]] | None = None
        packed_code_dtype = "u1"
        if self.max_bins is not None:
            from efficient_trees_spark.tree import (
                _encode_codes,
                _fan_out_small_input,
                _two_scan_binned_edges,
            )

            # Same fan-out as the single-tree binned fit (see
            # tree._fan_out_small_input): every Arrow pass below — and each
            # level's histogram pass — parallelizes over this relation's
            # partitions.  No-op when the source already has >= cores splits.
            prepared, ens_n_parts = _fan_out_small_input(prepared)
            # Same TWO-SCAN flow as the single tree (tree.py fit), amortized
            # across the forest: pass 1 sketches edges off the columnar
            # relation (nothing persisted), pass 2 fuse-packs straight to
            # bin codes — and that ONE code relation is shared by every
            # tree's bootstrap sample.  A forest therefore scans the source
            # exactly TWICE regardless of n_trees, with NO raw float cache.
            # The mapInArrow pass is a 1:1 row map preserving the source
            # partitioning, so seeded `sample` picks the same logical rows
            # off the coded relation as it would off the snapped one GIVEN
            # identical edges (the pinned forest oracle's provenance is
            # noted in workloads/tree_queries.py).
            dtype = "f4" if shrink_features else "f8"
            n_bins, stats = proto._binned_edge_params()
            bin_edges, _ = _two_scan_binned_edges(
                prepared, feature_names, n_bins, stats, dtype,
                n_parts=ens_n_parts,
            )
            prepared, packed_code_dtype, _ = _encode_codes(
                prepared, feature_names, bin_edges, dtype, n_parts=ens_n_parts
            )
        self.bin_edges_ = bin_edges
        self.categorical_mappings = proto.categorical_mappings
        self._unique_targets = unique_targets

        rng = random.Random(self.seed)
        n_sub = max(1, round(self.feature_fraction * len(feature_names)))
        subsets = [
            sorted(rng.sample(feature_names, n_sub))
            if n_sub < len(feature_names)
            else feature_names
            for _ in range(self.n_trees)
        ]
        grower = DecisionTreeClassifier(
            max_depth=self.max_depth, criterion=self.criterion
        )

        prepared = prepared.persist()
        try:
            if bin_edges is not None:
                # Materialize the code cache in its own job, one task per
                # partition (a write to Spark's no-op sink: one stage, where
                # count() runs three jobs).  Left to the first level pass,
                # the coalesced union's tasks each read every tree's sample
                # of the same partitions in the same order, so they queue on
                # one another to compute each cache block (4 trees, 300k
                # rows, 4 cores: the pass took 2.0 s with the encode in it,
                # 1.1 s after a ~0.4 s materializing job).
                prepared.write.format("noop").mode("overwrite").save()
            bags = [
                prepared.sample(
                    withReplacement=True,
                    fraction=self.sample_fraction,
                    seed=self.seed + t,
                )
                for t in range(self.n_trees)
            ]
            if bin_edges is not None:
                # Level-synchronous growth: the bags are tagged with their
                # tree id, unioned, and only then coalesced back to the
                # code relation's partition count, so sampling sees the
                # persisted partitions and every level is ONE stage of P
                # tasks over all trees.  The bags are not persisted: a
                # level re-samples the persisted codes, and the sampler is
                # seeded per partition, so each level draws the same rows.
                forest_rows = functools.reduce(
                    DataFrame.union,
                    [bag.withColumn(TREE_COL, F.lit(t)) for t, bag in enumerate(bags)],
                ).coalesce(ens_n_parts)
                self.trees = grower._build_tree_levelwise(
                    forest_rows,
                    subsets,
                    unique_targets,
                    bin_edges=bin_edges,
                    packed_all_features=feature_names,
                    packed_code_dtype=packed_code_dtype,
                    packed_n_parts=ens_n_parts,
                    tree_col=TREE_COL,
                )
            else:
                self.trees = []
                for bag, subset in zip(bags, subsets):
                    bag = bag.persist()
                    try:
                        self.trees += grower._build_tree_levelwise(
                            bag, [subset], unique_targets
                        )
                    finally:
                        bag.unpersist()
        finally:
            prepared.unpersist()

    # ------------------------------------------------------------- predict

    def _vote_expr(self) -> Column:
        """Majority vote over the compiled per-tree CASE columns as one
        expression: per class, count the trees voting for it; take the
        (count desc, class asc) argmax via a struct array_max.  A tree whose
        root-to-leaf path hits a NULL feature abstains (its CASE yields NULL,
        which equals no class); a row every tree abstains on predicts NULL,
        mirroring the single tree's null routing."""
        votes = F.array(*[compile_tree(tree) for tree in self.trees])

        # NB: the filter lambda must take exactly one parameter — PySpark
        # binds a second parameter to the element INDEX, not a closure slot.
        def vote_count(label):
            lit = F.lit(label)
            return F.size(F.filter(votes, lambda v: v == lit))

        per_class = [
            F.struct(
                vote_count(label).alias("n"),
                F.lit(-idx).alias("neg_idx"),
                F.lit(label).alias("label"),
            )
            for idx, label in enumerate(self._unique_targets)
        ]
        best = F.array_max(F.array(*per_class))
        any_vote = F.exists(votes, lambda v: v.isNotNull())
        return F.when(any_vote, best.getField("label"))

    def transform(
        self, df: DataFrame, prediction_col: str = "prediction", null_policy: str = "keep"
    ) -> DataFrame:
        if self.trees is None:
            raise RuntimeError("model not fitted: call fit() or load_model() first")
        if self.categorical_mappings:
            helper = DecisionTreeClassifier()
            helper.categorical_mappings = self.categorical_mappings
            df = helper.apply_categorical_mappings(df)
        out = df.withColumn(prediction_col, self._vote_expr())
        if null_policy == "drop":
            return out.filter(F.col(prediction_col).isNotNull())
        if null_policy == "keep":
            return out
        raise ValueError(f"unknown null_policy: {null_policy!r}")

    def predict_many(self, data: DataFrame) -> list[Any]:
        rows = self.transform(data, null_policy="drop").select("prediction").collect()
        return [row[0] for row in rows]

    def feature_importances(self) -> dict[str, float]:
        """Forest importances: mean of the per-tree gain-weighted importances
        (each tree normalized first, the sklearn convention, so a
        deep-splitting tree doesn't dominate the average), renormalized to
        sum to 1.  Driver-side only — no Spark job."""
        if self.trees is None:
            raise RuntimeError("model not fitted: call fit() or load_model() first")
        helper = DecisionTreeClassifier()
        totals: dict[str, float] = {}
        for tree in self.trees:
            helper.tree = tree
            for feat, value in helper.feature_importances().items():
                totals[feat] = totals.get(feat, 0.0) + value
        norm = sum(totals.values())
        if norm <= 0:
            return {f: 0.0 for f in totals}
        return {f: v / norm for f, v in totals.items()}

    # ------------------------------------------------------------------ io

    def save_model(self, path: str) -> None:
        with open(path, "wb") as f:
            pickle.dump(
                {
                    "trees": self.trees,
                    "categorical_mappings": self.categorical_mappings,
                    "unique_targets": self._unique_targets,
                },
                f,
                protocol=pickle.HIGHEST_PROTOCOL,
            )

    def load_model(self, path: str) -> None:
        with open(path, "rb") as f:
            loaded = pickle.load(f)
        self.trees = loaded["trees"]
        self.categorical_mappings = loaded["categorical_mappings"]
        self._unique_targets = loaded["unique_targets"]

    def to_json(self) -> str:
        """Portable JSON form: trees + labels + categorical mappings (the
        pair-list encoding DecisionTreeClassifier.to_json uses — dict keys
        may be non-strings, which plain JSON objects can't carry)."""
        return json.dumps(
            {
                "trees": self.trees,
                "unique_targets": self._unique_targets,
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
    def from_json(cls, payload: str) -> "RandomForestClassifier":
        data = json.loads(payload)
        model = cls(n_trees=len(data["trees"]) or 1)
        model.trees = data["trees"]
        model._unique_targets = data["unique_targets"]
        if data.get("categorical_mappings") is not None:
            model.categorical_mappings = {
                col: {k: v for k, v in pairs}
                for col, pairs in data["categorical_mappings"].items()
            }
        return model
