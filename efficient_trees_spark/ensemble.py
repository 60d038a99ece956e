"""RandomForestClassifier — bagged ensemble of this engine's trees.

Extension beyond the reference (which ships a single tree —
``/root/reference/efficient_trees/tree.py:16``), composed entirely from this
engine's existing dataflow pieces:

* **The single tree's fit preamble, run once**
  (``DecisionTreeClassifier._training_relation``, with its auto fit-path
  choice).  Its one relation is persisted and every tree trains on it, so
  a forest scans the source as often as one tree does, whatever n_trees.
* **Bootstrap via ``sample(withReplacement=True)``** per tree (seeded, so the
  forest is deterministic given ``seed``), plus per-tree feature subsampling
  (driver-side RNG over column names — zero data movement).  A subset keeps
  the input's column order, so every tree breaks gain ties by the one
  feature order a single tree uses.
* **Level-synchronous growth**, the PLANET / MLlib ``RandomForest`` shape:
  the bags are tagged with their tree id and unioned, and every tree level
  is ONE pass over that union on either fit path
  (``tree._build_tree_levelwise``), each row routed by its own tree's
  splits and scoring only its tree's feature subset.  A forest level costs
  one level job whatever n_trees is; the per-row work still grows with the
  total bootstrap rows.  The bags' root class distributions take one more
  job, a ``groupBy(tree, class).count()`` over the union; every other
  node's falls out of its parent's split scan.
* **Inference is one projection.** Each tree compiles to a nested CASE column
  (``plans/case_compiler.py``); the majority vote is an ``array_max`` over
  per-class vote-count structs — pure Catalyst expressions, zero shuffles,
  zero UDFs, same tie-break as the single tree (count desc, class asc).
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
from efficient_trees_spark.operators.split_finder import TARGET_IDX
from efficient_trees_spark.plans.case_compiler import compile_tree
from efficient_trees_spark.tree import DecisionTreeClassifier, _check_binning

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
        if not sample_fraction > 0.0:
            raise ValueError(f"sample_fraction must be > 0, got {sample_fraction}")
        _check_binning(max_bins)
        self.n_trees = n_trees
        self.max_depth = max_depth
        self.criterion = Criterion(criterion)
        self.feature_fraction = feature_fraction
        self.sample_fraction = sample_fraction
        self.max_bins = max_bins
        self.categorical_columns = categorical_columns
        self.seed = seed
        self.trees: list[dict[str, Any]] | None = None
        # the shared edges of a packed fit (None on the melt)
        self.bin_edges_: dict[str, list[float]] | None = None
        self.categorical_mappings: dict[str, dict[Any, int]] | None = None
        self._unique_targets: list[Any] | None = None

    # ------------------------------------------------------------------ fit

    def fit(self, data: DataFrame, target_name: str) -> None:
        proto = DecisionTreeClassifier(
            max_depth=self.max_depth,
            categorical_columns=self.categorical_columns,
            criterion=self.criterion,
            max_bins=self.max_bins,
        )
        relation, feature_names, unique_targets, _, bin_edges, n_parts = (
            proto._training_relation(data, target_name)
        )
        self.bin_edges_ = bin_edges
        self.categorical_mappings = proto.categorical_mappings
        self._unique_targets = unique_targets

        rng = random.Random(self.seed)
        n_sub = max(1, round(self.feature_fraction * len(feature_names)))
        subsets = [feature_names] * self.n_trees
        if n_sub < len(feature_names):
            # Each subset keeps the input's column order: the one order
            # every tree breaks gain ties by.
            draws = [set(rng.sample(feature_names, n_sub)) for _ in subsets]
            subsets = [[f for f in feature_names if f in d] for d in draws]

        relation = relation.persist()
        try:
            # Materialize the cache in its own one-stage job (a no-op sink
            # write).  Left to the first level pass, the union's tasks each
            # read every tree's sample of the same partitions and queue on
            # one another to compute each cache block (4 trees, 300k rows, 4
            # cores: a packed pass took 2.0 s with the encode in it, 1.1 s
            # after a ~0.4 s materializing job).  The bags are not
            # persisted: the sampler is seeded per partition, so every
            # level re-draws the same rows from the cache.
            relation.write.format("noop").mode("overwrite").save()
            forest_rows = functools.reduce(
                DataFrame.union,
                [
                    relation.sample(True, self.sample_fraction, self.seed + t)
                    .withColumn(TREE_COL, F.lit(t))
                    for t in range(self.n_trees)
                ],
            )
            if n_parts is not None:  # one level stage of n_parts tasks
                forest_rows = forest_rows.coalesce(n_parts)
            # Each bag's root class distribution, in one job after the
            # cache is materialized (so it does not race the level pass
            # for the cache blocks); a few rows, sorted on the driver.
            root_distributions: list[list[tuple[int, int]]] = [
                [] for _ in range(self.n_trees)
            ]
            for row in sorted(
                forest_rows.groupBy(TREE_COL, TARGET_IDX).count().collect()
            ):
                root_distributions[row[0]].append((row[1], row[2]))
            self.trees = proto._build_tree_levelwise(
                forest_rows,
                subsets,
                unique_targets,
                root_distributions,
                bin_edges=bin_edges,
                all_features=feature_names,
                n_parts=n_parts,
                tree_col=TREE_COL,
            )
        finally:
            relation.unpersist()

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
