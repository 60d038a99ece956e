"""The benchmark's workloads.

Each workload builds its inputs from the seed in ``prepare`` (or finds them
in the input cache) and runs one iteration per ``iteration`` call,
returning the wall time of its two phases and the outputs the runner
checks:

* ``fit`` — the fit calls (tree workloads); on ``corpus_queries`` the three
  corpus-building queries (MinHash dedup, duplicated spans, curation);
* ``score`` — ``transform`` then materialize (tree workloads); on
  ``corpus_queries`` the three lookup queries (BM25 top-k, q1, q5).
"""

from __future__ import annotations

import hashlib
import os
import time

from treebench import data


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def _row_key(row) -> str:
    # 10 significant digits: stable against last-bit float noise, far finer
    # than any real change of a result.
    return "|".join(f"{v:.10g}" if isinstance(v, float) else repr(v) for v in row)


def rows_digest(rows) -> str:
    """Order-independent content hash of collected rows."""
    return _sha("\n".join(sorted(_row_key(tuple(r)) for r in rows)))


class Iteration:
    def __init__(self):
        self.phases = {"fit": 0.0, "score": 0.0}
        self.outputs: dict[str, object] = {}
        self.problems: list[str] = []

    def timed(self, phase: str, tracer, layer: str, fn):
        with tracer.span(layer):
            t0 = time.perf_counter()
            result = fn()
            self.phases[phase] += time.perf_counter() - t0
        return result


class _TreeWorkload:
    """Fit then score each model on ``self.df`` per iteration."""

    df = None
    n_rows = 0

    def models(self) -> list[tuple[str, object, str]]:
        raise NotImplementedError

    def iteration(self, tracer) -> Iteration:
        from pyspark.sql import functions as F

        it = Iteration()
        for name, model, layer in self.models():
            it.timed("fit", tracer, f"{layer}.fit", lambda: model.fit(self.df, "target"))
            counts = it.timed(
                "score",
                tracer,
                f"{layer}.transform",
                lambda: model.transform(self.df, null_policy="keep")
                .groupBy("prediction")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect(),
            )
            predicted = sum(r["n"] for r in counts)
            if predicted != self.n_rows:
                it.problems.append(f"{name}: {predicted} predictions for {self.n_rows} rows")
            it.outputs[f"{name}.model"] = _sha(model.to_json())
            it.outputs[f"{name}.predictions"] = rows_digest(counts)
        return it


class WideBinned(_TreeWorkload):
    """The reference benchmark shape: 190 f32 features, ~1% NULL filled
    with 0.0, depth-4 entropy tree with max_bins=32, fit then score.  The
    packed level loop, the edges pass and the JVM-to-Arrow crossing do
    nearly all the work; the exact melt and the pair-cube lookahead do not
    run."""
    # A tenth of the sf=0.1 testdata scale the workload was sized on, where
    # building the table took 74 s and the first iteration 47 s on 4 cores.
    # Not in BENCHMARK.json (see WORKLOADS); it runs by name.
    sf = 0.01

    def prepare(self, spark, seed: int, cache_dir: str) -> None:
        n_files = spark.sparkContext.defaultParallelism

        def build(path):
            lineitem = data.tpch_tables(seed, self.sf)["lineitem"]
            data.write_split(data.wide_columns(lineitem, seed), path, n_files)

        path = data.cached(cache_dir, f"wide-s{seed}-sf{self.sf}-p{n_files}", build)
        self.df = spark.read.parquet(path).na.fill(0.0)
        self.n_rows = data.num_rows(path)

    def models(self):
        from efficient_trees_spark import Criterion, DecisionTreeClassifier

        return [
            ("wide", DecisionTreeClassifier(max_depth=4, criterion=Criterion.ENTROPY, max_bins=32), "tree")
        ]


class LineitemFits(_TreeWorkload):
    """Four lineitem numerics (l_extendedprice near-continuous) predicting
    l_returnflag: an exact depth-2 gini tree, a binned depth-3 entropy tree
    and a 4-tree binned depth-2 gini forest, each fit then scored.
    Exercises what ``WideBinned`` bypasses: the exact melt and its shuffle,
    pair-cube carried levels, the ensemble and per-job overhead.  The
    binned tree's last level is a dense cube pass with its driver merge,
    the packed-loop work ``WideBinned`` does at every level, so that work
    is measured here too."""
    # Half the sf=0.1 testdata scale the workload was sized on: 300k rows
    # and ~296k distinct l_extendedprice values for the exact melt.  At
    # sf=0.1 ten runs took 71 s on average on 4 cores, the most a run may
    # take on average within the benchmark's 3420 s budget.
    sf = 0.05

    def prepare(self, spark, seed: int, cache_dir: str) -> None:
        from pyspark.sql import functions as F

        n_files = spark.sparkContext.defaultParallelism

        def build(path):
            data.write_split(data.tpch_tables(seed, self.sf)["lineitem"], path, n_files)

        path = data.cached(cache_dir, f"lineitem-s{seed}-sf{self.sf}-p{n_files}", build)
        class_map = F.create_map(*[x for i, c in enumerate("ANR") for x in (F.lit(c), F.lit(i))])
        self.df = spark.read.parquet(path).select(
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            class_map[F.col("l_returnflag")].cast("int").alias("target"),
        )
        self.n_rows = data.num_rows(path)

    def models(self):
        from efficient_trees_spark import Criterion, DecisionTreeClassifier
        from efficient_trees_spark.ensemble import RandomForestClassifier

        gini, entropy = Criterion.GINI, Criterion.ENTROPY
        return [
            ("exact", DecisionTreeClassifier(max_depth=2, criterion=gini), "tree"),
            ("binned", DecisionTreeClassifier(max_depth=3, criterion=entropy, max_bins=32), "tree"),
            (
                "forest",
                RandomForestClassifier(n_trees=4, max_depth=2, criterion=gini, max_bins=32, seed=7),
                "ensemble",
            ),
        ]


class CorpusQueries:
    """Six registered non-tree queries over generated documents and
    TPC-H-style tables: the control that tree changes must not move, and
    the workload that shows a session-level change's cost to the
    shuffle-heavy query paths."""
    # At the sf=0.1 testdata scale set-up took 41 s and an iteration ~9.5 s,
    # so a run takes ~75 s, over its share of the time budget.  At sf=0.01
    # (60k lineitem rows, 500 documents) the queries are mostly per-job
    # overhead and still speeding up as the JIT compiles, and the quartile
    # distance of iter_s over its median across five seeds was 0.39; at
    # sf=0.03 (180k rows, 1500 documents) it was 0.15 for the same run time.
    sf = 0.03

    def prepare(self, spark, seed: int, cache_dir: str) -> None:
        from efficient_trees_spark.workloads.dedup_queries import (
            dedup_minhash_lsh,
            dedup_substring_span_stats,
        )
        from efficient_trees_spark.workloads.relational import (
            q1_pricing_summary,
            q5_region_nation_volume,
        )
        from efficient_trees_spark.workloads.similarity_queries import ann_bm25_topk
        from efficient_trees_spark.workloads.text_pipeline import docs_curation_pipeline

        def build(path):
            tables = data.tpch_tables(seed, self.sf)
            tables["documents"] = data.documents_table(seed, data.n_documents(self.sf))
            data.write_tables(tables, path)

        self.sf_dir = data.cached(cache_dir, f"tables-s{seed}-sf{self.sf}", build)
        # BUILD queries time as the "fit" phase, LOOKUP queries as "score".
        self.build = [dedup_minhash_lsh, dedup_substring_span_stats, docs_curation_pipeline]
        self.lookup = [ann_bm25_topk, q1_pricing_summary, q5_region_nation_volume]
        self.df = spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet"))

    def iteration(self, tracer) -> Iteration:
        it = Iteration()
        spark = self.df.sparkSession
        for phase, fn in [("fit", f) for f in self.build] + [("score", f) for f in self.lookup]:
            name = fn.__name__
            rows = it.timed(phase, tracer, f"query.{name}", lambda: fn(spark, self.sf_dir).collect())
            it.outputs[f"{name}.rows"] = len(rows)
            it.outputs[f"{name}.digest"] = rows_digest(rows)
            if not rows:
                it.problems.append(f"{name}: no rows")
        return it


# BENCHMARK.json lists lineitem_fits and corpus_queries only: a run takes
# ~55-70 s, and the 70 runs of three workloads overrun their 3420 s budget.
# wide_binned, the reference shape, runs by name; the dense cube pass and
# driver merge it is made of are also measured through lineitem_fits.
WORKLOADS = {
    "wide_binned": WideBinned,
    "lineitem_fits": LineitemFits,
    "corpus_queries": CorpusQueries,
}
