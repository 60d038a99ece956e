"""efficient_trees_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of ``tocab/efficient-trees``.

The reference (read-only snapshot at ``/root/reference``) expresses decision-tree
training and batch inference as lazy relational dataflow over Polars LazyFrames
(``efficient_trees/tree.py``).  This package re-expresses the same semantics
Spark-first: every analytic step is a Catalyst logical plan built from
``pyspark.sql`` DataFrame operations — no RDDs and no Python UDFs in the hot
path — so Catalyst/Tungsten handle pushdown, pruning, codegen, shuffle and
spill, and the same code scales from ``local[*]`` to a multi-thousand-executor
cluster.

Layout:
    session.py            SparkSession factory tuned for analytics
    enums.py              Criterion enum (gini / entropy)
    tree.py               DecisionTreeClassifier (fit / predict / persistence)
    ensemble.py           RandomForestClassifier (bagged trees, one-projection vote)
    functions/exprs.py    Column-expression library (criterion, gain, proportions)
    functions/fdlibm.py   Spark's log2 in numpy, bit for bit (driver-side entropy)
    functions/text.py     Text analytics expressions (lang-id, quality, tokens)
    operators/split_finder.py  Unified one-job best-split search
    operators/histogram.py     Packed-Arrow histograms (AMEX-width fits)
    operators/dedup.py    Exact + MinHash-LSH + SimHash + n-gram Jaccard dedup,
                          benchmark decontamination, substring-span dedup
    operators/similarity.py    Embedding ANN (brute/LSH/IVF/PQ), SemDeDup,
                          k-means training, int8 quantization
    operators/retrieval.py     BM25 lexical top-k retrieval (persistable
                          index, incremental append merge)
    operators/bpe.py      Distributed BPE tokenizer training + encoding
                          (BpeTokenizer artifact)
    operators/lm.py       Statistical LM quality scoring (CCNet-style)
    operators/asof.py / rangejoin.py / skew.py / sampling.py / multimodal.py
                          as-of & range joins, salted agg/join, corpus
                          sampling & mixture, multimodal plumbing
    plans/case_compiler.py     dict-tree → nested CASE WHEN Column
    sources/io.py         Readers/writers (parquet, csv, in-memory)
    sources/shards.py     Deterministic sharded training export
    streaming/            Structured Streaming windows, sessions, capped
                          stateful sessions, ingest dedup (batch twins)
"""

from efficient_trees_spark.enums import Criterion
from efficient_trees_spark.ensemble import RandomForestClassifier
from efficient_trees_spark.tree import DecisionTreeClassifier

__all__ = ["Criterion", "DecisionTreeClassifier", "RandomForestClassifier"]
__version__ = "0.1.0"
