"""Plan-quality gates: the physical plans that make this engine scale are
asserted here, so a regression that silently de-optimizes (drops a pushdown,
un-broadcasts a dim, adds a shuffle to inference) fails CI — not just the
100 TB run.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from efficient_trees_spark import DecisionTreeClassifier
from efficient_trees_spark.workloads.base import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_scan_pushdown_and_pruning(spark):
    """S1: the filter and the 3-column projection must reach the parquet
    reader — at 100 TB this is the difference between reading a few column
    chunks of a few row groups and scanning the table."""
    df = REGISTRY["s1_scan_project_filter"].fn(spark, SF_DIR)
    plan = plan_of(df)
    assert "PushedFilters:" in plan
    assert "GreaterThan(l_quantity,30" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    # Column pruning: the scan schema carries only the needed columns.
    read_schema = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema


def test_star_join_broadcasts(spark):
    """Q5: every dimension side must hash-broadcast; a sort-merge join of
    the fact table against a dimension is the classic at-scale regression."""
    df = REGISTRY["q5_region_nation_volume"].fn(spark, SF_DIR)
    plan = plan_of(df, "simple")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_split_finder_no_cartesian_and_codegen(spark):
    """The split search must stay in whole-stage codegen (no UDF stages,
    no cartesian blowup) — its cost dominates training.  Codegen spans only
    appear in the AQE FINAL plan, so execute first and inspect that."""
    from efficient_trees_spark.workloads.tree_queries import split_candidate_gains_gini

    df = split_candidate_gains_gini(spark, SF_DIR)
    df.collect()  # finalize the AQE plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # codegen spans print as "*(n) Operator" in the final plan
    assert plan.count("*(") > 10


def test_inference_is_shuffle_free(spark):
    """Compiled-CASE inference must add ZERO exchanges on top of the scan:
    prediction composes into any plan without repartitioning the data."""
    model = DecisionTreeClassifier()
    model.tree = {
        "type": "node",
        "feature": "l_quantity",
        "threshold": 25.0,
        "information_gain": 0.1,
        "criterion_value": 0.5,
        "target_distribution": [1, 1],
        "left": {"type": "leaf", "value": "lo"},
        "right": {
            "type": "node",
            "feature": "l_discount",
            "threshold": 0.05,
            "information_gain": 0.05,
            "criterion_value": 0.4,
            "target_distribution": [1, 1],
            "left": {"type": "leaf", "value": "mid"},
            "right": {"type": "leaf", "value": "hi"},
        },
    }
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    out = model.transform(li, null_policy="keep")
    plan = plan_of(out, "simple")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_minhash_no_raw_self_join(spark):
    """The MinHash pipeline must never cartesian the corpus; candidate
    generation happens after aggregation, keyed on band buckets."""
    from efficient_trees_spark.workloads.dedup_queries import dedup_minhash_lsh

    df = dedup_minhash_lsh(spark, SF_DIR)
    plan = plan_of(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_partitioned_sink_scan_prunes_partitions(spark):
    """S6: the read-back filter on the partition column must become a
    PartitionFilter on the scan — only the named directory is listed/read,
    never the other partitions."""
    df = REGISTRY["s6_partitioned_parquet_sink"].fn(spark, SF_DIR)
    plan = plan_of(df)
    assert "PartitionFilters" in plan
    pf_line = next(line for line in plan.splitlines() if "PartitionFilters" in line)
    assert "o_orderpriority" in pf_line and "1-URGENT" in pf_line


def test_bucketed_join_is_shuffle_free(spark):
    """S7: with both sides bucketed on the join key, a large-to-large join
    reads bucket-to-bucket with ZERO exchange on either input.  At sf0.001
    AQE rightly broadcasts the tiny side instead (also shuffle-free), so the
    at-scale plan — sort-merge — is forced with a merge hint and the
    assertion is that bucketing removed both shuffles from it."""
    REGISTRY["s7_bucketed_colocated_join"].fn(spark, SF_DIR).collect()  # writes tables
    cust = spark.table("spark_graft_s7_customer").hint("merge")
    orders = spark.table("spark_graft_s7_orders")
    joined = cust.join(orders, cust.c_custkey == orders.o_custkey).select(
        "c_mktsegment", "o_totalprice"
    )
    joined.collect()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" in final
    assert "Exchange" not in final
    assert final.count("SelectedBucketsCount: 8 out of 8") == 2


def test_curation_pipeline_two_shuffles_no_python(spark):
    """The composed curation pass must cost exactly its two aggregations
    (dedup groupBy, language groupBy) plus the r11 few-split fan-out — a
    round-robin repartition of the raw docs ahead of the scoring
    projection (local-mode parallelism guard; no-op on a many-split
    cluster scan) — no join-back shuffle, no Python stages; everything
    else is projection over the scan."""
    df = REGISTRY["docs_curation_pipeline"].fn(spark, SF_DIR)
    plan = plan_of(df, "simple")
    assert plan.count("Exchange") == 3
    assert plan.count("Exchange hashpartitioning") == 2  # the two aggs
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _final_plan_nodes(df) -> list[tuple[int, str]]:
    """``(depth, operator)`` per line of ``df``'s executed AQE final plan
    (the action runs first), codegen stage prefixes stripped."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = []
    for line in plan.split("== Initial Plan ==")[0].splitlines():
        op = line.lstrip(" :+-")
        nodes.append((len(line) - len(op), re.sub(r"^\*\(\d+\) ", "", op)))
    return nodes


def _subtree(nodes, i: int) -> list[str]:
    """The operators below node ``i``."""
    below = []
    for depth, op in nodes[i + 1:]:
        if depth <= nodes[i][0]:
            break
        below.append(op)
    return below


def _explode_barrier_violations(df) -> list[str]:
    """What breaks docs_curation's explode barrier in ``df``'s plan: the
    quality/length filter must sit above the ``Generate``, and the
    tokenizer (``regexp_replace``) must run only above the fan-out
    round-robin ``Exchange``, never below it."""
    nodes = _final_plan_nodes(df)
    found = []
    filters = [
        i for i, (_, op) in enumerate(nodes) if op.startswith("Filter") and ">= 0.5" in op
    ]
    if not filters:
        found.append("no quality filter")
    if not all(
        any(op.startswith("Generate") for op in _subtree(nodes, i)) for i in filters
    ):
        found.append("quality filter not above the Generate")
    fan_outs = [
        i
        for i, (_, op) in enumerate(nodes)
        if op.startswith("Exchange RoundRobinPartitioning")
    ]
    scoring = [
        i
        for i, (_, op) in enumerate(nodes)
        if op.startswith("Project") and "regexp_replace" in op
    ]
    if len(fan_outs) != 1 or not scoring:
        found.append("no fan-out exchange or no scoring projection")
    elif not all(nodes[fan_outs[0]][1] in _subtree(nodes, i) for i in scoring):
        found.append("scoring projection not above the fan-out")
    if any("regexp_replace" in op for i in fan_outs for op in _subtree(nodes, i)):
        found.append("tokenizer below the fan-out")
    return found


def test_curation_pipeline_explode_barrier_holds(spark, sf_small):
    """docs_curation's single-element explode is a pushdown barrier: the
    quality/length filter stays above the ``Generate`` and the tokenize /
    score projection runs once per row above the fan-out round-robin
    ``Exchange``.  The same pipeline without the explode lets
    PushDownPredicates inline the tokenizer into the filter and push it
    below the fan-out, and the pin rejects that plan."""
    from efficient_trees_spark.functions import text
    from efficient_trees_spark.sources.io import fan_out_small_input
    from efficient_trees_spark.workloads.base import load

    df = REGISTRY["docs_curation_pipeline"].fn(spark, sf_small)
    assert _explode_barrier_violations(df) == []

    docs = fan_out_small_input(load(spark, sf_small, "documents"))
    bound = docs.select(
        "doc_id",
        "text",
        text.tokens("text").alias("__toks"),
        text.normalized("text").alias("__norm"),
    )
    toks = F.col("__toks")
    scored = bound.select(
        "doc_id",
        F.round(text.quality_score("text", toks=toks), 9).alias("quality"),
        text.token_count("text", toks=toks).alias("n_tokens"),
        text.content_fingerprint("text", norm=F.col("__norm")).alias("fp"),
        text.lang_id("text", toks=toks).alias("lang"),
    )
    kept = scored.filter((F.col("quality") >= 0.5) & (F.col("n_tokens") >= 5))
    unbarred = (
        kept.groupBy("fp")
        .agg(F.min_by(F.struct("lang", "n_tokens", "quality"), "doc_id").alias("p"))
        .groupBy(F.col("p.lang").alias("lang"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    violations = _explode_barrier_violations(unbarred)
    assert "quality filter not above the Generate" in violations
    assert "tokenizer below the fan-out" in violations


def test_text_doc_profile_single_scan_no_shuffle(spark):
    """The per-document text profile (token stats, quality, fingerprints,
    subwords, winnowing) must be ONE projection over ONE scan of documents:
    zero exchanges, zero Python stages, however many stats it emits.  This
    is the plan shape that makes per-doc corpus stats O(scan) at 100 TB."""
    df = REGISTRY["text_doc_profile"].fn(spark, SF_DIR)
    plan = plan_of(df, "simple")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("FileScan") == 1


def test_forest_inference_is_shuffle_free(spark):
    """The forest vote — T compiled CASE columns + struct argmax — must stay
    a pure projection: zero exchanges, zero Python stages, however many
    trees vote."""
    from efficient_trees_spark.ensemble import RandomForestClassifier

    leaf = lambda v: {"type": "leaf", "value": v}  # noqa: E731
    rf = RandomForestClassifier(n_trees=3)
    rf.trees = [
        {
            "type": "node",
            "feature": "l_quantity",
            "threshold": 25.0,
            "information_gain": 0.1,
            "criterion_value": 0.5,
            "target_distribution": [1, 1],
            "left": leaf("lo"),
            "right": leaf("hi"),
        }
        for _ in range(3)
    ]
    rf._unique_targets = ["hi", "lo"]
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plan = plan_of(rf.transform(li), "simple")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
