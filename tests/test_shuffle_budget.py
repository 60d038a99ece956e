"""Shuffle BYTE budgets on the shuffle-clean bench queries.

The round-11 shuffle audit (tools/shuffle_audit.py, SHUFFLE_AUDIT.json)
measured the aggregation/join family moving almost nothing: q1 shuffles
1.1 KiB of partial-agg state for a 5.7 MiB read, q5's five-table join
moves 496 BYTES (every dimension broadcast), the cosine-threshold scan
moves only its r11 corpus fan-out (a bounded round-robin repartition of
the few-split local input).  Plan gates elsewhere assert exchange
COUNTS; these tests pin
the byte volumes, which see what a plan gate can't — a partial
aggregation that silently stopped combining still has the same Exchange
node, but its shuffle bytes jump from KBs to the raw relation size.

Budgets are 8-60x the measured sf0.001 values (q1 1044 B, q5 102 B,
exact-dedup 19.2 KiB — re-measure with tools/shuffle_audit.py), far
under the failure signature (a lost broadcast or lost partial agg
shuffles the ~200 KB sf0.001 relation), so host noise can't flake them:
byte counts are deterministic for a fixed plan, which is the point of
auditing bytes instead of walls on a noisy host.

Metrics come from the session's REST store (UI enabled in conftest),
summed over the stages of the measured action's own job group.  The
store is fed by an async listener queue, so they are read only after
listenerBus().waitUntilEmpty() — without the drain, a pass's stages may
be missing from the store (the round-11 audit's first pitfall).
"""

from __future__ import annotations

import json
import urllib.request
import uuid

import pytest

from efficient_trees_spark.workloads.dedup_queries import dedup_exact_bag
from efficient_trees_spark.workloads.relational import (
    q1_pricing_summary,
    q5_region_nation_volume,
)
from efficient_trees_spark.workloads.similarity_queries import (
    ann_cosine_threshold,
)


def _shuffle_write_bytes(spark, action) -> int:
    """Shuffle bytes written by the stages of the jobs ``action()`` runs,
    counted in a job group of its own.  Only that group's stages are
    summed: a session-wide total over the REST store's retained stages
    (``spark.ui.retainedStages``) drops the oldest ones once a session
    has run more, so a before/after delta of it can go negative."""
    sc = spark.sparkContext
    base = sc.uiWebUrl
    if base is None:  # pragma: no cover - UI disabled in this session
        pytest.skip("spark.ui.enabled is false: no stage metrics endpoint")
    group = f"shuffle-audit-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "shuffle audit")
    try:
        action()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stage_ids = {
        s for job in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(job).stageIds
    }
    url = f"{base}/api/v1/applications/{sc.applicationId}/stages?status=COMPLETE"
    with urllib.request.urlopen(url) as resp:
        stages = json.load(resp)
    return sum(
        s.get("shuffleWriteBytes", 0) for s in stages if s["stageId"] in stage_ids
    )


def _audit(spark, sf_small: str, fn) -> int:
    """Bytes shuffled by one steady-state pass of fn (one warmup first:
    AQE settles, codegen caches build)."""
    fn(spark, sf_small).write.mode("overwrite").format("noop").save()
    return _shuffle_write_bytes(
        spark,
        lambda: fn(spark, sf_small).write.mode("overwrite").format("noop").save(),
    )


def test_q1_partial_agg_shuffles_fanout_plus_kilobytes(spark, sf_small):
    # r12: q1 fans out the few-split local scan before the DECIMAL-heavy
    # partial aggregation (one bounded round-robin repartition of the
    # 6-column projection; cluster no-op — see the workload), so the bytes
    # moved are fan-out-relation-sized plus the ~1 KiB of partial-agg
    # state.  The budget bounds the projection width: a q1 that stopped
    # pruning (shuffling all 16 lineitem columns) or lost its map-side
    # combine INTO the agg exchange would blow past it.
    moved = _audit(spark, sf_small, q1_pricing_summary)
    assert 0 < moved < 1024 * 1024


def test_q5_broadcast_join_shuffles_bytes(spark, sf_small):
    # every dimension broadcasts: the only shuffle is the final tiny agg
    # (measured 102 B at sf0.001, 496 B at sf0.1).  A demoted broadcast
    # (SMJ) would shuffle both join sides.
    assert _audit(spark, sf_small, q5_region_nation_volume) < 8 * 1024


def test_cosine_threshold_shuffles_corpus_fanout_only(spark, sf_small):
    # r11: brute_force_scores round-robin fans out a few-split corpus so
    # the O(N x Q) scoring uses every core (measured ~2x at sf0.1; no-op
    # on many-split cluster scans).  The only bytes moved are that one
    # corpus-sized repartition (~26 KiB at sf0.001) — never the pair
    # relation (a lost broadcast would shuffle Q x N rows, megabytes even
    # at sf0.001).
    moved = _audit(spark, sf_small, ann_cosine_threshold)
    assert 0 < moved < 256 * 1024


def test_bm25_topk_shuffles_one_postings_derivation(spark, sf_small):
    # r11/r12: the postings relation is materialized once per one-shot
    # call (was 3 corpus derivations) and the bounded query-term side is
    # the broadcast build side.  Measured 457 KiB at sf0.001 (r12 audit).
    # A lost postings checkpoint re-shuffles the tokenized corpus per
    # consumer and a flipped broadcast ships the vocabulary-sized dfreq
    # relation — both land well past this budget.
    from efficient_trees_spark.workloads.similarity_queries import (
        ann_bm25_topk,
    )

    moved = _audit(spark, sf_small, ann_bm25_topk)
    assert 0 < moved < 1536 * 1024


def test_substring_spans_shuffles_binary_window_keys(spark, sf_small):
    # r11: the window hash shuffles as unhex(md5) 16-byte binary, not
    # 32-char hex (measured 12.3 vs 19.0 MB at sf0.1; 1.28 MiB at
    # sf0.001, r12 audit).  Reverting to hex keys reads ~1.9 MiB and an
    # extra window-relation shuffle ~2.6 MiB — both over budget.
    from efficient_trees_spark.workloads.dedup_queries import (
        dedup_substring_span_stats,
    )

    moved = _audit(spark, sf_small, dedup_substring_span_stats)
    assert 0 < moved < 1900 * 1024


def test_minhash_lsh_shuffles_signatures_once(spark, sf_small):
    # r12: the aggregated signatures relation is a per-invocation local
    # checkpoint consumed by both band-join sides (was six corpus
    # scan+tokenize pipelines).  Measured 282 KiB write at sf0.001 (r12
    # audit); hex band keys or a second signature derivation land past
    # this budget.
    from efficient_trees_spark.workloads.dedup_queries import (
        dedup_minhash_lsh,
    )

    moved = _audit(spark, sf_small, dedup_minhash_lsh)
    assert 0 < moved < 1024 * 1024


def test_exact_dedup_shuffles_fingerprints_only(spark, sf_small):
    # one shuffle keyed on the content fingerprint: bytes are
    # fingerprint-relation-sized (measured 19.2 KiB), never the documents
    # themselves re-materialized per bucket.  (r11 measured and REJECTED a
    # fan-out of the raw input here: the one-md5-per-row map side is too
    # cheap to amortize the extra corpus-sized shuffle.)
    assert _audit(spark, sf_small, dedup_exact_bag) < 128 * 1024


def test_exact_overflow_probe_ships_flags_not_values(spark):
    # The exact packed path's distinct-value probe: a partition that alone
    # overflows a feature's code space ships that feature's flag and no
    # values (their union overflows too), so an overflowing probe moves a
    # few rows, not max_distinct + 1 values per partition (measured 534 B
    # here; shipping the 101 values per partition moved 9021 B).  It must
    # still fail loudly, with guidance.
    from efficient_trees_spark.operators.histogram import distinct_edges_packed

    df = spark.range(0, 4000, numPartitions=4).selectExpr("CAST(id AS DOUBLE) AS a")

    def probe():
        with pytest.raises(ValueError, match="set max_bins"):
            distinct_edges_packed(df, ["a"], max_distinct=100)

    moved = _shuffle_write_bytes(spark, probe)
    assert 0 < moved < 2 * 1024, moved
