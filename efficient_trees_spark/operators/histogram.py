"""Arrow-batched partial histograms for the wide-fit split search.

The default split search melts features to long form and hash-aggregates
(`split_finder.candidate_split_gains`) — pure Catalyst, ideal at modest
width.  At the reference's real benchmark width (~190 float features,
``/root/reference/examples/memory_profiling.py:78-79``) the unpivot's Expand
multiplies every row 190x through the codegen'd aggregate: measured ~6.5 s
per tree level at just 60k rows (sf0.01), i.e. ~65 s per level at sf0.1.

This module is the LightGBM-style alternative for BINNED mode: one
``mapInArrow`` pass computes per-partition (node, feature, bin, class) count
histograms with vectorized numpy (``searchsorted`` on the quantile edges +
one flat ``bincount`` per node), emitting at most
``nodes x features x (bins+1)`` partial rows per partition; a tiny hash
aggregate merges the partials.  Snapping values to bin edges is folded into
the same pass, so the separate bin-projection job disappears as well.

The production wide-fit flow goes one step further (packed-matrix section
below): the feature matrix crosses the JVM boundary ONCE as a single array
column, is persisted as packed uint8 bin codes (1 byte/cell), and every
level's histogram + tree routing runs on that 2-column relation —
``binned_histogram_counts`` on raw columns remains the >253-edge fallback
and the parity oracle.

Exactness: counts are integers and the emitted ``feature_value`` is the same
edge double the Catalyst path would snap to, so every downstream gain is
bit-identical to the melt path — asserted by ``tests/test_wide_fit.py``
parity tests.  NULLs are dropped per-feature (reference F1 semantics; Arrow
validity bitmaps distinguish NULL from NaN), NaN keeps its own bucket
sorting greatest, exactly like the melt path.

At 100 TB: the map side streams each partition's columnar batches once and
keeps only an O(nodes x features x bins) int64 accumulator (~100 KB/node at
190x33x2); the shuffle carries partial histograms, not rows — the same
volume bound the melt path achieves via map-side combine but without paying
row expansion CPU.  The driver never sees anything bigger than the merged
histogram relation.
"""

from __future__ import annotations

import os
from functools import lru_cache
from typing import Iterator, NamedTuple

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from efficient_trees_spark.functions.exprs import class_count_col

FEATURE = "feature"
FEATURE_VALUE = "feature_value"


def array_cast_expr(names: list[str], elem_type: str):
    """``array(CAST(f AS <type>), ...)`` over all features as ONE parsed SQL
    expression.  Building this with ``F.array(*[F.col(f).cast(...)])`` costs
    3 py4j round-trips per column — ~0.5 s of pure driver latency per plan
    at width 190, paid once per Arrow pass; a single ``F.expr`` string is
    one round-trip and parses JVM-side.  CAST and ``Column.cast`` are the
    same expression, so plans are identical."""
    cols = ", ".join(
        f"CAST(`{n.replace('`', '``')}` AS {elem_type.upper()})" for n in names
    )
    return F.expr(f"array({cols})")


_jemalloc_decay_set = False


def _trim_malloc() -> None:
    """Return freed allocator pages to the OS at Arrow-task end.

    The pyspark daemon workers are long-lived, and BOTH allocators under a
    mapInArrow task retain freed pages: pyarrow's default jemalloc pool
    (every record-batch buffer) keeps dirty pages per its decay policy,
    and glibc (the numpy matrices) keeps them in arenas.  Measured at the
    reference benchmark shape, 32 workers ratcheted to ~10 GiB aggregate
    RSS across one pack stage while live per-task state was ~0.5 GiB —
    and jemalloc was the bulk of it (pinning glibc's mmap threshold alone
    changed nothing).  ``release_unused()`` purges the jemalloc dirty
    pages, decay-0 makes future frees purge eagerly, and ``malloc_trim``
    hands back the glibc arena tails; each silently skipped where
    unavailable.  Cost is ~1 ms per task — negligible next to any Arrow
    pass over a partition."""
    global _jemalloc_decay_set
    try:
        import pyarrow as pa

        if not _jemalloc_decay_set and os.environ.get("SPARK_GRAFT_JEMALLOC_DECAY0"):
            _jemalloc_decay_set = True
            try:
                pa.jemalloc_set_decay_ms(0)
            except Exception:
                pass
        pa.default_memory_pool().release_unused()
    except Exception:
        pass
    try:
        import ctypes

        ctypes.CDLL("libc.so.6").malloc_trim(0)
    except Exception:
        pass


def binned_histogram_counts(
    df: DataFrame,
    feature_names: list[str],
    n_classes: int,
    bin_edges: dict[str, list[float]],
    target_idx_col: str,
    node_col: str | None = None,
) -> DataFrame:
    """(keys..., feature, feature_value, class_*_count, count_examples) —
    the same relation ``candidate_split_gains`` builds with
    melt + groupBy, produced as merged Arrow partial histograms.

    ``df`` carries RAW (unsnapped) double features; ``bin_edges`` maps each
    feature to its ascending candidate edges (``DecisionTreeClassifier
    ._bin_features`` contract: top edge is the true finite max).  Values are
    snapped to the smallest edge >= value inside the histogram pass.
    """
    import pyarrow as pa

    cols = ([node_col] if node_col else []) + [target_idx_col] + feature_names
    src = df.select(*cols)

    # Dense per-feature edge matrix (padded with +inf so searchsorted never
    # lands past a shorter feature's real edges); slot L_f..slots-2 unused,
    # slot slots-1 = NaN bucket.
    n_feat = len(feature_names)
    lens = np.array([len(bin_edges.get(f, ())) for f in feature_names], dtype=np.int64)
    max_edges = int(lens.max()) if n_feat else 0
    slots = max_edges + 1  # +1 NaN bucket
    edges_mat = np.full((n_feat, max_edges), np.inf, dtype=np.float64)
    for j, f in enumerate(feature_names):
        e = bin_edges.get(f, ())
        edges_mat[j, : len(e)] = np.asarray(e, dtype=np.float64)

    count_fields = [pa.field(class_count_col(i), pa.int64()) for i in range(n_classes)]
    out_fields = (
        ([pa.field(node_col, pa.int32())] if node_col else [])
        + [pa.field(FEATURE, pa.string()), pa.field(FEATURE_VALUE, pa.float64())]
        + count_fields
        + [pa.field("count_examples", pa.int64())]
    )
    out_schema = pa.schema(out_fields)
    spark_schema = (
        (f"{node_col} int, " if node_col else "")
        + f"{FEATURE} string, {FEATURE_VALUE} double, "
        + ", ".join(f"{class_count_col(i)} long" for i in range(n_classes))
        + ", count_examples long"
    )
    names = list(feature_names)
    tcol = target_idx_col
    ncol = node_col

    def histogram(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        # node value -> flat int64 accumulator of shape (n_feat * slots * n_classes)
        acc: dict[int, np.ndarray] = {}
        flat_size = n_feat * slots * n_classes
        feat_base = (np.arange(n_feat, dtype=np.int64) * slots)[None, :]  # (1, F)

        for batch in batches:
            n_rows = batch.num_rows
            if n_rows == 0:
                continue
            target = batch.column(tcol).to_numpy(zero_copy_only=False).astype(np.int64)
            nodes = (
                batch.column(ncol).to_numpy(zero_copy_only=False).astype(np.int64)
                if ncol
                else np.zeros(n_rows, dtype=np.int64)
            )
            # Per-feature bin index matrix; slots-1 marks "drop" (NULL) rows
            # temporarily as well, separated from NaN below via a weight mask.
            idx = np.empty((n_rows, n_feat), dtype=np.int64)
            valid = np.empty((n_rows, n_feat), dtype=bool)
            for j in range(n_feat):
                col = batch.column(names[j])
                vals = col.to_numpy(zero_copy_only=False)
                null_mask = (
                    col.is_null().to_numpy(zero_copy_only=False)
                    if col.null_count
                    else None
                )
                nan_mask = np.isnan(vals)
                if null_mask is not None:
                    true_nan = nan_mask & ~null_mask
                    valid[:, j] = ~null_mask
                else:
                    true_nan = nan_mask
                    valid[:, j] = True
                lj = lens[j]
                if lj == 0:  # all-NULL feature: no candidate rows at all
                    valid[:, j] = False
                    idx[:, j] = 0
                    continue
                bj = np.searchsorted(edges_mat[j, :lj], vals, side="left")
                # Defensive: a finite value above the top edge (impossible by
                # the true-max contract, but never emit out of range).
                np.minimum(bj, lj - 1, out=bj)
                bj[true_nan] = slots - 1
                idx[:, j] = bj

            flat = (feat_base + idx) * n_classes + target[:, None]  # (N, F)
            for nv in np.unique(nodes):
                node_rows = nodes == nv
                a = acc.get(int(nv))
                if a is None:
                    a = acc[int(nv)] = np.zeros(flat_size, dtype=np.int64)
                sel = flat[node_rows][valid[node_rows]]
                if sel.size:
                    a += np.bincount(sel, minlength=flat_size)

        # Emit non-empty histogram cells once per partition.
        node_out: list[np.ndarray] = []
        feat_out: list[np.ndarray] = []
        value_out: list[np.ndarray] = []
        class_out: list[list[np.ndarray]] = [[] for _ in range(n_classes)]
        total_out: list[np.ndarray] = []
        name_arr = np.asarray(names, dtype=object)
        for nv, a in acc.items():
            cube = a.reshape(n_feat, slots, n_classes)
            totals = cube.sum(axis=2)  # (F, slots)
            fj, sj = np.nonzero(totals)
            if fj.size == 0:
                continue
            vals = edges_mat[fj, np.minimum(sj, lens[fj] - 1)]
            vals = np.where(sj == slots - 1, np.nan, vals)
            node_out.append(np.full(fj.size, nv, dtype=np.int32))
            feat_out.append(name_arr[fj])
            value_out.append(vals)
            for i in range(n_classes):
                class_out[i].append(cube[fj, sj, i])
            total_out.append(totals[fj, sj])
        if not node_out:
            return
        arrays = []
        if ncol:
            arrays.append(pa.array(np.concatenate(node_out), type=pa.int32()))
        arrays.append(pa.array(np.concatenate(feat_out), type=pa.string()))
        arrays.append(pa.array(np.concatenate(value_out), type=pa.float64()))
        for i in range(n_classes):
            arrays.append(pa.array(np.concatenate(class_out[i]), type=pa.int64()))
        arrays.append(pa.array(np.concatenate(total_out), type=pa.int64()))
        yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    partials = src.mapInArrow(histogram, spark_schema)
    keys = ([node_col] if node_col else []) + [FEATURE]
    return partials.groupBy(*keys, FEATURE_VALUE).agg(
        *[F.sum(class_count_col(i)).alias(class_count_col(i)) for i in range(n_classes)],
        F.sum("count_examples").alias("count_examples"),
    )


def partition_quantile_edges(
    df: DataFrame,
    feature_names: list[str],
    n_bins: int,
    stats_per_partition: int,
) -> dict[str, list[float]]:
    """Equi-depth bin edges for every feature in ONE cheap pass + ONE tiny
    shuffle — the numpy counterpart of ``percentile_approx``.

    Stage 1 (``mapInArrow``): each partition sorts each feature column in
    numpy (NULL/NaN dropped — NaN keeps its own candidate slot downstream)
    and emits ``stats_per_partition`` equally spaced order statistics, each
    weighted by the run of rows it covers, plus the partition's true max and
    row count.  Cost: P x F vectorized sorts; output P x F tiny rows.

    Stage 2 (``applyInPandas`` keyed by feature): the weighted merge of the
    per-partition statistics — sort, cumulative weight, pick the value at
    rank k/n_bins x N for k=1..n_bins-1, union the TRUE max (a top edge
    below the max would leave high values unmappable).  Rank error is
    bounded by 1/stats_per_partition (each partition's contribution to any
    rank estimate is off by less than one inter-statistic run).

    Scale: the shuffle carries P x F x stats doubles spread over F reduce
    groups; nothing data-sized ever reaches one task or the driver (the
    driver collects F edge rows).  Measured 6x faster than the
    ``percentile_approx`` ObjectHashAggregate at the reference's
    190-feature width (19 s -> ~3 s at 600k rows), because the sketch
    update loop is replaced by vectorized sorts.
    """
    import pandas as pd
    import pyarrow as pa

    src = df.select(*feature_names)
    names = list(feature_names)
    g = int(stats_per_partition)

    out_schema = pa.schema(
        [
            pa.field(FEATURE, pa.string()),
            pa.field("vals", pa.list_(pa.float64())),
            pa.field("gaps", pa.list_(pa.float64())),
            pa.field("vmax", pa.float64()),
            pa.field("n", pa.int64()),
        ]
    )

    def order_stats(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        chunks: list[list[np.ndarray]] = [[] for _ in names]
        for batch in batches:
            for j in range(len(names)):
                vals = batch.column(names[j]).to_numpy(zero_copy_only=False)
                vals = vals[~np.isnan(vals)]  # nulls arrive as NaN: drop both
                if vals.size:
                    chunks[j].append(vals)
        feats, vals_out, gaps_out, vmax_out, n_out = [], [], [], [], []
        for j, name in enumerate(names):
            if not chunks[j]:
                continue
            v = np.sort(np.concatenate(chunks[j]))
            n = v.size
            pos = np.unique(np.round(np.linspace(0, n - 1, min(g, n))).astype(np.int64))
            stats = v[pos]
            gaps = np.diff(np.concatenate(([np.int64(-1)], pos))).astype(np.float64)
            feats.append(name)
            vals_out.append(stats)
            gaps_out.append(gaps)
            vmax_out.append(float(v[-1]))
            n_out.append(n)
        if not feats:
            return
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(feats, type=pa.string()),
                _f64_list_array(vals_out),
                _f64_list_array(gaps_out),
                pa.array(vmax_out, type=pa.float64()),
                pa.array(n_out, type=pa.int64()),
            ],
            schema=out_schema,
        )

    partials = src.mapInArrow(
        order_stats,
        f"{FEATURE} string, vals array<double>, gaps array<double>, vmax double, n long",
    )

    return _merge_edge_stats(partials, names, n_bins)


@lru_cache(maxsize=65536)
def _linspace_gaps(n: int, g: int) -> "np.ndarray":
    """Reconstruct the per-(partition, feature) gap run-lengths from the
    non-null count alone: the stage-1 kernels place their order statistics
    at ``pos = unique(round(linspace(0, n-1, min(g, n))))`` — a pure
    function of ``(n, g)`` — so the gaps ``diff([-1] ++ pos)`` never need
    to cross the wire at all (r12, guide §2.3: the gaps array was HALF the
    stats-relation bytes).  This expression is kept token-identical to
    ``_matrix_order_stats`` / the stage-1 sorts, so reconstructed gaps are
    bit-identical to transferred ones.  Cached: within one fit almost every
    (partition, feature) pair shares the same ``n`` (counts differ only by
    the ~1% null cells)."""
    pos = np.unique(np.round(np.linspace(0, n - 1, min(g, n))).astype(np.int64))
    return np.diff(np.concatenate(([np.int64(-1)], pos))).astype(np.float64)


def _merge_feature_edge_stats(
    vals_list, gaps_list, vmax_list, n_list, n_bins: int
) -> list[float]:
    """Weighted merge of ONE feature's per-partition order statistics into
    its sorted edge list — the single numeric core shared by the Spark
    ``applyInPandas`` merge and the driver-local merge, so both produce
    bit-identical edges.  Concatenation order of the partition stats is
    immaterial: equal values permute only among themselves under the stable
    argsort, and the SELECTED entries are values, not indices."""
    # Explicit f64 upcast: stats may arrive as float32 values / int32 gaps
    # (the narrow transfer format of an f4 fit — exact upcasts both ways),
    # and the cumulative weights must accumulate in f64 regardless.
    all_vals = np.concatenate([np.asarray(x, dtype=np.float64) for x in vals_list])
    all_gaps = np.concatenate([np.asarray(x, dtype=np.float64) for x in gaps_list])
    order = np.argsort(all_vals, kind="stable")
    sv = all_vals[order]
    cw = np.cumsum(all_gaps[order])
    total = float(np.sum(np.asarray(n_list, dtype=np.int64)))
    targets = np.array([k / n_bins for k in range(1, n_bins)]) * total
    idx = np.minimum(np.searchsorted(cw, targets, side="left"), sv.size - 1)
    edges = set(sv[idx].tolist()) | {float(max(vmax_list))}
    return sorted(edges)


def _merge_edge_stats(
    partials: DataFrame, feature_names: list[str], n_bins: int,
    with_counts: bool = False, stats_per_partition: int | None = None,
):
    """Stage 2 of the order-statistic edge computation (shared by the
    column-wise and packed stage-1 variants): weighted merge of the
    per-partition statistics keyed by feature, union of the TRUE max.

    ``with_counts=True`` additionally returns ``{feature: total_n}`` (the
    summed per-partition non-null counts) riding the SAME merge job — the
    caller-side row estimate for sizing the persisted code cache's
    partitions costs no extra pass.  When ``partials`` carries no ``gaps``
    column (the r12 gap-free transfer), ``stats_per_partition`` must be
    given and the gaps are reconstructed per row via
    :func:`_linspace_gaps` — bit-identical by construction."""
    import pandas as pd

    def merge(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if "gaps" in pdf.columns:
            gaps_list = list(pdf["gaps"])
        else:
            gaps_list = [
                _linspace_gaps(int(n), int(stats_per_partition))
                for n in pdf["n"]
            ]
        edges = _merge_feature_edge_stats(
            list(pdf["vals"]), gaps_list, list(pdf["vmax"]),
            list(pdf["n"]), n_bins,
        )
        return pd.DataFrame(
            {
                FEATURE: [pdf[FEATURE].iloc[0]],
                "edges": [edges],
                "total_n": [int(pdf["n"].sum())],
            }
        )

    rows = (
        partials.groupBy(FEATURE)
        .applyInPandas(
            merge, f"{FEATURE} string, edges array<double>, total_n long"
        )
        .collect()
    )
    found = {row[FEATURE]: list(row["edges"]) for row in rows}
    edges_map = {name: found.get(name, []) for name in feature_names}
    if with_counts:
        counts = {row[FEATURE]: int(row["total_n"]) for row in rows}
        return edges_map, {name: counts.get(name, 0) for name in feature_names}
    return edges_map


def merge_edge_stats_rows(
    rows, feature_names: list[str], n_bins: int, with_counts: bool = False,
    stats_per_partition: int | None = None,
):
    """Driver-local stage-2 merge over COLLECTED stats rows — the
    fused-pack path's counterpart of :func:`_merge_edge_stats`.  Rows are
    either 5-tuples ``(feature, vals, gaps, vmax, n)`` or, from the r12
    gap-free transfer, 4-tuples ``(feature, vals, vmax, n)`` with
    ``stats_per_partition`` given so gaps are reconstructed driver-side
    via :func:`_linspace_gaps` (bit-identical).  The per-partition stats
    volume is partitions × features × stats values (KBs at any corpus
    size: it does not grow with rows), so collecting it is cluster-safe,
    and skipping the feature-keyed shuffle + applyInPandas saves a whole
    Spark job.  Same numeric core — edges are bit-identical.
    ``with_counts=True`` additionally returns ``{feature: total_n}``
    summed from the already-held per-partition counts (the
    :func:`_merge_edge_stats` contract)."""
    by_feature: dict[str, list[list]] = {}
    for r in rows:
        by_feature.setdefault(r[0], [[], [], [], []])
        acc = by_feature[r[0]]
        if len(r) == 4:
            n = int(r[3])
            acc[0].append(np.asarray(r[1], dtype=np.float64))
            acc[1].append(_linspace_gaps(n, int(stats_per_partition)))
            acc[2].append(float(r[2]))
            acc[3].append(n)
        else:
            acc[0].append(np.asarray(r[1], dtype=np.float64))
            acc[1].append(np.asarray(r[2], dtype=np.float64))
            acc[2].append(float(r[3]))
            acc[3].append(int(r[4]))
    del rows
    edges_map = {
        name: (
            _merge_feature_edge_stats(*by_feature[name], n_bins)
            if name in by_feature
            else []
        )
        for name in feature_names
    }
    if with_counts:
        counts = {
            name: int(sum(by_feature[name][3])) if name in by_feature else 0
            for name in feature_names
        }
        return edges_map, counts
    return edges_map


def _spark_size_bytes(s: str) -> int:
    """Parse a Spark size conf string ('1g', '512m', '1024', '2gb') to
    bytes.  0 / negative means unlimited in Spark; callers map that to
    their own ceiling."""
    s = str(s).strip().lower()
    if s.endswith("b") and len(s) > 1 and not s[-2].isdigit():
        s = s[:-1]
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in mult:
        return int(float(s[:-1]) * mult[s[-1]])
    return int(float(s))


def stats_collect_budget(spark) -> int:
    """Raw-bytes budget for collecting per-partition order-stats rows to
    the driver: HALF of ``spark.driver.maxResultSize`` (serialized task
    results compress below raw doubles, so raw ≤ half the cap stays
    clearly inside it), with unlimited (≤ 0) mapped to 4 GiB — a driver
    holding more raw stats than that should have merged distributively
    regardless.  The x9 row-ladder rung is the motivating failure: 532
    partitions × 190 features × 2 × 2048 doubles ≈ 3.3 GB raw serialized
    to 1 GiB of task results and broke the default maxResultSize."""
    try:
        raw = spark.sparkContext.getConf().get("spark.driver.maxResultSize", "1g")
    except Exception:  # pragma: no cover - Connect-style sessions
        raw = "1g"
    try:
        cap = _spark_size_bytes(raw)
    except ValueError:
        cap = 1 << 30
    if cap <= 0:
        return 4 << 30
    return cap // 2


def merge_order_stats_distributed(
    stats_df: DataFrame, feature_names: list[str], n_bins: int,
    with_counts: bool = False, stats_per_partition: int | None = None,
):
    """Cluster-scale stage-2 merge over :func:`partition_order_stats`
    output: a feature-keyed shuffle + ``applyInPandas`` merge so the
    driver collects only F merged edge rows instead of partitions ×
    features stats rows.  Same numeric core as
    :func:`merge_edge_stats_rows` (``_merge_feature_edge_stats``) —
    edges are bit-identical; tree.py switches here when the raw stats
    volume would approach ``spark.driver.maxResultSize``.
    ``with_counts`` as in :func:`_merge_edge_stats`.
    ``stats_per_partition`` (the stage-1 ``g``) drives the per-row gap
    reconstruction — the gaps never cross the shuffle (r12)."""
    partials = stats_df.select(
        F.col(STATS_FEATURE).alias(FEATURE),
        F.col("__sv").alias("vals"),
        F.col("__svx").alias("vmax"),
        F.col("__sn").alias("n"),
    )
    return _merge_edge_stats(
        partials, feature_names, n_bins, with_counts,
        stats_per_partition=stats_per_partition,
    )


def arrow_stat_rows(tbl) -> list[tuple]:
    """Collected order-stats Arrow table -> (feature, vals, vmax, n)
    tuples whose vals are ZERO-COPY numpy views over the list column's
    flat value buffer.  ``to_pylist`` here would explode partitions ×
    features × stats doubles into millions of Python float objects — a
    measured ~2 GiB driver transient at the 5.4M × 190 benchmark shape —
    while the views cost nothing beyond the IPC table itself.  Gaps are
    absent from the transfer entirely (r12): the merge reconstructs them
    from ``n`` via :func:`_linspace_gaps`."""
    feats = tbl.column(0).to_pylist()
    out: list[tuple] = []
    col = tbl.column(1).combine_chunks()
    sv = col.values.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    so = col.offsets.to_numpy()
    vmax = tbl.column(2).to_numpy(zero_copy_only=False)
    ns = tbl.column(3).to_numpy(zero_copy_only=False)
    for i, name in enumerate(feats):
        out.append((name, sv[so[i]:so[i + 1]], vmax[i], ns[i]))
    return out


# ----------------------------------------------------- packed-matrix path
#
# Measured floor for the per-level histogram pass at the reference's
# 190-feature width: the JVM -> Arrow conversion of ~190 separate columns
# costs ~4 s per pass at 600k rows (115M per-field writes through Spark's
# row-based ArrowWriter) — with the numpy side under 0.5 s.  Packing the
# whole feature matrix into ONE binary blob per row drops the same transfer
# to ~1 s: the writer moves 2 fields per row and the Python side recovers
# the (rows x features) matrix zero-copy with ``np.frombuffer``.
#
# Representation: row-major float32 (or float64 when the fit is unshrunk)
# for the raw matrix; row-major uint8 (or uint16 past 253 edges) bin codes
# after encoding.  NULL is a reserved quiet-NaN BIT PATTERN (real NaNs are
# canonicalized first, so the two stay distinguishable — both are NaN to
# comparisons, which is exactly how the unpacked path treats them for edge
# placement); in code space NULL and NaN are the reserved top codes of the
# chosen width.  Tree routing runs vectorized in numpy inside the histogram
# pass (``route_codes``) instead of as a JVM routing column, preserving the
# routing semantics bit-for-bit: left = code <= t (NULL and NaN codes both
# fail), right = code > t excluding NULL (NaN routes right, matching
# Spark's NaN-sorts-greatest).
#
# Code width is a per-fit choice (tree.py): uint8 (1 byte/cell, <= 253
# edges) whenever every feature fits, else uint16 (2 bytes/cell, <= 65 533
# edges — virtually every real exact fit).  Same sentinels-at-the-top
# scheme, same order isomorphism; histograms address RAGGED per-feature
# slot ranges (``_cube_geometry``), so one wide feature costs only its own
# edges, never max-edges x width.

PACKED_COL = "__packed"
PACKED_NAN_CODE = 254
PACKED_NULL_CODE = 255
_MAX_PACKED_EDGES = 253
PACKED16_NAN_CODE = 65534
PACKED16_NULL_CODE = 65535
_MAX_PACKED16_EDGES = 65533


def _code_info(code_dtype: str):
    """(numpy code dtype, NaN code, NULL code, max edges) for a packed
    bin-code width."""
    if code_dtype == "u1":
        return np.uint8, PACKED_NAN_CODE, PACKED_NULL_CODE, _MAX_PACKED_EDGES
    if code_dtype == "u2":
        return (
            np.uint16,
            PACKED16_NAN_CODE,
            PACKED16_NULL_CODE,
            _MAX_PACKED16_EDGES,
        )
    raise ValueError(f"unknown packed code dtype: {code_dtype!r}")

# Reserved quiet-NaN payloads marking NULL cells in the packed float matrix.
_F32_CANON_NAN_BITS = np.uint32(0x7FC00000)
_F32_NULL_BITS = np.uint32(0x7FC00001)
_F64_CANON_NAN_BITS = np.uint64(0x7FF8000000000000)
_F64_NULL_BITS = np.uint64(0x7FF8000000000001)


def _dtype_info(dtype: str):
    if dtype == "f4":
        return np.float32, np.uint32, _F32_CANON_NAN_BITS, _F32_NULL_BITS
    if dtype == "f8":
        return np.float64, np.uint64, _F64_CANON_NAN_BITS, _F64_NULL_BITS
    raise ValueError(f"unknown packed dtype: {dtype!r}")


def _pack_binary(mat: "np.ndarray"):
    """One binary blob per matrix row, zero-copy via manual offsets."""
    import pyarrow as pa

    n, width = mat.shape
    row_bytes = width * mat.itemsize
    offsets = np.arange(0, (n + 1) * row_bytes, row_bytes, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.binary(),
        n,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(mat.tobytes())],
    )


def _unpack_binary(col, width: int, dtype) -> "np.ndarray":
    """(rows x width) matrix view over an Arrow binary column's data buffer."""
    flat = np.frombuffer(col.buffers()[2], dtype=dtype)
    start = col.offset  # combine() may hand us a sliced array
    return flat[start * width : (start + len(col)) * width].reshape(-1, width)


def pack_raw_features(
    df: DataFrame,
    feature_names: list[str],
    target_idx_col: str,
    dtype: str = "f4",
    packed_col: str = PACKED_COL,
) -> DataFrame:
    """(packed binary, target int) — the raw feature matrix as one blob per
    row.  The ONE wide Arrow conversion of the whole fit; everything
    downstream (edge placement, encoding, per-level histograms) reads the
    cheap 2-column packed relation.

    The features cross the JVM boundary as a single ``F.array`` column, not
    ~190 separate columns: Spark's Arrow writer moves one list field per row
    instead of one write per (row, column) — measured ~3x faster at width
    190 — and the Arrow list's flat values buffer IS the row-major matrix,
    recovered zero-copy on the Python side.  NULL elements survive as list
    inner nulls and become the reserved NULL bit pattern."""
    import pyarrow as pa

    names = list(feature_names)
    tcol = target_idx_col
    np_dtype, bits_dtype, canon_nan_bits, null_bits = _dtype_info(dtype)
    n_feat = len(names)
    elem_type = "float" if dtype == "f4" else "double"
    src = df.select(
        array_cast_expr(names, elem_type).alias("__arr"),
        target_idx_col,
    )

    def pack(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            flat = b.column("__arr").flatten()  # logical values, offset-safe
            vals = flat.to_numpy(zero_copy_only=False).astype(np_dtype, copy=True)
            bits = vals.view(bits_dtype)
            bits[np.isnan(vals)] = canon_nan_bits
            if flat.null_count:
                bits[flat.is_null().to_numpy(zero_copy_only=False)] = null_bits
            mat = np.ascontiguousarray(vals.reshape(n, n_feat))
            target = (
                b.column(tcol).to_numpy(zero_copy_only=False).astype(np.int32)
            )
            yield pa.RecordBatch.from_arrays(
                [_pack_binary(mat), pa.array(target, type=pa.int32())],
                names=[packed_col, tcol],
            )
        _trim_malloc()

    return src.mapInArrow(pack, f"{packed_col} binary, {tcol} int")


def _matrix_order_stats(full: "np.ndarray", names: list[str], g: int):
    """Per-feature order statistics over ONE partition's (rows × features)
    float matrix — the stage-1 numeric core shared by
    :func:`quantile_edges_packed` and :func:`partition_order_stats`
    (identical code → identical stats → identical edges).

    r12 kernel rewrite (guide §1.2 step 2, per-task work): one transpose
    up front so each feature's values are CONTIGUOUS (the row-major
    column slices strode 4 x width bytes — cache-hostile), and a full
    ``np.sort`` per feature instead of multi-kth ``np.partition``:
    numpy's vectorized sort beats introselect with ~stats_per_partition
    pivots at EVERY measured shape (19k rows: 1.6 ms partition vs 0.17 ms
    sort; 1M rows: 62 vs 12 ms) — per-partition kernel 0.355 -> 0.055 s
    at the 19k x 190 bench shape.  A sorted array trivially contains
    every exact k-th order statistic, so the emitted stats (and therefore
    the merged edges) are bit-identical; pinned by the edge-parity
    tests."""
    fullt = np.ascontiguousarray(full.T)
    feats, vals_out, gaps_out, vmax_out, n_out = [], [], [], [], []
    for j, name in enumerate(names):
        v = fullt[j]
        v = v[~np.isnan(v)]  # drops real NaN and the NULL sentinel alike
        if not v.size:
            continue
        n = v.size
        pos = np.unique(np.round(np.linspace(0, n - 1, min(g, n))).astype(np.int64))
        v.sort()
        stats = v[pos]
        gaps = np.diff(np.concatenate(([np.int64(-1)], pos))).astype(np.float64)
        feats.append(name)
        vals_out.append(stats)
        gaps_out.append(gaps)
        vmax_out.append(float(v[-1]))
        n_out.append(n)
    return feats, vals_out, gaps_out, vmax_out, n_out


def _np_list_array(chunks: list["np.ndarray"], np_dtype, pa_type):
    """Arrow list array from per-row numpy chunks WITHOUT boxing: one
    concatenate + an offsets vector instead of ``tolist()`` per chunk
    (which created ~stats_per_partition Python floats per
    (feature, partition) row — ~380k boxed objects per wide-fit stats
    task)."""
    import pyarrow as pa

    sizes = np.fromiter((c.size for c in chunks), dtype=np.int64, count=len(chunks))
    offsets = np.zeros(len(chunks) + 1, dtype=np.int32)
    np.cumsum(sizes, out=offsets[1:])
    flat = (
        np.concatenate(chunks) if len(chunks) > 1 else chunks[0]
    ).astype(np_dtype, copy=False)
    return pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()), pa.array(flat, type=pa_type)
    )


def _f64_list_array(chunks: list["np.ndarray"]):
    return _np_list_array(chunks, np.float64, __import__("pyarrow").float64())


# Stats side-channel column of the order-stats relations.
STATS_FEATURE = "__sf"


def partition_order_stats(
    df: DataFrame,
    feature_names: list[str],
    stats_per_partition: int,
    dtype: str = "f4",
) -> DataFrame:
    """Per-partition order-stats sketch pass (stats rows ONLY): the same
    per-partition order statistics over the same (dtype-converted) matrices
    — so the merged edges are bit-identical — but emitting ONLY the tiny
    stats rows (partitions × features, row-count-independent).  No packed
    blob is built and nothing is cached.

    This is pass 1 of the binned fit's two-scan flow (tree.py): a sketch
    pass for edges, then ONE fused pack+encode pass
    (:func:`pack_encode_features`) straight to uint8 codes — the XGBoost
    approx-tree architecture (quantile sketch + binning pass).  Versus the
    cache-the-raw-matrix flow it trades a second source scan for never
    materializing the 4/8-byte-per-cell raw relation: at 100 TB a rescan
    of compressed column-pruned parquet is cheaper than writing AND
    re-reading a cache several times that size, and peak executor memory
    drops to scan + the 1-byte/cell code cache.  Rows-only output also
    means the Arrow return stream is negligible — the pass pays one
    JVM→Arrow crossing of the matrix and nothing else.

    Transfer format (r12, guide §2.3 — the stats volume is partitions ×
    features × stats, the wide fit's whole collect/merge-shuffle price):
    stat VALUES ship at the matrix dtype (float for an f4 fit — every
    stat IS an f32 value, so the f64 upcast at the merge is exact) and
    the gap run-lengths ship NOT AT ALL — they are a pure function of
    the non-null count ``n`` and the stats budget ``g``
    (:func:`_linspace_gaps`), so both merges reconstruct them from the
    ``__sn`` column.  Together 4x fewer transfer bytes than the r11
    all-double format for shrunk fits, bit-identical edges (the merge
    core upcasts to f64 first)."""
    import pyarrow as pa

    names = list(feature_names)
    np_dtype, bits_dtype, canon_nan_bits, null_bits = _dtype_info(dtype)
    n_feat = len(names)
    g = int(stats_per_partition)
    elem_type = "float" if dtype == "f4" else "double"
    sv_pa = pa.float32() if dtype == "f4" else pa.float64()
    sv_np = np.float32 if dtype == "f4" else np.float64
    src = df.select(array_cast_expr(names, elem_type).alias("__arr"))

    def order_stats(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        mats: list["np.ndarray"] = []
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            flat = b.column("__arr").flatten()  # logical values, offset-safe
            vals = flat.to_numpy(zero_copy_only=False).astype(np_dtype, copy=True)
            bits = vals.view(bits_dtype)
            bits[np.isnan(vals)] = canon_nan_bits
            if flat.null_count:
                bits[flat.is_null().to_numpy(zero_copy_only=False)] = null_bits
            mats.append(np.ascontiguousarray(vals.reshape(n, n_feat)))
        if not mats:
            _trim_malloc()
            return
        full = np.concatenate(mats) if len(mats) > 1 else mats[0]
        mats.clear()  # `full` owns (or is) the data now; drop the batch refs
        feats, vals_out, gaps_out, vmax_out, n_out = _matrix_order_stats(
            full, names, g
        )
        del full
        if not feats:
            _trim_malloc()
            return
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(feats, type=pa.string()),
                _np_list_array(vals_out, sv_np, sv_pa),
                pa.array(vmax_out, type=pa.float64()),
                pa.array(n_out, type=pa.int64()),
            ],
            names=[STATS_FEATURE, "__sv", "__svx", "__sn"],
        )
        _trim_malloc()

    sv_sql = "float" if dtype == "f4" else "double"
    return src.mapInArrow(
        order_stats,
        f"{STATS_FEATURE} string, __sv array<{sv_sql}>, "
        "__svx double, __sn long",
    )


def pack_encode_features(
    df: DataFrame,
    feature_names: list[str],
    bin_edges: dict[str, list[float]],
    target_idx_col: str,
    dtype: str = "f4",
    packed_col: str = PACKED_COL,
    code_dtype: str = "u1",
) -> DataFrame:
    """Fused :func:`pack_raw_features` + :func:`encode_packed`: source
    batches → packed bin-code blobs DIRECTLY, never materializing the
    raw float blob.  Pass 2 of the binned two-scan flow (see
    :func:`partition_order_stats`); the level-0 histogram job materializes
    this relation into the persisted code cache, so a depth-d binned fit
    touches the source exactly twice and persists only ``code_dtype``'s
    1 (u1) or 2 (u2) bytes/cell.

    Bit-parity with the two-step composition: values are converted to the
    same ``dtype`` first and ``searchsorted`` upcasts them against the same
    float64 edges, NULLs (Arrow validity) map to the width's NULL code and
    NaNs to its NaN code exactly as ``encode_packed`` derives them
    from the raw blob's reserved bit patterns — asserted by
    ``tests/test_wide_fit.py``."""
    import pyarrow as pa

    np_code, nan_code, null_code, max_edges_cap = _code_info(code_dtype)
    if any(len(e) > max_edges_cap for e in bin_edges.values()):
        raise ValueError(
            f"pack_encode_features supports at most {max_edges_cap} "
            f"edges per feature with code_dtype={code_dtype!r}"
        )
    names = list(feature_names)
    tcol = target_idx_col
    np_dtype, _, _, _ = _dtype_info(dtype)
    n_feat = len(names)
    elem_type = "float" if dtype == "f4" else "double"
    edges_list = [np.asarray(bin_edges.get(f, ()), dtype=np.float64) for f in names]
    src = df.select(
        array_cast_expr(names, elem_type).alias("__arr"),
        target_idx_col,
    )

    def pack_encode(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            flat = b.column("__arr").flatten()  # logical values, offset-safe
            vals = flat.to_numpy(zero_copy_only=False).astype(np_dtype, copy=False)
            if flat.null_count:
                nullf = flat.is_null().to_numpy(zero_copy_only=False)
            else:
                nullf = np.zeros(vals.shape[0], dtype=bool)
            nanf = np.isnan(vals) & ~nullf
            mat = vals.reshape(n, n_feat)
            nullm = nullf.reshape(n, n_feat)
            nanm = nanf.reshape(n, n_feat)
            codes = np.empty((n, n_feat), dtype=np_code)
            for j in range(n_feat):
                ej = edges_list[j]
                if ej.size:
                    cj = np.searchsorted(ej, mat[:, j], side="left")
                    np.minimum(cj, ej.size - 1, out=cj)
                    col_codes = cj.astype(np_code)
                    col_codes[nanm[:, j]] = nan_code
                else:  # all-NULL/NaN feature: no candidates at all
                    col_codes = np.full(n, null_code, dtype=np_code)
                col_codes[nullm[:, j]] = null_code
                codes[:, j] = col_codes
            target = (
                b.column(tcol).to_numpy(zero_copy_only=False).astype(np.int32)
            )
            yield pa.RecordBatch.from_arrays(
                [_pack_binary(codes), pa.array(target, type=pa.int32())],
                names=[packed_col, tcol],
            )
        _trim_malloc()

    return src.mapInArrow(pack_encode, f"{packed_col} binary, {tcol} int")


def quantile_edges_packed(
    packed_df: DataFrame,
    feature_names: list[str],
    n_bins: int,
    stats_per_partition: int,
    dtype: str = "f4",
    packed_col: str = PACKED_COL,
) -> dict[str, list[float]]:
    """:func:`partition_quantile_edges` stage 1 reading the packed matrix
    (cheap 2-column transfer) + the shared stage-2 merge.  Emits the same
    per-partition order statistics, so edges are identical to the
    column-wise variant over the same values."""
    import pyarrow as pa

    names = list(feature_names)
    np_dtype, _, _, _ = _dtype_info(dtype)
    n_feat = len(names)
    g = int(stats_per_partition)

    def order_stats(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        mats = [
            _unpack_binary(b.column(packed_col), n_feat, np_dtype)
            for b in batches
            if b.num_rows
        ]
        if not mats:
            _trim_malloc()
            return
        full = np.concatenate(mats) if len(mats) > 1 else mats[0]
        mats.clear()  # `full` owns (or is) the data now; drop the batch refs
        feats, vals_out, gaps_out, vmax_out, n_out = _matrix_order_stats(
            full, names, g
        )
        del full
        if not feats:
            _trim_malloc()
            return
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(feats, type=pa.string()),
                _f64_list_array(vals_out),
                _f64_list_array(gaps_out),
                pa.array(vmax_out, type=pa.float64()),
                pa.array(n_out, type=pa.int64()),
            ],
            names=[FEATURE, "vals", "gaps", "vmax", "n"],
        )
        _trim_malloc()

    partials = packed_df.select(packed_col).mapInArrow(
        order_stats,
        f"{FEATURE} string, vals array<double>, gaps array<double>, vmax double, n long",
    )
    return _merge_edge_stats(partials, names, n_bins)


def distinct_edges_packed(
    packed_df: DataFrame,
    feature_names: list[str],
    max_distinct: int = _MAX_PACKED_EDGES,
    dtype: str = "f4",
    packed_col: str = PACKED_COL,
    packed: bool = True,
    with_counts: bool = False,
):
    """EXACT-mode candidate edges: every distinct non-NaN/non-NULL value per
    feature, provided every feature fits uint8 code space (``max_distinct``,
    253).  With these edges the packed path IS the reference's exact split
    search — ``encode_packed``'s snap-to-smallest-edge->=v is the identity on
    values that are themselves edges, so the emitted histogram relation is
    bit-identical to the exact melt's grouped relation.

    One ``mapInArrow`` pass emits per-partition distinct values (each
    partition's contribution capped at ``max_distinct + 1`` — enough to
    prove overflow); a feature-keyed distinct-merge bounds driver traffic at
    n_features rows.  Features whose TRUE distinct count exceeds the cap
    raise ``ValueError`` with guidance (set ``max_bins`` or use the melt
    path) rather than silently degrading.

    ``packed=False`` reads the COLUMNAR feature relation directly (its own
    array-column crossing, Arrow nulls arriving as NaN) instead of a packed
    raw blob — the first pass of exact mode's two-scan flow, so no raw
    cache exists there either.  The value multiset per feature is the same
    ``dtype``-converted set either way, and a distinct set is
    partitioning-independent, so edges are identical.

    ``with_counts=True`` returns ``(edges, total_rows)``: each partition's
    stats rows also carry its ROW count (not per-feature non-null), summed
    in the same merge job — the zero-extra-pass estimate for sizing the
    code cache's partitions (tree.py ``_coalesce_for_pack``)."""
    import pyarrow as pa

    names = list(feature_names)
    np_dtype, _, _, _ = _dtype_info(dtype)
    n_feat = len(names)
    cap = int(max_distinct)
    if not packed:
        elem_type = "float" if dtype == "f4" else "double"
        packed_df = packed_df.select(
            array_cast_expr(names, elem_type).alias("__arr")
        )

    def to_mat(b: "pa.RecordBatch") -> "np.ndarray":
        if packed:
            return _unpack_binary(b.column(packed_col), n_feat, np_dtype)
        flat = b.column("__arr").flatten()
        return (
            flat.to_numpy(zero_copy_only=False)
            .astype(np_dtype, copy=False)
            .reshape(b.num_rows, n_feat)
        )

    def partition_distinct(
        batches: Iterator["pa.RecordBatch"],
    ) -> Iterator["pa.RecordBatch"]:
        mats = [to_mat(b) for b in batches if b.num_rows]
        if not mats:
            _trim_malloc()
            return
        full = np.concatenate(mats) if len(mats) > 1 else mats[0]
        mats.clear()  # `full` owns (or is) the data now; drop the batch refs
        part_rows = int(full.shape[0])
        feats, vals_out, over_out = [], [], []
        for j, name in enumerate(names):
            v = full[:, j]
            v = v[~np.isnan(v)]  # drops real NaN and the NULL sentinel alike
            if not v.size:
                continue
            u = np.unique(v).astype(np.float64)
            feats.append(name)
            over_out.append(u.size > cap)
            vals_out.append(u[: cap + 1])
        del full
        if not feats:
            _trim_malloc()
            return
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(feats, type=pa.string()),
                pa.array([x.tolist() for x in vals_out], type=pa.list_(pa.float64())),
                pa.array(over_out, type=pa.bool_()),
                pa.array([part_rows] * len(feats), type=pa.int64()),
            ],
            names=[FEATURE, "vals", "overflow", "n"],
        )
        _trim_malloc()

    partials = packed_df.select(packed_col if packed else "__arr").mapInArrow(
        partition_distinct,
        f"{FEATURE} string, vals array<double>, overflow boolean, n long",
    )
    try:
        merged = (
            partials.select(
                FEATURE,
                "overflow",
                "n",
                F.posexplode_outer("vals").alias("__pos", "__v"),
            )
            .groupBy(FEATURE)
            .agg(
                F.max("overflow").alias("overflow"),
                F.count_distinct("__v").alias("__nd"),
                F.slice(F.sort_array(F.collect_set("__v")), 1, cap + 1).alias("vals"),
                # each (feature, partition) stats row explodes into one row per
                # distinct value, every copy carrying that partition's row count
                # — counting n only at __pos == 0 sums each partition ONCE.
                F.sum(
                    F.when(F.col("__pos") == 0, F.col("n")).otherwise(F.lit(0))
                ).alias("__tn"),
            )
            .collect()
        )
    except Exception as exc:  # pragma: no cover - needs a tiny maxResultSize
        # The per-feature edge rows are bounded at (cap+1) doubles each, so
        # this collect can only breach spark.driver.maxResultSize at extreme
        # width x cardinality (e.g. thousands of 65k-distinct features under
        # the uint16 cap).  Spark's error names the conf but not the cure —
        # re-raise with the operator-level one.
        if "maxResultSize" not in str(exc):
            raise
        raise ValueError(
            "exact-mode distinct-edge collect exceeded "
            "spark.driver.maxResultSize (width x distinct values per "
            "feature too large) — set max_bins for bounded quantile "
            "candidates, or raise spark.driver.maxResultSize"
        ) from exc
    too_wide = sorted(
        r[FEATURE] for r in merged if r["overflow"] or r["__nd"] > cap
    )
    if too_wide:
        raise ValueError(
            f"exact-mode packed fit needs <= {cap} distinct values per feature; "
            f"exceeded by {too_wide[:5]}{'...' if len(too_wide) > 5 else ''} — "
            "set max_bins for quantile-binned candidates or "
            "hist_method='expand' for the melt-based exact search"
        )
    edges = {name: [] for name in names}  # all-NULL/NaN features: no candidates
    for r in merged:
        edges[r[FEATURE]] = list(r["vals"])
    if with_counts:
        total_rows = max((int(r["__tn"]) for r in merged), default=0)
        return edges, total_rows
    return edges


def encode_packed(
    packed_df: DataFrame,
    feature_names: list[str],
    bin_edges: dict[str, list[float]],
    target_idx_col: str,
    dtype: str = "f4",
    packed_col: str = PACKED_COL,
    code_dtype: str = "u1",
) -> DataFrame:
    """Packed raw floats -> packed bin codes (1 byte/cell at u1, 2 at u2;
    no per-level ``searchsorted``).  Codes are ORDER-ISOMORPHIC to values:
    ``v <= edge_j <=> code(v) <= j`` (the first edge >= v sits at or before
    j iff v <= edge_j), so routing on codes is bit-equivalent to routing on
    raw values; NaN/NULL take the width's reserved top codes (see module
    notes)."""
    import pyarrow as pa

    np_code, nan_code, null_code, max_edges_cap = _code_info(code_dtype)
    if any(len(e) > max_edges_cap for e in bin_edges.values()):
        raise ValueError(
            f"encode_packed supports at most {max_edges_cap} edges per "
            f"feature with code_dtype={code_dtype!r}"
        )
    names = list(feature_names)
    tcol = target_idx_col
    np_dtype, bits_dtype, _, null_bits = _dtype_info(dtype)
    n_feat = len(names)
    edges_list = [np.asarray(bin_edges.get(f, ()), dtype=np.float64) for f in names]

    def encode(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            mat = _unpack_binary(b.column(packed_col), n_feat, np_dtype)
            codes = np.empty((n, n_feat), dtype=np_code)
            for j in range(n_feat):
                vals = mat[:, j]
                nullm = vals.view(bits_dtype) == null_bits
                nanm = np.isnan(vals) & ~nullm
                ej = edges_list[j]
                if ej.size:
                    cj = np.searchsorted(ej, vals, side="left")
                    np.minimum(cj, ej.size - 1, out=cj)
                    col_codes = cj.astype(np_code)
                    col_codes[nanm] = nan_code
                else:  # all-NULL/NaN feature: no candidates at all
                    col_codes = np.full(n, null_code, dtype=np_code)
                col_codes[nullm] = null_code
                codes[:, j] = col_codes
            target = b.column(tcol)
            yield pa.RecordBatch.from_arrays(
                [_pack_binary(codes), target.combine_chunks() if hasattr(target, "combine_chunks") else target],
                names=[packed_col, tcol],
            )
        _trim_malloc()

    return packed_df.select(packed_col, tcol).mapInArrow(
        encode, f"{packed_col} binary, {tcol} int"
    )


def edge_code(edges: list[float], threshold: float) -> int:
    """The bin code of a split threshold: its index among the feature's
    edges.  Code routing is bit-equivalent to value routing only at an
    edge, so a threshold that is not one raises ``ValueError`` rather
    than routing rows to the wrong child."""
    from bisect import bisect_left

    code = bisect_left(edges, threshold)
    if code >= len(edges) or edges[code] != threshold:
        raise ValueError(
            f"split threshold {threshold!r} is not a bin edge "
            f"(nearest edge index {code} of {len(edges)})"
        )
    return code


def route_codes(
    mat: "np.ndarray", splits: list[tuple], null_code: int = PACKED_NULL_CODE
) -> "np.ndarray":
    """Vectorized tree routing over the (rows x features) bin-code matrix
    (uint8 or uint16 — ``null_code`` names the width's NULL sentinel).

    ``splits`` lists internal nodes in parent-before-child order:
    ``(node_id, feature_pos, code_threshold, left_id, right_id)`` with -1
    for finalized (leaf) children.  Returns each row's pending-node id, or
    -1 for rows under finished leaves / NULL in a split feature — the exact
    semantics of ``DecisionTreeClassifier._routing_expr``."""
    node = np.zeros(mat.shape[0], dtype=np.int32)
    for nid, fpos, code_t, left_id, right_id in splits:
        idx = np.flatnonzero(node == nid)
        if not idx.size:
            continue
        c = mat[idx, fpos]
        lm = c <= code_t
        rm = (c > code_t) & (c != null_code)
        node[idx[lm]] = left_id
        node[idx[rm]] = right_id
        node[idx[~lm & ~rm]] = -1
    return node


class TreeRoute(NamedTuple):
    """One tree's share of a level pass over several trees' rows (a forest
    grown level-synchronously): its ``route_codes`` split list, the
    accumulator slot each of its pending nodes counts under, and the
    features it histograms as indices into the pass's feature list.
    ``slots=None`` keys the accumulators by node id; ``features=None``
    histograms every feature of the pass."""

    splits: list[tuple]
    slots: dict[int, int] | None = None
    features: list[int] | None = None


def _tree_routes(routing) -> dict[int, TreeRoute]:
    """``routing`` is a bare split list (the one-tree pass: every row is
    tree 0, keyed by node id, every feature histogrammed) or
    ``{tree_id: TreeRoute}``."""
    if isinstance(routing, dict):
        return routing
    return {0: TreeRoute(list(routing))}


def _tree_columns(route: TreeRoute, pos, n_feat: int, width: int):
    """``(matrix columns to gather or None, feature indices)`` of the
    features one tree histograms; None when they are the matrix as is."""
    feat = (
        np.arange(n_feat, dtype=np.int64)
        if route.features is None
        else np.asarray(route.features, dtype=np.int64)
    )
    cols = pos[feat]
    if cols.size == width and (cols == np.arange(width)).all():
        return None, feat
    return cols, feat


def _routed_rows(batches, packed_col, tcol, tree_col, width, code_dtype, routes):
    """Unpack each Arrow batch's code matrix and route every row with its
    own tree's splits.  Yields ``(tree_id, mat, target, slots)`` per tree
    present in the batch, keeping only the rows that land on a pending
    node; ``slots`` is each kept row's accumulator slot.  ``tree_col``
    None means every row belongs to tree 0; rows of trees absent from
    ``routes`` are skipped."""
    np_code, _, null_code, _ = _code_info(code_dtype)
    luts = {}
    for t, route in routes.items():
        if route.slots is None:
            luts[t] = None
            continue
        # index -1 (a row dropped by routing) reads the trailing -1
        lut = np.full(max(route.slots, default=0) + 2, -1, dtype=np.int32)
        for node, slot in route.slots.items():
            lut[node] = slot
        luts[t] = lut
    for batch in batches:
        if batch.num_rows == 0:
            continue
        mat = _unpack_binary(batch.column(packed_col), width, np_code)
        target = batch.column(tcol).to_numpy(zero_copy_only=False)
        groups = [(0, None)]
        if tree_col is not None:
            tree_ids = batch.column(tree_col).to_numpy(zero_copy_only=False)
            present = np.unique(tree_ids)
            if present.size == 1:
                groups = [(int(present[0]), None)]
            else:
                groups = [(int(t), np.flatnonzero(tree_ids == t)) for t in present]
        for t, rows in groups:
            route = routes.get(t)
            if route is None:
                continue
            m, y = (mat, target) if rows is None else (mat[rows], target[rows])
            slots = route_codes(m, route.splits, null_code=null_code)
            if luts[t] is not None:
                slots = luts[t][slots]
            keep = slots >= 0
            if not keep.any():
                continue
            if not keep.all():
                m, y, slots = m[keep], y[keep], slots[keep]
            yield t, m, y, slots


# Sentinel FEATURE value carrying per-node class totals through the
# histogram relation when emit_node_totals is requested (a user feature of
# this exact name would collide; the dunder makes that implausible).
DIST_FEATURE = "__dist__"


def packed_histogram_counts(
    packed_df: DataFrame,
    feature_names: list[str],
    n_classes: int,
    bin_edges: dict[str, list[float]],
    target_idx_col: str,
    routing_splits: list[tuple],
    node_col: str,
    packed_col: str = PACKED_COL,
    feature_positions: list[int] | None = None,
    matrix_width: int | None = None,
    emit_node_totals: bool = False,
    code_dtype: str = "u1",
    tree_col: str | None = None,
) -> DataFrame:
    """:func:`binned_histogram_counts` over the packed bin-code matrix
    (uint8 or uint16 per ``code_dtype``, matching the encode),
    with tree routing fused into the same numpy pass (``route_codes``) —
    the per-level cost is one 2-column transfer of the cached code relation
    plus bincounts; the emitted relation is identical.

    ``feature_names`` may be a SUBSET of the packed matrix (random-forest
    per-tree feature sampling): ``feature_positions`` gives each name's
    column index in the full matrix and ``matrix_width`` the full width —
    only the subset's columns are histogrammed, while ``routing_splits``
    keeps addressing full-matrix positions.

    ``emit_node_totals`` adds one ``DIST_FEATURE`` row per node carrying
    the node's full per-class row counts (feature-independent — NULL cells
    excluded from per-feature bins still count here).  The root
    distribution then rides the level-0 histogram instead of a separate
    job racing it to materialize the code cache.

    ``routing_splits`` may instead be ``{tree_id: TreeRoute}`` with
    ``tree_col`` naming each row's tree (a forest's level pass): rows are
    routed by their own tree's splits, histogram their own tree's
    features, and count under the route's slot ids, which key the output
    in place of node ids."""
    import pyarrow as pa

    names, lens, slot_off, flat_slots, edges_flat, edge_off = _cube_geometry(
        feature_names, bin_edges
    )
    tcol = target_idx_col
    ncol = node_col
    n_feat = len(names)
    width = matrix_width if matrix_width is not None else n_feat
    pos = (
        np.asarray(feature_positions, dtype=np.int64)
        if feature_positions is not None
        else np.arange(n_feat, dtype=np.int64)
    )
    routes = _tree_routes(routing_splits)

    count_fields = [pa.field(class_count_col(i), pa.int64()) for i in range(n_classes)]
    out_schema = pa.schema(
        [pa.field(ncol, pa.int32()), pa.field(FEATURE, pa.string()),
         pa.field(FEATURE_VALUE, pa.float64())]
        + count_fields
        + [pa.field("count_examples", pa.int64())]
    )
    spark_schema = (
        f"{ncol} int, {FEATURE} string, {FEATURE_VALUE} double, "
        + ", ".join(f"{class_count_col(i)} long" for i in range(n_classes))
        + ", count_examples long"
    )

    def histogram(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        acc, dist_acc = _accumulate_cubes(
            batches, packed_col, tcol, tree_col, routes, width, n_feat, pos,
            lens, slot_off, flat_slots, n_classes, emit_node_totals,
            code_dtype,
        )
        sparse = _sparsify_cubes(
            acc, dist_acc, names, lens, slot_off, edges_flat, edge_off,
            n_classes,
        )
        if sparse is None:
            _trim_malloc()
            return
        node_out, feat_out, value_out, class_out, total_out = sparse
        arrays = [
            pa.array(node_out, type=pa.int32()),
            pa.array(feat_out, type=pa.string()),
            pa.array(value_out, type=pa.float64()),
        ]
        for i in range(n_classes):
            arrays.append(pa.array(class_out[i], type=pa.int64()))
        arrays.append(pa.array(total_out, type=pa.int64()))
        yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)
        _trim_malloc()

    partials = packed_df.select(
        packed_col, tcol, *([tree_col] if tree_col else [])
    ).mapInArrow(histogram, spark_schema)
    return partials.groupBy(ncol, FEATURE, FEATURE_VALUE).agg(
        *[F.sum(class_count_col(i)).alias(class_count_col(i)) for i in range(n_classes)],
        F.sum("count_examples").alias("count_examples"),
    )


def _accumulate_cubes(
    batches, packed_col, tcol, tree_col, routes, width, n_feat, pos,
    lens, slot_off, flat_slots, n_classes, emit_node_totals, code_dtype="u1",
) -> tuple[dict[int, "np.ndarray"], dict[int, "np.ndarray"]]:
    """Route + bincount one partition's Arrow batches into per-slot flat
    count cubes (and per-slot class totals when requested) — the numeric
    core shared by the sparse-row and dense-cube emitters.  Slot addressing
    is RAGGED (``_cube_geometry``): feature j's counts land at
    ``slot_off[j] + bin``, its NaN bucket at ``slot_off[j] + lens[j]``.
    Each tree's rows (``_routed_rows``) fill only its own features' slots.

    r11 rewrite of the numeric pass (guide §4.2 — this loop IS the
    per-level cube job, the bench's dominant stage): the old form upcast
    the whole (rows × features) code matrix to int64 (an 8x memory-traffic
    blow-up on a memory-bandwidth-bound stage), then ran one boolean mask
    + two fancy-indexed copies PER PENDING NODE.  Now the slot index stays
    in the code dtype, the flat bin index is built int32 in place, invalid
    cells (NULL / edge-less features) are routed to a sentinel slot that
    is simply dropped after counting, and all nodes are counted by ONE
    ``bincount`` over a (node, slot) combined index — no per-node passes.
    Counts are exact integers either way; parity is pinned by the
    histogram relation tests and the golden fits."""
    np_code, nan_code, null_code, _ = _code_info(code_dtype)
    acc: dict[int, np.ndarray] = {}
    dist_acc: dict[int, np.ndarray] = {}
    flat_size = flat_slots * n_classes
    stride = flat_size + 1  # + the invalid-cell sentinel slot
    geometry = {}
    for t, route in routes.items():
        cols, feat = _tree_columns(route, pos, n_feat, width)
        tl = lens[feat]
        geometry[t] = (
            cols,
            slot_off[feat].astype(np.int32)[None, :],
            np.maximum(tl - 1, 0).astype(np_code)[None, :],
            tl.astype(np_code)[None, :],  # lens <= max edges < code max
            np.flatnonzero(tl == 0),
        )

    for t, mat, target, nodes in _routed_rows(
        batches, packed_col, tcol, tree_col, width, code_dtype, routes
    ):
        cols, feat_base32, cap_c, nan_slot_c, no_edge_cols = geometry[t]
        target32 = target.astype(np.int32)
        if cols is not None:
            mat = mat[:, cols]  # histogram only this tree's columns
        is_nan = mat == nan_code
        invalid = mat == null_code
        if no_edge_cols.size:
            invalid[:, no_edge_cols] = True
        idx = np.minimum(mat, cap_c)  # code dtype; nan/null fixed below
        np.copyto(idx, np.broadcast_to(nan_slot_c, idx.shape), where=is_nan)
        flat = feat_base32 + idx  # int32 (rows × features), in-place below
        flat *= n_classes
        flat += target32[:, None]
        flat[invalid] = flat_size  # sentinel slot, dropped after bincount
        uniq, inv = np.unique(nodes, return_inverse=True)
        if uniq.size * stride <= np.iinfo(np.int32).max:
            comb = flat
            comb += (inv.astype(np.int32) * np.int32(stride))[:, None]
        else:  # u2 codes × many pending nodes can overflow int32
            comb = flat.astype(np.int64)
            comb += (inv.astype(np.int64) * stride)[:, None]
        counts = np.bincount(comb.ravel(), minlength=uniq.size * stride)
        counts = counts.reshape(uniq.size, stride)
        if emit_node_totals:
            dist = np.bincount(
                inv.astype(np.int64) * n_classes + target32,
                minlength=uniq.size * n_classes,
            ).reshape(uniq.size, n_classes)
        for k in range(uniq.size):
            nv = int(uniq[k])
            a = acc.get(nv)
            if a is None:
                acc[nv] = counts[k, :flat_size].copy()
            else:
                a += counts[k, :flat_size]
            if emit_node_totals:
                d = dist_acc.get(nv)
                if d is None:
                    dist_acc[nv] = dist[k].copy()
                else:
                    d += dist[k]
    return acc, dist_acc


def _sparsify_cubes(
    acc, dist_acc, names, lens, slot_off, edges_flat, edge_off, n_classes
):
    """Per-node flat cubes -> the sparse histogram row arrays (node,
    feature, value, class counts, total).  Shared by the worker-side sparse
    emitter and the driver-side dense-cube merge so both produce the exact
    same rows.  Ragged layout: a nonzero flat slot maps back to its feature
    by searchsorted over ``slot_off`` (features with zero edges own one
    always-empty NaN slot and can never surface here)."""
    node_out, feat_out, value_out, total_out = [], [], [], []
    class_out: list[list[np.ndarray]] = [[] for _ in range(n_classes)]
    name_arr = np.asarray(names, dtype=object)
    flat_slots = int(slot_off[-1])
    for nv, a in acc.items():
        cube = a.reshape(flat_slots, n_classes)
        totals = cube.sum(axis=1)
        nz = np.flatnonzero(totals)
        if nz.size == 0:
            continue
        fj = np.searchsorted(slot_off, nz, side="right") - 1
        sj = nz - slot_off[fj]
        vals = edges_flat[edge_off[fj] + np.minimum(sj, lens[fj] - 1)]
        vals = np.where(sj == lens[fj], np.nan, vals)
        node_out.append(np.full(nz.size, nv, dtype=np.int32))
        feat_out.append(name_arr[fj])
        value_out.append(vals)
        for i in range(n_classes):
            class_out[i].append(cube[nz, i])
        total_out.append(totals[nz])
    for nv, d in dist_acc.items():
        node_out.append(np.full(1, nv, dtype=np.int32))
        feat_out.append(np.asarray([DIST_FEATURE], dtype=object))
        value_out.append(np.zeros(1, dtype=np.float64))
        for i in range(n_classes):
            class_out[i].append(d[i : i + 1])
        total_out.append(np.asarray([int(d.sum())], dtype=np.int64))
    if not node_out:
        return None
    return (
        np.concatenate(node_out),
        np.concatenate(feat_out),
        np.concatenate(value_out),
        [np.concatenate(class_out[i]) for i in range(n_classes)],
        np.concatenate(total_out),
    )


def _cube_geometry(feature_names, bin_edges):
    """RAGGED per-feature slot layout shared by every cube producer and
    consumer: feature j owns flat slots ``[slot_off[j], slot_off[j+1])`` —
    its ``lens[j]`` edge slots plus ONE NaN slot — so a single wide feature
    (uint16 exact mode: up to 65 533 edges) costs only its own edges in the
    cube, never max-edges × width.  ``edges_flat``/``edge_off`` hold the
    concatenated candidate edges for value lookup on the way back out.
    Producers (worker accumulate) and consumers (driver merge) derive this
    from the same (feature_names, bin_edges), so blob layouts agree by
    construction."""
    names = list(feature_names)
    lens = np.array([len(bin_edges.get(f, ())) for f in names], dtype=np.int64)
    slot_off = np.zeros(len(names) + 1, dtype=np.int64)
    np.cumsum(lens + 1, out=slot_off[1:])
    flat_slots = int(slot_off[-1])
    edge_off = np.zeros(len(names) + 1, dtype=np.int64)
    np.cumsum(lens, out=edge_off[1:])
    if names:
        edges_flat = np.concatenate(
            [
                np.asarray(bin_edges.get(f, ()), dtype=np.float64).reshape(-1)
                for f in names
            ]
        )
    else:
        edges_flat = np.zeros(0, dtype=np.float64)
    return names, lens, slot_off, flat_slots, edges_flat, edge_off


def packed_histogram_cubes(
    packed_df: DataFrame,
    feature_names: list[str],
    n_classes: int,
    bin_edges: dict[str, list[float]],
    target_idx_col: str,
    routing_splits: list[tuple],
    node_col: str,
    packed_col: str = PACKED_COL,
    feature_positions: list[int] | None = None,
    matrix_width: int | None = None,
    emit_node_totals: bool = False,
    code_dtype: str = "u1",
    tree_col: str | None = None,
) -> DataFrame:
    """:func:`packed_histogram_counts` with DENSE per-node output: one row
    per (partition, node) carrying the whole flat count cube as int64
    bytes (+ the per-class node totals appended when ``emit_node_totals``).

    This is the histogram-allreduce shape XGBoost/LightGBM use: partial
    cubes stream straight to the central merge
    (:func:`merge_cubes_to_counts_pdf`, exact int64 addition) with NO
    shuffle stage — the level job becomes a single mapInArrow stage plus a
    partitions × nodes × cube collect.  Only sane when that product is
    small (local mode, shallow trees); the sparse + distributed-agg form
    remains the path when partitions × nodes grows (the caller guards).
    Routing (one tree or ``{tree_id: TreeRoute}`` with ``tree_col``) is
    as in :func:`packed_histogram_counts`."""
    import pyarrow as pa

    names, lens, slot_off, flat_slots, _, _ = _cube_geometry(
        feature_names, bin_edges
    )
    tcol = target_idx_col
    n_feat = len(names)
    width = matrix_width if matrix_width is not None else n_feat
    pos = (
        np.asarray(feature_positions, dtype=np.int64)
        if feature_positions is not None
        else np.arange(n_feat, dtype=np.int64)
    )
    routes = _tree_routes(routing_splits)

    def cubes(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        acc, dist_acc = _accumulate_cubes(
            batches, packed_col, tcol, tree_col, routes, width, n_feat, pos,
            lens, slot_off, flat_slots, n_classes, emit_node_totals,
            code_dtype,
        )
        if not acc:
            return
        nodes_out, blobs = [], []
        for nv, a in acc.items():
            blob = a.tobytes()
            if emit_node_totals:
                d = dist_acc.get(nv)
                if d is None:
                    d = np.zeros(n_classes, dtype=np.int64)
                blob += d.tobytes()
            nodes_out.append(nv)
            blobs.append(blob)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.asarray(nodes_out, dtype=np.int32), type=pa.int32()),
                pa.array(blobs, type=pa.binary()),
            ],
            names=[node_col, "__cube"],
        )
        _trim_malloc()

    return packed_df.select(
        packed_col, tcol, *([tree_col] if tree_col else [])
    ).mapInArrow(cubes, f"{node_col} int, __cube binary")


def merge_cubes_to_counts_pdf(
    rows,
    feature_names: list[str],
    n_classes: int,
    bin_edges: dict[str, list[float]],
    node_col: str,
    emit_node_totals: bool = False,
):
    """Driver-side merge of collected dense cubes -> (counts pdf,
    distributions).  Integer addition only, then the SAME sparsification
    the worker-side emitter uses — the resulting rows are exactly what
    :func:`packed_histogram_counts` + the distributed SUM would produce.
    ``distributions`` is {node: [(class_idx, count), ...]} (count > 0,
    class-ascending) or None when not requested."""
    import pandas as pd

    names, lens, slot_off, flat_slots, edges_flat, edge_off = _cube_geometry(
        feature_names, bin_edges
    )
    flat_size = flat_slots * n_classes
    merged: dict[int, np.ndarray] = {}
    for r in rows:
        nv = int(r[0])
        # r[1] may be a Row bytearray or a zero-copy Arrow buffer slice
        # (split_finder._arrow_cube_rows) — frombuffer reads either without
        # copying.
        cube = np.frombuffer(r[1], dtype=np.int64)
        m = merged.get(nv)
        if m is None:
            merged[nv] = cube.copy()
        else:
            m += cube
    acc = {nv: v[:flat_size] for nv, v in merged.items()}
    distributions = None
    if emit_node_totals:
        distributions = {
            nv: [
                (i, int(c))
                for i, c in enumerate(v[flat_size : flat_size + n_classes])
                if c > 0
            ]
            for nv, v in merged.items()
        }
    sparse = _sparsify_cubes(
        acc, {}, names, lens, slot_off, edges_flat, edge_off, n_classes
    )
    if sparse is None:
        return None, distributions
    node_out, feat_out, value_out, class_out, total_out = sparse
    from efficient_trees_spark.functions.exprs import class_count_col

    data = {
        node_col: node_out.astype(np.int32),
        FEATURE: feat_out,
        FEATURE_VALUE: value_out,
    }
    for i in range(n_classes):
        data[class_count_col(i)] = class_out[i]
    data["count_examples"] = total_out
    return pd.DataFrame(data), distributions


# ----------------------------------------------- pair cubes (two levels)
#
# A depth-d level-wise fit runs one histogram pass per level — at 100 TB
# that is d full passes over the code cache, and locally d × the ~0.3 s
# mapInArrow job floor (r12 measured).  When the fit is NARROW enough, one
# pass can serve TWO levels: accumulate the joint (feature_a bin,
# feature_b bin) PAIR histogram per pending node.  Level d's per-feature
# histograms are exact marginals of the pair cube, and once level d's
# splits are chosen, each CHILD's level-(d+1) per-feature histograms are
# exact conditional slices (sum over the split feature's left/right slot
# range) — all int64 additions over the same routed rows a real
# level-(d+1) pass would count, so both levels' split decisions are
# bit-identical to the one-level-per-pass form (test-pinned).
#
# Geometry: the pair axes give every feature lens[j] + 2 slots — its
# edges, the NaN bucket (a real candidate, routes right), and a NULL slot
# (rows NULL in the ROUTING feature leave both children; rows NULL in the
# histogrammed feature are excluded from its bins — the NULL slot keeps
# every row addressable on both axes so marginals and conditionals are
# exact, and is dropped on the way out).  Cube volume is S2^2 x classes
# x 8 B per (partition, node) where S2 = sum(lens + 2): ~470 KB at the
# 4-feature/32-bin bench shape, ~700 MB at 190 features — the caller's
# byte budget decides (wide fits keep the one-level pass), and per-row
# accumulate work is width x the single-level kernel (trivial at the
# widths that fit the budget).


def _pair_geometry(feature_names, bin_edges):
    """(names, lens, slot2_off, s2) — the lens+2 pair-axis layout."""
    names = list(feature_names)
    lens = np.array([len(bin_edges.get(f, ())) for f in names], dtype=np.int64)
    slot2_off = np.zeros(len(names) + 1, dtype=np.int64)
    np.cumsum(lens + 2, out=slot2_off[1:])
    return names, lens, slot2_off, int(slot2_off[-1])


def pair_cube_bytes(feature_names, bin_edges, n_classes: int) -> int:
    """int64 bytes of ONE node's pair cube — the caller's budget unit."""
    _, _, _, s2 = _pair_geometry(feature_names, bin_edges)
    return s2 * s2 * n_classes * 8


def packed_histogram_pair_cubes(
    packed_df: DataFrame,
    feature_names: list[str],
    n_classes: int,
    bin_edges: dict[str, list[float]],
    target_idx_col: str,
    routing_splits: list[tuple],
    node_col: str,
    packed_col: str = PACKED_COL,
    feature_positions: list[int] | None = None,
    matrix_width: int | None = None,
    code_dtype: str = "u1",
    tree_col: str | None = None,
) -> DataFrame:
    """Dense per-(partition, node) PAIR cubes: one row per node carrying
    the flat ``int64[s2 * s2 * n_classes]`` joint histogram as bytes.
    Same routing (``route_codes``, one tree or a forest's trees) and row
    set as :func:`packed_histogram_cubes`; only the accumulation is joint,
    over the pairs of each row's own tree's features."""
    import pyarrow as pa

    names, lens, slot2_off, s2 = _pair_geometry(feature_names, bin_edges)
    np_code, nan_code, null_code, _ = _code_info(code_dtype)
    tcol = target_idx_col
    n_feat = len(names)
    width = matrix_width if matrix_width is not None else n_feat
    pos = (
        np.asarray(feature_positions, dtype=np.int64)
        if feature_positions is not None
        else np.arange(n_feat, dtype=np.int64)
    )
    routes = _tree_routes(routing_splits)
    geometry = {}
    for t, route in routes.items():
        cols, feat = _tree_columns(route, pos, n_feat, width)
        tl = lens[feat]
        geometry[t] = (
            cols,
            slot2_off[feat][None, :],
            np.maximum(tl - 1, 0).astype(np_code)[None, :],
            tl[None, :],  # NaN slot
            (tl + 1)[None, :],  # NULL slot
        )

    def cubes(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        stride = s2 * s2 * n_classes
        acc: dict[int, np.ndarray] = {}

        for t, mat, target, nodes in _routed_rows(
            batches, packed_col, tcol, tree_col, width, code_dtype, routes
        ):
            cols, base2, cap_c, nan_slot, null_slot = geometry[t]
            target = target.astype(np.int64)
            if cols is not None:
                mat = mat[:, cols]
            is_nan = mat == nan_code
            is_null = mat == null_code
            idx = np.minimum(mat, cap_c).astype(np.int64)
            np.copyto(idx, np.broadcast_to(nan_slot, idx.shape), where=is_nan)
            np.copyto(idx, np.broadcast_to(null_slot, idx.shape), where=is_null)
            fa = base2 + idx  # (rows x F) flat pair-axis slot, int64
            fb = fa * n_classes + target[:, None]
            uniq, inv = np.unique(nodes, return_inverse=True)
            node_off = inv.astype(np.int64) * stride
            total = uniq.size * stride
            counts = np.zeros(total, dtype=np.int64)
            for a in range(fa.shape[1]):
                comb = fb + (fa[:, a] * (s2 * n_classes) + node_off)[:, None]
                counts += np.bincount(comb.ravel(), minlength=total)
            counts = counts.reshape(uniq.size, stride)
            for k in range(uniq.size):
                nv = int(uniq[k])
                a_acc = acc.get(nv)
                if a_acc is None:
                    acc[nv] = counts[k].copy()
                else:
                    a_acc += counts[k]
        if not acc:
            _trim_malloc()
            return
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(
                    np.asarray(list(acc.keys()), dtype=np.int32),
                    type=pa.int32(),
                ),
                pa.array([a.tobytes() for a in acc.values()], type=pa.binary()),
            ],
            names=[node_col, "__cube"],
        )
        _trim_malloc()

    return packed_df.select(
        packed_col, tcol, *([tree_col] if tree_col else [])
    ).mapInArrow(cubes, f"{node_col} int, __cube binary")


def merge_pair_cubes(rows) -> dict[int, "np.ndarray"]:
    """Driver merge of collected pair-cube rows -> {node: flat int64}."""
    merged: dict[int, np.ndarray] = {}
    for r in rows:
        nv = int(r[0])
        cube = np.frombuffer(r[1], dtype=np.int64)
        m = merged.get(nv)
        if m is None:
            merged[nv] = cube.copy()
        else:
            m += cube
    return merged


def _pair_keep_index(lens, slot2_off) -> "np.ndarray":
    """Flat pair-axis slots that survive into the l+1 (edges + NaN) cube
    layout: every feature's edge slots plus its NaN slot, NULL dropped."""
    return np.concatenate(
        [
            slot2_off[j] + np.arange(lens[j] + 1, dtype=np.int64)
            for j in range(len(lens))
        ]
    ) if len(lens) else np.zeros(0, dtype=np.int64)


def pair_cubes_to_level_counts(
    cubes: dict[int, "np.ndarray"],
    feature_names: list[str],
    n_classes: int,
    bin_edges: dict[str, list[float]],
    node_col: str,
    emit_node_totals: bool = False,
):
    """Level-d outputs from merged pair cubes: the SAME (counts pdf,
    distributions) :func:`merge_cubes_to_counts_pdf` yields — the
    per-feature histogram is the pair cube's DIAGONAL (slot s of feature a
    pairs with slot s of a itself exactly once per row whose a-cell sits
    there, so the diagonal is the exact marginal of every histogrammed
    feature and zero for a feature the node's tree does not histogram),
    and a node's class totals are one histogrammed feature's diagonal
    block summed (each row once, NULL slot included) — the elementwise
    max over features' block totals, since the others are zero."""
    names, lens, slot2_off, s2 = _pair_geometry(feature_names, bin_edges)
    _, lens1, slot_off, flat_slots, edges_flat, edge_off = _cube_geometry(
        feature_names, bin_edges
    )
    keep = _pair_keep_index(lens, slot2_off)
    acc: dict[int, np.ndarray] = {}
    distributions = None
    if emit_node_totals:
        distributions = {}
    for nv, flat in cubes.items():
        cube = flat.reshape(s2, s2, n_classes)
        marg = np.einsum("iic->ic", cube)  # (s2, classes) diagonal view
        acc[nv] = np.ascontiguousarray(marg[keep]).reshape(-1)
        if emit_node_totals:
            totals = np.add.reduceat(marg, slot2_off[:-1], axis=0).max(axis=0)
            distributions[nv] = [
                (i, int(c)) for i, c in enumerate(totals) if c > 0
            ]
    sparse = _sparsify_cubes(
        acc, {}, names, lens1, slot_off, edges_flat, edge_off, n_classes
    )
    if sparse is None:
        return None, distributions
    import pandas as pd

    node_out, feat_out, value_out, class_out, total_out = sparse
    data = {
        node_col: node_out.astype(np.int32),
        FEATURE: feat_out,
        FEATURE_VALUE: value_out,
    }
    for i in range(n_classes):
        data[class_count_col(i)] = class_out[i]
    data["count_examples"] = total_out
    return pd.DataFrame(data), distributions


def pair_cubes_to_child_counts(
    cubes: dict[int, "np.ndarray"],
    chosen: list[dict],
    feature_names: list[str],
    n_classes: int,
    bin_edges: dict[str, list[float]],
    node_col: str,
):
    """Level-(d+1) counts pdf from the pair cubes and level d's CHOSEN
    splits: for node n split on feature a* at threshold t (always a
    finite, non-maximal edge — the last-candidate filter drops the NaN
    and max candidates), the left child's per-feature histograms are the
    cube rows for a*'s edge slots <= code(t) summed, the right child's
    the edge slots > code(t) plus a*'s NaN slot (NaN routes right); a*'s
    NULL slot is excluded (those rows leave both children) — exactly the
    rows ``route_codes`` would route in a real level-(d+1) pass, so the
    emitted relation is bit-identical to one.  A threshold that is not
    one of the feature's edges raises ``ValueError``."""
    names, lens, slot2_off, s2 = _pair_geometry(feature_names, bin_edges)
    _, lens1, slot_off, flat_slots, edges_flat, edge_off = _cube_geometry(
        feature_names, bin_edges
    )
    keep = _pair_keep_index(lens, slot2_off)
    pos_of = {name: j for j, name in enumerate(names)}
    acc: dict[int, np.ndarray] = {}
    for best in chosen:
        nv = best["node_id"]
        flat = cubes.get(nv)
        if flat is None:
            continue
        cube = flat.reshape(s2, s2, n_classes)
        j = pos_of[best["feature"]]
        t = edge_code(bin_edges[best["feature"]], best["threshold"])
        a0 = int(slot2_off[j])
        left = cube[a0 : a0 + t + 1].sum(axis=0)  # edge slots 0..t
        # edge slots t+1..l-1 plus the NaN slot at l; NULL (l+1) excluded
        right = cube[a0 + t + 1 : a0 + int(lens[j]) + 1].sum(axis=0)
        acc[2 * nv + 1] = np.ascontiguousarray(left[keep]).reshape(-1)
        acc[2 * nv + 2] = np.ascontiguousarray(right[keep]).reshape(-1)
    sparse = _sparsify_cubes(
        acc, {}, names, lens1, slot_off, edges_flat, edge_off, n_classes
    )
    if sparse is None:
        return None
    import pandas as pd

    node_out, feat_out, value_out, class_out, total_out = sparse
    data = {
        node_col: node_out.astype(np.int32),
        FEATURE: feat_out,
        FEATURE_VALUE: value_out,
    }
    for i in range(n_classes):
        data[class_count_col(i)] = class_out[i]
    data["count_examples"] = total_out
    return pd.DataFrame(data)
