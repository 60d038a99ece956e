"""Arrow-batched histograms for the packed level loop, the tree's fast fit
path.

The exact melt (`split_finder.find_best_splits_per_node`) unpivots features to
long form and hash-aggregates — pure Catalyst, ideal at modest width.  At the
reference's real benchmark width (~190 float features,
``/root/reference/examples/memory_profiling.py:78-79``) the unpivot's Expand
multiplies every row 190x through the codegen'd aggregate: measured ~6.5 s
per tree level at just 60k rows (sf0.01), i.e. ~65 s per level at sf0.1.

This module is the LightGBM-style alternative, used by every binned fit and
by exact fits whose distinct values fit uint16 code space.  Two streaming
scans build it: an edge pass (per-partition order statistics merged into
quantile edges, or every distinct value in exact mode) and a fused
pack + encode pass that crosses the JVM boundary ONCE per row as a single
array column and emits packed bin codes (1 or 2 bytes/cell), the one
persisted training relation.  Every level is then one ``mapInArrow`` pass
over that 2-column relation: tree routing (``route_codes``) plus one flat
``bincount`` into per-node (feature, bin, class) count cubes, merged on the
driver (dense cubes, pair cubes that score two levels per pass) or by a
tiny hash aggregate (sparse rows).  The three emitters share one pass
builder (``_level_pass``), the driver decoders one cube sum and one
counts-frame tail, and every counts relation goes on to
``split_finder``'s one scorer.

Exactness: counts are integers and the emitted ``feature_value`` is the
edge itself, so every downstream gain is bit-identical to the exact melt
over the same (snapped) values — asserted by ``tests/test_wide_fit.py``
parity tests.  NULLs are dropped per-feature (reference F1 semantics; Arrow
validity bitmaps distinguish NULL from NaN), NaN keeps its own bucket
sorting greatest, exactly like the melt path.

At 100 TB: the map side streams each partition's code batches once and
keeps only an O(nodes x features x bins) int64 accumulator (~100 KB/node at
190x33x2); what leaves a task is partial histograms, not rows — the same
volume bound the melt path achieves via map-side combine but without paying
row expansion CPU.  The driver never sees anything bigger than the merged
histogram relation.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Iterator, NamedTuple

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from efficient_trees_spark.functions.exprs import class_count_col
from efficient_trees_spark.operators.split_finder import (
    FEATURE,
    FEATURE_VALUE,
    NODE_COL,
    TARGET_IDX,
)


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
    pages and ``malloc_trim`` hands back the glibc arena tails; each
    silently skipped where unavailable.  Cost is ~1 ms per task —
    negligible next to any Arrow pass over a partition."""
    try:
        import pyarrow as pa

        pa.default_memory_pool().release_unused()
    except Exception:
        pass
    try:
        import ctypes

        ctypes.CDLL("libc.so.6").malloc_trim(0)
    except Exception:
        pass


@lru_cache(maxsize=4096)
def _linspace_gaps(n: int, g: int) -> "np.ndarray":
    """Reconstruct the per-(partition, feature) gap run-lengths from the
    non-null count alone: the stage-1 kernel places its order statistics
    at ``pos = unique(round(linspace(0, n-1, min(g, n))))`` — a pure
    function of ``(n, g)`` — so the gaps ``diff([-1] ++ pos)`` never need
    to cross the wire at all (r12, guide §2.3: the gaps array was HALF the
    stats-relation bytes).  This expression is kept token-identical to
    ``_matrix_order_stats``, so reconstructed gaps are bit-identical to the
    ones stage 1 would have computed.  Cached: within one fit almost every
    (partition, feature) pair shares the same ``n`` (counts differ only by
    the ~1% null cells), so a few thousand entries cover a fit; the cached
    arrays are shared by every caller and therefore read-only."""
    pos = np.unique(np.round(np.linspace(0, n - 1, min(g, n))).astype(np.int64))
    gaps = np.diff(np.concatenate(([np.int64(-1)], pos))).astype(np.float64)
    gaps.setflags(write=False)
    return gaps


def _reconstructed_gaps(vals, n: int, g: int) -> "np.ndarray":
    """:func:`_linspace_gaps` for one stats row, checked against the row's
    order statistics: a gaps array of any other length would silently
    mis-weight the merge (e.g. a numpy on the merge side that places
    ``linspace`` positions differently from the stage-1 executors), so it
    raises instead."""
    gaps = _linspace_gaps(int(n), int(g))
    if gaps.size != len(vals):
        raise ValueError(
            f"reconstructed {gaps.size} gap run-lengths for {len(vals)} order "
            f"statistics (n={int(n)}, stats_per_partition={int(g)}): the "
            "stats were not produced with this stats_per_partition"
        )
    return gaps


def _merge_feature_edge_stats(
    vals_list, gaps_list, vmax_list, n_list, n_bins: int
) -> list[float]:
    """Weighted merge of ONE feature's per-partition order statistics into
    its sorted edge list — the single numeric core shared by the Spark
    ``applyInPandas`` merge and the driver-local merge, so both produce
    bit-identical edges.  Concatenation order of the partition stats is
    immaterial: equal values permute only among themselves under the stable
    argsort, and the SELECTED entries are values, not indices."""
    # Explicit f64 upcast: stat values arrive as float32 for an f4 fit
    # (the narrow transfer format — an exact upcast), and the cumulative
    # weights must accumulate in f64 regardless.
    all_vals = np.concatenate([np.asarray(x, dtype=np.float64) for x in vals_list])
    all_gaps = np.concatenate(gaps_list)
    order = np.argsort(all_vals, kind="stable")
    sv = all_vals[order]
    cw = np.cumsum(all_gaps[order])
    total = float(np.sum(np.asarray(n_list, dtype=np.int64)))
    targets = np.array([k / n_bins for k in range(1, n_bins)]) * total
    idx = np.minimum(np.searchsorted(cw, targets, side="left"), sv.size - 1)
    edges = set(sv[idx].tolist()) | {float(max(vmax_list))}
    return sorted(edges)


def merge_edge_stats_rows(
    rows, feature_names: list[str], n_bins: int, stats_per_partition: int,
):
    """Driver-local stage-2 merge over COLLECTED stats rows
    ``(feature, vals, vmax, n)`` (:func:`partition_order_stats`), the
    gaps reconstructed driver-side from ``n`` and ``stats_per_partition``
    (:func:`_reconstructed_gaps`).  The per-partition stats volume is
    partitions × features × stats values (KBs at any corpus size: it does
    not grow with rows), so collecting it is cluster-safe, and skipping the
    feature-keyed shuffle + applyInPandas of
    :func:`merge_order_stats_distributed` saves a whole Spark job.  Same
    numeric core — edges are bit-identical.  Returns ``(edges, counts)``:
    ``counts`` is ``{feature: total_n}``, the summed per-partition
    non-null counts — the caller-side row estimate for sizing the
    persisted code cache's partitions, at no extra pass."""
    g = int(stats_per_partition)
    by_feature: dict[str, list[list]] = {}
    for feature, vals, vmax, n in rows:
        acc = by_feature.setdefault(feature, [[], [], [], []])
        acc[0].append(np.asarray(vals, dtype=np.float64))
        acc[1].append(_reconstructed_gaps(vals, n, g))
        acc[2].append(float(vmax))
        acc[3].append(int(n))
    del rows
    edges_map = {
        name: (
            _merge_feature_edge_stats(*by_feature[name], n_bins)
            if name in by_feature
            else []
        )
        for name in feature_names
    }
    counts = {
        name: int(sum(by_feature[name][3])) if name in by_feature else 0
        for name in feature_names
    }
    return edges_map, counts


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
    stats_per_partition: int,
):
    """Cluster-scale stage-2 merge over :func:`partition_order_stats`
    output: a feature-keyed shuffle + ``applyInPandas`` merge so the
    driver collects only F merged edge rows instead of partitions ×
    features stats rows.  Same numeric core as
    :func:`merge_edge_stats_rows` (``_merge_feature_edge_stats``) —
    edges are bit-identical; tree.py switches here when the raw stats
    volume would approach ``spark.driver.maxResultSize``.  The gaps are
    reconstructed per row from ``n`` and ``stats_per_partition`` (the
    stage-1 ``g``; :func:`_reconstructed_gaps`) — they never cross the
    shuffle (r12).  Returns ``(edges, counts)`` as
    :func:`merge_edge_stats_rows` does, the counts riding the same merge
    job."""
    import pandas as pd

    g = int(stats_per_partition)

    def merge(pdf: "pd.DataFrame") -> "pd.DataFrame":
        vals_list = list(pdf["vals"])
        gaps_list = [
            _reconstructed_gaps(v, n, g) for v, n in zip(vals_list, pdf["n"])
        ]
        edges = _merge_feature_edge_stats(
            vals_list, gaps_list, list(pdf["vmax"]), list(pdf["n"]), n_bins,
        )
        return pd.DataFrame(
            {
                FEATURE: [pdf[FEATURE].iloc[0]],
                "edges": [edges],
                "total_n": [int(pdf["n"].sum())],
            }
        )

    rows = (
        stats_df.select(
            F.col(STATS_FEATURE).alias(FEATURE),
            F.col("__sv").alias("vals"),
            F.col("__svx").alias("vmax"),
            F.col("__sn").alias("n"),
        )
        .groupBy(FEATURE)
        .applyInPandas(
            merge, f"{FEATURE} string, edges array<double>, total_n long"
        )
        .collect()
    )
    found = {row[FEATURE]: list(row["edges"]) for row in rows}
    edges_map = {name: found.get(name, []) for name in feature_names}
    counts = {row[FEATURE]: int(row["total_n"]) for row in rows}
    return edges_map, {name: counts.get(name, 0) for name in feature_names}


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
# Representation: row-major uint8 (or uint16 past 253 edges) bin codes.
# The edge and encode passes read the features as one array column; in the
# order-stats pass NULL is a reserved quiet-NaN BIT PATTERN (real NaNs are
# canonicalized first — both are NaN to comparisons, so both drop out of
# edge placement).  In code space NULL and NaN are the reserved top codes
# of the chosen width.  Tree routing runs vectorized in numpy inside the
# histogram pass (``route_codes``) instead of as a JVM routing column,
# preserving the routing semantics bit-for-bit: left = code <= t (NULL and
# NaN codes both fail), right = code > t excluding NULL (NaN routes right,
# matching Spark's NaN-sorts-greatest).
#
# Code width is a function of the edges (:func:`_code_info`): uint8 (1
# byte/cell, <= 253 edges) whenever every feature fits, else uint16 (2
# bytes/cell, <= 65 533 edges — virtually every real exact fit).  Same
# sentinels-at-the-top scheme, same order isomorphism; histograms address
# RAGGED per-feature slot ranges (``_cube_geometry``), so one wide feature
# costs only its own edges, never max-edges x width.

PACKED_COL = "__packed"
PACKED_NAN_CODE = 254
PACKED_NULL_CODE = 255
_MAX_PACKED_EDGES = 253
PACKED16_NAN_CODE = 65534
PACKED16_NULL_CODE = 65535
_MAX_PACKED16_EDGES = 65533


class _Codes(NamedTuple):
    """The bin-code width of a fit: numpy dtype and reserved codes."""

    dtype: np.dtype
    nan: int
    null: int


def _code_info(bin_edges: dict[str, list[float]]) -> _Codes:
    """The bin codes of ``bin_edges``: uint8 while every feature fits
    253 edges, else uint16.  The encode and every level pass read it
    from the same (whole) edges dict, so they agree by construction."""
    max_edges = max((len(e) for e in bin_edges.values()), default=0)
    if max_edges <= _MAX_PACKED_EDGES:
        return _Codes(np.dtype(np.uint8), PACKED_NAN_CODE, PACKED_NULL_CODE)
    if max_edges <= _MAX_PACKED16_EDGES:
        return _Codes(np.dtype(np.uint16), PACKED16_NAN_CODE, PACKED16_NULL_CODE)
    raise ValueError(
        f"bin codes support at most {_MAX_PACKED16_EDGES} edges per "
        f"feature, got {max_edges}"
    )

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


def _matrix_order_stats(full: "np.ndarray", names: list[str], g: int):
    """Per-feature order statistics over ONE partition's (rows × features)
    float matrix — the stage-1 numeric core of :func:`partition_order_stats`.
    Returns ``(features, stats, maxima, counts)``; the gap run-lengths are
    not emitted (the merges rebuild them from the counts,
    :func:`_linspace_gaps`).

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
    feats, vals_out, vmax_out, n_out = [], [], [], []
    for j, name in enumerate(names):
        v = fullt[j]
        v = v[~np.isnan(v)]  # drops real NaN and the NULL sentinel alike
        if not v.size:
            continue
        n = v.size
        pos = np.unique(np.round(np.linspace(0, n - 1, min(g, n))).astype(np.int64))
        v.sort()
        feats.append(name)
        vals_out.append(v[pos])
        vmax_out.append(float(v[-1]))
        n_out.append(n)
    return feats, vals_out, vmax_out, n_out


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
        feats, vals_out, vmax_out, n_out = _matrix_order_stats(full, names, g)
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
    dtype: str = "f4",
) -> DataFrame:
    """Source batches → packed bin-code blobs (1 or 2 bytes/cell, by the
    edges: :func:`_code_info`), never materializing a raw float blob.
    Pass 2 of the two-scan flow (see :func:`partition_order_stats`); the
    fit persists this relation as its code cache, so a depth-d fit
    touches the source exactly twice.

    Each value maps to the index of the smallest edge >= it (values are
    converted to ``dtype`` first; ``searchsorted`` upcasts them against the
    float64 edges).  Codes are therefore ORDER-ISOMORPHIC to values:
    ``v <= edge_j <=> code(v) <= j``, so routing on codes is bit-equivalent
    to routing on raw values.  NULLs (Arrow validity) take the width's NULL
    code and NaNs its NaN code (see the section notes).  The class index
    rides along in ``TARGET_IDX``, the column every level pass reads."""
    import pyarrow as pa

    np_code, nan_code, null_code = _code_info(bin_edges)
    names = list(feature_names)
    np_dtype, _, _, _ = _dtype_info(dtype)
    n_feat = len(names)
    elem_type = "float" if dtype == "f4" else "double"
    edges_list = [np.asarray(bin_edges.get(f, ()), dtype=np.float64) for f in names]
    src = df.select(
        array_cast_expr(names, elem_type).alias("__arr"),
        TARGET_IDX,
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
                b.column(TARGET_IDX).to_numpy(zero_copy_only=False).astype(np.int32)
            )
            yield pa.RecordBatch.from_arrays(
                [_pack_binary(codes), pa.array(target, type=pa.int32())],
                names=[PACKED_COL, TARGET_IDX],
            )
        _trim_malloc()

    return src.mapInArrow(pack_encode, f"{PACKED_COL} binary, {TARGET_IDX} int")


def distinct_edges_packed(
    df: DataFrame,
    feature_names: list[str],
    max_distinct: int = _MAX_PACKED_EDGES,
    dtype: str = "f4",
):
    """EXACT-mode candidate edges: every distinct non-NaN/non-NULL value per
    feature, provided every feature fits ``max_distinct`` (the tree passes
    the uint16 cap, 65 533).  With these edges the packed path IS the
    reference's exact split search — the encode's snap-to-smallest-edge->=v
    (:func:`pack_encode_features`) is the identity on values that are
    themselves edges, so the emitted histogram relation is bit-identical to
    the exact melt's grouped relation.

    One ``mapInArrow`` pass emits per-partition distinct values; a
    partition that alone holds more than ``max_distinct`` of a feature's
    values ships that feature's overflow flag and no values, since the
    union overflows too.  A feature-keyed distinct-merge bounds driver
    traffic at n_features rows.  Features whose TRUE distinct count
    exceeds the cap raise ``ValueError`` with guidance (set ``max_bins``)
    rather than silently degrading.

    The pass reads the columnar feature relation as one array column
    (Arrow nulls arriving as NaN) — the first pass of exact mode's
    two-scan flow, so no raw float cache exists.  A distinct set is
    partitioning-independent.

    Returns ``(edges, total_rows)``: each partition's stats rows also
    carry its ROW count (not per-feature non-null), summed in the same
    merge job — the zero-extra-pass estimate for sizing the code cache's
    partitions (tree.py ``_coalesce_for_pack``)."""
    import pyarrow as pa

    names = list(feature_names)
    np_dtype, _, _, _ = _dtype_info(dtype)
    n_feat = len(names)
    cap = int(max_distinct)
    elem_type = "float" if dtype == "f4" else "double"

    def to_mat(b: "pa.RecordBatch") -> "np.ndarray":
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
            vals_out.append(u if u.size <= cap else u[:0])
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

    partials = df.select(array_cast_expr(names, elem_type).alias("__arr")).mapInArrow(
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
                # — counting n only at __pos == 0 sums each partition ONCE (an
                # overflowing partition's empty list explodes to one NULL
                # __pos, counted as its first).
                F.sum(
                    F.when(
                        F.coalesce(F.col("__pos"), F.lit(0)) == 0, F.col("n")
                    ).otherwise(F.lit(0))
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
            "set max_bins for quantile-binned candidates"
        )
    edges = {name: [] for name in names}  # all-NULL/NaN features: no candidates
    for r in merged:
        edges[r[FEATURE]] = list(r["vals"])
    total_rows = max((int(r["__tn"]) for r in merged), default=0)
    return edges, total_rows


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
    semantics of the melt's routing column
    (``split_finder.find_best_splits_per_node``)."""
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


def compile_routing_splits(
    node: dict,
    feature_names: list[str],
    bin_edges: dict[str, list[float]],
    node_id: int = 0,
    out: list | None = None,
) -> list[tuple]:
    """Flatten a partial tree into the parent-before-child split list
    :func:`route_codes` consumes: ``(node_id, feature_pos,
    code_threshold, left_id, right_id)`` per internal node, -1 for
    finalized (leaf) children.  Thresholds (always bin edges) translate
    to their edge index (:func:`edge_code`, which raises on a threshold
    that is not an edge); code comparisons are bit-equivalent to value
    comparisons by the encode's order isomorphism
    (:func:`pack_encode_features`)."""
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
    compile_routing_splits(left, feature_names, bin_edges, lid, out)
    compile_routing_splits(right, feature_names, bin_edges, rid, out)
    return out


class TreeRoute(NamedTuple):
    """One tree's share of a level pass (``{tree_id: TreeRoute}``; a root
    level of one tree is ``{0: TreeRoute([], {0: 0})}``): its
    ``route_codes`` split list (:func:`compile_routing_splits`), the
    accumulator slot each of its pending nodes counts under (the level's
    ``split_finder._slot_layout``), and the features it histograms as
    indices into the pass's feature list.  ``features=None`` histograms
    every feature of the pass."""

    splits: list[tuple]
    slots: dict[int, int]
    features: list[int] | None = None


class _TreeAxes(NamedTuple):
    """One tree's columns and slot layout in a level pass."""

    cols: "np.ndarray | None"  # matrix columns it histograms; None: all, in order
    base: "np.ndarray"  # (1, F_t) int32: each feature's first flat slot
    cap: "np.ndarray"  # (1, F_t) code dtype: each feature's last edge code
    nan_slot: "np.ndarray"  # (1, F_t) code dtype: its NaN slot = its edge count
    no_edges: "np.ndarray"  # its features with no edges at all


def _level_pass(
    packed_df: DataFrame,
    bin_edges: dict[str, list[float]],
    lens: "np.ndarray",
    offsets: "np.ndarray",
    routes: dict[int, TreeRoute],
    kernel,
    schema: str,
    feature_positions: list[int] | None,
    matrix_width: int | None,
    tree_col: str | None,
) -> DataFrame:
    """The ``mapInArrow`` pass over the code relation shared by the three
    level emitters, in the code width of ``bin_edges`` (the dict the
    encode was given).  Feature j has ``lens[j]`` edges and its slots
    start at ``offsets[j]``; ``feature_positions`` places the features in
    a matrix ``matrix_width`` wide (forest feature bagging; None: they are
    the matrix).  ``kernel(rows, axes, codes)`` turns one partition's
    routed ``(tree_id, mat, target, slots)`` rows, the code matrix
    narrowed to the tree's own columns, into record batches of Spark
    ``schema``; ``codes`` is the width (:func:`_code_info`)."""
    codes = _code_info(bin_edges)
    n_feat = len(lens)
    width = matrix_width if matrix_width is not None else n_feat
    pos = (
        np.asarray(feature_positions, dtype=np.int64)
        if feature_positions is not None
        else np.arange(n_feat, dtype=np.int64)
    )
    axes: dict[int, _TreeAxes] = {}
    for t, route in routes.items():
        feat = (
            np.arange(n_feat, dtype=np.int64)
            if route.features is None
            else np.asarray(route.features, dtype=np.int64)
        )
        cols = pos[feat]
        if cols.size == width and (cols == np.arange(width)).all():
            cols = None
        tl = lens[feat]
        axes[t] = _TreeAxes(
            cols,
            offsets[feat].astype(np.int32)[None, :],
            np.maximum(tl - 1, 0).astype(codes.dtype)[None, :],
            tl.astype(codes.dtype)[None, :],  # lens <= max edges < code max
            np.flatnonzero(tl == 0),
        )

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        yield from kernel(
            _routed_rows(batches, tree_col, width, codes, routes, axes), axes, codes
        )
        _trim_malloc()

    return packed_df.select(
        PACKED_COL, TARGET_IDX, *([tree_col] if tree_col else [])
    ).mapInArrow(run, schema)


def _routed_rows(batches, tree_col, width, codes, routes, axes):
    """Unpack each Arrow batch's code matrix and route every row with its
    own tree's splits.  Yields ``(tree_id, mat, target, slots)`` per tree
    present in the batch, keeping only the rows that land on a pending
    node and only the columns the tree histograms (``axes``); ``slots`` is
    each kept row's accumulator slot.  ``tree_col`` None means every row
    belongs to tree 0; rows of trees absent from ``routes`` are skipped."""
    luts = {}
    for t, route in routes.items():
        # index -1 (a row dropped by routing) reads the trailing -1
        lut = np.full(max(route.slots, default=0) + 2, -1, dtype=np.int32)
        for node, slot in route.slots.items():
            lut[node] = slot
        luts[t] = lut
    for batch in batches:
        if batch.num_rows == 0:
            continue
        mat = _unpack_binary(batch.column(PACKED_COL), width, codes.dtype)
        target = batch.column(TARGET_IDX).to_numpy(zero_copy_only=False)
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
            slots = luts[t][route_codes(m, route.splits, null_code=codes.null)]
            keep = slots >= 0
            if not keep.any():
                continue
            if not keep.all():
                m, y, slots = m[keep], y[keep], slots[keep]
            if axes[t].cols is not None:
                m = m[:, axes[t].cols]
            yield t, m, y, slots


def _add_into(acc: dict[int, "np.ndarray"], key, counts: "np.ndarray") -> None:
    """``acc[key] += counts``, copying on first sight (``counts`` may be a
    view of a scratch or transport buffer)."""
    key = int(key)
    a = acc.get(key)
    if a is None:
        acc[key] = counts.copy()
    else:
        a += counts


def packed_histogram_counts(
    packed_df: DataFrame,
    feature_names: list[str],
    n_classes: int,
    bin_edges: dict[str, list[float]],
    routes: dict[int, TreeRoute],
    feature_positions: list[int] | None = None,
    matrix_width: int | None = None,
    tree_col: str | None = None,
) -> DataFrame:
    """(node, feature, feature_value, class_*_count, count_examples) — the
    counts relation the exact melt builds with unpivot + groupBy — as
    merged partial histograms over the packed bin-code matrix (uint8 or
    uint16, by the edges), with tree routing
    fused into the same numpy pass (``route_codes``): the per-level cost is
    one 2-column transfer of the cached code relation plus bincounts.

    ``routes`` is ``{tree_id: TreeRoute}`` with ``tree_col`` naming each
    row's tree (a forest's level pass; one tree needs no ``tree_col``):
    rows are routed by their own tree's splits, histogram their own tree's
    features, and count under the route's slot ids, which key the output
    in place of node ids.  ``feature_names`` may be a SUBSET of the packed
    matrix (random-forest per-tree feature sampling): ``feature_positions``
    gives each name's column index in the full matrix and ``matrix_width``
    the full width — only the subset's columns are histogrammed, while the
    routing splits keep addressing full-matrix positions.

    Every row's ``FEATURE`` is a name from ``feature_names``, so any user
    feature name is safe."""
    import pyarrow as pa

    names, lens, slot_off, flat_slots, edges_flat, edge_off = _cube_geometry(
        feature_names, bin_edges
    )
    count_cols = [class_count_col(i) for i in range(n_classes)]
    out_schema = pa.schema(
        [pa.field(NODE_COL, pa.int32()), pa.field(FEATURE, pa.string()),
         pa.field(FEATURE_VALUE, pa.float64())]
        + [pa.field(c, pa.int64()) for c in count_cols]
        + [pa.field("count_examples", pa.int64())]
    )
    spark_schema = (
        f"{NODE_COL} int, {FEATURE} string, {FEATURE_VALUE} double, "
        + ", ".join(f"{c} long" for c in count_cols)
        + ", count_examples long"
    )

    def histogram(rows, axes, codes) -> Iterator["pa.RecordBatch"]:
        acc = _accumulate_cubes(rows, axes, flat_slots, n_classes, codes)
        sparse = _sparsify_cubes(
            acc, names, lens, slot_off, edges_flat, edge_off, n_classes
        )
        if sparse is None:
            return
        node_out, feat_out, value_out, class_out, total_out = sparse
        columns = [node_out, feat_out, value_out, *class_out, total_out]
        yield pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(columns, out_schema)],
            schema=out_schema,
        )

    partials = _level_pass(
        packed_df, bin_edges, lens, slot_off, routes, histogram, spark_schema,
        feature_positions, matrix_width, tree_col,
    )
    return partials.groupBy(NODE_COL, FEATURE, FEATURE_VALUE).agg(
        *[F.sum(c).alias(c) for c in count_cols],
        F.sum("count_examples").alias("count_examples"),
    )


def _accumulate_cubes(
    rows, axes, flat_slots, n_classes, codes
) -> dict[int, "np.ndarray"]:
    """Bincount one partition's routed rows (:func:`_level_pass`) into
    per-slot flat count cubes — the numeric core shared by the sparse-row
    and dense-cube emitters.
    Slot addressing is RAGGED (``_cube_geometry``): feature j's counts
    land at ``slot_off[j] + bin``, its NaN bucket at ``slot_off[j] +
    lens[j]``.  Each tree's rows fill only its own features' slots.

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
    acc: dict[int, np.ndarray] = {}
    flat_size = flat_slots * n_classes
    stride = flat_size + 1  # + the invalid-cell sentinel slot
    for t, mat, target, nodes in rows:
        ax = axes[t]
        target32 = target.astype(np.int32)
        is_nan = mat == codes.nan
        invalid = mat == codes.null
        if ax.no_edges.size:
            invalid[:, ax.no_edges] = True
        idx = np.minimum(mat, ax.cap)  # code dtype; nan/null fixed below
        np.copyto(idx, np.broadcast_to(ax.nan_slot, idx.shape), where=is_nan)
        flat = ax.base + idx  # int32 (rows × features), in-place below
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
        for k in range(uniq.size):
            _add_into(acc, uniq[k], counts[k, :flat_size])
    return acc


def _sparsify_cubes(acc, names, lens, slot_off, edges_flat, edge_off, n_classes):
    """Per-node flat cubes -> the sparse histogram row arrays (node,
    feature, value, class counts, total).  Shared by the worker-side sparse
    emitter and the driver-side cube decoders so both produce the exact
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


def _cube_batch(cubes: dict[int, bytes]) -> "pa.RecordBatch":
    """One (node, cube bytes) row per accumulator slot: the output batch of
    the dense and pair cube passes (Spark schema ``NODE_COL int, __cube
    binary``)."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [
            pa.array(np.fromiter(cubes, dtype=np.int32, count=len(cubes))),
            pa.array(list(cubes.values()), type=pa.binary()),
        ],
        names=[NODE_COL, "__cube"],
    )


def arrow_cube_rows(tbl) -> list[tuple[int, "object"]]:
    """(slot, cube-buffer) pairs from the ``toArrow()`` collect of a dense
    or pair cube pass: :func:`_cube_batch` read back.  Arrow moves the
    binary column in columnar IPC batches instead of py4j row pickling,
    and each cube is a zero-copy slice of the column's data buffer
    (``np.frombuffer``-ready): the driver never holds more than the IPC
    table plus one int64 accumulator per node.  Transport/accounting
    only, same numbers."""
    out: list[tuple[int, object]] = []
    for batch in tbl.to_batches():
        nodes = batch.column(0).to_pylist()
        bin_arr = batch.column(1)
        for i, nv in enumerate(nodes):
            out.append((nv, bin_arr[i].as_buffer()))
    return out


def packed_histogram_cubes(
    packed_df: DataFrame,
    feature_names: list[str],
    n_classes: int,
    bin_edges: dict[str, list[float]],
    routes: dict[int, TreeRoute],
    feature_positions: list[int] | None = None,
    matrix_width: int | None = None,
    tree_col: str | None = None,
) -> DataFrame:
    """:func:`packed_histogram_counts` with DENSE per-node output: one row
    per (partition, node) carrying the whole flat count cube as int64
    bytes, exactly ``flat_slots * n_classes * 8`` of them.

    This is the histogram-allreduce shape XGBoost/LightGBM use: partial
    cubes stream straight to the central merge
    (:func:`merge_cubes_to_counts_pdf`, exact int64 addition) with NO
    shuffle stage — the level job becomes a single mapInArrow stage plus a
    partitions × nodes × cube collect.  Only sane when that product is
    small (local mode, shallow trees); the sparse + distributed-agg form
    remains the path when partitions × nodes grows (the caller guards).
    Routing and feature subsets are as in :func:`packed_histogram_counts`."""
    _, lens, slot_off, flat_slots, _, _ = _cube_geometry(feature_names, bin_edges)

    def cubes(rows, axes, codes) -> Iterator["pa.RecordBatch"]:
        acc = _accumulate_cubes(rows, axes, flat_slots, n_classes, codes)
        if acc:
            yield _cube_batch({nv: a.tobytes() for nv, a in acc.items()})

    return _level_pass(
        packed_df, bin_edges, lens, slot_off, routes, cubes,
        f"{NODE_COL} int, __cube binary", feature_positions, matrix_width, tree_col,
    )


def merge_cube_rows(rows) -> dict[int, "np.ndarray"]:
    """Driver merge of collected (node, cube bytes) rows of a dense or
    pair cube pass -> ``{node: flat int64}``, exact int64 addition.  A
    row's bytes may be a Row bytearray or a zero-copy Arrow buffer slice
    (:func:`arrow_cube_rows`) — frombuffer reads either without
    copying."""
    merged: dict[int, np.ndarray] = {}
    for r in rows:
        _add_into(merged, r[0], np.frombuffer(r[1], dtype=np.int64))
    return merged


def _cube_counts_pdf(acc, feature_names, bin_edges, n_classes):
    """Per-node flat (edges + NaN) cubes -> the counts pdf, exactly the
    rows :func:`packed_histogram_counts` + the distributed SUM would
    produce for them, or None when every cube is empty: the driver-side
    tail of every cube decoder."""
    import pandas as pd

    names, lens, slot_off, _, edges_flat, edge_off = _cube_geometry(
        feature_names, bin_edges
    )
    sparse = _sparsify_cubes(
        acc, names, lens, slot_off, edges_flat, edge_off, n_classes
    )
    if sparse is None:
        return None
    node_out, feat_out, value_out, class_out, total_out = sparse
    data = {NODE_COL: node_out, FEATURE: feat_out, FEATURE_VALUE: value_out}
    for i in range(n_classes):
        data[class_count_col(i)] = class_out[i]
    data["count_examples"] = total_out
    return pd.DataFrame(data)


def merge_cubes_to_counts_pdf(
    rows,
    feature_names: list[str],
    n_classes: int,
    bin_edges: dict[str, list[float]],
):
    """Driver-side merge of collected dense cubes -> the counts pdf (None
    when every cube is empty).  Integer addition only, then the SAME
    sparsification the worker-side emitter uses — the resulting rows are
    exactly what :func:`packed_histogram_counts` + the distributed SUM
    would produce."""
    return _cube_counts_pdf(
        merge_cube_rows(rows), feature_names, bin_edges, n_classes
    )


# ----------------------------------------------- pair cubes (two levels)
#
# A depth-d level-wise fit runs one histogram pass per level — at 100 TB
# that is d full passes over the code cache, and locally d × the ~0.22 s
# empty-mapInArrow job floor (4 vCPUs, `treebench --trace 1`).  When the
# fit is NARROW enough, one pass can serve TWO levels: accumulate the
# joint (feature_a bin, feature_b bin) PAIR histogram per pending node.
# Level d's per-feature histograms are exact marginals of the pair cube,
# and once level d's splits are chosen, each CHILD's level-(d+1)
# per-feature histograms are exact conditional slices (sum over the split
# feature's left/right slot range) — all int64 additions over the same
# routed rows a real level-(d+1) pass would count, so both levels' split
# decisions are bit-identical to the one-level-per-pass form (test-pinned).
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
    routes: dict[int, TreeRoute],
    feature_positions: list[int] | None = None,
    matrix_width: int | None = None,
    tree_col: str | None = None,
) -> DataFrame:
    """Dense per-(partition, node) PAIR cubes: one row per node carrying
    the flat ``int64[s2 * s2 * n_classes]`` joint histogram as bytes.
    Same routing (``route_codes``, one tree or a forest's trees) and row
    set as :func:`packed_histogram_cubes`; only the accumulation is joint,
    over the pairs of each row's own tree's features."""
    _, lens, slot2_off, s2 = _pair_geometry(feature_names, bin_edges)
    stride = s2 * s2 * n_classes

    def cubes(rows, axes, codes) -> Iterator["pa.RecordBatch"]:
        null_slot = {t: ax.nan_slot.astype(np.int64) + 1 for t, ax in axes.items()}
        acc: dict[int, np.ndarray] = {}
        for t, mat, target, nodes in rows:
            ax = axes[t]
            target = target.astype(np.int64)
            is_nan = mat == codes.nan
            is_null = mat == codes.null
            idx = np.minimum(mat, ax.cap).astype(np.int64)
            np.copyto(idx, np.broadcast_to(ax.nan_slot, idx.shape), where=is_nan)
            np.copyto(idx, np.broadcast_to(null_slot[t], idx.shape), where=is_null)
            fa = ax.base + idx  # (rows x F) flat pair-axis slot, int64
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
                _add_into(acc, uniq[k], counts[k])
        if acc:
            yield _cube_batch({nv: a.tobytes() for nv, a in acc.items()})

    return _level_pass(
        packed_df, bin_edges, lens, slot2_off, routes, cubes,
        f"{NODE_COL} int, __cube binary", feature_positions, matrix_width, tree_col,
    )


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
):
    """Level-d counts pdf from merged pair cubes: the SAME pdf
    :func:`merge_cubes_to_counts_pdf` yields — the per-feature histogram
    is the pair cube's DIAGONAL (slot s of feature a pairs with slot s of
    a itself exactly once per row whose a-cell sits there, so the diagonal
    is the exact marginal of every histogrammed feature and zero for a
    feature the node's tree does not histogram)."""
    _, lens, slot2_off, s2 = _pair_geometry(feature_names, bin_edges)
    keep = _pair_keep_index(lens, slot2_off)
    acc: dict[int, np.ndarray] = {}
    for nv, flat in cubes.items():
        cube = flat.reshape(s2, s2, n_classes)
        marg = np.einsum("iic->ic", cube)  # (s2, classes) diagonal view
        acc[nv] = np.ascontiguousarray(marg[keep]).reshape(-1)
    return _cube_counts_pdf(acc, feature_names, bin_edges, n_classes)


def pair_cubes_to_child_counts(
    cubes: dict[int, "np.ndarray"],
    children: dict[int, tuple[dict, bool]],
    feature_names: list[str],
    n_classes: int,
    bin_edges: dict[str, list[float]],
):
    """Level-(d+1) counts pdf from the pair cubes and level d's CHOSEN
    splits.  ``children`` maps each child to count (its key in the
    output) to ``(split, is_left)``: its parent's split dict, whose
    ``node_id`` keys the parent's cube.  For a parent split on feature a*
    at threshold t (always
    a finite, non-maximal edge — the last-candidate filter drops the NaN
    and max candidates), the left child's per-feature histograms are the
    cube rows for a*'s edge slots <= code(t) summed, the right child's
    the edge slots > code(t) plus a*'s NaN slot (NaN routes right); a*'s
    NULL slot is excluded (those rows leave both children) — exactly the
    rows ``route_codes`` would route in a real level-(d+1) pass, so the
    emitted relation is bit-identical to one.  A threshold that is not
    one of the feature's edges raises ``ValueError``."""
    names, lens, slot2_off, s2 = _pair_geometry(feature_names, bin_edges)
    keep = _pair_keep_index(lens, slot2_off)
    pos_of = {name: j for j, name in enumerate(names)}
    acc: dict[int, np.ndarray] = {}
    for key, (best, is_left) in children.items():
        flat = cubes.get(best["node_id"])
        if flat is None:
            continue
        j = pos_of[best["feature"]]
        t = edge_code(bin_edges[best["feature"]], best["threshold"])
        a0 = int(slot2_off[j])
        if is_left:  # edge slots 0..t
            side = slice(a0, a0 + t + 1)
        else:  # edge slots t+1..l-1 plus the NaN slot at l; NULL (l+1) excluded
            side = slice(a0 + t + 1, a0 + int(lens[j]) + 1)
        cube = flat.reshape(s2, s2, n_classes)
        acc[key] = np.ascontiguousarray(cube[side].sum(axis=0)[keep]).reshape(-1)
    return _cube_counts_pdf(acc, feature_names, bin_edges, n_classes)
