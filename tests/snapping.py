"""Test-side quantile binning: snap a frame's features to a binned fit's
edges, so an EXACT fit on the snapped frame must grow the binned fit's tree
(binning maps each value to the smallest edge >= it, which preserves the
``value <= edge`` row count at every edge)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snap_to_edges(df: DataFrame, edges: dict[str, list[float]]) -> DataFrame:
    """Every column named in ``edges`` becomes the smallest edge >= its
    value.  Values are rounded to float32 first, as a shrunk binned fit
    sees them (its edges are placed on, and its encode compares, f32
    values).  NULL stays NULL and NaN stays NaN; a feature with no edges
    (all NULL/NaN) passes through; other columns are kept as they are."""
    cols = []
    for name in df.columns:
        if name not in edges:
            cols.append(F.col(name))
            continue
        value = F.col(name).cast("float").cast("double")
        if not edges[name]:
            cols.append(value.alias(name))
            continue
        arr = F.array(*[F.lit(e).cast("double") for e in edges[name]])
        snapped = F.array_min(F.filter(arr, lambda e: e >= value))
        cols.append(F.when(F.isnan(value), value).otherwise(snapped).alias(name))
    return df.select(*cols)
