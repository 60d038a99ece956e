"""Dump each bench query's formatted physical plan to plans/<round>/<q>_<tag>.txt.

Optimization-round evidence artifact: one file per query so before/after
diffs are reviewable per query (PLANS.md remains the single-file digest).

Usage: python tools/bench_plans.py <round> <before|after> [sf_dir] [name_filter]

``round`` names the optimization round (e.g. ``r12``): it is the output
directory under ``plans/`` and the OPTIMIZATION_<round>.md the headers
point at.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from efficient_trees_spark.session import get_spark  # noqa: E402

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    round_tag = sys.argv.pop(1)
    tag = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    name_filter = sys.argv[3] if len(sys.argv) > 3 else ""
    out_dir = os.path.join(_REPO, "plans", round_tag)
    os.makedirs(out_dir, exist_ok=True)

    import bench

    spark = get_spark(app_name=f"{round_tag}-plans")
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name, fn in bench.BENCH_QUERIES.items():
        if name_filter and name_filter not in name:
            continue
        prep = getattr(fn, "prepare", None)
        if prep is not None:
            try:
                prep(spark, sf_dir)
            except Exception:
                pass
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as exc:
            plan = f"(failed to build plan: {exc})"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(
                f"-- {name} ({tag}) — explain('formatted') at {sf_dir}\n"
                "-- NOTE: tree fits are imperative multi-job loops; this is\n"
                "-- the final returned frame's plan (per-level plan shape is\n"
                f"-- documented in SCALE.md / OPTIMIZATION_{round_tag}.md).\n\n"
            )
            fh.write(plan.strip() + "\n")
        print(f"wrote {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
