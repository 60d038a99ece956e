"""Tree-engine benchmark.

    python3 treebench/run.py --workload lineitem_fits --seed 1 --seconds 10 --trace 0

Runs one workload (``treebench/workloads.py``) in this process against
``local[<usable cores>]``: a closed loop with one client, iterations back
to back after one warmup iteration, at least three of them and for at
least ``--seconds``.  Every iteration's outputs are checked (the fitted model
hashes and prediction counts, or each query's row count and content
digest) against the values recorded in ``expected.json`` for this seed and
core count, or, for a seed not recorded there, against the warmup
iteration's.  A failed or wrong iteration counts in ``failed``.

``--trace 0`` reports the end-to-end metrics: medians of ``iter_s``,
``fit_s``, ``score_s`` and ``cpu_s`` (container CPU-seconds per
iteration), the peak RSS of the process subtree over the timed iterations,
and ``setup_s`` (session start, input generation or cache check, warmup);
the JSON result holds all but ``score_s`` (see ``E2E_UNITS``).
``--trace 1`` runs untraced and traced (``trace.py``) iterations in ABBA
order and reports per-layer metrics per traced iteration, the floors and
the tracing overhead.  Human-readable lines come first; the last line is
the JSON result.  Generated inputs are cached under ``treebench/.cache``;
Spark's scratch files go under ``treebench/.work`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The warmup iteration compiles (generated code, Python workers) and takes
# ~2-4x a later one.  The JIT keeps the next few slower than the ones after
# them, and host CPU steal slows some; the median of the timed iterations
# drops the slowest.  A second warmup in place of timed iterations did not
# steady the results.
WARMUP_ITERATIONS = 1
MIN_ITERATIONS = 3
PRETOUCHED_HEAP = "4g"

# The end-to-end metrics in the result.  score_s is printed with them but
# left out: it is ~1 s of transform jobs per lineitem_fits iteration, and
# its run-to-run spread (quartile distance over median, ten seeds) was 0.27
# there, over the widest regression bound.  iter_s includes it, and the
# traced run's tree.transform and ensemble.transform spans time it.
E2E_UNITS = {
    "iter_s": "s",
    "fit_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
TIMED = ("iter_s", "fit_s", "score_s", "cpu_s")

SPAN_LAYERS = [
    "tree.fit",
    "tree.transform",
    "tree._two_scan_binned_edges",
    "split_finder.find_best_splits_packed",
    "split_finder.find_best_splits_per_node",
    "split_finder.best_splits_from_counts_pdf",
    "histogram.merge_cubes_to_counts_pdf",
    "histogram.distinct_edges_packed",
    "histogram.merge_edge_stats_rows",
    "ensemble.fit",
    "ensemble.transform",
]
QUERY_LAYERS = [
    "query.dedup_minhash_lsh",
    "query.dedup_substring_span_stats",
    "query.docs_curation_pipeline",
    "query.ann_bm25_topk",
    "query.q1_pricing_summary",
    "query.q5_region_nation_volume",
]
JOB_LAYERS = [
    layer
    for layer in SPAN_LAYERS
    if layer not in ("histogram.merge_cubes_to_counts_pdf", "histogram.merge_edge_stats_rows")
] + QUERY_LAYERS + ["untagged"]


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units = {}
    for layer in SPAN_LAYERS:
        units.update({f"{layer}.calls": "count", f"{layer}.wall_s": "s"})
        units.update({f"{layer}.driver_cpu_s": "s", f"{layer}.wait_s": "s"})
    for layer in QUERY_LAYERS:
        units[f"{layer}.wall_s"] = "s"
    for layer in JOB_LAYERS:
        units.update({f"{layer}.jobs": "count", f"{layer}.exec_cpu_s": "s"})
        units.update({f"{layer}.shuffle_write_bytes": "bytes", f"{layer}.result_bytes": "bytes"})
    units.update(
        {
            "tree.fit.self_s": "s",
            "ensemble.fit.self_s": "s",
            "split_finder.carried_level_share": "ratio",
            "session.get_spark.wall_s": "s",
            "jobs.input_bytes": "bytes",
            "jobs.failed_tasks": "count",
            "floor.scan_s": "s",
            "floor.arrow_identity_s": "s",
            "floor.empty_arrow_job_s": "s",
            "trace.overhead_share": "ratio",
        }
    )
    return units


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _session(cores: int, work_dir: str, traced: bool):
    """``get_spark``'s session with its own memory and JVM settings; the
    benchmark adds where scratch files go, no console progress bar, a
    pretouched initial heap and, traced, the status REST API."""
    from efficient_trees_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        # The first PRETOUCHED_HEAP of the driver heap is committed and
        # touched at start.  With 2g pretouched, two runs of one input
        # peaked at 3.1 and 4.4 GB RSS as G1 grew the heap or not; with 4g,
        # the runs of five seeds agree within 1%.  So driver heap use below
        # 4g does not show in peak_rss_mb; growth past it, off-heap memory
        # and the Python workers do.  Spark puts these flags before get_spark's own
        # (spark.driver.extraJavaOptions), which win where they overlap;
        # the maximum heap stays get_spark's spark.driver.memory.
        "spark.driver.defaultJavaOptions": f"-Xms{PRETOUCHED_HEAP} -XX:+AlwaysPreTouch",
    }
    if traced:
        conf.update(
            {
                # The status REST API serves the per-job metrics.
                "spark.ui.enabled": "true",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                # Vectored parquet reads bypass the inputBytes accounting.
                "spark.hadoop.parquet.hadoop.vectored.io.enabled": "false",
            }
        )
    spark = get_spark(
        app_name="treebench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Checker:
    """Compares each iteration's outputs with the recorded reference (or,
    for an unrecorded seed, the first iteration's) and counts failures."""

    def __init__(self, recorded: dict | None):
        self.reference = recorded
        self.recorded = recorded is not None
        self.attempted = 0
        self.failed = 0

    def __call__(self, it) -> bool:
        self.attempted += 1
        problems = list(it.problems)
        if self.reference is None and not problems:
            self.reference = dict(it.outputs)
        for key, want in (self.reference or {}).items():
            got = it.outputs.get(key)
            if got != want:
                problems.append(f"{key}: got {got!r}, want {want!r}")
        for problem in problems:
            print(f"wrong output: {problem}", file=sys.stderr)
        self.failed += bool(problems)
        return not problems


def _iterate(workload, tracer, checker: Checker):
    """One checked iteration; returns its sample, or None if it failed."""
    from treebench.probes import cpu_seconds

    c0, t0 = cpu_seconds(), time.perf_counter()
    try:
        it = workload.iteration(tracer)
    except Exception:  # an iteration that raises is a failed attempt
        traceback.print_exc()
        checker.attempted += 1
        checker.failed += 1
        return None
    sample = {
        "iter_s": time.perf_counter() - t0,
        "cpu_s": cpu_seconds() - c0,
        "fit_s": it.phases["fit"],
        "score_s": it.phases["score"],
    }
    return sample if checker(it) else None


def _loop(steps, seconds: float, min_cycles: int) -> list[list[dict]]:
    """Closed loop: run ``steps`` (callables returning a sample or None)
    in order, cycle after cycle, until ``min_cycles`` cycles have run and
    ``seconds`` have passed.  ``result[j]`` holds the samples of
    ``steps[j]``."""
    results = [[] for _ in steps]
    start = time.perf_counter()
    cycles = 0
    while cycles < min_cycles or time.perf_counter() - start < seconds:
        for j, step in enumerate(steps):
            sample = step()
            if sample is not None:
                results[j].append(sample)
        cycles += 1
    return results


def _tail(values: list[float]) -> tuple[str, float]:
    """The highest percentile with at least ten samples beyond it, or the
    maximum when there are too few samples for any."""
    n = len(values)
    if n < 11:
        return "max", max(values)
    pct = int(100 * (1 - 10 / n))
    return f"p{pct}", statistics.quantiles(values, n=100)[pct - 1]


def _end_to_end(samples, peak_kib: int, setup_s: float) -> dict[str, float]:
    metrics = {"peak_rss_mb": peak_kib / 1024, "setup_s": setup_s}
    for key in TIMED:
        median = statistics.median(s[key] for s in samples)
        label, value = _tail([s[key] for s in samples])
        print(f"{key}: median {median:.4f} s, {label} {value:.4f} s, n={len(samples)}")
        if key in E2E_UNITS:
            metrics[key] = median
    return {k: metrics[k] for k in E2E_UNITS}


def _per_layer(harvests: list[dict], extra: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics per traced iteration, from the per-iteration
    harvests of ``Tracer.harvest``."""
    totals: dict[str, dict[str, float]] = {}
    for rows in harvests:
        for layer, row in rows.items():
            acc = totals.setdefault(layer, {})
            for stat, value in row.items():
                acc[stat] = acc.get(stat, 0.0) + value
    n_iter = len(harvests)
    units = per_layer_units()
    metrics = {}
    for name in units:
        layer, _, stat = name.rpartition(".")
        if name in extra:
            metrics[name] = extra[name]
        elif layer == "jobs":
            metrics[name] = sum(row.get(stat, 0.0) for row in totals.values()) / n_iter
        else:
            metrics[name] = totals.get(layer, {}).get(stat, 0.0) / n_iter
    sf = totals.get("split_finder", {})
    levels = sf.get("levels_scored", 0.0)
    metrics["split_finder.carried_level_share"] = sf.get("carried_levels", 0.0) / levels if levels else 0.0
    return metrics


def _stop(spark) -> None:
    """Stop the session, then its JVM, and wait for every process the
    session started (the JVM and its Python workers) to end."""
    from treebench.probes import descendants

    children = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        children = [pid for pid in children if os.path.exists(f"/proc/{pid}")]
        time.sleep(0.1)
    for pid in children:
        os.kill(pid, signal.SIGKILL)


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    from treebench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    cores = len(os.sched_getaffinity(0))
    work_dir = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work_dir, "tmp"))
    # Python workers import the package from the checkout; temp files stay
    # inside it.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    # The JVMs read this whatever flags get_spark gives them.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={os.environ['TMPDIR']}") if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    spark = None
    try:
        from treebench.probes import PeakRss
        from treebench.trace import NullTracer, Tracer, measure_floors

        t0 = time.perf_counter()
        spark = _session(cores, work_dir, traced=bool(args.trace))
        session_s = time.perf_counter() - t0
        workload = WORKLOADS[args.workload]()
        workload.prepare(spark, args.seed, os.path.join(HERE, ".cache"))
        with open(os.path.join(HERE, "expected.json")) as f:
            recorded = json.load(f).get(args.workload, {}).get(f"{args.seed}/{cores}")
        checker = Checker(recorded)
        for _ in range(WARMUP_ITERATIONS):
            _iterate(workload, NullTracer(), checker)
        setup_s = time.perf_counter() - t_start
        print(f"setup_s: {setup_s:.4f} s (session {session_s:.4f} s), cores={cores}")

        def untraced():
            return _iterate(workload, NullTracer(), checker)

        if not args.trace:
            with PeakRss(os.getpid()) as rss:
                (samples,) = _loop([untraced], args.seconds, MIN_ITERATIONS)
            if not samples:
                raise RuntimeError("every timed iteration failed")
            metrics = _end_to_end(samples, rss.peak_kib, setup_s)
            units = E2E_UNITS
        else:
            tracer, harvests = Tracer(spark), []

            def traced():
                with tracer.window():
                    sample = _iterate(workload, tracer, checker)
                harvests.append(tracer.harvest())
                return sample

            # ABBA order, so the warmup trend weighs on both sides alike.
            plain1, traced1, traced2, plain2 = _loop(
                [untraced, traced, traced, untraced], args.seconds, 1
            )
            untraced_samples, traced_samples = plain1 + plain2, traced1 + traced2
            if not untraced_samples or not traced_samples:
                raise RuntimeError("every timed iteration failed")
            floors = measure_floors(workload.df)
            extra = {f"floor.{k}": v for k, v in floors.items()}
            extra["session.get_spark.wall_s"] = session_s
            extra["trace.overhead_share"] = (
                statistics.median(s["iter_s"] for s in traced_samples)
                / statistics.median(s["iter_s"] for s in untraced_samples)
                - 1
            )
            metrics = _per_layer(harvests, extra)
            units = per_layer_units()
        error_rate = checker.failed / checker.attempted
        print(
            f"error_rate: {error_rate:.4f} ratio ({checker.failed}/{checker.attempted}, "
            f"reference {'recorded' if checker.recorded else 'from warmup'})"
        )
        print(f"outputs: {json.dumps(checker.reference, sort_keys=True)}")
        for name, value in metrics.items():
            print(f"{name}: {value:.6g} {units[name]}")
        result = {
            "correct": checker.failed == 0,
            "attempted": checker.attempted,
            "failed": checker.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work_dir))


if __name__ == "__main__":
    sys.exit(main())
