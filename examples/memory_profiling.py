"""Peak-memory / runtime comparison harness
(reference: examples/memory_profiling.py).

The reference compares efficient-trees (lazy + eager) against sklearn and
LightGBM with memory_profiler + matplotlib; its ONLY published numbers are
peak RSS at the AMEX shape — 5.5M rows x 190 float features, depth-4
entropy (README.md:57-60: ~8 GB lazy / ~12 GB eager / ~15 GB sklearn).

Two modes:

* default — narrow lineitem fit (level-wise, exact), plus sklearn/LightGBM
  when importable.  Quick smoke.
* ``SPARK_GRAFT_WIDE=1`` — the reference's benchmark shape: a row-scaled
  190-float-feature table (``SPARK_GRAFT_WIDE_ROWMULT`` x the sf dir's
  lineitem; default 9 x sf0.1 ~= 5.4M rows ~ AMEX's 5.5M), fit at depth 4
  entropy with NULLs filled on the packed-Arrow histogram path (binned),
  next to a scan-only baseline.  The table is materialized to parquet in
  a prepare child first, so candidates measure scan -> fill_null -> fit —
  the reference's exact setup.

Each candidate runs in a fresh child process.  Peak memory is sampled from
/proc as the RSS SUM OF THE CANDIDATE'S WHOLE PROCESS SUBTREE (the Spark
JVM — driver + executors in local mode — plus every Python worker), every
0.2 s; ``ru_maxrss`` of children is reported as a cross-check.  In local
mode the JVM subtree IS driver+executor memory, the same accounting as the
reference's single-process RSS curves.
"""

import json
import multiprocessing as mp
import os
import resource
import sys
import threading
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
DATA = f"{SF_DIR}/lineitem.parquet"
WIDE = bool(os.environ.get("SPARK_GRAFT_WIDE"))
ROWMULT = int(os.environ.get("SPARK_GRAFT_WIDE_ROWMULT", "9"))
EXCLUDE = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_comment", "l_shipdate",
    "l_commitdate", "l_receiptdate", "l_returnflag", "l_linestatus",
    "l_shipinstruct", "l_shipmode",
]

_PAGE_KIB = os.sysconf("SC_PAGE_SIZE") // 1024


def _subtree_rss_kib(root_pid: int) -> int:
    """Sum of RSS over ``root_pid`` and every descendant, from /proc."""
    procs: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                data = f.read()
            after_comm = data[data.rindex(")") + 2 :].split()
            procs[int(entry)] = (int(after_comm[1]), int(after_comm[21]))
        except (OSError, ValueError, IndexError):
            continue  # process vanished mid-walk
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total_pages, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        if pid in procs:
            total_pages += procs[pid][1]
        stack.extend(children.get(pid, ()))
    return total_pages * _PAGE_KIB


# ------------------------------------------------------- narrow candidates


def _spark_frame():
    from pyspark.sql import functions as F

    from efficient_trees_spark.session import get_spark
    from efficient_trees_spark.sources import io

    spark = get_spark(app_name="memory-profiling")
    spark.sparkContext.setLogLevel("ERROR")
    df = io.read_parquet(spark, DATA)
    return (
        df.withColumn("target", (F.col("l_returnflag") == "R").cast("int"))
        .drop(*EXCLUDE)
        .na.fill(0.0)
    )


def train_level(queue):
    from efficient_trees_spark.tree import DecisionTreeClassifier

    tree = DecisionTreeClassifier(max_depth=4)
    tree.fit(_spark_frame(), "target")
    queue.put(True)


def train_sklearn(queue):
    import pandas as pd
    from sklearn.tree import DecisionTreeClassifier as SkTree

    data = pd.read_parquet(DATA)
    data["target"] = (data["l_returnflag"] == "R").astype(int)
    feats = [c for c in data.columns if c not in EXCLUDE + ["target"]]
    SkTree(max_depth=4, criterion="entropy").fit(data[feats].fillna(0.0), data["target"])
    queue.put(True)


def train_lightgbm(queue):
    import lightgbm as lgbm
    import pandas as pd

    data = pd.read_parquet(DATA)
    data["target"] = (data["l_returnflag"] == "R").astype(int)
    feats = [c for c in data.columns if c not in EXCLUDE + ["target"]]
    train = lgbm.Dataset(data[feats].fillna(0.0), label=data["target"])
    lgbm.train({"objective": "binary", "max_depth": 4}, train, num_boost_round=100)
    queue.put(True)


# ----------------------------------------------- wide (AMEX-shape) candidates


def _wide_frame():
    from efficient_trees_spark.session import get_spark
    from efficient_trees_spark.workloads.wide_fit import wide_table_path

    spark = get_spark(app_name="memory-profiling-wide")
    spark.sparkContext.setLogLevel("ERROR")
    path = wide_table_path(SF_DIR, row_mult=ROWMULT)
    return spark.read.parquet(path).na.fill(0.0)


def train_wide_packed(queue):
    from efficient_trees_spark.enums import Criterion
    from efficient_trees_spark.tree import DecisionTreeClassifier

    data = _wide_frame()
    tree = DecisionTreeClassifier(max_depth=4, criterion=Criterion.ENTROPY, max_bins=32)
    tree.fit(data, "target")
    queue.put(True)


def scan_wide_baseline(queue):
    """No training at all — session + one full scan of the wide table.
    Sizes the fixed floor (JVM + 32 Python-less scan tasks) so the fit
    candidates' incremental memory is attributable."""
    _wide_frame().write.mode("overwrite").format("noop").save()
    queue.put(True)


def prepare_wide(queue):
    from efficient_trees_spark.session import get_spark
    from efficient_trees_spark.workloads.wide_fit import ensure_wide_table

    spark = get_spark(app_name="wide-prepare")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_wide_table(spark, SF_DIR, row_mult=ROWMULT)
    spark.stop()
    queue.put(True)


# ------------------------------------------------------------------ harness


def measure(name, fn):
    """Run fn in a fresh child; report wall time + sampled subtree peak RSS."""
    before = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    queue = mp.Queue()
    start = time.perf_counter()
    proc = mp.Process(target=fn, args=(queue,))
    proc.start()

    peak = {"kib": 0}
    stop = threading.Event()

    def sample():
        while not stop.is_set():
            peak["kib"] = max(peak["kib"], _subtree_rss_kib(proc.pid))
            stop.wait(0.2)

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    proc.join()
    stop.set()
    sampler.join(timeout=2)
    elapsed = time.perf_counter() - start
    after = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    return {
        "candidate": name,
        "ok": proc.exitcode == 0,
        "wall_sec": round(elapsed, 2),
        # Sampled sum over the candidate's process subtree (JVM + Python
        # workers) — the number comparable to the reference's RSS curves.
        "subtree_peak_rss_mib": round(peak["kib"] / 1024, 1),
        # ru_maxrss is the single-process high-water over ALL children so
        # far (KiB on Linux) — a cross-check, monotone across candidates.
        "child_peak_rss_mib": round(max(before, after) / 1024, 1),
    }


if __name__ == "__main__":
    if WIDE:
        prep = measure("prepare wide table (not a candidate)", prepare_wide)
        print(json.dumps(prep))
        if not prep["ok"]:
            sys.exit(1)
        wanted = os.environ.get("SPARK_GRAFT_WIDE_CANDIDATES", "packed").split(",")
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        labels = {"scan": "scan-baseline", "packed": "packed-arrow"}
        candidates = [
            (f"efficient-trees-spark wide {labels[tag]} (driver-mem {mem})", fn)
            for tag, fn in (
                ("scan", scan_wide_baseline),
                ("packed", train_wide_packed),
            )
            if tag in wanted
        ]
    else:
        candidates = [("efficient-trees-spark level-wise", train_level)]
        try:
            import sklearn  # noqa: F401
            candidates.append(("sklearn", train_sklearn))
        except ImportError:
            print("(sklearn unavailable — skipped)")
        try:
            import lightgbm  # noqa: F401
            candidates.append(("lightgbm", train_lightgbm))
        except ImportError:
            print("(lightgbm unavailable — skipped)")

    for name, fn in candidates:
        print(json.dumps(measure(name, fn)), flush=True)
