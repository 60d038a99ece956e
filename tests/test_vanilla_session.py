"""Environment-proofing: the correctness driver builds its own BARE
SparkSession (no repo confs), so conf-dependent behavior must work on a
default-config session.  Round 2 was burned exactly here: the events
timestamp path relied on a session conf (nanosAsLong) that Spark 4.1
silently ignores — these tests make the next environment shift surface in
pytest instead of in the driver gate.

The shared session fixture (conftest) is close to vanilla already, but this
module pins the specific invariants ``load()`` must guarantee REGARDLESS of
how the session was built: events.ts arrives as an epoch-arithmetic-capable
timestamp and the session timezone is UTC afterward.

The last tests pin ``get_spark``'s Python worker set-up: workers fork from
``efficient_trees_spark.worker_daemon`` and skip unchanged zip archives at
task start, a changed archive is still re-read, and a fit runs when the
driver's cwd is not the checkout.
"""

from __future__ import annotations

import contextlib
import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F

from efficient_trees_spark.workloads.base import load
from efficient_trees_spark.workloads.timeseries import events_sessionization


def test_load_normalizes_events_ts(spark, sf_small):
    ev = load(spark, sf_small, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    # load() must pin UTC so NTZ wall-clock == UTC instant
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    # epoch arithmetic works (this exact cast crashed the round-2 driver)
    row = ev.select(
        F.col("ts").cast("long").alias("sec"),
        F.unix_micros("ts").alias("us"),
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
    ).orderBy("sec").first()
    assert row.sec * 1_000_000 <= row.us < (row.sec + 1) * 1_000_000
    assert row.d.startswith("2024")


def test_events_query_runs_on_fresh_default_session(spark, sf_small, tmp_path):
    """An events workload end-to-end on a session with NO repo tuning confs
    beyond what load() itself sets at runtime."""
    # newSession() shares the JVM but gets fresh (default) SQL conf state —
    # the closest replica of the driver's own session without paying a
    # second JVM startup.
    fresh = spark.newSession()
    assert fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "false"
    out = events_sessionization(fresh, sf_small)
    rows = out.collect()
    assert len(rows) > 0
    assert all(r.n_sessions >= 1 and r.n_events >= r.n_sessions for r in rows)


def test_session_defaults_carry_perf_confs(spark):
    """Regression gate for the round-6 session levers: the generated-class
    cache must stay raised (the 100-entry Spark default re-pays full
    Janino+C1 compilation of every per-level tree-fit plan in any
    multi-query session — measured 2x on the wide fit), and the tuned
    driver memory must hold.  Static confs, so they only bind at session
    build — this asserts the repo's own get_spark applied them."""
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 1000
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert (
        spark.sparkContext.getConf().get("spark.python.daemon.module")
        == "efficient_trees_spark.worker_daemon"
    )


@contextlib.contextmanager
def _archive_reads():
    """Yields the list of archive paths whose directory is read inside."""
    real = zipimport._read_directory
    reads = []
    zipimport._read_directory = lambda path: reads.append(path) or real(path)
    try:
        yield reads
    finally:
        zipimport._read_directory = real


def _count_archive_reads(batches):
    """mapInArrow task: how many archive directories one
    ``importlib.invalidate_caches()`` (the call every task start makes)
    re-reads in this worker, and how many zip importers the worker holds."""
    import pyarrow as pa

    with _archive_reads() as reads:
        importlib.invalidate_caches()
    zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({"reads": [len(reads)], "zips": [zips]})


def test_reused_workers_skip_unchanged_archives(spark):
    """Reused Python workers do not re-read the pyspark / py4j / spark-core
    archives at every task start (worker_daemon): on a second job every
    task reads none, while each holds zip importers over them."""
    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, n, numPartitions=n).mapInArrow(
        _count_archive_reads, "reads long, zips long"
    )
    df.collect()
    rows = df.collect()
    assert len(rows) == n
    assert all(r.zips > 0 for r in rows), rows
    assert [r.reads for r in rows] == [0] * n


@pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="worker_daemon patches zipimport only before CPython 3.12",
)
def test_changed_archive_is_reread(tmp_path, monkeypatch):
    """Driver-side, no Spark: an unchanged archive is not re-read, and one
    rewritten with an added member (its size changes) is, so the new
    module imports after ``invalidate_caches()``."""
    from efficient_trees_spark import worker_daemon

    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("ets_zip_first.py", "VALUE = 1\n")
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_if_changed
    )
    monkeypatch.syspath_prepend(str(archive))
    for name in ("ets_zip_first", "ets_zip_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("ets_zip_first").VALUE == 1

    importlib.invalidate_caches()  # records the archive's (mtime, size)
    with _archive_reads() as reads:
        importlib.invalidate_caches()
    assert str(archive) not in reads

    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("ets_zip_first.py", "VALUE = 1\n")
        zf.writestr("ets_zip_second.py", "VALUE = 2\n")
    with _archive_reads() as reads:
        importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    assert importlib.import_module("ets_zip_second").VALUE == 2


def test_packed_fit_runs_from_foreign_cwd(tmp_path):
    """A binned (packed mapInArrow) fit works when the driver runs from a
    directory other than the checkout and the package is not installed:
    the Python workers start in the driver's cwd, so they import the
    package only through the session's executor PYTHONPATH."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {repo!r})
        from efficient_trees_spark import DecisionTreeClassifier
        from efficient_trees_spark.session import get_spark

        spark = get_spark(app_name="foreign-cwd", master="local[2]", shuffle_partitions=2)
        rows = [(float(i % 7), float(i % 5), i % 2) for i in range(200)]
        df = spark.createDataFrame(rows, ["a", "b", "target"])
        DecisionTreeClassifier(max_depth=2, max_bins=8).fit(df, "target")
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
