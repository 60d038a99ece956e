"""Seeded input tables for the benchmark.

Every table is drawn from ``numpy.random.default_rng`` streams derived from
the benchmark seed, so one seed always yields byte-identical parquet.  The
tables reproduce the repository's TPC-H-style testdata column by column:
the same schemas, row counts per ``sf`` (sf=0.01 is 60k lineitem rows,
sf=0.1 600k) and distributions (each column an independent uniform draw
over the testdata's range, so ``l_returnflag`` is one of A/N/R at random
and ``l_extendedprice`` a cent amount with about one distinct value per
row; one document in twenty is a copy of another plus the word ``dup``).

The wide table follows ``workloads/wide_fit.build_wide_table`` (190 f32
features mixing a per-(row, feature) hashed draw with a real lineitem
signal column, ~1% NULL cells, ``l_quantity > 25`` target) with the seed
mixed into every hashed draw, so distinct seeds give distinct tables.  It
is built in numpy rather than as a 380-hash Spark projection, which takes
~20 s to compile and run at 60k rows.

Written inputs are cached by everything they depend on (``cached``), so
only the first run of a seed pays for generating them.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

with open(__file__, "rb") as _f:
    _SOURCE_HASH = hashlib.sha256(_f.read()).hexdigest()[:12]
WIDE_FEATURES = 190
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


def _rng(seed: int, table: str) -> np.random.Generator:
    # One independent stream per table: adding a table never perturbs the
    # others' draws.
    return np.random.default_rng([seed, sum(map(ord, table)), len(table)])


def _dates(rng: np.random.Generator, n: int, days: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(0, days, n) * np.timedelta64(_DAY_US, "us")


def _cents(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """lineitem, orders, customer, supplier, nation and region at ``sf``."""
    n = max(1, int(round(6_000_000 * sf)))
    n_orders = max(1, int(round(1_500_000 * sf)))
    n_cust = max(1, int(round(150_000 * sf)))
    n_supp = max(1, int(round(10_000 * sf)))
    n_part = max(1, int(round(200_000 * sf)))

    rng = _rng(seed, "lineitem")
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n),
            "l_partkey": rng.integers(0, n_part, n),
            "l_suppkey": rng.integers(0, n_supp, n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _cents(rng, n, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n),
            "l_shipdate": _dates(rng, n, 2500),
        }
    )

    rng = _rng(seed, "orders")
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_orders),
            "o_totalprice": _cents(rng, n_orders, 1000.0, 500_000.0),
            "o_orderdate": _dates(rng, n_orders, 2405),
            "o_orderpriority": rng.choice(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
                n_orders,
            ),
        }
    )

    rng = _rng(seed, "customer")
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _cents(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(np.array(_SEGMENTS), n_cust),
        }
    )

    rng = _rng(seed, "supplier")
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _cents(rng, n_supp, -999.99, 9999.99),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    region = pa.table(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
    )
    return {
        "lineitem": lineitem,
        "orders": orders,
        "customer": customer,
        "supplier": supplier,
        "nation": nation,
        "region": region,
    }


def n_documents(sf: float) -> int:
    """The testdata's document count: 500 up to sf=0.01, then 50k per sf."""
    return max(500, int(round(50_000 * sf)))


def documents_table(seed: int, n_docs: int) -> pa.Table:
    """Word-salad documents of 10-100 words over the testdata vocabulary;
    one in twenty is another document's text plus the word ``dup``, so the
    MinHash and duplicated-span queries find real work."""
    rng = _rng(seed, "documents")
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]) for _ in range(n_docs)]
    dups = rng.choice(n_docs, n_docs // 20, replace=False)
    for i, j in zip(dups, rng.integers(0, n_docs - 1, len(dups))):
        texts[i] = texts[j + (j >= i)] + " dup"  # j + (j >= i): any doc but i
    return pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(np.array(_LANGS), n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    """Write each table as ``<out_dir>/<name>.parquet`` (the layout
    ``workloads.base.load`` reads) and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def write_split(table: pa.Table, path: str, n_files: int) -> str:
    """Write ``table`` as ``n_files`` parquet files under ``path`` so a scan
    gets one split per core; return ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"))
    return path


def num_rows(path: str) -> int:
    """Row count of the parquet files under ``path``, from their footers."""
    return sum(pq.read_metadata(os.path.join(path, f)).num_rows for f in os.listdir(path))


def cached(cache_dir: str, key: str, build) -> str:
    """``<cache_dir>/<key>-<generator hash>``, first made by ``build(path)``
    if absent.  The key names what the content depends on (table, seed, sf,
    file count) and the hash of this file covers the generator code; a
    build goes to a private directory renamed into place, so a run never
    reads a half-written entry."""
    path = os.path.join(cache_dir, f"{key}-{_SOURCE_HASH}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        build(tmp)
        try:
            os.rename(tmp, path)
        except OSError:  # a concurrent run built it first
            shutil.rmtree(tmp, ignore_errors=True)
    return path


_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer: a well-mixed 64-bit hash of each uint64."""
    x = x ^ (x >> np.uint64(30))
    x = x * np.uint64(0xBF58476D1CE4E5B9)
    x = x ^ (x >> np.uint64(27))
    x = x * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def wide_columns(lineitem: pa.Table, seed: int) -> pa.Table:
    """The ``build_wide_table`` recipe over ``lineitem``, with the seed
    mixed into every hashed draw: feature ``i`` is
    ``(1 - w) * u + w * signal`` as f32 with ``w = (i % 7) / 10``, ``u`` a
    hashed (row, feature, seed) draw on a 1e-5 grid and ``signal`` the
    revenue fraction; ~1% of cells are NULL; ``target = l_quantity > 25``."""
    with np.errstate(over="ignore"):  # uint64 hashing wraps by design
        col = lambda name: lineitem.column(name).to_numpy()  # noqa: E731
        row = col("l_orderkey").astype(np.uint64) * np.uint64(8) + col("l_linenumber").astype(np.uint64)
        base = _mix64(row ^ _mix64(np.uint64(seed) + _GOLDEN))
        signal = np.mod(col("l_extendedprice") * (1 - col("l_discount")), 1000.0) / 1000.0
        columns = {}
        for i in range(WIDE_FEATURES):
            u = (_mix64(base + np.uint64(i + 1) * _GOLDEN) % np.uint64(100_000)) / 100_000.0
            w = (i % 7) / 10.0
            value = ((1.0 - w) * u + w * signal).astype(np.float32)
            is_null = _mix64(base + np.uint64(i + 1_000_001) * _GOLDEN) % np.uint64(100) == 0
            columns[f"f_{i}"] = pa.array(value, mask=is_null)
        columns["target"] = pa.array((col("l_quantity") > 25).astype(np.int32))
    return pa.table(columns)
