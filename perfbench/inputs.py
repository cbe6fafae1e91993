"""Input generation for the benchmark workloads.

Nothing here starts Spark: the flights CSV is produced by DuckDB from the
engine's own portable generator SQL, and the catalog tables by NumPy with
the value domains of the engine's testdata fixtures (TESTDATA.md).
"""

from __future__ import annotations

import bz2
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Number of distinct seed windows of the flights generator. Seeds wrap, so
# row indices stay far below the generator's key-space period
# (100,527,840 rows) and its integer arithmetic cannot overflow.
SEED_WINDOWS = 900

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "new", "old"]
PART_NOUN = ["bolt", "ring", "widget", "gear", "rod", "plate", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = (
    "a the spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row agg key "
    "query scan batch"
).split()
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [0.44, 0.14, 0.14, 0.13, 0.15]

# Table sizes of the catalog input: the engine's sf0.01 fixture shape.
CATALOG_ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}


def flights_window(n: int, seed: int) -> tuple[int, int]:
    """Row window [lo, hi) of the flights generator that `seed` selects."""
    lo = (seed % SEED_WINDOWS) * n
    return lo, lo + n


def write_flights_bz2(lo: int, hi: int, path: str, work_dir: str) -> dict:
    """Rows [lo, hi) of the engine's flights generator as a bz2 CSV (the
    reference's input codec). Returns the row count and the stddev of
    ArrDelay, the scale of the model-quality envelope."""
    import duckdb

    from flight_delay_prediction_using_pyspark_spark.sources.schemas import FLIGHTS_SCHEMA
    from flight_delay_prediction_using_pyspark_spark.sources.synthetic import flights_gen_sql

    gen = flights_gen_sql(hi - lo).replace(f"range({hi - lo})", f"range({lo}, {hi})")
    cols = ", ".join(f.name for f in FLIGHTS_SCHEMA.fields)
    csv_path = path[: -len(".bz2")]
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{work_dir}'")
        con.execute(f"CREATE TABLE f AS {gen}")
        con.execute(
            f"COPY (SELECT {cols} FROM f ORDER BY row_id) TO '{csv_path}' (HEADER, NULLSTR 'NA')"
        )
        rows, stddev = con.execute("SELECT count(*), stddev_samp(ArrDelay) FROM f").fetchone()
    finally:
        con.close()
    with open(csv_path, "rb") as src, bz2.open(path, "wb") as dst:
        while chunk := src.read(1 << 22):
            dst.write(chunk)
    os.remove(csv_path)
    return {"rows": int(rows), "arrdelay_stddev": float(stddev)}


def _dates(rng: np.random.Generator, n: int, first: str, last: str) -> np.ndarray:
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    days = rng.integers(0, (hi - lo).astype(np.int64) + 1, n)
    return (lo + days).astype("datetime64[us]")


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents; one in twenty is a near-copy of an earlier
    one (the word `dup` inserted near its end), which the dedup queries find."""
    words = np.asarray(WORDS, dtype=object)
    docs: list[list[str]] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            toks = list(docs[int(rng.integers(0, i))])
            toks.insert(max(len(toks) - int(rng.integers(0, 3)), 0), "dup")
        else:
            toks = list(words[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))])
        docs.append(toks)
    text = [" ".join(t) for t in docs]
    return pa.table({
        "doc_id": _keys(n),
        "text": pa.array(text),
        "lang": _choice(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.asarray([len(t) for t in text], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    """Unit vectors around ten weak class centroids."""
    labels = rng.integers(0, k, n)
    centroids = rng.normal(0.0, 0.07, (k, dim))
    vecs = rng.normal(0.0, 1.0 / np.sqrt(dim), (n, dim)) + centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), pa.array(vecs.ravel())
    )
    return pa.table({
        "vec_id": _keys(n), "embedding": emb,
        "label": pa.array(labels.astype(np.int32)),
    })


def catalog_tables(seed: int) -> dict[str, pa.Table]:
    """The ten catalog tables, a pure function of `seed`."""
    rng = np.random.default_rng(seed)
    n = CATALOG_ROWS
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })
    t["customer"] = pa.table({
        "c_custkey": _keys(n["customer"]),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
        "c_nationkey": i32(rng.integers(0, 25, n["customer"])),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _choice(rng, SEGMENTS, n["customer"]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": _keys(n["supplier"]),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
        "s_nationkey": i32(rng.integers(0, 25, n["supplier"])),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": _keys(n["part"]),
        "p_name": _choice(rng, names, n["part"]),
        "p_brand": _choice(rng, [f"Brand#{b}" for b in range(1, 26)], n["part"]),
        "p_type": _choice(rng, PART_TYPES, n["part"]),
        "p_size": i32(rng.integers(1, 51, n["part"])),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n["part"]) % 1000) * 0.1, 1)),
    })
    t["orders"] = pa.table({
        "o_orderkey": _keys(n["orders"]),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"])),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": pa.array(_dates(rng, n["orders"], "1995-01-01", "2001-08-01")),
        "o_orderpriority": _choice(rng, PRIORITIES, n["orders"]),
    })
    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m)),
        "l_partkey": pa.array(rng.integers(0, n["part"], m)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m)),
        "l_linenumber": i32(rng.integers(1, 8, m)),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": _choice(rng, ["A", "N", "R"], m),
        "l_linestatus": _choice(rng, ["F", "O"], m),
        "l_shipdate": pa.array(_dates(rng, m, "1995-01-02", "2001-11-04")),
    })
    e = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, e))
    t["events"] = pa.table({
        "event_id": _keys(e),
        "ts": pa.array(t0 + offsets.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 150, e)),
        "event_type": _choice(rng, EVENT_TYPES, e),
        "value": pa.array(np.round(rng.exponential(50.0, e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_catalog(out_dir: str, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in catalog_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
