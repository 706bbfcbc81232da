"""Benchmark inputs: the engine's ten tables, generated with numpy/pyarrow.

The CONTENTS of every table are fixed (drawn from CONTENT_SEED), in the
schemas and value domains of the tables the engine is built and
parity-checked against: one parquet file per table, one row group,
micros timestamps without a zone. The run's --seed decides only how the
contents arrive: the row order inside every file and, for lake_ingest,
which delivery each key lands in. So the expected results in
expected.json hold for every seed, while no two seeds feed the engine
the same files.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20240101

VOCAB = ("spark batch part line column order small sort fast value scan hash slow group "
         "vector query agg table key filter customer stream window join the a index "
         "shuffle merge cache data big row").split()
LANGS = ("en", "zh", "fr", "es", "de")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

# rows per table at sf 1.0 (lineitem: 4 lines per order on average)
SF1_ROWS = {"customer": 150000, "supplier": 10000, "part": 200000, "orders": 1500000,
            "events": 1000000, "documents": 50000, "embeddings": 50000}

# the slice key of each fact table in lake_ingest; the rest are dimensions
SLICE_KEYS = {"orders": "o_orderkey", "lineitem": "l_orderkey", "events": "user_id",
              "documents": "doc_id"}


def _days(base, offsets):
    start = np.datetime64(base, "us")
    return pa.array(start + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _pick(rng, choices, n):
    return pa.array(np.array(choices, dtype=object)[rng.integers(0, len(choices), n)],
                    pa.string())


def _documents(rng, n):
    """Word-salad documents with planted duplicates: id % 97 == 3 is an
    exact copy of id - 1, id % 50 == 1 a near copy (one word appended)."""
    lens = rng.integers(10, 90, n)
    words = np.array(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    for i in range(1, n):
        if i % 97 == 3:
            texts[i] = texts[i - 1]
        elif i % 50 == 1:
            texts[i] = texts[i - 1] + " drift"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 10, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def planted_original(doc_id):
    """The document a generated document was copied from, followed to the
    root of its chain (a near copy of an exact copy goes back to the
    first), so a delivery can carry each planted cluster whole."""
    doc_id = np.asarray(doc_id)
    while True:
        copied = ((doc_id % 97 == 3) | (doc_id % 50 == 1)) & (doc_id > 0)
        if not copied.any():
            return doc_id
        doc_id = np.where(copied, doc_id - 1, doc_id)


def tables(sf):
    """name -> pyarrow.Table of the ten tables at scale factor `sf`."""
    n = {k: max(1, int(round(v * sf))) for k, v in SF1_ROWS.items()}
    n["embeddings"] = max(n["embeddings"], 500)
    rng = np.random.default_rng(CONTENT_SEED)
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(REGIONS, pa.string())}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)], pa.string()),
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": np.round(rng.integers(0, 1000000, c) / 100.0, 2),
        "c_mktsegment": _pick(rng, SEGMENTS, c),
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)], pa.string()),
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": np.round(rng.integers(0, 1000000, s) / 100.0, 2),
    })
    p = n["part"]
    out["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(["small", "red", "blue", "hot", "big", "green"], p),
            rng.choice(["ring", "widget", "bolt", "gear", "gizmo", "nut"], p))], pa.string()),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, p)], pa.string()),
        "p_type": _pick(rng, ("ECONOMY", "SMALL", "LARGE", "STANDARD", "PROMO"), p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + np.arange(p) / 10.0, 2),
    })
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": _pick(rng, ("O", "F", "P"), o),
        "o_totalprice": np.round(1000.0 + rng.integers(0, 49900000, o) / 100.0, 2),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, o)),
        "o_orderpriority": _pick(rng, PRIORITIES, o),
    })
    li = 4 * o
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": np.round(900.0 + rng.integers(0, 10000000, li) / 100.0, 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(rng, ("N", "A", "R"), li),
        "l_linestatus": _pick(rng, ("O", "F"), li),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2498, li)),
    })
    e = n["events"]
    span_us = 30 * 24 * 3600 * 1000000
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, span_us, e)).astype(
        "timedelta64[us]")
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, c // 10), e).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": rng.integers(0, 20000, e) / 100.0,
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)], pa.string()),
    })
    out["documents"] = _documents(rng, n["documents"])
    m = n["embeddings"]
    vecs = rng.uniform(-0.5, 0.5, (m, 64)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64)
                       .cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, m).astype(np.int32),
    })
    return out


def mix(seed, keys):
    """splitmix64 of the keys, salted by the seed: a seeded uniform hash."""
    with np.errstate(over="ignore"):
        z = np.asarray(keys, dtype=np.uint64) + np.uint64((seed * 0x9E3779B97F4A7C15) % 2**64)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def permuted(table, seed):
    """The table's rows in a seed-dependent order."""
    return table.take(np.argsort(mix(seed, np.arange(table.num_rows)), kind="stable"))


def write(table, path, seed):
    pq.write_table(permuted(table, seed), path, row_group_size=max(1, table.num_rows))


def write_tables(sf, seed, out_dir):
    """Write every table as out_dir/<name>.parquet."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf).items():
        write(t, os.path.join(out_dir, f"{name}.parquet"), seed)


def write_deliveries(sf, seed, deliveries, out_dir):
    """Slice the lake_ingest tables into out_dir/d<i>/. Orders and their
    lines go by a seeded hash of the order key (every line of one payment
    arrives together), events by the user key, documents by their planted
    original (a planted copy arrives with its original, so which copy
    survives dedup does not depend on delivery order). Every delivery
    carries the full customer, nation and region tables."""
    ts = tables(sf)
    for d in range(deliveries):
        os.makedirs(os.path.join(out_dir, f"d{d}"), exist_ok=True)
    for name in ("orders", "lineitem", "events", "documents", "customer", "nation", "region"):
        t = ts[name]
        if name in SLICE_KEYS:
            key = t.column(SLICE_KEYS[name]).to_numpy()
            if name == "documents":
                key = planted_original(key)
            bucket = mix(seed, key) % np.uint64(deliveries)
        for d in range(deliveries):
            part = t.filter(pa.array(bucket == d)) if name in SLICE_KEYS else t
            write(part, os.path.join(out_dir, f"d{d}", f"{name}.parquet"), seed + d)
