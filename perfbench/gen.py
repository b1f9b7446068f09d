"""Seeded benchmark inputs.

The base tables mirror the engine's landed testdata (TESTDATA.md): the same
ten tables, column names, arrow/parquet types (int32 keys, double measures,
microsecond NTZ timestamps, float32 list embeddings), one file per table with
one row group, and the same value distributions at a given scale factor.  The
base is a pure function of (sf, BASE_SEED).

A workload seed never changes values: it picks two row-order permutations of
the base, the measured copy and the warm-up copy.  Each copy keeps its
source's values, schema, physical types, file count and row-group layout, and
`check_copy` verifies that before the program sees it.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
# Bump when the generated bytes change, so cached copies and oracle results
# from an older generator are never reused.
VERSION = 1

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
DUP_SHARE = 0.05  # documents that repeat an earlier text plus " dup"
EMB_DIM = 64


def row_counts(sf):
    return {
        "region": 5, "nation": 25,
        "supplier": max(10, round(10_000 * sf)),
        "customer": max(150, round(150_000 * sf)),
        "part": max(200, round(200_000 * sf)),
        "orders": max(1_500, round(1_500_000 * sf)),
        "lineitem": max(6_000, round(6_000_000 * sf)),
        "events": max(1_000, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, (hi - lo).astype(int) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _documents(rng, n):
    vocab = np.asarray(WORDS, dtype=object)
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < DUP_SHARE:
            texts.append(texts[rng.integers(0, i)].removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n):
    label = rng.integers(0, 10, n)
    centroids = rng.normal(0, 0.5, (10, EMB_DIM))
    v = rng.normal(0, 1, (n, EMB_DIM)) + centroids[label]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(label, pa.int32()),
    })


def base_tables(sf, seed=BASE_SEED):
    """Every base table as an arrow table; deterministic in (sf, seed)."""
    n = row_counts(sf)
    rng = np.random.default_rng(seed)
    i64 = lambda a: pa.array(a, pa.int64())
    i32 = lambda a: pa.array(a, pa.int32())
    f64 = lambda a: pa.array(a, pa.float64())
    t = {}
    t["region"] = pa.table({"r_regionkey": i32(np.arange(5)),
                            "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({"n_nationkey": i32(np.arange(25)),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                            "n_regionkey": i32(np.arange(25) % 5)})
    k = n["supplier"]
    t["supplier"] = pa.table({"s_suppkey": i64(np.arange(k)),
                              "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)], pa.string()),
                              "s_nationkey": i32(rng.integers(0, 25, k)),
                              "s_acctbal": f64(_money(rng, -1000, 10000, k))})
    k = n["customer"]
    t["customer"] = pa.table({"c_custkey": i64(np.arange(k)),
                              "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)], pa.string()),
                              "c_nationkey": i32(rng.integers(0, 25, k)),
                              "c_acctbal": f64(_money(rng, -1000, 10000, k)),
                              "c_mktsegment": _pick(rng, SEGMENTS, k)})
    k = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({"p_partkey": i64(np.arange(k)),
                          "p_name": _pick(rng, names, k),
                          "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, k)], pa.string()),
                          "p_type": _pick(rng, PART_TYPES, k),
                          "p_size": i32(rng.integers(1, 51, k)),
                          "p_retailprice": f64(np.round(900 + (np.arange(k) % 1000) / 10, 1))})
    k = n["orders"]
    t["orders"] = pa.table({"o_orderkey": i64(np.arange(k)),
                            "o_custkey": i64(rng.integers(0, n["customer"], k)),
                            "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
                            "o_totalprice": f64(_money(rng, 1000, 500000, k)),
                            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", k),
                            "o_orderpriority": _pick(rng, PRIORITIES, k)})
    k = n["lineitem"]
    t["lineitem"] = pa.table({"l_orderkey": i64(rng.integers(0, n["orders"], k)),
                              "l_partkey": i64(rng.integers(0, n["part"], k)),
                              "l_suppkey": i64(rng.integers(0, n["supplier"], k)),
                              "l_linenumber": i32(rng.integers(1, 8, k)),
                              "l_quantity": f64(rng.integers(1, 51, k).astype(float)),
                              "l_extendedprice": f64(_money(rng, 900, 105000, k)),
                              "l_discount": f64(rng.integers(0, 11, k) / 100),
                              "l_tax": f64(rng.integers(0, 9, k) / 100),
                              "l_returnflag": _pick(rng, ["A", "N", "R"], k),
                              "l_linestatus": _pick(rng, ["F", "O"], k),
                              "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", k)})
    k = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    ts = np.sort(start + rng.integers(0, span, k))
    t["events"] = pa.table({"event_id": i64(np.arange(k)),
                            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
                            "user_id": i64(rng.integers(0, max(15, round(15_000 * sf)), k)),
                            "event_type": _pick(rng, EVENT_TYPES, k),
                            "value": f64(np.round(rng.exponential(50, k), 2)),
                            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
                                              pa.string())})
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _write(tbl, path):
    # one file, one row group per table, as the engine's landed testdata
    pq.write_table(tbl, path, row_group_size=max(tbl.num_rows, 1))


def read_stamp(path):
    try:
        with open(os.path.join(path, "STAMP.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _publish(tmp, final, stamp):
    with open(os.path.join(tmp, "STAMP.json"), "w") as f:
        json.dump(stamp, f, sort_keys=True)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)


def ensure_base(root, sf):
    """Writes the base tables under root once per (sf, generator version)."""
    final = os.path.join(root, f"base_sf{sf}")
    stamp = {"version": VERSION, "sf": sf, "base_seed": BASE_SEED}
    if read_stamp(final) == stamp:
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in base_tables(sf).items():
        _write(tbl, os.path.join(tmp, f"{name}.parquet"))
    _publish(tmp, final, stamp)
    return final


def permutation(seed, role, name, n):
    """Row order of table `name` in the `role` copy for workload `seed`."""
    key = hashlib.sha256(f"{seed}:{role}:{name}".encode()).digest()
    return np.random.default_rng(int.from_bytes(key[:8], "little")).permutation(n)


def ensure_copy(base, out, seed, role):
    """Writes (or reuses) the `role` permutation of `base` at `out`; returns
    a stamp that identifies the copy's content."""
    stamp = {"base": read_stamp(base), "seed": seed, "role": role}
    if read_stamp(out) == stamp:
        return stamp
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name in TABLES:
        src = pq.read_table(os.path.join(base, f"{name}.parquet"))
        _write(src.take(permutation(seed, role, name, src.num_rows)),
               os.path.join(tmp, f"{name}.parquet"))
    check_copy(base, tmp, seed, role)
    _publish(tmp, out, stamp)
    return stamp


def _layout(path):
    md = pq.ParquetFile(path).metadata
    cols = [md.schema.column(i) for i in range(md.num_columns)]
    physical = [(c.path, c.physical_type, str(c.logical_type), c.max_definition_level,
                 c.max_repetition_level) for c in cols]
    return (physical, md.num_rows,
            [md.row_group(i).num_rows for i in range(md.num_row_groups)])


def check_copy(base, copy, seed, role):
    """Raises ValueError unless `copy` is exactly the (seed, role) row
    permutation of `base` with the same files, schema, physical types and
    row-group layout."""
    files = lambda d: sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    if files(base) != files(copy):
        raise ValueError(f"file set differs: {files(base)} vs {files(copy)}")
    for f in files(base):
        b, c = os.path.join(base, f), os.path.join(copy, f)
        if _layout(b) != _layout(c):
            raise ValueError(f"{f}: schema or row-group layout differs")
        src, got = pq.read_table(b), pq.read_table(c)
        if got.schema != src.schema:
            raise ValueError(f"{f}: arrow schema differs")
        perm = permutation(seed, role, f.removesuffix(".parquet"), src.num_rows)
        if not got.equals(src.take(perm)):
            raise ValueError(f"{f}: rows are not the seeded permutation of the base")
