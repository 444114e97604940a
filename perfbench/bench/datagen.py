"""Seeded benchmark inputs.

Writes the ten tables the workloads read (the TPC-H-ish star tables,
`events`, `documents`, `embeddings`) as single parquet files with the
same schemas and value shapes as the project's test data. Everything is
drawn from one numpy generator seeded by `--seed`, so a seed always
gives the same bytes.

A data directory is reused only when its MANIFEST.json names the same
generator version and parameters and every file's row count and sha256
still match; anything else (a partial write, a stale version, an edited
file) is deleted and regenerated.
"""
import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 1
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# 30-word vocabulary and the 5% "base text + ' dup'" near-duplicate
# scheme of the project's corpus generator (graft.tools.GenScale)
VOCAB = np.array(["spark", "window", "merge", "table", "column", "vector",
                  "stream", "value", "data", "small", "join", "filter", "big",
                  "group", "hash", "customer", "sort", "order", "slow", "line",
                  "part", "fast", "the", "row", "agg", "key", "query", "a",
                  "scan", "batch"])
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([412, 140, 149, 148, 151]) / 1000.0
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
ADJ = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
NOUN = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
US_PER_DAY = 86_400_000_000


def _days(rng, n, start, end):
    """`n` midnight timestamps drawn uniformly from [start, end]."""
    span = (end - start).days
    base = int((start - dt.date(1970, 1, 1)).days)
    d = base + rng.integers(0, span + 1, n)
    return pa.array(d.astype(np.int64) * US_PER_DAY, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    n_words = rng.integers(8, 105, n)
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    cuts = np.cumsum(n_words)[:-1]
    base = [" ".join(VOCAB[w]) for w in np.split(words, cuts)]
    is_dup = (np.arange(n) >= 20) & (rng.random(n) < 0.05)
    originals = np.flatnonzero(~is_dup)
    text = list(base)
    for i in np.flatnonzero(is_dup):
        text[i] = base[originals[rng.integers(0, len(originals))]] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def tables(seed, sf, n_docs):
    """The ten tables at scale factor `sf` (sf 1 = 6M lineitem rows)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_vec = max(1, int(15_000 * sf)), 500
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n_cust)])})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    keys = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(ADJ[rng.integers(0, 8, n_part)], " "),
                                       NOUN[rng.integers(0, 8, n_part)])),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(PART_TYPES[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1))})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n_ord)])})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})
    t0 = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * US_PER_DAY
    ts = np.sort(t0 + rng.integers(0, 30 * US_PER_DAY, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(np.clip(rng.lognormal(3.0, 1.2, n_ev), 0.01, 490.0), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    out["documents"] = _documents(rng, n_docs)
    vec = rng.standard_normal((n_vec, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})
    return out


def _sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _verified(path, params):
    """True when `path` holds exactly the tables the manifest promises."""
    try:
        with open(os.path.join(path, "MANIFEST.json")) as f:
            manifest = json.load(f)
    except (OSError, ValueError):
        return False
    if manifest.get("params") != params or set(manifest.get("tables", {})) != set(TABLES):
        return False
    for name, want in manifest["tables"].items():
        f = os.path.join(path, f"{name}.parquet")
        if not os.path.isfile(f) or _sha256(f) != want["sha256"]:
            return False
        if pq.read_metadata(f).num_rows != want["rows"]:
            return False
    return True


def ensure(path, seed, sf, n_docs):
    """Make (or verify and reuse) the input directory; return its manifest."""
    params = {"version": VERSION, "seed": seed, "sf": sf, "n_docs": n_docs}
    if not _verified(path, params):
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        entries = {}
        for name, table in tables(seed, sf, n_docs).items():
            f = os.path.join(tmp, f"{name}.parquet")
            pq.write_table(table, f)
            entries[name] = {"rows": table.num_rows, "sha256": _sha256(f)}
        with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
            json.dump({"params": params, "tables": entries}, f, indent=1, sort_keys=True)
        os.rename(tmp, path)
        if not _verified(path, params):
            raise RuntimeError(f"generated inputs at {path} do not verify")
    with open(os.path.join(path, "MANIFEST.json")) as f:
        return json.load(f)
