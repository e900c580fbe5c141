"""Seeded input generator for the benchmark.

Every table the program reads is synthesised here from the seed alone, with
the physical schemas and value distributions of the repository's TPC-H-ish
fixture files (value ranges as in FIXTURES.md; the parquet types as the
fixture footers now store them, which for events.ts, o_orderdate and
l_shipdate is timestamp[us] rather than the NANOS/ms types FIXTURES.md
records from an earlier fixture generation). The same seed gives
byte-identical parquet files, another seed gives other values. The program
only ever sees these generated directories.

Input shapes (sizes come from perfbench/workloads.json):
  base, corpus  the star schema + events + documents (with a near-duplicate
                rate) + embeddings
  etl           the same with lineitem and orders replicated x`copies`
                (order keys offset per replica so joins still match),
                written as multi-file parquet directories so scans get file
                parallelism
  long          the documents table only, with long documents (char-level
                kernels)
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "supplier", "customer", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
DAY_US = 86_400_000_000


def _days(start, end):
    """Epoch-microsecond day range [start, end] (ISO dates)."""
    a = np.datetime64(start, "us").astype(np.int64)
    b = np.datetime64(end, "us").astype(np.int64)
    return a, b


def _ts_days(rng, n, start, end):
    a, b = _days(start, end)
    days = rng.integers(0, (b - a) // DAY_US + 1, n)
    return pa.array(a + days * DAY_US, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _texts(rng, n, min_words, max_words, dup_rate):
    """Space-separated vocabulary words; a `dup_rate` share of the documents
    are near-duplicates: another document's text plus the token 'dup'."""
    lens = rng.integers(min_words, max_words + 1, n)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - l:e]) for e, l in zip(ends, lens)]
    dups = np.flatnonzero(rng.random(n) < dup_rate)
    for i, src in zip(dups, rng.integers(0, n, len(dups))):
        if src != i:
            texts[i] = texts[src] + " dup"
    return texts


def documents(rng, n, min_words=10, max_words=100, dup_rate=0.05):
    texts = _texts(rng, n, min_words, max_words, dup_rate)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def base_tables(rng, sizes):
    n_s, n_c, n_p, n_o, n_l, n_e = (sizes[k] for k in
                                    ("supplier", "customer", "part", "orders",
                                     "lineitem", "events"))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": _names("Supplier", n_s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _money(rng, n_s, -999.99, 9999.99)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": _names("Customer", n_c),
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(rng, n_c, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_c)})
    adj = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
    noun = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_p, dtype=np.int64),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in
                            zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_p)]),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_p),
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_o),
        "o_totalprice": _money(rng, n_o, 1000.0, 500000.0),
        "o_orderdate": _ts_days(rng, n_o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_o)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_o, n_l),
        "l_partkey": rng.integers(0, n_p, n_l),
        "l_suppkey": rng.integers(0, n_s, n_l),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(rng, n_l, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_l),
        "l_linestatus": _pick(rng, ["F", "O"], n_l),
        "l_shipdate": _ts_days(rng, n_l, "1995-01-02", "2001-11-04")})
    a, b = _days("2024-01-01", "2024-01-31")
    ts = np.sort(rng.integers(a, b, n_e))
    t["events"] = pa.table({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n_e),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_e),
        "value": np.round(rng.exponential(50.0, n_e), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)])})
    t["documents"] = documents(rng, sizes["documents"],
                               dup_rate=sizes.get("dup_rate", 0.05))
    t["embeddings"] = embeddings(rng, sizes["embeddings"])
    return t


def replicate(table, copies, key_offsets):
    """`copies` stacked replicas; replica i adds i*offset to each key."""
    parts = []
    for i in range(copies):
        cols = {}
        for name in table.column_names:
            col = table[name]
            if name in key_offsets:
                col = pc.add(col, pa.scalar(i * key_offsets[name], pa.int64()))
            cols[name] = col
        parts.append(pa.table(cols))
    return parts


def _write(tables, out, multi=()):
    for name, t in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        if name in multi:
            os.makedirs(path)
            for i, part in enumerate(t):
                pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"),
                               row_group_size=1 << 22)
        else:
            pq.write_table(t, path, row_group_size=1 << 22)


def generate(shape, seed, params, out):
    """Write one input directory `out` of the given shape for `seed`.
    Writes into a sibling temp dir and renames, so a half-written directory
    is never mistaken for a cached one."""
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    salt = int(hashlib.sha256(shape.encode()).hexdigest()[:8], 16)
    rng = np.random.default_rng([seed, salt])
    if shape == "long":
        _write({"documents": documents(rng, params["documents"],
                                       params["min_words"], params["max_words"],
                                       params["dup_rate"])}, tmp)
    else:
        tables = base_tables(rng, params)
        multi = ()
        if shape == "etl":
            k = params["copies"]
            n_o = params["orders"]
            tables["orders"] = replicate(tables["orders"], k, {"o_orderkey": n_o})
            tables["lineitem"] = replicate(tables["lineitem"], k, {"l_orderkey": n_o})
            multi = ("orders", "lineitem")
        _write(tables, tmp, multi)
    manifest = {}
    for name in sorted(os.listdir(tmp)):
        path = os.path.join(tmp, name)
        files = [os.path.join(path, f) for f in sorted(os.listdir(path))] \
            if os.path.isdir(path) else [path]
        manifest[name[:-len(".parquet")]] = {
            "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            "bytes": sum(os.path.getsize(f) for f in files)}
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    os.rename(tmp, out)
    return out


def table_glob(dirpath, name):
    """The parquet path (file or multi-file directory) DuckDB should read."""
    p = os.path.join(dirpath, f"{name}.parquet")
    return os.path.join(p, "*.parquet") if os.path.isdir(p) else p
