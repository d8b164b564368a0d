"""Seeded input generator for the benchmark.

Writes the engine's ten declared tables (the TPC-H-like star schema plus
the events / documents / embeddings extension tables) as parquet, with
the same column names and types as the engine's test corpus. The same
seed always gives byte-identical files; sizes do not depend on the seed,
only the values do.

Two input sets:

- ``catalog``: all ten tables, one flat single-row-group file each, at
  scale factor ``sf`` (sf 0.01 = 60k lineitem rows).
- ``lineitem``: one large ``lineitem.parquet`` *directory* holding
  ``files_per_year`` files per ship year (1995..2001), so a scan of it
  splits into many tasks and each ship year's rows sit in their own
  files.

Each set gets a ``manifest.json`` with rows, committed bytes, uncompressed
bytes, files and row groups per table, plus an input hash over the file
bytes. Run directly to print a manifest:

    python3 perfbench/gen.py catalog 7 OUT_DIR
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

YEARS = list(range(1995, 2002))  # ship years mapped to physical slices 1..7
VOCAB = ("a the data query table row column key value join sort hash scan "
         "filter group agg order line part customer batch stream window "
         "spark merge small big fast slow vector").split()
LANGS = np.array(["en", "fr", "de", "es", "zh"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _rng(seed, table):
    # one independent stream per (seed, table): adding a table never
    # shifts the values of another
    return np.random.default_rng([seed, int.from_bytes(table.encode(), "little") % (2**32)])


def _ts(days_since_1995):
    base = np.datetime64("1995-01-01", "us")
    return pa.array(base + days_since_1995.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _counts(sf):
    return {"customer": int(150_000 * sf), "supplier": int(10_000 * sf),
            "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
            "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
            "documents": int(50_000 * sf), "embeddings": int(50_000 * sf)}


def lineitem_table(seed, n, key_offset, n_orders, n_parts, n_supp, days_lo, days_hi, tag="lineitem"):
    r = _rng(seed, tag)
    qty = r.integers(1, 51, n).astype("float64")
    return pa.table({
        "l_orderkey": pa.array(key_offset + r.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_parts, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n), 2),
        "l_discount": np.round(r.uniform(0.0, 0.10, n), 2),
        "l_tax": np.round(r.uniform(0.0, 0.08, n), 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n)]),
        "l_shipdate": _ts(r.integers(days_lo, days_hi, n)),
    })


def catalog_tables(seed, sf):
    c = _counts(sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    r, n = _rng(seed, "customer"), c["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"])[r.integers(0, 5, n)]})
    r, n = _rng(seed, "supplier"), c["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n)})
    r, n = _rng(seed, "part"), c["part"]
    adj = np.array(["blue", "red", "small", "hot", "cold", "old", "new", "big"])
    noun = np.array(["bolt", "gear", "anvil", "widget", "ring", "rod", "plate", "nut"])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, n)], " "), noun[r.integers(0, 8, n)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n).astype(str)),
        "p_type": np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                            "PROMO"])[r.integers(0, 6, n)],
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1)})
    r, n = _rng(seed, "orders"), c["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(r.integers(0, c["customer"], n), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n),
        "o_orderdate": _ts(r.integers(0, 2404, n)),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[r.integers(0, 5, n)]})
    # ship dates stay inside 1995..2001, the seven physical slices
    out["lineitem"] = lineitem_table(seed, c["lineitem"], 0, c["orders"], c["part"],
                                     c["supplier"], 1, 2500)
    r, n = _rng(seed, "events"), c["events"]
    gaps_us = r.integers(1, 2 * 30 * 86_400_000_000 // max(n, 1), n)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + np.cumsum(gaps_us).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(int(15_000 * sf), 10), n), pa.int64()),
        "event_type": np.array(["click", "view", "error", "purchase", "signup"])[r.integers(0, 5, n)],
        "value": _money(r, 0.01, 490.0, n),
        "props": np.char.add(np.char.add('{"k": ', r.integers(0, 100, n).astype(str)), "}")})
    r, n = _rng(seed, "documents"), c["documents"]
    vocab = np.array(VOCAB)
    texts = []
    for _ in range(n):
        texts.append(" ".join(vocab[r.integers(0, len(vocab), int(r.integers(8, 90)))]))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": LANGS[r.choice(5, n, p=LANG_P)],
        "source": np.char.add("src", (np.arange(n) % 20).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    r, n = _rng(seed, "embeddings"), c["embeddings"]
    emb = (r.standard_normal((n, 64)) * 0.125).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n), pa.int32())})
    return out


def _write(table, path):
    # one row group per file, the layout of the engine's test corpus
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1),
                   compression="snappy")


def _stats(paths):
    rows = comp = uncomp = groups = 0
    for p in paths:
        md = pq.ParquetFile(p).metadata
        rows += md.num_rows
        groups += md.num_row_groups
        for g in range(md.num_row_groups):
            uncomp += md.row_group(g).total_byte_size
        comp += os.path.getsize(p)
    return {"rows": rows, "committed_bytes": comp, "uncompressed_bytes": uncomp,
            "files": len(paths), "row_groups": groups}


def _hash(out_dir):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(out_dir)):
        for f in sorted(files):
            if f == "manifest.json":
                continue
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, out_dir).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def generate(kind, seed, out_dir, sf=0.01, rows=600_000, files_per_year=2):
    """Write one input set into ``out_dir`` (created) and return its manifest."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {}
    if kind == "catalog":
        for name, t in catalog_tables(seed, sf).items():
            p = os.path.join(out_dir, f"{name}.parquet")
            _write(t, p)
            tables[name] = _stats([p])
        params = {"sf": sf}
    elif kind == "lineitem":
        d = os.path.join(out_dir, "lineitem.parquet")
        os.makedirs(d, exist_ok=True)
        per_year = rows // len(YEARS)
        n_orders = rows // 4
        paths = []
        for y, year in enumerate(YEARS):
            lo = int((np.datetime64(f"{year}-01-01") - np.datetime64("1995-01-01")).astype(int))
            hi = int((np.datetime64(f"{year + 1}-01-01") - np.datetime64("1995-01-01")).astype(int))
            t = lineitem_table(seed, per_year, 0, n_orders, 200_000, 10_000, lo, hi,
                               tag=f"lineitem-{year}")
            # each year's replica gets its own order-key range, so keys stay
            # unique across years
            t = t.set_column(0, "l_orderkey", pa.compute.add(t.column(0), y * n_orders))
            step = -(-per_year // files_per_year)
            for j in range(files_per_year):
                p = os.path.join(d, f"part-{year}-{j}.parquet")
                _write(t.slice(j * step, step), p)
                paths.append(p)
        tables["lineitem"] = _stats(paths)
        params = {"rows": rows, "files_per_year": files_per_year}
    else:
        raise ValueError(f"unknown input set {kind}")
    manifest = {"kind": kind, "seed": seed, "params": params, "tables": tables,
                "input_hash": _hash(out_dir)}
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]), indent=1))
