"""Input generator for the benchmark.

Two steps, both deterministic:

* `base(dir, sf)` writes the ten tables the engine reads (TPC-H-like star
  schema plus events, documents and embeddings) with a fixed generator
  seed, so every run of a workload sees the same rows.
* `permute(base_dir, out_dir, seed)` writes a copy of each table whose
  rows are shuffled by `seed`. The copy keeps each table's schema
  (timestamp types included), row count, single file, single row group
  and snappy compression; `check_copy` confirms it.

Query results must not depend on the seed: a query whose output moves
with row order is a defect the benchmark reports.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

GEN_SEED = 42
VOCAB = ("row the query stream value hash batch sort data big filter key agg "
         "scan slow table part a merge window order column join vector fast "
         "spark line small customer group").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EPOCH_US = np.datetime64("1970-01-01T00:00:00", "us")


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    d = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sf):
    rng = np.random.default_rng(GEN_SEED)
    n_cust = max(int(150000 * sf), 50)
    n_supp = max(int(10000 * sf), 5)
    n_part = max(int(200000 * sf), 50)
    n_ord = max(int(1500000 * sf), 500)
    n_li = max(int(6000000 * sf), 2000)
    n_ev = max(int(1000000 * sf), 1000)
    n_doc = max(int(50000 * sf), 500)
    n_emb = max(int(20000 * sf), 500)
    n_user = max(n_cust // 10, 20)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    adj = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
    noun = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900, 105000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")})
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_ev)) + \
        (np.datetime64("2024-01-01T00:00:00", "us") - EPOCH_US).astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        "event_type": rng.choice(
            ["click", "signup", "error", "view", "purchase"], n_ev),
        "value": np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:   # near duplicate of an older doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    vec = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def _write(table, path):
    pq.write_table(table, path, compression="snappy",
                   row_group_size=max(table.num_rows, 1))


def base(out_dir, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(sf).items():
        _write(table, f"{out_dir}/{name}.parquet")


def permute(base_dir, out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name in TABLES:
        table = pq.read_table(f"{base_dir}/{name}.parquet")
        _write(table.take(rng.permutation(table.num_rows)),
               f"{out_dir}/{name}.parquet")


def _shape(path):
    f = pq.ParquetFile(path)
    md = f.metadata
    codecs = {md.row_group(g).column(c).compression
              for g in range(md.num_row_groups) for c in range(md.num_columns)}
    return f.schema_arrow.remove_metadata(), md.num_rows, md.num_row_groups, codecs


def check_copy(base_dir, out_dir):
    """Raise unless every table in out_dir has the base table's shape."""
    files = os.listdir(out_dir)
    for name in TABLES:
        assert f"{name}.parquet" in files, f"{name}: missing"
        b_schema, b_rows, _, _ = _shape(f"{base_dir}/{name}.parquet")
        schema, rows, groups, codecs = _shape(f"{out_dir}/{name}.parquet")
        assert schema.equals(b_schema), f"{name}: schema changed"
        assert rows == b_rows, f"{name}: {rows} rows, base has {b_rows}"
        assert groups == 1, f"{name}: {groups} row groups"
        assert codecs == {"SNAPPY"}, f"{name}: codecs {codecs}"
    extra = set(files) - {f"{t}.parquet" for t in TABLES}
    assert not extra, f"unexpected files {sorted(extra)}"
