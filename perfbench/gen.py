"""Seeded source-data generator for the graft benchmark.

Writes the ten source tables graft reads (`Tables.all`) as single-file,
single-row-group parquet, in the same column types and value domains as
the TPC-H-ish test data the operators are written against. The same
(seed, sf) always yields byte-identical tables, so every run of a
workload sees the same inputs, and a different seed gives different
inputs of the same shape.

Also writes the micro-batch feed (`gen_batches`) and the query order
(`query_order`), both from the same seed.
"""
import os
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The ten source tables graft reads (graft.Tables.all).
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PADJ = ["red", "blue", "small", "large", "hot", "old"]
PNOUN = ["widget", "bolt", "ring", "plate", "rod", "gizmo"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=max(1, table.num_rows))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_sources(out_dir: str, seed: int, sf: float) -> None:
    """Writes the ten TABLES under out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(100, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    def put(name, cols):
        _write(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())
    f64 = lambda a: pa.array(a, pa.float64())
    ts = lambda a: pa.array(a, pa.timestamp("us"))
    put("region", {"r_regionkey": i32(range(5)),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": i32(range(25)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": i32([i % 5 for i in range(25)])})
    put("customer", {
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": f64(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    put("supplier", {
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": f64(_money(rng, -999.99, 9999.99, n_supp))})
    put("part", {
        "p_partkey": i64(np.arange(n_part)),
        "p_name": [f"{PADJ[a]} {PNOUN[b]}" for a, b in
                   zip(rng.integers(0, 6, n_part), rng.integers(0, 6, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": f64(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1))})
    odays = rng.integers(0, 2404, n_ord)
    put("orders", {
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": f64(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": ts(EPOCH_1995 + odays * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    lok = rng.integers(0, n_ord, n_line)
    lpart = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    put("lineitem", {
        "l_orderkey": i64(lok),
        "l_partkey": i64(lpart),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": f64(qty),
        "l_extendedprice": f64(np.round(qty * (900.0 + (lpart % 1000) * 0.1) *
                                        rng.uniform(0.98, 2.1, n_line), 2)),
        "l_discount": f64(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": f64(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": ts(EPOCH_1995 + (odays[lok] + rng.integers(1, 122, n_line)) * DAY_US)})
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    put("events", {
        "event_id": i64(np.arange(n_ev)),
        "ts": ts(EPOCH_2024 + ev_us),
        "user_id": i64(rng.integers(0, max(15, n_ev // 66), n_ev)),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": f64(np.round(rng.exponential(25.0, n_ev) + 0.01, 2)),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup operators'
            # signal
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), n)))
    put("documents", {
        "doc_id": i64(np.arange(n_doc)),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": i64([len(t) for t in texts])})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": i64(np.arange(n_emb)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_emb))})


# Micro-batch feed. Each batch delivers `rows` rows of one table, rotating
# customer -> orders -> lineitem. A batch mixes three kinds of rows:
#   novel       rows with keys the vault has never seen,
#   changed     an already-delivered key with new descriptor values, so the
#               satellite gains a version and the hub gains nothing,
#   redelivered an exact copy of an already-delivered row, which the
#               insert-only anti-join must drop.
# Batch `erasure_first` and every `erasure_every`-th batch after it also
# file right-to-erasure requests for a few delivered customers.
#
# The shares, the erasure cadence and the request size are assumptions,
# not measurements: no production feed is on record. The 1000-row batch
# size is graft.PipelineBench's; its batches are all novel, and these add
# the two other kinds so the anti-join and the satellite versioning do
# work. The cadence is coprime with the 3-table rotation, so over the feed
# erasures ride on batches of every table.
BATCH_TABLES = ["customer", "orders", "lineitem"]
NOVEL, CHANGED = 0.6, 0.2
ERASURES_PER_REQUEST = 3


def gen_batches(src_dir: str, out_dir: str, seed: int, n_batches: int, rows: int,
                erasure_every: int, erasure_first: int) -> list:
    """Writes batch parquet files; returns the feed plan, one dict a batch."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed * 7919 + 17)
    base = {t: pq.read_table(os.path.join(src_dir, f"{t}.parquet"))
            for t in BATCH_TABLES + ["part", "supplier"]}
    schema = {t: base[t].schema for t in BATCH_TABLES}
    seen = {t: [base[t].to_pandas()] for t in BATCH_TABLES}
    n_part = base["part"].num_rows
    n_supp = base["supplier"].num_rows
    next_key = {"customer": base["customer"].num_rows, "orders": base["orders"].num_rows}
    next_line = [8]  # novel lines get line numbers no base order uses
    erased = set()
    plan = []
    for b in range(n_batches):
        table = BATCH_TABLES[b % len(BATCH_TABLES)]
        n_novel = int(rows * NOVEL)
        n_changed = int(rows * CHANGED)
        n_redeliver = rows - n_novel - n_changed
        have = pd.concat(seen[table], ignore_index=True)
        if table == "customer":
            keys = np.arange(next_key["customer"], next_key["customer"] + n_novel)
            next_key["customer"] += n_novel
            novel = pd.DataFrame({
                "c_custkey": keys,
                "c_name": [f"Customer#{k:09d}" for k in keys],
                "c_nationkey": rng.integers(0, 25, n_novel).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_novel),
                "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_novel)]})
            changed = have.iloc[rng.integers(0, len(have), n_changed)].copy()
            changed["c_acctbal"] = _money(rng, -999.99, 9999.99, n_changed)
            changed["c_mktsegment"] = [SEGMENTS[i] for i in rng.integers(0, 5, n_changed)]
        elif table == "orders":
            keys = np.arange(next_key["orders"], next_key["orders"] + n_novel)
            next_key["orders"] += n_novel
            cust = pd.concat(seen["customer"], ignore_index=True)["c_custkey"].to_numpy()
            novel = pd.DataFrame({
                "o_orderkey": keys,
                "o_custkey": cust[rng.integers(0, len(cust), n_novel)],
                "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_novel)],
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_novel),
                "o_orderdate": EPOCH_1995 + rng.integers(0, 2404, n_novel) * DAY_US,
                "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_novel)]})
            changed = have.iloc[rng.integers(0, len(have), n_changed)].copy()
            changed["o_orderstatus"] = [("F", "O", "P")[i] for i in rng.integers(0, 3, n_changed)]
            changed["o_totalprice"] = _money(rng, 1000.0, 500_000.0, n_changed)
        else:
            orders = pd.concat(seen["orders"], ignore_index=True)["o_orderkey"].to_numpy()
            lines = np.arange(next_line[0], next_line[0] + n_novel)
            next_line[0] += n_novel
            qty = rng.integers(1, 51, n_novel).astype(np.float64)
            lpart = rng.integers(0, n_part, n_novel)
            novel = pd.DataFrame({
                "l_orderkey": orders[rng.integers(0, len(orders), n_novel)],
                "l_partkey": lpart,
                "l_suppkey": rng.integers(0, n_supp, n_novel),
                "l_linenumber": lines.astype(np.int32),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * (900.0 + (lpart % 1000) * 0.1), 2),
                "l_discount": rng.integers(0, 11, n_novel) / 100.0,
                "l_tax": rng.integers(0, 9, n_novel) / 100.0,
                "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_novel)],
                "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_novel)],
                "l_shipdate": EPOCH_1995 + rng.integers(0, 2525, n_novel) * DAY_US})
            changed = have.iloc[rng.integers(0, len(have), n_changed)].copy()
            changed["l_quantity"] = rng.integers(1, 51, n_changed).astype(np.float64)
            changed["l_discount"] = rng.integers(0, 11, n_changed) / 100.0
        redelivered = have.iloc[rng.integers(0, len(have), n_redeliver)]
        batch = pd.concat([novel, changed, redelivered], ignore_index=True)
        batch = batch.iloc[rng.permutation(len(batch))]
        path = os.path.join(out_dir, f"b{b:04d}.parquet")
        _write(pa.Table.from_pandas(batch, schema=schema[table], preserve_index=False), path)
        seen[table].append(pd.concat([novel, changed], ignore_index=True))
        erase = []
        if b >= erasure_first and (b - erasure_first) % erasure_every == 0:
            cust = pd.concat(seen["customer"], ignore_index=True)["c_custkey"].unique()
            pool = np.setdiff1d(cust, np.array(sorted(erased), dtype=cust.dtype))
            erase = sorted(int(k) for k in rng.choice(pool, ERASURES_PER_REQUEST, replace=False))
            erased.update(erase)
        plan.append({"table": table, "path": path, "novel": n_novel,
                     "erase": erase})
    return plan


def query_order(seed: int, names: list, rounds: int) -> list:
    """`rounds` passes over `names`, each pass in its own seeded shuffle."""
    r = random.Random(seed * 104729 + 3)
    out = []
    for _ in range(rounds):
        p = list(names)
        r.shuffle(p)
        out.extend(p)
    return out
