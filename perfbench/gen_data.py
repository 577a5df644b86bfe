"""Seeded input generator for the benchmark.

Writes the ten tables the registered queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as one parquet file each, with the same schema and value
domains as the TPC-H-like test tables the engine is verified on. The
row counts scale linearly with `sf` (sf=0.01 gives 60,000 lineitems).
The same (seed, sf) always gives byte-identical values.

A tenth of the documents are near-duplicates of an earlier document
(a few words replaced), so the dedup operators have pairs to find.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("row the query stream fast spark line small customer group value hash "
         "batch sort data big filter dup key agg scan slow table part a merge "
         "window order column join vector").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
EMBED_DIM = 64


def _ts(start, offsets_us):
    base = np.datetime64(start, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _days(rng, n, start, end):
    span = (np.datetime64(end, "D") - np.datetime64(start, "D")).astype(int)
    return _ts(start, rng.integers(0, span + 1, n).astype(np.int64) * 86_400_000_000)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float) -> dict:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec, n_user = int(50_000 * sf), int(50_000 * sf), max(10, int(15_000 * sf))
    out = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                              "r_name": REGIONS})
    out["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                              "n_name": [f"NATION_{i}" for i in range(25)],
                              "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    # events: distinct, increasing timestamps over 30 days (event_id order = ts order)
    span_us = 30 * 86_400_000_000
    ev_off = np.sort(rng.choice(span_us, n_ev, replace=False))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", ev_off),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_vec, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def lake_tables(seed: int, base: dict) -> dict:
    """Inputs of the lake pipeline, derived from the base tables.

    `lake_raw` is lineitem with faults injected into 4% of the rows
    (null quantity, discount out of range, negative price, unknown return
    flag) and 1% of the rows pointing at a supplier that does not exist.
    `cdc_1`..`cdc_3` and `cdc_stream/batch_4` are customer change batches:
    each changes the balance or segment of a random 5% of the customers,
    repeats another 2% unchanged, and the third adds 1% new customers.
    """
    rng = np.random.default_rng([seed, 1])
    li = base["lineitem"]
    fault = rng.integers(0, 100, li.num_rows)
    cols = {k: li[k].to_numpy(zero_copy_only=False) for k in li.column_names}
    price = cols["l_extendedprice"]
    out = {"lake_raw": pa.table({
        **{k: li[k] for k in li.column_names},
        "l_quantity": pa.array(cols["l_quantity"], mask=fault == 0),
        "l_discount": np.where(fault == 1, 0.25, cols["l_discount"]),
        "l_extendedprice": np.where(fault == 2, -price, price),
        "l_returnflag": np.where(fault == 3, "X", cols["l_returnflag"]),
        "l_suppkey": pa.array(np.where(fault == 4, cols["l_suppkey"] + 1_000_000,
                                       cols["l_suppkey"]), pa.int64())})}

    cust = base["customer"]
    state = {k: cust[k].to_numpy(zero_copy_only=False).copy() for k in cust.column_names}
    n_cust = cust.num_rows
    for b in range(1, 5):
        pick = rng.permutation(n_cust)
        changed, same = pick[: n_cust // 20], pick[n_cust // 20: n_cust // 20 + n_cust // 50]
        for i in changed:
            if rng.random() < 0.5:
                state["c_acctbal"][i] = round(state["c_acctbal"][i] + float(rng.integers(1, 50_000)) / 100, 2)
            else:
                state["c_mktsegment"][i] = SEGMENTS[(SEGMENTS.index(state["c_mktsegment"][i]) + 1) % 5]
        rows = np.sort(np.concatenate([changed, same]))
        cols = {k: state[k][rows] for k in cust.column_names}
        if b == 3:
            k = max(1, n_cust // 100)
            cols["c_custkey"] = np.concatenate([cols["c_custkey"], np.arange(n_cust, n_cust + k)])
            cols["c_name"] = np.concatenate([cols["c_name"], [f"Customer#{i:09d}" for i in range(n_cust, n_cust + k)]])
            cols["c_nationkey"] = np.concatenate([cols["c_nationkey"], rng.integers(0, 25, k)])
            cols["c_acctbal"] = np.concatenate([cols["c_acctbal"], _money(rng, -999.99, 9999.99, k)])
            cols["c_mktsegment"] = np.concatenate([cols["c_mktsegment"], rng.choice(SEGMENTS, k)])
        t = pa.table({
            "c_custkey": pa.array(cols["c_custkey"], pa.int64()),
            "c_name": pa.array(cols["c_name"], pa.string()),
            "c_nationkey": pa.array(cols["c_nationkey"], pa.int32()),
            "c_acctbal": pa.array(cols["c_acctbal"], pa.float64()),
            "c_mktsegment": pa.array(cols["c_mktsegment"], pa.string()),
            "change_ts": pa.array([datetime.datetime(2024, b + 1, 1)] * len(cols["c_custkey"]),
                                  pa.timestamp("us", tz="UTC"))})
        out[f"cdc_{b}" if b < 4 else "cdc_stream/batch_4"] = t
    return out


def write(seed: int, sf: float, out_dir: str, lake: bool = False) -> None:
    base = tables(seed, sf)
    todo = dict(base, **(lake_tables(seed, base) if lake else {}))
    for name, t in todo.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(t, path)


if __name__ == "__main__":
    import sys
    write(int(sys.argv[1]), float(sys.argv[2]), sys.argv[3], lake=len(sys.argv) > 4)
