"""Deterministic synthetic fixtures for the query workloads.

Writes the ten tables graft's declared queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as one-row-group parquet files, with the schemas and value
domains of the TPC-H-style star schema, the events stream and the LLM
tables that graft's queries expect.  Row counts follow the scale factor
`sf` (lineitem = 6M x sf).  The data depend only on `sf`: the workload
seed sets the query order, never the data, so the recorded expected
outputs (expected.tsv) hold for every run.

    python3 perfbench/fixtures.py <out_dir> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240601

WORDS = ("a the data table row column key value query join filter scan sort "
         "merge hash group agg order line part customer window stream batch "
         "spark fast slow big small vector index shard token corpus model "
         "text train eval score rank").split()
ADJ = "red small hot old large blue cold new".split()
NOUN = "plate widget ring rod bolt gizmo gear anvil".split()
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
PTYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "click error purchase signup view".split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
MS_PER_DAY = 86_400_000


def _days(rng, n, first, last):
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * MS_PER_DAY


def _money(x):
    return np.round(x, 2)


def _ts_ms(v):
    return pa.array(v, type=pa.int64()).cast(pa.timestamp("ms"))


def tables(sf):
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    ck = np.arange(n_cust)
    out["customer"] = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})

    sk = np.arange(n_supp)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp))})

    pk = np.arange(n_part)
    retail = np.round(900.0 + (pk % 1000) / 10.0, 1)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in
                   zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail})

    ok = np.arange(n_ord)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng.uniform(1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts_ms(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": rng.choice(PRIOS, n_ord)})

    qty = rng.integers(1, 51, n_line).astype(np.float64)
    lpart = rng.integers(0, n_part, n_line)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(lpart, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(qty * retail[lpart] * rng.uniform(0.95, 2.1, n_line)),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts_ms(_days(rng, n_line, "1995-01-02", "2001-11-04"))})

    # events: event time mostly follows event_id, with local disorder
    start_ns = np.datetime64("2024-01-01T00:00:00", "ns").astype(np.int64)
    span_ns = 30 * 86_400 * 10**9
    base = np.sort(rng.integers(0, span_ns, n_ev))
    jitter = rng.integers(-600, 600, n_ev) * 10**9
    ts = np.clip(base + jitter, 0, span_ns - 1) + start_ns
    ts = (ts // 1000) * 1000  # µs precision so Spark and DuckDB agree
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": _money(np.clip(rng.exponential(50.0, n_ev), 0.01, 490.0)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # documents: word soup with a share of near-duplicates (a copy of an
    # earlier doc with ~10% of its words replaced)
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.12:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 10)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 90))))
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array(rng.integers(48, 554, n_docs), pa.int64())})

    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 0.12, (10, 64))
    emb = (centers[labels] + rng.normal(0.0, 0.06, (n_vecs, 64))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(out_dir, sf):
    """Write the fixture set to `out_dir` atomically (temp dir + rename)."""
    if os.path.isdir(out_dir):
        return
    tmp = f"{out_dir}.tmp{os.getpid()}"
    os.makedirs(tmp)
    for name, t in tables(sf).items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))
    os.rename(tmp, out_dir)


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]))
