"""Seeded synthetic corpus with the schema and value domains of the
engine's testdata tables (TESTDATA.md): a TPC-H-shaped star schema plus
`events`, `documents` and `embeddings`.

Every table is drawn from one numpy generator seeded by `seed`, so the
same (seed, sf) always writes the same bytes. Value domains follow the
fixture the declared queries and their DuckDB oracles are calibrated
on: NATION_<k> names, order dates 1995-01-01..2001-08-01, January-2024
event times in event_id order, a 31-word document vocabulary with ~5%
" dup"-suffixed copies (the near-dup families need real pairs), and
unit-norm 64-dim float embeddings.

Usage: python3 perfbench/gen.py OUT_DIR SEED SF
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
ADJ = "blue hot small old red new cold large".split()
NOUN = "bolt gear anvil widget rod plate ring gizmo".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DAY_US = 86_400_000_000


def days(start, n):
    """`n` day offsets from `start` as timestamp[us] values."""
    base = np.datetime64(start, "us")
    return base + n.astype("timedelta64[D]").astype("timedelta64[us]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(15, n_cust // 10)
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())
    pick = lambda vals, n, p=None: np.asarray(vals, dtype=object)[
        rng.choice(len(vals), n, p=p)]

    yield "region", pa.table({"r_regionkey": i32(np.arange(5)), "r_name": REGIONS})
    nk = np.arange(25)
    yield "nation", pa.table({"n_nationkey": i32(nk),
                              "n_name": [f"NATION_{k}" for k in nk],
                              "n_regionkey": i32(nk % 5)})
    ck = np.arange(n_cust)
    yield "customer", pa.table({
        "c_custkey": i64(ck), "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(SEGMENTS, n_cust)})
    sk = np.arange(n_supp)
    yield "supplier", pa.table({
        "s_suppkey": i64(sk), "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    yield "part", pa.table({
        "p_partkey": i64(pk),
        "p_name": [f"{a} {b}" for a, b in zip(pick(ADJ, n_part), pick(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(TYPES, n_part), "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    yield "orders", pa.table({
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": days("1995-01-01", order_days),
        "o_orderpriority": pick(PRIORITIES, n_ord)})
    yield "lineitem", pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": days("1995-01-02", rng.integers(0, 2499, n_line))})
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    yield "events", pa.table({
        "event_id": i64(np.arange(n_ev)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": i64(rng.integers(0, n_users, n_ev)),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(pick(WORDS, int(rng.integers(10, 100)))))
    yield "documents", pa.table({
        "doc_id": i64(np.arange(n_docs)), "text": texts,
        "lang": pick(LANGS, n_docs, LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": i64([len(t) for t in texts])})
    vec = rng.normal(0.0, 1.0, (n_vecs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": i64(np.arange(n_vecs)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_vecs))})


def write(out, seed, sf):
    os.makedirs(out, exist_ok=True)
    for name, table in tables(seed, sf):
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))


def stage_streams(corpus, out, seed):
    """Stages the five pipelines' file-stream inputs from the corpus, two
    files each (one micro-batch per file), and returns the counts their
    outputs are checked against. Order-free inputs get seeded row and file
    orders; ingest and sessionize replay in event-time order, the arrival
    order their watermarks assume, so no row is late and the checks are
    exact. A file's modification time sets its replay order."""
    rng = np.random.default_rng(seed + 1)
    ev = pq.read_table(os.path.join(corpus, "events.parquet")).sort_by("ts")
    eid = ev["event_id"].to_numpy()
    props = np.asarray(ev["props"].to_pylist(), dtype=object)
    content = np.where(eid % 97 == 0, None, np.where(eid % 89 == 0, "", props))
    ts = pa.array(ev["ts"].to_numpy(), pa.timestamp("us", tz="UTC"))
    docs = pq.read_table(os.path.join(corpus, "documents.parquet"))
    vecs = pq.read_table(os.path.join(corpus, "embeddings.parquet"))

    def replicate(table, key, k):
        return pa.concat_tables(
            table.set_column(table.schema.get_field_index(key), key,
                             pa.array(table[key].to_numpy() + rep * 10_000_000))
            for rep in range(k))

    def shuffled(table):
        return table.take(rng.permutation(table.num_rows))

    inputs = {
        "ingest": (pa.table({"ts": ts, "event_id": ev["event_id"],
                             "station_id": pa.array(ev["user_id"].to_numpy() % 50),
                             "content": pa.array(content, pa.string())}), False),
        "neardup_gate": (shuffled(replicate(docs.select(["doc_id", "text"]), "doc_id", 2)), True),
        "sessionize": (pa.table({"ts": ts, "user_id": ev["user_id"]}), False),
        "cdc_latest": (shuffled(pa.table({
            "user_id": ev["user_id"],
            "us": pa.array(ev["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)),
            "event_id": ev["event_id"], "op": ev["event_type"], "value": ev["value"]})), True),
        "quality_gate": (shuffled(replicate(vecs.select(["vec_id", "embedding"]), "vec_id", 4)),
                         True),
    }
    base = 1_600_000_000
    for name, (table, permute) in inputs.items():
        d = os.path.join(out, name)
        os.makedirs(d)
        half = table.num_rows // 2
        files = [f"part-{i}.parquet" for i in range(2)]
        for i, chunk in enumerate((table.slice(0, half), table.slice(half))):
            pq.write_table(chunk, os.path.join(d, files[i]))
        order = rng.permutation(2) if permute else range(2)
        for rank, i in enumerate(order):
            os.utime(os.path.join(d, files[i]), (base + rank, base + rank))
    return {
        "rows": {name: t.num_rows for name, (t, _) in inputs.items()},
        "dead_letters": int(sum(1 for c in content if not c)),
        "users": len(set(ev["user_id"].to_pylist())),
    }
