"""Tables for the `catalog` workload, in the schema the program's queries
read (`graft.Tables`): the TPC-H-like star schema, `events`, `documents`
and `embeddings`, one parquet file each.

Column names and types are those FIXTURES.md gives for the shared test
corpus: `events.ts` a nanosecond timestamp (so `Tables.events` takes its
`ts div 1000` path), `o_orderdate` and `l_shipdate` millisecond
timestamps, `props` `{"k": n}` JSON, documents space-separated tokens
with a language code, embeddings float arrays with an int label. Row
counts scale with `sf` as FIXTURES.md states. The value distributions
(uniform keys and dates, 30 days of events from 2024-01-01, a small
vocabulary per language, unit-norm 64-float vectors with ten labels) are
chosen here and not checked against that corpus.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["small", "new", "hot", "large", "cold", "blue", "old", "red"]
NOUN = ["widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"]
TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
# a small vocabulary per language; zh words are space-separated like
# the others, since FIXTURES.md gives the text as space-separated tokens
WORDS = {
    "en": ["the", "a", "data", "table", "query", "row", "column", "join", "order", "value",
           "stream", "window", "small", "big", "fast", "slow", "key", "group", "merge", "sort"],
    "de": ["der", "die", "das", "und", "daten", "tabelle", "abfrage", "zeile", "spalte", "wert",
           "schnell", "langsam", "klein", "groß", "schlüssel", "gruppe", "über", "für", "größe", "straße"],
    "es": ["el", "la", "los", "datos", "tabla", "consulta", "fila", "columna", "valor", "año",
           "rápido", "lento", "pequeño", "grande", "clave", "grupo", "orden", "también", "niño", "señal"],
    "fr": ["le", "la", "les", "données", "table", "requête", "ligne", "colonne", "valeur", "clé",
           "rapide", "lent", "petit", "grand", "groupe", "ordre", "été", "très", "où", "français"],
    "zh": ["数据", "表", "查询", "行", "列", "连接", "排序", "值", "流", "窗口",
           "小", "大", "快", "慢", "键", "分组", "合并", "的", "是", "在"],
}
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
DAY_NS = 86_400_000_000_000
EVENTS_EPOCH_NS = 1_704_067_200_000_000_000  # 2024-01-01
ORDERS_EPOCH_MS = 788_918_400_000  # 1995-01-01


def _ts_ns(a):
    return pa.array(a, pa.timestamp("ns"))


def _ts_ms(a):
    return pa.array(a, pa.timestamp("ms"))


def tables(sf, seed):
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    users = max(150, int(15_000 * sf))
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)].tolist()})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(TYPES, dtype=object)[rng.integers(0, 6, n_part)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(STATUSES, dtype=object)[rng.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts_ms(ORDERS_EPOCH_MS + rng.integers(0, 2404, n_ord) * 86_400_000),
        "o_orderpriority": np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, n_ord)].tolist()})
    qty = rng.integers(1, 51, n_line).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_line)].tolist(),
        "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_line)].tolist(),
        "l_shipdate": _ts_ms(ORDERS_EPOCH_MS + rng.integers(1, 2500, n_line) * 86_400_000)})
    ts = np.sort(EVENTS_EPOCH_NS + rng.integers(0, 30 * DAY_NS, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts_ns(ts),
        "user_id": rng.integers(0, users, n_ev),
        "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n_ev)].tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    lens = rng.integers(8, 100, n_doc)
    langs = np.array(LANGS, dtype=object)[rng.choice(5, n_doc, p=LANG_P)].tolist()
    vocab = {k: np.array(v, dtype=object) for k, v in WORDS.items()}
    texts = [" ".join(vocab[g][rng.integers(0, len(vocab[g]), n)]) for g, n in zip(langs, lens)]
    for i in rng.choice(n_doc, size=max(1, n_doc // 600), replace=False):
        texts[i] = texts[(i + 1) % n_doc]  # a few exact duplicates
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    v = rng.standard_normal((n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def write(sf, seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
