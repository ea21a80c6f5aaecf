"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed: the same seed gives
byte-identical files, another seed gives different ones (see
test_gen.py). The program under test only ever sees the files written
here.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The word list of the repository's document fixture; 'dup' marks the
# planted near-duplicate documents the dedup operators look for.
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

ETL_DOCS = 10000
QUEUE_OBJECTS = 160
FIXTURE_SF = 0.01
# share of corpus documents that copy an earlier document's text
EXACT_DUP_RATE = 0.03


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _texts(rng: np.random.Generator, n: int, dup_rate: float):
    """n space-joined word sequences; ~dup_rate of them end in 'dup' and
    repeat a nearby text with one word changed (near duplicates)."""
    words = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    flat = words[rng.integers(0, len(words), int(lens.sum()))]
    out, pos = [], 0
    for ln in lens:
        out.append(flat[pos:pos + ln].tolist())
        pos += ln
    for i in np.nonzero(rng.random(n) < dup_rate)[0]:
        src = out[max(0, i - 1 - int(rng.integers(0, 20)))]
        near = list(src)
        near[int(rng.integers(0, len(near)))] = str(words[rng.integers(0, len(words))])
        out[i] = near + ["dup"]
    return [" ".join(t) for t in out]


def documents(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    texts = _texts(rng, n, dup_rate=0.05)
    # planted exact duplicates: copies of an earlier document's text
    for i in np.nonzero(rng.random(n) < EXACT_DUP_RATE)[0]:
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[k] for k in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def etl_inputs(seed: int, out: str) -> dict:
    """The document corpus the etl jobnet loads, dedups and curates."""
    os.makedirs(out, exist_ok=True)
    docs = documents(seed, ETL_DOCS)
    _write_parquet(docs, os.path.join(out, "documents.parquet"))
    texts = docs.column("text").to_pylist()
    return {"docs": ETL_DOCS, "distinct_texts": len(set(texts)),
            "queue_objects": 32}


def queue_inputs(seed: int, out: str) -> dict:
    """Small JSON-lines queue objects, plus a load-log history: entries for
    older objects no longer queued, and ~10% of the queued objects, which
    stand in for objects a crashed run loaded but never dequeued."""
    qdir = os.path.join(out, "queue")
    os.makedirs(qdir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    texts = _texts(rng, QUEUE_OBJECTS * 4, dup_rate=0.0)
    leftovers = set(int(i) for i in rng.choice(
        QUEUE_OBJECTS, QUEUE_OBJECTS // 10, replace=False))
    next_id, ti = 10_000_000, 0
    expected_ids, expected_bytes, objects = [], 0, []
    for k in range(QUEUE_OBJECTS):
        name = f"obj_{k:06d}.json"
        lines = []
        for _ in range(int(rng.integers(1, 5))):
            t = texts[ti]
            ti += 1
            lines.append(json.dumps({
                "doc_id": next_id, "text": t,
                "lang": LANGS[int(rng.integers(0, len(LANGS)))],
                "source": f"src{int(rng.integers(0, 20))}",
                "n_chars": len(t)}, sort_keys=True))
            if k not in leftovers:
                expected_ids.append(next_id)
            next_id += 1
        body = ("\n".join(lines) + "\n").encode()
        with open(os.path.join(qdir, name), "wb") as f:
            f.write(body)
        if k not in leftovers:
            expected_bytes += len(body)
        objects.append(name)
    history = [{"rel": f"queue_old/obj_{k:06d}.json",
                "job_process_id": f"hist-{k // 50}",
                "start": f"2024-01-{1 + k // 200:02d} 00:{(k // 50) % 60:02d}:00",
                "end": f"2024-01-{1 + k // 200:02d} 00:{(k // 50) % 60:02d}:30"}
               for k in range(QUEUE_OBJECTS * 2)]
    history += [{"rel": f"queue/{objects[k]}", "job_process_id": "crashed",
                 "start": "2024-02-01 00:00:00", "end": "2024-02-01 00:00:30"}
                for k in sorted(leftovers)]
    with open(os.path.join(out, "log_history.json"), "w") as f:
        for h in history:
            f.write(json.dumps(h, sort_keys=True) + "\n")
    return {"objects": QUEUE_OBJECTS, "leftovers": len(leftovers),
            "history": len(history),
            "expected_rows": len(expected_ids),
            "expected_id_sum": int(sum(expected_ids)),
            "loaded_bytes": expected_bytes}


def fixture_tables(seed: int, out: str) -> dict:
    """The ten tables the SparkEntry queries read, with the column names,
    types and value domains of the repository's oracle fixture, at scale
    factor sf = FIXTURE_SF: lineitem has 6M x sf rows, documents 30k x sf,
    a smaller share than the fixture's, since the all-pairs oracle grows
    with its square."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    sf = FIXTURE_SF
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc, n_emb = int(1000000 * sf), int(30000 * sf), int(20000 * sf)
    day = np.datetime64("1995-01-01")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values, n):
        return pa.array([values[k] for k in rng.integers(0, len(values), n)])

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(
                pick(["cold", "hot", "large", "old", "red", "small", "blue", "green"],
                     n_part).to_pylist(),
                pick(["anvil", "bolt", "gear", "gizmo", "ring", "widget", "spring",
                      "valve"], n_part).to_pylist())]),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(money(1000, 500000, n_ord)),
            "o_orderdate": pa.array(
                (day + rng.integers(0, 2404, n_ord).astype("timedelta64[D]"))
                .astype("datetime64[us]")),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(money(900, 105000, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pick(["A", "N", "R"], n_line),
            "l_linestatus": pick(["F", "O"], n_line),
            "l_shipdate": pa.array(
                (day + rng.integers(1, 2500, n_line).astype("timedelta64[D]"))
                .astype("datetime64[us]"))}),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(np.sort(
                np.datetime64("2024-01-01T00:00:00", "us")
                + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))),
            "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev)),
            "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": pa.array(np.round(rng.exponential(100, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])}),
        "documents": documents(seed, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    for name, t in tables.items():
        _write_parquet(t, os.path.join(out, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm 64-d float vectors clustered around 10 label centroids."""
    centroids = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n)
    v = centroids[labels] + rng.normal(0, 1.5, (n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})


GENERATORS = {
    "etl_jobnet": etl_inputs,
    "queue_ingest": queue_inputs,
    "query_mix": fixture_tables,
}
