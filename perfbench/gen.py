"""Fixed input tables for the batch_analytics workload.

The tables carry the schema the declared queries read (a subset of the
TPC-H-like star schema plus `events`, `documents` and `embeddings`) at
about 1/1000 of TPC-H scale. They are generated from one fixed seed, so
the pinned result of every query stays valid; the run's --seed is
recorded but does not change them. The gun workloads generate their own
inputs from --seed inside the JVM.
"""
import datetime
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20240101
VERSION = "1"  # bump when the generator changes, so cached tables rebuild

VOCAB = ("spark line column order small sort fast value scan hash slow group "
         "batch part query agg table key stream filter customer the window "
         "join vector data big row merge commit index range cache page").split()
LANGS = ["en", "es", "de", "fr", "it"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]


def documents(rnd, n=500):
    rows = []
    for i in range(n):
        r = rnd.random()
        if i > 50 and r < 0.04:  # exact duplicate of an earlier doc
            text = rows[rnd.randrange(i)]["text"]
        elif i > 50 and r < 0.12:  # near duplicate: a few tokens swapped
            toks = rows[rnd.randrange(i)]["text"].split()
            for _ in range(max(1, len(toks) // 20)):
                toks[rnd.randrange(len(toks))] = rnd.choice(VOCAB)
            text = " ".join(toks)
        else:
            text = " ".join(rnd.choice(VOCAB) for _ in range(rnd.randint(15, 90)))
        rows.append({"doc_id": i, "text": text, "lang": rnd.choice(LANGS),
                     "source": f"src{i % 20}", "n_chars": len(text)})
    return pa.Table.from_pylist(rows, schema=pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())]))


def embeddings(rnd, n=500, dim=64, clusters=10):
    centers = [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(clusters)]
    rows = []
    for i in range(n):
        if i > 50 and rnd.random() < 0.05:  # near duplicate of an earlier vector
            base = rows[rnd.randrange(i)]
            v = [x + rnd.gauss(0, 0.002) for x in base["embedding"]]
            label = base["label"]
        else:
            label = rnd.randrange(clusters)
            v = [c + rnd.gauss(0, 0.8) for c in centers[label]]
        norm = math.sqrt(sum(x * x for x in v))
        rows.append({"vec_id": i, "embedding": [x / norm for x in v], "label": label})
    return pa.Table.from_pylist(rows, schema=pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32())]))


def events(rnd, n=1000, users=60):
    t0 = datetime.datetime(2024, 1, 1)
    t, rows = t0, []
    for i in range(n):
        t += datetime.timedelta(microseconds=rnd.randrange(1, 600_000_000))
        rows.append({"event_id": i, "ts": t, "user_id": rnd.randrange(users),
                     "event_type": rnd.choice(EVENT_TYPES),
                     "value": round(rnd.uniform(1, 500), 2),
                     "props": '{"k": %d}' % rnd.randrange(100)})
    return pa.Table.from_pylist(rows, schema=pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
        ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]))


def star(rnd, customers=150, orders=1500, lines=6000, parts=200):
    nation = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                       "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())})
    customer = pa.table({
        "c_custkey": pa.array(range(customers), pa.int64()),
        "c_nationkey": pa.array([rnd.randrange(25) for _ in range(customers)], pa.int32())})
    order = pa.table({
        "o_orderkey": pa.array(range(orders), pa.int64()),
        "o_custkey": pa.array([rnd.randrange(customers) for _ in range(orders)], pa.int64())})
    lineitem = pa.table({
        "l_orderkey": pa.array([rnd.randrange(orders) for _ in range(lines)], pa.int64()),
        "l_partkey": pa.array([rnd.randrange(parts) for _ in range(lines)], pa.int64())})
    return {"nation": nation, "customer": customer, "orders": order, "lineitem": lineitem}


def tables():
    rnd = random.Random(TABLE_SEED)
    out = {"documents": documents(rnd), "embeddings": embeddings(rnd),
           "events": events(rnd)}
    out.update(star(rnd))
    return out


def write_tables(out_dir):
    """Write every table as <out_dir>/<name>.parquet, once per VERSION."""
    done = os.path.join(out_dir, f".v{VERSION}")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables().items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()
    return out_dir
