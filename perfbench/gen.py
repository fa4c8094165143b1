"""Seeded input generators for the benchmark.

Everything here is a pure function of (seed, shape): the same seed writes
byte-identical files, a different seed writes different ones.

* ``tables``   - the ten star-schema + corpus tables the registry queries
                 read (region ... embeddings), shaped like the sf0.01 test
                 data: same schema, same vocabularies, same row counts.
* ``scale_up`` - the corpus scale-up: ``copies`` FK-consistent copies of
                 the base tables, every token of copy c > 0 suffixed with a
                 seed-salted copy tag and every embedding nudged by a
                 seed-salted per-dimension offset, so cross-copy near-dup
                 pairs do not exist (the recipe of a 10x scale-up that keeps
                 duplicate-group sizes fixed).
* ``landmark_meta`` - the landmark label/name CSVs and the image manifest
                 (id, landmark, format, size) the JVM side renders.
"""
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# shape of the sf0.01 test data
N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 1500, 100, 2000, 15000
N_LINEITEM, N_EVENTS, N_DOCS, N_VECS, N_USERS = 60000, 10000, 500, 500, 150
DIM, N_LABELS = 64, 10

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]

# landmark vocabulary: the reference's fixed city list plus "people" and
# neutral words, so every stat of the pipeline has groups to fill
CITIES = ["New York", "Los Angeles", "Detroit", "Paris", "Berlin", "Warsaw"]
NAME_WORDS = ["Bridge", "Cathedral", "Castle", "Park", "Tower", "Museum",
              "Harbour", "Market", "Gate", "Palace", "Square", "Lake",
              "Abbey", "Station", "Garden", "Fort", "Chapel", "Hill"]
N_LANDMARKS = 24


def _ts(base, seconds):
    return pa.array([base + dt.timedelta(seconds=float(s)) for s in seconds],
                    type=pa.timestamp("us"))


def _write(out, name, cols):
    # fixed writer settings: no statistics timestamps, no created_by drift
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy", row_group_size=1 << 20)


def _docs(rng, n):
    lens = rng.integers(10, 100, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    # ~2% exact copies of an earlier doc, ~5% near copies (one token
    # appended), so the dedup family has groups to find
    for i in range(1, n):
        u = rng.random()
        j = int(rng.integers(0, i))
        if u < 0.02:
            texts[i] = texts[j]
        elif u < 0.07:
            texts[i] = texts[j] + " dup"
    return texts


def tables(seed, out):
    """The ten tables at the sf0.01 shape, from ``seed``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out, "customer", {
        "c_custkey": pa.array(range(N_CUSTOMER), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2), f64),
        "c_mktsegment": list(rng.choice(SEGMENTS, N_CUSTOMER))})
    _write(out, "supplier", {
        "s_suppkey": pa.array(range(N_SUPPLIER), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2), f64)})
    _write(out, "part", {
        "p_partkey": pa.array(range(N_PART), i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, N_PART),
                                              rng.choice(P_NOUN, N_PART))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": list(rng.choice(P_TYPES, N_PART)),
        "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
        "p_retailprice": pa.array([round(900 + (i % 1000) / 10, 1) for i in range(N_PART)], f64)})
    _write(out, "orders", {
        "o_orderkey": pa.array(range(N_ORDERS), i64),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), i64),
        "o_orderstatus": list(rng.choice(STATUSES, N_ORDERS)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, N_ORDERS), 2), f64),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1),
                           rng.integers(0, 2404, N_ORDERS) * 86400),
        "o_orderpriority": list(rng.choice(PRIORITIES, N_ORDERS))})
    qty = rng.integers(1, 51, N_LINEITEM).astype(float)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), i64),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), i64),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, N_LINEITEM), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, N_LINEITEM) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, N_LINEITEM) / 100.0, f64),
        "l_returnflag": list(rng.choice(["A", "N", "R"], N_LINEITEM)),
        "l_linestatus": list(rng.choice(["F", "O"], N_LINEITEM)),
        "l_shipdate": _ts(dt.datetime(1995, 1, 2),
                          rng.integers(0, 2498, N_LINEITEM) * 86400)})
    gaps = rng.uniform(1, 518, N_EVENTS)
    _write(out, "events", {
        "event_id": pa.array(range(N_EVENTS), i64),
        "ts": _ts(dt.datetime(2024, 1, 1), np.round(np.cumsum(gaps), 6)),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), i64),
        "event_type": list(rng.choice(EVENT_TYPES, N_EVENTS)),
        "value": pa.array(np.round(rng.uniform(0.01, 25, N_EVENTS) *
                                   rng.choice([1, 1, 1, 20], N_EVENTS), 2), f64),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EVENTS)]})
    texts = _docs(rng, N_DOCS)
    _write(out, "documents", {
        "doc_id": pa.array(range(N_DOCS), i64),
        "text": texts,
        "lang": list(rng.choice(LANGS, N_DOCS)),
        "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    labels = rng.integers(0, N_LABELS, N_VECS)
    centers = rng.normal(0, 1, (N_LABELS, DIM))
    vecs = centers[labels] * 0.6 + rng.normal(0, 1, (N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(range(N_VECS), i64),
        "embedding": pa.array([list(v) for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


def scale_up(seed, src, out, copies):
    """``copies`` FK-consistent copies of the tables under ``src``."""
    import duckdb
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW copies AS SELECT unnest(range({copies})) AS cp")
    salt = hashlib.sha256(f"perfbench-{seed}".encode()).hexdigest()[:4]

    def s(t):
        return f"read_parquet('{src}/{t}.parquet')"

    def k(t, key):
        return con.sql(f"SELECT max({key}) + 1 FROM {s(t)}").fetchone()[0]

    kc, ks, kp, ko = k("customer", "c_custkey"), k("supplier", "s_suppkey"), \
        k("part", "p_partkey"), k("orders", "o_orderkey")
    ke, ku = k("events", "event_id"), k("events", "user_id")
    kd, kv = k("documents", "doc_id"), k("embeddings", "vec_id")
    tag = f"'{salt}' || cp"
    text = f"CASE WHEN cp = 0 THEN text ELSE regexp_replace(text, '(\\S+)', '\\1' || {tag}, 'g') END"
    off = int(salt, 16) % 5 + 3
    queries = {
        "region": f"SELECT * FROM {s('region')}",
        "nation": f"SELECT * FROM {s('nation')}",
        "customer": f"SELECT c_custkey + cp * {kc} AS c_custkey, c_name, c_nationkey, "
                    f"c_acctbal, c_mktsegment FROM {s('customer')}, copies",
        "supplier": f"SELECT s_suppkey + cp * {ks} AS s_suppkey, s_name, s_nationkey, "
                    f"s_acctbal FROM {s('supplier')}, copies",
        "part": f"SELECT p_partkey + cp * {kp} AS p_partkey, p_name, p_brand, p_type, "
                f"p_size, p_retailprice FROM {s('part')}, copies",
        "orders": f"SELECT o_orderkey + cp * {ko} AS o_orderkey, o_custkey + cp * {kc} AS o_custkey, "
                  f"o_orderstatus, o_totalprice, o_orderdate, o_orderpriority "
                  f"FROM {s('orders')}, copies",
        "lineitem": f"SELECT l_orderkey + cp * {ko} AS l_orderkey, l_partkey + cp * {kp} AS l_partkey, "
                    f"l_suppkey + cp * {ks} AS l_suppkey, l_linenumber, l_quantity, "
                    f"l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, "
                    f"l_shipdate FROM {s('lineitem')}, copies",
        "events": f"SELECT event_id + cp * {ke} AS event_id, ts, user_id + cp * {ku} AS user_id, "
                  f"event_type, value, props FROM {s('events')}, copies",
        "documents": f"SELECT doc_id + cp * {kd} AS doc_id, {text} AS text, lang, source, "
                     f"CAST(length({text}) AS BIGINT) AS n_chars FROM {s('documents')}, copies",
        "embeddings": f"SELECT vec_id + cp * {kv} AS vec_id, CASE WHEN cp = 0 THEN embedding "
                      f"ELSE list_transform(list_zip(embedding, range(1, len(embedding) + 1)), "
                      f"p -> CAST(p[1] + 0.003 * cp * ((CAST(p[2] AS INTEGER) % {off}) - 1) "
                      f"AS FLOAT)) END AS embedding, label FROM {s('embeddings')}, copies",
    }
    for name, sql in queries.items():
        # ORDER BY the key so the file is identical whatever the thread count
        key = con.sql(f"DESCRIBE {sql}").fetchall()[0][0]
        con.execute(f"COPY ({sql} ORDER BY {key}, 2) TO '{out}/{name}.parquet' "
                    f"(FORMAT PARQUET, COMPRESSION SNAPPY)")


def landmark_meta(seed, out, n_images):
    """Landmark labels/names CSVs plus the image manifest for the JVM side.

    Image sizes come from a fixed multiset (every seed renders the same
    pixel count, so pass times compare across seeds); the seed picks the
    order, the landmark of each image, the names and the content.
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    base = [128, 192, 256, 320, 384, 448, 512]
    sizes = [(base[i % 7], base[(i * 3 + 2) % 7]) for i in range(n_images)]
    order = rng.permutation(n_images)
    names, used = [], set()
    for lid in range(N_LANDMARKS):
        while True:
            w = list(rng.choice(NAME_WORDS, int(rng.integers(1, 4))))
            if lid % 4 == 0:
                w.insert(int(rng.integers(0, len(w) + 1)), CITIES[(lid // 4) % len(CITIES)])
            if lid % 5 == 1:
                w.append("people")
            name = " ".join(w)
            if name not in used:
                used.add(name)
                names.append(name)
                break
    ids = sorted({hashlib.sha1(f"{seed}:{i}".encode()).hexdigest()[:16]
                  for i in range(n_images)})
    rows = []
    for k, i in enumerate(order):
        fmt = "png" if k % 4 == 3 else "jpg"
        w, h = sizes[i]
        rows.append((ids[k], int(rng.integers(0, N_LANDMARKS)), fmt, w, h,
                     int(rng.integers(0, 1 << 31))))
    with open(os.path.join(out, "labels.csv"), "w") as f:
        f.write("id;landmark_id\n")
        f.writelines(f"{r[0]};{r[1]}\n" for r in rows)
    with open(os.path.join(out, "names.csv"), "w") as f:
        f.write("landmark_id;name\n")
        f.writelines(f"{i};{n}\n" for i, n in enumerate(names))
    with open(os.path.join(out, "manifest.csv"), "w") as f:
        f.writelines(";".join(map(str, r)) + "\n" for r in rows)
