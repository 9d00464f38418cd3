"""Seeded input generators for the benchmark.

Every table is a pure function of (seed, size): the same seed writes the
same bytes, so a run can be repeated and a failure reproduced.

- `write_star` writes the star schema the registered queries read
  (region nation customer supplier part orders lineitem events documents
  embeddings), one zstd parquet file per table, with the schemas and value
  shapes of the repository's fixture tables (FIXTURES.md section 2).
- `write_taxi` writes the taxi-shaped input of the reference ETL
  (FIXTURES.md section 1), including its edge rows, and returns the
  figures the written output must reproduce.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
PART_ADJ = "small red blue hot cold old new big".split()
PART_NOUN = "ring widget bolt gear anvil rod plate nut".split()


def _days(rng, n, start, end):
    """n whole-day timestamps (us) uniformly in [start, end]"""
    d0 = (start - dt.datetime(1970, 1, 1)).days
    d1 = (end - dt.datetime(1970, 1, 1)).days
    return rng.integers(d0, d1 + 1, n).astype("int64") * 86_400_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def write_star(out_dir, sf, seed):
    """Write the ten star-schema tables at scale factor `sf`; returns
    {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    # the shapes the iterative operators' round counts and candidate sets
    # depend on (which parts each order holds, which documents are
    # near-duplicates of which) come from a fixed stream, so every seed
    # asks for the same amount of work; the seed varies all values
    shape = np.random.default_rng([int(sf * 1e6), 7])
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_li = max(2_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(300, int(50_000 * sf))
    n_emb = max(300, int(20_000 * sf))
    n_users = max(20, int(15_000 * sf))
    tables = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    segs = np.array("AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split())
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})

    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    types = np.array("ECONOMY STANDARD LARGE SMALL MEDIUM PROMO".split())
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})

    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    order_days = _days(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1))
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(order_days),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})

    flags = np.array([("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"),
                      ("R", "F"), ("R", "O")])
    fl = flags[rng.integers(0, 6, n_li)]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(shape.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(shape.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": fl[:, 0],
        "l_linestatus": fl[:, 1],
        "l_shipdate": _ts(_days(rng, n_li, dt.datetime(1995, 1, 2),
                               dt.datetime(2001, 11, 4)))})

    t0 = (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).days * 86_400_000_000
    ev_ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, n_ev))
    etypes = np.array("click view purchase signup error".split())
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, n_ev)],
        "value": np.round(np.clip(rng.exponential(50.0, n_ev), 0.01, 490.02), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # documents: random texts over the fixture vocabulary; one in twenty is
    # an earlier document plus a " dup" suffix, the near-duplicates the
    # dedup and curation operators exist to find
    words = np.array(WORDS)
    texts = []
    lengths = shape.integers(10, 100, n_doc)
    for i in range(n_doc):
        if i > 10 and i % 20 == 0:
            texts.append(texts[int(shape.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), lengths[i])]))
    langs = np.array(["en"] * 9 + ["fr", "fr", "zh", "zh", "de", "de", "es",
                                   "es", "en", "fr", "de"])
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # embeddings: unit vectors scattered around ten label centroids
    centroids = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centroids[labels] + rng.normal(0.0, 1.2, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       compression="zstd")
    return {name: t.num_rows for name, t in tables.items()}


def write_taxi(out_dir, rows, seed, files=8):
    """Write `rows` taxi trips to `out_dir` as `files` zstd parquet chunks
    (the reference's sliced input) and return the figures the ETL output
    must reproduce: the rows that survive the any-null drop and three
    column sums over them."""
    rng = np.random.default_rng([seed, 2])
    t0 = (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).days * 86_400
    pickup = t0 + rng.integers(0, 31 * 86_400, rows)
    duration = rng.integers(60, 3_600, rows)
    distance = np.round(rng.exponential(3.0, rows), 2)
    fare = np.round(2.5 + distance * 2.5 + rng.uniform(0, 5, rows), 2)
    tip = np.round(fare * rng.choice([0.0, 0.1, 0.15, 0.2], rows), 2)
    pu = rng.integers(1, 266, rows).astype("int32")
    do = rng.integers(1, 266, rows).astype("int32")
    passengers = rng.integers(1, 7, rows).astype("float64")

    # FIXTURES.md edge rows, spread through the file: zero and negative
    # duration, zero fare, zero distance, airport ids both ways, a
    # fractional passenger count, and pickups on the peak-hour bounds
    edge = rng.choice(rows, size=min(rows, 4_000), replace=False)
    k = len(edge) // 8
    duration[edge[0:k]] = 0
    duration[edge[k:2 * k]] = -rng.integers(60, 600, k)
    fare[edge[2 * k:3 * k]] = 0.0
    distance[edge[3 * k:4 * k]] = 0.0
    pu[edge[4 * k:5 * k]] = rng.integers(1, 4, k)
    do[edge[5 * k:6 * k]] = rng.integers(1, 4, k)
    passengers[edge[6 * k:7 * k]] = 2.5
    hours = np.array([6, 7, 9, 10, 16, 17, 19, 20])
    peak_edge = edge[7 * k:]
    pickup[peak_edge] = (pickup[peak_edge] // 86_400 * 86_400
                         + hours[rng.integers(0, 8, len(peak_edge))] * 3_600
                         + rng.choice([0, 3_599], len(peak_edge)))
    total = np.round(fare + tip, 2)
    dropoff = pickup + duration

    # about 1% of rows carry a null in one column; the ETL drops them
    null_rows = rng.random(rows) < 0.01
    null_col = rng.integers(0, 4, rows)
    masks = [null_rows & (null_col == c) for c in range(4)]
    ts = pa.timestamp("us", tz="UTC")
    table = pa.table({
        "VendorID": pa.array(rng.integers(1, 3, rows), pa.int64()),
        "tpep_pickup_datetime": pa.array(pickup * 1_000_000, ts),
        "tpep_dropoff_datetime": pa.array(dropoff * 1_000_000, ts),
        "passenger_count": pa.array(passengers, mask=masks[0]),
        "trip_distance": pa.array(distance, mask=masks[1]),
        "PULocationID": pu,
        "DOLocationID": do,
        "fare_amount": pa.array(fare, mask=masks[2]),
        "tip_amount": pa.array(tip, mask=masks[3]),
        "total_amount": total})
    os.makedirs(out_dir, exist_ok=True)
    step = -(-rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"),
                       compression="zstd")

    keep = ~null_rows
    hour = (pickup % 86_400) // 3_600
    airport = np.isin(pu, [1, 2, 3]) | np.isin(do, [1, 2, 3])
    peak = ((hour >= 7) & (hour <= 9)) | ((hour >= 17) & (hour <= 19))
    return {"rows_in": rows,
            "rows_out": int(keep.sum()),
            "duration_s_sum": int(duration[keep].sum()),
            "airport_trips": int(airport[keep].sum()),
            "peak_trips": int(peak[keep].sum())}
