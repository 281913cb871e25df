"""Deterministic inputs for the benchmark.

* ``tables(dir, sf)`` writes the star schema plus ``events``, ``documents``
  and ``embeddings`` as one parquet file each, with the column names and
  types ``graft.Tables`` reads.  The table seed is fixed, so the stored
  expected digests (``expected_batch.json``) stay valid for every run.
* ``replay_input(events_path, seed, ...)`` builds the replay_chain input:
  ``events`` times N with the arrival order perturbed within the lateness
  delay, keeping each key's own order.
* ``wire_schedule(seed, ...)`` builds the wire_spread send schedule and the
  expected MarketCheck verdict of every order.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
GEN_VERSION = "1"  # bump when the table layout or values change

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

US_PER_DAY = 86_400_000_000


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * US_PER_DAY, pa.timestamp("us"))


def _cents(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _write(d, name, cols):
    pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"))


def table_sizes(sf):
    s = sf / 0.01
    return {"customer": int(1500 * s), "supplier": int(100 * s),
            "part": int(2000 * s), "orders": int(15000 * s),
            "events": int(10000 * s), "users": int(150 * s),
            "documents": int(500 * s), "embeddings": max(500, int(20000 * sf))}


def tables(d, sf):
    """Write every table for scale factor ``sf`` into directory ``d``."""
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    n = table_sizes(sf)
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())
    f64 = lambda a: pa.array(a, pa.float64())
    s = lambda a: pa.array(list(a), pa.string())

    _write(d, "region", {"r_regionkey": i32(range(5)), "r_name": s(REGIONS)})
    _write(d, "nation", {"n_nationkey": i32(range(25)),
                         "n_name": s(f"NATION_{i}" for i in range(25)),
                         "n_regionkey": i32([i % 5 for i in range(25)])})
    nc = n["customer"]
    _write(d, "customer", {
        "c_custkey": i64(range(nc)),
        "c_name": s(f"Customer#{i:09d}" for i in range(nc)),
        "c_nationkey": i32(rng.integers(0, 25, nc)),
        "c_acctbal": f64(_cents(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": s(rng.choice(SEGMENTS, nc))})
    ns = n["supplier"]
    _write(d, "supplier", {
        "s_suppkey": i64(range(ns)),
        "s_name": s(f"Supplier#{i:09d}" for i in range(ns)),
        "s_nationkey": i32(rng.integers(0, 25, ns)),
        "s_acctbal": f64(_cents(rng, -999.99, 9999.99, ns))})
    npart = n["part"]
    keys = np.arange(npart)
    _write(d, "part", {
        "p_partkey": i64(keys),
        "p_name": s(f"{ADJS[a]} {NOUNS[b]}" for a, b in
                    zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))),
        "p_brand": s(f"Brand#{b}" for b in rng.integers(1, 26, npart)),
        "p_type": s(rng.choice(PTYPES, npart)),
        "p_size": i32(rng.integers(1, 51, npart)),
        "p_retailprice": f64(np.round(900.0 + (keys % 1000) / 10.0, 2))})
    no = n["orders"]
    _write(d, "orders", {
        "o_orderkey": i64(range(no)),
        "o_custkey": i64(rng.integers(0, nc, no)),
        "o_orderstatus": s(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": f64(_cents(rng, 1000, 500000, no)),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": s(rng.choice(PRIORITIES, no))})
    lines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    perm = rng.permutation(len(okey))
    okey, lnum = okey[perm], lnum[perm]
    nl = len(okey)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(d, "lineitem", {
        "l_orderkey": i64(okey),
        "l_partkey": i64(rng.integers(0, npart, nl)),
        "l_suppkey": i64(rng.integers(0, ns, nl)),
        "l_linenumber": i32(lnum),
        "l_quantity": f64(qty),
        "l_extendedprice": f64(np.round(qty * _cents(rng, 900, 2100, nl), 2)),
        "l_discount": f64(rng.integers(0, 11, nl) / 100.0),
        "l_tax": f64(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": s(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": s(rng.choice(["F", "O"], nl)),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl)})

    ne = n["events"]
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    span = 30 * US_PER_DAY
    # unique microsecond instants, so per-user event times strictly increase
    ts = np.sort(rng.choice(span, ne, replace=False)) + t0
    _write(d, "events", {
        "event_id": i64(range(ne)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": i64(rng.integers(0, n["users"], ne)),
        "event_type": s(rng.choice(EVENT_TYPES, ne)),
        "value": f64(np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2))),
        "props": s(f'{{"k": {k}}}' for k in rng.integers(0, 100, ne))})

    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: two words swapped out
            w = texts[int(rng.integers(0, i))].split(" ")
            for p in rng.integers(0, len(w), 2):
                w[p] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(w) + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    _write(d, "documents", {
        "doc_id": i64(range(nd)), "text": s(texts),
        "lang": s(rng.choice(LANGS, nd, p=LANG_P)),
        "source": s(f"src{i % 20}" for i in range(nd)),
        "n_chars": i64([len(t) for t in texts])})

    nv = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, nv)
    v = centers[label] * 0.14 + rng.normal(0.0, 1.0, (nv, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(d, "embeddings", {
        "vec_id": i64(range(nv)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": i32(label)})


# ---------------------------------------------------------------- replay
def replay_input(events_path, seed, copies, delay_ns, files, out_dir):
    """Write the replay_chain input as ``files`` parquet files in arrival
    order plus one final file of per-key flush rows.

    Copy ``c`` of an event keeps its key and cents and moves its time by
    ``c * (1 ms + 1 ns)``, which keeps event times unique per key.  Arrival
    order is the event time plus a seeded uniform draw in ``[0, delay)``;
    each key's rows are then dealt back onto that key's arrival slots in
    event-time order, so no row arrives after a later row of its own key and
    none arrives later than ``delay`` behind the stream's maximum event time.
    Returns ``(rows, flush_rows)``.
    """
    ev = pq.read_table(events_path, columns=["user_id", "value", "ts"])
    user0 = ev.column("user_id").to_numpy()
    cents0 = np.round(ev.column("value").to_numpy() * 100).astype(np.int64)
    ts0 = ev.column("ts").cast(pa.int64()).to_numpy() * 1000
    c = np.repeat(np.arange(copies, dtype=np.int64), len(ts0))
    user = np.tile(user0, copies)
    cents = np.tile(cents0, copies)
    ts = np.tile(ts0, copies) + c * 1_000_001
    rng = np.random.default_rng(seed)
    arrival = ts + (rng.random(len(ts)) * delay_ns).astype(np.int64)
    slots = np.lexsort((arrival, user))
    by_ts = np.lexsort((ts, user))
    new_ts = np.empty_like(ts)
    new_cents = np.empty_like(cents)
    new_ts[slots] = ts[by_ts]
    new_cents[slots] = cents[by_ts]
    order = np.argsort(arrival, kind="stable")
    user, cents, ts = user[order], new_cents[order], new_ts[order]
    os.makedirs(out_dir, exist_ok=True)
    schema = pa.schema([("user_id", pa.int64()), ("cents", pa.int64()),
                        ("ts_ns", pa.int64())])
    bounds = np.linspace(0, len(ts), files + 1).astype(int)
    for f in range(files):
        a, b = bounds[f], bounds[f + 1]
        pq.write_table(pa.table([user[a:b], cents[a:b], ts[a:b]], schema=schema),
                       os.path.join(out_dir, f"part-{f:04d}.parquet"))
    keys = np.unique(user)
    flush_ts = np.full(len(keys), int(ts.max()) + 30 * US_PER_DAY * 1000, np.int64)
    pq.write_table(pa.table([keys, np.zeros(len(keys), np.int64), flush_ts],
                            schema=schema),
                   os.path.join(out_dir, f"part-{files:04d}.parquet"))
    return len(ts), len(keys)


# ------------------------------------------------------------------ wire
def wire_schedule(seed, rate, seconds, keys, conns, zipf_s=0.8):
    """Frame ``i`` is due ``i / rate`` seconds after the start.  Returns
    arrays ``(kind, user, cents, conn, quote_seen)`` where ``kind`` is 0 for
    a quote and 1 for an order, and ``quote_seen`` is, for an order, the
    last quote's cents of its user before it (-1 if none) -- the sequential
    replay of MarketCheck's rule."""
    n = int(rate * seconds)
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, keys + 1) ** zipf_s
    rank = rng.choice(keys, n, p=p / p.sum())
    user = rng.permutation(keys)[rank].astype(np.int64)
    kind = (rng.random(n) < 0.5).astype(np.int64)
    base = 1000 + (user * 7919) % 90000
    cents = (base * (0.7 + 0.6 * rng.random(n))).astype(np.int64)
    # users are sharded to connections by a mixing hash, not by key order
    conn = ((user * 0x9E3779B1) >> 7) % conns
    quote_seen = np.full(n, -1, np.int64)
    last = {}
    for i in range(n):
        u = int(user[i])
        if kind[i] == 0:
            last[u] = int(cents[i])
        else:
            quote_seen[i] = last.get(u, -1)
    return kind, user, cents, conn, quote_seen


def market_rejected(cents, quote):
    """MarketCheck's verdict: reject with no quote or outside +-20%."""
    return quote < 0 or cents * 10 > quote * 12 or cents * 10 < quote * 8
