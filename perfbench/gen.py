"""Deterministic input generation for the lake benchmark.

Every input the library receives is produced here from a seed, with
numpy's PCG64 generator, and written as parquet with pyarrow. The
schemas and value domains mirror the TPC-H-like tables the library's
contract queries read (lineitem, orders, customer, supplier, part,
nation, region, documents, embeddings, events), so every query key
runs unchanged against a generated directory.

Two kinds of input exist:

* the analytics tables, generated from the fixed ANALYTICS_SEED so the
  result hash of each query key can be pinned; the workload seed only
  permutes the order in which the keys run;
* the ingest inputs (lineitem batches, probe keys, and the events
  slices of the streaming feed), generated from the workload seed.

`write_inputs(workload, seed, out_dir)` writes one workload's inputs
plus a `plan.properties` file the JVM side reads.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ANALYTICS_SEED = 42

ANALYTICS_KEYS = [
    "q1_pricing_summary", "q3_shipping_priority", "q9_profit_by_nation",
    "q18_large_orders", "q21_waiting_suppliers", "j2_skew_join",
    "a6_percentiles", "x_corr_matrix", "x_dedup_ngram", "x_text_stats",
]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES"]
NATION_REGION = [0, 1, 1, 1, 4, 0, 3, 3, 2, 2, 4, 4, 2, 4, 0, 0, 0, 1, 2, 3, 4,
                 2, 3, 3, 1]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "blue", "green", "large", "small", "hot", "cold", "steel",
            "brass", "polished"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "valve", "pipe", "spring", "lever"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
WORDS = ("batch part spark line column order small sort fast value scan a hash "
         "slow group agg filter query big key window row table stream merge "
         "data vector customer join the index shuffle lake file snapshot").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def rng_for(seed, stream):
    """Independent generator per (seed, named stream)."""
    return np.random.Generator(np.random.PCG64([int(seed), hash_name(stream)]))


def hash_name(name):
    h = 1469598103934665603
    for ch in name.encode():
        h = ((h ^ ch) * 1099511628211) & 0xFFFFFFFFFFFF
    return h


def ts_array(us, tz=None):
    """Microsecond timestamps; tz=None writes wall-clock values like the
    contract tables, tz="UTC" writes instants (Spark TimestampType)."""
    return pa.array(us.astype("datetime64[us]").astype(np.int64), type=pa.timestamp("us", tz=tz))


def write_table(table, path):
    # one row group, plain zstd, no pandas metadata: the same bytes for
    # the same seed on every run
    pq.write_table(table, path, compression="zstd", store_schema=False)


# --------------------------------------------------------------- lineitem
def lineitem_rows(rng, first_orderkey, n_orders, day0_us, span_days,
                  n_part, n_supp, late_share=0.15):
    """Lineitem rows for `n_orders` consecutive order keys whose order
    dates are spread over `span_days` from `day0_us`. Returns (dict of
    lineitem columns, per-order arrays for the orders table)."""
    lines = rng.integers(1, 8, n_orders)
    okeys = first_orderkey + np.arange(n_orders, dtype=np.int64)
    odate = day0_us + rng.integers(0, span_days, n_orders) * DAY_US
    n = int(lines.sum())
    l_ok = np.repeat(okeys, lines)
    l_ln = (np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    l_od = np.repeat(odate, lines)
    late = rng.random(n) < late_share
    ship_days = np.where(late, rng.integers(366, 700, n), rng.integers(1, 122, n))
    ship = l_od + ship_days * DAY_US
    part = rng.integers(0, n_part, n).astype(np.int64)
    supp = rng.integers(0, n_supp, n).astype(np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * (900.0 + (part % 1000) / 10.0), 2)
    disc = rng.integers(0, 11, n) / 100.0
    tax = rng.integers(0, 9, n) / 100.0
    cutoff = np.datetime64("1995-06-17T00:00:00", "us").astype(np.int64)
    shipped = ship.astype(np.int64) <= cutoff
    rf = np.where(shipped, np.where(rng.random(n) < 0.5, "R", "A"), "N")
    ls = np.where(shipped, "F", "O")
    cols = dict(
        l_orderkey=l_ok, l_partkey=part, l_suppkey=supp, l_linenumber=l_ln,
        l_quantity=qty, l_extendedprice=price, l_discount=disc, l_tax=tax,
        l_returnflag=rf, l_linestatus=ls, l_shipdate=ship)
    return cols, dict(okeys=okeys, odate=odate, lines=lines)


def lineitem_table(cols, extra=None, tz=None):
    arrays = [
        pa.array(cols["l_orderkey"], pa.int64()), pa.array(cols["l_partkey"], pa.int64()),
        pa.array(cols["l_suppkey"], pa.int64()), pa.array(cols["l_linenumber"], pa.int32()),
        pa.array(cols["l_quantity"], pa.float64()), pa.array(cols["l_extendedprice"], pa.float64()),
        pa.array(cols["l_discount"], pa.float64()), pa.array(cols["l_tax"], pa.float64()),
        pa.array(cols["l_returnflag"], pa.string()), pa.array(cols["l_linestatus"], pa.string()),
        ts_array(cols["l_shipdate"], tz)]
    names = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
             "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
             "l_shipdate"]
    if extra:
        for k, (v, t) in extra.items():
            names.append(k)
            arrays.append(pa.array(v, t))
    return pa.Table.from_arrays(arrays, names=names)


def ship_month(ship_us):
    d = ship_us.astype("datetime64[M]")
    y = d.astype(np.int64) // 12 + 1970
    m = d.astype(np.int64) % 12 + 1
    return (y * 100 + m).astype(np.int32)


# --------------------------------------------------------------- analytics
def analytics_tables(out_dir, n_orders=12000, n_cust=1500, n_supp=100,
                     n_part=2000, n_docs=600, n_vecs=300, dim=32):
    """TPC-H-like star schema plus documents and embeddings, from the
    fixed ANALYTICS_SEED, under out_dir/<table>.parquet."""
    os.makedirs(out_dir, exist_ok=True)
    seed = ANALYTICS_SEED
    write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)}), f"{out_dir}/region.parquet")
    write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array(NATIONS),
        "n_regionkey": pa.array(NATION_REGION, pa.int32())}), f"{out_dir}/nation.parquet")
    r = rng_for(seed, "supplier")
    write_table(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(r.uniform(-999, 9999, n_supp), 2))}),
        f"{out_dir}/supplier.parquet")
    r = rng_for(seed, "customer")
    write_table(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(r.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in r.integers(0, 5, n_cust)])}),
        f"{out_dir}/customer.parquet")
    r = rng_for(seed, "part")
    pk = np.arange(n_part)
    write_table(pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(r.integers(0, len(PART_ADJ), n_part),
                                r.integers(0, len(PART_NOUN), n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in r.integers(1, 26, n_part)]),
        "p_type": pa.array([PART_TYPES[i] for i in r.integers(0, len(PART_TYPES), n_part)]),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2))}),
        f"{out_dir}/part.parquet")
    r = rng_for(seed, "lineitem")
    li, o = lineitem_rows(r, 0, n_orders, EPOCH_1992, 2405, n_part, n_supp)
    write_table(lineitem_table(li), f"{out_dir}/lineitem.parquet")
    # orders derive from their lines, as in TPC-H
    starts = np.cumsum(o["lines"]) - o["lines"]
    charge = li["l_extendedprice"] * (1 - li["l_discount"]) * (1 + li["l_tax"])
    total = np.round(np.add.reduceat(charge, starts), 2)
    f_lines = np.add.reduceat((li["l_linestatus"] == "F").astype(np.int64), starts)
    status = np.where(f_lines == o["lines"], "F", np.where(f_lines == 0, "O", "P"))
    r = rng_for(seed, "orders")
    write_table(pa.table({
        "o_orderkey": pa.array(o["okeys"], pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(status),
        "o_totalprice": pa.array(total),
        "o_orderdate": ts_array(o["odate"]),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in r.integers(0, 5, n_orders)])}),
        f"{out_dir}/orders.parquet")
    write_table(documents_table(rng_for(seed, "documents"), n_docs),
                f"{out_dir}/documents.parquet")
    r = rng_for(seed, "embeddings")
    emb = r.standard_normal((n_vecs, dim)).astype(np.float32)
    write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vecs), pa.int32())}),
        f"{out_dir}/embeddings.parquet")


def documents_table(r, n_docs):
    """Bag-of-words documents with planted exact and near duplicates, so
    the dedup and near-duplicate keys have pairs to find."""
    texts = []
    for i in range(n_docs):
        roll = r.random()
        if i > 10 and roll < 0.03:
            texts.append(texts[int(r.integers(0, i))])
        elif i > 10 and roll < 0.10:
            words = texts[int(r.integers(0, i))].split()
            if len(words) > 30:
                words[int(r.integers(0, len(words)))] = WORDS[int(r.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            n = int(r.integers(8, 70))
            texts.append(" ".join(WORDS[j] for j in r.integers(0, len(WORDS), n)))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in r.integers(0, len(LANGS), n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


# --------------------------------------------------------------- ingest
def ingest_inputs(seed, out_dir, n_batches, orders_per_batch=500,
                  window_days=6, resend_share=0.1, upsert_every=2):
    """Base load plus `n_batches` lineitem batches advancing in ship
    date. Each batch carries fresh orders for its window and re-sends a
    seeded share of the previous batch's rows as sent; every
    `upsert_every`-th batch is an upsert whose re-sent rows carry a
    changed l_quantity. Returns the batch modes, row counts, and three
    probe order keys per maintenance cycle (keys of the cycle's first
    batch, for the point lookups and the SQL ranges)."""
    os.makedirs(out_dir, exist_ok=True)
    r = rng_for(seed, "ingest")
    day0 = EPOCH_1992
    base, _ = lineitem_rows(r, 0, orders_per_batch * 4, day0, window_days * 4,
                            2000, 100, late_share=0.0)
    base["ship_month"] = ship_month(base["l_shipdate"])
    write_table(ingest_table(base), f"{out_dir}/base.parquet")
    prev = base
    next_key = orders_per_batch * 4
    modes, rows, probes = [], [], []
    for b in range(n_batches):
        mode = "upsert" if (b + 1) % upsert_every == 0 else "delta"
        start = day0 + (4 + b) * window_days * DAY_US
        fresh, _ = lineitem_rows(r, next_key, orders_per_batch, start, window_days,
                                 2000, 100, late_share=0.0)
        next_key += orders_per_batch
        n_prev = len(prev["l_orderkey"])
        take = np.sort(r.choice(n_prev, int(n_prev * resend_share), replace=False))
        resend = {k: v[take] for k, v in prev.items()}
        if mode == "upsert":
            resend["l_quantity"] = resend["l_quantity"] % 50 + 1
        fresh["ship_month"] = ship_month(fresh["l_shipdate"])
        batch = {k: np.concatenate([resend[k], fresh[k]]) for k in fresh}
        write_table(ingest_table(batch), f"{out_dir}/batch_{b:04d}.parquet")
        prev = batch
        modes.append(mode)
        rows.append(len(batch["l_orderkey"]))
        if b % upsert_every == 0:
            probes.extend(int(k) for k in r.choice(fresh["l_orderkey"], 3))
    return modes, rows, probes


def ingest_table(cols):
    return lineitem_table(cols, {"ship_month": (cols["ship_month"], pa.int32())}, tz="UTC")


# --------------------------------------------------------------- stream
def stream_inputs(seed, out_dir, n_slices, events_per_slice=400, slice_minutes=60,
                  dup_share=0.05):
    """Events slice files in event-time order: slice k covers
    [k, k+1) * slice_minutes, aligned with the hourly windows so each
    slice closes one window, and re-sends a seeded share of the previous
    slice's events (exact duplicates within the two-hour watermark)."""
    os.makedirs(out_dir, exist_ok=True)
    r = rng_for(seed, "stream")
    prev = None
    next_id = 0
    rows = []
    for k in range(n_slices):
        n = events_per_slice
        ids = np.arange(next_id, next_id + n, dtype=np.int64)
        next_id += n
        ts = EPOCH_2024 + (k * slice_minutes * 60_000_000
                           + r.integers(0, slice_minutes * 60_000_000, n))
        cols = dict(
            event_id=ids, ts=ts, user_id=r.integers(0, 2000, n).astype(np.int64),
            event_type=np.array(EVENT_TYPES)[r.integers(0, 5, n)],
            value=np.round(r.uniform(0, 200, n), 2),
            props=np.array([f'{{"k": {v}}}' for v in r.integers(0, 100, n)]))
        if prev is not None:
            take = r.choice(len(prev["event_id"]), int(len(prev["event_id"]) * dup_share),
                            replace=False)
            cols = {c: np.concatenate([cols[c], prev[c][take]]) for c in cols}
        write_table(pa.table({
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts": ts_array(cols["ts"], "UTC"),
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(cols["event_type"], pa.string()),
            "value": pa.array(cols["value"], pa.float64()),
            "props": pa.array(cols["props"], pa.string())}),
            f"{out_dir}/slice_{k:05d}.parquet")
        prev = {c: v[:n] for c, v in cols.items()}
        rows.append(len(cols["event_id"]))
    return rows


def analytics_order(seed, passes=40):
    """The key order: each pass is a seeded permutation of the keys."""
    r = rng_for(seed, "analytics")
    order = []
    for _ in range(passes):
        order.extend(ANALYTICS_KEYS[i] for i in r.permutation(len(ANALYTICS_KEYS)))
    return order


# --------------------------------------------------------------- entry
def write_inputs(workload, seed, out_dir, sizes):
    """Write one workload's inputs under out_dir and return the plan
    entries (key -> string) for plan.properties."""
    plan = {}
    if workload == "ingest":
        modes, rows, probes = ingest_inputs(seed, f"{out_dir}/ingest", sizes["ingest_batches"])
        plan["ops"] = ",".join(modes)
        plan["batch_rows"] = ",".join(map(str, rows))
        plan["probes"] = ",".join(map(str, probes))
        plan["slice_rows"] = ",".join(map(str, stream_inputs(
            seed, f"{out_dir}/stream", sizes["stream_slices"])))
    elif workload == "analytics":
        analytics_tables(f"{out_dir}/tables")
        plan["ops"] = ",".join(analytics_order(seed))
        plan["keys"] = str(len(ANALYTICS_KEYS))
    else:
        raise ValueError(f"unknown workload {workload}")
    return plan
