"""Seeded generator for the benchmark's input tables.

Writes parquet tables with the column names and physical types of the
TPC-H-ish star schema and the `events` table that `graft.Tables` loads.
Every value comes from numpy generators seeded by `--seed`, so one seed
always gives byte-identical inputs.

Shapes the gates and the track checks rely on:
  - `events.ts` is strictly increasing in `event_id`, so every key's
    timestamps are distinct and "event-time order" is `event_id` order;
  - `user_id` and `event_type` are uniform, as in the repository's test
    data, so a batch of n events over k keys touches about
    k * (1 - exp(-n / k)) keys;
  - (l_orderkey, l_linenumber) is unique, so keyed merges on lineitem
    have one row per key.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJ = "small red blue hot old large new cold".split()
NOUN = "ring widget bolt gear gizmo plate anvil rod".split()
SEGMENTS = "MACHINERY AUTOMOBILE HOUSEHOLD BUILDING FURNITURE".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = "ECONOMY STANDARD LARGE SMALL MEDIUM PROMO".split()
EVENT_TYPES = "signup click view purchase error".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

EPOCH = dt.datetime(1970, 1, 1)
US_PER_DAY = 86_400_000_000


def _us(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _write(out_dir, name, cols, schema):
    table = pa.Table.from_pydict(cols, schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def events_columns(rng, n_events, n_users, start=dt.datetime(2024, 1, 1),
                   days=30):
    """Events in event-time order: ts strictly increasing with event_id."""
    step = days * US_PER_DAY // n_events
    ts = _us(start) + np.arange(n_events, dtype=np.int64) * step \
        + rng.integers(0, step, n_events)
    return {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": _money(rng, 0.01, 490.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }


EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])


BATCH_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("tsMicros", pa.int64()),
    ("user_id", pa.int64()), ("eventType", pa.string()),
    ("value", pa.float64())])


def write_events(out_dir, rng, n_events, n_users, batch_size=None):
    """The events table; with `batch_size`, also the same events cut in
    event-time order into `batches/bNNNNN.parquet` micro-batch files in
    the stream's own shape (`graft.tracks.EventRaw`)."""
    cols = events_columns(rng, n_events, n_users)
    _write(out_dir, "events", cols, EVENTS_SCHEMA)
    if batch_size is None:
        return
    os.makedirs(os.path.join(out_dir, "batches"), exist_ok=True)
    ts_us = cols["ts"].astype(np.int64)
    for b, lo in enumerate(range(0, n_events, batch_size)):
        sl = slice(lo, lo + batch_size)
        _write(out_dir, f"batches/b{b:05d}",
               {"event_id": cols["event_id"][sl], "tsMicros": ts_us[sl],
                "user_id": cols["user_id"][sl],
                "eventType": cols["event_type"][sl],
                "value": cols["value"][sl]}, BATCH_SCHEMA)


def n_orders(sf):
    """Rows of `orders`; `o_orderkey` runs from 0 to n_orders(sf) - 1."""
    return int(1_500_000 * sf)


def write_star(out_dir, rng, sf):
    """region, nation, customer, supplier, part, orders, lineitem."""
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), n_orders(sf)
    _write(out_dir, "region",
           {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
           pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    _write(out_dir, "nation",
           {"n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
           pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                      ("n_regionkey", pa.int32())]))
    _write(out_dir, "customer",
           {"c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]},
           pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                      ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                      ("c_mktsegment", pa.string())]))
    _write(out_dir, "supplier",
           {"s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)},
           pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                      ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part",
           {"p_partkey": pk,
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)},
           pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                      ("p_brand", pa.string()), ("p_type", pa.string()),
                      ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))
    day0 = _us(dt.datetime(1995, 1, 1)) // US_PER_DAY
    odays = day0 + rng.integers(0, 2404, n_ord)
    _write(out_dir, "orders",
           {"o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": (odays * US_PER_DAY).astype("datetime64[us]"),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]},
           pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                      ("o_orderstatus", pa.string()),
                      ("o_totalprice", pa.float64()),
                      ("o_orderdate", pa.timestamp("us")),
                      ("o_orderpriority", pa.string())]))
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    _write(out_dir, "lineitem",
           {"l_orderkey": okey,
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": lnum.astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
            "l_shipdate": ((np.repeat(odays, lines) + rng.integers(1, 122, n_li))
                           * US_PER_DAY).astype("datetime64[us]")},
           pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                      ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                      ("l_quantity", pa.float64()),
                      ("l_extendedprice", pa.float64()),
                      ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                      ("l_returnflag", pa.string()),
                      ("l_linestatus", pa.string()),
                      ("l_shipdate", pa.timestamp("us"))]))


def generate(out_dir, seed, sf=None, events=None):
    """Write the requested tables; each part draws from its own stream so
    adding one part never changes another part's values."""
    os.makedirs(out_dir, exist_ok=True)
    ss = np.random.SeedSequence(seed).spawn(2)
    if sf is not None:
        write_star(out_dir, np.random.default_rng(ss[0]), sf)
    if events is not None:
        write_events(out_dir, np.random.default_rng(ss[1]), *events)
