"""Seeded inputs for the benchmark: a TPC-H-like warehouse fixture and
daily weather extracts.

Both generators are pure functions of their arguments: the same seed and
size give byte-identical files.

The warehouse fixture has the ten tables the registered queries read
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) with the column names, types and value ranges of
the engine's test fixtures, in row groups of 65,536 rows. `scale` is the
TPC-H scale factor: lineitem has 6,000,000 x scale rows. Documents are random sentences over a 30-word
vocabulary, one in twenty a near duplicate of another (its text plus
" dup"); embeddings are 64-dimensional unit vectors with ten labels.

The weather extracts follow the reference API shape: one pretty-printed
JSON array per load, one record per city, each with 7 past and 7 forecast
days of parallel daily arrays. About one load in four replays an earlier
execution date with a later extract, the way a retry or a backfill does.

Usage: python3 perfbench/fixture.py tpch <outDir> <scale> <seed>
       python3 perfbench/fixture.py weather <outDir> <cities> <loads> <seed>
"""
import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = "large hot red new small cold old shiny".split()
NOUN = "ring bolt anvil rod plate gear widget nut".split()
DAY_US = 86_400_000_000
# rows per parquet row group: large tables split into several scan tasks,
# as a warehouse writer's files do
ROW_GROUP = 65_536
EPOCH = dt.date(1970, 1, 1)


def _days(d):
    return (d - EPOCH).days


def _write(out, name, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), f"{out}/{name}.parquet",
                   compression="snappy", row_group_size=ROW_GROUP)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _date_us(rng, start, span_days, n):
    return (_days(start) + rng.integers(0, span_days, n)) * DAY_US


def tpch(out, scale, seed):
    """Write the ten fixture tables for `scale` into `out`; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_users = int(1_000_000 * scale), max(1, int(15_000 * scale))
    n_doc, n_vec = int(50_000 * scale), int(20_000 * scale)

    _write(out, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5},
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    segs = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]},
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)},
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                   ("s_acctbal", f64)]))
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)},
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                   ("p_size", i32), ("p_retailprice", f64)]))
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(_date_us(rng, dt.date(1995, 1, 1), 2405, n_ord), ts),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]},
        pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_date_us(rng, dt.date(1995, 1, 2), 2499, n_li), ts)},
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                   ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                   ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                   ("l_linestatus", s), ("l_shipdate", ts)]))
    # events: distinct microsecond stamps over 30 days, in time order
    t0 = _days(dt.date(2024, 1, 1)) * DAY_US
    stamps = np.sort(rng.choice(30 * DAY_US, n_ev, replace=False)) + t0
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(stamps, ts),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(["signup", "click", "error", "view", "purchase"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                   ("value", f64), ("props", s)]))
    words = np.array(WORDS)
    lens = rng.integers(10, 101, n_doc)
    texts = [" ".join(words[rng.integers(0, len(words), n)]) for n in lens]
    for d in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[d] = texts[int(rng.integers(0, n_doc))] + " dup"
    langs = np.array(["en", "zh", "es", "fr", "de"])
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.choice(5, n_doc, p=[0.41, 0.15, 0.15, 0.15, 0.14])],
        "source": [f"src{d % 20}" for d in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
        pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                   ("n_chars", i64)]))
    v = rng.standard_normal((n_vec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(v.reshape(-1), 64).cast(
            pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec, dtype=np.int32)},
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                   ("label", i32)]))
    return {"lineitem": n_li, "orders": n_ord, "events": n_ev, "documents": n_doc,
            "embeddings": n_vec, "customer": n_cust, "part": n_part}


def load_schedule(n_loads, rng):
    """Execution dates in load order: consecutive days, with a replay of an
    earlier day after every third new one."""
    first = dt.date(2024, 3, 1)
    out, fresh = [], []
    while len(out) < n_loads:
        if fresh and len(fresh) % 3 == 0 and out[-1] == fresh[-1]:
            out.append(fresh[int(rng.integers(0, len(fresh)))])
        else:
            fresh.append(first + dt.timedelta(days=len(fresh)))
            out.append(fresh[-1])
    return out


def weather(out, cities, n_loads, seed):
    """Write one extract per load plus `manifest.json`; returns the manifest.

    The manifest lists the loads in order with their ds, path and raw
    bytes, and for each load the fact row every city must hold for that
    ds once the load is the latest one for it: the extract's own values.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    names = [f"City {i:05d}" for i in range(cities)]
    lat = np.round(rng.uniform(-60, 70, cities), 4)
    lon = np.round(rng.uniform(-180, 180, cities), 4)
    zones = ["UTC", "America/New_York", "Europe/Berlin", "Asia/Tokyo"]
    tz = [zones[i % len(zones)] for i in range(cities)]
    loads = []
    for i, ds in enumerate(load_schedule(n_loads, rng)):
        stamp = f"{ds.isoformat()}T{6 + i % 12:02d}:00:00"
        dates = [(ds + dt.timedelta(days=k)).isoformat() for k in range(-7, 7)]
        records, facts = [], {}
        for c in range(cities):
            tmax = np.round(rng.uniform(-10, 40, 14), 1)
            tmin = np.round(tmax - rng.uniform(0, 15, 14), 1)
            precip = [None if rng.random() < 0.05 else float(x)
                      for x in np.round(rng.exponential(2.0, 14), 2)]
            wind = np.round(rng.uniform(0, 60, 14), 1)
            code = rng.choice([0, 1, 2, 3, 45, 51, 61, 63, 71, 80, 95], 14).astype(float)
            records.append({
                "city": names[c], "latitude": float(lat[c]), "longitude": float(lon[c]),
                "timezone": tz[c], "extracted_at": stamp,
                "daily": {"time": dates,
                          "temperature_2m_max": [float(x) for x in tmax],
                          "temperature_2m_min": [float(x) for x in tmin],
                          "precipitation_sum": precip,
                          "windspeed_10m_max": [float(x) for x in wind],
                          "weathercode": [float(x) for x in code]}})
            k = 7  # ds itself in the 14-day window
            facts[names[c]] = [float(tmax[k]), float(tmin[k]),
                               0.0 if precip[k] is None else precip[k],
                               float(wind[k]), int(code[k])]
        path = f"{out}/extract_{i:02d}_{ds.isoformat()}.json"
        with open(path, "w") as f:
            json.dump(records, f, indent=2)
        loads.append({"ds": ds.isoformat(), "path": os.path.abspath(path),
                      "bytes": os.path.getsize(path), "facts": facts})
    manifest = {"cities": cities, "loads": loads}
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f)
    return manifest


def expected_facts(manifest, n_loads):
    """ds -> city -> fact row after the first `n_loads` loads: for every
    ds the latest extract loaded for it wins."""
    out = {}
    for load in manifest["loads"][:n_loads]:
        out[load["ds"]] = load["facts"]
    return out


if __name__ == "__main__":
    if sys.argv[1] == "tpch":
        print(tpch(sys.argv[2], float(sys.argv[3]), int(sys.argv[4])))
    else:
        m = weather(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]), int(sys.argv[5]))
        print([(l["ds"], l["bytes"]) for l in m["loads"]])
