"""Seeded input generators for the benchmark.

Everything the program sees comes from here, derived from one integer seed:
the TPC-H-like star schema plus the `events`, `documents` and `embeddings`
tables the query tiers read, a synthetic GBFS feed (station_information,
one station_status payload per snapshot, an Open-Meteo hourly payload) and
id-ordered document drops for the streaming chain. The same seed gives the
same bytes. The table shapes follow the fixture tables the registered
queries and their DuckDB oracles were written against (column names, types,
value domains and key ranges); row counts scale with `sf`.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _days(rng, n, start, end):
    span = (np.datetime64(end) - np.datetime64(start)).astype(int)
    return np.datetime64(start) + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(seed, n):
    """`n` docs of 10-69 words over a 30-word vocabulary; 5% are near-dups
    (another doc's text plus a trailing ' dup' token)."""
    rng = np.random.default_rng([seed, 7])
    lens = rng.integers(10, 70, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    base, pos = [], 0
    for k in lens:
        base.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    text = list(base)
    for i in rng.choice(n, max(1, n // 20), replace=False):
        text[i] = base[rng.integers(0, n)] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }


def tables(out, sf, seed):
    """Write the ten query-tier tables as `<out>/<name>.parquet`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    i32, i64 = pa.int32(), pa.int64()
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_docs, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))

    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    adj = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01"), pa.timestamp("us")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", "2001-11-04"), pa.timestamp("us"))})
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, int(15000 * sf)), n_ev), i64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    _write(f"{out}/documents.parquet", documents(seed, n_docs))
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


def gbfs(out, seed, stations, snapshots, every_min=10):
    """A GBFS feed: one station_information payload, `snapshots` station_status
    payloads scraped `every_min` minutes apart (bikes follow a bounded random
    walk), and an Open-Meteo payload covering every scraped hour. Writes the
    scrape instants to `scrapes.txt`, and to `truth.json` what a correct
    store must report after the last snapshot."""
    os.makedirs(f"{out}/status", exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    start = dt.datetime(2025, 3, 1, tzinfo=dt.timezone.utc) + dt.timedelta(
        days=int(rng.integers(0, 180)), hours=int(rng.integers(0, 24)))
    cap = rng.integers(8, 40, stations)
    lat = -30.03 + rng.uniform(-0.08, 0.08, stations)
    lon = -51.22 + rng.uniform(-0.08, 0.08, stations)
    ids = [str(i + 1) for i in range(stations)]
    info = {"last_updated": int(start.timestamp()), "ttl": 60, "data": {"stations": [
        {"station_id": ids[i], "name": f"{ids[i]} - Station {i + 1}",
         "lat": float(lat[i]), "lon": float(lon[i]), "capacity": int(cap[i]),
         "address": f"Street {i + 1}", "rental_methods": ["KEY", "CREDITCARD"],
         "is_virtual_station": False, "short_name": ids[i]} for i in range(stations)]}}
    with open(f"{out}/stations.json", "w") as f:
        json.dump(info, f)
    bikes = (cap * rng.uniform(0.2, 0.8, stations)).astype(int)
    scrapes = []
    for t in range(snapshots):
        at = start + dt.timedelta(minutes=every_min * t)
        if t:
            bikes = np.clip(bikes + rng.integers(-3, 4, stations), 0, cap - 2)
        dis = rng.integers(0, 2, stations)
        docks = cap - bikes - dis
        payload = {"last_updated": int(at.timestamp()), "ttl": 60, "data": {"stations": [
            {"station_id": ids[i], "num_bikes_available": int(bikes[i]),
             "num_bikes_disabled": int(dis[i]), "num_docks_available": int(docks[i]),
             "num_docks_disabled": 0, "is_installed": 1, "is_renting": 1, "is_returning": 1,
             "last_reported": int(at.timestamp()) - int(rng.integers(0, 300)),
             "vehicle_types_available": [{"vehicle_type_id": "FIT", "count": int(bikes[i])}]}
            for i in range(stations)]}}
        with open(f"{out}/status/{t:04d}.json", "w") as f:
            json.dump(payload, f)
        scrapes.append(at.strftime("%Y-%m-%dT%H:%M:%SZ"))
    first = start.replace(minute=0, second=0)
    hours = int((snapshots * every_min) // 60) + 2
    hourly = {"time": [(first + dt.timedelta(hours=h)).strftime("%Y-%m-%dT%H:%M")
                       for h in range(hours)]}
    for m in ["temperature_2m", "precipitation", "rain", "showers", "snowfall",
              "cloudcover", "windspeed_10m", "relative_humidity_2m"]:
        hourly[m] = [round(float(v), 1) for v in rng.uniform(0, 30, hours)]
    hourly["weathercode"] = [int(v) for v in rng.integers(0, 4, hours)]
    with open(f"{out}/weather.json", "w") as f:
        json.dump({"latitude": -30.03, "longitude": -51.22, "timezone": "UTC",
                   "hourly": hourly}, f)
    with open(f"{out}/scrapes.txt", "w") as f:
        f.write("\n".join(scrapes) + "\n")
    truth = {"rows": stations * snapshots, "estacoes": stations,
             "capacidade_total": int(cap.sum()), "bikes_disponiveis": int(bikes.sum()),
             "docks_disponiveis": int(docks.sum())}
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f)
    return truth


def drops(out, seed, n_docs, n_drops):
    """Split a seeded corpus into `n_drops` id-ordered JSONL drops at seeded
    cut points (drop sizes within 20% of the mean)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    d = documents(seed, n_docs)
    mean = n_docs // n_drops
    sizes = rng.integers(mean // 5 * 4, mean // 5 * 6 + 1, n_drops)
    cuts = np.concatenate([[0], np.cumsum(sizes * n_docs // sizes.sum())])
    cuts[-1] = n_docs
    for k in range(n_drops):
        with open(f"{out}/drop_{k:03d}.jsonl", "w") as f:
            for i in range(cuts[k], cuts[k + 1]):
                f.write(json.dumps({"doc_id": int(d["doc_id"][i]), "lang": d["lang"][i],
                                    "source": d["source"][i], "text": d["text"][i]}) + "\n")
    return [int(c) for c in cuts]
