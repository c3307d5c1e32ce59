"""Seeded input generators owned by the benchmark.

Two kinds of input, both a pure function of (seed, shape):

* `tables` - the ten parquet tables `SparkEntry.queries` read (a TPC-H-ish
  star schema plus events, documents and embeddings), with the column
  names, types and value domains of the repository's test tables.
* `scraped` - scraped-business NDJSON in the shape `Normalize.run` reads
  (`Schemas.scrapedBusiness`): duplicated bizIds, a share of invalid
  price/health rows, every hours-grammar branch and all four collection
  kinds.

Usage: python3 perfbench/gen.py tables|scraped <out_dir> <seed> <json shape>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400 * 1_000_000
EPOCH_1995 = 788_918_400  # 1995-01-01T00:00:00Z, seconds
EPOCH_2024 = 1_704_067_200  # 2024-01-01T00:00:00Z, seconds

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]


def _write(out_dir, name, columns, schema):
    pq.write_table(pa.table(columns, schema=schema),
                   os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first_day, n_days, n):
    """Midnight timestamps (µs) `first_day + U[0, n_days)` days."""
    return (first_day * 1_000_000
            + rng.integers(0, n_days, n).astype(np.int64) * DAY_US)


def tables(out_dir, seed, shape):
    """The ten query tables at scale factor `shape["sf"]`."""
    sf = shape["sf"]
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    ts = pa.timestamp("us")
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_user = max(1, int(15_000 * sf))

    _write(out_dir, "region",
           {"r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    _write(out_dir, "nation",
           {"n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
           pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                      ("n_regionkey", pa.int32())]))
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                         "MACHINERY"])
    _write(out_dir, "customer",
           {"c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": segments[rng.integers(0, 5, n_cust)]},
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
    adj = np.array(["blue", "old", "red", "small", "new", "large", "hot", "cold"])
    noun = np.array(["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring",
                     "gear"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part",
           {"p_partkey": pk,
            "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                                  noun[rng.integers(0, 8, n_part)]),
            "p_brand": np.char.add("Brand#",
                                   rng.integers(1, 26, n_part).astype(str)),
            "p_type": types[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 1)},
           pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                      ("p_brand", pa.string()), ("p_type", pa.string()),
                      ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out_dir, "orders",
           {"o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(_days(rng, EPOCH_1995, 2405, n_ord), ts),
            "o_orderpriority": prio[rng.integers(0, 5, n_ord)]},
           pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                      ("o_orderstatus", pa.string()),
                      ("o_totalprice", pa.float64()), ("o_orderdate", ts),
                      ("o_orderpriority", pa.string())]))
    _write(out_dir, "lineitem",
           {"l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": pa.array(_days(rng, EPOCH_1995 + 86_400, 2499, n_line),
                                   ts)},
           pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                      ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                      ("l_quantity", pa.float64()),
                      ("l_extendedprice", pa.float64()),
                      ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                      ("l_returnflag", pa.string()),
                      ("l_linestatus", pa.string()), ("l_shipdate", ts)]))
    # events: sorted µs timestamps over 30 days; exponential values
    ev_ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + EPOCH_2024 * 1_000_000
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    _write(out_dir, "events",
           {"event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ev_ts, ts),
            "user_id": rng.integers(0, n_user, n_ev).astype(np.int64),
            "event_type": kinds[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
           pa.schema([("event_id", pa.int64()), ("ts", ts),
                      ("user_id", pa.int64()), ("event_type", pa.string()),
                      ("value", pa.float64()), ("props", pa.string())]))
    # documents: 30-word vocabulary, 10-100 words; 5% near-duplicates
    # (an earlier document's text plus " dup")
    words = np.array(WORDS)
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, 30, int(rng.integers(10, 101)))]))
    langs = np.array(["en", "en", "de", "es", "fr", "zh"])
    _write(out_dir, "documents",
           {"doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": langs[rng.integers(0, 6, n_doc)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
           pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                      ("lang", pa.string()), ("source", pa.string()),
                      ("n_chars", pa.int64())]))
    # embeddings: unit-norm 64-d float vectors
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings",
           {"vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32)},
           pa.schema([("vec_id", pa.int64()),
                      ("embedding", pa.list_(pa.float32())),
                      ("label", pa.int32())]))


WEEKDAYS = ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday",
            "Saturday", "Sunday"]


def _clock(sec):
    h, m = divmod(sec // 60, 60)
    return f"{(h + 11) % 12 + 1}:{m:02d} {'AM' if h < 12 else 'PM'}"


def _hours_pool(mix):
    """Every hours string the generator emits, with its draw weight: the
    four grammar branches (single or glued ranges, Closed, Open 24 hours,
    overnight) weighted by `mix`."""
    starts = [h * 3600 for h in range(6, 22, 2)]
    ranges = [f"{_clock(o)} - {_clock(o + 3600)}" for o in starts]
    glued = [a + b for i, a in enumerate(ranges) for b in ranges[i + 1:]]
    overnight = [f"{_clock(h * 3600)} - 12:00 AM (Next day)"
                 for h in range(16, 21)]
    branches = [ranges + glued, ["Closed"], ["Open 24 hours"], overnight]
    pool, weight = [], []
    for strings, w in zip(branches, mix):
        pool += strings
        weight += [w / len(strings)] * len(strings)
    return pool, np.array(weight) / sum(weight)


def _json_str(v):
    return "null" if v is None else json.dumps(v)


def scraped(out_dir, seed, shape):
    """Scraped-business NDJSON: `records` lines over `businesses` bizIds
    (the rest are resume-append repeats with a later ranking), split into
    `files` files."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n, n_biz = shape["records"], shape["businesses"]
    lo, hi = shape["collection_length"]
    biz = np.concatenate([np.arange(n_biz), rng.integers(0, n_biz, n - n_biz)])
    rng.shuffle(biz)
    kinds = ["food_category", "highlights", "related_search_terms", "amenities"]
    lens = rng.integers(lo, hi + 1, (n, len(kinds)))
    elems = [rng.integers(0, shape["vocabulary"][k], (n, hi)) for k in kinds]
    available = rng.random((n, hi)) < 0.5
    price = np.where(rng.random(n) < 0.8,
                     np.array(["$", "$$", "$$$", "$$$$"])[rng.integers(0, 4, n)],
                     None)
    health = np.where(rng.random(n) < 0.7,
                      np.array(["A", "B", "C"])[rng.integers(0, 3, n)], None)
    invalid = rng.random(n) < shape["invalid_share"]
    bad_price = rng.random(n) < 0.5
    price[invalid & bad_price] = "$$$$$"
    health[invalid & ~bad_price] = "a1"
    n_days = rng.integers(0, 8, n)
    day_order = np.argsort(rng.random((n, 7)), axis=1)
    pool, weight = _hours_pool(shape["hours_mix"])
    hours = rng.choice(len(pool), (n, 7), p=weight)
    optional = rng.random((n, 3)) < np.array([0.6, 0.7, 0.9])
    lines = []
    for i in range(n):
        b = int(biz[i])
        days = sorted(day_order[i, :n_days[i]])
        oh = ",".join(f'{{"weekday":"{WEEKDAYS[d]}","open_hours":"{pool[hours[i, d]]}"}}'
                      for d in days)
        coll = [",".join(f'"{k}_{e}"' for e in elems[j][i, :lens[i, j]])
                for j, k in enumerate(kinds[:3])]
        amen = ",".join(
            f'{{"amenity":"amenities_{e}","is_available":{"true" if a else "false"}}}'
            for e, a in zip(elems[3][i, :lens[i, 3]], available[i, :lens[i, 3]]))
        lines.append(
            f'{{"bizId":"biz-{b:07d}","ranking":{i},"name":"Business {b}",'
            f'"website":{_json_str(f"https://b{b}.example" if optional[i, 0] else None)},'
            f'"phone_number":{_json_str(f"+1 555 {b:07d}" if optional[i, 1] else None)},'
            f'"address":{_json_str(f"{b} Main St" if optional[i, 2] else None)},'
            f'"price":{_json_str(price[i])},"health_score":{_json_str(health[i])},'
            f'"open_hours":[{oh}],"food_category":[{coll[0]}],'
            f'"highlights":[{coll[1]}],"related_search_terms":[{coll[2]}],'
            f'"amenities":[{amen}]}}')
    files = shape["files"]
    for f in range(files):
        with open(os.path.join(out_dir, f"part-{f:03d}.json"), "w") as fh:
            fh.write("\n".join(lines[f::files]) + "\n")


if __name__ == "__main__":
    kind, out, seed, shape = sys.argv[1:5]
    {"tables": tables, "scraped": scraped}[kind](out, int(seed), json.loads(shape))
