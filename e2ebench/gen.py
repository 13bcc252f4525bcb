"""Deterministic inputs for the benchmark.

Two generators, both pure functions of their arguments:

* ``write_tables(out_dir, sf)`` writes the ten fixture tables the query
  registry reads (``region nation customer supplier part orders lineitem
  events documents embeddings``, one parquet file each) with the schemas
  and value domains of the project's TPC-H-shaped fixtures. The table
  content depends only on ``sf``: ``--seed`` never changes it, so every
  seed measures the same data.
* ``square_feed(tables_dir, seed)`` derives a Square-shaped JSONL feed for
  ``JsonlSquareSource`` from those tables. The seed picks the backfill
  cut-off T0 and each payment's time of day.
"""
import json
import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

TABLE_SEED = 42
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("query row stream the spark line small fast group customer batch sort value hash "
         "filter big data part column order scan a slow agg key window table merge vector join").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _day(base, days):
    return pd.Timestamp(base) + pd.to_timedelta(days, unit="D")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(sf):
    """All ten tables as pandas frames, keyed by table name."""
    rng = np.random.default_rng(TABLE_SEED)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_line = max(10, int(6_000_000 * sf))
    n_events = max(10, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    t = {}
    t["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _day("1995-01-01", rng.integers(0, 2405, n_ord)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _day("1995-01-02", rng.integers(0, 2499, n_line))})
    micros = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_events))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(micros, unit="us"),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)})
    return t


def write_tables(out_dir, sf):
    """Writes every table as ``<out_dir>/<name>.parquet``; returns the frames."""
    os.makedirs(out_dir, exist_ok=True)
    tables = make_tables(sf)
    for name, df in tables.items():
        if "o_orderdate" in df or "l_shipdate" in df or "ts" in df:
            df = df.copy()
            for c in ("o_orderdate", "l_shipdate", "ts"):
                if c in df:
                    df[c] = df[c].astype("datetime64[us]")
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return tables


# ---- Square-shaped feed ------------------------------------------------------

EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def iso(ts):
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def pick_t0(seed):
    """Backfill cut-off: a seeded hour within the 60 days after 1998-04-15,
    a span short enough that the backfilled tables' size barely varies."""
    rng = np.random.default_rng([seed, 1])
    day = int(rng.integers(1200, 1260))
    hour = int(rng.integers(0, 24))
    return datetime(1995, 1, 1, tzinfo=timezone.utc) + timedelta(days=day, hours=hour)


def square_feed(tables, seed):
    """The feed's six entity lists plus T0, derived from ``tables``."""
    rng = np.random.default_rng([seed, 2])
    orders, line, part = tables["orders"], tables["lineitem"], tables["part"]
    cust_nation = tables["customer"]["c_nationkey"].to_numpy()
    tod = rng.integers(0, 86400, len(orders))
    payments, sq_orders = [], []
    items_by_order = {}
    pname = part["p_name"].to_numpy()
    pprice = part["p_retailprice"].to_numpy()
    for ok, pk, qty, ext in zip(line["l_orderkey"].to_numpy(), line["l_partkey"].to_numpy(),
                                line["l_quantity"].to_numpy(), line["l_extendedprice"].to_numpy()):
        items_by_order.setdefault(int(ok), []).append((int(pk), int(qty), ext))
    for i, (ok, ck, price, odate) in enumerate(zip(
            orders["o_orderkey"].to_numpy(), orders["o_custkey"].to_numpy(),
            orders["o_totalprice"].to_numpy(), orders["o_orderdate"])):
        ok = int(ok)
        created = odate.to_pydatetime().replace(tzinfo=timezone.utc) + timedelta(seconds=int(tod[i]))
        loc = f"loc-{int(cust_nation[int(ck)])}"
        money = {"amount": int(round(price * 100)), "currency": "USD"}
        payments.append({
            "id": f"pay-{ok}", "created_at": iso(created), "updated_at": iso(created),
            "location_id": loc, "order_id": f"ord-{ok}", "status": "COMPLETED",
            "customer_id": f"cust-{int(ck)}", "reference_id": f"ref-{ok}",
            "amount_money": money,
            # every tenth payment lacks total_money: the transform falls back to amount_money
            "total_money": None if ok % 10 == 0 else money})
        sq_orders.append({"id": f"ord-{ok}", "location_id": loc, "line_items": [
            {"uid": f"li-{ok}-{j}", "name": str(pname[pk]), "catalog_object_id": f"var-{pk}",
             "quantity": str(qty),
             "base_price_money": {"amount": int(round(pprice[pk] * 100)), "currency": "USD"},
             "total_money": {"amount": int(round(ext * 100)), "currency": "USD"}}
            for j, (pk, qty, ext) in enumerate(items_by_order.get(ok, []))]})
    catalog, inventory = [], []
    for pk, name, brand, ptype, size in zip(part["p_partkey"].to_numpy(), pname, part["p_brand"],
                                            part["p_type"], part["p_size"].to_numpy()):
        pk = int(pk)
        catalog.append({"id": f"item-{pk}", "type": "ITEM", "is_deleted": False,
                        "item_data": {"name": str(name), "categories": [{"id": f"cat-{ptype}", "ordinal": 0}]}})
        catalog.append({"id": f"var-{pk}", "type": "ITEM_VARIATION", "is_deleted": False,
                        "item_variation_data": {"name": f"{brand} size {int(size)}",
                                                "sku": f"SKU-{pk:08d}", "item_id": f"item-{pk}"}})
        inventory.append({"catalog_object_id": f"var-{pk}", "catalog_object_type": "ITEM_VARIATION",
                          "state": "IN_STOCK", "location_id": f"loc-{pk % 25}",
                          "quantity": str(int(size)), "calculated_at": "2000-01-01T00:00:00Z"})
    categories = [{"id": f"cat-{p}", "type": "CATEGORY", "is_deleted": False,
                   "category_data": {"name": p.title(), "is_top_level": True}} for p in PART_TYPES]
    locations = [{"id": f"loc-{n}", "name": name, "timezone": "UTC", "status": "ACTIVE",
                  "address": {"address_line_1": f"{n} Main St", "locality": name,
                              "administrative_district_level_1": REGIONS[n % 5],
                              "postal_code": f"{10000 + n}"}}
                 for n, name in enumerate(tables["nation"]["n_name"])]
    return {"payments": payments, "orders": sq_orders, "catalog": catalog, "inventory": inventory,
            "categories": categories, "locations": locations}, pick_t0(seed)


def write_feed(feed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, rows in feed.items():
        with open(os.path.join(out_dir, f"{name}.jsonl"), "w") as f:
            for r in rows:
                f.write(json.dumps(r, separators=(",", ":")))
                f.write("\n")
