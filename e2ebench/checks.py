"""Output checks, run after the timed passes.

* Registry operations: the cold pass dumps each result to parquet and the
  repository's ``tools/check.py`` compares it against the operation's
  DuckDB oracle (row count, sorted schema, value hash).
* Square ELT: each of the six warehouse tables is compared against what
  the feed generator predicts for the seed and the number of hourly runs:
  row count, key uniqueness and a hash over the checked columns.
"""
import hashlib
import os
from datetime import datetime, timedelta, timezone

import duckdb

from gen import EPOCH


def oracle_check(check_output):
    """{operation: status} from the output of ``tools/check.py``: PASS when
    the result matched its oracle, NO_ORACLE when the operation has none
    (it then passes by finishing with its own ``require()`` gates intact)."""
    status = {}
    for line in check_output.splitlines():
        head, _, rest = line.partition(" ")
        if head in ("PASS", "FAIL", "INFO") and ":" in rest:
            name, _, detail = rest.partition(": ")
            status[name] = ("PASS" if head == "PASS" else "NO_ORACLE" if detail.startswith("ROWS_ONLY")
                            else f"{head} {detail}")
    return status


def _cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(round(v, 6))
    return str(v)


def digest(rows):
    h = hashlib.sha256()
    for r in sorted("\x01".join(_cell(v) for v in row) for row in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def _parse(s):
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%SZ").replace(tzinfo=timezone.utc)


# table -> (key columns, checked columns)
SQUARE_TABLES = {
    "pos_payments": (["tenant_id", "provider", "payment_id"],
                     ["payment_id", "order_id", "amount", "currency", "created_at"]),
    "pos_order_items": (["tenant_id", "provider", "order_id", "line_item_uid"],
                        ["order_id", "line_item_uid", "payment_id", "catalog_object_id", "quantity",
                         "base_price_amount", "total_money_amount"]),
    "pos_catalog": (["tenant_id", "provider", "provider_account_id", "catalog_object_id"],
                    ["catalog_object_id", "item_name", "variation_name", "sku", "category_id"]),
    "pos_inventory": (["tenant_id", "provider", "provider_account_id", "catalog_object_id", "location_id", "state"],
                      ["catalog_object_id", "location_id", "state", "quantity"]),
    "pos_categories": (["tenant_id", "provider", "provider_account_id", "category_id"],
                       ["category_id", "category_name", "is_top_level"]),
    "pos_locations": (["tenant_id", "provider", "provider_account_id", "location_id"],
                      ["location_id", "location_name", "address"]),
}


def square_expected(feed, t0, hourly_runs):
    """{table: rows of checked columns} after the backfill up to ``t0`` and
    ``hourly_runs`` hourly runs with a 24 h lookback."""
    cutoff = t0 + timedelta(hours=hourly_runs)
    pays = [p for p in feed["payments"] if _parse(p["created_at"]) <= cutoff]
    paid = {p["order_id"]: p["id"] for p in pays}
    items = {v["id"]: v for v in feed["catalog"] if v["type"] == "ITEM"}
    exp = {
        "pos_payments": [(p["id"], p["order_id"], (p["total_money"] or p["amount_money"])["amount"],
                          "USD", int((_parse(p["created_at"]) - EPOCH).total_seconds())) for p in pays],
        "pos_order_items": [(o["id"], li["uid"], paid[o["id"]], li["catalog_object_id"], float(li["quantity"]),
                             li["base_price_money"]["amount"], li["total_money"]["amount"])
                            for o in feed["orders"] if o["id"] in paid for li in o["line_items"]],
        "pos_catalog": [],
        "pos_inventory": [(i["catalog_object_id"], i["location_id"], i["state"], float(i["quantity"]))
                          for i in feed["inventory"]],
        "pos_categories": [(c["id"], c["category_data"]["name"], True) for c in feed["categories"]],
        "pos_locations": [(loc["id"], loc["name"], ", ".join(loc["address"][k] for k in (
            "address_line_1", "locality", "administrative_district_level_1", "postal_code")))
            for loc in feed["locations"]],
    }
    for v in feed["catalog"]:
        if v["type"] == "ITEM_VARIATION":
            d = v["item_variation_data"]
            parent = items[d["item_id"]]["item_data"]
            exp["pos_catalog"].append((v["id"], parent["name"], d["name"], d["sku"], parent["categories"][0]["id"]))
    return exp


def square_check(warehouse, feed, t0, hourly_runs):
    """{table: "PASS" or what differs}."""
    exp = square_expected(feed, t0, hourly_runs)
    con = duckdb.connect(config={"autoinstall_known_extensions": "false",
                                 "autoload_known_extensions": "false"})
    status = {}
    for table, (keys, cols) in SQUARE_TABLES.items():
        path = os.path.join(warehouse, table)
        if not os.path.isdir(path):
            status[table] = "missing"
            continue
        src = f"read_parquet('{path}/*.parquet')"
        sel = ", ".join(f"CAST(epoch({c}) AS BIGINT)" if c == "created_at" else c for c in cols)
        rows = con.execute(f"SELECT {sel} FROM {src}").fetchall()
        dups = con.execute(f"SELECT count(*) - count(DISTINCT ({', '.join(keys)})) FROM {src}").fetchone()[0]
        want = exp[table]
        if len(rows) != len(want):
            status[table] = f"rows got={len(rows)} want={len(want)}"
        elif dups:
            status[table] = f"{dups} duplicate keys"
        elif digest(rows) != digest(want):
            status[table] = "content hash differs"
        else:
            status[table] = "PASS"
    return status
