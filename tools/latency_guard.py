#!/usr/bin/env python3
"""Per-query latency compare of a bench record against a baseline record.

Usage: python3 tools/latency_guard.py <baseline.json> <current.json>

Both files are Bench records: target/bench_full.json, or the latest
committed full record under tools/bench_history/. A query breaches its
budget when its current minimum exceeds 1.4x its baseline minimum and
the baseline minimum is at least 0.5 s. Queries in only one record are
listed, never failed. Exit 1 on any breach.
"""
import json
import sys

FACTOR = 1.4
MIN_SECS = 0.5


def compare(base, curr):
    """(breaches, new, absent): each breach is (name, base_s, curr_s)."""
    bq, cq = base["queries"], curr["queries"]
    breaches = [(n, bq[n], cq[n]) for n in sorted(set(bq) & set(cq))
                if bq[n] >= MIN_SECS and cq[n] > FACTOR * bq[n]]
    return breaches, sorted(set(cq) - set(bq)), sorted(set(bq) - set(cq))


def main(argv):
    if len(argv) != 2:
        raise SystemExit(__doc__)
    base, curr = (json.load(open(p)) for p in argv)
    breaches, new, absent = compare(base, curr)
    for n in new:
        print(f"INFO new query {n}: {curr['queries'][n]:.2f}s (no baseline)")
    for n in absent:
        print(f"INFO query {n} absent from the current record")
    for n, b, c in breaches:
        print(f"FAIL {n}: {b:.2f}s -> {c:.2f}s ({c / b:.2f}x)")
    common = len(set(base["queries"]) & set(curr["queries"]))
    print(f"== {len(breaches)} of {common} common queries over {FACTOR}x "
          f"their baseline (baselines >= {MIN_SECS}s)")
    return 1 if breaches else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
