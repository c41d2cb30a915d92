#!/usr/bin/env python3
"""Derives the query_mix workload's query list from the recorded suite
and writes it into perfbench/query_mix.json.

    python3 perfbench/mix.py

The list has SLOTS queries. Each family (the name's prefix; every
other name is family "other") gets slots by its share of the queries
in bench_recorded.json: max(1, floor(share * SLOTS)), then one more
slot at a time to the family with the largest remainder
share * SLOTS - slots, until SLOTS are given. Within a family the named
slow paths come first; the other slots take the queries at the evenly
spaced quantiles (i + 0.5) / k of the family's recorded times. The
three slow paths in TOO_SLOW are left out: each takes 4-5 s at sf0.01,
more than a whole pass of the rest.
"""
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
SLOTS = 16
FAMILIES = ("analytics", "src", "dedup", "ann", "graph", "stream", "text",
            "pipe", "mm", "ts", "other")
SLOW_PATHS = ("graph_clustering_coeff", "src_feed_batch")
TOO_SLOW = ("ann_ivf_drift_retrain", "stream_ivf_maintain",
            "stream_ivfpq_maintain")


def family(name):
    return next((f for f in FAMILIES[:-1] if name.startswith(f + "_")),
                "other")


def main():
    with open(os.path.join(HERE, "..", "bench_recorded.json")) as f:
        recorded = json.load(f)["queries"]
    by = {f: [] for f in FAMILIES}
    for name, secs in recorded.items():
        by[family(name)].append((secs, name))
    share = {f: len(by[f]) / len(recorded) for f in FAMILIES}
    slots = {f: max(1, int(share[f] * SLOTS)) for f in FAMILIES}
    while sum(slots.values()) < SLOTS:
        slots[max(FAMILIES, key=lambda f: share[f] * SLOTS - slots[f])] += 1
    queries = []
    for f in FAMILIES:
        named = [n for n in SLOW_PATHS if family(n) == f]
        rest = sorted(x for x in by[f]
                      if x[1] not in TOO_SLOW and x[1] not in named)
        k = slots[f] - len(named)
        picks = named + [rest[int((i + 0.5) * len(rest) / k)][1]
                         for i in range(k)]
        queries += [{"name": n, "family": f} for n in picks]
    path = os.path.join(HERE, "query_mix.json")
    with open(path) as f:
        spec = json.load(f)
    spec["about"] = (
        f"Fixed query list of the query_mix workload, written by mix.py: "
        f"{SLOTS} SparkEntry.queries entries, slots per family by the "
        f"family's share of the {len(recorded)} queries in "
        f"bench_recorded.json (see 'shares'; at least one each, largest "
        f"remainder), the named slow paths {', '.join(SLOW_PATHS)} first, "
        f"the rest at evenly spaced quantiles of the family's recorded "
        f"times; {', '.join(TOO_SLOW)} are left out for time. The tables "
        f"block is the input manifest (row counts) checked at set-up.")
    spec["shares"] = {f: {"recorded": len(by[f]),
                          "share": round(share[f], 4),
                          "slots": slots[f]} for f in FAMILIES}
    spec["queries"] = queries
    with open(path, "w") as f:
        json.dump(spec, f, indent=1)
        f.write("\n")
    print(f"{path}: {[q['name'] for q in queries]}")


if __name__ == "__main__":
    main()
