#!/usr/bin/env python3
"""Summarize Bench artifacts written by plans/pr9/run.sh.

Usage: python3 plans/pr9/summarize.py <out.json>...

For each full artifact (and the compact `<out>.line` next to it) prints the
key sets of both lines, the compact line's length, the sf0.1 retry lists,
the sf1 coverage and how many of the four reserve queries got an sf1 time.
The last line says whether every artifact carries the same keys.
"""
import json
import sys

RESERVE = ["q_curation_e2e", "q_pagerank_suppliers",
           "q_tpch_q7_nation_volume", "q_bloom_dedup_gate"]


def keys(d):
    return sorted(d), sorted(d.get("sf1", {}))


def main(paths):
    seen = set()
    for p in paths:
        full = json.load(open(p))
        line = open(p[:-len(".json")] + ".line").read().strip()
        compact = json.loads(line)
        s1 = full["sf1"]
        print(f"== {p}")
        print(f"  full keys    {keys(full)}")
        print(f"  compact keys {keys(compact)}")
        print(f"  compact chars {len(line)} (budget 1750)")
        print(f"  sf0.1: n={len(full['queries'])} total={full['value']} "
              f"rerun={len(full['rerun'])} final_pass={len(full['final_pass'])} "
              f"failed={len(full['failed'])} diag={len(full['diag'])}")
        print(f"  sf1: n={len(s1['queries'])} total={s1['total']} "
              f"skipped={len(s1['skipped'])} boxed={len(s1['boxed'])} "
              f"failed={len(s1['failed'])} retried={len(s1['attempts'])}")
        timed = [q for q in RESERVE if q in s1["queries"]]
        print(f"  reserve timed {len(timed)}/4 {s1['reserve']}; "
              f"in skipped: {[q for q in RESERVE if q in s1['skipped']]}; "
              f"boxed: {[q for q in RESERVE if q in s1['boxed']]}")
        seen.add(json.dumps([keys(full), keys(compact)]))
    print("same keys in every artifact:", len(seen) == 1)


if __name__ == "__main__":
    main(sys.argv[1:])
