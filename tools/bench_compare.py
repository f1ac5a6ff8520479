#!/usr/bin/env python3
"""Dev-only: like-for-like comparison of two bench_out.json anchors
(3-rep medians). Prints total deltas, queries whose median moved more
than the given factor, and queries present on only one side.

When both artifacts carry Bench's per-query "work" ledger, each wall-time
mover is labelled with the counters that moved with it (jobs, tasks,
shuffle bytes, spill bytes), or "counters unchanged: host noise" if none
did, and queries whose counters moved beyond the factor are listed on
their own. Artifacts without "work" compare on wall time only.

Usage: bench_compare.py <old.json> <new.json> [factor=1.3]
"""
import json
import sys

COUNTERS = {
    "jobs": lambda w: w["spark.jobs"],
    "tasks": lambda w: w["spark.tasks"],
    "shuffle_bytes": lambda w: w["spark.shuffle_read_bytes"] + w["spark.shuffle_write_bytes"],
    "spill_bytes": lambda w: w["spark.spill_bytes"],
}


def counter_moves(old, new, factor):
    """[(name, old, new)] for each counter that moved beyond the factor
    (a counter that leaves or reaches zero counts as moved)."""
    moves = []
    for name, f in COUNTERS.items():
        a, b = f(old), f(new)
        if (a == 0) != (b == 0) or (a and b and max(a / b, b / a) > factor):
            moves.append((name, a, b))
    return moves


def fmt(moves):
    return ", ".join(f"{n} {a:g} -> {b:g}" for n, a, b in moves)


def main(old_path, new_path, factor=1.3):
    old_doc, new_doc = json.load(open(old_path)), json.load(open(new_path))
    old, new = old_doc["queries"], new_doc["queries"]
    shared = sorted(set(old) & set(new))
    old_work, new_work = old_doc.get("work"), new_doc.get("work")
    work = old_work is not None and new_work is not None
    tot_old = sum(old[q] for q in shared)
    tot_new = sum(new[q] for q in shared)
    print(f"shared queries: {len(shared)}")
    print(f"like-for-like total: {tot_old:.1f} s -> {tot_new:.1f} s "
          f"({tot_new / tot_old - 1:+.1%} vs old)")
    moved = {q: counter_moves(old_work[q], new_work[q], factor) for q in shared
             if work and q in old_work and q in new_work}
    movers = [(new[q] / old[q], q) for q in shared
              if new[q] > 0.3 and old[q] > 0.3
              and (new[q] / old[q] > factor or old[q] / new[q] > factor)]
    for r, q in sorted(movers, reverse=True):
        note = ""
        if q in moved:
            note = f"  [{fmt(moved[q])}]" if moved[q] else "  [counters unchanged: host noise]"
        print(f"  {'SLOWER' if r > 1 else 'faster'} {r:5.2f}x  {q}: "
              f"{old[q]:.2f} -> {new[q]:.2f} s{note}")
    for q in sorted(set(new) - set(old)):
        print(f"  NEW   {q}: {new[q]:.2f} s")
    for q in sorted(set(old) - set(new)):
        print(f"  GONE  {q}: {old[q]:.2f} s")
    if not work:
        print("counters: skipped (an artifact has no \"work\" ledger)")
        return
    print(f"counter movers (beyond {factor}x):")
    for q in sorted(q for q in moved if moved[q]):
        print(f"  {q}: {fmt(moved[q])}")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2],
         float(sys.argv[3]) if len(sys.argv) > 3 else 1.3)
