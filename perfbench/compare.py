#!/usr/bin/env python3
"""Compare two benchmark result files.

    python3 perfbench/compare.py BASE.json NEW.json

Both files are what ``run.py --out`` writes. Prints, per workload and
metric, the two values and the relative change. A change in any
``<query>.jobs`` / ``pipeline.<stage>.jobs`` count or in shuffle bytes is
flagged: those counters do not depend on the host, so a change there is
a change in the plan, not noise. Exits 1 when something is flagged.
"""
import json
import sys

FLAG_EXACT = ("shuffle.write_mb", "shuffle.read_mb", "scheduler.jobs")


def flagged(name, a, b):
    if a == b:
        return False
    return name.endswith(".jobs") or name in FLAG_EXACT


def compare(base, new, out=sys.stdout):
    flags = 0
    for w in sorted(set(base["workloads"]) & set(new["workloads"])):
        ma = base["workloads"][w]["metrics"]
        mb = new["workloads"][w]["metrics"]
        print("== %s" % w, file=out)
        for name in sorted(set(ma) & set(mb)):
            a, b = ma[name]["value"], mb[name]["value"]
            delta = "%+8.1f%%" % (100.0 * (b - a) / a) if a else "       -"
            mark = ""
            if flagged(name, a, b):
                mark = "  <-- plan change"
                flags += 1
            print("  %-42s %14.4f %14.4f %s %s%s"
                  % (name, a, b, delta, ma[name]["unit"], mark), file=out)
        for name in sorted(set(ma) ^ set(mb)):
            print("  %-42s only in %s" % (name, "base" if name in ma else "new"), file=out)
    return flags


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(sys.argv[1]) as f:
        base = json.load(f)
    with open(sys.argv[2]) as f:
        new = json.load(f)
    sys.exit(1 if compare(base, new) else 0)


if __name__ == "__main__":
    main()
