#!/usr/bin/env python3
"""Compare the exact work counts of two traced runs.

    python3 perfbench/delta.py BEFORE AFTER

BEFORE and AFTER are trace files written by `run.py --trace 1`, or
directories of them (matched by workload and seed). For every timed
operation (a star_etl stage, a query_mix operation) it takes the most common
count of jobs, tasks and files written, and the median shuffle bytes, over
the traced passes, then prints the change per operation, per family and per
workload. These counts do not depend on how fast the machine is, so a change
is a change in the work the program does. The most common value is used
because adaptive execution can, now and then, plan one pass differently from
the others (a broadcast instead of a shuffle, say). Jobs, tasks and files
must match exactly; shuffle bytes may move by up to SHUFFLE_TOLERANCE,
because compressed sizes depend on the order in which rows arrive. Exits 1
when any count moved beyond that.
"""
import collections
import json
import os
import statistics
import sys

FIELDS = {"jobs": "sched.jobs", "tasks": "sched.tasks",
          "shuffle_bytes": "shuffle.write_bytes", "files_written": "io.files_written"}
SHUFFLE_TOLERANCE = 0.01


def mode(values):
    counts = collections.Counter(values)
    top = max(counts.values())
    return min(v for v, c in counts.items() if c == top)


def counts(doc):
    """{group: {count: value}} for one trace: per operation, family, total."""
    per_op = collections.defaultdict(list)
    for s in doc["spans"]:
        if s["parent"] < 0 and s["op"] > 0:
            per_op[s["name"]].append(s)
    out = {}
    for name, spans in per_op.items():
        out[f"op.{name}"] = {
            c: (statistics.median if c == "shuffle_bytes" else mode)(
                [int(s.get(f, 0)) for s in spans])
            for c, f in FIELDS.items()}
    families = doc.get("families", {})
    for group in sorted({families.get(n, n) for n in per_op} | {"total"}):
        members = [n for n in per_op if group == "total" or families.get(n, n) == group]
        out[f"family.{group}" if group != "total" else "total"] = {
            c: sum(out[f"op.{n}"][c] for n in members) for c in FIELDS}
    return out


def load(path):
    """{(workload, seed): counts} from one trace file or a directory of them."""
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if f.startswith("trace-") and f.endswith(".json"))
    out = {}
    for f in files:
        with open(f) as fh:
            doc = json.load(fh)
        out[(doc["workload"], doc["seed"])] = counts(doc)
    return out


def flagged(name, before, after):
    if name != "shuffle_bytes":
        return before != after
    return abs(after - before) > SHUFFLE_TOLERANCE * max(before, 1)


def compare(before, after):
    """Rows (workload, seed, group, count, before, after, flagged)."""
    rows = []
    for key in sorted(set(before) & set(after)):
        b, a = before[key], after[key]
        for group in sorted(set(b) | set(a)):
            for c in FIELDS:
                x = b.get(group, {}).get(c, 0)
                y = a.get(group, {}).get(c, 0)
                rows.append((key[0], key[1], group, c, x, y, flagged(c, x, y)))
    return rows


def main(argv):
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    before, after = load(argv[0]), load(argv[1])
    common = set(before) & set(after)
    if not common:
        print("no workload and seed in common", file=sys.stderr)
        return 2
    rows = compare(before, after)
    moved = [r for r in rows if r[4] != r[5]]
    for w, seed, group, c, x, y, flag in moved:
        print(f"{'FLAG' if flag else 'ok  '} {w} seed={seed} {group} {c}: "
              f"{x:.0f} -> {y:.0f} ({y - x:+.0f})")
    n_flag = sum(r[6] for r in rows)
    print(f"{len(common)} run pair(s), {len(rows)} counts compared, "
          f"{len(moved)} moved, {n_flag} flagged")
    return 1 if n_flag else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
