#!/usr/bin/env python3
"""Diff two graft.Profile records, query by query, layer by layer.

Usage:
  python3 tools/profile_diff.py BEFORE.jsonl AFTER.jsonl

Each input is the JSONL file `graft.Profile` writes (one JSON object per
query). For every query in either file it prints two markdown tables:

  - totals, before -> after: jobs, driver_gates, stages, wall_s;
  - one row per span path, before -> after: jobs, self_jobs, wall_s,
    driver_s, task_s. A span present on only one side is marked
    "(before only)" or "(after only)" and shows "-" on the other.

A query present on only one side is reported as such. Standard library
only, so it runs wherever the profiles are.
"""
import json
import sys

TOTALS = ["jobs", "driver_gates", "stages", "wall_s"]
SPAN_FIELDS = ["jobs", "self_jobs", "wall_s", "driver_s", "task_s"]


def load(path):
    out = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                rec = json.loads(line)
                out[rec["query"]] = rec
    return out


def fmt(v):
    if v is None:
        return "-"
    if isinstance(v, float) and not v.is_integer():
        return f"{v:.2f}"
    return str(int(v))


def cell(a, b):
    return f"{fmt(a)} → {fmt(b)}"


def table(header, rows):
    lines = ["| " + " | ".join(header) + " |",
             "|" + "---|" * len(header)]
    lines += ["| " + " | ".join(r) + " |" for r in rows]
    return "\n".join(lines)


def diff_query(name, before, after):
    print(f"### {name}\n")
    if before is None or after is None:
        side = "after" if before is None else "before"
        print(f"present in the {side} profile only\n")
        return
    for rec, side in ((before, "before"), (after, "after")):
        if rec.get("error"):
            print(f"{side} run failed: {rec['error']}\n")
    print(table(["metric", "before → after"],
                [[k, cell(before.get(k), after.get(k))] for k in TOTALS]))
    print()
    sb, sa = before.get("spans", {}), after.get("spans", {})
    rows = []
    for path in sorted(set(sb) | set(sa)):
        b, a = sb.get(path), sa.get(path)
        mark = " (before only)" if a is None else " (after only)" if b is None else ""
        rows.append([path + mark] + [cell(b and b.get(k), a and a.get(k))
                                     for k in SPAN_FIELDS])
    print(table(["span"] + SPAN_FIELDS, rows))
    print()


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    before, after = load(argv[1]), load(argv[2])
    for name in sorted(set(before) | set(after)):
        diff_query(name, before.get(name), after.get(name))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
