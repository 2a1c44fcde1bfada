#!/usr/bin/env python3
"""Per-query layer split of one traced perfbench run.

    python3 tools/spans_summary.py RUN_DIR

RUN_DIR is a traced run's directory (`perfbench/run.py --trace 1`
writes `spans.json` and `record.json` there). For each query of the
timed passes it prints the median seconds of the construct, plan and
exec phases and the median job count of each phase over the traced
timed passes; jobs that no phase claims are counted under `other`. The
queries of the traced-once pass follow, one call each. The run's
per-layer values from `record.json` close the report.
"""
import json
import os
import statistics
import sys
from collections import defaultdict

PHASES = ("construct", "plan", "exec")


def load(run_dir):
    with open(os.path.join(run_dir, "spans.json")) as f:
        spans = json.load(f)["spans"]
    with open(os.path.join(run_dir, "record.json")) as f:
        record = json.load(f)
    return spans, record


def query_rows(spans, pass_name):
    """{query: [per-call figures]} over the passes named `pass_name`."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)

    def seconds(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def jobs(s):
        return sum(1 for c in children[s["id"]] if c["layer"] == "job")

    rows = defaultdict(list)
    for p in spans:
        if p["layer"] != "pass" or p["name"] != pass_name:
            continue
        for q in children[p["id"]]:
            if q["layer"] != "query":
                continue
            fig = {"s": seconds(q), "other_jobs": jobs(q)}
            for ph in children[q["id"]]:
                if ph["layer"] in PHASES:
                    fig[ph["layer"] + "_s"] = seconds(ph)
                    fig[ph["layer"] + "_jobs"] = jobs(ph)
            rows[q["name"]].append(fig)
    return rows


def print_table(title, rows):
    keys = ["s"] + [f"{p}_s" for p in PHASES] + [f"{p}_jobs" for p in PHASES] + ["other_jobs"]
    print(f"## {title}")
    print("query".ljust(30) + "calls".rjust(6) + "".join(k.rjust(15) for k in keys))
    for name in sorted(rows):
        calls = rows[name]
        med = [statistics.median(c.get(k, 0) for c in calls) for k in keys]
        cells = [f"{v:.3f}" if k.endswith("_s") or k == "s" else f"{v:g}"
                 for k, v in zip(keys, med)]
        print(name.ljust(30) + str(len(calls)).rjust(6) + "".join(c.rjust(15) for c in cells))
    print()


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    spans, record = load(sys.argv[1])
    print(f"# {record.get('workload')} seed {record.get('seed')} trace {record.get('trace')}, "
          f"host_steal_frac {record.get('host_steal_frac')}")
    timed = query_rows(spans, "timed")
    print_table(f"timed passes (medians over the traced ones)", timed)
    once = query_rows(spans, "once")
    if once:
        print_table("traced-once calls", once)
    print("## per-layer values")
    for k, v in sorted(record.get("values", {}).items()):
        print(f"{k:40s} {v:.6g}" if isinstance(v, (int, float)) else f"{k:40s} {v}")


if __name__ == "__main__":
    main()
