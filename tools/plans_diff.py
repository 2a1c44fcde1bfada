#!/usr/bin/env python3
"""Compare two PLANS.md files query by query, after normalizing what
changes from run to run without changing the plan.

Usage:

    python3 tools/plans_diff.py OLD/PLANS.md NEW/PLANS.md
    python3 tools/plans_diff.py OLD/PLANS.md NEW/PLANS.md | grep '^## '   # names only
    python3 tools/plans_diff.py --ops OLD/PLANS.md NEW/PLANS.md

Each file is split at its `## <query>` headings. Normalized before the
comparison: expression ids (`#123L`), `plan_id=`, RDD ids, temp paths,
run-stamped names (`local-1792396293065`), lambda variable names, JVM
lambda classes and identity hashes (`$$Lambda$5995/0x…@2a3cdf2b`) and
`.scala:NN` line numbers. Prints each query whose normalized plan
differs (or that only one file holds) with a unified diff, then a
summary line. Exits 1 when any plan differs, like diff(1).

With `--ops`, each differing query prints a table instead of the diff:
how many of each physical operator in OPS its plan tree holds in OLD
and in NEW.
"""
import difflib
import re
import sys

NORMALIZE = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"file:/tmp/[^\s,\]]*"), "file:/tmp/TMP"),
    (re.compile(r"local[-_]\d{10,}"), "local-N"),
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1_N"),
    (re.compile(r"\$\$Lambda\$\d+/0x[0-9a-f]+"), "$$Lambda$N"),
    (re.compile(r"(\w)@[0-9a-f]{1,8}\b"), r"\1@HASH"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
]


OPS = ["Exchange", "Window", "WindowGroupLimit", "ObjectHashAggregate",
       "HashAggregate", "BroadcastExchange", "SortMergeJoin",
       "BroadcastNestedLoopJoin"]

# a node line of the formatted plan tree: `+- Name [args] (N)`
NODE = re.compile(r"^[\s:+-]*([A-Za-z]+)\b.*\(\d+\)$")


def op_counts(plan):
    """{operator: count} over the tree at the head of a formatted plan
    (the numbered node details that follow it are not counted)."""
    counts = dict.fromkeys(OPS, 0)
    for line in plan.split("\n\n\n")[0].splitlines():
        m = NODE.match(line)
        if m and m.group(1) in counts:
            counts[m.group(1)] += 1
    return counts


def print_ops(name, a, b):
    old = op_counts(a) if a is not None else None
    new = op_counts(b) if b is not None else None
    print(f"## {name}")
    print(f"  {'operator':<24} {'OLD':>4} {'NEW':>4}")
    for op in OPS:
        o = "-" if old is None else old[op]
        n = "-" if new is None else new[op]
        mark = "" if o == n else "  *"
        print(f"  {op:<24} {o:>4} {n:>4}{mark}")


def normalize(text):
    for pattern, repl in NORMALIZE:
        text = pattern.sub(repl, text)
    return text


def plans(path):
    """{query name: normalized plan text} of one PLANS.md."""
    out, name, lines = {}, None, []
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.startswith("## "):
                if name is not None:
                    out[name] = normalize("".join(lines))
                name, lines = line[3:].strip(), []
            elif name is not None:
                lines.append(line)
    if name is not None:
        out[name] = normalize("".join(lines))
    return out


def main():
    args = sys.argv[1:]
    ops = "--ops" in args
    args = [a for a in args if a != "--ops"]
    if len(args) != 2:
        sys.exit(__doc__)
    old, new = plans(args[0]), plans(args[1])
    differ = []
    for name in list(old) + [n for n in new if n not in old]:
        a, b = old.get(name), new.get(name)
        if a == b:
            continue
        differ.append(name)
        if ops:
            print_ops(name, a, b)
            continue
        if a is None or b is None:
            print(f"## {name}: only in {args[1] if a is None else args[0]}")
            continue
        print(f"## {name}")
        sys.stdout.writelines(difflib.unified_diff(
            a.splitlines(keepends=True), b.splitlines(keepends=True),
            fromfile=f"{args[0]}:{name}", tofile=f"{args[1]}:{name}"))
    print(f"{len(differ)} of {len(set(old) | set(new))} plans differ")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
