#!/usr/bin/env python3
"""Compare two `runMain graft.Explain <names...>` dumps query by query.

    sbt -batch "runMain graft.Explain q1 q2" > before.txt   # on one tree
    sbt -batch "runMain graft.Explain q1 q2" > after.txt    # on the other
    python3 tools/plandiff.py before.txt after.txt [-v]

Splits each dump at its `===== <query> =====` headers, masks the ids that
change from run to run and from tree to tree without changing the plan
(expression ids `#123`/`#45L`, `plan_id=N`, and an RDD's id and source
call site, e.g. `MapPartitionsRDD[6] at localCheckpoint at X.scala:39`
reads `MapPartitionsRDD[] at localCheckpoint`), and prints the name of
every query whose masked plan differs or that only one dump holds. `-v`
adds a unified diff per differing query. Exits 1 when any query differs,
0 when every plan matches.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^=+ (\S+) =+$")
SBT_LINE = re.compile(r"^\[(info|warn|error|success)\]")
MASKS = [
    (re.compile(r"(\w*RDD)\[\d+\] at (\w+) at [\w.$]+:\d+"), r"\1[] at \2"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"#\d+L?"), "#"),
]


def split_dump(text):
    """Map each query name to its plan lines (sbt's own log lines dropped)."""
    plans, cur = {}, None
    for line in text.splitlines():
        m = HEADER.match(line.strip())
        if m:
            cur = plans.setdefault(m.group(1), [])
        elif cur is not None and not SBT_LINE.match(line):
            cur.append(line.rstrip())
    for lines in plans.values():
        while lines and not lines[-1]:
            lines.pop()
    return plans


def mask(line):
    for pat, repl in MASKS:
        line = pat.sub(repl, line)
    return line


def differing(before, after):
    """(name, unified diff lines) for each query whose masked plans differ,
    in name order; a query only one side holds diffs against nothing."""
    out = []
    for name in sorted(set(before) | set(after)):
        a = [mask(l) for l in before.get(name, [])]
        b = [mask(l) for l in after.get(name, [])]
        if a != b:
            out.append((name, list(difflib.unified_diff(
                a, b, f"before/{name}", f"after/{name}", lineterm=""))))
    return out


def main(argv):
    verbose = "-v" in argv
    paths = [a for a in argv if a != "-v"]
    if len(paths) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    dumps = []
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            dumps.append(split_dump(fh.read()))
    diffs = differing(*dumps)
    for name, lines in diffs:
        print(name)
        if verbose:
            print("\n".join(lines))
    n = len(set(dumps[0]) | set(dumps[1]))
    print(f"{len(diffs)} of {n} queries differ", file=sys.stderr)
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
