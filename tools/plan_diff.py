#!/usr/bin/env python3
"""Plan identity check between two `graft.Explain` dumps.

    python3 tools/plan_diff.py PARENT CHANGE

PARENT and CHANGE are the stdout of `sbt "runMain graft.Explain <sfDir>
[name...]"` from two trees. Each dump is split into one formatted plan per
query (the `===== name =====` headers Explain prints), and every plan is
normalized before comparing:

- expression ids (`doc_id#123L`, `[id=#45]`) lose their numbers;
- exchange plan ids (`[plan_id=678]`) lose theirs;
- checkpointed RDD leaves (`Scan ExistingRDD` / `LogicalRDD` arguments such
  as `MapPartitionsRDD[87] at localCheckpoint at Relational.scala:633`)
  lose their RDD id and the call-site line number, which move with any
  edit above the call;
- JVM object names (`EventStreams$$$Lambda$6799/0x00007f39e1bc5950@40984b9b`)
  lose their class number and identity hash.

Everything else (the operator tree, partitioning, join strategies, join and
filter conditions, pushed filters, codegen stages) must match. The first
differing query is printed with a unified diff of its normalized plans; the
exit status is 1 if any query differs or exists in only one dump, 0
otherwise.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^=+ (\S+) =+$")
NORMALIZE = [
    (re.compile(r"\b(\w*RDD)\[\d+\] at (\S+) at ([\w$.]+):\d+"),
     r"\1[N] at \2 at \3:N"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"#\d+"), "#N"),
]


def normalize(line):
    for pattern, repl in NORMALIZE:
        line = pattern.sub(repl, line)
    return line.rstrip()


def plans(path):
    """{query name: [normalized plan lines]} in dump order."""
    out, current = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            m = HEADER.match(raw.strip())
            if m:
                current = out.setdefault(m.group(1), [])
            elif current is not None:
                current.append(normalize(raw))
    for lines in out.values():
        while lines and not lines[-1]:
            lines.pop()
    return out


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    parent, change = plans(argv[1]), plans(argv[2])
    differing = []
    for name in list(parent) + [n for n in change if n not in parent]:
        p, c = parent.get(name), change.get(name)
        if p is None or c is None or p != c:
            differing.append(name)
    if not differing:
        print(f"plans identical: {len(parent)} queries")
        return 0
    first = differing[0]
    if first not in parent or first not in change:
        side = "CHANGE" if first not in parent else "PARENT"
        print(f"first difference: {first} appears only in {side}")
    else:
        print(f"first difference: {first}")
        sys.stdout.writelines(difflib.unified_diff(
            [l + "\n" for l in parent[first]], [l + "\n" for l in change[first]],
            fromfile=f"PARENT/{first}", tofile=f"CHANGE/{first}"))
    print(f"{len(differing)} of {len(set(parent) | set(change))} queries "
          f"differ: {', '.join(differing)}")
    return 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
