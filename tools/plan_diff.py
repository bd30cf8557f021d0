#!/usr/bin/env python3
"""Diff two `graft.tools.ExplainDump` output directories.

Usage: python3 tools/plan_diff.py <before_dir> <after_dir>

Before comparing, each plan is masked of what differs between two runs
of the same plan: expression ids (`#123`), plan ids (`plan_id=45`), the
pid-scoped scratch root (`graft_scratch_root_<pid>`), the random
suffix of a run dir (`<kind>_<32 hex>`) and the source line of an RDD's
call site (`at Dedup.scala:405`), which moves with any edit above it.
Prints a unified diff for every query whose masked plan differs and
names the queries dumped on one side only. Exits 0 when the two
directories hold the same plans, 1 otherwise.
"""
import difflib
import pathlib
import re
import sys

MASKS = [
    (re.compile(r"#\d+L?"), "#_"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(r"graft_scratch_root_\d+"), "graft_scratch_root_PID"),
    (re.compile(r"([a-z0-9]+)_[0-9a-f]{32}\b"), r"\1_RUN"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:_"),
]


def masked(path):
    text = path.read_text()
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text.splitlines(keepends=True)


def main(before, after):
    a = {p.name: p for p in pathlib.Path(before).glob("*.txt")}
    b = {p.name: p for p in pathlib.Path(after).glob("*.txt")}
    same = differ = 0
    for name in sorted(a.keys() ^ b.keys()):
        print(f"ONLY {'before' if name in a else 'after'}: {name[:-4]}")
        differ += 1
    for name in sorted(a.keys() & b.keys()):
        diff = list(difflib.unified_diff(masked(a[name]), masked(b[name]),
                                         f"before/{name}", f"after/{name}"))
        if diff:
            print(f"DIFF {name[:-4]}")
            sys.stdout.writelines(diff)
            differ += 1
        else:
            print(f"SAME {name[:-4]}")
            same += 1
    print(f"{same} same, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
