#!/usr/bin/env python3
"""Count Scala code lines under `src/main`, at a git ref and in the working tree.

Usage: python3 tools/loc.py <ref>

A code line is a line with anything left on it once blank space, `//`
comments and `/* ... */` or `/** ... */` blocks (nested, as Scala
nests them) are removed. Comment markers inside string and character
literals are not comments. Prints one row per file (code lines at
<ref>, in the working tree, and the change), then the totals. Run it
from the repository root.
"""
import pathlib
import re
import subprocess
import sys

ROOT = "src/main"
CHAR_LIT = re.compile(r"'(\\.|[^\\'\n])'")


def code_lines(text):
    """Number of lines of `text` that hold code."""
    lines = 0
    depth = 0          # nesting depth of /* */ blocks
    string = None      # the open string's delimiter: '"' or '"""'
    has_code = False
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "\n":
            lines += has_code
            has_code = False
            i += 1
        elif depth:
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                i += 1
        elif string:
            has_code = True
            if string == '"' and c == "\\":
                i += 2
            elif text.startswith(string, i):
                i += len(string)
                # a run of quotes ends a raw string with its last three
                while string == '"""' and i < n and text[i] == '"':
                    i += 1
                string = None
            else:
                i += 1
        elif text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
        elif text.startswith('"""', i):
            string, has_code, i = '"""', True, i + 3
        elif c == '"':
            string, has_code, i = '"', True, i + 1
        else:
            lit = CHAR_LIT.match(text, i) if c == "'" else None
            if not c.isspace():
                has_code = True
            i = lit.end() if lit else i + 1
    return lines + has_code


def at_ref(ref):
    names = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", ref, "--", ROOT],
        check=True, capture_output=True, text=True).stdout.split()
    return {name: code_lines(subprocess.run(
                ["git", "show", f"{ref}:{name}"],
                check=True, capture_output=True, text=True).stdout)
            for name in names if name.endswith(".scala")}


def in_tree():
    return {str(p): code_lines(p.read_text())
            for p in pathlib.Path(ROOT).rglob("*.scala")}


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    ref = sys.argv[1]
    before, after = at_ref(ref), in_tree()
    print(f"{ref:>8} {'tree':>8} {'change':>8}  file")
    for name in sorted(before.keys() | after.keys()):
        b, a = before.get(name, 0), after.get(name, 0)
        print(f"{b:8d} {a:8d} {a - b:+8d}  {name}")
    b, a = sum(before.values()), sum(after.values())
    print(f"{b:8d} {a:8d} {a - b:+8d}  total")


if __name__ == "__main__":
    main()
