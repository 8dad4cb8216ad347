#!/usr/bin/env python3
"""Code-line count of src/main, at a git revision and in the worktree.

Usage: python3 tools/loc.py [rev]        (rev defaults to HEAD)

A code line is any line that is neither blank nor comment: lines inside
/* ... */ blocks (scaladoc included) and lines starting with // do not
count; a code line with a trailing comment does. Prints one row per file
whose count differs between `rev` and the worktree (a file missing on one
side counts 0 there), then the totals over every .scala/.java file under
src/main and the delta.
"""
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TREE = "src/main"
EXTS = (".scala", ".java")


def code_lines(text):
    n = 0
    in_block = False
    for line in text.splitlines():
        s = line.strip()
        if in_block:
            if "*/" not in s:
                continue
            in_block = False
            s = s.split("*/", 1)[1].strip()
        if s.startswith("/*"):
            rest = s[2:]
            if "*/" not in rest:
                in_block = True
                continue
            s = rest.split("*/", 1)[1].strip()
        if s and not s.startswith("//"):
            n += 1
    return n


def at_rev(rev):
    names = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", rev, "--", TREE],
        cwd=ROOT, check=True, capture_output=True, text=True).stdout.split()
    out = {}
    for name in names:
        if name.endswith(EXTS):
            text = subprocess.run(["git", "show", f"{rev}:{name}"], cwd=ROOT, check=True,
                                  capture_output=True, text=True).stdout
            out[name] = code_lines(text)
    return out


def in_worktree():
    out = {}
    for d, _, files in os.walk(os.path.join(ROOT, TREE)):
        for f in files:
            if f.endswith(EXTS):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    out[os.path.relpath(p, ROOT)] = code_lines(fh.read())
    return out


def main():
    if any(a in ("-h", "--help") for a in sys.argv[1:]):
        print(__doc__.strip())
        return
    rev = sys.argv[1] if len(sys.argv) > 1 else "HEAD"
    before, after = at_rev(rev), in_worktree()
    for name in sorted(set(before) | set(after)):
        b, a = before.get(name, 0), after.get(name, 0)
        if a != b:
            print(f"{name}: {b} -> {a} ({a - b:+d})")
    tb, ta = sum(before.values()), sum(after.values())
    print(f"total {TREE}: {tb} -> {ta} ({ta - tb:+d})")


if __name__ == "__main__":
    main()
