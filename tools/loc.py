#!/usr/bin/env python3
"""Main-code line counts of a change, read from git.

    python3 tools/loc.py [--parent REV] [--change REV] [paths...]

For every Scala file under src/main that differs between the two
revisions (optionally limited to `paths`), print its total lines and
its code lines (non-blank, non-comment) at both revisions, then the
totals. A comment line is a `//` line or a line of a `/* ... */` block
that starts a line; code after a closing `*/` still counts as comment.
A file missing at one revision counts 0 there.
"""
import argparse
import subprocess
import sys


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def show(rev, path):
    r = subprocess.run(["git", "show", f"{rev}:{path}"], capture_output=True,
                       text=True)
    return r.stdout if r.returncode == 0 else None


def count(text):
    """(total lines, code lines) of one file's text; (0, 0) if absent."""
    if text is None:
        return 0, 0
    lines = text.splitlines()
    code, in_block = 0, False
    for line in lines:
        s = line.strip()
        if in_block:
            in_block = "*/" not in s
        elif s.startswith("/*"):
            in_block = "*/" not in s[2:]
        elif s and not s.startswith("//"):
            code += 1
    return len(lines), code


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", default="HEAD^")
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("paths", nargs="*", default=["src/main"])
    a = ap.parse_args()
    files = [f for f in git("diff", "--name-only", a.parent, a.change, "--",
                            *a.paths).split()
             if f.startswith("src/main/") and f.endswith(".scala")]
    if not files:
        print("no changed src/main Scala files")
        return 0
    width = max(len(f) for f in files)
    tot = [0, 0, 0, 0]
    print(f"{'file':<{width}}  {a.parent} -> {a.change}: total (code)")
    for f in files:
        pt, pc = count(show(a.parent, f))
        ct, cc = count(show(a.change, f))
        for i, v in enumerate((pt, pc, ct, cc)):
            tot[i] += v
        print(f"{f:<{width}}  {pt} ({pc}) -> {ct} ({cc})")
    print(f"{'total':<{width}}  {tot[0]} ({tot[1]}) -> {tot[2]} ({tot[3]})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
