#!/usr/bin/env python3
"""Duplicated main-code lines at two revisions, read from git.

    python3 tools/dups.py [--parent REV] [--change REV] [--list] [paths...]

Every Scala file under src/main (optionally limited to `paths`) is cut
into its code lines: blank lines, comment lines (a `//` line or a line
of a `/* ... */` block that starts a line, as tools/loc.py counts them)
and every line that a `\"\"\"` string opens, spans or closes are
skipped, and each kept line has its whitespace collapsed. A window is 6
consecutive code lines of one file joined by newlines; it counts when
that text is at least 150 characters long. A code line is duplicated
when it lies in a window whose text occurs twice or more among all the
files read (in one file or across files). A run is a stretch of
consecutive duplicated code lines.

Prints, per file and at both revisions, the duplicated lines and (in
parentheses) the runs of 8 or more lines, then the same totals per
package. With --list, also each run of 8+ at the change: its file, its
first and last source line and its first code line.
"""
import argparse
import collections
import subprocess
import sys

WINDOW = 6
MIN_CHARS = 150
MIN_RUN = 8


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def show(rev, path):
    r = subprocess.run(["git", "show", f"{rev}:{path}"], capture_output=True,
                       text=True)
    return r.stdout if r.returncode == 0 else None


def code_lines(text):
    """[(source line number, whitespace-collapsed code line)] of one
    file's text."""
    out, in_block, in_str = [], False, False
    for no, line in enumerate(text.splitlines(), 1):
        s = line.strip()
        quotes = s.count('"""') % 2 == 1
        if in_str:
            in_str = not quotes
            continue
        if in_block:
            in_block = "*/" not in s
            continue
        if s.startswith("/*"):
            in_block = "*/" not in s[2:]
            continue
        if not s or s.startswith("//"):
            continue
        in_str = quotes
        if not in_str:
            out.append((no, " ".join(s.split())))
    return out


def duplicated(files):
    """{path: (duplicated lines, [(first index, length) of each run of
    MIN_RUN or more])}, indices into the file's code lines."""
    seen = collections.Counter()
    windows = {}
    for path, lines in files.items():
        ws = ["\n".join(t for _, t in lines[i:i + WINDOW])
              for i in range(len(lines) - WINDOW + 1)]
        windows[path] = ws
        seen.update(w for w in ws if len(w) >= MIN_CHARS)
    out = {}
    for path, ws in windows.items():
        dup = [False] * len(files[path])
        for i, w in enumerate(ws):
            if len(w) >= MIN_CHARS and seen[w] > 1:
                dup[i:i + WINDOW] = [True] * WINDOW
        runs, n = [], 0
        for i, d in enumerate(dup + [False]):
            if d:
                n += 1
            else:
                if n >= MIN_RUN:
                    runs.append((i - n, n))
                n = 0
        out[path] = (sum(dup), runs)
    return out


def package(path):
    parts = path.split("/")
    i = parts.index("scala") + 1 if "scala" in parts else 2
    return ".".join(parts[i:-1])


def scan(rev, paths):
    """({path: code lines}, duplicated(...)) of the src/main Scala files
    at `rev`."""
    names = [f for f in git("ls-tree", "-r", "--name-only", rev, "--",
                            *paths).split()
             if f.startswith("src/main/") and f.endswith(".scala")]
    files = {f: code_lines(show(rev, f)) for f in names}
    return files, duplicated(files)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", default="HEAD^")
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--list", action="store_true")
    ap.add_argument("paths", nargs="*", default=["src/main"])
    a = ap.parse_args()
    _, before = scan(a.parent, a.paths)
    lines, after = scan(a.change, a.paths)
    files = sorted(set(before) | set(after))
    width = max([len(f) for f in files] + [5])
    cell = lambda r, f: (f"{r[f][0]} ({len(r[f][1])})" if f in r else "-")
    print(f"{'file':<{width}}  {a.parent} -> {a.change}: "
          f"duplicated lines (runs of {MIN_RUN}+)")
    for f in files:
        if before.get(f, (0,))[0] or after.get(f, (0,))[0]:
            print(f"{f:<{width}}  {cell(before, f)} -> {cell(after, f)}")
    print(f"\n{'package':<{width}}  {a.parent} -> {a.change}")
    pkgs = collections.defaultdict(lambda: [0, 0, 0, 0])
    for r, k in ((before, 0), (after, 2)):
        for f, (n, runs) in r.items():
            pkgs[package(f)][k] += n
            pkgs[package(f)][k + 1] += len(runs)
    for p in sorted(pkgs):
        b, br, c, cr = pkgs[p]
        print(f"{p:<{width}}  {b} ({br}) -> {c} ({cr})")
    tot = [sum(v[i] for v in pkgs.values()) for i in range(4)]
    print(f"{'total':<{width}}  {tot[0]} ({tot[1]}) -> {tot[2]} ({tot[3]})")
    if a.list:
        print(f"\nruns of {MIN_RUN}+ at {a.change}:")
        for f in files:
            for i, n in after.get(f, (0, []))[1]:
                first, last = lines[f][i], lines[f][i + n - 1]
                print(f"  {f}:{first[0]}-{last[0]}  {n} lines  "
                      f"{first[1][:70]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
