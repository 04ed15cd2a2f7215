#!/usr/bin/env python3
"""Main-code line counts of a change, read from git.

    python3 tools/loc.py [--parent REV] [--change REV] [paths...]

For every Scala file under src/main that differs between the two
revisions (optionally limited to `paths`), print its total lines and
its code lines (non-blank, non-comment) at both revisions, then the
totals. A comment line is a `//` line or a line of a `/* ... */` block
that starts a line; code after a closing `*/` still counts as comment.
A file missing at one revision counts 0 there.

Then, per changed file, the entry points present at only one of the two
revisions: member `def`/`val`/`var`/`object`/`class`/`trait` names
(qualified by their enclosing templates) that are not `private` (in any
form), not `override`, and not inside a private template. Definitions
local to a method or block body do not count.
"""
import argparse
import re
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


def strip(text):
    """`text` with comments and string/char literals blanked to spaces
    (newlines kept), so braces and keywords inside them are ignored."""
    out, i, n = [], 0, len(text)
    blank = lambda t: "".join(c if c == "\n" else " " for c in t)
    while i < n:
        c = text[i]
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
        elif text.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':
                j += 1
        elif c == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            j = min(j + 1, n)
        elif c == "'" and re.match(r"'(\\.|[^\\'\n])'", text[i:i + 4]):
            j = text.index("'", i + 2 if text[i + 1] != "\\" else i + 3) + 1
        else:
            out.append(c)
            i += 1
            continue
        out.append(blank(text[i:j]))
        i = j
    return "".join(out)


TOKEN = re.compile(r"[{}]|\b(def|val|var|object|class|trait)\s+"
                   r"([A-Za-z_][\w$]*|`[^`]+`)")


def entry_points(text):
    """Qualified public member names defined in one file's text."""
    if text is None:
        return set()
    code = strip(text)
    names = set()
    # scopes: (is a template body, qualified name, hidden); the file's
    # top level is a template
    stack = [(True, "", False)]
    pending = None  # (name, hidden) of the class/object/trait just named
    for m in TOKEN.finditer(code):
        template, qual, hidden = stack[-1]
        if m.group(0) in "{}":
            if m.group(0) == "{":
                stack.append((True, *pending) if template and pending
                             else (False, qual, hidden))
            elif len(stack) > 1:
                stack.pop()
            pending = None
            continue
        keyword, name = m.group(1), m.group(2)
        start = max(code.rfind(c, 0, m.start()) for c in "\n;{}") + 1
        mods = code[start:m.start()]
        private = re.search(r"\bprivate\b", mods) is not None
        full = f"{qual}.{name}" if qual else name
        if template and not hidden and not private \
                and not re.search(r"\boverride\b", mods):
            names.add(full)
        pending = (full, hidden or private) \
            if keyword in ("object", "class", "trait") else None
    return names


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
    print(f"\nentry points only at {a.parent} (-) or only at {a.change} (+):")
    changed = False
    for f in files:
        before = entry_points(show(a.parent, f))
        after = entry_points(show(a.change, f))
        diff = [("-", e) for e in before - after] + \
            [("+", e) for e in after - before]
        if diff:
            changed = True
            print(f"  {f}")
            for sign, e in sorted(diff, key=lambda d: (d[1], d[0])):
                print(f"    {sign} {e}")
    if not changed:
        print("  none")
    return 0


if __name__ == "__main__":
    sys.exit(main())
