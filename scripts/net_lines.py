#!/usr/bin/env python3
"""Net code lines a change adds and removes, per file, against a parent revision.

    python3 scripts/net_lines.py --parent HEAD~1 src/main scripts

Run from anywhere inside a checkout. Compares the working tree (untracked
files included) with REV under the given paths (default: src/main). Blank
lines and comment-only lines do not count, so a change cannot shrink by
deleting comments or grow by documenting: each file is reduced to its code
lines first (a line counts when any character of it lies outside a comment;
string literals, including multi-line Scala strings, are code), and the two
code-line sequences are diffed. Prints added, removed and net per file, then
the total.
"""
import argparse
import difflib
import os
import subprocess
import sys

SLASH_COMMENTS = {".scala", ".java", ".sbt", ".c", ".h", ".cc", ".cpp",
                  ".rs", ".go", ".js", ".ts"}
HASH_COMMENTS = {".py", ".sh", ".toml", ".yml", ".yaml"}


def git(*args, check=True):
    p = subprocess.run(["git", *args], capture_output=True, text=True)
    if check and p.returncode != 0:
        sys.exit("git %s: %s" % (" ".join(args), p.stderr.strip()))
    return p


def slash_code_lines(text):
    """Code lines of C-family source: // and (nested) /* */ comments are
    dropped; "...", '...' and triple-quoted strings are kept as code."""
    out, cur = [], []
    depth = 0          # block-comment nesting (Scala nests them)
    string = None      # None, '"', "'" or '"""'
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "\n":
            if depth == 0 and string == '"':
                string = None  # an unterminated single-line string ends here
            line = "".join(cur).strip()
            if line:
                out.append(line)
            cur = []
            i += 1
            continue
        if depth > 0:
            if text.startswith("*/", i):
                depth -= 1
                i += 2
            elif text.startswith("/*", i):
                depth += 1
                i += 2
            else:
                i += 1
            continue
        if string == '"""':
            if text.startswith('"""', i):
                cur.append('"""')
                string = None
                i += 3
            else:
                cur.append(c)
                i += 1
            continue
        if string in ('"', "'"):
            cur.append(c)
            if c == "\\" and i + 1 < n and text[i + 1] != "\n":
                cur.append(text[i + 1])
                i += 2
                continue
            if c == string:
                string = None
            i += 1
            continue
        if text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if text.startswith('"""', i):
            string = '"""'
            cur.append('"""')
            i += 3
            continue
        if c == '"':
            string = '"'
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            string = "'"  # a char literal; a bare ' is a Scala symbol
        cur.append(c)
        i += 1
    line = "".join(cur).strip()
    if line:
        out.append(line)
    return out


def hash_code_lines(text):
    """Code lines of #-comment source: a line whose first non-blank
    character is # is a comment."""
    return [l.strip() for l in text.splitlines()
            if l.strip() and not l.strip().startswith("#")]


def code_lines(path, text):
    ext = os.path.splitext(path)[1]
    if ext in SLASH_COMMENTS:
        return slash_code_lines(text)
    if ext in HASH_COMMENTS:
        return hash_code_lines(text)
    return [l.strip() for l in text.splitlines() if l.strip()]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="revision to compare against")
    ap.add_argument("paths", nargs="*", default=["src/main"])
    args = ap.parse_args()
    root = git("rev-parse", "--show-toplevel").stdout.strip()
    os.chdir(root)
    git("rev-parse", "--verify", args.parent + "^{commit}")

    changed = git("diff", "--name-only", args.parent, "--", *args.paths).stdout.split()
    new = git("ls-files", "--others", "--exclude-standard", "--", *args.paths).stdout.split()
    files = sorted(set(changed) | set(new))

    rows, tot_add, tot_rem = [], 0, 0
    for f in files:
        old = git("show", "%s:%s" % (args.parent, f), check=False)
        before = code_lines(f, old.stdout) if old.returncode == 0 else []
        after = []
        if os.path.isfile(f):
            with open(f, encoding="utf-8", errors="replace") as fh:
                after = code_lines(f, fh.read())
        add = rem = 0
        for line in difflib.unified_diff(before, after, lineterm="", n=0):
            if line.startswith("+++") or line.startswith("---"):
                continue
            if line.startswith("+"):
                add += 1
            elif line.startswith("-"):
                rem += 1
        if add or rem:
            rows.append((f, add, rem))
            tot_add += add
            tot_rem += rem

    width = max([len(r[0]) for r in rows] + [5])
    print("%-*s %7s %7s %7s" % (width, "file", "added", "removed", "net"))
    for f, add, rem in rows:
        print("%-*s %7d %7d %+7d" % (width, f, add, rem, add - rem))
    print("%-*s %7d %7d %+7d" % (width, "total", tot_add, tot_rem, tot_add - tot_rem))


if __name__ == "__main__":
    main()
