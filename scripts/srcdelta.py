#!/usr/bin/env python3
"""Net line delta of src/main between two commits.

Usage: scripts/srcdelta.py <base> [<head>]      (head defaults to HEAD)

Prints two forms of the delta:

  lines      total lines added, removed and net, from `git diff --numstat`;
  code       non-blank non-comment lines in src/main at each commit
             (read with `git show`) and their net difference.

A line is blank when it holds only whitespace. A line is a comment line
when its first non-whitespace characters are `//`, `/*` or `*`: a line
comment, the opening of a block or doc comment, or a doc comment's
continuation. Everything else counts as code, including a comment that
follows code on the same line, lines inside string literals (embedded SQL
and its `--` comments) and a block comment's continuation lines that do
not start with `*`.
"""
import subprocess
import sys

ROOT = "src/main"


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True, errors="replace").stdout


def is_code(line):
    s = line.strip()
    return bool(s) and not s.startswith(("//", "/*", "*"))


def code_lines(rev):
    files = git("ls-tree", "-r", "--name-only", rev, "--", ROOT).split()
    return sum(sum(map(is_code, git("show", f"{rev}:{path}").splitlines()))
               for path in files)


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__.strip().splitlines()[2])
    base, head = argv[1], argv[2] if len(argv) == 3 else "HEAD"
    added = removed = 0
    for row in git("diff", "--numstat", base, head, "--", ROOT).splitlines():
        a, r, _ = row.split("\t", 2)
        if a != "-":  # binary files carry no line counts
            added, removed = added + int(a), removed + int(r)
    before, after = code_lines(base), code_lines(head)
    print(f"lines: +{added} -{removed} = {added - removed:+d}")
    print(f"code:  {before} -> {after} = {after - before:+d}"
          " (non-blank non-comment)")


if __name__ == "__main__":
    main(sys.argv)
