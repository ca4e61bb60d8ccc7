#!/usr/bin/env python3
"""Count copied lines in the main sources.

Every Scala file under <root>/src/main is normalized: block comments and
`//` comment lines are dropped, whitespace is collapsed and blank lines
are skipped. Walking the files in path order, a line counts as copied
when it lies in a run of 6 consecutive normalized lines that already
appeared earlier (in the same file or another). Lines that start with
`|` are stripMargin text, i.e. oracle SQL; the rest count as Scala.

Usage: python3 scripts/duplines.py [root]   (default: the current dir)
"""
import os
import re
import sys

RUN = 6


def normalized(path):
    text = open(path, encoding="utf-8").read()
    text = re.sub(r"(?s)/\*.*?\*/", lambda m: "\n" * m.group(0).count("\n"), text)
    lines = (re.sub(r"\s+", " ", ln.strip()) for ln in text.split("\n"))
    return [ln for ln in lines if ln and not ln.startswith("//")]


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    paths = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(os.path.join(root, "src", "main"))
        for f in fs if f.endswith(".scala"))
    seen, total, sql = set(), 0, 0
    for path in paths:
        lines = normalized(path)
        copied = [False] * len(lines)
        for i in range(len(lines) - RUN + 1):
            run = tuple(lines[i:i + RUN])
            if run in seen:
                copied[i:i + RUN] = [True] * RUN
            seen.add(run)
        for line, c in zip(lines, copied):
            if c:
                total += 1
                sql += line.startswith("|")
    print(f"copied lines: {total} (scala {total - sql}, sql {sql})")


if __name__ == "__main__":
    main()
