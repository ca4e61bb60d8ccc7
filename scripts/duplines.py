#!/usr/bin/env python3
"""Count copied lines in the main sources.

Every Scala file under <root>/src/main is normalized: block comments and
`//` comment lines are dropped, whitespace is collapsed and blank lines
are skipped. Walking the files in path order, a line counts as copied
when it lies in a run of 6 consecutive normalized lines that already
appeared earlier (in the same file or another). Lines that start with
`|` are stripMargin text, i.e. oracle SQL; the rest count as Scala.

With --top N, also list the N longest copied runs, longest first: the
copy's file:line, the file:line where its first 6 lines first appeared,
and the run's length in normalized lines.

Usage: python3 scripts/duplines.py [--top N] [root]   (default root: the current dir)
"""
import argparse
import os
import re

RUN = 6


def normalized(path):
    """(line number, normalized text) of every line that counts."""
    text = open(path, encoding="utf-8").read()
    text = re.sub(r"(?s)/\*.*?\*/", lambda m: "\n" * m.group(0).count("\n"), text)
    lines = ((n, re.sub(r"\s+", " ", ln.strip())) for n, ln in enumerate(text.split("\n"), 1))
    return [(n, ln) for n, ln in lines if ln and not ln.startswith("//")]


def main():
    ap = argparse.ArgumentParser(description="Count copied lines in src/main.")
    ap.add_argument("--top", type=int, default=0, metavar="N",
                    help="also list the N longest copied runs")
    ap.add_argument("root", nargs="?", default=".")
    a = ap.parse_args()
    paths = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(os.path.join(a.root, "src", "main"))
        for f in fs if f.endswith(".scala"))
    seen, total, sql, runs = {}, 0, 0, []
    for path in paths:
        numbered = normalized(path)
        lines = [ln for _, ln in numbered]
        rel = os.path.relpath(path, a.root)
        copied = [False] * len(lines)
        first = [None] * len(lines)  # where the run starting here was first seen
        for i in range(len(lines) - RUN + 1):
            run = tuple(lines[i:i + RUN])
            if run in seen:
                copied[i:i + RUN] = [True] * RUN
                first[i] = seen[run]
            else:
                seen[run] = f"{rel}:{numbered[i][0]}"
        for line, c in zip(lines, copied):
            if c:
                total += 1
                sql += line.startswith("|")
        # maximal stretches of copied lines, each credited to the first
        # occurrence of its opening 6-line window
        i = 0
        while i < len(lines):
            if first[i] is None:
                i += 1
                continue
            j = i
            while j < len(lines) and copied[j]:
                j += 1
            runs.append((j - i, f"{rel}:{numbered[i][0]}", first[i]))
            i = j
    print(f"copied lines: {total} (scala {total - sql}, sql {sql})")
    for length, at, orig in sorted(runs, key=lambda r: (-r[0], r[1]))[:a.top]:
        print(f"{length:5d}  {at}  first at {orig}")


if __name__ == "__main__":
    main()
