#!/usr/bin/env python3
"""Masked per-query diff of two `graft.Explain` logs.

Usage: tools/plan_diff.py BEFORE.log AFTER.log [query ...]

Each log is the output of `sbt "runMain graft.Explain <sfDir> <queries>"`.
The logs are split on their `========== q ==========` headers. Every
`time=` line, Spark log line and sbt line is dropped. Expression ids
(`#123`, `#123L`), plan ids (`plan_id=123`), exchange ids (`exchange
id=123`, `Reuses operator id: 123`), lambda variable numbers (`x_12`),
object hashes (`Table@1a2b3c4d`) and the random suffixes of the
session-temp index directories are masked to `N`, so two runs of the same
plan compare equal. For each query (both logs' queries in first-seen
order, or the named ones) it prints `== q: identical`, or `== q: N
changed lines` with the operators (`(n) Name` lines) whose count
changed, followed by the unified diff hunks without context (`-` lines
from BEFORE, `+` from AFTER), or `== q: missing in BEFORE/AFTER`.
"""
import difflib
import re
import sys
from collections import Counter

HEADER = re.compile(r"^========== (\S+) ==========$")
NODE = re.compile(r"^\(\d+\) (\w+)")
# Spark's log4j lines and sbt's own lines interleave with the plans
NOISE = re.compile(r"^(\d\d/\d\d/\d\d \d\d:\d\d:\d\d |\[(info|warn|error|success)\] )")
MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"exchange id=\d+"), "exchange id=N"),
    (re.compile(r"Reuses operator id: \d+"), "Reuses operator id: N"),
    # lambda variables carry a JVM-wide counter, objects their identity
    (re.compile(r"(lambda [a-z]+)_\d+"), r"\1_N"),
    (re.compile(r"(\w)@[0-9a-f]{4,8}\b"), r"\1@N"),
    # the session-temp index dirs (Files.createTempDirectory suffixes)
    (re.compile(r"(/graft-[a-z]+-index)\d+"), r"\1N"),
]


def plans(path):
    """Query name -> masked plan lines, in the order the log prints them."""
    out, cur = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                cur = m.group(1)
                out[cur] = []
                continue
            if cur is None or line.startswith("time=") or NOISE.match(line):
                continue
            for pat, rep in MASKS:
                line = pat.sub(rep, line)
            out[cur].append(line)
    # trailing blank lines belong to no plan
    for lines in out.values():
        while lines and not lines[-1].strip():
            lines.pop()
    return out


def kinds(lines):
    """Operator name -> count, from the formatted plan's `(n) Name` lines."""
    return Counter(m.group(1) for m in map(NODE.match, lines) if m)


def diff(a, b):
    """Unified hunks without context and without the ---/+++ header."""
    return [l for l in difflib.unified_diff(a, b, n=0, lineterm="")
            if not l.startswith(("---", "+++"))]


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__)
    before, after = plans(argv[1]), plans(argv[2])
    names = argv[3:] or list(dict.fromkeys(list(before) + list(after)))
    for q in names:
        if q not in before or q not in after:
            print(f"== {q}: missing in {'BEFORE' if q not in before else 'AFTER'}")
            continue
        hunks = diff(before[q], after[q])
        if not hunks:
            print(f"== {q}: identical")
            continue
        changed = sum(1 for l in hunks if l[:1] in "-+")
        kb, ka = kinds(before[q]), kinds(after[q])
        moved = ", ".join(f"{k} ({kb[k]}, {ka[k]})"
                          for k in sorted(set(kb) | set(ka)) if kb[k] != ka[k])
        print(f"== {q}: {changed} changed lines; "
              f"operators whose count changed (before, after): {moved or 'none'}")
        for l in hunks:
            print(l)


if __name__ == "__main__":
    main(sys.argv)
