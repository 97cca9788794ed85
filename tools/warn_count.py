#!/usr/bin/env python3
"""Count a log's WARN lines by logger and message class.

    python3 tools/warn_count.py <log> [<log> ...]

A WARN line is one log4j line whose level is WARN (`... WARN Logger: msg`),
with or without sbt's `[info]`/`[error]` prefix. Its message class is the
message's first sentence with the parts that vary between lines (ids,
paths, numbers) replaced, so "Failed to cancel job group 23dd...: Cannot
find active jobs" lines all fall in one class. Prints a markdown table,
one row per (logger, class) and one count column per log, sorted by the
counts, with a total row. Given two logs (say a parent's and a change's
test run) the columns compare them class by class.
"""
import re
import sys
from collections import Counter

WARN = re.compile(r"\bWARN\s+([\w.$]+):\s?(.*)$")
VARYING = [
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "…"),
    (re.compile(r"(?<![\w.])(?:file:)?/[^\s,;'\")]+"), "<path>"),
    (re.compile(r"\b(?:rdd|broadcast|shuffle|taskresult)_[\w]+"), r"<block>"),
    (re.compile(r"\b[0-9a-f]*\d[0-9a-f]*\b"), "N"),
]
MAX_CLASS = 80


def message_class(msg):
    for pat, rep in VARYING:
        msg = pat.sub(rep, msg)
    msg = " ".join(msg.split())
    first = re.split(r"(?<=[.!?])\s", msg, maxsplit=1)[0]
    return first if len(first) <= MAX_CLASS else first[:MAX_CLASS - 1] + "…"


def count(path):
    counts = Counter()
    with open(path, errors="replace") as f:
        for line in f:
            m = WARN.search(line)
            if m:
                counts[(m.group(1).rsplit(".", 1)[-1], message_class(m.group(2)))] += 1
    return counts


def main(paths):
    if not paths:
        sys.exit(__doc__.strip())
    tables = [count(p) for p in paths]
    classes = sorted(set().union(*tables), key=lambda c: ([-t[c] for t in tables], c))
    heads = paths if len(paths) > 1 else ["lines"]
    print("| logger: message | " + " | ".join(heads) + " |")
    print("|---|" + "---|" * len(heads))
    for logger, msg in classes:
        cells = " | ".join(f"{t[(logger, msg)]:,}" for t in tables)
        print(f'| `{logger}`: "{msg}" | {cells} |')
    print("| **total** | " + " | ".join(f"{sum(t.values()):,}" for t in tables) + " |")


if __name__ == "__main__":
    main(sys.argv[1:])
