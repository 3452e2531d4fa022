#!/usr/bin/env python3
"""Parse the last line of captured output that starts with `{` as JSON.

Usage: sbt -batch "runMain graft.Bench" | tools/last_json.py
       tools/last_json.py <captured-output-file>

Prints the parsed object's keys and any non-JSON lines that follow it
(for example sbt's trailing `[success] Total time` line) on stderr, and
the object itself on stdout. Exits 1 when no line starting with `{`
parses as a JSON object.
"""
import json
import sys


def last_json(lines):
    """(object, lines after it) for the last line starting with `{`, or
    (None, []) when there is none or it does not parse as an object."""
    for i in range(len(lines) - 1, -1, -1):
        if lines[i].startswith("{"):
            try:
                obj = json.loads(lines[i])
            except ValueError:
                return None, []
            if not isinstance(obj, dict):
                return None, []
            return obj, [ln for ln in lines[i + 1:] if ln.strip()]
    return None, []


def main():
    src = open(sys.argv[1]) if len(sys.argv) > 1 else sys.stdin
    with src:
        lines = src.read().splitlines()
    obj, trailing = last_json(lines)
    if obj is None:
        sys.stderr.write("last_json: no parsable line starting with '{'\n")
        return 1
    sys.stderr.write(f"last_json: keys {sorted(obj)}\n")
    for ln in trailing:
        sys.stderr.write(f"last_json: trailing line: {ln}\n")
    print(json.dumps(obj))
    return 0


if __name__ == "__main__":
    sys.exit(main())
