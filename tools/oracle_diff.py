#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps (written by graft.Verify) query by query.

For each query name in either file it prints one of:
  identical         the two SQL strings are byte-for-byte equal
  whitespace-only   equal token for token: only whitespace between tokens
                    differs (whitespace inside a quoted literal counts)
  token diff        the SQL tokens differ; the changed tokens follow
  only in A / B     the query exists in one dump only

Exit status: 0 when no query has a token change (and both dumps name the
same queries), 1 otherwise.

Usage: python3 tools/oracle_diff.py A/oracle_sql.json B/oracle_sql.json

A dump without running any query: `graft.Verify <sfDir> <outDir> __none__`
(the filter names no query, so only oracle_sql.json is written).
"""
import difflib
import json
import re
import sys

TOKEN = re.compile(r"\s+|(\w+|'(?:[^']|'')*'|\"[^\"]*\"|[^\w\s])")


def tokens(sql):
    return [t for t in TOKEN.findall(sql) if t]


def token_diff(a, b):
    ta, tb = tokens(a), tokens(b)
    out = []
    sm = difflib.SequenceMatcher(a=ta, b=tb, autojunk=False)
    for op, i1, i2, j1, j2 in sm.get_opcodes():
        if op == "equal":
            continue
        ctx = " ".join(ta[max(0, i1 - 4):i1])
        out.append(f"    {op} after '{ctx}': "
                   f"A[{' '.join(ta[i1:i2])}] -> B[{' '.join(tb[j1:j2])}]")
    return out


def main(path_a, path_b):
    a = json.load(open(path_a))
    b = json.load(open(path_b))
    bad = 0
    counts = {}
    for name in sorted(set(a) | set(b)):
        if name not in b:
            status, detail = "only in A", []
        elif name not in a:
            status, detail = "only in B", []
        elif a[name] == b[name]:
            status, detail = "identical", []
        elif tokens(a[name]) == tokens(b[name]):
            status, detail = "whitespace-only", []
        else:
            status, detail = "token diff", token_diff(a[name], b[name])
        counts[status] = counts.get(status, 0) + 1
        if status not in ("identical", "whitespace-only"):
            bad += 1
        print(f"{name}: {status}")
        for line in detail:
            print(line)
    print("summary: " + ", ".join(f"{k} {v}" for k, v in sorted(counts.items())))
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
