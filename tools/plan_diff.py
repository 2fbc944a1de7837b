#!/usr/bin/env python3
"""Compare two graft.PlanDump output dirs plan file by plan file.

Each `<query>_<tag>.txt` (and `_final.txt`) plan is normalized first, so
two dumps of the same plans from different runs or commits compare equal:
  #123 / #123L               expression ids        -> #N
  [plan_id=45]               exchange plan ids     -> [plan_id=N]
  MapPartitionsRDD[367]      RDD ids               -> RDD[N]
  QueryDef.scala:203         checkpoint call site  -> QueryDef.scala:N
  /tmp/graft-stream6211...   temp-dir suffixes     -> /tmp/graft-streamN
then three counters are renumbered by first appearance, because AQE hands
them out in the order query stages complete, which differs run to run:
  operator ids               `Sort (12)`, `(12) Sort`, `Reuses operator id: 12`
  query stage ids            the `Arguments: N` of a `...QueryStage` node
  codegen ids                `[codegen id : 7]`
and the per-operator detail blocks are put back in operator-id order.
Files are matched by name with the tag (the part after the last `_`)
stripped, so dumps taken under different tags compare. For each plan it
prints `identical`, the differing lines (a unified diff of the normalized
text), or `only in A / B`.

Exit status: 0 when every plan reads identical and both dirs hold the same
plans, 1 otherwise.

Usage: python3 tools/plan_diff.py [--initial] A_dir B_dir
  --initial   compare only the initial (pre-execution) plans, not *_final.txt

A dump: `runMain graft.PlanDump <sfDir> <outDir> <tag> [queryName...]`.
"""
import difflib
import itertools
import os
import re
import sys

NORMALIZE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"QueryDef\.scala:\d+"), "QueryDef.scala:N"),
    (re.compile(r"(/tmp/[^\s/\]]*?)\d+"), r"\1N"),
]


# an operator id: at the end of a tree line (or before its `, Statistics`),
# heading a detail block, or named by a reuse or a subquery host
OP_ID = re.compile(r"(?<= \()(\d+)(?=\)(?:,|$))|^\((\d+)(?=\) )"
                   r"|(?<=Reuses operator id: )(\d+)|(?<=Hosting operator id = )(\d+)",
                   re.M)
DETAIL = re.compile(r"^\((\d+)\) ")
STAGE_ARG = re.compile(r"^(\(\d+\) \w*QueryStage\n(?:.*\n)*?Arguments: )(\d+)$", re.M)
CODEGEN = re.compile(r"(?<=\[codegen id : )(\d+)(?=\])")


def first_seen(pat, text):
    """Replace the number each match of `pat` captures (its last matched
    group) by the rank of that number's first appearance."""
    ids = {}

    def sub(m):
        g = m.lastindex
        s, e = m.start(g) - m.start(), m.end(g) - m.start()
        return m.group()[:s] + str(ids.setdefault(m.group(g), len(ids) + 1)) + m.group()[e:]
    return pat.sub(sub, text)


def renumber(text):
    text = first_seen(OP_ID, text)
    # detail blocks (one per operator, separated by blank lines) back in id order
    out = []
    for detail, run in itertools.groupby(text.split("\n\n"), lambda b: bool(DETAIL.match(b))):
        out += sorted(run, key=lambda b: int(DETAIL.match(b).group(1))) if detail else run
    return first_seen(CODEGEN, first_seen(STAGE_ARG, "\n\n".join(out)))


def normalize(text):
    for pat, rep in NORMALIZE:
        text = pat.sub(rep, text)
    return renumber(text).splitlines()


def plans(d, initial):
    """Plan files of dir `d` keyed by query name plus `_final` when it is
    an after-execution plan (the PlanDump tag dropped)."""
    out = {}
    for f in sorted(os.listdir(d)):
        if not f.endswith(".txt"):
            continue
        stem = f[:-4]
        final = stem.endswith("_final")
        if final and initial:
            continue
        base = stem[:-len("_final")] if final else stem
        key = base.rsplit("_", 1)[0] + ("_final" if final else "")
        out[key] = os.path.join(d, f)
    return out


def main(argv):
    initial = "--initial" in argv
    args = [a for a in argv if a != "--initial"]
    if len(args) != 2:
        sys.exit(__doc__)
    a, b = plans(args[0], initial), plans(args[1], initial)
    bad = 0
    for name in sorted(set(a) | set(b)):
        if name not in b:
            print(f"{name}: only in A")
            bad += 1
            continue
        if name not in a:
            print(f"{name}: only in B")
            bad += 1
            continue
        la = normalize(open(a[name]).read())
        lb = normalize(open(b[name]).read())
        if la == lb:
            print(f"{name}: identical")
            continue
        bad += 1
        print(f"{name}: differs")
        for line in difflib.unified_diff(la, lb, "A", "B", n=0, lineterm=""):
            if not line.startswith(("---", "+++")):
                print("    " + line)
    print(f"summary: {len(set(a) | set(b)) - bad} identical, {bad} differ")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
