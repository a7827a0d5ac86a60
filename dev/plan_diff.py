#!/usr/bin/env python3
"""Compare two `graft.tools.ExplainAudit` dumps gate by gate.

    python3 dev/plan_diff.py parent_explain.txt change_explain.txt

Each dump is the captured stdout (sbt or Spark log lines mixed in are
fine) of `runMain graft.tools.ExplainAudit <sf dir> [gates]`: one
`===== <gate> =====` header per gate, followed by its formatted physical
plan. Before comparing, every plan is normalized so that only plan shape
remains:

  - Spark, sbt and log4j log lines, and the stack traces they carry,
    are dropped;
  - expression ids `#123` become `#N`;
  - `plan_id=123` becomes `plan_id=N`;
  - JVM lambda class names `Packing$$$Lambda$6415/0x7fd8...@14b3d113`
    become `Packing$$$Lambda` (they differ from run to run);
  - RDD ids `MapPartitionsRDD[300]` become `MapPartitionsRDD[N]` (a
    context-wide counter: the jobs that eager checkpoints run while
    earlier gates are built create a varying number of RDDs, so two
    runs of the same tree differ here);
  - source line numbers in RDD call-site names (`at Graph.scala:446`)
    become `:N`.

Prints one line per gate whose normalized plan differs (and gates
present on one side only), then a summary. Exit status is 0 when every
gate's plan is identical, 1 otherwise, 2 on a usage error. `--show N`
prints a unified diff of the first N differing gates.
"""
import argparse
import difflib
import re
import sys

HEADER = re.compile(r"^===== (\S+) =====$")
LOG_LINE = re.compile(
    r"^(\d\d/\d\d/\d\d \d\d:\d\d:\d\d |\[(info|warn|error|success|debug)\] |"
    r"Using Spark's default log4j profile|"
    # the stack trace a log line may carry
    r"\t(at |\.\.\. \d+ more)|(Caused by: )?[\w.$]+(Exception|Error)\b)")
SUBS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\$Lambda(\$\d+)?/0x[0-9a-f]+(@[0-9a-f]+)?"), "$Lambda"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(\bat [A-Za-z0-9_$]+\.(?:scala|java)):\d+"), r"\1:N"),
]


def normalize(line):
    for pat, rep in SUBS:
        line = pat.sub(rep, line)
    return line.rstrip()


def read_plans(path):
    """gate name -> list of normalized plan lines, in file order."""
    plans = {}
    cur = None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                cur = m.group(1)
                if cur in plans:
                    sys.exit(f"plan_diff: gate {cur} appears twice in {path}")
                plans[cur] = []
            elif cur is not None and not LOG_LINE.match(line):
                plans[cur].append(normalize(line))
    # blank lines separate plan sections; trailing ones carry no shape
    for lines in plans.values():
        while lines and not lines[-1]:
            lines.pop()
    return plans


def main():
    ap = argparse.ArgumentParser(
        description="Report gates whose normalized ExplainAudit plans differ.")
    ap.add_argument("parent", help="ExplainAudit output of the parent tree")
    ap.add_argument("change", help="ExplainAudit output of the changed tree")
    ap.add_argument("--show", type=int, default=0, metavar="N",
                    help="print a unified diff for the first N differing gates")
    args = ap.parse_args()
    a, b = read_plans(args.parent), read_plans(args.change)
    if not a or not b:
        print("plan_diff: no '===== <gate> =====' header in "
              f"{args.parent if not a else args.change}", file=sys.stderr)
        sys.exit(2)
    only_a = sorted(set(a) - set(b))
    only_b = sorted(set(b) - set(a))
    changed = sorted(g for g in set(a) & set(b) if a[g] != b[g])
    for g in only_a:
        print(f"only in parent: {g}")
    for g in only_b:
        print(f"only in change: {g}")
    for g in changed:
        print(f"plan differs: {g}")
    for g in changed[:args.show]:
        sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
            a[g], b[g], f"parent/{g}", f"change/{g}", lineterm=""))
    common = len(set(a) & set(b))
    print(f"== {len(changed)} of {common} common gate plans differ; "
          f"{len(only_a)} only in parent, {len(only_b)} only in change ==")
    sys.exit(1 if changed or only_a or only_b else 0)


if __name__ == "__main__":
    main()
