#!/usr/bin/env python3
"""Compare two directories of formatted Spark plans, one file per query.

    python3 tools/plan_diff.py OLD_DIR NEW_DIR

Each `<query>.txt` (as written by `Session.dumpPlan`) is normalized
before comparison, so that only plan changes count:
  - expression ids:            `rank#123`   -> `rank#N`
  - lambda variable suffixes:  `x_45`       -> `x_N` (also y_, z_)
  - exchange plan ids:         `plan_id=67` -> `plan_id=N`
  - JVM lambda identities:     `$$Lambda$4770/0x7f13@17aa` -> `$$Lambda`
  - RDD call-site lines:       `at localCheckpoint at X.scala:98` -> `X.scala:N`
  - RDD ids:                   `MapPartitionsRDD[3952]` -> `MapPartitionsRDD[N]`
    (one JVM numbers every query's RDDs in turn, so a plan change in
    one query shifts the ids of every later one)
  - temp and scratch paths:    `/tmp/abc/d` -> `<tmp>` (under /tmp
    or $TMPDIR)

Prints one line per differing query (`changed`, `only in OLD`, `only
in NEW`), each `changed` one followed by its normalized unified diff,
then a summary. Exits 1 when any query differs, 0 when all are
identical.
"""
import difflib
import os
import re
import sys

EXPR_ID = re.compile(r"#\d+")
LAMBDA_VAR = re.compile(r"\b([xyz])_\d+\b")
PLAN_ID = re.compile(r"plan_id=\d+")
JVM_LAMBDA = re.compile(r"\$\$Lambda\$[\w/$]+@[0-9a-f]+")
CALL_SITE = re.compile(r"(\w+\.(?:scala|java)):\d+")
RDD_ID = re.compile(r"(RDD)\[\d+\]")
TMP_ROOTS = sorted({p.rstrip("/") for p in ("/tmp", os.environ.get("TMPDIR") or "/tmp")},
                   key=len, reverse=True)
TMP_PATH = re.compile(r"(?:file:)?(?:%s)/[^\s,\]\)\}'\"]*" % "|".join(map(re.escape, TMP_ROOTS)))


def norm(text):
    text = TMP_PATH.sub("<tmp>", text)
    text = EXPR_ID.sub("#N", text)
    text = PLAN_ID.sub("plan_id=N", text)
    text = JVM_LAMBDA.sub("$$Lambda", text)
    text = CALL_SITE.sub(r"\1:N", text)
    text = RDD_ID.sub(r"\1[N]", text)
    return LAMBDA_VAR.sub(r"\1_N", text)


def plans(d):
    return {f[:-4]: os.path.join(d, f) for f in os.listdir(d) if f.endswith(".txt")}


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    old, new = plans(sys.argv[1]), plans(sys.argv[2])
    differing = []
    for q in sorted(set(old) | set(new)):
        if q not in new:
            differing.append(q)
            print(f"only in OLD: {q}")
            continue
        if q not in old:
            differing.append(q)
            print(f"only in NEW: {q}")
            continue
        with open(old[q]) as f:
            o = norm(f.read()).splitlines()
        with open(new[q]) as f:
            n = norm(f.read()).splitlines()
        if o != n:
            differing.append(q)
            print(f"changed: {q}")
            for line in difflib.unified_diff(o, n, f"OLD/{q}", f"NEW/{q}", lineterm="", n=0):
                print("    " + line)
    print(f"{len(set(old) | set(new))} queries, {len(differing)} differ")
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main())
