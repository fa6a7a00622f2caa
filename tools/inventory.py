#!/usr/bin/env python3
"""Generate the operator-inventory counts from the code, so docs can't
drift from the surface the driver actually grades.

Counts, from source (no build needed):
  - queries / oracle-backed / rows-only: the keys of SparkEntry.queries
    and SparkEntry.oracleSql
  - streaming behaviors: the `s_*` operators documented in StreamOps
  - test cases: `test(` declarations across src/test

Usage:
  tools/inventory.py          # print the counts + the canonical line
  tools/inventory.py --check  # exit 1 if SURVEY.md's inventory line or
                              # README.md disagrees with the code

Driver-side tooling only (python3 stdlib); not part of the library.
"""
import glob
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def counts():
    src = open(os.path.join(
        ROOT, "src/main/scala/graft/SparkEntry.scala")).read()
    qi, oi = src.index("def queries"), src.index("def oracleSql")
    queries = set(re.findall(r'"(q_\w+)"\s*->', src[qi:oi]))
    oracle = set(re.findall(r'"(q_\w+)"\s*->', src[oi:]))
    stray = oracle - queries
    assert not stray, "oracleSql names unknown queries: %s" % sorted(stray)
    tests = 0
    for f in glob.glob(os.path.join(ROOT, "src/test/scala/**/*.scala"),
                       recursive=True):
        tests += len(re.findall(r"^\s*test\(", open(f).read(), re.M))
    return {
        "queries": len(queries),
        "oracle": len(oracle),
        "rows_only": sorted(queries - oracle),
        "tests": tests,
    }


def line(c):
    return ("%d queries — %d oracle-checked + %d declared rows-only"
            % (c["queries"], c["oracle"], len(c["rows_only"])))


def main():
    c = counts()
    print("queries:      %d" % c["queries"])
    print("oracle:       %d" % c["oracle"])
    print("rows-only:    %d  (%s)" % (len(c["rows_only"]),
                                      ", ".join(c["rows_only"])))
    print("test cases:   %d (static test( count)" % c["tests"])
    print("inventory:    " + line(c))
    if "--check" in sys.argv:
        survey = open(os.path.join(ROOT, "SURVEY.md")).read()
        ok = line(c) in survey
        print("SURVEY.md %s the generated inventory line"
              % ("carries" if ok else "DISAGREES with"))
        # behaviors: the SURVEY 2.9 table rows ARE the declared list;
        # the free-text "N streaming behaviors" figure must equal the
        # row count (the realistic drift is forgetting the number when
        # a row is added - r14 hardening)
        rows = len(re.findall(r"^\| s_\w+", survey, re.M))
        m = re.search(r"(\d+) streaming behaviors", survey)
        declared = int(m.group(1)) if m else -1
        bok = declared == rows
        print("behaviors:    %d table rows vs %d declared%s"
              % (rows, declared, "" if bok else "  MISMATCH"))
        ok = bok and ok
        # README's surface line states the same two counts in prose
        readme = open(os.path.join(ROOT, "README.md")).read()
        m = re.search(r"\((\d+) queries in `graft\.SparkEntry\.queries`;"
                      r"\s+(\d+) carry", readme)
        rok = bool(m) and (int(m.group(1)), int(m.group(2))) == (
            c["queries"], c["oracle"])
        print("README.md    %s"
              % ("%s/%s queries/oracle" % m.groups() if m
                 else "carries no query count line")
              + ("" if rok else "  MISMATCH"))
        ok = rok and ok
        ok = check_bench(c) and ok
        return 0 if ok else 1
    return 0


def check_bench(c):
    """Sweep the newest committed lossless bench record against the query
    inventory: a query timed at -1.0 is a silent per-query failure (the r9
    record carried seven of them for a full round); queries missing from
    the record are reported but don't fail the check — a query added after
    the record was taken is expected to be absent until the next bench run.
    """
    import json
    # sort by the ROUND NUMBER, not lexicographically: "r100" < "r11" as
    # strings, and an unpadded r9 would sort after both
    recs = sorted(
        (p for p in glob.glob(os.path.join(ROOT, "BENCH_FULL_r*.json"))
         if re.search(r"r(\d+)\.json$", p)),  # skip _local4/_driver copies
        key=lambda p: int(re.search(r"r(\d+)\.json$", p).group(1)))
    if not recs:
        print("bench record: none committed (BENCH_FULL_r*.json)")
        return True
    newest = recs[-1]
    rec = json.load(open(newest))
    timings = rec.get("queries", {})
    # env assertion (round 12, after the r11 local[4] incident): the
    # OFFICIAL record must carry the contract config. A record measured at
    # any other master is evidence of the exact confound VERDICT r11
    # documents and must never sit at the BENCH_FULL_r<latest> name.
    env = rec.get("env", {})
    if env.get("master") != "local[32]":
        print("bench record: %s env.master is %r, contract is local[32] - "
              "WRONG-CONFIG record installed as official"
              % (os.path.basename(newest), env.get("master")))
        return False
    src = open(os.path.join(
        ROOT, "src/main/scala/graft/SparkEntry.scala")).read()
    qi, oi = src.index("def queries"), src.index("def oracleSql")
    queries = set(re.findall(r'"(q_\w+)"\s*->', src[qi:oi]))
    failed = sorted(k for k, v in timings.items() if v < 0)
    missing = sorted(queries - set(timings))
    name = os.path.basename(newest)
    if failed:
        print("bench record: %s carries FAILED timings (-1.0): %s"
              % (name, ", ".join(failed)))
        return False
    print("bench record: %s covers %d/%d queries, no failed timings%s"
          % (name, len(queries) - len(missing), len(queries),
             "; not yet benched: " + ", ".join(missing) if missing else ""))
    return True


if __name__ == "__main__":
    sys.exit(main())
