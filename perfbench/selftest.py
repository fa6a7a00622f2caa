#!/usr/bin/env python3
"""Self-test of the benchmark's output checks: a correct small case must
pass, and each deliberately broken copy must be reported incorrect.

    python3 perfbench/selftest.py     # exit 0 when every break is caught

`run.py` runs it on every run too; a checker that misses a break makes the
run's verdict incorrect.
"""
import copy
import sys

import check


def stream_case():
    expected = {1: ("click", 1.25), 2: ("view", 3.5), 3: ("click", 0.75)}
    bad = ['{"event_id":9,"ts":"2024-']
    lake = [{"event_id": k, "event_type": t, "value": v, "ts_null": False}
            for k, (t, v) in expected.items()]
    dead = [{"body": bad[0], "reason": "malformed_json"}]
    ledger = [{"key": k, "status": "delivered", "batch_id": 0} for k in expected]
    receipts = list(expected)
    return expected, bad, lake, dead, ledger, receipts


def query_case():
    import duckdb
    con = duckdb.connect()
    con.sql("create table t as select range as k, range % 3 as g, range * 0.5 as v "
            "from range(30)")
    oracle = {"q_sum": "select g, sum(v) as s, count(*) as n from t group by g order by g"}
    con.sql("create table ok_q_sum as " + oracle["q_sum"])
    con.sql("create table bad_q_sum as select g, case when g = 1 then s + 1 else s end "
            "as s, n from ok_q_sum")
    return con, oracle


def run():
    """Problems with the checker itself; empty when it behaves."""
    problems = []
    base = stream_case()
    if check.check_stream(*base):
        problems.append("checker rejects a correct webhook output: "
                        f"{check.check_stream(*base)}")

    def broken(name, mutate):
        case = copy.deepcopy(base)
        mutate(case)
        if not check.check_stream(*case):
            problems.append(f"checker accepts {name}")

    broken("a lake with one acked key dropped", lambda c: c[2].pop(0))
    broken("a lake with one key written twice", lambda c: c[2].append(dict(c[2][0])))
    broken("a perturbed value sum", lambda c: c[2][1].update(value=3.51))
    broken("a missing outbound delivery", lambda c: c[5].pop())
    broken("a missing ledger row", lambda c: c[4].pop())
    broken("a dropped dead letter", lambda c: c[3].pop())
    broken("an unacked key in the lake",
           lambda c: c[2].append({"event_id": 7, "event_type": "click", "value": 0.0,
                                  "ts_null": False}))

    con, oracle = query_case()
    if check.check_queries(con, oracle, lambda q: f"select * from ok_{q}"):
        problems.append("checker rejects a query result equal to its oracle")
    if not check.check_queries(con, oracle, lambda q: f"select * from bad_{q}"):
        problems.append("checker accepts a query value changed against its oracle")
    return problems


if __name__ == "__main__":
    found = run()
    for p in found:
        print(f"selftest: {p}")
    print("selftest: ok" if not found else f"selftest: {len(found)} problems")
    sys.exit(1 if found else 0)
