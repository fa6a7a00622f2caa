"""Output checks of the benchmark, computed apart from the program.

Each check returns a list of problems; an empty list means correct.
`selftest.py` feeds each check deliberately broken outputs.
"""
from collections import Counter


def cents(v):
    return int(round(float(v) * 100))


def check_stream(expected, bad_bodies, lake, dead, ledger=None, receipts=None):
    """Webhook workloads.

    expected   {event_id: (event_type, value)} for every acked well-formed key
    bad_bodies malformed bodies that were acked, one per send
    lake       rows of LakeSink.read: dicts with event_id, event_type, value,
               ts_null
    dead       rows of the dead-letter lake: dicts with body, reason
    ledger     rows of the delivery ledger (key, status), when delivering
    receipts   event ids the downstream receiver got, when delivering
    """
    problems = []
    seen = Counter(int(r["event_id"]) for r in lake)
    twice = [k for k, n in seen.items() if n > 1]
    missing = [k for k in expected if k not in seen]
    extra = [k for k in seen if k not in expected]
    if twice:
        problems.append(f"{len(twice)} keys written to the lake more than once, e.g. {twice[:3]}")
    if missing:
        problems.append(f"{len(missing)} acked keys missing from the lake, e.g. {missing[:3]}")
    if extra:
        problems.append(f"{len(extra)} unacked or unknown keys in the lake, e.g. {extra[:3]}")
    if any(r.get("ts_null") for r in lake):
        problems.append("lake rows with an unparsed ts")

    def totals(rows):
        t = {}
        for et, v in rows:
            n, c = t.get(et, (0, 0))
            t[et] = (n + 1, c + cents(v))
        return t

    want = totals(expected.values())
    got = totals((r["event_type"], r["value"]) for r in lake)
    if want != got:
        problems.append(f"per-event_type counts or value sums differ: lake {got} vs sent {want}")

    if Counter(r["body"] for r in dead) != Counter(bad_bodies):
        problems.append(f"dead letters differ from the malformed bodies sent: "
                        f"{len(dead)} rows vs {len(bad_bodies)} sent")
    if any(r.get("reason") != "malformed_json" for r in dead):
        problems.append("dead letters with a reason other than malformed_json")

    if ledger is not None:
        delivered = Counter(int(r["key"]) for r in ledger if r["status"] == "delivered")
        if set(delivered) != set(expected) or any(n > 1 for n in delivered.values()):
            problems.append(f"ledger holds {sum(delivered.values())} delivered rows "
                            f"for {len(expected)} good events")
        if any(r["status"] != "delivered" for r in ledger):
            problems.append("ledger holds dead-lettered deliveries")
    if receipts is not None:
        got_ids = set(int(k) for k in receipts)
        if got_ids != set(expected):
            problems.append(f"receiver got {len(got_ids & set(expected))} of "
                            f"{len(expected)} good events and {len(got_ids - set(expected))} others")
    return problems


def check_queries(con, oracle, result_of):
    """Lake workload: each query result equals its DuckDB oracle statement.

    con        duckdb connection with the tables registered as views
    oracle     {query: sql}
    result_of  function query -> SQL text selecting the program's result
    """
    problems = []
    for name, sql in sorted(oracle.items()):
        try:
            ours = con.sql(result_of(name)).arrow()
            theirs = con.sql(sql).arrow()
        except Exception as e:  # a missing or unreadable result is a wrong one
            problems.append(f"{name}: {e}")
            continue
        cols = sorted(ours.column_names)
        if cols != sorted(theirs.column_names):
            problems.append(f"{name}: columns {cols} vs {sorted(theirs.column_names)}")
            continue
        if ours.num_rows != theirs.num_rows:
            problems.append(f"{name}: {ours.num_rows} rows vs {theirs.num_rows}")
            continue
        con.register("ours_t", ours.select(cols))
        con.register("orac_t", theirs.select(cols))
        d1 = con.sql("select count(*) from (select * from ours_t except all "
                     "select * from orac_t)").fetchone()[0]
        d2 = con.sql("select count(*) from (select * from orac_t except all "
                     "select * from ours_t)").fetchone()[0]
        con.unregister("ours_t")
        con.unregister("orac_t")
        if d1 or d2:
            problems.append(f"{name}: {d1} rows only in the result, {d2} only in the oracle")
    return problems
