#!/usr/bin/env python3
"""Webhook-to-lake benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the program and the
benchmark (see build.py). Each run starts one engine JVM with the
program's own settings from build.sbt; `webhook_live` also starts a
generator JVM that sends the webhooks and receives the outbound
deliveries. After the timed part the outputs are checked against
computations made apart from the program (the generator's own records
and DuckDB). The last line of stdout is the result object; the line
before it carries the workload's detail figures. See README.md.
"""
import argparse
import bisect
import glob
import json
import math
import os
import queue
import random
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import build  # noqa: E402
import check  # noqa: E402
import selftest  # noqa: E402

SF = None  # input table directory, set in main() by input_dir()
# Engine width (local[N]) and live connections; GRAFT_BENCH_CPUS=1 gives
# the single-threaded baseline the README records.
CPUS = int(os.environ.get("GRAFT_BENCH_CPUS") or min(4, os.cpu_count() or 1))
DEADLINE_S = 165  # per run after the build; the driver allows 180

# Input make-up shared by both webhook workloads.
DUP_SHARE = 0.05   # posts that re-send an earlier X-Delivery-Key and body
BAD_SHARE = 0.02   # posts whose body is truncated JSON (unique keys)
# Backlog rounds before the live phase, posts queued in-process per round;
# round 0 warms the JVM up and is checked but not timed.
DRAIN_BURSTS = [2000, 5000, 5000, 5000]
MAX_ROWS_PER_BATCH = 5000  # maxRowsPerBatch of every webhook query
LIVE_RATE = 40.0       # live posts per second, open loop
LIVE_MIN_DUP_GAP = 20  # a live re-send comes at least this many slots later

# One query per operator family, each with a DuckDB oracle statement, and
# the tables they read (cached in set-up). A timed sweep is ROUNDS rounds
# over the list, and a query is called in every n-th round of a sweep: the
# connected-components query takes ten times as long as any other, so it
# runs once per sweep while the short ones give ROUNDS samples.
QUERIES = {
    "q_agg_pricing": 1,          # Relational
    "q_tumbling_1h": 1,          # Events
    "q_window_running": 1,       # Windows
    "q_quality_filter": 1,       # TextOps, Quality
    "q_dedup_simhash": 1,        # DedupOps
    "q_decontaminate_embed": 1,  # VectorOps, the cosine_sim function
    "q_semantic_clusters": 3,    # semantic connected components
}
ROUNDS = 3
TABLES = ["lineitem", "events", "documents", "embeddings"]

E2E = {"setup_s": "s", "cpu_s": "s", "latency_ms": "ms", "ops_per_s": "1/s"}

OPERATOR_STATS = {"s": "s", "jobs": "count", "stages": "count", "tasks": "count",
                  "task_s": "s", "shuffle_bytes": "bytes", "spill_bytes": "bytes",
                  "driver_floor_s": "s"}
PER_LAYER = {
    "sources.ack_p50_ms": "ms",
    "sources.ack_p99_ms": "ms",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "sources.empty_batches": "count",
    "sources.backlog_max": "count",
    "sources.rejected": "count",
    "sources.parse_dead_rows": "count",
    "streaming.batches": "count",
    "streaming.rows_per_batch_p50": "count",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.trigger_ms_p50": "ms",
    "streaming.state_rows": "count",
    "streaming.state_commit_ms": "ms",
    "sinks.lake_apply_ms_p50": "ms",
    "sinks.lake_latency_p50_ms": "ms",
    "sinks.lake_latency_p99_ms": "ms",
    "sinks.lake_files": "count",
    "sinks.lake_bytes": "bytes",
    "sinks.deliver_ms_p50": "ms",
    "sinks.delivery_p99_ms": "ms",
    "sinks.delivered": "count",
    "sinks.ledger_files": "count",
    "operators.query_set_s": "s",
    **{f"operators.{q}.{k}": u for q in QUERIES for k, u in OPERATOR_STATS.items()},
    "tables.cache_s": "s",
    "runtime.gc_s": "s",
    "runtime.jit_s": "s",
    "runtime.heap_peak_mb": "MB",
    "generator.late_ms_p99": "ms",
}


class BenchError(Exception):
    pass


def pct(xs, q):
    """Nearest-rank percentile (q in 0..1) of a non-empty sequence."""
    s = sorted(xs)
    if not s:
        raise BenchError("no samples")
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s) - 1e-9) - 1))]


# ------------------------------------------------------------------ inputs

def input_dir(root):
    """`SPARK_GRAFT_SF_DIR`, else the directory the program's own `Bench`
    main defaults to."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    bench = os.path.join(root, "src", "main", "scala", "graft", "Bench.scala")
    with open(bench) as f:
        m = re.search(r'getOrElse\("SPARK_GRAFT_SF_DIR",\s*"([^"]+)"\)', f.read())
    if not m:
        raise build.BuildError("cannot read the default input directory from Bench.scala")
    return m.group(1)


def load_events():
    import duckdb
    path = os.path.join(SF, "events.parquet")
    if not os.path.isfile(path):
        raise BenchError(f"missing input table {path}")
    con = duckdb.connect()
    try:
        return con.sql(
            f"select event_id, cast(ts as varchar), user_id, event_type, value, props "
            f"from '{path}' order by event_id").fetchall()
    finally:
        con.close()


def body_of(e):
    eid, ts, uid, et, v, props = e
    return ('{"event_id":%d,"ts":%s,"user_id":%s,"event_type":%s,"value":%s,'
            '"props":%s,"due_us":@DUE@}' % (eid, json.dumps(ts), json.dumps(uid),
                                            json.dumps(et), json.dumps(v), json.dumps(props)))


def make_slots(rng, events, n, tag, min_gap, first_slot=0):
    """n posts: new events in event_id order from `events`, seeded shares
    of re-sends and malformed bodies. Returns (slots, event_by_key, number
    of events used)."""
    slots, news, by_key = [], [], {}
    it = iter(events)
    used = 0
    for i in range(n):
        u = rng.random()
        k = bisect.bisect_right(news, i - min_gap)
        if u < BAD_SHARE:
            b = body_of(next(it))
            used += 1
            slots.append((first_slot + i, f"b{tag}-{i}", "bad", b[:len(b) // 2]))
        elif u < BAD_SHARE + DUP_SHARE and k > 0:
            j = news[rng.randrange(k)]
            slots.append((first_slot + i, slots[j][1], "dup", ""))
        else:
            e = next(it)
            used += 1
            key = f"e{e[0]}"
            by_key[key] = e
            news.append(i)
            slots.append((first_slot + i, key, "new", body_of(e)))
    return slots, by_key, used


def expected_of(slots, by_key, status):
    """From the posts and their statuses: acked good events and acked
    malformed bodies, and the slot whose due time an event counts from."""
    expected, first, bad = {}, {}, []
    for (i, key, kind, body), st in zip(slots, status):
        if st != 200:
            continue
        if kind == "bad":
            bad.append(body)
        else:
            e = by_key[key]
            expected[e[0]] = (e[3], e[4])
            first.setdefault(e[0], i)
    return expected, first, bad


# --------------------------------------------------------------- processes

class Proc:
    """A child process whose stdout lines are read on a thread."""

    def __init__(self, cmd, log, cwd):
        self.log = open(log, "w")
        self.p = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                  stderr=self.log, text=True, cwd=cwd)
        self.lines = queue.Queue()
        self.t = threading.Thread(target=self._pump, daemon=True)
        self.t.start()

    def _pump(self):
        for line in self.p.stdout:
            self.lines.put(line.rstrip("\n"))
        self.lines.put(None)

    def expect(self, tag, deadline):
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                raise BenchError(f"timed out waiting for {tag}")
            try:
                line = self.lines.get(timeout=left)
            except queue.Empty:
                raise BenchError(f"timed out waiting for {tag}")
            if line is None:
                raise BenchError(f"process exited (code {self.p.wait()}) before {tag}; "
                                 f"see {self.log.name}")
            if line.startswith(tag):
                return line[len(tag):].strip()

    def send(self, text):
        self.p.stdin.write(text + "\n")
        self.p.stdin.flush()

    def stop(self):
        if self.p.poll() is None:
            self.p.kill()
        self.p.wait()
        self.t.join(timeout=5)
        self.log.close()


def read_jsonl(path):
    """Rows of a JSON-lines dump ([] when the engine wrote none)."""
    if not path:
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def read_tsv(path):
    with open(path) as f:
        return [line.rstrip("\n").split("\t") for line in f if line.strip()]


# --------------------------------------------------------------- workloads

def run_webhook(a, rng, run_dir, engine_cmd, gen_cmd, deadline, procs):
    events = load_events()
    n_live = int(LIVE_RATE * a.seconds)
    pos = rng.randrange(len(events) - sum(DRAIN_BURSTS) - n_live)
    # each round is its own burst: a re-send stays in its original's burst,
    # because every round drains with a fresh query and dedup state
    drain_slots, by_key, lines = [], {}, []
    for r, size in enumerate(DRAIN_BURSTS):
        s, k, used = make_slots(rng, events[pos:], size, f"r{r}", 1, len(drain_slots))
        drain_slots += s
        lines += ["%d\t%d\t%s\t%s\t%s\n" % ((r,) + x) for x in s]
        by_key.update(k)
        pos += used
    live_slots, live_keys, _ = make_slots(rng, events[pos:], n_live, "live", LIVE_MIN_DUP_GAP)
    with open(os.path.join(run_dir, "drain.tsv"), "w") as f:
        f.writelines(lines)
    with open(os.path.join(run_dir, "live.tsv"), "w") as f:
        f.writelines("%d\t%s\t%s\t%s\n" % s for s in live_slots)

    gen = Proc(gen_cmd + ["--inputs", os.path.join(run_dir, "live.tsv"),
                          "--rate", str(LIVE_RATE), "--conns", str(CPUS), "--wait-s", "60",
                          "--out-posts", os.path.join(run_dir, "live_posts.tsv"),
                          "--out-receipts", os.path.join(run_dir, "receipts.tsv")],
               os.path.join(run_dir, "generator.log"), run_dir)
    procs.append(gen)
    port = gen.expect("@@RECEIVER", deadline)
    eng = Proc(engine_cmd + ["--inputs", os.path.join(run_dir, "drain.tsv"),
                             "--max-rows", str(MAX_ROWS_PER_BATCH),
                             "--endpoint", f"http://127.0.0.1:{port}/deliver"],
               os.path.join(run_dir, "engine.log"), run_dir)
    procs.append(eng)
    eng.expect("@@READY", deadline)
    live = json.loads(eng.expect("@@LIVE", deadline))
    gen.send(f"GO {live['port']}")
    gen.expect("@@DONE", deadline)
    eng.send("STOP")
    res = json.loads(eng.expect("@@RESULT", deadline))
    dump = res["dump"]
    lake = read_jsonl(dump["lake"])
    dead = read_jsonl(dump.get("dead", ""))
    ledger = read_jsonl(dump["ledger"])
    done_at = {(b["tag"], b["batch_id"]): b["done_us"] for b in res["batches"]}
    lake_ms = {}
    for r in read_jsonl(dump["lake_batches"]):
        lake_ms.setdefault(r["tag"] == "live", []).append(
            (done_at[(r["tag"], r["batch_id"])] - r["due_us"]) / 1e3)

    # drain phase: in-process posts
    dposts = read_tsv(res["posts"])
    dstatus = [int(p[1]) for p in dposts]
    expected, _, bad = expected_of(drain_slots, by_key, dstatus)
    problems = ["drain: " + p for p in check.check_stream(
        expected, bad, [r for r in lake if r["tag"] != "live"],
        [r for r in dead if r["tag"] != "live"])]
    timed = [d for d in res["drains"] if d["round"] > 0]  # round 0 warms up
    drain_rate = sum(d["events"] for d in timed) / sum(d["drain_s"] for d in timed)
    # gated: the fastest round, for the reason the lake figures take the
    # fastest call (see README.md, Steadiness record)
    best_rate = max(d["events"] / d["drain_s"] for d in timed)

    # live phase: HTTP posts, lake, ledger and receiver
    lposts = read_tsv(os.path.join(run_dir, "live_posts.tsv"))
    lstatus = [int(p[1]) for p in lposts]
    due = [int(p[2]) for p in lposts]
    lexpected, first, lbad = expected_of(live_slots, live_keys, lstatus)
    receipts = {}
    for r in read_tsv(os.path.join(run_dir, "receipts.tsv")):
        if r[0]:
            receipts[int(r[0])] = min(int(r[2]), receipts.get(int(r[0]), 1 << 62))
    problems += ["live: " + p for p in check.check_stream(
        lexpected, lbad, [r for r in lake if r["tag"] == "live"],
        [r for r in dead if r["tag"] == "live"], ledger, list(receipts))]
    ack = [(int(p[4]) - int(p[2])) / 1e3 for p in lposts if int(p[1]) == 200]
    delivery = [(receipts[e] - due[first[e]]) / 1e3 for e in lexpected if e in receipts]

    e2e = {"setup_s": res["setup_s"], "cpu_s": res["runtime"]["cpu_s"],
           "latency_ms": pct(delivery, .5), "ops_per_s": best_rate}
    layers = dict(res["layers"])
    layers.update({
        "sources.ack_p50_ms": pct(ack, .5),
        "sources.ack_p99_ms": pct(ack, .99),
        "sources.rejected": (dstatus + lstatus).count(503),
        "sources.parse_dead_rows": len(dead),
        "sinks.lake_latency_p50_ms": pct(lake_ms[True], .5),
        "sinks.lake_latency_p99_ms": pct(lake_ms[True], .99),
        "sinks.delivered": sum(1 for r in ledger if r["status"] == "delivered"),
        "sinks.delivery_p99_ms": pct(delivery, .99),
        "generator.late_ms_p99": pct([(int(p[3]) - int(p[2])) / 1e3 for p in lposts], .99),
    })
    detail = {
        "drain_bursts": DRAIN_BURSTS,
        "drain_s": [d["drain_s"] for d in res["drains"]],
        "drain_events_per_s": drain_rate, "drain_best_events_per_s": best_rate,
        "drain_post_p50_ms": pct([int(p[3]) / 1e6 for p in dposts], .5),
        "drain_lake_p50_ms": pct(lake_ms[False], .5),
        "live_posts": n_live, "live_acked": len(ack), "live_good_events": len(lexpected),
        "live_malformed_acked": len(lbad), "live_delivered": len(delivery),
        "ack_p50_ms": layers["sources.ack_p50_ms"], "ack_p99_ms": layers["sources.ack_p99_ms"],
        "lake_p50_ms": layers["sinks.lake_latency_p50_ms"],
        "lake_p99_ms": layers["sinks.lake_latency_p99_ms"],
        "delivery_p50_ms": e2e["latency_ms"], "delivery_p99_ms": pct(delivery, .99),
        "generator_late_p99_ms": layers["generator.late_ms_p99"]}
    attempted = len(dstatus) + len(lstatus)
    failed = sum(1 for st in dstatus + lstatus if st != 200)
    return res, e2e, layers, detail, problems, attempted, failed


def cached_oracle(con, oracle, build_dir):
    """The oracle statements' results do not depend on the seed: compute
    each once per statement and input table set, keep it as parquet in the
    build directory, and compare against that."""
    import hashlib
    out = {}
    for q, sql in oracle.items():
        h = hashlib.sha256(sql.encode())
        for f in sorted(glob.glob(os.path.join(SF, "*.parquet"))):
            st = os.stat(f)
            h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}".encode())
        path = os.path.join(build_dir, "oracle", f"{q}-{h.hexdigest()[:16]}.parquet")
        if not os.path.isfile(path):
            os.makedirs(os.path.dirname(path), exist_ok=True)
            con.sql(f"copy ({sql}) to '{path}.tmp' (format parquet)")
            os.replace(path + ".tmp", path)
        out[q] = f"select * from read_parquet('{path}')"
    return out


def run_lake(a, run_dir, engine_cmd, deadline, procs, build_dir):
    import duckdb
    eng = Proc(engine_cmd + ["--sf", SF, "--tables", ",".join(TABLES),
                             "--queries", ",".join(f"{q}:{n}" for q, n in QUERIES.items()),
                             "--rounds", str(ROUNDS)],
               os.path.join(run_dir, "engine.log"), run_dir)
    procs.append(eng)
    eng.expect("@@READY", deadline)
    res = json.loads(eng.expect("@@RESULT", deadline))

    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.sql(f"set temp_directory = '{os.path.join(run_dir, 'tmp')}'")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"create view {t} as select * from '{SF}/{t}.parquet'")
    problems = check.check_queries(
        con, cached_oracle(con, oracle, build_dir),
        lambda q: f"select * from read_parquet('{res['results']}/{q}/*.parquet')")
    if sorted(oracle) != sorted(QUERIES):
        problems.append("oracle statements missing for some listed queries")

    samples = res["samples"]

    calls = {q: [s["done_ms"] for s in samples if s["query"] == q] for q in QUERIES}
    median = {q: statistics.median(v) for q, v in calls.items()}
    # The gated figures take each query's fastest call: on a shared machine
    # other tenants slow some calls of a run, seldom all of them, and the
    # median moved with them (see README.md, Steadiness record).
    best = {q: min(v) for q, v in calls.items()}
    query_set_s = sum(median.values()) / 1e3
    e2e = {"setup_s": res["setup_s"], "cpu_s": res["runtime"]["cpu_s"] / res["sweeps"],
           # every query weighs the same; ops_per_s weighs by time
           "latency_ms": statistics.geometric_mean(best.values()),
           "ops_per_s": len(QUERIES) * 1e3 / sum(best.values())}
    layers = dict(res["layers"])
    layers["operators.query_set_s"] = query_set_s
    detail = {"sweeps": res["sweeps"], "query_set_s": query_set_s,
              "sweep_s": [sum(x["done_ms"] for x in samples if x["sweep"] == i) / 1e3
                          for i in range(res["sweeps"])],
              "per_query_s": {q: v / 1e3 for q, v in median.items()},
              "per_query_best_s": {q: v / 1e3 for q, v in best.items()},
              "samples_ms": {q: [round(x, 1) for x in v] for q, v in calls.items()}}
    # timed calls, and the calls of the two warm-up sweeps
    n = len(samples) + len(QUERIES) + sum(len(range(0, ROUNDS, k)) for k in QUERIES.values())
    return res, e2e, layers, detail, problems, n, 0


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["webhook", "lake_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.monotonic()
    root = os.getcwd()
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or
                             os.path.join(BENCH, ".build"))
    global SF
    try:
        SF = input_dir(root)
        classes = build.build(root, build_dir)
        jars = build.spark_jars(root)
        jvm = build.java_options(root)
    except (build.BuildError, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
    # the build may take long on a fresh checkout; the run gets its own budget
    deadline = time.monotonic() + DEADLINE_S

    run_dir = os.path.join(BENCH, ".runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # -UsePerfData: no hsperfdata file outside the checkout
    engine_cmd = (["java", "-XX:-UsePerfData"] + jvm +
                  [f"-Dlog4j2.configurationFile=file:{os.path.join(BENCH, 'log4j2.properties')}",
                   f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
                   "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
                   "graftbench.Engine", "--workload", a.workload, "--seconds", str(a.seconds),
                   "--trace", str(a.trace), "--run-dir", run_dir, "--cpus", str(CPUS)])
    scala_lib = glob.glob(os.path.join(jars, "scala-library-*.jar"))
    gen_cmd = ["java", "-XX:-UsePerfData", "-Dsun.net.httpserver.nodelay=true", "-Xmx256m",
               f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
               "-cp", os.pathsep.join([classes] + scala_lib), "graftbench.Generator"]
    rng = random.Random(f"{a.workload}:{a.seed}")
    procs = []
    ok = False
    try:
        if a.workload == "webhook":
            out = run_webhook(a, rng, run_dir, engine_cmd, gen_cmd, deadline, procs)
        else:
            out = run_lake(a, run_dir, engine_cmd, deadline, procs, build_dir)
        res, e2e, layers, detail, problems, attempted, failed = out
        for p in procs:
            p.p.wait(timeout=max(1, deadline - time.monotonic()))
        problems += selftest.run()
        ok = True
    except Exception as e:  # any failure ends the run without a result
        print(f"perfbench: {a.workload} failed: {e!r}", file=sys.stderr)
    finally:
        for p in procs:
            p.stop()
        if ok:
            shutil.rmtree(run_dir, ignore_errors=True)
    if not ok:
        print(f"perfbench: run directory kept at {run_dir}", file=sys.stderr)
        sys.exit(1)

    layers.update(res["runtime"])
    layers.pop("cpu_s", None)
    for p in problems:
        print(f"perfbench: INCORRECT: {p}", file=sys.stderr)
    if a.trace:
        metrics = {k: {"value": float(layers.get(k, 0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E.items()}
    detail.update({"workload": a.workload, "seed": a.seed, "problems": problems,
                   "wall_s": time.monotonic() - t_start})
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
