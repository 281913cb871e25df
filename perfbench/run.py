#!/usr/bin/env python3
"""The repo's benchmark.  Run from the root of a checkout:

    python3 perfbench/run.py --workload batch_pack|wire_spread|replay_chain \\
        --seed N --seconds S --trace 0|1

Builds the engine from source (perfbench/build.py), generates the inputs
(perfbench/gen.py), runs one workload in a fresh engine JVM, checks every
output, prints each metric by name with its unit, and prints as its last
line one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones.  See perfbench/NOTES.md for what each one means.
"""
import argparse
import glob
import json
import math
import os
import selectors
import shutil
import socket
import struct
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import digest  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORK = os.path.join(build.BUILD, "work")
SF = 0.01
DATA = os.path.join(build.BUILD, "data", f"sf{SF}")
JVM_TIMEOUT_S = 150

WORKLOADS = ("batch_pack", "wire_spread", "replay_chain")

# name, unit, better, bound -- mirrored by BENCHMARK.json (tests check it)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("short_ms", "ms", "lower", 0.25),
    ("long_ms", "ms", "lower", 0.25),
    ("rate_per_s", "1/s", "higher", 0.25),
]
# name, unit, better
PER_LAYER = [
    ("host.cores", "count", "higher"),
    ("jvm.peak_rss_mb", "MB", "lower"),
    ("jvm.heap_mb", "MB", "lower"),
    ("check.failed_frac", "ratio", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
    ("sessions.build_ms", "ms", "lower"),
    ("sessions.stage_ms", "ms", "lower"),
    ("sessions.warmup_ms", "ms", "lower"),
    ("operators.build_ms", "ms", "lower"),
    ("operators.eager_jobs", "count", "lower"),
    ("plan.analysis_ms", "ms", "lower"),
    ("plan.optimizer_ms", "ms", "lower"),
    ("plan.physical_ms", "ms", "lower"),
    ("plan.codegen_ms", "ms", "lower"),
    ("plan.exchanges", "count", "lower"),
    ("plan.broadcasts", "count", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.task_run_ms", "ms", "lower"),
    ("exec.task_cpu_ms", "ms", "lower"),
    ("exec.gc_ms", "ms", "lower"),
    ("exec.shuffle_write_bytes", "bytes", "lower"),
    ("exec.shuffle_read_bytes", "bytes", "lower"),
    ("exec.spill_bytes", "bytes", "lower"),
    ("exec.input_bytes", "bytes", "lower"),
    ("exec.busy_frac", "ratio", "higher"),
    ("exec.action_ms", "ms", "lower"),
    ("stream.batches", "count", "lower"),
    ("stream.trigger_ms", "ms", "lower"),
    ("stream.rows_per_batch", "rows", "higher"),
    ("stream.watermark_lag_ms", "ms", "lower"),
    ("stream.latest_offset_ms", "ms", "lower"),
    ("stream.get_batch_ms", "ms", "lower"),
    ("stream.planning_ms", "ms", "lower"),
    ("stream.add_batch_ms", "ms", "lower"),
    ("stream.wal_commit_ms", "ms", "lower"),
    ("stream.commit_offsets_ms", "ms", "lower"),
    ("stream.fixed_ms", "ms", "lower"),
    ("state.rows_total", "rows", "lower"),
    ("state.rows_updated", "rows", "lower"),
    ("state.memory_bytes", "bytes", "lower"),
    ("state.partitions", "count", "lower"),
    ("state.commit_ms", "ms", "lower"),
    ("state.update_ms", "ms", "lower"),
    ("state.removal_ms", "ms", "lower"),
    ("state.late_dropped", "rows", "lower"),
    ("source.frames_sent", "count", "higher"),
    ("source.bytes_sent", "bytes", "higher"),
    ("source.gen_late_ms", "ms", "lower"),
    ("source.backlog_frames", "count", "lower"),
    ("source.backlog_slope", "1/s", "lower"),
    ("sink.frames_received", "count", "higher"),
    ("sink.connections", "count", "lower"),
    ("sink.duplicates", "count", "lower"),
    ("sink.missing", "count", "lower"),
    ("handoff.queries", "count", "lower"),
    ("handoff.files", "count", "lower"),
    ("handoff.bytes", "bytes", "lower"),
    ("handoff.lag_ms", "ms", "lower"),
    ("replay.local1_rows_per_s", "rows/s", "higher"),
]
UNITS = {n: u for n, u, *_ in END_TO_END + PER_LAYER}

# wire_spread: offered load and key space
WIRE_RATE = 500           # frames per second, half quotes and half orders
WIRE_KEYS = 100_000       # users drawn from a Zipf(0.8) over this key space
WIRE_WARMUP_S = 14.0
WIRE_TICK_S = 0.05        # the generator sends what fell due every tick
WIRE_DRAIN_S = 30.0
WIRE_SUBWINDOWS = 4       # latency percentiles are medians over these
# replay_chain: events x COPIES, perturbed within DELAY, sliding windows
REPLAY_COPIES = 10
REPLAY_FILES = 6
REPLAY_FILES_PER_TRIGGER = 2
HOUR_NS = 3_600_000_000_000
REPLAY_DELAY_NS = HOUR_NS
REPLAY_RANGE_NS = 7 * 24 * HOUR_NS
REPLAY_SLIDE_NS = 24 * HOUR_NS

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def med(xs):
    return stats.median(xs) if xs else 0.0


# ------------------------------------------------------------------ setup
def ensure_data():
    """Generate the tables once per checkout (fixed seed, so stored expected
    digests stay valid); a stamp guards against a stale layout."""
    import numpy
    want = f"{gen.GEN_VERSION} sf={SF} numpy={numpy.__version__}"
    stamp = os.path.join(DATA, "tables.stamp")
    if os.path.isfile(stamp) and open(stamp).read() == want:
        return
    shutil.rmtree(DATA, ignore_errors=True)
    gen.tables(DATA, SF)
    with open(stamp, "w") as fh:
        fh.write(want)


def fresh_dir(name):
    d = os.path.join(WORK, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def start_jvm(cp, mode, out, args, stdin=False):
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_CPUS", None)  # the library's default: every core
    # the library's default local dir is /dev/shm; the benchmark writes only
    # inside its checkout, so Spark's shuffle and block files go there too
    env["GRAFT_DISK_LOCAL_DIR"] = os.path.join(out, "spark-local")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JAVA_OPENS +
           ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main", mode,
            "--out", out] + [str(a) for a in args])
    errlog = open(os.path.join(out, "engine.log"), "w")
    return subprocess.Popen(cmd, cwd=out, env=env,
                            stdout=subprocess.PIPE if stdin else errlog, stderr=errlog, stdin=subprocess.PIPE if stdin else None,
                            text=True)


def finish_jvm(p, out, timeout=JVM_TIMEOUT_S):
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit(f"engine timed out after {timeout}s; see {out}/engine.log")
    if p.returncode != 0:
        tail = open(os.path.join(out, "engine.log")).read()[-3000:]
        raise SystemExit(f"engine exited with {p.returncode}:\n{tail}")
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh)


def read_spans(out):
    path = os.path.join(out, "spans.jsonl")
    if not os.path.isfile(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def self_times(spans):
    """Self time per layer (span name prefix): a span's duration minus the
    part its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0, s["start_ns"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], end), min(c["end_ns"], s["end_ns"])
            if b > a:
                covered += b - a
                end = b
        layer = s["name"].split(".")[0]
        out[layer] = out.get(layer, 0) + (s["end_ns"] - s["start_ns"] - covered) / 1e6
    return out


def span_sums(spans, name):
    """Summed duration (ms) of spans named ``name`` per trace id."""
    per = {}
    for s in spans:
        if s["name"] == name:
            per[s["trace"]] = per.get(s["trace"], 0) + (s["end_ns"] - s["start_ns"]) / 1e6
    return per


def stream_layers(progress):
    """stream.* and state.* from per-batch progress rows."""
    batches = [p for p in progress if p["trigger_ms"] > 0]
    if not batches:
        return {}
    g = lambda k: med([p[k] for p in batches])
    # how far the watermark trails the newest event time of the batch
    wm = [p["event_max_ms"] - p["watermark_ms"] for p in batches
          if p["watermark_ms"] > 0 and p["event_max_ms"] > 0]
    return {
        "stream.batches": len(batches), "stream.trigger_ms": g("trigger_ms"),
        "stream.rows_per_batch": g("rows"), "stream.watermark_lag_ms": med(wm),
        "stream.latest_offset_ms": g("latest_offset_ms"), "stream.get_batch_ms": g("get_batch_ms"),
        "stream.planning_ms": g("planning_ms"), "stream.add_batch_ms": g("add_batch_ms"),
        "stream.wal_commit_ms": g("wal_commit_ms"),
        "stream.commit_offsets_ms": g("commit_offsets_ms"),
        "stream.fixed_ms": med([p["trigger_ms"] - p["add_batch_ms"] for p in batches]),
        "state.rows_total": max(p["state_rows_total"] for p in batches),
        "state.rows_updated": g("state_rows_updated"),
        "state.memory_bytes": max(p["state_memory_bytes"] for p in batches),
        "state.partitions": max(p["state_partitions"] for p in batches),
        "state.commit_ms": g("state_commit_ms"), "state.update_ms": g("state_update_ms"),
        "state.removal_ms": g("state_removal_ms"),
        "state.late_dropped": sum(p["state_late_dropped"] for p in batches),
    }


def exec_layers(ex, wall_ms, cores):
    m = {f"exec.{k}": v for k, v in ex.items()}
    m["exec.busy_frac"] = ex["task_run_ms"] / (wall_ms * cores) if wall_ms else 0.0
    return m


def setup_layers(res):
    ph = res["setup_phases"]
    return {"sessions.build_ms": ph.get("build", 0.0), "sessions.stage_ms": ph.get("stage", 0.0),
            "sessions.warmup_ms": ph.get("warmup", 0.0), "host.cores": res["cores"],
            "jvm.peak_rss_mb": res["peak_rss_mb"], "jvm.heap_mb": res["heap_mb"]}


# ------------------------------------------------------------- batch_pack
def group_ms(passes, group):
    """A group's wall time: the sum over its queries of each query's median
    over the passes, so one slow execution does not set the figure."""
    per = {}
    for p in passes:
        for t in p["queries"]:
            if t["group"] == group:
                per.setdefault(t["query"], []).append(t["ms"])
    return sum(med(v) for v in per.values())


def batch_pack(a, cp):
    out = fresh_dir("batch_pack")
    res = finish_jvm(start_jvm(cp, "batch_pack", out, [
        "--seed", a.seed, "--seconds", a.seconds, "--trace", a.trace, "--data", DATA]), out)
    with open(os.path.join(HERE, "expected_batch.json")) as fh:
        expected = json.load(fh)
    import duckdb
    con = duckdb.connect()
    failures = {}
    for q in res["checked"]:
        if q in res["errors"]:
            failures[q] = res["errors"][q]
            continue
        files = sorted(glob.glob(os.path.join(out, "results", q, "*.parquet")))
        got, n = digest.digest_query(con, f"SELECT * FROM read_parquet({files!r})")
        want = expected.get(q)
        if want is None:
            failures[q] = "no expected digest stored"
        elif got != want["digest"]:
            failures[q] = f"digest mismatch ({n} rows, expected {want['rows']})"
    timed = [t for p in res["passes"] for t in p["queries"]]
    for key, msg in res["errors"].items():
        if "#" in key:
            failures[key] = msg
    # per query a check run and a warmup run, then the timed executions
    attempted = 2 * len(res["checked"]) + len(timed)
    failed = len(failures)
    plain = [p for p in res["passes"] if not p["traced"]]
    e2e = {
        "setup_s": res["setup_s"],
        "short_ms": group_ms(plain, "short"),
        "long_ms": group_ms(plain, "heavy"),
        "rate_per_s": len(plain[0]["queries"]) / (med([p["ms"] for p in plain]) / 1e3),
    }
    layers = {}
    if a.trace:
        spans = read_spans(out)
        traced = [p for p in res["passes"] if p["traced"]]
        lp = res["layers"]
        g = lambda f: med([f(x) for x in lp])
        layers.update(setup_layers(res))
        layers.update({
            "operators.build_ms": med(list(span_sums(spans, "operators.build").values())),
            "exec.action_ms": med(list(span_sums(spans, "exec.action").values())),
            "operators.eager_jobs": g(lambda x: x["eager_jobs"]),
            "plan.analysis_ms": g(lambda x: x["phases"].get("analysis", 0.0)),
            "plan.optimizer_ms": g(lambda x: x["phases"].get("optimization", 0.0)),
            "plan.physical_ms": g(lambda x: x["phases"].get("planning", 0.0)),
            "plan.codegen_ms": g(lambda x: x["codegen_ms"]),
            "plan.exchanges": g(lambda x: x["exchanges"]),
            "plan.broadcasts": g(lambda x: x["broadcasts"]),
        })
        ex = {k: g(lambda x: x["exec"][k]) for k in lp[0]["exec"]}
        layers.update(exec_layers(ex, g(lambda x: x["wall_ms"]), res["cores"]))
        layers["trace.overhead_frac"] = (med([p["ms"] for p in traced]) /
                                         med([p["ms"] for p in plain]) - 1.0)
        print_self_times("batch_pack", spans)
    return e2e, layers, attempted, failed, failures


# ------------------------------------------------------------ wire_spread
class Receiver(threading.Thread):
    """Accepts TcpSink connections and timestamps every result frame."""

    def __init__(self):
        super().__init__(daemon=True)
        self.lsock = socket.socket()
        self.lsock.bind(("127.0.0.1", 0))
        self.lsock.listen(64)
        self.lsock.setblocking(False)
        self.port = self.lsock.getsockname()[1]
        self.results = {}   # event id -> [(recv_ns, user, cents, quote, rejected)]
        self.connections = 0
        self.stop_flag = False

    def run(self):
        sel = selectors.DefaultSelector()
        sel.register(self.lsock, selectors.EVENT_READ)
        bufs = {}
        while not self.stop_flag:
            for key, _ in sel.select(timeout=0.05):
                if key.fileobj is self.lsock:
                    c, _ = self.lsock.accept()
                    c.setblocking(False)
                    sel.register(c, selectors.EVENT_READ)
                    bufs[c] = bytearray()
                    self.connections += 1
                    continue
                c = key.fileobj
                data = c.recv(1 << 16)
                now = time.time_ns()
                if not data:
                    sel.unregister(c)
                    c.close()
                    continue
                buf = bufs[c]
                buf += data
                pos = 0
                while len(buf) - pos >= 4 + 33:
                    (n,) = struct.unpack_from(">i", buf, pos)
                    if len(buf) - pos < 4 + n:
                        break
                    eid, user, cents, quote, rej = struct.unpack_from(">qqqqb", buf, pos + 4)
                    self.results.setdefault(eid, []).append((now, user, cents, quote, rej))
                    pos += 4 + n
                del buf[:pos]
        for key in list(sel.get_map().values()):
            key.fileobj.close()


def wire_spread(a, cp):
    out = fresh_dir("wire_spread")
    conns = min(os.cpu_count() or 1, 4)
    total_s = WIRE_WARMUP_S + a.seconds
    kind, user, cents, conn, quote_seen = gen.wire_schedule(
        a.seed, WIRE_RATE, total_s, WIRE_KEYS, conns)
    n = len(kind)
    period = 1e9 / WIRE_RATE
    srcs = []
    for _ in range(conns):
        s = socket.socket()
        s.bind(("127.0.0.1", 0))
        s.listen(1)
        s.settimeout(120)
        srcs.append(s)
    recv = Receiver()
    recv.start()
    p = start_jvm(cp, "wire_spread", out, [
        "--seed", a.seed, "--seconds", a.seconds, "--trace", a.trace,
        "--ports", ",".join(str(s.getsockname()[1]) for s in srcs),
        "--sink-port", recv.port], stdin=True)
    legs = []
    try:
        for s in srcs:
            legs.append(s.accept()[0])
            legs[-1].setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        line = p.stdout.readline()
        if line.strip() != "READY":
            raise SystemExit(f"engine did not start: {line!r}")
        sent_ns = [0] * n
        tick_ns = int(WIRE_TICK_S * 1e9)
        t0 = time.time_ns()
        measure_from = t0 + int(WIRE_WARMUP_S * 1e9)
        trace_at = measure_from + int(a.seconds * 1e9 / 2)
        traced = False
        i = 0
        while i < n:
            now = time.time_ns()
            if a.trace and not traced and now >= trace_at:
                p.stdin.write("trace\n")
                p.stdin.flush()
                traced = True
            tick = t0 + (int((now - t0) / tick_ns) + 1) * tick_ns
            if t0 + int(i * period) > now:
                time.sleep(max(0, tick - time.time_ns()) / 1e9)
                continue
            j = i
            chunks = [[] for _ in range(conns)]
            while j < n and t0 + int(j * period) <= now:
                chunks[conn[j]].append(struct.pack(
                    ">iqqqq", 32, (j << 1) | int(kind[j]), int(user[j]), int(cents[j]),
                    t0 + int(j * period)))
                j += 1
            stamp = time.time_ns()
            for c, ch in enumerate(chunks):
                if ch:
                    legs[c].sendall(b"".join(ch))
            for k in range(i, j):
                sent_ns[k] = stamp
            i = j
        orders = [k for k in range(n) if kind[k] == 1]
        deadline = time.time() + WIRE_DRAIN_S
        while time.time() < deadline and len(recv.results) < len(orders):
            time.sleep(0.05)
        p.stdin.write("stop\n")
        p.stdin.flush()
        p.stdin.close()
        res = finish_jvm(p, out)
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
        recv.stop_flag = True
        recv.join()
        for s in srcs + legs:
            s.close()
    failures = {}
    wrong = missing = dup = 0
    for k in orders:
        got = recv.results.get(k, [])
        if not got:
            missing += 1
        elif len(got) > 1:
            dup += 1
        if got:
            _, u, c, q, rej = got[0]
            want_q = int(quote_seen[k])
            if (u, c, q, bool(rej)) != (int(user[k]), int(cents[k]), want_q,
                                          gen.market_rejected(int(cents[k]), want_q)):
                wrong += 1
    if wrong or missing or dup:
        failures["orders"] = f"{wrong} wrong, {missing} missing, {dup} duplicated"
    if res.get("error"):
        failures["query"] = res["error"]
    stray = len(set(recv.results) - set(orders))
    if stray:
        failures["stray"] = f"{stray} results for ids that are not orders"
    bad = wrong + missing + dup + stray
    due = lambda k: t0 + int(k * period)
    measure_to = measure_from + int(a.seconds * 1e9)
    timed = [k for k in orders if measure_from <= due(k) < measure_to and k in recv.results]
    lat, late = stats.open_loop_latencies([due(k) for k in timed], [sent_ns[k] for k in timed],
                                          [recv.results[k][0][0] for k in timed])
    lat_ms = [x / 1e6 for x in lat]
    # p90, not the highest supported percentile: p99 of one run's window is
    # set by its one or two slowest batches and spread 0.4 across runs
    p50, p90 = stats.subwindow_percentiles([due(k) for k in timed], lat_ms, measure_from,
                                           measure_to, WIRE_SUBWINDOWS, (50, 90))
    tail = stats.highest_supported(lat_ms)
    # the engine's own pace at the offered rate: micro-batches per second
    batches = [r["trigger_ms"] for r in res["progress"]
               if measure_from <= r["start_ms"] * 1e6 < measure_to and r["trigger_ms"] > 0]
    if not batches:
        raise SystemExit("wire_spread: no micro-batch started in the timed window")
    e2e = {
        "setup_s": measure_from / 1e9 - res["jvm_start_ms"] / 1e3,
        "short_ms": p50,
        "long_ms": p90,
        "rate_per_s": 1e3 / med(batches),
    }
    log(f"wire_spread: {len(lat_ms)} timed orders, p50 {p50:.1f} ms, p90 {p90:.1f} ms "
        f"(medians over {WIRE_SUBWINDOWS} sub-windows), {len(batches)} batches" +
        (f", p{tail[0]} {tail[1]:.1f} ms over the window" if tail else ""))
    layers = {}
    if a.trace:
        tr_from = res["trace_from_ms"]
        prog = [r for r in res["progress"] if r["start_ms"] >= tr_from]
        layers.update(setup_layers(res))
        layers["sessions.warmup_ms"] = WIRE_WARMUP_S * 1e3
        layers.update(stream_layers(prog))
        layers.update(exec_layers(res["exec"], measure_to / 1e6 - tr_from, res["cores"]))
        gl = stats.highest_supported([x / 1e6 for x in late])
        # backlog when each batch began: frames due minus frames read so far
        xs = [r["start_ms"] / 1e3 for r in prog]
        ys = [min(n, int((r["start_ms"] * 1e6 - t0) / period)) - r["consumed"] for r in prog]
        first = [x for k, x in zip(timed, lat) if due(k) < trace_at]
        second = [x for k, x in zip(timed, lat) if due(k) >= trace_at]
        sent = sum(1 for k in range(n) if measure_from <= due(k) < measure_to)
        layers.update({
            "source.frames_sent": sent, "source.bytes_sent": 36 * sent,
            "source.gen_late_ms": gl[1] if gl else 0.0,
            "source.backlog_frames": med(ys), "source.backlog_slope": stats.slope(xs, ys),
            "sink.frames_received": len(timed), "sink.connections": recv.connections,
            "sink.duplicates": dup, "sink.missing": missing,
            "trace.overhead_frac": med(second) / med(first) - 1.0 if first and second else 0.0,
        })
        print_self_times("wire_spread", read_spans(out))
    return e2e, layers, len(orders), bad + (1 if res.get("error") else 0), failures


# ----------------------------------------------------------- replay_chain
def replay_expected(con, files):
    """The independent DuckDB computation of replay_chain's window output:
    per-key running mean in event-time order, then sliding windows on a
    grid anchored one normalized delay before each key's first event."""
    con.execute(f"CREATE OR REPLACE VIEW replay_in AS SELECT * FROM read_parquet({files!r})")
    gap = con.execute("""SELECT max(d) FROM (SELECT ts_ns - lag(ts_ns) OVER
        (PARTITION BY user_id ORDER BY ts_ns) AS d FROM replay_in)""").fetchone()[0]
    if gap >= REPLAY_RANGE_NS - REPLAY_SLIDE_NS:
        raise SystemExit("replay input has a per-key gap the window grid oracle "
                         "does not model; lower the slide or raise the range")
    k = REPLAY_RANGE_NS // REPLAY_SLIDE_NS
    # the pane grid starts one normalized delay (whole slides) before the
    # key's first event
    delay = -(-REPLAY_DELAY_NS // REPLAY_SLIDE_NS) * REPLAY_SLIDE_NS
    return set(con.execute(f"""
        WITH m AS (
          SELECT user_id, ts_ns,
                 (SUM(cents) OVER w) // (COUNT(*) OVER w) AS mean_cents
          FROM replay_in
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        a AS (SELECT user_id, MIN(ts_ns) - {delay} AS anchor FROM m GROUP BY user_id),
        x AS (SELECT m.user_id, mean_cents, anchor,
                     ((ts_ns - anchor) // {REPLAY_SLIDE_NS}) - j.j AS k
              FROM m JOIN a USING (user_id)
              CROSS JOIN (SELECT unnest(range(0, {k})) AS j) j)
        SELECT CAST(user_id AS VARCHAR), anchor + k * {REPLAY_SLIDE_NS},
               CAST(SUM(mean_cents) AS BIGINT), COUNT(*)
        FROM x WHERE k >= 0 GROUP BY user_id, anchor, k""").fetchall())


def replay_output(con, d):
    files = sorted(glob.glob(os.path.join(d, "out", "*.parquet")))
    if not files:
        return []
    return con.execute(f"""SELECT _1._1, _2 + 1 - {REPLAY_RANGE_NS}, _1._2, _1._3
        FROM read_parquet({files!r}) WHERE _1._3 > 0""").fetchall()


def replay_times(r):
    """(wall, first downstream batch, steady rows/s) of one replay."""
    up = sorted((p for p in r["progress"] if p["query"].endswith("-handoff")),
                key=lambda p: p["batch"])
    down = sorted((p for p in r["progress"] if not p["query"].endswith("-handoff")),
                  key=lambda p: p["batch"])
    end = lambda p: p["start_ms"] + p["trigger_ms"]
    first_down = next((end(p) for p in down if p["rows"] > 0), end(down[-1])) - r["start_ms"]
    first_up = next(p for p in up if p["rows"] > 0)
    steady_ms = r["start_ms"] + r["wall_ms"] - end(first_up)
    rows = sum(p["rows"] for p in up) - first_up["rows"]
    return r["wall_ms"], first_down, rows / (steady_ms / 1e3)


def handoff_lag(r):
    ups = [p["start_ms"] + p["trigger_ms"] for p in r["progress"]
           if p["query"].endswith("-handoff") and p["rows"] > 0]
    downs = sorted(p["start_ms"] for p in r["progress"]
                   if not p["query"].endswith("-handoff") and p["rows"] > 0)
    lags = [next((d for d in downs if d >= u), u) - u for u in ups]
    return med(lags)


def replay_chain(a, cp):
    out = fresh_dir("replay_chain")
    inp = os.path.join(out, "input")
    rows, keys = gen.replay_input(os.path.join(DATA, "events.parquet"), a.seed,
                                  REPLAY_COPIES, REPLAY_DELAY_NS, REPLAY_FILES, inp)
    import duckdb
    con = duckdb.connect()
    expected = replay_expected(con, sorted(glob.glob(os.path.join(inp, "part-*.parquet")))[:-1])
    res = finish_jvm(start_jvm(cp, "replay_chain", out, [
        "--seed", a.seed, "--seconds", a.seconds, "--trace", a.trace, "--input", inp,
        "--files-per-trigger", REPLAY_FILES_PER_TRIGGER, "--range-ns", REPLAY_RANGE_NS,
        "--slide-ns", REPLAY_SLIDE_NS, "--delay-ns", REPLAY_DELAY_NS]), out)
    failures = {}
    failed = 0
    replays = res["warmups"] + res["replays"] + ([res["local1"]] if res.get("local1") else [])
    for r in replays:
        name = os.path.basename(r["dir"])
        got = replay_output(con, r["dir"])
        gs = set(got)
        bad = len(expected - gs) + len(gs - expected) + (len(got) - len(gs))
        failed += bad + len(r["errors"])
        if bad or r["errors"]:
            failures[name] = (f"{len(expected - gs)} missing, {len(gs - expected)} wrong, "
                              f"{len(got) - len(gs)} duplicated windows {r['errors']}")
    log(f"replay_chain: {rows} input rows ({keys} keys, x{REPLAY_COPIES}), "
        f"{len(expected)} windows expected per replay")
    plain = [replay_times(r) for r in res["replays"] if not r["traced"]]
    e2e = {"setup_s": res["setup_s"],
           "short_ms": med([t[1] for t in plain]), "long_ms": med([t[0] for t in plain]),
           "rate_per_s": med([t[2] for t in plain])}
    layers = {}
    if a.trace:
        traced = [r for r in res["replays"] if r["traced"]]
        spans = read_spans(out)
        layers.update(setup_layers(res))
        layers.update(stream_layers([p for r in traced for p in r["progress"]]))
        t = traced[0]
        layers.update(exec_layers(t["exec"], t["wall_ms"], res["cores"]))
        layers.update({
            "handoff.queries": 2, "handoff.files": t["handoff_files"],
            "handoff.bytes": t["handoff_bytes"], "handoff.lag_ms": handoff_lag(t),
            "replay.local1_rows_per_s": replay_times(res["local1"])[2],
            "trace.overhead_frac": (med([replay_times(r)[0] for r in traced]) /
                                    med([x[0] for x in plain]) - 1.0),
        })
        print_self_times("replay_chain", spans)
    return e2e, layers, len(expected) * len(replays), failed, failures


# ------------------------------------------------------------------ main
def print_self_times(workload, spans):
    st = self_times(spans)
    total = sum(st.values()) or 1.0
    print(f"per-layer self time, {workload} (traced operations):")
    for layer, ms in sorted(st.items(), key=lambda kv: -kv[1]):
        print(f"  {layer:<12} {ms:12.1f} ms  {100 * ms / total:5.1f}%")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    cp = build.build()
    ensure_data()
    os.makedirs(WORK, exist_ok=True)
    e2e, layers, attempted, failed, failures = {"batch_pack": batch_pack, "wire_spread": wire_spread,
                                        "replay_chain": replay_chain}[a.workload](a, cp)
    for name, why in failures.items():
        log(f"FAILED {a.workload}/{name}: {why}")
    if a.trace:
        layers["check.failed_frac"] = failed / attempted
        metrics = {n: layers.get(n, 0.0) for n, *_ in PER_LAYER}
    else:
        metrics = {n: e2e[n] for n, *_ in END_TO_END}
    bad = [n for n, v in metrics.items() if not math.isfinite(v)]
    if bad:
        raise SystemExit(f"{a.workload}: no finite value for {', '.join(bad)}")
    for n, v in metrics.items():
        print(f"{a.workload:<13} {n:<26} {v:16.4f} {UNITS[n]}")
    print(f"{a.workload:<13} failed {failed} of {attempted} attempted")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": float(v), "unit": UNITS[n]}
                                  for n, v in metrics.items()}}))


if __name__ == "__main__":
    main()
