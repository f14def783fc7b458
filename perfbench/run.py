#!/usr/bin/env python3
"""Product benchmark for the GigAPI server (graft.Main), driven over HTTP.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark's own classes (perfbench/trace) with sbt. Each run boots
graft.Main on a fresh lakehouse root with the stock flush policy
(save_timeout_s=1, merge_timeout_s=10, merges on), generates its inputs
from --seed, drives the server from one client on one connection,
measures for --seconds, checks every answer, and prints as
its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json; with --trace 1 the server
runs with the perfbench listeners and a direct-call harness replays the
run's inputs, and the metrics are the per-layer ones. The line before it
("record") holds every per-workload figure with its unit.

Workloads: ingest_burst (write path) and query_mix (read path).
"""
import argparse
import glob
import http.client
import json
import os
import random
import re
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TRACE_DIR = os.path.join(HERE, "trace")
LAUNCH = os.path.join(TRACE_DIR, "target", "launch.json")
WORK = os.path.join(HERE, ".work")
HEAP = "-Xmx4g"        # fixed server heap, whatever the build's default
BASE_NS = 1_700_000_000_000_000_000
WARM_S = 10.0          # ingest warm-up after boot
BOOTS = 2              # ingest_burst boots the server this often; setup_s is the median
now = time.perf_counter
CLK_TCK = os.sysconf("SC_CLK_TCK")


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def sources():
    """The build definitions and main sources of the program and of perfbench/trace."""
    for base in (ROOT, TRACE_DIR):
        for pattern in ("*.sbt", "project/*.sbt", "project/*.scala", "project/*.properties",
                        "src/main/**/*"):
            yield from (p for p in glob.glob(os.path.join(base, pattern), recursive=True)
                        if os.path.isfile(p))


def build():
    """Compile the program and perfbench/trace, again whenever a source is
    newer than the last build."""
    if os.path.exists(LAUNCH) and os.path.getmtime(LAUNCH) > max(
            os.path.getmtime(p) for p in sources()):
        return json.load(open(LAUNCH))
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    log("building the program and perfbench/trace with sbt")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                       cwd=TRACE_DIR, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, timeout=840)
    if r.returncode != 0 or not os.path.exists(LAUNCH):
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        raise SystemExit("build failed")
    return json.load(open(LAUNCH))


# ---------------------------------------------------------------- server

def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Server:
    """One graft.Main process on `root`, launched like the program's own
    `run` (its classpath and JVM options), with the heap fixed."""

    def __init__(self, launch, run_dir, root, trace_out=None):
        self.port = free_port()
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cp = launch["classpath"]
        if trace_out is None:  # the untraced server runs the program alone
            cp = [p for p in cp if not p.startswith(TRACE_DIR)]
        opts = [o for o in launch["java_options"] if not o.startswith("-Xmx")] + [
            HEAP, "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp]
        if trace_out:
            opts += ["-Dspark.extraListeners=perfbench.StageSpans",
                     "-Dspark.sql.queryExecutionListeners=perfbench.QuerySpans",
                     "-Dperfbench.trace.out=" + trace_out]
        env = dict(os.environ, GIGAPI_ROOT=root, PORT=str(self.port), HOST="127.0.0.1")
        for k in ("GIGAPI_SAVE_TIMEOUT_S", "GIGAPI_MERGE_TIMEOUT_S", "GIGAPI_NO_MERGES",
                  "GIGAPI_RETENTION_S", "GIGAPI_CONFIG", "SPARK_MASTER"):
            env.pop(k, None)  # stock flush policy
        self.log = open(os.path.join(run_dir, "server-%d.log" % self.port), "wb")
        self.t_start = now()
        self.proc = subprocess.Popen(["java"] + opts + ["-cp", ":".join(cp), "graft.Main"],
                                     cwd=run_dir, env=env, stdout=self.log,
                                     stderr=subprocess.STDOUT)

    def wait_ready(self, timeout=120):
        end = now() + timeout
        while now() < end:
            if self.proc.poll() is not None:
                raise RuntimeError("server exited with %s" % self.proc.returncode)
            try:
                st, _ = request(self.port, "GET", "/ping", timeout=2)
                if st == 204:
                    log("ready after %.1f s" % (now() - self.t_start))
                    return now()
            except OSError:
                pass
            time.sleep(0.05)
        raise RuntimeError("server did not answer /ping")

    def sample(self):
        """CPU seconds, RSS, peak RSS, threads and open fds from /proc."""
        out = {}
        try:
            stat = open("/proc/%d/stat" % self.proc.pid).read().rpartition(")")[2].split()
            out["cpu_s"] = (int(stat[11]) + int(stat[12])) / CLK_TCK  # utime + stime
            for line in open("/proc/%d/status" % self.proc.pid):
                k, _, v = line.partition(":")
                if k in ("VmRSS", "VmHWM"):
                    out[k] = int(v.split()[0]) / 1024.0
                elif k == "Threads":
                    out[k] = int(v)
            out["fds"] = len(os.listdir("/proc/%d/fd" % self.proc.pid))
        except OSError:
            pass
        return out

    def stop(self):
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(60)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.log.close()

    def kill(self):
        self.proc.kill()
        self.proc.wait()
        self.log.close()


def request(port, method, path, body=None, ctype="application/json", conn=None,
            timeout=120):
    """One HTTP exchange; returns (status, body bytes)."""
    own = conn is None
    c = conn or http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        c.request(method, path, body=body, headers={"Content-Type": ctype} if body else {})
        r = c.getresponse()
        return r.status, r.read()
    finally:
        if own:
            c.close()


class Client:
    """A keep-alive connection that records every exchange as
    (kind, t_due, t_send, t_done, status, body)."""

    def __init__(self, port):
        self.port = port
        self.conn = None
        self.log = []

    def call(self, kind, path, body, ctype="application/json", due=None):
        t0 = now()
        try:
            if self.conn is None:
                self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
            st, data = request(self.port, "POST", path, body, ctype, conn=self.conn)
        except (OSError, http.client.HTTPException) as e:
            if self.conn:
                self.conn.close()
            self.conn = None
            st, data = -1, str(e).encode()
        rec = (kind, t0 if due is None else due, t0, now(), st, data)
        self.log.append(rec)
        return rec

    def query(self, kind, sql, db=None):
        path = "/query" + ("?db=" + db if db else "")
        return self.call(kind, path, json.dumps({"query": sql}).encode())

    def close(self):
        if self.conn:
            self.conn.close()


def results(data):
    return json.loads(data)["results"]


# ---------------------------------------------------------------- inputs

def lp_rows(table, seqs, hosts, vs, times):
    return "\n".join("%s,host=h%d seq=%di,v=%di %d" % r
                     for r in zip([table] * len(seqs), hosts, seqs, vs, times)).encode()


class Rows:
    """A seeded synthetic metrics table: seq, host, v, time (ns)."""

    def __init__(self, rng, n, hosts=64):
        self.seq = list(range(n))
        self.host = [rng.randrange(hosts) for _ in range(n)]
        self.v = [rng.randrange(100000) for _ in range(n)]
        # 1 ms apart, so a `time` range selects a contiguous seq range
        self.time = [BASE_NS + s * 1_000_000 for s in self.seq]

    def body(self, table, lo, hi):
        return lp_rows(table, self.seq[lo:hi], self.host[lo:hi], self.v[lo:hi],
                       self.time[lo:hi])


# ---------------------------------------------------------------- stats

def pct(xs, p):
    """Nearest-rank percentile (p in 0..100) of a non-empty list."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(round(p / 100.0 * len(s) + 0.5)) - 1))
    return s[k]


def tail(xs):
    """(value, percentile) of the highest whole percentile from p50 up with
    at least ten samples beyond it; None below twenty samples."""
    for p in range(99, 49, -1):
        if len(xs) * (100 - p) / 100.0 >= 10:
            return pct(xs, p), p
    return None


def med(xs):
    return statistics.median(xs) if xs else 0.0


def pool_rate(recs):
    """Requests per second of the one client's closed loop, by request: the
    number of distinct requests (by kind) over the time it takes to send
    each once, from the median send-to-done time of each kind in the
    window. A query_mix window ends inside a pass over its pool; keyed by
    pool entry, every entry counts once whichever ones the last pass
    reached. The medians keep a stray slow request from moving the figure."""
    by = {}
    for r in recs:
        if r[4] in (200, 204):
            by.setdefault(r[0], []).append(r[3] - r[2])
    return len(by) / sum(med(xs) for xs in by.values()) if by else 0.0


def rate(recs, w0, weight=lambda r: 1):
    """Completed work of the window's successful requests per second, from
    the window's start to the last completion (in-flight requests at the
    window's end finish and count, so the figure is not quantized)."""
    ok = [r for r in recs if r[4] in (200, 204)]
    if not ok:
        return 0.0
    return sum(weight(r) for r in ok) / (max(r[3] for r in ok) - w0)


# ---------------------------------------------------------------- run state

class Run:
    def __init__(self, args, launch):
        self.args = args
        self.launch = launch
        self.trace = args.trace == 1
        for stale in glob.glob(os.path.join(WORK, "run-*")):  # left by a killed run
            shutil.rmtree(stale, ignore_errors=True)
        self.dir = os.path.join(WORK, "run-%s-%d" % (args.workload, args.seed))
        os.makedirs(self.dir)
        self.root = os.path.join(self.dir, "lake")
        self.trace_out = os.path.join(self.dir, "spans.jsonl") if self.trace else None
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.checks = []           # (name, ok)
        self.record = {}           # name -> (value, unit)
        self.input_bytes = 0       # line-protocol bytes acked
        self.bodies = []           # files of acked bodies, for the harness
        self.body_files = {}       # id(body) -> its file
        self.queries = []          # (sql, db) sent, for the harness
        self.ranges = []           # `time` ranges queried, for the harness
        self.tables = []           # (db, table) written
        self.clients = []
        self.server = None
        self.wall_off = time.time() - now()
        self.rows_per_write = 0    # rows in one /write body of the workload
        self.primary = []          # the window's requests the e2e metrics cover
        self.qrecs = []            # the window's /query requests
        self.response_bytes = []
        self.peak = 0.0
        self.start_sample = self.end_sample = {}
        self.spans_collected = False
        self.build_windows = []    # (kind, send, done) of artifact builds

    def boot(self):
        self.t0 = now()
        self.server = Server(self.launch, self.dir, self.root, self.trace_out)
        return self.server

    def client(self):
        c = Client(self.server.port)
        self.clients.append(c)
        return c

    def check(self, name, ok):
        self.attempted += 1
        if not ok:
            self.failed += 1
            log("check failed:", name)
        self.checks.append((name, bool(ok)))

    def put(self, name, value, unit):
        self.record[name] = (value, unit)

    def keep_body(self, body):
        """List an acked body for the harness; each distinct body is
        written once."""
        if self.trace:
            p = self.body_files.get(id(body))
            if p is None:
                p = self.body_files[id(body)] = os.path.join(
                    self.dir, "body-%d.lp" % len(self.body_files))
                with open(p, "wb") as f:
                    f.write(body)
            self.bodies.append(p)

    def setup_done(self, took):
        """Set-up ends: the server is booted and its inputs are loaded.
        `took` is the set-up time as the workload measures it; the closed
        loop's warm-up that follows is not set-up."""
        self.setup_s = took
        self.setup_end = now()
        log("set-up took %.1f s" % took)

    def window(self, seconds, at):
        self.w0 = at
        self.w1 = self.w0 + seconds
        self.put("warmup_s", self.w0 - self.setup_end, "s")
        self.start_sample = self.server.sample()

    def end_window(self):
        self.end_sample = self.server.sample()

    def collect_spans(self):
        """Have the traced server write its spans now (its sampler polls for
        the request file), before the server is stopped or killed."""
        if not self.trace or self.spans_collected:
            return
        req = self.trace_out + ".dump"
        open(req, "w").close()
        deadline = now() + 20
        while os.path.exists(req) and now() < deadline:
            time.sleep(0.05)
        self.spans_collected = not os.path.exists(req)
        if not self.spans_collected:
            raise RuntimeError("the traced server did not write its spans")

    def manifests(self, db="*", table="*"):
        """The live-file lists of the manifests, one per partition."""
        out = []
        for m in glob.glob(os.path.join(self.root, db, table, "**", "metadata.json"),
                           recursive=True):
            try:
                out.append(json.load(open(m)).get("files", []))
            except (OSError, ValueError):
                out.append(None)  # caught mid-rewrite
        return out

    def stored_bytes(self):
        """Bytes of the live parquet files the manifests list."""
        return sum(f.get("size_bytes", 0) for fs in self.manifests() for f in fs or [])

    def live_files(self, db, table):
        return [f["path"] for fs in self.manifests(db, table) for f in fs or []]

    def settled(self, db, table):
        """True when no partition holds two level-1 files, so the next
        compaction tick has nothing to merge."""
        parts = self.manifests(db, table)
        return bool(parts) and all(
            fs is not None and sum(1 for f in fs if f["path"].endswith(".1.parquet")) <= 1
            for fs in parts)

    def log_ops(self, kinds, in_window=True):
        """Recorded exchanges of the given kinds; by default those sent
        inside the timed window."""
        out = []
        for c in self.clients:
            for r in c.log:
                if r[0] in kinds and (not in_window or self.w0 <= r[2] < self.w1):
                    out.append(r)
        return out


def count_ops(run, recs, ok_status):
    """Count recorded exchanges; a non-matching status is a failure."""
    for r in recs:
        run.attempted += 1
        if r[4] not in ok_status:
            run.failed += 1
            log("failed request:", r[0], r[4], r[5][:300])


def latency_metrics(run, prefix, recs, unit_count):
    """p50 and tail (from due time to done) of `recs` into the record."""
    lat = [r[3] - r[1] for r in recs if r[4] in (200, 204)]
    if not lat:
        return
    run.put(prefix + "_p50_s", med(lat), "s")
    run.put(prefix + "_samples", len(lat), unit_count)
    if tail(lat):
        run.put(prefix + "_tail_s", tail(lat)[0], "s")
        run.put(prefix + "_tail_pct", tail(lat)[1], "percentile")


# ---------------------------------------------------------------- workloads

def ingest_burst(run, seconds):
    """Write-only closed loop of one client sending 100 k-row bodies. One
    body fills the 100 k-row batch that keeps the ingest buffer in its
    gather regime, so no flush falls back to the 1 s timer, and every flush
    drains exactly one body. (With several writers the flushes gather
    whichever bodies have been parsed, and the run's rate follows how the
    writers happen to group.)

    Set-up is the server's boot alone: it boots BOOTS times on the same
    empty root, and setup_s is the median time to the first /ping answer;
    the last server is the one measured."""
    rows_per_body, db, table = 100_000, "default", "burst"
    run.tables.append((db, table))
    n_bodies = 16            # a pool the client cycles through; a re-sent body is new rows
    data = Rows(run.rng, n_bodies * rows_per_body)
    bodies = []
    for i in range(n_bodies):
        lo, hi = i * rows_per_body, (i + 1) * rows_per_body
        bodies.append((rows_per_body, data.body(table, lo, hi), sum(data.seq[lo:hi])))
    boots = []
    for k in range(BOOTS):
        if run.server:
            run.server.kill()  # an earlier boot; nothing is written yet
        srv = run.boot()
        ready = srv.wait_ready()
        boots.append(ready - run.t0)
    run.setup_done(med(boots))
    run.put("boot_s", boots, "s")
    client = run.client()
    acked = [0, 0]  # rows, sum(seq)
    # the closed loop runs from boot on: what is sent in the first WARM_S
    # seconds warms the JIT, and the window keeps the same phase against
    # the 10 s compaction ticker (which starts with the server) in every run
    w0 = ready + WARM_S
    end = w0 + seconds
    timer = threading.Timer(max(0.0, w0 - now()), lambda: run.window(seconds, at=w0))
    timer.start()
    i = 0
    while now() < end:
        rows, body, s = bodies[i % n_bodies]
        i += 1
        r = client.call("warm" if now() < w0 else "write", "/write", body, "text/plain")
        if r[4] == 204:
            acked[0] += rows
            acked[1] += s
            run.input_bytes += len(body)
            run.keep_body(body)
    timer.join()
    run.end_window()
    writes = run.log_ops({"write"})
    count_ops(run, writes + run.log_ops({"warm"}, in_window=False), (204,))
    run.put("write_rows_per_s", rate(writes, run.w0, lambda r: rows_per_body), "rows/s")
    latency_metrics(run, "write_ack", writes, "requests")
    run.put("stored_bytes_per_input_byte", run.stored_bytes() / max(1, run.input_bytes), "ratio")
    check = run.client()

    def answer_ok():
        r = check.query("check", "SELECT count(*) AS c, sum(seq) AS s FROM %s" % table)
        if r[4] != 200:
            return False
        row = results(r[5])[0]
        return int(row["c"]) == acked[0] and int(row["s"]) == acked[1]

    run.check("ingest count(*) and sum(seq) equal the acked totals", answer_ok())
    run.peak = srv.sample().get("VmHWM", 0.0)
    run.primary = writes
    run.rows_per_write = rows_per_body
    if not run.trace:
        return
    # durability, on the traced pass, outside its window: SIGKILL, restart
    # (untraced) on the same root, every acked row readable
    run.collect_spans()
    t_kill = now()
    srv.kill()
    run.server = srv2 = Server(run.launch, run.dir, run.root)
    check.port, check.conn = srv2.port, None
    try:
        srv2.wait_ready()
        ok = False
        while not ok and now() - t_kill < 90:
            ok = answer_ok()
        run.put("recover_s", now() - t_kill, "s")
        run.check("every acked row readable after SIGKILL and restart", ok)
    except RuntimeError as e:
        log(e)
        run.check("server restarts after SIGKILL", False)


def house_file(run, path, n=2_200_000):
    """A seeded house-price-shaped parquet file: town, district, price."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(run.args.seed)
    n_towns, n_districts = 1150, 460
    towns = np.array(["TOWN %04d" % i for i in range(n_towns)])
    districts = np.array(["DISTRICT %03d" % i for i in range(n_districts)])
    t = np.minimum(rng.zipf(1.3, n) - 1, n_towns - 1)
    d = (t * 7 + rng.integers(0, 3, n)) % n_districts
    price = rng.integers(20_000, 2_000_000, n)
    table = pa.table({"town": towns[t], "district": districts[d], "price": price})
    pq.write_table(table, path)
    return table


def query_mix(run, seconds):
    """Read-only closed loop over a settled table, a local parquet file and
    the SQL surface of artifacts built in set-up.

    The server partitions by arrival hour, so the table's `time` spread
    alone gives one settled file per partition. The table is loaded in two
    halves of disjoint `time` ranges: the first in two bodies, which a
    compaction tick merges into one file, then the second in one body,
    one file that compaction leaves alone. A range_narrow query's zone maps
    then skip the other half's file.

    Set-up runs on one connection, one request after another: setup_s is
    the server's boot plus the send-to-ack time of every set-up request
    (the loads and the artifact builds). The wait for the compaction tick,
    a fixed 10 s timer, is not in it."""
    import duckdb
    import pyarrow as pa
    db, table, n_rows = "qm", "sensor", 400_000
    flat = db + "_" + table
    run.tables.append((db, table))
    srv = run.boot()
    data = Rows(run.rng, n_rows)
    quarter = n_rows // 4
    bodies = [data.body(table, 0, quarter), data.body(table, quarter, 2 * quarter),
              data.body(table, 2 * quarter, n_rows)]
    house = os.path.join(run.dir, "house.parquet")
    house_tbl = house_file(run, house)
    docs = Docs(run.rng)
    run.tables.append((docs.db, docs.table))
    boot_s = srv.wait_ready() - run.t0
    c = run.client()

    def load(body):
        r = c.call("load", "/write?db=" + db, body, "text/plain")
        run.input_bytes += len(body) if r[4] == 204 else 0

    # the query pool: every class once, in a fixed order; the seed picks
    # literals that leave each query's work the same. Every table class is
    # sent unscoped (the published snapshot), and range_narrow and agg_full
    # also `?db=`-scoped (a child session with its views built per request)
    span = n_rows * 1_000_000
    baseline = ("LOAD parquet; SELECT town, district, count() AS c, round(avg(price)) AS price "
                "FROM read_parquet('%s') GROUP BY town, district LIMIT 10;" % house)
    artifact_sql = docs.queries()
    lo = BASE_NS + run.rng.randrange(span - 20_000_000_000)
    rng_sql = ("SELECT host, count(*) AS c, sum(v) AS s FROM {t} WHERE time BETWEEN %d AND %d "
               "GROUP BY host ORDER BY host" % (lo, lo + 2_000_000_000))
    s0 = run.rng.randrange(n_rows - 1000)
    rows_sql = ("SELECT seq, host, v, time FROM {t} WHERE seq >= %d AND seq < %d ORDER BY seq"
                % (s0, s0 + 1000))
    agg_sql = ("SELECT host, count(*) AS c, sum(v) AS s, min(seq) AS lo, max(seq) AS hi "
               "FROM {t} WHERE seq %% 7 <> %d GROUP BY host ORDER BY host"
               % run.rng.randrange(7))
    classes = (("range_narrow", rng_sql, (lo, lo + 2_000_000_000)),
               ("rows_out", rows_sql, None), ("agg_full", agg_sql, None))
    pool = []
    for cls, sql, rng_ in classes:
        pool.append((cls, sql.format(t=flat), None, rng_))
        if cls != "rows_out":
            pool.append((cls, sql.format(t=table), db, rng_))
    pool.append(("baseline_groupby", baseline, None, None))
    pool += [("artifact_sql", sql, qdb, name) for name, sql, qdb in artifact_sql]

    def settle():
        """Wait for a compaction tick to merge what is loaded."""
        deadline = now() + 40
        while now() < deadline:
            if run.settled(db, table) and run.settled(docs.db, docs.table):
                return True
            time.sleep(0.05)
        return False

    # the docs and the first half; the artifact builds, while a compaction
    # tick merges the first half's two files; then the second half
    run.input_bytes += docs.load(c)
    load(bodies[0])
    load(bodies[1])
    builds = docs.build(c, "setup")
    t = now()
    settled = settle()
    run.put("settle_wait_s", now() - t, "s")
    load(bodies[2])
    count_ops(run, builds, (200,))
    run.put("artifact_build_s", sum(r[3] - r[2] for r in builds), "s")
    run.build_windows = [(r[0][1], r[2], r[3]) for r in builds]
    count_ops(run, run.log_ops({"load"}, in_window=False), (204,))
    run.check("compaction settles after each half of the load", settle() and settled)
    run.put("files_after_settle", len(run.live_files(db, table)), "count")
    run.setup_done(boot_s + sum(r[3] - r[2] for r in c.log
                                if r[0] == "load" or r[0][0] == "build"))

    # one client in a closed loop, so each query runs alone and the traced
    # run maps spans to requests by time. Warm-up: one pass over the pool,
    # so every query text is planned and code-generated before the window
    for _, sql, qdb, _ in pool:
        c.query("warm", sql, qdb)
    run.window(seconds, at=now())
    j = 0
    while now() < run.w1:
        cls, sql, qdb, tag = pool[j % len(pool)]
        c.query((cls, sql, qdb, tag, j % len(pool)), sql, qdb)
        j += 1
    run.end_window()
    recs = [r for r in c.log if isinstance(r[0], tuple) and r[2] >= run.w0]

    # answers against DuckDB over the benchmark's own inputs
    con = duckdb.connect()
    arrow = pa.table({"seq": data.seq, "host": ["h%d" % h for h in data.host],
                      "v": data.v, "time": data.time})
    con.register(table, arrow)
    con.register(flat, arrow)
    con.register("house", house_tbl)
    full_house = set(norm(con.execute(
        "SELECT town, district, count(*) AS c, round(avg(price)) AS price "
        "FROM house GROUP BY town, district").fetchall()))
    expected = {}
    for r in recs:
        cls, sql, qdb, tag, _ = r[0]
        ok = r[4] == 200
        try:
            if ok and cls == "baseline_groupby":
                got = norm([tuple(x.values()) for x in results(r[5])])
                ok = len(got) == 10 and all(g in full_house for g in got)
            elif ok and cls == "artifact_sql":
                ok = docs.answer_ok(tag, r[5])
            elif ok:
                if sql not in expected:
                    expected[sql] = norm(con.execute(sql).fetchall())
                ok = norm([tuple(x.values()) for x in results(r[5])]) == expected[sql]
        except (ValueError, KeyError, IndexError, TypeError):
            ok = False
        run.attempted += 1
        if not ok:
            run.failed += 1
            log("wrong or failed query:", cls, r[4], r[5][:200])
    latency_metrics(run, "query", recs, "requests")
    run.put("queries_per_s", rate(recs, run.w0), "1/s")
    for cls in ("baseline_groupby", "agg_full", "range_narrow", "rows_out", "artifact_sql"):
        run.put(cls + "_p50_s", med([r[3] - r[2] for r in recs
                                    if r[0][0] == cls and r[4] == 200]), "s")
    for scope, want in (("scoped", True), ("unscoped", False)):
        run.put("query_%s_p50_s" % scope, med([r[3] - r[2] for r in recs if r[4] == 200 and
                                               r[0][0] in ("agg_full", "range_narrow",
                                                           "rows_out") and
                                               (r[0][2] is not None) == want]), "s")
    run.put("stored_bytes_per_input_byte", run.stored_bytes() / max(1, run.input_bytes), "ratio")
    run.peak = srv.sample().get("VmHWM", 0.0)
    run.primary = run.qrecs = recs
    run.queries = [(sql, qdb) for cls, sql, qdb, _ in pool]
    run.ranges = [rg for cls, _, _, rg in pool if cls == "range_narrow"]
    run.response_bytes = [len(r[5]) for r in recs if r[4] == 200]


def num(x):
    try:
        return float(x)
    except (TypeError, ValueError):
        return x


def norm(rows):
    """Rows as tuples of floats and strings: the server renders int64 as
    strings, DuckDB returns ints."""
    return [tuple(num(x) for x in r) for r in rows]


WORDS = ["w%03d" % i for i in range(400)]
KINDS = ["cluster_map", "bm25", "hdr", "cms"]


class Docs:
    """A seeded docs table (doc_id, value, text) with planted near-duplicate
    pairs: the input of the artifact builds, and the SQL that reads what
    the builds publish, with its answer checks."""

    def __init__(self, rng, n_docs=600, n_pairs=30, db="art", table="docs"):
        self.db, self.table, self.n = db, table, n_docs
        self.flat = db + "_" + table
        docs = [[rng.choice(WORDS) for _ in range(40)] for _ in range(n_docs)]
        half = n_docs // 2
        dups = rng.sample(range(half), n_pairs)
        for j, src in enumerate(dups):   # near-duplicates: one word changed
            d = list(docs[src])
            d[rng.randrange(len(d))] = "zz%03d" % j
            docs[half + j] = d
        self.docs = docs
        self.pairs = sorted((src, half + j) for j, src in enumerate(dups))
        self.values = [rng.randrange(1, 1_000_000) for _ in range(n_docs)]
        self.term = " ".join(docs[0][:3])
        self.true_cms = sum(1 for d in docs for k in range(len(d) - 2)
                            if " ".join(d[k:k + 3]) == self.term)
        self.bm25_terms = " ".join(docs[1][:2])

    def load(self, c):
        """Write the table in one body; returns the bytes acked."""
        body = "\n".join('%s doc_id=%di,value=%di,text="%s" %d' % (
            self.table, i, self.values[i], " ".join(self.docs[i]), BASE_NS + i)
            for i in range(self.n)).encode()
        r = c.call("load", "/write?db=" + self.db, body, "text/plain")
        return len(body) if r[4] == 204 else 0

    def build(self, c, tag):
        """One synchronous build of every artifact kind."""
        return [c.call(("build", k, tag), "/gigapi/artifacts?db=" + self.db,
                       json.dumps({"kind": k, "table": self.table, "sync": True}).encode())
                for k in KINDS]

    def queries(self):
        f, t = self.flat, self.table
        return [
            ("q_cluster_map", "SELECT doc_id, cluster_id FROM %s_cluster_map WHERE cluster_id "
             "IN (SELECT cluster_id FROM %s_cluster_map GROUP BY cluster_id HAVING count(*) > 1) "
             "ORDER BY doc_id" % (f, f), None),
            ("q_bm25", "SELECT doc_id, match_bm25(text, '%s') AS s FROM %s ORDER BY s DESC, "
             "doc_id LIMIT 10" % (self.bm25_terms, t), self.db),
            ("q_cms", "SELECT cms_count('%s') AS c" % self.term, None),
            ("q_hdr", "SELECT (hdr_quantile(500)).rank AS r", None),
            ("q_docs", "SELECT count(*) AS n, sum(value) AS s FROM %s" % t, self.db),
        ]

    def answer_ok(self, name, data):
        rows = results(data)
        if name == "q_cluster_map":  # exactly the planted pairs share a cluster
            got = {}
            for x in rows:
                got.setdefault(x["cluster_id"], []).append(int(x["doc_id"]))
            return sorted(tuple(sorted(g)) for g in got.values()) == self.pairs
        if name == "q_bm25":
            return len(rows) == 10
        if name == "q_cms":  # a count-min sketch never undercounts
            return len(rows) == 1 and int(rows[0]["c"]) >= self.true_cms
        if name == "q_hdr":
            return len(rows) == 1
        if name == "q_docs":
            return int(rows[0]["n"]) == self.n and int(rows[0]["s"]) == sum(self.values)
        return False


WORKLOADS = {
    "ingest_burst": ingest_burst,
    "query_mix": query_mix,
}


# ---------------------------------------------------------------- metrics

def end_to_end(run):
    """The gated metrics (BENCHMARK.json end_to_end): every workload
    reports them, with the same meaning on each. requests_per_s is the one
    client's rate over the window's primary requests (see pool_rate):
    100 k-row /write bodies on ingest_burst, checked /query requests on
    query_mix."""
    return {
        "setup_s": (run.setup_s, "s"),
        "requests_per_s": (pool_rate(run.primary), "1/s"),
        "stored_bytes_per_input_byte": run.record["stored_bytes_per_input_byte"],
    }


def source_map():
    """Scala file name -> the program module (package under graft/) it is in."""
    base = os.path.join(ROOT, "src", "main", "scala")
    out = {}
    for path in glob.glob(os.path.join(base, "**", "*.scala"), recursive=True):
        parts = os.path.relpath(path, base).split(os.sep)
        out[parts[-1]] = parts[1] if len(parts) > 2 and parts[0] == "graft" else parts[0]
    return out


def category(stage, smap):
    """ingest, compact, ops or query, from the stage's call site
    (`parquet at IngestWriter.scala:320`)."""
    m = re.search(r" at (\S+\.scala):\d+", stage["name"] or "")
    module = smap.get(m.group(1)) if m else None
    return module if module in ("ingest", "compact", "ops") else "query"


def harness(run):
    spec = os.path.join(run.dir, "harness.json")
    json.dump({"bodies": run.bodies, "root": run.root,
               # the index metrics cover the table the `time` ranges address
               "tables": [list(run.tables[0])],
               "ranges": [list(r) for r in run.ranges],
               "queries": [{"sql": s, "db": d} for s, d in dict.fromkeys(run.queries)]},
              open(spec, "w"))
    tmp = os.path.join(run.dir, "tmp")
    opts = [o for o in run.launch["java_options"] if not o.startswith("-Xmx")]
    r = subprocess.run(["java"] + opts + [HEAP, "-Djava.io.tmpdir=" + tmp,
                                          "-Dspark.local.dir=" + tmp, "-cp",
                                          ":".join(run.launch["classpath"]),
                                          "perfbench.Harness", spec],
                       cwd=run.dir, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       timeout=150)
    lines = [l for l in r.stdout.decode().splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        raise RuntimeError("harness failed with %d" % r.returncode)
    return json.loads(lines[-1])


def per_layer(run):
    """Per-layer metrics from the traced server's spans, the harness and /proc."""
    spans = [json.loads(l) for l in open(run.trace_out) if l.strip()]
    smap = source_map()
    off = run.wall_off
    ws, we = (run.w0 + off) * 1000, (run.w1 + off) * 1000
    stages = {s["stage"]: s for s in spans if s["k"] == "stage"}
    job_end = {s["job"]: s["t"] for s in spans if s["k"] == "job_end"}
    jobs = []
    for j in spans:
        if j["k"] == "job_start" and j["job"] in job_end:
            sts = [stages[i] for i in j["stages"] if i in stages]
            if sts:
                cat = category(sts[0], smap)
                jobs.append(dict(t0=j["t"], t1=job_end[j["job"]], cat=cat, stages=sts))
    win_jobs = [j for j in jobs if ws <= j["t0"] < we]
    win_stages = [s for s in stages.values() if ws <= s["submit"] < we]
    queries = [q for q in spans if q["k"] == "query" and ws <= q["t"] < we]
    reads = [q for q in queries if q["func"] not in ("command", "save", "insertInto")]
    samples = [s for s in spans if s["k"] == "sample"]

    def sample_at(t):
        return min(samples, key=lambda s: abs(s["t"] - t)) if samples else {}

    s0, s1 = sample_at(ws), sample_at(we)
    h = harness(run)
    m = {}
    m["lineproto.parse_s"] = h["lineproto.parse_s"]
    m["lineproto.rows"] = h["lineproto.rows"]

    flushes = [j for j in win_jobs if j["cat"] == "ingest"]
    writes = run.log_ops({"write"})
    rows = run.rows_per_write * sum(1 for r in writes if r[4] == 204)
    flush_s = statistics.mean([(j["t1"] - j["t0"]) / 1000 for j in flushes]) if flushes else 0.0
    m["ingest.flushes"] = len(flushes)
    m["ingest.rows_per_flush"] = rows / len(flushes) if flushes else 0.0
    m["ingest.flush_s"] = flush_s
    m["ingest.stats_s"] = h["ingest.stats_s"]
    acks = [r[3] - r[2] for r in writes if r[4] == 204]
    m["ingest.ack_wait_s"] = max(0.0, med(acks) - flush_s) if acks else 0.0

    merges = [j for j in win_jobs if j["cat"] == "compact"]
    cout = sum(s["out_bytes"] for s in win_stages if category(s, smap) == "compact")
    iout = sum(s["out_bytes"] for s in win_stages if category(s, smap) == "ingest")
    m["compact.merges"] = sum(1 for j in merges if any(s["out_bytes"] for s in j["stages"]))
    m["compact.s"] = sum((j["t1"] - j["t0"]) / 1000 for j in merges)
    m["compact.bytes_rewritten_ratio"] = cout / iout if iout else 0.0
    m["compact.files_live"] = sum(len(run.live_files(d, t)) for d, t in run.tables)

    for k in ("index.files_considered", "index.files_kept", "index.bytes_skipped",
              "views.sqlfor_s", "views.sqlfor_scoped_s", "views.sqlfor_unscoped_s",
              "dialect.rewrite_s"):
        m[k] = h[k]

    def qmean(key):
        return statistics.mean([q[key] for q in reads]) / 1000 if reads else 0.0

    m["plan.analysis_s"] = qmean("analysis_ms")
    m["plan.optimization_s"] = qmean("optimization_ms")
    m["plan.planning_s"] = qmean("planning_ms")
    qreqs = [r for r in run.qrecs if r[4] == 200]
    m["server.response_bytes"] = statistics.mean(run.response_bytes) if run.response_bytes else 0
    http_s = []
    for r in qreqs:
        a, b = (r[2] + off) * 1000, (r[3] + off) * 1000
        inside = sum(q["analysis_ms"] + q["optimization_ms"] + q["planning_ms"] + q["exec_ms"]
                     for q in reads if a <= q["t"] <= b)
        http_s.append(max(0.0, (b - a - inside) / 1000))
    m["server.http_s"] = statistics.mean(http_s) if http_s else 0.0
    qstages = [s for s in win_stages if category(s, smap) == "query"]
    n_q = max(1, len(qreqs))
    m["exec.s"] = qmean("exec_ms")
    m["exec.tasks"] = sum(s["tasks"] for s in qstages) / n_q
    m["exec.shuffle_bytes"] = sum(s["shuffle_read"] + s["shuffle_write"] for s in qstages) / n_q
    m["exec.spill_bytes"] = sum(s["spill"] for s in qstages) / n_q
    m["exec.exchanges"] = (statistics.mean([q["exchanges"] for q in reads])
                           if reads else 0.0)
    m["jvm.gc_s"] = (s1.get("gc_ms", 0) - s0.get("gc_ms", 0)) / 1000

    builds = run.build_windows
    for kind in ("cluster_map", "bm25", "hdr", "cms"):
        per = []
        for k, a, b in builds:
            if k == kind:
                a, b = (a + off) * 1000, (b + off) * 1000
                per.append(sum(j["t1"] - j["t0"] for j in jobs if a <= j["t0"] <= b) / 1000)
        m["ops.build_s." + kind] = statistics.mean(per) if per else 0.0
    bstages = [s for s in stages.values()
               if any((a + off) * 1000 <= s["submit"] <= (b + off) * 1000 for _, a, b in builds)]
    n_b = max(1, len(builds))
    m["ops.shuffle_bytes"] = sum(s["shuffle_read"] + s["shuffle_write"] for s in bstages) / n_b
    m["ops.spill_bytes"] = sum(s["spill"] for s in bstages) / n_b

    p0, p1 = run.start_sample, run.end_sample
    m["jvm.threads"] = p1.get("Threads", 0)
    m["jvm.threads_growth"] = p1.get("Threads", 0) - p0.get("Threads", 0)
    m["jvm.open_fds"] = p1.get("fds", 0)
    m["jvm.open_fds_growth"] = p1.get("fds", 0) - p0.get("fds", 0)
    m["jvm.persisted_rdds"] = s1.get("persisted_rdds", 0)
    m["jvm.persisted_rdds_growth"] = s1.get("persisted_rdds", 0) - s0.get("persisted_rdds", 0)
    m["jvm.heap_mb"] = s1.get("heap_mb", 0.0)
    m["jvm.heap_mb_growth"] = s1.get("heap_mb", 0.0) - s0.get("heap_mb", 0.0)
    return m


LAYER_UNITS = {
    "lineproto.parse_s": "s", "lineproto.rows": "rows",
    "ingest.flushes": "count", "ingest.rows_per_flush": "rows", "ingest.flush_s": "s",
    "ingest.stats_s": "s", "ingest.ack_wait_s": "s",
    "compact.merges": "count", "compact.s": "s", "compact.bytes_rewritten_ratio": "ratio",
    "compact.files_live": "count",
    "index.files_considered": "count", "index.files_kept": "count",
    "index.bytes_skipped": "bytes",
    "views.sqlfor_s": "s", "views.sqlfor_scoped_s": "s", "views.sqlfor_unscoped_s": "s",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "dialect.rewrite_s": "s", "server.response_bytes": "bytes", "server.http_s": "s",
    "exec.s": "s", "exec.tasks": "count", "exec.shuffle_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.exchanges": "count", "jvm.gc_s": "s",
    "ops.build_s.cluster_map": "s", "ops.build_s.bm25": "s", "ops.build_s.hdr": "s",
    "ops.build_s.cms": "s", "ops.shuffle_bytes": "bytes", "ops.spill_bytes": "bytes",
    "jvm.threads": "count", "jvm.threads_growth": "count", "jvm.open_fds": "count",
    "jvm.open_fds_growth": "count", "jvm.persisted_rdds": "count",
    "jvm.persisted_rdds_growth": "count", "jvm.heap_mb": "MB", "jvm.heap_mb_growth": "MB",
}


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "Main.scala"))):
        raise SystemExit("perfbench: no program sources next to perfbench/ "
                         "(expected build.sbt and src/main/scala/graft)")
    launch = build()
    os.makedirs(WORK, exist_ok=True)
    run = Run(args, launch)
    try:
        WORKLOADS[args.workload](run, args.seconds)
        run.collect_spans()
    finally:
        for c in run.clients:
            c.close()
        if run.server:
            run.server.stop()
    s0, s1 = run.start_sample, run.end_sample
    for k, unit in (("Threads", "count"), ("fds", "count"), ("VmRSS", "MB")):
        run.put("server_%s_start" % k.lower(), s0.get(k, 0), unit)
        run.put("server_%s_end" % k.lower(), s1.get(k, 0), unit)
    e2e = end_to_end(run)
    latency_metrics(run, "request", run.primary, "requests")
    done = sum(1 for r in run.primary if r[4] in (200, 204))
    run.put("server_cpu_s_per_request",
            (s1.get("cpu_s", 0) - s0.get("cpu_s", 0)) / max(1, done), "s")
    run.put("peak_rss_mb", run.peak, "MB")
    run.put("error_ratio", run.failed / max(1, run.attempted), "ratio")
    # untraced runs append their gated figures to a file of this build and
    # --seconds; a traced run reports its overhead against their median
    untraced = os.path.join(WORK, "untraced-%s-%ds-%d.jsonl" % (
        args.workload, args.seconds, os.path.getmtime(LAUNCH)))
    for stale in glob.glob(os.path.join(WORK, "untraced-%s-*.jsonl" % args.workload)):
        if stale != untraced:
            os.remove(stale)
    fig = {**e2e, **run.record}
    if run.trace:
        metrics = {k: (v, LAYER_UNITS[k]) for k, v in per_layer(run).items()}
        if os.path.exists(untraced):
            base = [json.loads(l) for l in open(untraced)]
            for k in ("setup_s", "requests_per_s"):
                ref = med([b[k] for b in base])
                if ref:
                    run.put("trace_overhead." + k, fig[k][0] / ref - 1, "ratio")
    else:
        metrics = e2e
        with open(untraced, "a") as f:
            f.write(json.dumps({k: fig[k][0] for k in ("setup_s", "requests_per_s")}) + "\n")
    record = {k: {"value": v, "unit": u} for k, (v, u) in {**e2e, **run.record}.items()}
    record["checks"] = {name: ok for name, ok in run.checks}
    print(json.dumps({"record": record, "workload": args.workload, "seed": args.seed}))
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": max(1, run.attempted),
                      "failed": run.failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    shutil.rmtree(run.dir, ignore_errors=True)


if __name__ == "__main__":
    main()
