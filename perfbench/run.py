#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload serve_rw --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md for the method):
  serve_rw      nproc-1 closed-loop /sql readers, plus one writer
                committing to a vtable copy of orders
  pipeline_ops  LLM-data contract queries run in-process, collect()ed

The first run in a checkout builds the harness (sbt, offline) and
generates the synthetic corpus into .bench_build/; later runs reuse
both. Every run checks its outputs and prints, as the last line of
stdout, one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics; --trace 1 is the separate
traced run and reports the per-layer metrics. A run-stamp line
(nproc, -Xmx, Spark master, shuffle partitions, seed) precedes it.
"""
import argparse
import hashlib
import http.client
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
NPROC = os.cpu_count() or 4
XMX = "2g"
DATA_SEED = 42
# corpus scales (1.0 = sf0.1 row counts): serve_rw reads a quarter and
# pipeline_ops a tenth, so set-up, warm-up and the timed window fit in a
# run of about 50 s
SERVE_SCALE, PIPE_SCALE = 0.25, 0.1
# the pipeline_ops queries: a warm pass takes about 6 s on 4 cores, so
# three fit in a 20 s window. The other LLM-data queries need index
# builds (ivf, pq, dedup_lsh, text_idx, semdecon, pagerank_edges) or
# would push a run past its time budget; perfbench/README.md lists them
PIPELINE_QUERIES = (
    "q_dedup_exact q_minhash_lsh q_line_dedup q_tfidf q_bpe_tokens "
    "q_nb_filter q_quality_score q_pii_scan").split()
JVM_FLAGS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


# ---- build and data ---------------------------------------------------

def _digest(paths):
    h = hashlib.sha256()
    for base in paths:
        for d, dirs, files in os.walk(base) if os.path.isdir(base) else [
                (os.path.dirname(base), [], [os.path.basename(base)])]:
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles graft plus the harness; returns the runtime classpath."""
    srcs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main")]
    if not all(os.path.exists(p) for p in srcs):
        raise BenchError("graft sources (build.sbt, src/main) not found")
    props = os.path.join(ROOT, "project", "build.properties")
    digest = _digest(srcs + [props, os.path.join(HARNESS, "build.sbt"),
                             os.path.join(HARNESS, "src")])
    stamp = os.path.join(WORK, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got["digest"] == digest:
            return got["classpath"]
    log("building graft and the harness (sbt, offline)")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export harness/Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=840)
    cp = [ln for ln in r.stdout.splitlines() if "harness" in ln and ":" in ln
          and ln.startswith("/")]
    if r.returncode != 0 or not cp:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise BenchError(f"build failed (sbt exit {r.returncode})")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1]}, f)
    return cp[-1]


def corpus(scale):
    """The synthetic corpus at `scale`, generated once per checkout."""
    import gen
    out = os.path.join(WORK, f"data-{DATA_SEED}-{scale}")
    marker = os.path.join(out, "_digest")
    want = _digest([os.path.join(HERE, "gen.py")])
    if not (os.path.exists(marker) and open(marker).read() == want):
        shutil.rmtree(out, ignore_errors=True)
        gen.generate(out, DATA_SEED, scale)
        with open(marker, "w") as f:
            f.write(want)
    return out


# ---- the graft JVM ----------------------------------------------------

class Jvm:
    """The harness JVM running graft; tracks its peak resident memory."""

    def __init__(self, cp, args, cwd):
        # temp files (Spark's local dir, graft's TempDirs) stay in the run
        tmp = os.path.join(cwd, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.proc = subprocess.Popen(
            ["java", f"-Xmx{XMX}", f"-Djava.io.tmpdir={tmp}"] + JVM_FLAGS +
            ["-cp", cp, "perfbench.Harness"] + args,
            cwd=cwd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=open(os.path.join(cwd, "jvm.log"), "w"), text=True,
            start_new_session=True)
        self.peak_kb = 0
        self._stop = False
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _sample(self):
        while not self._stop and self.proc.poll() is None:
            try:
                with open(f"/proc/{self.proc.pid}/status") as f:
                    for ln in f:
                        if ln.startswith("VmHWM:"):
                            self.peak_kb = max(self.peak_kb, int(ln.split()[1]))
            except OSError:
                pass
            time.sleep(0.2)

    def line(self, timeout=600):
        """Next protocol line from the JVM's stdout."""
        box = []
        t = threading.Thread(target=lambda: box.append(self.proc.stdout.readline()))
        t.daemon = True
        t.start()
        t.join(timeout)
        if not box or not box[0]:
            raise BenchError("graft JVM stopped answering (see jvm.log)")
        return box[0].strip()

    def wait_for(self, prefix, timeout=600):
        """Skips stdout lines up to the first that starts with `prefix`."""
        end = time.time() + timeout
        while True:
            ln = self.line(max(1, end - time.time()))
            if ln.startswith(prefix):
                return ln
            if ln.startswith("ERR"):
                raise BenchError(f"harness: {ln}")

    def command(self, cmd, timeout=120):
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self.wait_for("OK", timeout)

    def close(self):
        self._stop = True
        try:
            if self.proc.poll() is None:
                try:
                    self.proc.stdin.write("quit\n")
                    self.proc.stdin.flush()
                except OSError:
                    pass
                self.proc.wait(30)
        except subprocess.TimeoutExpired:
            pass
        if self.proc.poll() is None:
            os.killpg(self.proc.pid, signal.SIGKILL)
        self.proc.wait()
        self._sampler.join()


# ---- metrics helpers ----------------------------------------------------

def med(xs):
    return statistics.median(xs) if xs else 0.0


def union_ms(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def job_table(trace):
    """Per job group: job intervals and summed stage metrics."""
    stages_by_job = {}
    for s in trace.get("stages", []):
        stages_by_job.setdefault(s["job"], []).append(s)
    groups = {}
    for j in trace.get("jobs", []):
        if j["end"] < 0:
            continue
        g = groups.setdefault(j["group"], {"jobs": [], "stages": []})
        g["jobs"].append(j)
        g["stages"].extend(stages_by_job.get(j["id"], []))
    return groups


def engine_metrics(units, groups):
    """Spark-layer figures per unit of work (a request or a query):
    `units` is a list of (group, wall_ms). Medians across units."""
    rows = []
    for g, wall in units:
        e = groups.get(g, {"jobs": [], "stages": []})
        iv = [(j["start"], j["end"]) for j in e["jobs"]]
        busy = union_ms(iv)
        st = e["stages"]
        run = sum(s["run_ms"] for s in st)
        span = (max(b for _, b in iv) - min(a for a, _ in iv)) if iv else 0
        rows.append({
            "jobs": len(e["jobs"]), "stages": len(st),
            "tasks": sum(s["tasks"] for s in st),
            "job_ms": busy, "outside": max(0.0, wall - busy),
            "gap": max(0, span - busy), "run": run,
            "cpu": sum(s["cpu_ms"] for s in st),
            "gc": sum(s["gc_ms"] for s in st),
            "sw": sum(s["shuffle_write"] for s in st),
            "sr": sum(s["shuffle_read"] for s in st),
            "spill": sum(s["spill"] for s in st),
            "busy": run / (busy * NPROC) if busy else 0.0})
    if not rows:
        rows = [dict.fromkeys(("jobs", "stages", "tasks", "job_ms", "outside",
                               "gap", "run", "cpu", "gc", "sw", "sr", "spill",
                               "busy"), 0)]
    tasks = sum(r["tasks"] for r in rows)
    nst = sum(r["stages"] for r in rows)
    m = lambda k: med([r[k] for r in rows])
    return {
        "driver.outside_jobs_ms": m("outside"),
        "spark.jobs": statistics.mean(r["jobs"] for r in rows),
        "spark.stages": statistics.mean(r["stages"] for r in rows),
        "spark.tasks_per_stage": tasks / nst if nst else 0.0,
        "spark.job_ms": m("job_ms"), "driver.gap_ms": m("gap"),
        "exec.run_ms": m("run"), "exec.cpu_ms": m("cpu"),
        "exec.busy_frac": m("busy"), "exec.gc_ms": m("gc"),
        "shuffle.write_bytes": statistics.mean(r["sw"] for r in rows),
        "shuffle.read_bytes": statistics.mean(r["sr"] for r in rows),
        "spill.bytes": statistics.mean(r["spill"] for r in rows)}


def catalyst_metrics(trace):
    ex = trace.get("execs", [])
    return {f"catalyst.{k}_ms": statistics.mean(e[k] for e in ex) if ex else 0.0
            for k in ("analysis", "optimization", "planning")}


# per-layer metric names, reported on every workload (0 where the
# workload bypasses the layer); op.<query>.* come from pipeline_ops
LAYER_BASE = [
    ("service.outside_jobs_ms", "ms"), ("service.response_bytes", "bytes"),
    ("driver.outside_jobs_ms", "ms"),
    ("service.queued", "count"), ("service.in_flight", "count"),
    ("cache.hit_ratio", "ratio"), ("cache.hit_ms", "ms"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks_per_stage", "count"), ("spark.job_ms", "ms"),
    ("driver.gap_ms", "ms"), ("exec.run_ms", "ms"), ("exec.cpu_ms", "ms"),
    ("exec.busy_frac", "ratio"), ("exec.gc_ms", "ms"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("spill.bytes", "bytes"),
    ("catalog.construct_ms", "ms"), ("catalog.construct_jobs", "count"),
    ("vtable.commit_ms.insert", "ms"), ("vtable.commit_ms.update", "ms"),
    ("vtable.commit_ms.delete", "ms"), ("vtable.commit_ms.optimize", "ms"),
    ("vtable.commit_ms.vacuum", "ms"),
    ("vtable.bytes_written_per_commit", "bytes"),
    ("vtable.files_live", "count"), ("vtable.versions", "count"),
    ("memo.hits", "count"),
    ("point_p50_ms", "ms"), ("scan_p50_ms", "ms"),
    ("commit_p50_ms", "ms"),
    ("storage_amp", "ratio"), ("pass_s", "s"), ("query_p50_ms", "ms"),
    ("error_rate", "ratio"),
    ("trace.overhead_pct", "%"), ("peak_rss_mb", "MB"),
    ("heap_live_mb", "MB")]
LAYER = LAYER_BASE + [(f"op.{q}.{k}", u) for q in PIPELINE_QUERIES
                      for k, u in (("ms", "ms"), ("jobs", "count"),
                                   ("shuffle_bytes", "bytes"))]
END_TO_END = [("setup_s", "s"), ("throughput_qps", "1/s"),
              ("latency_p50_ms", "ms")]


def layer_result(values):
    units = dict(LAYER)
    return {k: {"value": float(values.get(k, 0.0)), "unit": units[k]}
            for k, _ in LAYER}


# ---- HTTP load ----------------------------------------------------------

class Client:
    """One closed-loop /sql client on a keep-alive connection."""

    def __init__(self, port, name):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        self.name = name
        self.n = 0

    def sql(self, query, args=None, cache=False):
        self.n += 1
        body = {"query": query, "limit": 1000, "tag": f"{self.name}-{self.n}"}
        if args:
            body["args"] = args
        if cache:
            body["cache"] = True
        data = json.dumps(body)
        t0 = time.perf_counter()
        t_start = time.time()
        try:
            self.conn.request("POST", "/sql", data,
                              {"Content-Type": "application/json"})
            resp = self.conn.getresponse()
            raw = resp.read()
            status = resp.status
        except (OSError, http.client.HTTPException) as e:
            self.conn.close()
            raw, status = str(e).encode(), 599
        ms = (time.perf_counter() - t0) * 1000
        out = {"tag": body["tag"], "ms": ms, "status": status, "bytes": len(raw),
               "start": t_start}
        if status == 200:
            out["json"] = json.loads(raw)
        else:
            out["error"] = raw[:300].decode("utf-8", "replace")
        return out

    def get(self, path):
        self.conn.request("GET", path)
        resp = self.conn.getresponse()
        return json.loads(resp.read())


def run_clients(fns, until):
    """Runs one thread per callable; each loops until `until()` is true."""
    errors = []

    def loop(fn):
        try:
            while not until():
                fn()
        except Exception as e:  # a client crash is a failed run
            errors.append(repr(e))
    ts = [threading.Thread(target=loop, args=(f,)) for f in fns]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    if errors:
        raise BenchError(f"client failed: {errors[0]}")


def sample_metrics(client, stop, out):
    """Polls /metrics for queue depth and in-flight queries."""
    while not stop.is_set():
        try:
            m = client.get("/metrics")
            out.append((m["queued"], m["in_flight"]))
        except (OSError, http.client.HTTPException, ValueError):
            client.conn.close()
        stop.wait(0.25)


# ---- serve_rw -------------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
POINT = [
    ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
     "o_orderpriority FROM orders WHERE o_orderkey = :k", int(150000 * SERVE_SCALE)),
    ("SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
     "FROM customer WHERE c_custkey = :k", 15000),
    ("SELECT p_partkey, p_name, p_brand, p_size, p_retailprice "
     "FROM part WHERE p_partkey = :k", 20000)]
# 96 dashboard texts (one per month), more than ResultCache's 64 entries
DASH_MONTHS = [(y, m) for y in range(1992, 2000) for m in range(1, 13)]


def dash_sql(y, m):
    y2, m2 = (y + 1, 1) if m == 12 else (y, m + 1)
    return ("SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS revenue "
            f"FROM orders WHERE o_orderdate >= TIMESTAMP '{y}-{m:02d}-01 00:00:00' "
            f"AND o_orderdate < TIMESTAMP '{y2}-{m2:02d}-01 00:00:00' "
            "GROUP BY o_orderpriority ORDER BY o_orderpriority")


RW = "rw_orders"
# one cycle of a reader's schedule. On the sf0.1 tables: 35% point
# lookups, 20% dashboards sent with "cache": true, 10% uncached scans,
# 5% joins and 5% graft functions; on the writer's table: 15% cached
# aggregates and 10% point lookups. Each reader walks seed-shuffled
# cycles, so every window holds the same mix.
CYCLE = (["point"] * 7 + ["dash"] * 4 + ["scan"] * 2 + ["join", "fn"] +
         ["vagg"] * 3 + ["vpoint"] * 2)
WARMUP_REQUESTS = 100
WARMUP_WRITES = 4
# the writer list's length per window second; commits take 0.5-1.5 s
MAX_WRITES_PER_SECOND = 4


def read_schedule(rng, zipf_ranks, touched):
    """A reader's endless request stream: (class, sql, args, cache)."""
    while True:
        cycle = CYCLE[:]
        rng.shuffle(cycle)
        for cls in cycle:
            yield read_request(rng, zipf_ranks, touched, cls)


def read_request(rng, zipf_ranks, touched, cls):
    """One reader request of class `cls`: (class, sql, args, cache)."""
    if cls == "vagg":
        return cls, Model.AGG, None, True
    if cls == "vpoint":
        return cls, Model.POINT, {"k": touched[rng.randrange(len(touched))]}, False
    if cls == "point":
        sql, n = POINT[rng.randrange(len(POINT))]
        return "point", sql, {"k": rng.randrange(n)}, False
    if cls == "dash":
        y, m = DASH_MONTHS[zipf_ranks[_zipf(rng, len(DASH_MONTHS))]]
        return "dash", dash_sql(y, m), None, True
    if cls == "scan":
        if rng.random() < 0.5:
            d = f"{rng.randrange(1996, 2002)}-{rng.randrange(1, 13):02d}-01"
            return "scan", (
                "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
                "sum(l_extendedprice) AS sum_base, "
                "sum(l_extendedprice * (1 - l_discount)) AS sum_disc, "
                "avg(l_discount) AS avg_disc, count(*) AS n FROM lineitem "
                f"WHERE l_shipdate <= TIMESTAMP '{d} 00:00:00' "
                "GROUP BY l_returnflag, l_linestatus "
                "ORDER BY l_returnflag, l_linestatus"), None, False
        y = rng.randrange(1992, 2001)
        disc = rng.randrange(2, 9) / 100
        return "scan", (
            "SELECT sum(l_extendedprice * l_discount) AS revenue, count(*) AS n "
            f"FROM lineitem WHERE l_shipdate >= TIMESTAMP '{y}-01-01 00:00:00' "
            f"AND l_shipdate < TIMESTAMP '{y + 1}-01-01 00:00:00' "
            f"AND l_discount BETWEEN {disc - 0.01:.2f} AND {disc + 0.01:.2f} "
            f"AND l_quantity < {rng.randrange(20, 30)}"), None, False
    if cls == "join":
        d = f"{rng.randrange(1993, 2000)}-{rng.randrange(1, 13):02d}-15"
        return "join", (
            "SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue, "
            "CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority "
            "FROM customer JOIN orders ON c_custkey = o_custkey "
            "JOIN lineitem ON l_orderkey = o_orderkey "
            f"WHERE c_mktsegment = '{rng.choice(SEGMENTS)}' "
            f"AND o_orderdate < TIMESTAMP '{d} 00:00:00' "
            f"AND l_shipdate > TIMESTAMP '{d} 00:00:00' "
            "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
            "ORDER BY revenue DESC, l_orderkey LIMIT 10"), None, False
    return "fn", (
        "SELECT lang, count(*) AS n, sum(token_count(text)) AS tokens "
        f"FROM documents WHERE source = 'src{rng.randrange(20)}' "
        "GROUP BY lang ORDER BY lang"), None, False


def _zipf(rng, n, s=1.1):
    w = [1 / (i + 1) ** s for i in range(n)]
    x = rng.random() * sum(w)
    for i, wi in enumerate(w):
        x -= wi
        if x <= 0:
            return i
    return n - 1


def duck(data_dir, tables):
    import duckdb
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    # graft's token_count: whitespace-separated tokens
    con.execute("CREATE MACRO token_count(t) AS "
                "len(list_filter(regexp_split_to_array(t, '\\s+'), x -> x <> ''))")
    return con


def same_rows(got, want_cols, want_rows):
    """/sql JSON rows equal DuckDB rows, in order, floats to 1e-9."""
    if len(got) != len(want_rows):
        return False
    for g, w in zip(got, want_rows):
        for c, v in zip(want_cols, w):
            x = g.get(c)
            if isinstance(v, float) or isinstance(x, float):
                if x is None or v is None or not math.isclose(
                        float(x), float(v), rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif str(x) != str(v):
                return False
    return True


def check_reads(con, results):
    """Counts /sql answers that disagree with DuckDB on the same data."""
    memo = {}
    bad = 0
    for r in results:
        if r["status"] != 200:
            bad += 1
            continue
        sql = r["sql"]
        if r["args"]:
            sql = sql.replace(":k", str(int(r["args"]["k"])))
        if sql not in memo:
            rel = con.sql(sql)
            memo[sql] = (rel.columns, rel.fetchall())
        if not same_rows(r["json"]["rows"], *memo[sql]):
            bad += 1
            if bad <= 3:
                log("wrong answer:", sql[:120], r["json"]["rows"][:2],
                    memo[sql][1][:2])
    return bad


def writer_plan(rng, n, live, first_key):
    """Seed-fixed writer statements: (verb, sql, model-op)."""
    plan = []
    live = sorted(live)
    nxt = first_key
    for i in range(1, n + 1):
        if i % 12 == 0:
            plan.append(("optimize", f"OPTIMIZE {RW}", None))
            continue
        if i % 18 == 0:
            plan.append(("vacuum", f"VACUUM {RW} RETAIN 4 VERSIONS", None))
            continue
        r = rng.random()
        if r < 0.4:
            rows = []
            for _ in range(rng.randrange(1, 6)):
                rows.append((nxt, rng.randrange(15000), "O",
                             round(rng.uniform(1000, 5000), 2)))
                nxt += 1
            vals = ", ".join(
                f"({k}, {c}, '{s}', {p}, TIMESTAMP_NTZ '1999-06-01 00:00:00', "
                "'3-MEDIUM')" for k, c, s, p in rows)
            plan.append(("insert", f"INSERT INTO {RW} VALUES {vals}",
                         ("insert", rows)))
            live.extend(k for k, *_ in rows)
        elif r < 0.75:
            k = live[rng.randrange(len(live))]
            plan.append(("update",
                         f"UPDATE {RW} SET o_totalprice = o_totalprice + 1.5, "
                         f"o_orderstatus = 'F' WHERE o_orderkey = {k}",
                         ("update", k)))
        else:
            k = live.pop(rng.randrange(len(live)))
            plan.append(("delete", f"DELETE FROM {RW} WHERE o_orderkey = {k}",
                         ("delete", k)))
    return plan


class Model:
    """The writer's statement list applied to the initial table: the
    aggregate and per-key states after each statement. A reader answer
    must be a state from the statements acknowledged before the request
    was sent up to those sent before its answer arrived."""

    AGG = (f"SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS s "
           f"FROM {RW} GROUP BY o_orderstatus ORDER BY o_orderstatus")
    POINT = (f"SELECT o_orderkey, o_orderstatus, o_totalprice FROM {RW} "
             "WHERE o_orderkey = :k")

    def __init__(self, rows):
        self.rows = {k: (s, p) for k, s, p in rows}
        # key -> [(statements applied, state)], from its first change
        self.history = {}
        self.aggs = [self._agg()]  # aggs[i]: the aggregate after i statements

    def _agg(self):
        acc = {}
        for s, p in self.rows.values():
            n, t = acc.get(s, (0, 0.0))
            acc[s] = (n + 1, t + p)
        return sorted((s, n, t) for s, (n, t) in acc.items())

    def state(self, k):
        return self.rows.get(k)

    def apply(self, op):
        """Applies the next statement; None (OPTIMIZE, VACUUM) changes no row."""
        i = len(self.aggs)
        if op is not None:
            kind, arg = op
            keys = [r[0] for r in arg] if kind == "insert" else [arg]
            for k in keys:
                self.history.setdefault(k, [(0, self.state(k))])
            if kind == "insert":
                for k, _, s, p in arg:
                    self.rows[k] = (s, p)
            elif kind == "update":
                s, p = self.rows[arg]
                self.rows[arg] = ("F", p + 1.5)
            else:
                del self.rows[arg]
            for k in keys:
                self.history[k].append((i, self.state(k)))
        self.aggs.append(self._agg())

    def agg_ok(self, rows, lo, hi):
        got = [(r["o_orderstatus"], r["n"], r["s"]) for r in rows]
        return any(len(a) == len(got) and all(
            x[0] == y[0] and x[1] == y[1] and math.isclose(x[2], y[2], rel_tol=1e-9)
            for x, y in zip(a, got)) for a in self.aggs[lo:hi + 1])

    def point_ok(self, k, rows, lo, hi):
        hist = self.history.get(k, [(0, self.state(k))])
        states = [max((x for x in hist if x[0] <= lo), key=lambda x: x[0])[1]] + \
            [st for i, st in hist if lo < i <= hi]
        got = None if not rows else (rows[0]["o_orderstatus"],
                                     rows[0]["o_totalprice"])
        return len(rows) <= 1 and any(
            (s is None and got is None) or (s is not None and got is not None and
                                            s[0] == got[0] and
                                            math.isclose(s[1], got[1], rel_tol=1e-12))
            for s in states)


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(p, f))
               for p, _, fs in os.walk(d) for f in fs)


def serve_rw(ctx):
    import pyarrow.parquet as pq
    data = corpus(SERVE_SCALE)
    jvm = ctx.start_jvm(["serve", data])
    port = int(jvm.wait_for("[graft-http] listening on").split()[-1])
    ctx.stamp["ready_s"] = time.time() - ctx.t_start
    master, parts = jvm.command("conf").split()[1:3]
    ctx.stamp.update(spark_master=master, shuffle_partitions=int(parts))
    loc = os.path.join(ctx.run_dir, RW)
    w = Client(port, "w")
    r = w.sql(f"CREATE TABLE {RW} USING vtable LOCATION '{loc}' AS "
              "SELECT * FROM orders")
    if r["status"] != 200:
        raise BenchError(f"CTAS failed: {r.get('error')}")
    t = pq.read_table(os.path.join(data, "orders.parquet"),
                      columns=["o_orderkey", "o_orderstatus", "o_totalprice"])
    init = list(zip(*(t.column(i).to_pylist() for i in range(3))))
    model = Model(init)
    rng = random.Random(ctx.seed)
    ranks = list(range(len(DASH_MONTHS)))
    rng.shuffle(ranks)
    # a count-bounded writer list, longer than the writer can send in
    # the windows; the writer stops when a window's time is up
    plan = writer_plan(rng, WARMUP_WRITES + int(MAX_WRITES_PER_SECOND * ctx.seconds),
                       [k for k, *_ in init], 10 ** 7)
    touched = [op[1] if op[0] != "insert" else op[1][0][0]
               for _, _, op in plan if op]
    readers = [Client(port, f"r{i}") for i in range(max(1, NPROC - 1))]
    streams = [read_schedule(random.Random(ctx.seed * 1000 + i), ranks, touched)
               for i in range(len(readers))]
    rec = []
    lock = threading.Lock()
    # writer statements sent and acknowledged so far: a read may see the
    # state after any statement from `acked` at its send to `sent` at its
    # answer
    sent, acked = [0], [0]

    def reader(i):
        def go():
            cls, sql, args, cache = next(streams[i])
            lo = acked[0]
            res = readers[i].sql(sql, args, cache)
            res.update(cls=cls, sql=sql, args=args, lo=lo, hi=sent[0])
            with lock:
                rec.append(res)
        return go
    fns = [reader(i) for i in range(len(readers))]
    writes = []
    bytes_per = []

    def write_while(more, measure):
        while sent[0] < len(plan) and more():
            verb, sql, op = plan[sent[0]]
            b0 = dir_bytes(loc) if measure else 0
            sent[0] += 1
            res = w.sql(sql)
            model.apply(op)
            acked[0] += 1
            if measure:
                bytes_per.append(dir_bytes(loc) - b0)
            res.update(verb=verb)
            writes.append(res)

    def window(writer_more, readers_done, measure=False):
        """Readers and the writer run side by side until `readers_done()`
        holds and the writer has stopped (`writer_more()` false); returns
        the window's record."""
        del rec[:]
        w0 = len(writes)
        done = threading.Event()
        samples, stop = [], threading.Event()
        sampler = threading.Thread(target=sample_metrics, args=(mon, stop, samples))
        stats0 = mon.get("/cachestats")
        t0 = time.time()
        sampler.start()
        wt = threading.Thread(target=lambda: (
            write_while(writer_more, measure), done.set()))
        wt.start()
        run_clients(fns, lambda: done.is_set() and readers_done())
        wt.join()
        stop.set()
        sampler.join()
        stats1 = mon.get("/cachestats")
        return {"t0": t0, "drained": time.time() - t0, "results": rec[:],
                "writes": writes[w0:], "samples": samples,
                "cache": (stats1["hits"] - stats0["hits"],
                          stats1["misses"] - stats0["misses"])}

    def timed(secs, measure):
        """A window of `secs` seconds. Requests still in flight when it
        closes are checked but not timed."""
        end = time.time() + secs
        lg = window(lambda: time.time() < end, lambda: time.time() >= end, measure)
        done = lambda x: x["start"] + x["ms"] / 1000 <= end
        lg.update(wall=end - lg["t0"], timed=[r for r in lg["results"] if done(r)],
                  timed_writes=[x for x in lg["writes"] if done(x)])
        return lg

    mon = Client(port, "mon")
    # warm-up (untimed, counted in setup_s): a fixed amount of reader
    # work beside the first writer statements
    t_warm = time.time()
    warm = window(lambda: sent[0] < WARMUP_WRITES,
                  lambda: len(rec) >= WARMUP_REQUESTS)
    half = len(warm["results"]) // 2
    ctx.stamp.update(warmup_s=time.time() - t_warm,
                     warmup_requests=len(warm["results"]),
                     warmup_qps_first_half=_qps(warm["results"][:half]),
                     warmup_qps_second_half=_qps(warm["results"][half:]))
    ctx.setup_end = time.time()
    log_ = []
    for secs, traced in ctx.windows():
        if traced:
            jvm.command("trace")
        log_.append(timed(secs, traced))
        log_[-1]["traced"] = traced
        if traced:
            jvm.command("untrace")
    ctx.stamp.update(window_s=[round(lg["wall"], 3) for lg in log_],
                     window_drained_s=[round(lg["drained"], 3) for lg in log_],
                     writer_statements=len(writes))
    # final state; in a traced run also the table's shape, the snapshot
    # written once and the trace (all untimed)
    fin = w.sql(Model.AGG)
    keys = sorted(set(touched))
    pts = []
    for i in range(0, len(keys), 200):
        ks = ", ".join(str(k) for k in keys[i:i + 200])
        pts += w.sql(f"SELECT o_orderkey, o_orderstatus, o_totalprice FROM {RW} "
                     f"WHERE o_orderkey IN ({ks})")["json"]["rows"]
    if ctx.trace:
        ctx.heap_live = int(jvm.command("heap").split()[1])
        detail = w.sql(f"DESCRIBE DETAIL {RW}")
        snap = os.path.join(ctx.run_dir, "snapshot")
        snap_bytes = int(jvm.command(f"snapshot {RW} {snap}").split()[1])
        dump = os.path.join(ctx.run_dir, "trace.json")
        jvm.command(f"dump {dump}")
        with open(dump) as f:
            trace = json.load(f)
    jvm.close()
    ctx.peak_kb = jvm.peak_kb
    # checks: base-table answers equal DuckDB's; every answer on the
    # writer's table is a state the model passed through while the
    # request was open; the final table equals the model's final state
    reads = [r for lg in log_ for r in lg["results"]]
    allw = [x for lg in log_ for x in lg["writes"]]
    con = duck(data, ["orders", "customer", "part", "lineitem", "documents"])
    failed = check_reads(con, [r for r in reads if not r["cls"].startswith("v")])
    stale = 0
    for r in reads:
        if r["cls"].startswith("v"):
            stale += not (r["status"] == 200 and (
                model.agg_ok(r["json"]["rows"], r["lo"], r["hi"])
                if r["cls"] == "vagg" else
                model.point_ok(r["args"]["k"], r["json"]["rows"], r["lo"], r["hi"])))
    if stale:
        log(f"{stale} answers on {RW} outside the states open during the request")
    failed += stale + sum(x["status"] != 200 for x in writes)
    n = len(model.aggs) - 1
    final_ok = fin["status"] == 200 and model.agg_ok(fin["json"]["rows"], n, n)
    want = {k: model.state(k) for k in keys if model.state(k)}
    gotp = {r["o_orderkey"]: (r["o_orderstatus"], r["o_totalprice"]) for r in pts}
    final_ok = final_ok and set(want) == set(gotp) and all(
        want[k][0] == gotp[k][0] and math.isclose(want[k][1], gotp[k][1],
                                                  rel_tol=1e-12) for k in want)
    if not final_ok:
        log("final table state differs from the writer model")
        failed += 1
    plain = [lg for lg in log_ if not lg["traced"]]
    base = {"wall": sum(lg["wall"] for lg in plain),
            "results": [r for lg in plain for r in lg["timed"]],
            "writes": [x for lg in plain for x in lg["writes"]]}
    done = len(base["results"]) + sum(len(lg["timed_writes"]) for lg in plain)
    ctx.stamp.update(timed_reads=len(base["results"]),
                     timed_writes=done - len(base["results"]))
    metrics = {"throughput_qps": done / base["wall"],
               "latency_p50_ms": med([r["ms"] for r in base["results"]])}
    if ctx.trace:
        m = service_layers(base, next(lg for lg in log_ if lg["traced"]), trace)
        m["commit_p50_ms"] = med([x["ms"] for x in base["writes"]])
        for verb in ("insert", "update", "delete", "optimize", "vacuum"):
            m[f"vtable.commit_ms.{verb}"] = med(
                [x["ms"] for x in allw if x["verb"] == verb])
        m["vtable.bytes_written_per_commit"] = med(bytes_per)
        if detail["status"] == 200:
            m["vtable.files_live"] = detail["json"]["rows"][0]["num_files"]
            m["vtable.versions"] = detail["json"]["rows"][0]["version"]
        m["storage_amp"] = dir_bytes(loc) / snap_bytes
        metrics.update(m)
    return len(reads) + len(writes) + 1, failed, metrics


def _qps(results):
    if len(results) < 2:
        return 0.0
    span = max(r["start"] + r["ms"] / 1000 for r in results) - \
        min(r["start"] for r in results)
    return len(results) / span if span > 0 else 0.0


def service_layers(base, traced, trace):
    """Per-layer figures of a serve run: classes from the untraced
    window, Spark attribution from the traced one."""
    by = lambda w, c: [r["ms"] for r in w["results"] if r.get("cls") == c]
    lat = [r["ms"] for r in base["results"]]
    m = {"point_p50_ms": med(by(base, "point")),
         "scan_p50_ms": med(by(base, "scan") + by(base, "join"))}
    groups = job_table(trace)
    units = [("graft-http-" + r["tag"], r["ms"]) for r in traced["results"]
             if r["status"] == 200]
    m.update(engine_metrics(units, groups))
    # a request's wall outside its jobs is the service's share
    m["service.outside_jobs_ms"] = m.pop("driver.outside_jobs_ms")
    m.update(catalyst_metrics(trace))
    h, mi = traced["cache"]
    hits = [r["ms"] for r in traced["results"]
            if r["status"] == 200 and r["json"].get("cached")]
    m["cache.hit_ratio"] = h / (h + mi) if h + mi else 0.0
    m["cache.hit_ms"] = med(hits)
    m["service.response_bytes"] = med([r["bytes"] for r in traced["results"]])
    s = traced["samples"] or [(0, 0)]
    m["service.queued"] = statistics.mean(q for q, _ in s)
    m["service.in_flight"] = statistics.mean(f for _, f in s)
    tl = [r["ms"] for r in traced["results"]]
    m["trace.overhead_pct"] = (med(tl) / med(lat) - 1) * 100 if lat and tl else 0.0
    return m


# ---- pipeline_ops -------------------------------------------------------

def pipeline_ops(ctx):
    data = corpus(PIPE_SCALE)
    out = os.path.join(ctx.run_dir, "out")
    jvm = ctx.start_jvm(["pipeline", data, out, str(ctx.seed), str(ctx.seconds),
                         "1" if ctx.trace else "0", ",".join(PIPELINE_QUERIES)])
    try:
        jvm.proc.wait(170 - (time.time() - ctx.t_start))
    except subprocess.TimeoutExpired:
        raise BenchError("pipeline run exceeded its time budget")
    jvm.close()
    ctx.peak_kb = jvm.peak_kb
    if jvm.proc.returncode != 0:
        raise BenchError(f"pipeline JVM exit {jvm.proc.returncode} (see jvm.log)")
    with open(os.path.join(out, "pipeline.json")) as f:
        res = json.load(f)
    ctx.setup_end = res["setup_done"] / 1000
    ctx.heap_live = res["heap_live"]
    ctx.stamp.update(spark_master=res["master"],
                     shuffle_partitions=int(res["shuffle_partitions"]))
    with open(os.path.join(HERE, "fingerprints.json")) as f:
        want = json.load(f)
    runs = res["runs"]
    failed = 0
    for r in res["warm"] + runs:
        exp = want.get(r["name"])
        if exp is None or exp["rows"] != r["rows"] or exp["fp"] != r["fp"]:
            failed += 1
            if failed <= 3:
                log("fingerprint mismatch:", r["name"], r["rows"], r["fp"], exp)
    plain = [r for r in runs if not r["traced"]]
    wall = lambda r: r["construct_ms"] + r["action_ms"]
    passes = {}
    for r in plain:
        passes[r["pass"]] = passes.get(r["pass"], 0.0) + wall(r)
    ctx.stamp["window_s"] = [round(v / 1000, 3) for v in passes.values()]
    # medians over the timed passes, so one slow pass does not move the
    # figures: throughput is the queries of a pass per median pass time,
    # latency the median over the queries of each one's median time
    per_query = {}
    for r in plain:
        per_query.setdefault(r["name"], []).append(wall(r))
    pass_s = med(list(passes.values())) / 1000
    metrics = {"throughput_qps": len(per_query) / pass_s,
               "latency_p50_ms": med([med(v) for v in per_query.values()])}
    if ctx.trace:
        traced = [r for r in runs if r["traced"]]
        groups = job_table(res["trace"])
        m = engine_metrics([(f"pipe-{r['pass']}-{r['name']}", wall(r))
                            for r in traced], groups)
        m.update(catalyst_metrics(res["trace"]))
        m["pass_s"] = pass_s
        m["query_p50_ms"] = metrics["latency_p50_ms"]
        m["catalog.construct_ms"] = med([r["construct_ms"] for r in traced])
        cj = []
        for r in traced:
            jobs = groups.get(f"pipe-{r['pass']}-{r['name']}", {"jobs": []})["jobs"]
            cj.append(sum(j["start"] < r["start"] + r["construct_ms"] for j in jobs))
        m["catalog.construct_jobs"] = statistics.mean(cj)
        m["memo.hits"] = sum(r["memo_hits"] for r in traced)
        for r in traced:
            g = groups.get(f"pipe-{r['pass']}-{r['name']}", {"jobs": [], "stages": []})
            m[f"op.{r['name']}.ms"] = wall(r)
            m[f"op.{r['name']}.jobs"] = len(g["jobs"])
            m[f"op.{r['name']}.shuffle_bytes"] = sum(
                s["shuffle_write"] for s in g["stages"])
        tp = traced[0]["pass"]
        around = [v for k, v in passes.items() if abs(k - tp) == 1]
        m["trace.overhead_pct"] = (sum(wall(r) for r in traced) /
                                   statistics.mean(around) - 1) * 100
        metrics.update(m)
    return len(res["warm"]) + len(runs), failed, metrics


# ---- main ---------------------------------------------------------------

WORKLOADS = {"serve_rw": serve_rw, "pipeline_ops": pipeline_ops}


class Ctx:
    def __init__(self, a):
        self.seed, self.seconds, self.trace = a.seed, a.seconds, a.trace == 1
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.stamp = {"workload": a.workload, "seed": a.seed, "nproc": NPROC,
                      "xmx": XMX, "trace": a.trace}
        self.t_start = self.setup_end = None
        self.peak_kb = 0
        self.heap_live = 0
        self.jvm = None

    def windows(self):
        """Timed windows: one; a traced run splits it in thirds, traced
        in the middle, so the untraced thirds bracket it and the
        tracing overhead is not confounded with the warm-up trend."""
        if self.trace:
            return [(self.seconds / 3, False), (self.seconds / 3, True),
                    (self.seconds / 3, False)]
        return [(self.seconds, False)]

    def start_jvm(self, args):
        self.t_start = time.time()
        self.jvm = Jvm(self.cp, args, self.run_dir)
        return self.jvm


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    ctx = Ctx(a)
    try:
        ctx.cp = build()
        shutil.rmtree(ctx.run_dir, ignore_errors=True)
        os.makedirs(ctx.run_dir)
        attempted, failed, m = WORKLOADS[a.workload](ctx)
    except (BenchError, subprocess.TimeoutExpired, OSError) as e:
        log("error:", e)
        return 1
    finally:
        if ctx.jvm is not None:
            ctx.jvm.close()
        shutil.rmtree(ctx.run_dir, ignore_errors=True)
    ctx.stamp["error_rate"] = failed / attempted
    print(json.dumps({"stamp": ctx.stamp}))
    if a.trace:
        metrics = layer_result(dict(m, error_rate=failed / attempted,
                                    peak_rss_mb=ctx.peak_kb / 1024,
                                    heap_live_mb=ctx.heap_live / 2 ** 20))
    else:
        vals = {"setup_s": ctx.setup_end - ctx.t_start, **m}
        metrics = {k: {"value": float(vals[k]), "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
