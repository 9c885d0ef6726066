#!/usr/bin/env python3
"""Serving benchmark for the graft engine, driven through QueryServer.

    python3 perfbench/run.py --workload serve_point|ivm_loop|analytic_batch|all
                             --seed N --seconds S --trace 0|1 [--smoke]

Run from the root of a source checkout. The first run builds the engine and
the JVM harness with sbt (output under .bench_build/) and generates the
synthetic tables; later runs reuse both and start the harness with plain
`java` on the exported runtime classpath, so sbt never counts toward a
measurement.

--trace 0 starts QueryServer in a fresh JVM, warms it up, drives the
workload's seeded requests over HTTP for --seconds, checks every response
against an independent answer (DuckDB), and prints the end-to-end metrics.
--trace 1 replays the same seeded requests in-process through the layer
functions the route handlers call and prints per-layer metrics.
--smoke runs a few requests of every workload on the smallest tables and
asserts that every metric is printed and nothing failed.

The last line of stdout is one JSON object:
{"correct": bool, "attempted": n, "failed": n, "metrics": {name: {value, unit}}}
"""
import argparse
import base64
import hashlib
import json
import os
import queue
import random
import subprocess
import sys
import threading
import time
import urllib.error
import urllib.request

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import workloads  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-Xmx4g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    # temporary files and Spark's block and shuffle files stay in the checkout
    f"-Djava.io.tmpdir={BUILD}/tmp"]
JAVA_ENV = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(BUILD, "spark-local"))

# Workload shape: clients, data scale, warm-up data scale, warm-up size and
# clients, requests per round (a timed run stops sending at the deadline
# only on a round boundary), and requests the traced run replays (None:
# all). serve_point and ivm_loop are closed loops; analytic_batch is one
# pass over its list.
WORKLOADS = {
    "serve_point": dict(clients=4, scale=0.1, warm_scale=None, warm=50,
                        warm_clients=4, round=1, trace_n=20),
    "ivm_loop": dict(clients=1, scale=0.1, warm_scale=None, warm=3,
                     warm_clients=1, round=3, trace_n=3),
    "analytic_batch": dict(clients=1, scale=0.1, warm_scale=0.01, warm=None,
                           warm_clients=4, round=1, trace_n=None),
}
SMOKE_SCALE = 0.001

END_TO_END = [("setup_s", "s"), ("req_p50_ms", "ms"), ("req_p90_ms", "ms"),
              ("throughput_rps", "req/s"), ("heap_retained_mb", "MiB")]
INFO = [("batch_s", "s"), ("failed_frac", "ratio")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# --- build -----------------------------------------------------------------

def _stamp():
    h = hashlib.sha256()
    for base in ("src/main", "perfbench/src", "perfbench/build.sbt",
                 "perfbench/project/build.properties"):
        top = os.path.join(ROOT, base)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = _stamp()
    if os.path.exists(cp_file):
        saved_stamp, cp = open(cp_file).read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("perfbench: building with sbt ...")
    with open(os.path.join(BUILD, "sbt.log"), "w") as out:
        res = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime / fullClasspath"],
            cwd=os.path.join(ROOT, "perfbench"), env=env, stdout=subprocess.PIPE,
            stderr=out, text=True, timeout=800, stdin=subprocess.DEVNULL)
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    if res.returncode != 0 or not lines:
        raise SystemExit(f"perfbench: sbt build failed, see {BUILD}/sbt.log\n"
                         + res.stdout[-3000:])
    cp = lines[-1].strip()
    oracle = os.path.join(BUILD, "oracle_sql.json")
    subprocess.run(["java", *JAVA_OPTS, "-cp", cp, "perfbench.Harness",
                    "oracle", oracle], check=True, timeout=120, env=JAVA_ENV,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def data_dir(scale):
    return gen_data.ensure(os.path.join(BUILD, "data", f"sf{scale:g}"), scale)


# --- HTTP client -----------------------------------------------------------

def send(port, req):
    """One request; returns (status, body, seconds from send to last byte)."""
    if req.kind in ("run", "runc"):
        url, data = f"http://127.0.0.1:{port}/{req.kind}", req.arg.encode()
    elif req.kind == "query":
        url, data = f"http://127.0.0.1:{port}/query/{req.arg}", None
    else:
        url, data = f"http://127.0.0.1:{port}{req.arg}", None
    t0 = time.perf_counter()
    try:
        with urllib.request.urlopen(url, data=data, timeout=170) as r:
            status, body = r.status, r.read()
    except urllib.error.HTTPError as e:
        status, body = e.code, e.read()
    except OSError as e:
        status, body = -1, str(e).encode()
    return status, body, time.perf_counter() - t0


def drive(port, reqs, clients, deadline=None, round_size=1):
    """Closed loop: `clients` threads take the next request from `reqs`
    until it is exhausted or `deadline` passes; a deadline ends the run
    only at a multiple of `round_size` requests; every request sent is
    awaited. Returns [(req, status, body, seconds, end)] in completion
    order, `end` on the perf_counter clock, and the time of the first send."""
    it = iter(reqs)
    lock = threading.Lock()
    done = []
    t_first = [None]
    sent = [0]

    def worker():
        while True:
            with lock:
                if deadline is not None and sent[0] % round_size == 0 \
                        and time.perf_counter() >= deadline:
                    return
                req = next(it, None)
                if req is None:
                    return
                sent[0] += 1
                if t_first[0] is None:
                    t_first[0] = time.perf_counter()
            status, body, secs = send(port, req)
            with lock:
                done.append((req, status, body, secs, time.perf_counter()))

    threads = [threading.Thread(target=worker) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return done, t_first[0] or time.perf_counter()


# --- JVM -------------------------------------------------------------------

class Jvm:
    """A harness JVM; stderr goes to a log file under .bench_build."""

    def __init__(self, cp, args, name):
        self.log_path = os.path.join(BUILD, f"{name}.log")
        self.err = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            ["java", *JAVA_OPTS, "-cp", cp, "perfbench.Harness", *args],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.err,
            text=True, cwd=BUILD, env=JAVA_ENV)
        self.lines = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.proc.stdout:
            self.lines.put(line.rstrip("\n"))
        self.lines.put(None)

    def expect(self, prefix, timeout):
        end = time.monotonic() + timeout
        while True:
            try:
                line = self.lines.get(timeout=max(0.0, end - time.monotonic()))
            except queue.Empty:
                line = None
            if line is None:
                raise RuntimeError(f"harness JVM gave no {prefix}; see "
                                   f"{self.log_path}")
            if line.startswith(prefix):
                return json.loads(line[len(prefix):])

    def command(self, cmd):
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    def close(self, timeout=60):
        try:
            if self.proc.poll() is None:
                self.command("quit")
                self.proc.stdin.close()
            self.proc.wait(timeout=timeout)
        except (OSError, subprocess.TimeoutExpired):
            self.proc.kill()
            self.proc.wait()
        self.err.close()
        return self.proc.returncode


# --- workloads -------------------------------------------------------------

def requests(name, seed, n_cust):
    """(warm-up requests, timed request stream): the warm-up keys come from
    a seed stream separate from the timed one."""
    timed = workloads.STREAMS[name](random.Random(seed), n_cust)
    if name == "analytic_batch":
        return list(workloads.analytic_batch(None, n_cust)), timed
    warm_stream = workloads.STREAMS[name](random.Random(f"warm-{seed}"),
                                          n_cust)
    return [next(warm_stream) for _ in range(WORKLOADS[name]["warm"])], timed


def pct(values, q):
    """The q-th percentile by the Harrell-Davis estimator: a Beta-weighted
    average of all order statistics, steadier than one order statistic on
    the few dozen samples a run has."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = q / 100 * (n + 1), (1 - q / 100) * (n + 1)
    t = np.linspace(0.0, 1.0, 20001)[1:-1]
    pdf = np.exp((a - 1) * np.log(t) + (b - 1) * np.log1p(-t))
    cdf = np.concatenate(([0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)))
    cdf = np.interp(np.arange(n + 1) / n, t, cdf / cdf[-1])
    return float(np.dot(np.diff(cdf), x))


def run_untraced(name, seed, seconds, smoke, cp, oracle_sql):
    w = WORKLOADS[name]
    scale = SMOKE_SCALE if smoke else w["scale"]
    data = data_dir(scale)
    warm_data = data_dir(SMOKE_SCALE if smoke else w["warm_scale"]) \
        if w["warm_scale"] else None
    n_cust = int(150_000 * scale)
    warm, timed = requests(name, seed, n_cust)
    if smoke:
        timed = iter([next(timed) for _ in range(3)]) \
            if name != "analytic_batch" else timed
    oracle = workloads.Oracle(data, oracle_sql,
                              os.path.join(BUILD, "oracle-cache"))

    t0 = time.perf_counter()
    jvm = Jvm(cp, ["serve", data, warm_data or "-", str(cpus())],
              f"serve-{name}")
    try:
        ports = jvm.expect("PERFBENCH_READY ", timeout=170)
        t_ready = time.perf_counter() - t0
        warm_port = ports["warm_port"] if warm_data else ports["port"]
        warm_res, _ = drive(warm_port, warm, w["warm_clients"])
        setup_s = time.perf_counter() - t0
        bad_warm = [r for r in warm_res if r[1] != 200]
        if bad_warm:
            raise RuntimeError(f"warm-up request failed: {bad_warm[0][1]} "
                               f"{bad_warm[0][2][:300]!r}")
        deadline = None if name == "analytic_batch" or smoke \
            else time.perf_counter() + seconds
        done, t_first = drive(ports["port"], timed, w["clients"], deadline,
                              w["round"])
        wall = max(end for *_, end in done) - t_first
        jvm.command("stats")
        stats = jvm.expect("PERFBENCH_STATS ", timeout=60)
    finally:
        t_close = time.perf_counter()
        jvm.close()
    t_check = time.perf_counter()
    log(f"perfbench: setup {setup_s:.1f} s (server up after {t_ready:.1f} s),"
        f" measured {wall:.1f} s, "
        f"jvm exit {t_check - t_close:.1f} s")
    lat_ms = [secs * 1000 for *_, secs, _ in done]
    ok = [workloads.check(oracle, req, status, body)
          for req, status, body, *_ in done]
    for (req, status, body, *_), good in zip(done, ok):
        if not good:
            log(f"perfbench: WRONG {req.kind} {req.arg[:80]!r} -> {status} "
                f"{body[:200]!r}")
    failed = ok.count(False)
    beyond = sum(1 for x in lat_ms if x > pct(lat_ms, 90))
    log(f"perfbench: checks {time.perf_counter() - t_check:.1f} s")
    by_kind = {}
    for (req, *_), ms in zip(done, lat_ms):
        kind = req.kind if req.kind != "get" else req.arg.split("/")[1]
        by_kind.setdefault(kind, []).append(ms)
    log("perfbench: p50 by kind: " + ", ".join(
        f"{k} {pct(v, 50):.0f} ms (n={len(v)})" for k, v in by_kind.items()))
    log(f"perfbench: {name}: {len(done)} requests, {failed} failed, "
        f"{beyond} samples beyond p90, wall {wall:.2f} s")
    if deadline is not None and w["round"] == 1:
        # correct work done inside [first send, deadline]: a request still
        # in flight at the deadline counts with the share of its time that
        # fell inside, so neither the drain after the deadline nor whole-
        # request rounding moves the rate
        done_in_window = sum(
            min(1.0, max(0.0, (deadline - (end - secs)) / secs))
            for (*_, secs, end), good in zip(done, ok) if good)
        throughput = done_in_window / (deadline - t_first)
    else:
        throughput = (len(done) - failed) / wall
    metrics = {
        "setup_s": setup_s,
        "req_p50_ms": pct(lat_ms, 50),
        "req_p90_ms": pct(lat_ms, 90),
        "throughput_rps": throughput,
        "heap_retained_mb": stats["heap_mb"],
        "batch_s": wall,
        "failed_frac": failed / max(1, len(done)),
    }
    return metrics, len(done), failed, {"req_p90_samples": len(lat_ms),
                                        "req_p90_beyond": beyond}


# --- traced run ------------------------------------------------------------

# Per-layer metrics of the result line: measured on every kept workload,
# so no time reads a constant 0 on a workload that skips its layer.
PER_LAYER = [
    ("core.load_calls", "count"), ("core.load_jobs", "count"),
    ("exec.plan_ms", "ms"), ("exec.collect_ms", "ms"), ("exec.jobs", "count"),
    ("exec.tasks", "count"), ("exec.rows_examined_per_row", "ratio"),
    ("exec.shuffle_mb", "MiB"), ("exec.gc_ms", "ms"),
    ("server.overhead_ms", "ms"), ("server.response_kb", "KiB"),
    ("jvm.persisted_rdds_end", "count"),
    ("trace.inproc_p50_ms", "ms"), ("trace.remainder_ms", "ms"),
    ("trace.overhead_pct", "%"),
] + [(f"operators.{q}_jobs", "count") for q in workloads.BATCH_QUERIES]
# Printed on stdout only: times of layers some workload never calls.
PER_LAYER_INFO = [
    ("core.load_ms", "ms"), ("lang.parse_ms", "ms"),
    ("lang.normalize_ms", "ms"), ("lang.compile_ms", "ms"),
    ("lang.optimize_ms", "ms"), ("lang.optimize_jobs", "count"),
    ("lang.interp_ms", "ms"), ("lang.interp_jobs", "count"),
    ("lang.interp_ms_per_iter", "ms"),
] + [(f"operators.{q}_ms", "ms") for q in workloads.BATCH_QUERIES]


def same_counts_as_last_run(name, seed, smoke, counts):
    """Self-check: per request, the Tables.load calls and the jobs of the
    core, exec and lang.optimize/interp spans must repeat exactly between
    traced runs of one build with one seed. The first run of a seed saves
    them; each later one compares."""
    path = os.path.join(BUILD, "counts", f"{name}-{seed}-{int(smoke)}-"
                        f"{_stamp()[:16]}.json")
    if os.path.exists(path):
        with open(path) as f:
            saved = json.load(f)
        if saved != counts:
            log(f"perfbench: counts differ from the last traced run of "
                f"seed {seed}: {saved} != {counts}")
            return False
        return True
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(counts, f)
    return True


def run_traced(name, seed, smoke, cp, oracle_sql):
    w = WORKLOADS[name]
    scale = SMOKE_SCALE if smoke else w["scale"]
    data = data_dir(scale)
    warm_data = data_dir(SMOKE_SCALE if smoke else w["warm_scale"]) \
        if w["warm_scale"] else None
    n_cust = int(150_000 * scale)
    warm, timed = requests(name, seed, n_cust)
    n = 3 if smoke and w["trace_n"] else w["trace_n"]
    timed = list(timed) if n is None else [next(timed) for _ in range(n)]
    req_file = os.path.join(BUILD, f"trace-{name}.req")
    out_file = os.path.join(BUILD, f"trace-{name}.jsonl")
    with open(req_file, "w") as f:
        for phase, reqs in (("warm", warm), ("timed", timed)):
            for r in reqs:
                arg = base64.b64encode(r.arg.encode()).decode() \
                    if r.kind in ("run", "runc") else r.arg
                f.write(f"{phase}\t{r.kind}\t{arg}\n")
    jvm = Jvm(cp, ["trace", data, warm_data or "-", str(cpus()),
                   str(w["warm_clients"]), req_file, out_file], f"trace-{name}")
    jvm.proc.stdin.close()
    if jvm.proc.wait(timeout=170) != 0:
        raise RuntimeError(f"traced replay failed; see {jvm.log_path}")
    jvm.err.close()
    recs = [json.loads(l) for l in open(out_file)]
    by = lambda t: [r for r in recs if r["type"] == t]  # noqa: E731

    # request ids in the file count warm-up lines first
    first = len(warm)
    oracle = workloads.Oracle(data, oracle_sql,
                              os.path.join(BUILD, "oracle-cache"))
    resp = {r["req"]: r["body"] for r in by("resp")}
    http = {r["req"]: r for r in by("http")}
    failed = 0
    for i, req in enumerate(timed, start=first):
        good = http[i]["status"] == 200 and \
            workloads.same_rows(resp[i], oracle.expected(req))
        if not good:
            failed += 1
            log(f"perfbench: WRONG traced {req.kind} {req.arg[:80]!r}")

    reqs = {p: {r["req"]: r for r in by("req") if r["pass"] == p}
            for p in ("traced", "plain")}
    spans = {s["id"]: s for s in by("span")}  # only the traced pass has spans
    jobs = by("job")

    def root_layer(span):
        """The layer name of the outermost non-request span above span."""
        s = span
        while s["parent"] >= 0 and not spans[s["parent"]]["name"].startswith(
                "request."):
            s = spans[s["parent"]]
        return s["name"]

    n_req = len(timed)
    ms = {}
    for s in spans.values():
        if not s["name"].startswith("request.") and \
                spans.get(s["parent"], {"name": "request."})["name"] \
                .startswith("request."):
            ms[s["name"]] = ms.get(s["name"], 0.0) + \
                (s["end"] - s["start"]) / 1e6
    job_layer = {}
    for j in jobs:
        if j["span"] in spans:
            job_layer.setdefault(root_layer(spans[j["span"]]), []).append(j)
    total_records = sum(j["records"] for j in jobs if j["span"] in spans)
    total_shuffle = sum(j["shuffle_bytes"] for j in jobs if j["span"] in spans)
    exec_jobs = job_layer.get("exec.plan", []) + job_layer.get("exec.collect", [])
    rows_out = sum(len(resp[i]) for i in resp)
    n_iter = sum(req.arg.split("for kv in [")[1].split("]")[0].count(",") + 1
                 for req in timed if req.kind == "runc")
    http_ms = [http[i]["ms"] for i in http]
    traced_ms = [reqs["traced"][i]["ms"] for i in reqs["traced"]]
    plain_ms = [reqs["plain"][i]["ms"] for i in reqs["plain"]]
    layer_sum = sum(v for k, v in ms.items()
                    if k.split(".")[0] in ("core", "lang", "exec")) / n_req
    end = by("end")[0]

    def per_req(v):
        return v / n_req

    m = {
        "core.load_ms": per_req(ms.get("core.load", 0.0)),
        "core.load_calls": per_req(sum(r["load_calls"]
                                       for r in reqs["traced"].values())),
        "core.load_jobs": per_req(len(job_layer.get("core.load", []))),
        "lang.parse_ms": per_req(ms.get("lang.parse", 0.0)),
        "lang.normalize_ms": per_req(ms.get("lang.normalize", 0.0)),
        "lang.compile_ms": per_req(ms.get("lang.compile", 0.0)),
        "lang.optimize_ms": per_req(ms.get("lang.optimize", 0.0)),
        "lang.optimize_jobs": per_req(len(job_layer.get("lang.optimize", []))),
        "lang.interp_ms": per_req(ms.get("lang.interp", 0.0)),
        "lang.interp_jobs": per_req(len(job_layer.get("lang.interp", []))),
        "lang.interp_ms_per_iter": ms.get("lang.interp", 0.0) / max(1, n_iter),
        "exec.plan_ms": per_req(ms.get("exec.plan", 0.0)),
        "exec.collect_ms": per_req(ms.get("exec.collect", 0.0)),
        "exec.jobs": per_req(len(exec_jobs)),
        "exec.tasks": per_req(sum(j["tasks"] for j in exec_jobs)),
        "exec.rows_examined_per_row": total_records / max(1, rows_out),
        "exec.shuffle_mb": per_req(total_shuffle / 1048576),
        "exec.gc_ms": per_req(sum(r["gc_ms"] for r in reqs["traced"].values())),
        "server.overhead_ms": pct(http_ms, 50) - pct(traced_ms, 50),
        "server.response_kb": per_req(sum(http[i]["bytes"]
                                          for i in http) / 1024),
        "jvm.persisted_rdds_end": end["persisted_rdds"],
        "trace.inproc_p50_ms": pct(traced_ms, 50),
        "trace.remainder_ms": pct(traced_ms, 50) - layer_sum,
        "trace.overhead_pct": 100 * (sum(traced_ms) - sum(plain_ms))
        / sum(plain_ms),
    }
    for q in workloads.BATCH_QUERIES:
        ids = [i for i, r in enumerate(timed, start=first)
               if r.kind == "query" and r.arg == q]
        m[f"operators.{q}_ms"] = sum(reqs["traced"][i]["ms"] for i in ids)
        m[f"operators.{q}_jobs"] = sum(reqs["traced"][i]["jobs"] for i in ids)
    counts = {str(i): [reqs["traced"][i]["load_calls"]] + [
        sum(1 for j in jobs if j["span"] in spans and
            spans[j["span"]]["req"] == i and root_layer(spans[j["span"]]) in ls)
        for ls in (("core.load",), ("exec.plan", "exec.collect"),
                   ("lang.optimize",), ("lang.interp",))]
        for i in reqs["traced"]}
    repeat_ok = same_counts_as_last_run(name, seed, smoke, counts)
    log(f"perfbench: {name} traced: http p50 {pct(http_ms, 50):.1f} ms = "
        f"core {m['core.load_ms']:.1f} + lang "
        f"{sum(v for k, v in m.items() if k.startswith('lang.') and k.endswith('_ms') and k != 'lang.interp_ms_per_iter'):.1f}"
        f" + exec {m['exec.plan_ms'] + m['exec.collect_ms']:.1f} (layer means)"
        f" + remainder {m['trace.remainder_ms']:.1f} (in-process p50 minus "
        f"layer means: handler glue, other operators, p50-vs-mean gap)"
        f" + server overhead {m['server.overhead_ms']:.1f}")
    return m, n_req, failed, repeat_ok


# --- main ------------------------------------------------------------------

def result_line(correct, attempted, failed, metrics, units):
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units}})


def one(name, args, cp, oracle_sql):
    """Run one workload; print its metric lines; return its result dict."""
    if args.trace:
        m, attempted, failed, repeat_ok = run_traced(
            name, args.seed, args.smoke, cp, oracle_sql)
        units = dict(PER_LAYER)
        for k, u in PER_LAYER_INFO:
            print(f"{name} {k} {m[k]:.6g} {u}")
        correct = failed == 0 and repeat_ok
    else:
        m, attempted, failed, info = run_untraced(
            name, args.seed, args.seconds, args.smoke, cp, oracle_sql)
        units = dict(END_TO_END)
        for k, u in INFO:
            print(f"{name} {k} {m[k]:.6g} {u}")
        print(f"{name} req_p90_ms samples {info['req_p90_samples']} "
              f"beyond {info['req_p90_beyond']}")
        correct = failed == 0
    for k, u in units.items():
        print(f"{name} {k} {m[k]:.6g} {u}")
    sys.stdout.flush()
    return dict(correct=correct, attempted=attempted, failed=failed,
                metrics=m, units=units)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(
            ROOT, "src/main/scala/graft/server/QueryServer.scala")):
        log("perfbench: run from the root of a graft source checkout "
            "(src/main/scala/graft/server/QueryServer.scala not found)")
        return 2
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    cp = build()
    oracle_sql = json.load(open(os.path.join(BUILD, "oracle_sql.json")))
    names = sorted(WORKLOADS) if args.workload == "all" else [args.workload]
    results = {n: one(n, args, cp, oracle_sql) for n in names}
    if args.smoke and args.trace:
        # a second traced run of each seed exercises the count self-check
        results = {n: one(n, args, cp, oracle_sql) for n in names}
    if args.smoke:
        for n, r in results.items():
            missing = [k for k in r["units"] if k not in r["metrics"]]
            assert not missing, f"{n}: metrics not printed: {missing}"
            assert r["failed"] == 0, f"{n}: {r['failed']} failed requests"
            assert r["correct"], f"{n}: self-check failed"
    if len(names) == 1:
        r = results[names[0]]
        print(result_line(r["correct"], r["attempted"], r["failed"],
                          r["metrics"], r["units"]))
    else:
        print(result_line(
            all(r["correct"] for r in results.values()),
            sum(r["attempted"] for r in results.values()),
            sum(r["failed"] for r in results.values()),
            {f"{n}.{k}": r["metrics"][k] for n, r in results.items()
             for k in r["units"]},
            {f"{n}.{k}": u for n, r in results.items()
             for k, u in r["units"].items()}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
