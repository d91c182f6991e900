#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload thor-fixed --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout builds the
engine and the harness (sbt), generates the data and derives the expected
outputs; later runs reuse them from perfbench/.work. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from bench import accounting, datagen, loadgen, oracle, stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CPUS = len(os.sched_getaffinity(0))

# One registry query from each query module that has fixed-cost-bound
# queries: among the module's queries that have an oracle with a non-empty
# result and run fully materialised in under 0.6 s at sf0.1 (warm,
# local[4]), the one closest to the module's median time. README.md has
# the measurement. Their time is mostly plan construction, Catalyst,
# schema inference and job scheduling. Then the writes of the IoQueries
# family: the spray (CSV export, catalog import, read back) and the CSV,
# JSON and XML round trips.
THOR_FIXED = [
    "q09_enth", "q42_dedup_keepn", "q65_count_project",
    "q84_fingerprint", "q161_blas_vector", "q175_phone_parse",
    "q135_parse_recursive", "q15_bitwise", "q173_h3_vectors",
    "q204_bracket_revenue", "q205_asof_join",
    "w_spray", "w_csv", "w_json", "w_xml"]

# Calls whose definition ends in a global sort: their digest covers row
# order as well (Harness.digest).
ORDERED = {
    "q15_bitwise", "q42_dedup_keepn", "q65_count_project",
    "q84_fingerprint", "q135_parse_recursive", "q161_blas_vector",
    "q173_h3_vectors", "q175_phone_parse", "q205_asof_join",
    "w_spray", "w_csv", "w_json", "w_xml"}

WORKLOADS = ("thor-fixed", "roxie-serve")

# roxie-serve traffic; README.md says where each figure comes from
NOMINAL_RPS = 8.0
ZIPF_EXPONENT = 0.99        # YCSB's zipfian request distribution
AGGREGATE_EVERY = 20        # assumed: one request in 20 is an aggregate
WARM_REQUESTS = 120         # in set-up, in batches of 20,
WARM_PROMOTES = 6           # each followed by a promote
SATURATE_SHARE = 0.2        # of --seconds: the closed loop, then
READ_SHARE = 0.4            # reads at the nominal rate; then the writes
READS_AFTER_PROMOTE_S = 0.25    # reads at the nominal rate after each promote
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

# Timings that gate a change are CPU times of the engine process: on a
# shared host, wall times of the same code swing by a third between runs
# (README.md). The wall-clock figures are the `client.*` metrics of the
# traced run, and every run prints them to standard error.
END_TO_END = {"setup_s": "s", "op_cpu_ms": "ms", "write_cpu_ms": "ms",
              "peak_rss_mb": "MB"}
MODULES = ["CoreQueries", "JoinQueries", "OrderedQueries", "ShapeQueries",
           "TextQueries", "EmbeddingQueries", "StdlibQueries", "IoQueries",
           "ParseQueries", "StatsQueries", "AnalysisQueries", "GeoQueries",
           "OlapQueries", "Olap2Queries", "TemporalQueries"]
PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.nocodegen_ops": "count",
    "sources.schema_jobs": "count", "sources.input_bytes": "bytes",
    "sources.input_rows": "count", "sources.keyed_read_p50_ms": "ms",
    "sources.keyed_read_tail_ms": "ms", "sources.promote_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.driver_gap_s": "s", "exec.driver_cpu_s": "s",
    "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.core_util": "ratio", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_records": "count",
    "exec.spill_bytes": "bytes",
    **{f"family.{m}.s": "s" for m in MODULES},
    "serve.cache_hits": "count", "serve.cache_misses": "count",
    "serve.collapsed": "count", "serve.shed": "count",
    "serve.timeouts": "count", "serve.hit_ratio": "ratio",
    "serve.engine_p50_ms": "ms", "serve.engine_tail_ms": "ms",
    "serve.http_overhead_ms": "ms", "loadgen.late_tail_ms": "ms",
    "client.op_p50_ms": "ms", "client.op_tail_ms": "ms",
    "client.throughput_per_s": "1/s", "client.write_ms": "ms",
    "trace.overhead_ms": "ms",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build -----------------------------------------------------------------

def _source_stamp():
    h = hashlib.sha256()
    for base in (ROOT, HERE):
        for name in ("build.sbt", os.path.join("project", "build.properties")):
            path = os.path.join(base, name)
            if os.path.exists(path):
                h.update(open(path, "rb").read())
        for d, dirs, files in os.walk(os.path.join(base, "src", "main")):
            dirs.sort()
            for f in sorted(files):
                path = os.path.join(d, f)
                h.update(path.encode())
                h.update(open(path, "rb").read())
    return h.hexdigest()


def build():
    """Compile engine and harness; returns the runtime classpath."""
    stamp, cp_file = _source_stamp(), os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if (os.path.exists(cp_file) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        return open(cp_file).read()
    log("building engine and harness (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=800)
    with open(os.path.join(WORK, "build.log"), "w") as f:
        f.write(proc.stdout + proc.stderr)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("/")]
    if proc.returncode != 0 or not lines:
        raise SystemExit("build failed; see perfbench/.work/build.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


_JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def java(cp, mode, **kw):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = [a for p in _JAVA_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # the engine build's JVM settings (build.sbt javaOptions)
    opts += ["-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=1g",
             "-XX:+UseCodeCacheFlushing", f"-Djava.io.tmpdir={tmp}",
             f"-Dderby.stream.error.file={WORK}/derby.log"]
    args = [f"{k}={v}" for k, v in kw.items()]
    return ["java", *opts, "-cp", cp, "perfbench.Harness", mode,
            f"cpus={CPUS}", f"work={WORK}/run", *args]


def run_java(cp, mode, timeout, **kw):
    with open(os.path.join(WORK, f"{mode}.log"), "w") as err:
        subprocess.run(java(cp, mode, **kw), cwd=ROOT, stdin=subprocess.DEVNULL,
                       stdout=err, stderr=err, timeout=timeout, check=True)


# ---- data and expected outputs --------------------------------------------

def data_dir():
    path = os.path.join(WORK, "data", "sf0.1")
    if not os.path.exists(os.path.join(path, "_DONE")):
        log("generating the data")
        datagen.write(datagen.base_tables(), path)
        open(os.path.join(path, "_DONE"), "w").close()
    return path


def expected_outputs(cp):
    """Expected digest and columns per thor-fixed call, from its DuckDB
    oracle result alone. Every call has a registry oracle; one that cannot
    run leaves its call without an expected output, which counts as a
    failure."""
    key = hashlib.sha256(repr((THOR_FIXED, sorted(ORDERED))).encode()).hexdigest()[:12]
    path = os.path.join(WORK, f"expected-{key}.json")
    if os.path.exists(path):
        return json.load(open(path))
    names = ",".join(THOR_FIXED)
    sql_file = os.path.join(WORK, "oracle-sql.json")
    run_java(cp, "oracle-sql", 300, calls=names, out=sql_file)
    sqls = json.load(open(sql_file))
    oracle_dir = os.path.join(WORK, "oracle")
    shutil.rmtree(oracle_dir, ignore_errors=True)
    log(f"running {len(sqls)} DuckDB oracles")
    oracle.run(data_dir(), sqls, oracle_dir, WORK, CPUS)
    run_java(cp, "digest", 800, calls=names, oracles=oracle_dir,
             ordered=",".join(sorted(ORDERED)), out=path)
    return json.load(open(path))


# ---- thor workloads --------------------------------------------------------

def run_thor(cp, seed, seconds, trace):
    """One engine process: set-up with untimed warm-up passes, then whole
    timed passes over the calls for ``seconds``."""
    expected = expected_outputs(cp)
    out = os.path.join(WORK, "thor.json")
    run_java(cp, "thor", 170, data=data_dir(), calls=",".join(THOR_FIXED),
             seed=seed,
             ordered=",".join(sorted(ORDERED)), seconds=seconds, trace=trace,
             out=out)
    rep = json.load(open(out))
    timed = [c for c in rep["calls"] if c["pass"] >= 0]
    passes = rep["passes"]
    failures = accounting.check_calls(rep["calls"], expected)
    for name, why in failures[:10]:
        log(f"FAIL {name}: {why}")
    plain = [p["pass"] for p in passes if not p["traced"]]
    wall = thor_wall([c for c in timed if c["pass"] in plain],
                     [p for p in passes if not p["traced"]])
    def cpu_per_call(keep):
        """CPU time per call of the calls ``keep`` selects: a pass's CPU
        time over its number of such calls, median over the passes."""
        def mean(p):
            cs = [c["cpu_s"] for c in timed if c["pass"] == p["pass"] and keep(c)]
            return 1e3 * sum(cs) / len(cs)
        return stats.median([mean(p) for p in passes])

    op_cpu = cpu_per_call(lambda c: True)
    log("thor-fixed: per pass, cpu/gc/jit s: " + "; ".join(
        "%.2f/%.2f/%.2f" % tuple(sum(c[k] for c in timed if c["pass"] == p["pass"])
                                 for k in ("cpu_s", "gc_cpu_s", "jit_s"))
        for p in passes))
    log(f"thor-fixed: wall pass_s={len(THOR_FIXED) / wall['client.throughput_per_s']:.3f} "
        f"(n={len(plain)}); call p50={wall['client.op_p50_ms']:.1f} ms "
        f"{wall['tail']}={wall['client.op_tail_ms']:.1f} ms; "
        f"cpu per call {op_cpu:.1f} ms (n={len(passes)} passes); "
        f"setup_s={rep['setup_s']}")
    if trace:
        metrics = thor_layers(rep["cpus"], timed, passes)
        metrics.update({k: v for k, v in wall.items() if k in PER_LAYER})
    else:
        metrics = {
            "setup_s": rep["setup_s"],
            "op_cpu_ms": op_cpu,
            "write_cpu_ms": cpu_per_call(lambda c: c["name"].startswith("w_")),
            "peak_rss_mb": rep["peak_rss_mb"]}
    return metrics, len(rep["calls"]), len(failures)


def thor_wall(calls, passes):
    """Wall-clock figures of untraced passes: what a batch user waits."""
    summary = stats.summarize([c["wall_s"] * 1e3 for c in calls])
    return {
        "client.op_p50_ms": summary["p50"],
        "client.op_tail_ms": summary["tail"],
        "tail": f"p{summary['tail_level']:g} (n={summary['n']})",
        "client.throughput_per_s":
            len(THOR_FIXED) / stats.median([p["wall_s"] for p in passes]),
        "client.write_ms": stats.median(
            [c["wall_s"] * 1e3 for c in calls if c["name"].startswith("w_")]),
    }


def thor_layers(cpus, timed, passes):
    """Per-layer metrics per pass: medians over the traced passes."""
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]

    def per_pass(fn):
        return stats.median([fn(p) for p in traced])

    def calls_of(p):
        return [c for c in timed if c["pass"] == p["pass"]]

    m = {
        "queries.build_s": per_pass(lambda p: sum(c["build_s"] for c in calls_of(p))),
        "queries.build_jobs": per_pass(lambda p: p["build_jobs"]),
        "catalyst.nocodegen_ops": per_pass(
            lambda p: sum(c["nocodegen_ops"] for c in calls_of(p))),
        "sources.schema_jobs": per_pass(lambda p: p["schema_jobs"]),
        "sources.input_bytes": per_pass(lambda p: p["input_bytes"]),
        "sources.input_rows": per_pass(lambda p: p["input_rows"]),
        "exec.jobs": per_pass(lambda p: p["jobs"]),
        "exec.stages": per_pass(lambda p: p["stages"]),
        "exec.tasks": per_pass(lambda p: p["tasks"]),
        "exec.driver_gap_s": per_pass(lambda p: p["driver_gap_s"]),
        "exec.driver_cpu_s": per_pass(
            lambda p: sum(c["driver_cpu_s"] for c in calls_of(p))),
        "exec.task_cpu_s": per_pass(lambda p: p["task_cpu_ns"] / 1e9),
        "exec.gc_s": per_pass(lambda p: p["gc_ms"] / 1e3),
        "exec.core_util": per_pass(
            lambda p: p["task_run_ms"] / 1e3 / (p["wall_s"] * cpus)),
        "exec.shuffle_write_bytes": per_pass(lambda p: p["shuffle_write_bytes"]),
        "exec.shuffle_read_bytes": per_pass(lambda p: p["shuffle_read_bytes"]),
        "exec.shuffle_records": per_pass(lambda p: p["shuffle_records"]),
        "exec.spill_bytes": per_pass(lambda p: p["spill_bytes"]),
        "trace.overhead_ms": 1e3 * (per_pass(lambda p: p["wall_s"]) -
                                    stats.median([p["wall_s"] for p in plain])),
    }
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_s"] = per_pass(
            lambda p: sum(c.get(f"catalyst_{phase}", 0.0) for c in calls_of(p)))
    for mod in MODULES:
        m[f"family.{mod}.s"] = per_pass(
            lambda p: sum(c["wall_s"] for c in calls_of(p) if c["module"] == mod))
    return m


# ---- roxie-serve -----------------------------------------------------------

class Server:
    """The harness in serve mode, driven over its stdin/stdout."""

    def __init__(self, cp, data, keys):
        # every server starts from an empty catalog and index generations
        shutil.rmtree(os.path.join(WORK, "run", "serve"), ignore_errors=True)
        self.log = open(os.path.join(WORK, "serve.log"), "w")
        self.proc = subprocess.Popen(
            java(cp, "serve", data=data, keys=keys), cwd=ROOT,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, stderr=self.log, text=True, bufsize=1)
        self.lock = threading.Lock()
        try:
            ready = self.read("READY")
        except BaseException:
            self.proc.kill()
            self.proc.wait()
            self.log.close()
            raise
        self.port, self.generation = int(ready[0]), int(ready[1])
        self.setup_s = float(ready[2])

    def read(self, tag):
        line = self.proc.stdout.readline()
        if not line.startswith(tag + " "):
            raise RuntimeError(f"serve harness: expected {tag}, got {line!r}")
        return line.split(" ", 1)[1].split()

    def tell(self, command):
        with self.lock:
            self.proc.stdin.write(command + "\n")
            self.proc.stdin.flush()

    def ask(self, command, tag):
        with self.lock:
            self.proc.stdin.write(command + "\n")
            self.proc.stdin.flush()
            line = self.proc.stdout.readline().rstrip("\n")
        if line != tag and not line.startswith(tag + " "):
            raise RuntimeError(f"serve harness: {command!r} -> {line!r}")
        return line[len(tag) + 1:]

    def close(self):
        try:
            self.proc.stdin.write("quit\n")
            self.proc.stdin.close()
            self.proc.wait(timeout=60)
        finally:
            if self.proc.poll() is None:
                self.proc.kill()
                self.proc.wait()
            self.log.close()


def customer_truth(data):
    """Expected lookup rows and segment aggregates, read straight from the
    generated parquet (independent of the engine)."""
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(data, "customer.parquet")).to_pylist()
    rows = {r["c_custkey"]: r for r in t}
    segs = {}
    for r in t:
        agg = segs.setdefault(r["c_mktsegment"], {}).setdefault(
            r["c_nationkey"], [0, 0])
        agg[0] += 1
        agg[1] += round(r["c_acctbal"] * 100)
    return rows, segs


class Traffic:
    """Seeded request mix: Zipf-skewed lookups and uncacheable aggregates."""

    def __init__(self, seed, rows, segs):
        self.rng = random.Random(seed)
        keys = sorted(rows)
        self.rng.shuffle(keys)          # which keys are hot is seeded too
        self.keys, self.rows, self.segs = keys, rows, segs
        self.rank = loadgen.zipf_sampler(self.rng, len(keys), ZIPF_EXPONENT)
        self.nonce = self.rng.randrange(AGGREGATE_EVERY)

    def request(self, due):
        self.nonce += 1
        if self.nonce % AGGREGATE_EVERY:
            key = self.keys[self.rank()]
            return loadgen.Request(due, f"/query/lookup?key={key}",
                                   lambda body: self.check_lookup(key, body))
        seg = self.rng.choice(SEGMENTS)
        return loadgen.Request(
            due, f"/query/segment?seg={seg}&nonce={self.nonce}",
            lambda body: self.check_segment(seg, body))

    def schedule(self, start, duration):
        """Requests due at NOMINAL_RPS over [start, start + duration)."""
        return [self.request(d) for d in
                loadgen.fixed_rate(self.rng, NOMINAL_RPS, start, duration)]

    def check_lookup(self, key, body):
        rows = loadgen.parse_rows(body)
        want = self.rows[key]
        if len(rows) != 1:
            return f"lookup {key}: {len(rows)} rows", None
        got = rows[0]
        for col in ("c_custkey", "c_name", "c_nationkey", "c_acctbal"):
            if got.get(col) != want[col]:
                return f"lookup {key}: {col}={got.get(col)!r}", got.get("gen")
        return "", got["gen"]

    def check_segment(self, seg, body):
        rows = loadgen.parse_rows(body)
        got = {r["c_nationkey"]: [r["n"], r["cents"]] for r in rows}
        if got != self.segs[seg]:
            return f"segment {seg}: aggregate differs", None
        gens = {r["gen"] for r in rows}
        return ("", gens.pop()) if len(gens) == 1 else (
            f"segment {seg}: mixed generations {gens}", None)


def clients(server):
    pool = [loadgen.Client(server.port) for _ in range(CPUS)]
    return pool, (lambda i, path: pool[i].get(path))


def open_loop(server, requests, t0):
    """Send ``requests`` on their schedule from CPUS generator threads."""
    pool, send = clients(server)
    try:
        return loadgen.run(requests, send, CPUS, t0)
    finally:
        for c in pool:
            c.close()


def run_roxie(cp, seed, seconds, trace):
    """One server, set up once, then ``seconds`` of traffic."""
    data = data_dir()
    rows, segs = customer_truth(data)
    server = Server(cp, data, len(rows))
    try:
        part = serve(server, seed, seconds, trace, rows, segs)
    finally:
        server.close()
    wall = roxie_wall(part)
    hits, misses = part["read_cache"]
    log(f"roxie-serve: wall p50={wall['client.op_p50_ms']:.2f} ms "
        f"{wall['tail']}={wall['client.op_tail_ms']:.1f} ms at "
        f"{NOMINAL_RPS:g}/s, cache hit ratio "
        f"{hits / max(1, hits + misses):.2f} ({hits}/{hits + misses}); "
        f"saturated goodput {wall['client.throughput_per_s']:.2f}/s; "
        f"cpu {part['op_cpu_ms']:.1f} ms/request over {part['cpu_requests']} "
        f"({part['cpu_hits']} hits) "
        f"[phase 1 {part['p1_cpu']:.1f}, phase 2 {part['p2_cpu']:.1f}] "
        f"(GC {part['gc_ms']:.1f} ms of it; JIT compiler {part['jit_ms']:.1f} ms more); "
        f"promotes={len(part['promotes'])}, wall {wall['client.write_ms']:.0f} ms; "
        f"setup_s={part['setup_s']:.3f}")
    if trace:
        metrics = roxie_layers(part)
        metrics.update({k: v for k, v in wall.items() if k in PER_LAYER})
        return metrics, part["attempted"], part["failed"]
    return {
        "setup_s": part["setup_s"],
        "op_cpu_ms": part["op_cpu_ms"],
        "write_cpu_ms": stats.median([a[4] for a in part["promotes"]]),
        "peak_rss_mb": part["stats"]["peak_rss_mb"],
    }, part["attempted"], part["failed"]


def roxie_wall(part):
    """Wall-clock figures: what a client waits at the nominal rate (the
    untraced reads), saturated goodput, and the promote's own time."""
    summary = stats.summarize([r.latency * 1e3 for r in part["plain"]])
    return {
        "client.op_p50_ms": summary["p50"],
        "client.op_tail_ms": summary["tail"],
        "tail": f"p{summary['tail_level']:g} (n={summary['n']})",
        "client.throughput_per_s": part["goodput"],
        "client.write_ms": stats.median([a[2] for a in part["promotes"]]),
    }


def serve(server, seed, seconds, trace, rows, segs):
    """Set-up ends with WARM_REQUESTS of the run's own traffic from CPUS
    closed-loop clients, in WARM_PROMOTES batches with a promote after
    each, so reads and promotes have both run when timing starts. Timing
    starts right after a promote, with the response cache empty, as after
    every promote. Then three phases, each a share of ``seconds``:

    - the same closed loop goes on (saturated goodput), and starts to
      fill the cache;
    - reads at the nominal rate, with no promote (latencies);
    - promote cycles: a promote with no request in flight, so the CPU time
      the server spends in it is the promote's own, then
      READS_AFTER_PROMOTE_S of reads at the nominal rate, each of which
      must see the new generation.

    `op_cpu_ms` is the server's CPU time over the first two phases per
    request answered. A traced run times the second half of the read phase
    traced, and then times the engine without HTTP."""
    traffic = Traffic(seed, rows, segs)

    def stats_now():
        return json.loads(server.ask("stats", "STATS"))

    # every time below is in seconds after t0, set-up included
    t0 = time.monotonic()
    acks, tried, promote_error = [], 0, None

    def promote():
        """One promote; its ack (time, generation, wall ms, catalog ms,
        CPU ms, GC ms), or None when it failed."""
        nonlocal tried, promote_error
        tried += 1
        try:
            g, total, catalog, cpu, gc = server.ask("promote", "PROMOTED").split()
        except Exception as e:  # reported as a failed operation
            promote_error = e
            return None
        acks.append((time.monotonic() - t0, int(g), float(total),
                     float(catalog), float(cpu), float(gc)))
        return acks[-1]

    def batch(n):
        now = time.monotonic() - t0
        return open_loop(server, [traffic.request(now) for _ in range(n)], t0)

    warm = []
    for _ in range(WARM_PROMOTES):
        warm += batch(WARM_REQUESTS // WARM_PROMOTES)
        promote()
    warm_s = time.monotonic() - t0
    part = {"setup_s": server.setup_s + warm_s}
    log(f"set-up: engine {server.setup_s:.1f} s, warm-up {warm_s:.1f} s")
    server.ask("mark", "MARKED")
    first = stats_now()
    t0 += warm_s
    acks[:] = [(a[0] - warm_s,) + a[1:] for a in acks]
    for r in warm:
        r.sent -= warm_s
        r.done -= warm_s
    sat_s = seconds * SATURATE_SHARE
    pool, send = clients(server)
    try:
        saturated = loadgen.saturate(traffic.request, send, CPUS, t0, 0.0, sat_s)
    finally:
        for c in pool:
            c.close()
    part["goodput"] = loadgen.goodput(saturated, 0.0)
    read_s = seconds * READ_SHARE
    before = stats_now()
    if trace:
        half = read_s / 2
        part["plain"] = open_loop(server, traffic.schedule(sat_s, half), t0)
        server.tell("trace on")
        part["base"] = stats_now()
        part["traced"] = open_loop(server, traffic.schedule(sat_s + half, half), t0)
        part["after"] = stats_now()
        part["reads"] = part["plain"] + part["traced"]
    else:
        part["reads"] = part["plain"] = open_loop(
            server, traffic.schedule(sat_s, read_s), t0)
    after = stats_now()
    part["read_cache"] = (after["cache_hits"] - before["cache_hits"],
                          after["cache_misses"] - before["cache_misses"])
    part["cpu_requests"] = len(saturated) + len(part["reads"])
    part["op_cpu_ms"] = after["cpu_ns"] / 1e6 / part["cpu_requests"]
    part["jit_ms"] = after["jit_ns"] / 1e6 / part["cpu_requests"]
    part["gc_ms"] = after["gc_ns"] / 1e6 / part["cpu_requests"]
    part["cpu_hits"] = after["cache_hits"] - first["cache_hits"]
    part["p1_cpu"] = before["cpu_ns"] / 1e6 / len(saturated)
    part["p2_cpu"] = (after["cpu_ns"] - before["cpu_ns"]) / 1e6 / len(part["reads"])
    during, warm_acks = [], len(acks)
    while not promote_error and (len(acks) == warm_acks or
                                 time.monotonic() - t0 < seconds):
        ack = promote()
        if ack:
            during += open_loop(
                server, traffic.schedule(ack[0], READS_AFTER_PROMOTE_S), t0)
    promotes = acks[warm_acks:]
    log("promotes: cpu " + " ".join(f"{a[4]:.0f}" for a in promotes) +
        " ms; gc " + " ".join(f"{a[5]:.0f}" for a in promotes) +
        " ms; wall " + " ".join(f"{a[2]:.0f}" for a in promotes) + " ms")
    timed = part["reads"] + saturated + during
    failures = [r for r in warm + timed if r.failure]
    live = [(-warm_s, server.generation)] + [(a[0], a[1]) for a in acks]
    stale = loadgen.stale_reads([r for r in warm + timed if not r.failure], live)
    for r in (failures + stale)[:10]:
        log(f"FAIL {r.request.path}: {r.failure or 'stale generation'}")
    if promote_error:
        log(f"FAIL promote: {promote_error}")
    part["failed"] = len(failures) + len(stale) + (1 if promote_error else 0)
    part["attempted"] = len(warm) + len(timed) + tried
    part["promotes"] = promotes
    part["stats"] = stats_now()
    if trace:
        # direct engine calls alternating with sequential uncached HTTP
        # lookups (a nonce defeats the cache), so both see the same state
        client = loadgen.Client(server.port)
        rng = random.Random(seed + 2)
        part["direct"], part["http_ms"] = [], []
        for i in range(20):
            part["direct"].append(json.loads(
                server.ask(f"direct 1 {seed * 100 + i}", "DIRECT")))
            t = time.monotonic()
            client.get(f"/query/lookup?key={rng.randrange(len(rows))}&nonce=d{i}")
            part["http_ms"].append((time.monotonic() - t) * 1e3)
        client.close()
    return part


def roxie_layers(part):
    """Per-layer metrics of the traced half, per served request."""
    n_req = max(1, len(part["traced"]))

    def delta(k):
        return part["after"].get(k, 0) - part["base"].get(k, 0)

    def direct(k):
        return [x for d in part["direct"] for x in d[k]]

    engine = stats.summarize(direct("engine_ms"))
    keyed = stats.summarize(direct("keyed_read_ms"))
    hits, misses = delta("cache_hits"), delta("cache_misses")
    plain, traced = part["plain"], part["traced"]
    late = stats.summarize([r.lateness * 1e3 for r in plain + traced])
    m = {k: 0.0 for k in PER_LAYER}
    m.update({
        "catalyst.analysis_s": stats.median(direct("analysis_s")),
        "catalyst.optimization_s": stats.median(direct("optimization_s")),
        "catalyst.planning_s": stats.median(direct("planning_s")),
        "sources.schema_jobs": delta("schema_jobs") / n_req,
        "sources.input_bytes": delta("input_bytes") / n_req,
        "sources.input_rows": delta("input_rows") / n_req,
        "sources.keyed_read_p50_ms": keyed["p50"],
        "sources.keyed_read_tail_ms": keyed["tail"],
        "sources.promote_s": stats.median([a[3] for a in part["promotes"]]) / 1e3,
        "exec.jobs": delta("jobs") / n_req,
        "exec.stages": delta("stages") / n_req,
        "exec.tasks": delta("tasks") / n_req,
        "exec.task_cpu_s": delta("task_cpu_ns") / 1e9 / n_req,
        "exec.gc_s": delta("gc_ms") / 1e3 / n_req,
        "exec.shuffle_write_bytes": delta("shuffle_write_bytes") / n_req,
        "exec.shuffle_read_bytes": delta("shuffle_read_bytes") / n_req,
        "exec.shuffle_records": delta("shuffle_records") / n_req,
        "exec.spill_bytes": delta("spill_bytes") / n_req,
        "serve.cache_hits": hits, "serve.cache_misses": misses,
        "serve.collapsed": delta("collapsed"), "serve.shed": delta("shed"),
        "serve.timeouts": delta("timeouts"),
        "serve.hit_ratio": hits / max(1, hits + misses),
        "serve.engine_p50_ms": engine["p50"],
        "serve.engine_tail_ms": engine["tail"],
        "serve.http_overhead_ms": stats.median(part["http_ms"]) - engine["p50"],
        "loadgen.late_tail_ms": late["tail"],
        "trace.overhead_ms": (
            stats.median([r.latency * 1e3 for r in traced]) -
            stats.median([r.latency * 1e3 for r in plain])),
    })
    return m


# ---- entry point -----------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no engine sources here; run from the "
                         "root of a repository checkout")
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    run = run_roxie if a.workload == "roxie-serve" else run_thor
    metrics, attempted, failed = run(cp, a.seed, a.seconds, a.trace)
    units = PER_LAYER if a.trace else END_TO_END
    log(f"fail_ratio={accounting.fail_ratio(failed, attempted):.4f} "
        f"({failed}/{attempted})")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u}
                    for k, u in units.items()}}))


if __name__ == "__main__":
    main()
