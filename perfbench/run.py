#!/usr/bin/env python3
"""graft's benchmark of record: a live `CliServer` driven from outside.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 12 --trace 0

Builds graft from this checkout (perfbench/build.py), generates a seeded
Scala tree (perfbench/gentree.py), starts
`graft.api.Cli <state> server start --port 0` in a child JVM and drives it
with one closed-loop client over both the line and the binary protocol.
Every answer is checked against the generator's own model. The last line
of stdout is one JSON object: correct, attempted, failed, metrics.

With `--trace 1` the run then restarts the server on the same state under
`perfbench.Probe`, which loads `perfbench.JobListener` through
`-Dspark.extraListeners`, replays a fixed request script and times graft's
public calls in-process; it reports the per-layer metrics instead. See
perfbench/README.md.
"""

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import struct
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gentree  # noqa: E402
from client import BinClient, LineClient, ServerError  # noqa: E402

ROOT = os.path.dirname(HERE)
WS = "ws"
DEADLINE_S = 170

# JVM flags of build.sbt's `javaOptions` (the --add-opens set Spark 4 needs
# on JDK 17, no UI, UTC); the heap is fixed so runs compare across boxes.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Xmx3g"]

# Tree shapes: (files, mean functions per file), close to graft's own
# src/main/scala (91 files, 2,027 units). On serve_edit, names drawn
# uniformly from its ~1.7k functions overrun QueryCache's 1,000 entries.
SHAPES = {"serve_read": (100, 17), "serve_edit": (100, 17)}
HOT_SET = 64
# Finds before serve_read's window: a cold server's reads keep speeding up
# for tens of seconds as the JIT compiles Spark's planner, and a find warms
# the same code as any read for a quarter of a traversal's cost.
WARM_FINDS = 4
# One read pattern of 20: 15 find, 3 show, 1 trace, 1 status, ten over
# each protocol, in a fixed order. Sixteen fast reads of twenty keep the
# query median well inside the fast (find) mode instead of on its slow edge
# or the gap between modes. A find right after a traversal runs slower than
# one after a find, so every pattern puts three finds after each slow read
# rather than shuffling: a run's find median then does not hinge on how a
# shuffle fell. Entries: (kind, protocol[, relation, depth]).
PATTERN = [
    ("show", "line", "callers", 2), ("find", "line"), ("find", "bin"), ("find", "line"),
    ("show", "bin", "callees", 3), ("find", "bin"), ("find", "line"), ("find", "bin"),
    ("show", "line", "imports", 1), ("find", "line"), ("find", "bin"), ("find", "line"),
    ("trace", "bin", "callers", 3), ("find", "bin"), ("find", "line"), ("find", "bin"),
    ("status", "bin"), ("find", "line"), ("find", "bin"), ("find", "line"),
]


def percentile(values, q):
    """Linear-interpolated percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50) if values else float("nan")


class Failed(Exception):
    pass


class Server:
    """A child JVM serving `state`; `main` is graft.api.Cli or the probe."""

    def __init__(self, ctx, main, args, extra=(), probe=False):
        self.launched = time.monotonic()
        cmd = (["java"] + JVM_FLAGS + list(extra) +
               ["-Djava.io.tmpdir=" + ctx.tmp, "-cp", ctx.classpath, main] + args)
        self.log = open(os.path.join(ctx.work, "server-%d.log" % len(ctx.servers)), "w")
        self.proc = subprocess.Popen(
            cmd, cwd=ctx.work, env=ctx.env, text=True, stdout=subprocess.PIPE,
            stdin=subprocess.PIPE if probe else subprocess.DEVNULL, stderr=self.log)
        ctx.servers.append(self)
        line = self.proc.stdout.readline()
        if not line:
            raise Failed("server exited before listening; see " + self.log.name)
        self.port = json.loads(line)["listening"]

    def command(self, line):
        """Probe only: one stdin command, one stdout reply."""
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()
        return json.loads(self.proc.stdout.readline())

    def peak_rss_mb(self):
        with open("/proc/%d/status" % self.proc.pid) as fh:
            for row in fh:
                if row.startswith("VmHWM:"):
                    return int(row.split()[1]) / 1024.0
        raise Failed("no VmHWM")

    def stop(self):
        """`stop`, then kill: once the server has replied it runs no more
        requests, and Spark's own shutdown would only lengthen the run."""
        if self.proc.poll() is None:
            try:
                c = LineClient(self.port, timeout=30)
                c.request("stop")
                c.close()
            except (OSError, ServerError, ValueError):
                pass
            self.proc.kill()
            self.proc.wait()
        self.log.close()


class Conn:
    """One connection at a time: CliServer serves connections sequentially,
    so switching protocol closes the other connection first."""

    def __init__(self, port):
        self.port, self.kind, self.cur = port, None, None

    def get(self, kind):
        if kind != self.kind:
            self.close()
            self.cur = LineClient(self.port) if kind == "line" else BinClient(self.port)
            self.kind = kind
        return self.cur

    def close(self):
        if self.cur:
            self.cur.close()
        self.kind, self.cur = None, None


class Ctx:
    def __init__(self, args, classpath):
        self.args = args
        self.classpath = classpath
        self.work = os.path.join(ROOT, ".bench_build", "runs",
                                 "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
        self.tmp = os.path.join(self.work, "tmp")
        self.tree_dir = os.path.join(self.work, "tree")
        self.state = os.path.join(self.work, "state")
        for d in (self.tmp, self.tree_dir, self.state):
            os.makedirs(d)
        self.env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
                        SPARK_LOCAL_DIRS=self.tmp)
        self.servers = []
        self.rng = random.Random(args.seed * 7919 + 17)
        self.attempted = 0
        self.failed = 0
        self.lat = {}          # kind -> [ms] of correct answers
        self.spans = []        # (kind, start epoch ms, end epoch ms, ok)
        self.facts = {}

    def op(self, kind, fn):
        """Run one checked operation; time it, count it, keep its span."""
        self.attempted += 1
        w0 = time.time() * 1000
        t0 = time.perf_counter()
        try:
            ok = bool(fn())
        except (OSError, ServerError, ValueError, KeyError, IndexError,
                struct.error) as e:
            print("%s failed: %s" % (kind, e), file=sys.stderr)
            ok = False
        ms = (time.perf_counter() - t0) * 1000
        self.spans.append((kind, w0, time.time() * 1000, ok))
        if ok:
            self.lat.setdefault(kind, []).append(ms)
        else:
            self.failed += 1
        return ok


# ---- checked requests ----

def find(conn, model, proto, name):
    exp = model.find("function", name)
    if proto == "line":
        rows = conn.get("line").request("find --type function --name %s" % name)
        return [(r["id"], r["unit_id"], r["source_uri"]) for r in rows] == exp
    got = conn.get("bin").find("type:function name:%s" % name)
    return got == [(i, uri) for i, _, uri in exp]


def show(conn, model, proto, rel, target, depth):
    exp = model.show(rel, target, depth)
    if proto == "line":
        rows = conn.get("line").request(
            "show --relation %s --target %s --max-depth %d" % (rel, target, depth))
        return [(r["id"], r["depth"]) for r in rows] == exp
    return [i for i, _ in conn.get("bin").show(rel, target, depth)] == [i for i, _ in exp]


def trace(conn, model, proto, direction, target, depth):
    exp = model.trace(direction, target, depth)
    if proto == "line":
        rows = conn.get("line").request(
            "trace --direction %s --target %s --max-depth %d" % (direction, target, depth))
        return [(r["id"], r["depth"], r["path"].split("->")) for r in rows] == exp
    got = conn.get("bin").trace(direction, target, depth)
    return got == [(p, d) for _, d, p in exp[:100]]


def status(conn, model, proto):
    if proto == "bin":
        return conn.get("bin").status() == model.status()
    rows = conn.get("line").request("status")
    return [(r["block_count"], r["edge_count"]) for r in rows] == [model.status()]


def store_snapshot(ctx):
    snap = {}
    for d, _, files in os.walk(os.path.join(ctx.state, "_graft_ws")):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            snap[p] = (st.st_size, st.st_mtime_ns)
    return snap


def written(before, after):
    """(bytes, files) new or rewritten between two snapshots."""
    changed = [p for p, v in after.items() if before.get(p) != v]
    return sum(after[p][0] for p in changed), len(changed)


# ---- workloads ----

class Fixture:
    """The generated tree, its model and a linked, serving server."""

    def __init__(self, ctx):
        self.ctx = ctx
        files, fns = SHAPES[ctx.args.workload]
        self.tree = gentree.Tree(ctx.args.seed, files, fns)
        self.source_bytes = self.tree.write(ctx.tree_dir)
        self.model = self.tree.model(WS)
        self.fn_names = self.tree.all_fn_names()

    def start_and_link(self, traced=False):
        """Launch, link, first correct answer; returns setup seconds. The
        traced server is the probe, with the job listener loaded."""
        ctx = self.ctx
        if traced:
            self.server = Server(ctx, "perfbench.Probe", [ctx.state], probe=True,
                                 extra=["-Dspark.extraListeners=perfbench.JobListener"])
        else:
            self.server = Server(ctx, "graft.api.Cli",
                                 [ctx.state, "server", "start", "--port", "0"])
        self.conn = Conn(self.server.port)
        n_units, n_edges = self.model.status()

        def link():
            row = self.conn.get("line").request(
                "link --path %s --name %s" % (ctx.tree_dir, WS))[0]
            return row["blocks_linked"] == n_units and row["edges_linked"] == n_edges
        ctx.op("link", link)
        first = self.fn_names[0]
        if not ctx.op("find", lambda: find(self.conn, self.model, "line", first)):
            raise Failed("first answer wrong")
        ctx.lat["find"].pop()  # the first answer belongs to set-up
        return time.monotonic() - self.server.launched

    def read(self, spec, name, label=None):
        """One checked read; `spec` is a PATTERN entry, `name` a function.
        Its latency is kept under `label`, by default the read's kind."""
        ctx, m = self.ctx, self.model
        kind, proto = spec[:2]
        label = label or kind
        if kind == "find":
            return ctx.op(label, lambda: find(self.conn, m, proto, name))
        if kind == "show":
            _, _, rel, depth = spec
            target = name
            if rel == "imports":  # the binary protocol has no imports request
                target = m.units[m.uid_of[m.find("function", name)[0][0]]][2]
            return ctx.op(label, lambda: show(self.conn, m, proto, rel, target, depth))
        if kind == "trace":
            _, _, d, depth = spec
            return ctx.op(label, lambda: trace(self.conn, m, proto, d, name, depth))
        return ctx.op(label, lambda: status(self.conn, m, proto))

    def sync(self, kind):
        """A line-protocol sync checked against what changed on disk."""
        ctx = self.ctx
        before = store_snapshot(ctx)

        def run():
            row = self.conn.get("line").request("sync --name %s" % WS)[0]
            ctx.facts[kind + "_reparsed"] = row["files_reparsed"]
            return row["files_reparsed"] == (1 if kind == "sync" else 0) and (
                kind == "sync" or row["blocks_synced"] == 0)
        ok = ctx.op(kind, run)
        b, f = written(before, store_snapshot(ctx))
        ctx.facts.setdefault(kind + "_written", []).append((b, f))
        return ok

    def edit(self):
        """One seeded edit on disk and in the model."""
        module, kind, name = self.tree.edit()
        nbytes = self.tree.write_module(self.ctx.tree_dir, module)
        self.model = self.tree.model(WS)
        self.fn_names = self.tree.all_fn_names()
        self.ctx.facts.setdefault("edited_bytes", []).append(nbytes)
        return kind, name


def window(ctx, step):
    """Run `step` until the next one would end past --seconds (at least
    once); return the window's seconds."""
    t0 = time.monotonic()
    durations = []
    while True:
        s0 = time.monotonic()
        step()
        durations.append(time.monotonic() - s0)
        if time.monotonic() - t0 + statistics.mean(durations) > ctx.args.seconds:
            return time.monotonic() - t0


def warm_up(s, specs, names, finds=0):
    """Untimed reads: one of each shape, then `finds` finds over `names`. A
    server pays its first-use costs (code generation, JIT) once, not per
    request, and set-up already times the first answer."""
    for spec in dict.fromkeys(specs):
        s.read(spec, names[0], label="warmup")
    for i in range(finds):
        s.read(("find", ("line", "bin")[i % 2]), names[i % len(names)], label="warmup")


def serve_read(ctx, s):
    """Zipf-drawn reads over a hot set, then one no-op sync."""
    hot = ctx.rng.sample(s.fn_names, HOT_SET)
    weights = [1.0 / (k + 1) for k in range(HOT_SET)]
    warm_up(s, PATTERN, [n for n in s.fn_names if n not in hot], WARM_FINDS)

    def step():
        for spec in PATTERN:
            s.read(spec, ctx.rng.choices(hot, weights)[0])
    n0 = ctx.attempted
    secs = window(ctx, step)
    t0 = time.monotonic()
    s.sync("noop_sync")
    return (ctx.attempted - n0) / (secs + time.monotonic() - t0)


# Twelve finds to two traversals: the round's query median is the middle
# of the finds, so a single slow find cannot tip it into the traversal mode.
EDIT_READS = ([("find", "line"), ("find", "bin")] * 6 +
              [("show", "line", "callers", 2), ("trace", "bin", "callees", 3)])


def serve_edit(ctx, s):
    """Edit one file, sync, read the edit back, uniform reads and a no-op
    sync per round."""
    acked = []
    warm_up(s, EDIT_READS, [ctx.rng.choice(s.fn_names)])

    def step():
        _, name = s.edit()
        if s.sync("sync"):
            acked.append(name)
        ctx.op("read_after_write", lambda: find(s.conn, s.model, "line", name))
        for spec in EDIT_READS:
            s.read(spec, ctx.rng.choice(s.fn_names))
        s.sync("noop_sync")
    n0 = ctx.attempted
    secs = window(ctx, step)
    rps = (ctx.attempted - n0) / secs
    ctx.facts["acked"] = acked
    return rps


def restart_read_back(ctx, s):
    """A fresh server on the same state must find every acknowledged edit.
    The store does no fsync; the old server was killed after its `stop`
    reply, with no JVM shutdown."""
    server = Server(ctx, "graft.api.Cli", [ctx.state, "server", "start", "--port", "0"])
    conn = Conn(server.port)
    for name in ctx.facts.get("acked", []):
        ctx.op("read_back", lambda: find(conn, s.model, "line", name))
    ctx.op("read_back", lambda: status(conn, s.model, "bin"))
    conn.close()
    server.stop()


def traced_pass(ctx, s):
    """The probe's script after set-up: listener overhead, pings, an edit
    round, then the in-process spans."""
    probe, conn = s.server, s.conn

    # tracing overhead: each read with the listener on and off, in
    # alternating order; the difference of each pair
    overhead = []
    name = ctx.rng.choice(s.fn_names)
    for i, spec in enumerate(EDIT_READS[-4:]):
        t = {}
        for state in ("off", "on") if i % 2 == 0 else ("on", "off"):
            probe.command("listener " + state)
            if s.read(spec, name):
                t[state] = ctx.lat[spec[0]][-1]
        if len(t) == 2:
            overhead.append(t["on"] - t["off"])
    probe.command("listener on")
    for _ in range(5):
        ctx.op("wire_ping", lambda: conn.get("bin").ping() is None)
        ctx.op("line_ping", lambda: conn.get("line").request("ping")[0]["reply"] == "pong")
    phase(ctx, "probe reads")

    _, name = s.edit()
    s.sync("sync")
    ctx.op("read_after_write", lambda: find(conn, s.model, "line", name))
    s.sync("noop_sync")
    conn.close()
    phase(ctx, "probe edit round")

    ctx.facts["peak_rss_mb"] = probe.peak_rss_mb()
    target = s.fn_names[2]
    spans = probe.command("spans %s %s %s callers %s 2 callees %s 3" % (
        ctx.tree_dir, WS, target, target, target))
    jobs = ctx.facts["jobs"] = probe.command("jobs")
    phase(ctx, "probe spans")
    probe.stop()
    return overhead, spans, jobs


def jobs_in(jobs, w0, w1):
    return [j for j in jobs if w0 <= j["start"] <= w1]


def layer_metrics(ctx, s, link_s, overhead, spans, jobs):
    m = {}

    def put(name, value, unit):
        m[name] = {"value": value, "unit": unit}

    def window_of(kind):
        return [(w0, w1) for k, w0, w1, ok in ctx.spans if k == kind and ok][-1]

    def sums(js):
        return {k: sum(j[k] for j in js) for k in
                ("stages", "tasks", "cpu_ns", "shuffle_bytes", "input_bytes")}

    put("api.wire_ping_ms", median(ctx.lat["wire_ping"]), "ms")
    put("api.line_ping_ms", median(ctx.lat["line_ping"]), "ms")
    put("api.parse_ms", spans["parse_ms"], "ms")
    put("api.store_load_ms", spans["store_load_ms"], "ms")
    put("api.render_ms", spans["render_ms"], "ms")
    put("api.link_s", link_s, "s")
    put("api.peak_rss_mb", ctx.facts["peak_rss_mb"], "MB")
    put("api.sync_ms", ctx.lat["sync"][-1], "ms")
    put("api.noop_sync_ms", ctx.lat["noop_sync"][-1], "ms")
    put("api.read_after_write_ms", ctx.lat["read_after_write"][-1], "ms")
    sync_jobs = jobs_in(jobs, *window_of("sync"))
    t = sums(sync_jobs)
    put("api.sync.jobs", len(sync_jobs), "count")
    put("api.sync.stages", t["stages"], "count")
    put("api.sync.cpu_s", t["cpu_ns"] / 1e9, "s")
    put("api.sync.shuffle_bytes", t["shuffle_bytes"], "B")
    put("api.sync.write_job_s", sum(
        (j["end"] - j["start"]) / 1000.0 for j in sync_jobs
        if j["site"].startswith("parquet at WorkspaceStore")), "s")
    noop_jobs = jobs_in(jobs, *window_of("noop_sync"))
    put("api.noop_sync.jobs", len(noop_jobs), "count")
    b, f = ctx.facts["sync_written"][-1]
    put("api.store.bytes_written_per_sync", b, "B")
    put("api.store.files_written_per_sync", f, "count")
    put("api.store.bytes_written_per_noop_sync", ctx.facts["noop_sync_written"][-1][0], "B")
    put("api.store.write_amp", b / ctx.facts["edited_bytes"][-1], "1")
    put("ingest.parse_s", spans["ingest_parse_s"], "s")
    # each edit touches one file
    reparsed = ctx.facts["sync_reparsed"]
    put("ingest.files_reparsed_per_sync", reparsed, "count")
    put("ingest.reparse_ratio", reparsed / 1.0, "1")
    for key, prefix in (("find", "query.find"), ("show", "graph.bfs"),
                        ("trace", "graph.trace")):
        sp = spans[key]
        js = jobs_in(jobs, *sp["window"])
        t = sums(js)
        put(prefix + ".plan_ms", sp["plan_ms"], "ms")
        put(prefix + ".exec_ms", sp["exec_ms"], "ms")
        put(prefix + ".jobs", len(js), "count")
        put(prefix + ".stages", t["stages"], "count")
        put(prefix + ".tasks", t["tasks"], "count")
        put(prefix + ".shuffle_bytes", t["shuffle_bytes"], "B")
        put(prefix + ".input_bytes", t["input_bytes"], "B")
    hits, misses, inval = spans["cache"]
    put("query.cache.hits", hits, "count")
    put("query.cache.misses", misses, "count")
    put("query.cache.invalidations", inval, "count")
    put("core.versions_per_live_block", spans["versions_per_live_block"], "1")
    put("trace.overhead.read_ms", median(overhead), "ms")
    return m


def phase(ctx, name):
    print("[%7.1f s] %s" % (time.monotonic() - ctx.t0, name), file=sys.stderr)


def run(ctx):
    ctx.t0 = time.monotonic()
    s = Fixture(ctx)
    setup_s = s.start_and_link(traced=ctx.args.trace)
    phase(ctx, "set up")
    if ctx.args.trace:
        out = layer_metrics(ctx, s, ctx.lat.pop("link")[0] / 1000.0, *traced_pass(ctx, s))
        phase(ctx, "traced pass")
    else:
        rps = (serve_read if ctx.args.workload == "serve_read" else serve_edit)(ctx, s)
        phase(ctx, "timed window")
        reads = [x for k in ("find", "show", "trace", "status") for x in ctx.lat.get(k, [])]
        metrics = {
            "setup_s": (setup_s, "s"),
            "throughput_rps": (rps, "req/s"),
            "query_p50_ms": (median(reads), "ms"),
            "find_p50_ms": (median(ctx.lat["find"]), "ms"),
            "traverse_p50_ms": (median(ctx.lat["show"] + ctx.lat["trace"]), "ms"),
            "noop_sync_p50_ms": (median(ctx.lat["noop_sync"]), "ms"),
            "store_bytes_per_source_byte": (
                sum(v[0] for v in store_snapshot(ctx).values()) / s.source_bytes, "1"),
        }
        s.conn.close()
        s.server.stop()
        if ctx.args.workload == "serve_edit":
            restart_read_back(ctx, s)
            phase(ctx, "restart read-back")
        metrics["ok_ratio"] = ((ctx.attempted - ctx.failed) / ctx.attempted, "1")
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    return {"correct": ctx.failed == 0, "attempted": ctx.attempted,
            "failed": ctx.failed, "metrics": out}


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SHAPES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    def on_signal(signum, _):
        raise Failed("stopped by signal %d" % signum)
    # a deadline or a kill from outside still stops the child JVMs
    signal.signal(signal.SIGALRM, on_signal)
    signal.signal(signal.SIGTERM, on_signal)
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(e, file=sys.stderr)
        return 1
    signal.alarm(DEADLINE_S)
    ctx = Ctx(args, classpath)
    try:
        result = run(ctx)
    except Failed as e:
        print("benchmark failed: %s" % e, file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
        for srv in ctx.servers:
            if srv.proc.poll() is None:
                srv.proc.kill()
            srv.proc.wait()
        if ctx.args.trace:
            trace_dir = os.path.join(ROOT, ".bench_build", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, "%s-%d.json" % (args.workload, args.seed)), "w") as fh:
                json.dump({"spans": ctx.spans, "jobs": ctx.facts.get("jobs", [])}, fh)
        shutil.rmtree(ctx.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
