#!/usr/bin/env python3
"""CDC benchmark: scan backfill and oplog catch-up through graft.Main.run.

    python3 cdcbench/run.py --workload backfill|tail_catchup \\
        --seed N --seconds S --trace 0|1

This process is the generator: it makes the inputs from the seed, serves
them through a stub MongoDB sidecar (or as oplog dump files), runs a stub
Elasticsearch, and starts the engine JVM (cdcbench/src, built with
cdcbench/build.sbt against the engine sources at the repository root).
It checks the final Elasticsearch index and the engine's state store
against its own model of the collection, then prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones in BENCHMARK.json, with --trace 1 the
per-layer ones. Build outputs, logs and trace files go to .bench_build/.
"""
import argparse
import hashlib
import json
import math
import os
import queue
import shutil
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stubs  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
TASK = "%s___banner.banner" % gen.NS

WORKLOADS = {
    # ~1 KB docs paged through the sidecar's /snapshot; empty oplog. One
    # timed pass per `pass_seconds` of --seconds, a count fixed before the
    # run so a slow run does not also measure fewer, colder passes.
    "backfill": dict(snapshot=20000, shards=3, batch_rows=2000, interval_ms=1000,
                     capacity=10000, setup_reps=4, pass_seconds=2.4),
    # larger snapshot through the file adapters, then backlog rounds of
    # oplog dump files; the admission cap admits one file a trigger and
    # every trigger outlasts its interval. Two uneven files a round keep
    # the freshness median in the first trigger's acks, the p99 in the
    # second's.
    "tail_catchup": dict(snapshot=10000, warm=2000, round_files=(4000, 2000), round_seconds=4,
                         sentinel_every=1000,
                         interval_ms=1000, capacity=4000, setup_reps=3),
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# a fixed, pre-touched heap keeps peak RSS from following the collector's
# sizing; what is left to move is the engine's native and off-heap memory
JVM_HEAP = "1536m"


class BenchError(Exception):
    pass


T_START = time.time()


def log(msg):
    print("[cdcbench %6.1f] %s" % (time.time() - T_START, msg), file=sys.stderr, flush=True)


# ------------------------------------------------------------------- build
def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark's engine-side code once per source tree;
    returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = (opts + " -XX:-UsePerfData -Djava.io.tmpdir=" + tmp).strip()
    # the launcher script's own java probes read this one, not SBT_OPTS
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    log("building engine + benchmark (sbt)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "wb") as lf:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export cdcbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                           stdin=subprocess.DEVNULL, timeout=850)
        lf.write(r.stdout)
    lines = [l for l in r.stdout.decode(errors="replace").splitlines() if l.strip()]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        raise BenchError("build failed (see .bench_build/build.log)")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("built in %.0f s" % (time.time() - t0))
    return cp


# ------------------------------------------------------------- engine JVM
class Engine:
    """The engine JVM and its event stream."""

    def __init__(self, cp, params_path, work, cores, log_path):
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
        cmd = [java, "-Xms" + JVM_HEAP, "-Xmx" + JVM_HEAP, "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
               "-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-Dspark.ui.enabled=false"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", p + "=ALL-UNNAMED"]
        cmd += ["-cp", cp, "graftbench.CdcBench", params_path]
        env = dict(os.environ, SPARK_MASTER="local[%d]" % cores, SPARK_LOCAL_IP="127.0.0.1")
        env.pop("SPARK_LOCAL_DIRS", None)  # spark.local.dir stays inside the work dir
        env.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(2 * cores))
        self.logf = open(log_path, "ab")
        self.proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=self.logf)
        self.events = queue.Queue()
        self.progress = []
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self):
        for line in self.proc.stdout:
            if line.startswith(b"@@ "):
                ev = json.loads(line[3:])
                if ev["ev"] == "progress":
                    self.progress.append(ev)
                else:
                    self.events.put(ev)
            else:
                self.logf.write(line)
        self.events.put({"ev": "eof"})

    def expect(self, *names, timeout=170):
        try:
            ev = self.events.get(timeout=timeout)
        except queue.Empty:
            raise BenchError("engine timed out waiting for %s" % (names,))
        if ev["ev"] in ("eof", "query_failed"):
            raise BenchError("engine failed while waiting for %s: %s" % (names, ev.get("error", "exited")))
        if ev["ev"] not in names:
            raise BenchError("expected %s from engine, got %s" % (names, ev))
        return ev

    def send(self, cmd):
        self.proc.stdin.write((cmd + "\n").encode())
        self.proc.stdin.flush()

    def cpu_seconds(self):
        with open("/proc/%d/stat" % self.proc.pid) as f:
            s = f.read()
        fields = s[s.rindex(")") + 2:].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def close(self):
        if self.proc.poll() is None:
            try:
                self.proc.stdin.close()
                self.proc.wait(timeout=5)
            except Exception:
                self.proc.kill()
        self.proc.wait()
        self.reader.join(timeout=5)
        self.logf.close()


# --------------------------------------------------------------- helpers
def median(xs):
    xs = sorted(xs)
    if not xs:
        raise BenchError("no samples")
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def pct(sorted_xs, q):
    """Nearest-rank percentile of an ascending list."""
    if not sorted_xs:
        raise BenchError("no samples")
    return sorted_xs[max(0, math.ceil(q * len(sorted_xs)) - 1)]


def config(spec, mongo_url, mongo_opts, es_url):
    props = {"name": {"type": "text"}, "weight": {"type": "double"},
             "isDeleted": {"type": "boolean"}, "rev": {"type": "long"}, "views": {"type": "long"}}
    return {
        "controls": {"mongodbReadCapacity": spec["capacity"], "elasticsearchBulkSize": 5000,
                     "elasticsearchBulkInterval": spec["interval_ms"], "indexNameSuffix": "__SUFFIX__"},
        "mongodb": {"url": mongo_url, "options": mongo_opts},
        "elasticsearch": {
            "options": {"host": es_url, "ddlEndpoint": es_url, "bulkDir": "bulk",
                        "bulkEndpoint": es_url + "/_bulk"},
            "indices": [{"index": "banner", "body": {"settings": {"index": {
                "number_of_shards": 3, "number_of_replicas": 1}}}}],
        },
        "tasks": [{
            "from": {"phase": "scan"},
            "extract": {"db": gen.DB, "collection": gen.COLL},
            "transform": {"mapping": gen.MAPPING, "parent": gen.PARENT},
            "load": {"index": "banner", "type": "banner",
                     "body": {"dynamic": False, "properties": props}},
        }],
    }


class Check:
    """Compares sink contents against the model's expected docs."""

    def __init__(self, expected):
        self.expected = expected
        self.bad = {}

    def _cmp(self, where, k, got_doc, got_parent):
        exp = self.expected.get(k)
        if exp is None:
            if got_doc is not None:
                self.bad.setdefault(k, "%s: unexpected doc %s" % (where, got_doc))
        elif got_doc is None:
            self.bad.setdefault(k, "%s: missing, expected %s" % (where, exp))
        elif got_doc != exp[0] or got_parent != exp[1]:
            self.bad.setdefault(k, "%s: got %s parent=%s, expected %s parent=%s"
                                % (where, got_doc, got_parent, exp[0], exp[1]))

    def es(self, name, index):
        docs = index.docs if index else {}
        for k in set(docs) | set(self.expected):
            src, parent = docs.get(k, (None, None))
            self._cmp("es[%s]" % name, k, json.loads(src) if src is not None else None, parent)

    def state(self, path):
        got = {}
        with open(path) as f:
            for line in f:
                r = json.loads(line)
                got[r["id"]] = (json.loads(r["doc"]) if r["doc"] is not None else None, r["parent"])
        for k in set(got) | set(self.expected):
            doc, parent = got.get(k, (None, None))
            self._cmp("state", k, doc, parent)


def freshness(items, due):
    """Per-event freshness in ms: the first ack of the event's key whose
    rev covers the event's seq (a delete ack covers everything), minus
    the event's due time. `items`: (ack t, id, rev) in ack order; `due`:
    seq -> (id, due time) for events that have an outcome."""
    by_key = {}
    for t, k, rev in items:
        by_key.setdefault(k, []).append((t, rev if rev >= 0 else 1 << 62))
    out, missing = [], 0
    for seq, (k, t_due) in due.items():
        hit = next((t for t, rev in by_key.get(k, ()) if rev >= seq), None)
        if hit is None:
            missing += 1  # compacted away (insert then delete in one batch)
        else:
            out.append((hit - t_due) * 1e3)
    out.sort()
    return out, missing


# ------------------------------------------------------------------ runner
class Run:
    def __init__(self, args):
        self.args = args
        self.w = args.workload
        self.spec = WORKLOADS[self.w]
        self.trace = bool(args.trace)
        # engine task slots: all CPUs but one (at most 3), leaving a core
        # for the generator and its stubs
        self.cores = max(1, min(3, len(os.sched_getaffinity(0)) - 1))
        self.tag = "%s-s%d-t%d" % (self.w, args.seed, args.trace)
        self.work = os.path.join(BUILD, "work", "%s-%d" % (self.tag, os.getpid()))
        self.layer = {}  # per-layer numbers measured on the generator side
        self.passes, self.units = [], []

    # ---- inputs
    def make_inputs(self, sidecar):
        s, seed = self.spec, self.args.seed
        self.snap = gen.snapshot(seed, s["snapshot"])
        self.events = []
        self.data = os.path.join(self.work, "data")
        os.makedirs(self.data)
        self.snapshot_jsonl = ""
        if self.w == "backfill":
            sidecar.datasets["main"] = stubs.Dataset(
                [(d["_id"], gen.snapshot_line(d)) for d in self.snap], [])
            return
        self.warm = s["warm"]
        self.rounds = max(2, int(round(self.args.seconds / s["round_seconds"])))
        self.round_events = sum(s["round_files"])
        n = self.warm + self.rounds * self.round_events
        self.events = gen.events(seed, self.snap, n, s["sentinel_every"])
        self.attempted = len(self.events)
        tdir = os.path.join(self.data, TASK)
        os.makedirs(os.path.join(tdir, "oplog"))
        self.snapshot_jsonl = os.path.join(self.work, "snapshot.jsonl")
        with open(self.snapshot_jsonl, "wb") as f:
            for d in self.snap:
                f.write(gen.snapshot_line(d) + b"\n")
        self.write_oplog(os.path.join(tdir, "oplog", "a-warm.jsonl"), 0, self.warm)
        self.staged = []
        stage = os.path.join(self.data, "staging")
        os.makedirs(stage)
        a = self.warm
        for r in range(self.rounds):
            files = []
            for i, size in enumerate(s["round_files"]):
                name = "r%03d-%02d.jsonl" % (r, i)
                self.write_oplog(os.path.join(stage, name), a, a + size)
                files.append((os.path.join(stage, name), os.path.join(tdir, "oplog", name)))
                a += size
            self.staged.append(files)

    def write_oplog(self, path, a, b):
        with open(path, "wb") as f:
            for i in range(a, b):
                f.write(gen.oplog_line(i + 1, self.events[i], False) + b"\n")

    def expected(self):
        m = gen.Model(self.snap)
        for ev in self.events:
            m.apply(ev)
        return m.expected()

    # ---- main flow
    def run(self):
        cp = build()
        os.makedirs(os.path.join(self.work, "tmp"))
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
        workers = os.cpu_count() or 2
        es = stubs.EsStub(workers)
        sidecar = stubs.Sidecar(workers)
        self.es_stub, self.sidecar = es, sidecar
        es.server.start()
        sidecar.server.start()
        engine = None
        try:
            self.make_inputs(sidecar)
            if self.w == "tail_catchup":
                mongo_url, mongo_opts = "mongodb://localhost:27017/%s" % gen.DB, {}
            else:
                mongo_url = sidecar.server.url + "/main"
                mongo_opts = {"numShards": str(self.spec.get("shards", 3)),
                              "batchRows": str(self.spec.get("batch_rows", 2000))}
            tmpl = os.path.join(self.work, "config-template.json")
            with open(tmpl, "w") as f:
                json.dump(config(self.spec, mongo_url, mongo_opts, es.server.url), f, indent=1)
            self.trace_file = os.path.join(BUILD, "traces", "trace-%s.jsonl" % self.tag)
            params = dict(workload=self.w, trace=self.trace, work=self.work, dataDir=self.data,
                          configTemplate=tmpl,
                          setupReps=self.spec["setup_reps"], passes=self.passes_planned(),
                          traceFile=self.trace_file,
                          snapshotJsonl=self.snapshot_jsonl,
                          snapshotParquet=os.path.join(self.data, TASK, "snapshot"))
            ppath = os.path.join(self.work, "params.json")
            with open(ppath, "w") as f:
                json.dump(params, f)
            log_path = os.path.join(BUILD, "logs", "%s.log" % self.tag)
            if os.path.exists(log_path):
                os.remove(log_path)
            engine = Engine(cp, ppath, self.work, self.cores, log_path)
            self.engine = engine
            log("inputs ready")
            self.layer["setup.session_s"] = engine.expect("session", timeout=170)["session_s"]
            log("session %.2f s" % self.layer["setup.session_s"])
            self.setup(engine)
            if self.w == "backfill":
                self.backfill(engine)
            else:
                self.tail(engine)
            engine.expect("done", timeout=120)
            log("engine done")
            return self.report()
        finally:
            if engine is not None:
                engine.close()
            es.server.stop()
            sidecar.server.stop()
            if not self.args.keep:
                shutil.rmtree(self.work, ignore_errors=True)

    def passes_planned(self):
        if self.w != "backfill":
            return 0
        return max(3, int(round(self.args.seconds / self.spec["pass_seconds"])))

    def setup(self, engine):
        self.reps = []
        for _ in range(self.spec["setup_reps"]):
            engine.expect("rep_begin")
            c0 = self.counters()
            engine.send("ok")
            rep = engine.expect("rep_end", timeout=170)
            log("setup rep %d: main_run %.2f s, drain %.2f s" % (rep["rep"], rep["main_run_s"], rep["drain_s"]))
            rep["counters"] = self.delta(c0)
            self.reps.append(rep)
        self.ready = engine.expect("ready", timeout=60)
        log("ready: setup_s %.2f" % self.ready["setup_s"])

    def counters(self):
        return dict(self.sidecar.counters(), **self.es_stub.counters(), t=time.time())

    def delta(self, c0):
        c1 = self.counters()
        return {k: c1[k] - c0[k] for k in c1}

    # ---- backfill: the JVM repeats Main.run passes for the run's seconds
    def backfill(self, engine):
        ref = None
        while True:
            ev = engine.expect("pass_begin", "timed_done", timeout=170)
            if ev["ev"] == "timed_done":
                self.peak_rss = ev["peak_rss_mb"]
                break
            c0 = self.counters()
            engine.send("ok")
            p = engine.expect("pass_end", timeout=170)
            p["counters"] = self.delta(c0)
            log("pass %d (%s): %.2f s" % (p["pass"], p["mode"], p["wall_s"]))
            ix = self.es_stub.indices.get(p["index"])
            if ix is None:
                raise BenchError("pass %d delivered nothing" % p["pass"])
            # passes are identical pipelines over identical inputs: a pass
            # whose index equals the first one byte for byte is verified
            # with it; only differing passes keep their docs for the check
            if ref is None:
                ref = p["index"]
            elif ix.docs == self.es_stub.indices[ref].docs:
                ix.docs = None
            self.passes.append(p)
        self.attempted = len(self.snap) * len(self.passes)
        self.states = [engine.expect("state", timeout=120) for _ in {p["mode"] for p in self.passes}]
        self.layers = engine.expect("layers", timeout=120)["metrics"] if self.trace else {}

    # ---- tail: the generator moves one round of dump files at a time
    # into the live query's oplog dir
    def tail(self, engine):
        self.index = self.ready["index"]
        self.vis = [(0.0, self.warm)]
        for u in range(self.rounds):
            a, b = self.warm + u * self.round_events, self.warm + (u + 1) * self.round_events
            mode = "traced" if self.trace and u % 2 == 1 else "plain"
            if self.trace:
                engine.send("mode %s %d" % (mode, u))
                engine.expect("mode_ready", timeout=120)
            c0 = self.counters()
            cpu0 = engine.cpu_seconds()
            t0 = time.time()
            for src, dst in self.staged[u]:
                os.rename(src, dst)
            self.vis.append((t0, b))
            t_ack = self.unit_end(b)
            cpu = engine.cpu_seconds() - cpu0
            self.units.append(dict(mode=mode, a=a, b=b, t0=t0, t_ack=t_ack, cpu=cpu,
                                   counters=self.delta(c0)))
            log("unit %d (%s): %d events, %.2f s" % (u, mode, b - a, t_ack - t0))
        engine.send("stop")
        self.peak_rss = engine.expect("timed_done", timeout=60)["peak_rss_mb"]
        self.states = [engine.expect("state", timeout=120)]
        self.layers = engine.expect("layers", timeout=120)["metrics"] if self.trace else {}

    def unit_end(self, last_seq):
        """Ack time of the last item of the micro-batch that carried
        event `last_seq` (a sentinel). Part files of one batch are
        delivered concurrently, so the sentinel's ack alone does not
        mean the batch is in; the batch's progress event does."""
        t_sent = self.es_stub.wait_rev(self.index, gen.SENTINEL, last_seq, timeout=120)
        if t_sent is None:
            raise BenchError("event %d never acked" % last_seq)
        deadline = time.time() + 60
        while not any(p["start_ms"] + p["trigger_ms"] >= t_sent * 1e3 - 1 for p in self.engine.progress):
            if time.time() > deadline:
                raise BenchError("no progress event after event %d" % last_seq)
            time.sleep(0.01)
        with self.es_stub.cv:
            return self.es_stub.indices[self.index].items[-1][0]

    # ---- metrics
    def trigger_start(self, t0):
        """Start of the first trigger that admitted rows after t0."""
        starts = [p["start_ms"] / 1e3 + p["trigger_ms"] / 1e3 for p in self.engine.progress]
        cand = [p["start_ms"] / 1e3 for p, end in zip(self.engine.progress, starts) if end >= t0]
        return max(t0, min(cand)) if cand else t0

    def report(self):
        bench = load_benchmark()
        check = Check(self.expected())
        es = self.es_stub
        if self.w == "backfill":
            for p in self.passes:
                ix = es.indices[p["index"]]
                if ix.docs is not None:
                    check.es(p["index"], ix)
        else:
            check.es(self.index, es.indices.get(self.index))
        for st in self.states:
            check.state(st["path"])
        failed = len(check.bad)
        attempted = max(1, self.attempted)
        for k in sorted(check.bad)[:5]:
            log("MISMATCH %s: %s" % (k, check.bad[k][:600]))
        digest = hashlib.sha256(json.dumps(sorted(
            (k, v) for k, v in check.expected.items()), sort_keys=True).encode()).hexdigest()[:16]
        log("final contents digest %s (%s)" % (digest, "matches model" if not failed else "MISMATCH"))
        correct = failed == 0

        if self.trace:
            metrics = self.per_layer(failed / attempted)
            names = [(m["name"], m["unit"]) for m in bench["per_layer"]]
            cov = metrics.get("trace.coverage_min", 0.0)
            if self.w == "tail_catchup" and cov < 0.9:
                correct = False
                log("traced triggers: span coverage %.3f < 0.90" % cov)
        else:
            metrics = self.end_to_end()
            names = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
        missing = [n for n, _ in names if n not in metrics and applies(self.w, n)]
        if missing:
            correct = False
            log("run did not produce %s" % ", ".join(missing))
        out = {n: {"value": float(metrics.get(n, 0.0)), "unit": u} for n, u in names}
        return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}

    def end_to_end(self):
        """Throughput and CPU per op are taken per plain unit (pass or
        round), then the median over units, so one unit hit by a burst of
        host contention does not move the run's figure."""
        m = {"setup_s": self.ready["setup_s"], "peak_rss_mb": self.peak_rss}
        if self.w == "backfill":
            n = len(self.snap)
            plain = [p for p in self.passes if p["mode"] == "plain"]
            m["ops_per_s"] = median([n / p["wall_s"] for p in plain])
            m["cpu_us_per_op"] = median([p["cpu_s"] / n * 1e6 for p in plain])
        else:
            plain = self.plain_rounds()
            m["ops_per_s"] = median([(u["b"] - u["a"]) / (u["t_ack"] - u["start"]) for u in plain])
            m["cpu_us_per_op"] = median([u["cpu"] / (u["b"] - u["a"]) * 1e6 for u in plain])
        return m

    def plain_rounds(self):
        plain = [u for u in self.units if u["mode"] == "plain"]
        for u in plain:
            u["start"] = self.trigger_start(u["t0"])
        return plain

    def fresh_layer(self, m):
        """Freshness of the plain rounds: per event with an outcome, the
        first ack of its key carrying its rev (or a delete) minus the
        start of the round's first trigger. Quantiles per round, then the
        median over rounds."""
        items = self.es_stub.indices[self.index].items
        per_round, missing = [], 0
        for u in self.plain_rounds():
            due = {seq: (self.events[seq - 1][1], u["start"]) for seq in range(u["a"] + 1, u["b"] + 1)
                   if gen.has_outcome(self.events[seq - 1])}
            fresh, miss = freshness(items, due)
            per_round.append(fresh)
            missing += miss
        m["fresh.samples"] = sum(len(f) for f in per_round)
        m["fresh.missing"] = missing
        m["fresh.p50_ms"] = median([pct(f, 0.50) for f in per_round])
        m["fresh.p99_ms"] = median([pct(f, 0.99) for f in per_round])

    def per_layer(self, error_frac):
        m = dict(self.layers)
        m.update(self.layer)
        m["check.error_frac"] = error_frac
        traced = [u for u in self.passes + self.units if u["mode"] == "traced"]
        nt = max(1, len(traced))
        side = {}
        for u in traced:
            for k, v in u["counters"].items():
                side[k] = side.get(k, 0) + v / nt
        m["mongohttp.requests"] = side.get("requests", 0)
        m["mongohttp.bytes"] = side.get("bytes", 0)
        if self.w == "backfill":
            m["ddl.requests"] = side.get("ddl_requests", 0)
            plain = [p["wall_s"] for p in self.passes if p["mode"] == "plain"]
            m["trace.overhead_frac"] = median([p["wall_s"] for p in traced]) / median(plain) - 1
        else:
            m["ddl.requests"] = self.reps[-1]["counters"]["ddl_requests"]
            files = [dst for u in range(len(self.units)) if self.units[u]["mode"] == "traced"
                     for _, dst in self.staged[u]]
            m["oplogjson.files"] = len(files) / nt
            m["oplogjson.bytes"] = sum(os.path.getsize(f) for f in files) / nt
            self.fresh_layer(m)
            self.tail_layer(m, traced)
        if "applier.events_in" in m and m["applier.events_in"]:
            m["applier.compaction_ratio"] = m.get("applier.keys", 0) / m["applier.events_in"]
        return m

    def tail_layer(self, m, traced):
        prog = sorted(self.engine.progress, key=lambda p: p["start_ms"])

        def in_units(units, p):
            start = p["start_ms"] / 1e3
            end = start + p["trigger_ms"] / 1e3
            return any(end > u["t0"] and start < u["t_ack"] for u in units)

        def triggers(units):
            return [p for p in prog if in_units(units, p)]

        tp = triggers(traced)
        pp = triggers([u for u in self.units if u["mode"] == "plain"])
        if tp:
            ms = sorted(p["trigger_ms"] for p in tp)
            m["tail.triggers"] = len(tp) / max(1, len(traced))
            m["tail.trigger_p50_ms"] = pct(ms, 0.5)
            m["tail.trigger_p99_ms"] = pct(ms, 0.99)
            m["tail.rows_per_trigger"] = sum(p["rows"] for p in tp) / len(tp)
            if pp:
                m["trace.overhead_frac"] = pct(ms, 0.5) / pct(sorted(p["trigger_ms"] for p in pp), 0.5) - 1
        # backlog at each trigger start: visible events minus rows already
        # admitted by earlier triggers of the timed region
        done, worst = self.warm, 0
        t_first = self.units[0]["t0"] - 0.5
        for p in prog:
            t = p["start_ms"] / 1e3
            if t < t_first:
                continue
            vis = max(v for tv, v in self.vis if tv <= t) if any(tv <= t for tv, _ in self.vis) else self.warm
            if in_units(traced, p):
                worst = max(worst, vis - done)
            done += p["rows"]
        m["tail.backlog_max_events"] = worst


# Per-layer metrics of layers that only one workload runs. A traced run
# must produce every per-layer metric except those of the other
# workload's layers, which did no work in it and read 0.
ONLY_IN = {
    "backfill": ("mongohttp.",),
    "tail_catchup": ("oplogjson.", "parquet.", "bucketed.lookup", "bucketed.dirty_buckets",
                     "bucketed.prior_rows", "applier.", "bucketed.commit", "bucketed.delta_bytes",
                     "bucketed.compactions", "bucketed.chain_max", "bucketed.state_bytes",
                     "tail.", "fresh."),
}


def applies(workload, name):
    return not any(name.startswith(prefix) for w, prefixes in ONLY_IN.items() if w != workload
                   for prefix in prefixes)


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's work dir")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Main.scala")):
        log("no engine sources next to the benchmark (expected build.sbt and src/main/scala)")
        return 2
    try:
        result = Run(args).run()
    except BenchError as e:
        log("error: %s" % e)
        return 1
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
