#!/usr/bin/env python3
"""The repo benchmark: CDC freshness lag, intake and read latency, and the
gate-query surface.  See perfbench/README.md for the workloads and metrics.

    python3 perfbench/run.py --workload cdc_cow --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The engine and the benchmark's own JVM
code are compiled from source into .bench_build/ on first use; each run
works under .bench_run/.  The last stdout line is the result JSON.
"""
import argparse
import datetime
import glob
import hashlib
import json
import math
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen      # noqa: E402
import stats    # noqa: E402
import layers   # noqa: E402
import oracle   # noqa: E402

ROOT = os.getcwd()
# The Spark distribution: $SPARK_HOME, else the one whose spark-submit is on PATH.
SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.dirname(
    os.path.dirname(os.path.realpath(shutil.which("spark-submit") or "/")))
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_run")
NPROC = os.cpu_count() or 1
TIMEOUT_S = 60

ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]

# Workload shapes.  interval_s is the folder interval (also the lag limit);
# lookup_hz is the open-loop reader's rate.
WORKLOADS = {
    "cdc_cow": dict(
        gen=dict(history_keys=4000, history_folders=3, warmup=6, burst=4,
                 inserts=100, updates=200, deletes=8, stale=8),
        interval_s=3.0, lookup_hz=4.0),
    # Not in BENCHMARK.json: one run takes ~80 s on a 4-core host, which the
    # benchmark's run budget cannot carry.  Its scenario is replayed in
    # cdc_cow's traced run, and it still runs on its own for a closer look.
    "cdc_mor_reads": dict(
        gen=dict(history_docs=4000, warmup=1, burst=3, inserts=120, copies=30,
                 same_text=50, new_text=50, deletes=10),
        interval_s=9.0, lookup_hz=4.0),
    "query_mix": dict(lookup_hz=4.0),
}

# query_mix's sample is drawn from a recorded measurement:
# query_times.json (made by measure_queries.py) holds every gate query's
# warm time on this benchmark's session and data.  The draw takes, in the
# order of a fixed-seed shuffle, the queries that passed their check and
# whose warm run and result check each take at most SAMPLE_CAP_MS, until
# their warm times add up to SAMPLE_BUDGET_MS.  The cap keeps one query
# from taking most of a pass and the checks inside a run's time limit.
# The sample seed is fixed, so runs with different --seed measure the same
# queries; the run seed only orders them.
SAMPLE_SEED = 0
SAMPLE_CAP_MS = 1500.0
SAMPLE_BUDGET_MS = 4000.0


def query_sample(times, seed=SAMPLE_SEED, cap_ms=SAMPLE_CAP_MS, budget_ms=SAMPLE_BUDGET_MS):
    eligible = sorted(n for n, q in times.items()
                      if q["ok"] and q["warm_ms"] <= cap_ms and q["check_ms"] <= cap_ms)
    random.Random(seed).shuffle(eligible)
    sample, total = [], 0.0
    for n in eligible:
        if total >= budget_ms:
            break
        sample.append(n)
        total += times[n]["warm_ms"]
    return sample


def query_passes(times, sample, seconds):
    """The timed phase's number of whole passes: as many as the sample's
    recorded warm times take to cover `seconds`, rounded up.  It is fixed
    by the sample and `seconds`, not by a deadline, so every run has the
    same number of latency samples and its tail is the same percentile
    (a deadline made a fast run take one pass more, and moved the tail)."""
    pass_ms = sum(times[n]["warm_ms"] for n in sample)
    return max(1, math.ceil(seconds * 1000.0 / pass_ms))


def log(*a):
    print(*a, flush=True)


# ------------------------------------------------------------------ build

def build():
    """Compile the engine sources and the benchmark's Scala code into
    .bench_build/classes (skipped when the sources are unchanged)."""
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    res_root = os.path.join(ROOT, "src/main/resources")
    resources = sorted(p for p in glob.glob(res_root + "/**", recursive=True) if os.path.isfile(p))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala; run from a checkout root")
    if not glob.glob(os.path.join(SPARK_JARS, "spark-core*.jar")):
        raise SystemExit("perfbench: Spark jars not found under " + SPARK_JARS)
    h = hashlib.sha256()
    for p in engine + bench + resources:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = SPARK_JARS + "/*"
    r = subprocess.run(["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn",
                        "-d", tmp, "-classpath", cp] + engine + bench,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    for p in resources:   # META-INF/services registers the synapse-cdm source
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


# ------------------------------------------------------------- processes

class Env:
    """Per-run directories and the JVM command line."""

    def __init__(self, classes, wd):
        self.classes, self.wd = classes, wd
        self.tmp = os.path.join(wd, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.procs = []

    def java(self, main, xmx, args=(), name=None):
        # 16 MB G1 regions: with the default 1 MB regions of a heap under
        # 4 GB, Spark's multi-MB buffers are humongous objects, and the
        # extra collections they start (13 to 82 in five query_mix runs)
        # were the largest cause of run-to-run variation in query time.
        return (["java"] + ADD_OPENS +
                ["-Xmx" + xmx, "-XX:G1HeapRegionSize=16m", "-XX:-UsePerfData",
                 "-Dspark.ui.enabled=false",
                 "-Xlog:gc:file=%s:tm" % self.gc_log(name or "jvm"),
                 "-Dspark.sql.session.timeZone=UTC",
                 "-Djava.io.tmpdir=" + self.tmp,
                 "-cp", self.classes + ":" + SPARK_JARS + "/*", main] + list(args))

    def gc_log(self, name):
        return os.path.join(self.wd, name + "-gc.log")

    def env(self, extra=None):
        e = dict(os.environ)
        e.update(SPARK_LOCAL_DIRS=os.path.join(self.wd, "spark-local"),
                 SPARK_GRAFT_CPUS=str(NPROC))
        e.update(extra or {})
        return e

    def spawn(self, cmd, name, env=None, **kw):
        err = open(os.path.join(self.wd, name + ".log"), "w")
        p = subprocess.Popen(cmd, cwd=self.wd, env=self.env(env), stderr=err, **kw)
        p.log = err
        self.procs.append(p)
        return p

    def stop_all(self):
        for p in self.procs:
            if p.poll() is None:
                p.send_signal(signal.SIGTERM)
        for p in self.procs:
            try:
                p.wait(timeout=20)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
            p.log.close()


GC_PAUSE = re.compile(r"^\[(\d+)ms\].*Pause (?:Young|Full).* (\d+)([KMG])->(\d+)([KMG])\(")
MB_OF = {"K": 1 / 1024.0, "M": 1.0, "G": 1024.0}


def heap_after_gc_mb(path, t_from, t_to):
    """Median heap occupancy (MB) after the JVM's young and full
    collections between the epoch times `t_from` and `t_to`, read from its
    GC log (`-Xlog:gc:...:tm`).  If no collection fell inside, the last
    one before `t_to` stands in.  It is the memory the engine holds on to
    while it works; the process's peak RSS instead follows G1's heap
    sizing, which differed by hundreds of MB from run to run."""
    inside, before = [], None
    with open(path) as f:
        for line in f:
            m = GC_PAUSE.match(line)
            if not m:
                continue
            t = int(m.group(1)) / 1000.0
            mb = int(m.group(4)) * MB_OF[m.group(5)]
            if t_from <= t <= t_to:
                inside.append(mb)
            elif t < t_from:
                before = mb
    if inside:
        return stats.median(inside), len(inside)
    if before is None:
        raise RuntimeError("no garbage collection logged in " + path)
    return before, 0


def peak_rss_mb(pid):
    try:
        with open("/proc/%d/status" % pid) as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Agent:
    """The benchmark's JVM (perfbench/scala/Agent.scala), driven over
    stdin/stdout with one JSON command and one `@@` reply per line."""

    def __init__(self, env, master, xmx, name="agent"):
        self.p = env.spawn(env.java("graft.perfbench.Agent", xmx, [master], name), name,
                           stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, bufsize=1)
        self.replies, self.cv, self.n = {}, threading.Condition(), 0
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.p.stdout:
            if line.startswith("@@ "):
                msg = json.loads(line[3:])
                with self.cv:
                    self.replies[msg.get("id", msg.get("event"))] = msg
                    self.cv.notify_all()
        with self.cv:
            self.replies["__eof__"] = {"ok": False, "error": "agent exited"}
            self.cv.notify_all()

    def wait(self, key, timeout=TIMEOUT_S * 2):
        end = time.monotonic() + timeout
        with self.cv:
            while key not in self.replies and "__eof__" not in self.replies:
                left = end - time.monotonic()
                if left <= 0:
                    raise RuntimeError("agent: no reply to %s within %ds" % (key, timeout))
                self.cv.wait(left)
            msg = self.replies.pop(key, None) or self.replies["__eof__"]
        if key != "ready" and not msg.get("ok"):
            raise RuntimeError("agent %s failed: %s" % (key, msg.get("error")))
        return msg

    def send(self, op, async_=False, **kw):
        self.n += 1
        cid = "%s-%d" % (op, self.n)
        kw.update(op=op, id=cid, **({"async": True} if async_ else {}))
        self.p.stdin.write(json.dumps(kw) + "\n")
        self.p.stdin.flush()
        return cid

    def call(self, op, timeout=TIMEOUT_S * 2, **kw):
        return self.wait(self.send(op, **kw), timeout)

    def close(self):
        if self.p.poll() is None:
            self.p.stdin.write("quit\n")
            self.p.stdin.flush()
            try:
                self.p.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.p.kill()
                self.p.wait()


def parse_ts(s):
    s = s.replace("Z", "+00:00")
    if "." in s:
        head, rest = s.split(".", 1)
        frac, tz = rest[:rest.index("+")], rest[rest.index("+"):]
        s = head + "." + (frac + "000000")[:6] + tz
    return datetime.datetime.fromisoformat(s).timestamp()


class Events:
    """The engine's structured events, shipped to a file by
    `logShipAddress = file:/…`."""

    def __init__(self, path):
        self.path, self.pos, self.items = path, 0, []

    def poll(self):
        if os.path.exists(self.path):
            with open(self.path) as f:
                f.seek(self.pos)
                chunk = f.read()
            done = chunk.rfind("\n") + 1
            self.pos += len(chunk[:done].encode())
            for line in chunk[:done].splitlines():
                if line.strip():
                    e = json.loads(line)
                    e["_ts"] = parse_ts(e["@timestamp"])
                    self.items.append(e)
        return self.items

    def named(self, name):
        return [e for e in self.poll() if e.get("event") == name]

    def committed_at(self, folder):
        """ts of the first batch_committed whose watermark covers the whole
        folder (no `#n` partial-folder suffix)."""
        for e in self.named("batch_committed"):
            wm = str(e.get("watermark", ""))
            if "#" not in wm and wm >= folder:
                return e["_ts"]
        return None

    def wait_for(self, fn, timeout):
        end = time.monotonic() + timeout
        while time.monotonic() < end:
            v = fn()
            if v:
                return v
            time.sleep(0.02)
        return None


def du(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def sleep_until(t):
    while True:
        left = t - time.time()
        if left <= 0:
            return
        time.sleep(min(left, 0.05) if left > 0.06 else left)


# --------------------------------------------------------- stream workloads

def stream_spec(wl, wd, src, target, counting=False):
    pre = "counting://" if counting else ""
    spec = dict(sourcePath=pre + src, entityName=None, targetLocation=pre + target,
                changeCaptureIntervalSeconds=0, checkpointLocation=os.path.join(wd, "checkpoint"),
                logShipAddress="file:" + os.path.join(wd, "events.jsonl"),
                numBuckets=10)
    if wl == "cdc_cow":
        spec.update(entityName=gen.COW_ENTITY,
                    exportDir=pre + os.path.join(wd, "export/symlink"),
                    icebergExportDir=pre + os.path.join(wd, "export/iceberg"),
                    deltaExportDir=pre + os.path.join(wd, "export/delta"),
                    maintenance=dict(batchThreshold=0, analyzeBatchThreshold=0))
    else:
        spec.update(entityName=gen.DOCS_ENTITY, mergeMode="merge-on-read",
                    dedupTextColumn="body", dedupIndexLocation=os.path.join(wd, "band_index"),
                    dedupIndexCompactEvery=3,
                    maintenance=dict(batchThreshold=4, analyzeBatchThreshold=0,
                                     snapshotRetentionMs=60000))
    return spec


def make_plan(wl, seed, paced):
    g = WORKLOADS[wl]["gen"]
    if wl == "cdc_cow":
        return gen.gen_cow(seed, paced=paced, **g)
    return gen.gen_docs(seed, paced=paced, **g)


def lookup_schedule(plan, n, interval, rate):
    """Lookup keys in due order: each targets the folder most recently
    closed when it is due -- a key it updated or deleted -- and every
    fourth asks for an absent key.  Lookups start one interval before the
    first paced folder closes, so every paced batch meets the same reader
    load."""
    closed = [i for i, f in enumerate(plan.folders) if f.phase in ("warmup", "paced")]
    first_paced = next(j for j, i in enumerate(closed) if plan.folders[i].phase == "paced")
    keys = []
    for i in range(n):
        k = first_paced - 1 + int((i / rate) // interval)
        pool = plan.lookup_pool[closed[min(k, len(closed) - 1)]]
        if i % 4 == 3:
            keys.append(str(plan.absent_keys[i % len(plan.absent_keys)]))
        else:
            keys.append(str(pool[i % len(pool)][1]))
    return keys


def check_lookups(plan, hist, path):
    """Each answer must be the key's state at some folder between the
    watermarks read before and after the lookup."""
    lat, failed, bad, retries = [], 0, [], 0
    conv = int if plan.key_type == "long" else str
    for line in open(path):
        r = json.loads(line)
        lat.append(r["latency_ms"] / 1000.0)
        lo = plan.index_of(r["wm_before"]) if r["wm_before"] else -1
        hi = plan.index_of(r["wm_after"]) if r["wm_after"] else -1
        got = [int(v) for v in r["versions"].split(",") if v]
        ok_states = hist.states_between(conv(r["key"]), lo, hi)
        retries += r["retries"]
        if r["error"] or len(got) > 1 or (got[0] if got else None) not in ok_states:
            failed += 1
            bad.append(r)
    return lat, failed, bad, retries


def check_table(plan, expected, parquet_dir):
    """Multiset compare of a dumped table against the model fold; returns
    the number of wrong or missing keys."""
    import duckdb
    files = glob.glob(os.path.join(parquet_dir, "*.parquet"))
    rows = duckdb.sql("SELECT * FROM read_parquet(%r)" % files).fetchall() if files else []
    got = {}
    wrong = 0
    for r in rows:
        if r[0] in got:
            wrong += 1
        got[r[0]] = tuple(r[1:])
    for k, v in expected.items():
        g = got.pop(k, None)
        if g is None or tuple(g) != tuple(v):
            wrong += 1
    return wrong + len(got), len(rows)


def run_stream(wl, seed, seconds, trace, env):
    cfg = WORKLOADS[wl]
    wd = env.wd
    interval = cfg["interval_s"]
    paced_n = max(2, int(round(seconds / interval)))
    t_setup = time.monotonic()
    plan = make_plan(wl, seed, paced_n)
    src, staging = os.path.join(wd, "source"), os.path.join(wd, "staging")
    target = os.path.join(wd, "target")
    gen.write_root_model(src, plan)
    for f in plan.folders:
        gen.write_folder(src if f.phase == "history" else staging, plan, f)
    history = [f.name for f in plan.folders if f.phase == "history"]
    gen.stamp_changelog(src, history[-1])
    spec = stream_spec(wl, wd, src, target)
    events = Events(os.path.join(wd, "events.jsonl"))
    main_env = {"STREAMCONTEXT__SPEC": json.dumps(spec), "STREAMCONTEXT__BACKFILL": "false"}
    gen_s = time.monotonic() - t_setup
    phases = {}
    mark = [time.monotonic()]

    def phase(name):
        now = time.monotonic()
        phases[name] = round(now - mark[0], 3)
        mark[0] = now

    def close(folders):
        for f in folders:
            os.rename(os.path.join(staging, f.name), os.path.join(src, f.name))
        gen.stamp_changelog(src, folders[-1].name)
        return time.time()

    # The reader/checker JVM starts first and idles through the initial
    # load, so the load is timed alone and the reader can warm up as soon
    # as the table exists.
    agent = Agent(env, "local[%d]" % NPROC, "2g")
    ready = agent.wait("ready")
    if "conf" not in ready:
        raise RuntimeError("agent did not start (see agent.log)")
    phase("reader_start")

    # The history folders are closed before the engine starts, so its
    # first micro-batch is the initial load: timed from process launch,
    # because JVM start is a real cost of bringing a stream up.
    t_launch = time.time()
    stream = env.spawn(env.java("graft.app.Main", "2g", name="stream"), "stream", main_env)
    if not events.wait_for(lambda: events.committed_at(history[-1]), TIMEOUT_S * 2):
        raise RuntimeError("initial load did not commit (see stream.log)")
    load_s = events.committed_at(history[-1]) - t_launch
    load_rows = plan.rows(("history",))
    phase("load")

    # Warm-up: the warm-up folders bring the engine's batch time down to
    # its plateau while the reader makes 120 lookups back to back.  With
    # 20, the reader was still warming while timed: across ten runs its
    # median lookup took 0.09-0.14 s and the median lag 1.7-2.6 s.
    keys = [str(plan.absent_keys[i % len(plan.absent_keys)]) for i in range(120)]
    warm_id = agent.send("lookups", async_=True, table=target, key_col=plan.key_col,
                         key_type=plan.key_type, version_col="versionnumber", keys=keys,
                         start_ms=int(time.time() * 1000), period_ms=0.0,
                         out=os.path.join(wd, "lookups-warmup.jsonl"))
    attempted = failed = 0
    for f in [f for f in plan.folders if f.phase == "warmup"]:
        close([f])
        attempted += 1
        if not events.wait_for(lambda: events.committed_at(f.name), TIMEOUT_S):
            failed += 1
    agent.wait(warm_id)
    setup_s = time.monotonic() - t_setup
    phase("warmup")

    # paced phase: folders close on schedule, lookups run open-loop
    paced = [f for f in plan.folders if f.phase == "paced"]
    t0 = time.time() + 0.5
    n_lookups = int((paced_n + 1) * interval * cfg["lookup_hz"])
    keys = lookup_schedule(plan, n_lookups, interval, cfg["lookup_hz"])
    lk_out = os.path.join(wd, "lookups.jsonl")
    lk_id = agent.send("lookups", async_=True, table=target, key_col=plan.key_col,
                       key_type=plan.key_type, version_col="versionnumber", keys=keys,
                       start_ms=int(t0 * 1000), period_ms=1000.0 / cfg["lookup_hz"], out=lk_out)
    stamps, late = {}, []
    for k, f in enumerate(paced, start=1):
        due = t0 + k * interval
        sleep_until(due)
        stamps[f.name] = close([f])
        late.append((stamps[f.name] - due) * 1000.0)
    last = paced[-1].name
    events.wait_for(lambda: events.committed_at(last), TIMEOUT_S)
    lags = []
    for f in paced:
        attempted += 1
        c = events.committed_at(f.name)
        if c is None:
            failed += 1
        else:
            lags.append(c - stamps[f.name])

    phase("paced")
    # catch-up burst: every burst folder closes at once
    burst = [f for f in plan.folders if f.phase == "burst"]
    t_burst = close(burst)
    attempted += len(burst)
    c = events.wait_for(lambda: events.committed_at(burst[-1].name), TIMEOUT_S * 2)
    if c is None:
        failed += len(burst)
        c = time.time()
    catchup_s = c - t_burst
    heap_mb, heap_gcs = heap_after_gc_mb(env.gc_log("stream"), t0, c)
    catchup_rows = plan.rows(("burst",))
    agent.wait(lk_id, timeout=TIMEOUT_S)
    rss = peak_rss_mb(stream.pid)
    stream.send_signal(signal.SIGTERM)
    try:
        stream.wait(timeout=30)
    except subprocess.TimeoutExpired:
        stream.kill()
        stream.wait()

    phase("burst_and_stop")
    # correctness, outside the timed region
    hist = gen.History(plan)
    lookup_lat, lk_failed, bad, lk_retries = check_lookups(plan, hist, lk_out)
    attempted += len(lookup_lat)
    failed += lk_failed
    expected = gen.fold(plan)
    cols = [plan.key_col] + plan.check_cols
    views = [("snapshot", target)]
    if wl == "cdc_cow":
        views += [("iceberg", spec["icebergExportDir"]), ("delta", spec["deltaExportDir"])]
    checks = {}
    for kind, path in views:
        out = os.path.join(wd, "check", kind)
        agent.call("dump", kind=kind, path=path, cols=cols, out=out)
        wrong, n = check_table(plan, expected, out)
        checks[kind] = {"rows": n, "expected": len(expected), "wrong": wrong}
        attempted += wrong
        failed += wrong
    storage = du(target) + (du(os.path.join(wd, "export")) if wl == "cdc_cow" else 0)
    phase("checks")

    lag = stats.summarize(lags) if lags else {"n": 0, "p50": 0.0, "tail": 0.0, "tail_q": 0}
    lk = stats.summarize(lookup_lat)
    res = dict(
        metrics={
            "wait_p50_s": (lag["p50"], "s"), "wait_tail_s": (lag["tail"], "s"),
            "lookup_p50_s": (lk["p50"], "s"), "lookup_tail_s": (lk["tail"], "s"),
            "bulk_s": (catchup_s, "s"),
            "load_rows_per_s": (load_rows / load_s, "rows/s"),
            "storage_bytes_per_row": (storage / max(1, len(expected)), "B/row"),
            "setup_s": (setup_s, "s"), "heap_after_gc_mb": (heap_mb, "MB")},
        detail={
            "lag": lag, "lag_samples_s": lags, "lag_limit_s": interval,
            "peak_rss_mb": rss, "gcs_timed": heap_gcs,
            "lag_over_limit": bool(lags) and max(lags) > interval,
            "lookups": lk, "lookup_failures": bad[:5], "lookup_retries": lk_retries,
            "catchup_rows": catchup_rows, "catchup_rows_per_s": catchup_rows / catchup_s,
            "load_rows": load_rows, "load_s": load_s,
            "generation_s": gen_s, "phases_s": phases, "agent_session_s": ready.get("session_ms", 0) / 1000.0,
            "checks": checks, "generator_late_ms": late,
            "folder_interval_s": interval, "trigger_interval_s": 0,
            "lookup_hz": cfg["lookup_hz"], "paced_folders": paced_n,
            "rows_per_paced_folder": plan.rows(("paced",)) / paced_n},
        attempted=attempted, failed=failed)
    if trace:
        res["layers"] = lay = trace_stream(wl, env, agent, plan, wd, stamps, events, late, lag, seed)
        wrong = sum(lay["replay_wrong_rows"].values())
        res["attempted"] += wrong
        res["failed"] += wrong
    agent.close()
    return res


def replay(agent, wl, plan, rd, max_streamed=None):
    """Replay a plan's folders through the engine's calls, one span per call
    (perfbench/scala/Replay.scala), on a fresh target under `rd`.  Returns
    the replay's spans and batches and the number of wrong rows in the
    replayed table (checked against the model fold)."""
    src, staging = os.path.join(rd, "source"), os.path.join(rd, "staging")
    gen.write_root_model(src, plan)
    streamed = [f for f in plan.folders if f.phase != "history"][:max_streamed]
    for f in plan.folders:
        if f.phase == "history" or f in streamed:
            gen.write_folder(src if f.phase == "history" else staging, plan, f)
    gen.stamp_changelog(src, [f.name for f in plan.folders if f.phase == "history"][-1])
    spec = stream_spec(wl, rd, src, os.path.join(rd, "target"), counting=True)
    batches = [[f.name] for f in streamed if f.phase != "burst"]
    burst = [f.name for f in streamed if f.phase == "burst"]
    if burst:
        batches.append(burst)
    lookups = []
    for b in batches:
        pool = plan.lookup_pool.get(plan.index_of(b[-1]), [])
        lookups.append([str(k) for _, k in pool[:1]] + [str(plan.absent_keys[len(lookups)])])
    r = agent.call("replay", timeout=170, spec=json.dumps(spec), staging=staging,
                   local_root=src, key_col=plan.key_col, key_type=plan.key_type,
                   batches=batches, lookups=lookups)
    dump = os.path.join(rd, "check")
    agent.call("dump", kind="snapshot", path=spec["targetLocation"],
               cols=[plan.key_col] + plan.check_cols, out=dump)
    wrong, _ = check_table(plan, gen.fold(plan, plan.index_of(batches[-1][-1])), dump)
    return r, wrong


# The layers cdc_cow bypasses (content dedup, merge-on-read writes, reads
# that apply equality deletes, maintenance) are taken from a replay of the
# cdc_mor_reads scenario in the same traced run.
MOR_LAYERS = ("streaming.", "tables.mor_ms", "tables.lookup_", "tables.live_delete_files",
              "tables.compact_", "tables.expire_ms", "tables.orphans_ms")


def trace_stream(wl, env, agent, plan, wd, stamps, events, late, lag, seed):
    """The per-layer view of a stream workload: its folders replayed with a
    span per engine call, the untraced stream's own progress reports and
    batch_committed events as the pipeline layer and cross-checks, and
    (cdc_cow) a local[1] replay of a few folders as the single-thread
    baseline."""
    r, wrong = replay(agent, wl, plan, os.path.join(wd, "replay"))
    progress = layers.stream_progress(os.path.join(wd, "stream.log"))
    res = layers.stream_layers(r, NPROC, progress, events.named("batch_committed"),
                               stamps, late, lag, os.path.join(wd, "replay"))
    res["replay_wrong_rows"] = {wl: wrong}
    if wl == "cdc_cow":
        docs = make_plan("cdc_mor_reads", seed, 2)
        rm, wrong_m = replay(agent, "cdc_mor_reads", docs, os.path.join(wd, "replay-mor"))
        mor = layers.stream_layers(rm, NPROC, [], [], {}, [], lag, os.path.join(wd, "replay-mor"))
        for k, v in mor["metrics"].items():
            if k.startswith(MOR_LAYERS):
                res["metrics"][k] = v
        res["mor_self_times"] = mor["self_times"]
        res["mor_unattributed_share"] = mor["metrics"]["trace.unattributed_share"][0]
        res["replay_wrong_rows"]["cdc_mor_reads"] = wrong_m
        one = Agent(env, "local[1]", "2g", name="replay-local1")
        one.wait("ready")
        r1, _ = replay(one, wl, plan, os.path.join(wd, "replay-local1"), max_streamed=3)
        one.close()
        res["single_thread_baseline"] = layers.baseline(r1)
    return res


# ---------------------------------------------------------------- query_mix

def run_query_mix(seed, seconds, trace, env):
    cfg = WORKLOADS["query_mix"]
    wd = env.wd
    t_setup = time.monotonic()
    sf = os.path.join(HERE, "data", "sf0.01")
    agent = Agent(env, "local[%d]" % NPROC, "3g")
    ready = agent.wait("ready", timeout=TIMEOUT_S)
    if "conf" not in ready:
        raise RuntimeError("agent did not start (see agent.log)")
    with open(os.path.join(HERE, "query_times.json")) as f:
        times = json.load(f)["queries"]
    names = query_sample(times)
    passes = query_passes(times, names, seconds)
    random.Random(seed).shuffle(names)
    rate = cfg["lookup_hz"]
    subset = os.path.join(wd, "orders_subset.parquet")
    keys, expect = oracle.lookup_table(sf, seed, subset, int(seconds * rate))
    # the warm passes, untimed: first each result written for the oracle check,
    chk_dir = os.path.join(wd, "results")
    chk = agent.call("queries", timeout=170, mode="check", names=names, sf_dir=sf, out=chk_dir)
    # then one pass the way the timed ones run (after the check pass alone
    # the first timed pass was still a third slower than the third)
    agent.call("queries", timeout=170, mode="timed", names=names, sf_dir=sf, passes=1)
    # the lookup table, loaded on the warm session (loaded on the cold one
    # right after start, its load time was the least steady set-up number)
    tbl = os.path.join(wd, "orders_table")
    load = agent.call("load_table", source=subset, key="o_orderkey", path=tbl, reps=5, buckets=10)
    load_s = stats.median(load["ms"]) / 1000.0
    table = tbl + "_4"
    setup_s = time.monotonic() - t_setup

    # The reader runs beside every timed pass alike: it cycles through its
    # keys until the last pass is done.
    t0 = time.time() + 0.2
    lk_out = os.path.join(wd, "lookups.jsonl")
    lk_id = agent.send("lookups", async_=True, table=table, key_col="o_orderkey", key_type="long",
                       version_col="o_custkey", keys=keys, start_ms=int(t0 * 1000),
                       period_ms=1000.0 / rate, out=lk_out, until_stopped=True)
    sleep_until(t0)
    timed = agent.call("queries", timeout=170, mode="timed", names=names, sf_dir=sf,
                       passes=passes)
    t_end = time.time()
    agent.call("stop_lookups")
    agent.wait(lk_id, timeout=TIMEOUT_S)
    rss = peak_rss_mb(agent.p.pid)
    heap_mb, heap_gcs = heap_after_gc_mb(env.gc_log("agent"), t0, t_end)

    attempted = failed = 0
    lat, passes = [], {}
    for r in timed["records"]:
        attempted += 1
        if r["error"]:
            failed += 1
        lat.append(r["ms"] / 1000.0)
        passes[r["pass"]] = passes.get(r["pass"], 0.0) + r["ms"] / 1000.0
    pass_s = stats.median(list(passes.values()))
    verdicts = oracle.check_results(chk_dir, sf, chk["records"], chk["oracle"])
    bad_q = [n for n, v in verdicts.items() if not v["ok"]]
    attempted += len(verdicts)
    failed += len(bad_q)
    lk_lat, lk_bad = [], 0
    for line in open(lk_out):
        r = json.loads(line)
        lk_lat.append(r["latency_ms"] / 1000.0)
        got = [int(v) for v in r["versions"].split(",") if v]
        if r["error"] or got != expect[r["key"]]:
            lk_bad += 1
    attempted += len(lk_lat)
    failed += lk_bad
    q = stats.summarize(lat)
    lk = stats.summarize(lk_lat)
    res = dict(
        metrics={
            "wait_p50_s": (q["p50"], "s"), "wait_tail_s": (q["tail"], "s"),
            "lookup_p50_s": (lk["p50"], "s"), "lookup_tail_s": (lk["tail"], "s"),
            "bulk_s": (pass_s, "s"),
            "load_rows_per_s": (load["rows"] / load_s, "rows/s"),
            "storage_bytes_per_row": (du(table) / load["rows"], "B/row"),
            "setup_s": (setup_s, "s"), "heap_after_gc_mb": (heap_mb, "MB")},
        detail={
            "queries": q, "passes": len(passes), "query_mix_s": pass_s,
            "pass_s": list(passes.values()), "peak_rss_mb": rss, "gcs_timed": heap_gcs,
            "lookups": lk, "oracle": {n: v for n, v in verdicts.items() if not v["ok"]},
            "sample": names, "session_conf": ready["conf"],
            "agent_session_s": ready["session_ms"] / 1000.0, "lookup_hz": rate,
            "per_query_s": {n: stats.median([r["ms"] / 1000.0 for r in timed["records"]
                                             if r["name"] == n]) for n in names}},
        attempted=attempted, failed=failed)
    if trace:
        tr = agent.call("queries", timeout=170, mode="traced", names=names, sf_dir=sf)
        res["layers"] = layers.query_layers(tr, NPROC, pass_s)
    agent.close()
    return res


# ------------------------------------------------------------------- main

def host_facts(wl, seed, seconds):
    mem = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1]) // 1024
    return {"workload": wl, "seed": seed, "seconds": seconds, "nproc": NPROC,
            "mem_total_mb": mem, "engine_task_slots": NPROC}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args(argv)
    classes = build()
    wd = os.path.join(RUNS, "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(wd, ignore_errors=True)
    os.makedirs(wd)
    facts = host_facts(a.workload, a.seed, a.seconds)
    env = Env(classes, wd)
    try:
        if a.workload == "query_mix":
            res = run_query_mix(a.seed, a.seconds, a.trace, env)
        else:
            res = run_stream(a.workload, a.seed, a.seconds, a.trace, env)
    finally:
        env.stop_all()
    facts.update({k: v for k, v in res["detail"].items()
                  if k in ("folder_interval_s", "trigger_interval_s", "lookup_hz")})
    log("host: " + json.dumps(facts))
    if a.workload == "query_mix":
        log("query_mix session settings (copied from graft.app.Main's builder; the one config "
            "copy left until the engine has one shared session builder): "
            + json.dumps(res["detail"]["session_conf"]))
    for name, (v, unit) in res["metrics"].items():
        log("metric %-22s %14.6f %s" % (name, v, unit))
    log("detail: " + json.dumps({k: v for k, v in res["detail"].items() if k != "session_conf"},
                                default=str))
    if res["detail"].get("lag_over_limit"):
        log("WARNING: a folder's lag exceeds the folder interval: the stream has a growing backlog")
    if a.trace:
        lay = res["layers"]
        layers.print_table(lay, log)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in lay["metrics"].items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()}
    with open(os.path.join(wd, "report.json"), "w") as f:
        json.dump({"facts": facts, "result": res}, f, default=str, indent=1)
    for sub in os.listdir(wd):   # keep the report and the logs, drop inputs and tables
        if os.path.isdir(os.path.join(wd, sub)):
            shutil.rmtree(os.path.join(wd, sub), ignore_errors=True)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
