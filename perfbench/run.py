#!/usr/bin/env python3
"""graft benchmark: live ingest, backfill-and-serve, and a full-result query mix.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_live --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selfcheck

The first run builds the engine and the JVM driver (perfbench/src) with sbt
and caches the classpath under perfbench/.build, keyed by a hash of every
source file. Each run generates its inputs from --seed, launches one JVM,
checks every output, and prints one JSON line last:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
See perfbench/README.md for workloads, metrics and layers.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(REPO, "src", "main", "scala")
BUILD = os.path.join(HERE, ".build")
WORK_ROOT = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data")

# Whole-run deadline: the runner must finish well inside 180 s.
RUN_DEADLINE_S = 170.0
BUILD_TIMEOUT_S = 840.0
JVM_HEAP = "3g"

# --- workload parameters -------------------------------------------------
TX_PER_POLL = 100          # fresh transactions per poll, before duplicates
DUPS_PER_POLL = 10         # overlap re-sends of the previous poll's txs
OOO_PER_POLL = 3           # out-of-order txs, 1-30 s behind the poll
LATE_PER_POLL = 2          # txs far behind the watermark (dropped)
HEALTH_EVERY = 4           # one Health Check envelope every N polls
HEALTH_TXS = 5

LIVE_RATE = 6.0            # polls per second, open loop
LIVE_MAX_FILES = 16        # maxFilesPerTrigger for the live pipeline
LIVE_BACKLOG = 32          # polls waiting when the pipeline (re)starts
LIVE_LATE_S = 3600         # late txs are an hour behind their poll

BACKFILL_POLLS = 120       # one poll per event-time minute: two hours
BACKFILL_MAX_FILES = 40
BACKFILL_LATE_S = 4 * 3600
BACKFILL_BASE = 1767225600  # 2026-01-01T00:00:00Z
LOOKUP_KEYS = 4000

WARM_POLLS = 3
QUERIES = [
    # ROADMAP's slow tail that fits the run budget: PQ distortion (serial
    # single-task compute, eager actions while the plan is built) and
    # containment (shuffle-heavy)
    "s35_pq_distortion", "d9_containment",
    # one query from every other family, and cheaper members of these two
    "a7_wql", "c5_pretrain_prep", "geo2_nearest", "g8_modularity",
    "j4_asof_join", "mon7_burn_rate", "o9_group_topk", "p5_cast_sort",
    "q1_agg", "t2_quality", "d3_simhash", "m3_png_features", "x5_hash_split",
    "s1_ann_topk",
]
# Set-up warms the JIT on two cheap queries outside the measured list
# (scan, aggregate, join, shuffle).
WARM_QUERIES = ["a3_minmax_time", "j1_anti_join"]
ORACLE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


# --- build -----------------------------------------------------------------

def source_files():
    files = []
    for root in (ENGINE_SRC, os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(root):
            files += [os.path.join(dirpath, n) for n in names if n.endswith((".scala", ".java"))]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def build():
    """Compile with sbt unless the cached classpath matches the sources."""
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        raise BenchError(f"engine sources not found under {ENGINE_SRC}")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    if shutil.which("sbt") is None:
        raise BenchError("sbt not found on PATH")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g")
    log("building (sbt compile)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    with open(os.path.join(BUILD, "build.log"), "w") as fh:
        fh.write(p.stdout)
    if p.returncode != 0:
        raise BenchError("sbt build failed; see perfbench/.build/build.log:\n" + p.stdout[-2000:])
    cps = [ln.strip() for ln in p.stdout.splitlines()
           if ln.strip() and not ln.startswith("[") and "scala-library" in ln]
    if not cps:
        raise BenchError("could not read the classpath from sbt output")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1]


# --- poll generator ----------------------------------------------------------

def minute_key(t):
    return time.strftime("%Y-%m-%d %H:%M:00", time.gmtime(t - t % 60))


class PollGen:
    """Reference-shaped poll files, deterministic per (seed, workload).

    Each poll is one `Incoming Data` envelope of about TX_PER_POLL fresh
    txs whose event time is the poll's due second, plus:
      - DUPS_PER_POLL overlap re-sends of the previous poll's fresh txs
        (the reference re-polls the last 100 txs), dropped by dedup;
      - OOO_PER_POLL out-of-order txs 1-30 s behind the due second. They
        are never behind the watermark (at most max event time - 60 s), so
        they are admitted whatever the micro-batch boundaries;
      - LATE_PER_POLL late txs `late_s` behind, only in polls at index
        >= 2 * max_files. Spark's late filter uses the watermark of the
        previous batch, i.e. data of batches up to two before the arrival
        batch; with at most max_files files per batch that includes every
        poll at least 2 * max_files earlier, and late_s is chosen larger
        than that span plus the 60 s delay. So they are always dropped;
      - every HEALTH_EVERY-th poll a `Health Check` envelope with its own
        hashes, which the event-bus filter must drop.
    The expected table therefore does not depend on batch boundaries.
    """

    def __init__(self, seed, workload, max_files, late_s):
        self.rng = random.Random(f"{seed}/{workload}")
        self.tag = f"{seed}{workload}"
        self.max_files = max_files
        self.late_s = late_s
        self.prev = []
        self.truth = {}  # minute -> [count, fee sum]
        self.generated = 0
        self.incoming = 0

    def _tx(self, kind, j, i, t):
        rng = self.rng
        h = hashlib.md5(f"{self.tag}/{kind}/{j}/{i}".encode()).hexdigest()
        return {"hash": h, "ver": 1, "vin_sz": rng.randint(1, 4), "vout_sz": rng.randint(1, 4),
                "size": rng.randint(150, 900), "weight": rng.randint(600, 3600),
                "fee": rng.randint(0, 20000), "relayed_by": "0.0.0.0", "lock_time": 0,
                "tx_index": rng.getrandbits(48), "double_spend": False, "time": t,
                "block_index": None, "block_height": None, "inputs": "[]", "out": "[]",
                "rbf": False}

    def _admit(self, tx):
        k = minute_key(tx["time"])
        c = self.truth.setdefault(k, [0, 0])
        c[0] += 1
        c[1] += tx["fee"]

    @staticmethod
    def _envelope(kind, j, due, txs):
        return json.dumps({
            "version": 0, "id": f"{kind}-{j}", "detail-type": kind,
            "source": "ingestion-worker", "account": 123456789012,
            "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(due)),
            "region": "eu-west-1", "resources": [], "detail": {"txs": txs}},
            separators=(",", ":"))

    def poll(self, j, due):
        """The file content of poll j, due at epoch second `due`."""
        rng = self.rng
        fresh = [self._tx("f", j, i, due) for i in range(TX_PER_POLL)]
        ooo = [self._tx("o", j, i, due - rng.randint(1, 30)) for i in range(OOO_PER_POLL)]
        late = ([self._tx("l", j, i, due - self.late_s) for i in range(LATE_PER_POLL)]
                if j >= 2 * self.max_files else [])
        dups = rng.sample(self.prev, min(DUPS_PER_POLL, len(self.prev)))
        self.prev = fresh
        txs = fresh + ooo + late + dups
        rng.shuffle(txs)
        for tx in fresh + ooo:
            self._admit(tx)
        lines = [self._envelope("Incoming Data", j, due, txs)]
        self.incoming += len(txs)
        self.generated += len(txs)
        if j % HEALTH_EVERY == 0:
            hc = [self._tx("h", j, i, due) for i in range(HEALTH_TXS)]
            lines.append(self._envelope("Health Check", j, due, hc))
            self.generated += len(hc)
        return "\n".join(lines) + "\n"

    def expected(self):
        return {k: (c, s, s / c) for k, (c, s) in self.truth.items()}


def write_poll(src, j, content, mtime_ns=None):
    """Atomic drop: write a hidden temp file, then rename into place."""
    tmp = os.path.join(src, f".poll-{j:06d}.tmp")
    dst = os.path.join(src, f"poll-{j:06d}.json")
    with open(tmp, "w") as fh:
        fh.write(content)
    if mtime_ns is not None:
        os.utime(tmp, ns=(mtime_ns, mtime_ns))
    os.rename(tmp, dst)
    return dst


def write_warm(work, seed):
    """Warm-up polls (a different seed stream, a fixed past hour)."""
    warm = os.path.join(work, "warm")
    os.makedirs(warm)
    g = PollGen(seed, "warm", 100, 3600)
    now = time.time_ns()
    for j in range(WARM_POLLS):
        write_poll(warm, j, g.poll(j, BACKFILL_BASE - 86400 + 60 * j),
                   now - (WARM_POLLS - j) * 10_000_000)


# --- checkpoint reading -----------------------------------------------------

def file_batches(ckpt):
    """poll file name -> id of the micro-batch that read it.

    The file source's own log (sources/0) numbers its entries by the
    source's log offset, which advances only when new files are found, so
    it drifts from the query's batch id. offsets/<batchId> records the
    source log offset each batch read up to; a file belongs to the first
    batch whose offset reaches its entry."""
    by_offset = {}
    for f in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(f).startswith("."):
            continue
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    by_offset[os.path.basename(e["path"])] = int(e["batchId"])
    batch_offsets = []
    for f in glob.glob(os.path.join(ckpt, "offsets", "*")):
        b = os.path.basename(f)
        if b.isdigit():
            with open(f) as fh:
                lines = fh.read().splitlines()
            batch_offsets.append((int(b), json.loads(lines[2])["logOffset"]))
    batch_offsets.sort()
    out = {}
    for name, off in by_offset.items():
        out[name] = next((b for b, o in batch_offsets if o >= off), None)
    return out


def commit_times(ckpt):
    """batch id -> commit time (epoch s), the mtime of commits/<batchId>."""
    out = {}
    for f in glob.glob(os.path.join(ckpt, "commits", "*")):
        b = os.path.basename(f)
        if b.isdigit():
            out[int(b)] = os.stat(f).st_mtime_ns / 1e9
    return out


def count_files(d):
    return sum(len(fs) for _, _, fs in os.walk(d))


# --- checks --------------------------------------------------------------------

def check_table(rows, expected, label):
    """rows: [minute, count, sum, avg]; count and sum exact, avg equal."""
    fails = []
    got = {}
    for r in rows:
        if r[0] in got:
            fails.append(f"{label}: duplicate key {r[0]}")
        got[r[0]] = (r[1], r[2], r[3])
    if set(got) != set(expected):
        miss = sorted(set(expected) - set(got))[:3]
        extra = sorted(set(got) - set(expected))[:3]
        fails.append(f"{label}: keys differ ({len(got)} vs {len(expected)}; missing {miss}, extra {extra})")
    for k in sorted(set(got) & set(expected)):
        g, w = got[k], expected[k]
        if g[0] != w[0] or g[1] != w[1] or float(g[2]) != w[2]:
            fails.append(f"{label}: {k} got {g} expected {w}")
            break
    return fails


def check_lookup(rec, expected):
    k = rec["key"]
    rows = rec["rows"]
    if len(rows) != 1:
        return [f"lookup {k}: {len(rows)} rows"]
    return check_table(rows, {k: expected[k]}, f"lookup {k}")


def sort_frame(df):
    cols = sorted(df.columns)
    return cols, df[cols].sort_values(by=cols, kind="mergesort").reset_index(drop=True)


def compare_frames(got, want):
    """tools/oracle_check.py's compare: columns sorted by name, rows sorted,
    int-vs-float dtype drift is a mismatch, values compared exactly
    (NaN equals NaN)."""
    gc, g = sort_frame(got)
    wc, w = sort_frame(want)
    if gc != wc:
        return f"columns {gc} vs {wc}"
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    drift = [c for c in gc if {g[c].dtype.kind, w[c].dtype.kind} == {"i", "f"}]
    if drift:
        return f"int-vs-float dtype drift in {drift}"

    def norm(v):
        return "NaN" if isinstance(v, float) and math.isnan(v) else v
    for c in gc:
        for i, (a, b) in enumerate(zip(list(g[c]), list(w[c]))):
            a, b = norm(a), norm(b)
            if a != b and str(a) != str(b):
                return f"col {c} row {i}: spark={a!r} duckdb={b!r}"
    return None


def oracle_results(data_dir, oracle_sql):
    """DuckDB's result for each query. A result depends only on its SQL
    and the tables, so it is cached under perfbench/.build keyed by both;
    the comparison itself runs on every execution of every run."""
    import duckdb
    import pandas
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    h = hashlib.sha256()
    for t in ORACLE_TABLES:
        with open(f"{data_dir}/{t}.parquet", "rb") as fh:
            h.update(fh.read())
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    data_hash = h.hexdigest()
    cache = os.path.join(BUILD, "oracle")
    os.makedirs(cache, exist_ok=True)
    out = {}
    for q, sql in oracle_sql.items():
        f = os.path.join(cache, hashlib.sha256((data_hash + sql).encode()).hexdigest() + ".pkl")
        if os.path.isfile(f):
            out[q] = pandas.read_pickle(f)
        else:
            out[q] = con.execute(sql).fetchdf()
            out[q].to_pickle(f + ".tmp")
            os.replace(f + ".tmp", f)
    return con, out


# --- JVM ---------------------------------------------------------------------

def nproc():
    return os.cpu_count() or 1


def cpu_jiffies():
    """(total, steal) CPU time of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), f[7]


class Jvm:
    """The driver JVM of one run. Leaving the `with` block kills it if it
    is still running and waits until it has ended."""

    def __init__(self, cp, run, params):
        args = dict(params, workload=run.workload, work=run.work, seconds=str(run.seconds),
                    trace=str(run.trace), cpus=str(nproc()), setups=str(run.setups),
                    t0ms=str(int(time.time() * 1000)))
        opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        tmp = os.path.join(run.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
               ["-cp", cp, "graftbench.Main"] + [f"{k}={v}" for k, v in args.items()])
        self.work = run.work
        self.errlog = open(os.path.join(run.work, "jvm.log"), "w")
        self.proc = subprocess.Popen(cmd, cwd=run.work, stdout=subprocess.PIPE,
                                     stderr=self.errlog, stdin=subprocess.DEVNULL, text=True)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self.errlog.close()

    def result(self, deadline):
        """Wait for a clean exit and return jvm.json."""
        try:
            self.proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise BenchError("JVM timed out")
        if self.proc.returncode != 0:
            with open(os.path.join(self.work, "jvm.log")) as fh:
                tail = fh.read()[-3000:]
            raise BenchError(f"JVM exited with {self.proc.returncode}:\n{tail}")
        with open(os.path.join(self.work, "jvm.json")) as fh:
            return json.load(fh)


def read_jsonl(path):
    with open(path) as fh:
        return [json.loads(ln) for ln in fh if ln.strip()]


def quantile(xs, q, steps=64):
    """Harrell-Davis estimate of the q-quantile: the mean of all order
    statistics weighted by the Beta(q(n+1), (1-q)(n+1)) density over each
    one's share of [0, 1]. A run yields 15 to 40 samples of an operation;
    one order statistic of so few jumps between neighbours that differ by
    20 % (query_mix's median sits between two queries), while this
    weighted mean moves with all of them. The weights are integrated with
    the midpoint rule, `steps` points per sample."""
    s = sorted(xs)
    n = len(s)
    if n < 2:
        return s[0] if s else 0.0
    a, b = q * (n + 1), (1 - q) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    h = 1.0 / (n * steps)
    w = [sum(math.exp(log_norm + (a - 1) * math.log(x) + (b - 1) * math.log1p(-x))
             for x in ((i * steps + k + 0.5) * h for k in range(steps)))
         for i in range(n)]
    return sum(wi * v for wi, v in zip(w, s)) / sum(w)


# --- workloads ---------------------------------------------------------------

class Run:
    """Everything one run measured, plus what the checks need."""

    def __init__(self, workload, seed, seconds, trace, work, setups=3):
        self.workload, self.seed, self.seconds, self.trace, self.work = \
            workload, seed, seconds, trace, work
        self.setups = setups
        self.e2e = {}
        self.layers = {}
        self.attempted = 0
        self.failed = 0
        self.fails = []
        self.checks = []  # (name, thunk(perturb) -> list of failures)
        self.detail = {}  # extra records for run.json

    def check(self, name, fn, ops=1):
        """Check `ops` attempted operations now. fn(perturb) returns one
        failure string per failed operation, against the real expectation
        or, with perturb, a deliberately wrong one (--selfcheck)."""
        self.checks.append((name, fn))
        fails = fn(False)
        self.attempted += ops
        self.failed += len(fails)
        self.fails += fails


def ingest_live(cp, run, deadline, params=None):
    p = dict(rate=LIVE_RATE, backlog=LIVE_BACKLOG, max_files=LIVE_MAX_FILES)
    p.update(params or {})
    work = run.work
    src = os.path.join(work, "polls")
    os.makedirs(src)
    write_warm(work, run.seed)
    gen = PollGen(run.seed, "ingest_live", p["max_files"], LIVE_LATE_S)
    rate = p["rate"]
    # the restart backlog: polls that came due while the pipeline was down
    t_launch = time.time()
    now_ns = time.time_ns()
    due = {}
    for j in range(p["backlog"]):
        d = t_launch - (p["backlog"] - j) / rate
        due[f"poll-{j:06d}.json"] = d
        write_poll(src, j, gen.poll(j, int(d)), now_ns - (p["backlog"] - j) * 10_000_000)
    written = {}
    late_ms = []
    with Jvm(cp, run, {"max_files": p["max_files"]}) as jvm_proc:
        proc = jvm_proc.proc
        ready = threading.Event()

        def reader():
            for line in proc.stdout:
                if line.strip() == "READY":
                    ready.set()
        threading.Thread(target=reader, daemon=True).start()
        while not ready.wait(0.05):
            if proc.poll() is not None or time.time() > deadline - run.seconds - 20:
                raise BenchError("pipeline never reported READY")
        # open loop: poll k is due at t0 + k / rate, whatever the pipeline does
        t0 = time.time() + 0.2
        n_live = int(run.seconds * rate)
        for k in range(n_live):
            j = p["backlog"] + k
            d = t0 + k / rate
            content = gen.poll(j, int(d))
            wait = d - time.time()
            if wait > 0:
                time.sleep(wait)
            name = os.path.basename(write_poll(src, j, content))
            written[name] = time.time()
            due[name] = d
            late_ms.append(max(0.0, (written[name] - d) * 1000))
        with open(os.path.join(work, "STOP"), "w") as fh:
            fh.write(str(p["backlog"] + n_live))
        jvm = jvm_proc.result(deadline)

    ckpt = os.path.join(work, "warehouse", "checkpoints", "ingestion")
    fb = file_batches(ckpt)
    ct = commit_times(ckpt)
    committed = {n for n, b in fb.items() if b in ct}
    run.check("polls committed", lambda perturb: [
        f"{n} never committed" for n in list(written) + (["poll-phantom"] if perturb else [])
        if n not in committed], ops=len(written))
    fresh = [(ct[fb[n]] - due[n]) * 1000 for n in written if n in committed]
    run.detail["op_samples_ms"] = fresh
    expected = gen.expected()
    final = read_jsonl(os.path.join(work, "final.jsonl"))
    run.check("final table", lambda perturb: check_table(
        final, perturb_table(expected) if perturb else expected, "final table")[:1])

    run.e2e = {"setup_s": jvm["setup_s"],
               "op_p50_ms": quantile(fresh, 0.5),
               "op_p90_ms": quantile(fresh, 0.9),
               "work_s": jvm["catchup_ms"] / 1000}
    # backlog at each commit: live polls written but not yet committed
    backlog = [sum(1 for n, w in written.items() if w <= c and ct.get(fb.get(n), math.inf) > c)
               for c in ct.values()]
    run.detail["polls"] = [{"file": n, "due": due[n], "written": w, "batch": fb.get(n),
                            "commit": ct.get(fb.get(n))} for n, w in written.items()]
    run.layers.update({
        "generator.late_ms.max": max(late_ms) if late_ms else 0.0,
        "streaming.source_backlog_max": max(backlog) if backlog else 0,
        "streaming.checkpoint_files": count_files(ckpt),
        "freshness_samples": len(fresh),
    })
    run.jvm = jvm
    run.gen = gen
    return run


def perturb_table(expected):
    """A deliberately wrong expectation: one count off by one."""
    k = sorted(expected)[len(expected) // 2]
    c, s, a = expected[k]
    out = dict(expected)
    out[k] = (c + 1, s, a)
    return out


def backfill_serve(cp, run, deadline, params=None):
    p = dict(polls=BACKFILL_POLLS, max_files=BACKFILL_MAX_FILES)
    p.update(params or {})
    work = run.work
    src = os.path.join(work, "polls")
    os.makedirs(src)
    write_warm(work, run.seed)
    gen = PollGen(run.seed, "backfill_serve", p["max_files"], BACKFILL_LATE_S)
    base = BACKFILL_BASE + (run.seed % 365) * 86400
    now_ns = time.time_ns()
    for j in range(p["polls"]):
        write_poll(src, j, gen.poll(j, base + 60 * j), now_ns - (p["polls"] - j) * 10_000_000)
    expected = gen.expected()
    keys = sorted(expected)
    rng = random.Random(f"{run.seed}/lookups")
    n = len(keys)
    # recency-skewed: most lookups hit the latest minutes
    with open(os.path.join(work, "lookup_keys.txt"), "w") as fh:
        for _ in range(LOOKUP_KEYS):
            fh.write(keys[n - 1 - int(n * rng.random() ** 3)] + "\n")
    with Jvm(cp, run, {"max_files": p["max_files"]}) as jvm_proc:
        jvm = jvm_proc.result(deadline)

    # the drain is checked through the final table, the compaction through
    # the lookups after it
    final = read_jsonl(os.path.join(work, "final.jsonl"))
    run.check("final table", lambda perturb: check_table(
        final, perturb_table(expected) if perturb else expected, "final table")[:1])
    lookups = read_jsonl(os.path.join(work, "lookups.jsonl"))
    run.check("lookups", lambda perturb: [f[0] for f in (check_lookup(
        rec, perturb_lookup(expected, rec["key"]) if perturb else expected)
        for rec in lookups) if f], ops=len(lookups))
    scans = read_jsonl(os.path.join(work, "scans.jsonl"))
    run.check("scans", lambda perturb: [f[0] for f in (check_table(
        rows, perturb_table(expected) if perturb else expected, "scan")
        for rows in scans) if f], ops=len(scans))

    def ml(perturb):
        want = len(expected) + (1 if perturb else 0)
        rmse = jvm["mlloop.monitor_rmse"]  # null when not finite
        ok = jvm["mlloop.series_rows"] == want and rmse is not None
        return [] if ok else [f"ML loop: {jvm['mlloop.series_rows']} series rows "
                              f"(expected {want}), monitor rmse {jvm['mlloop.monitor_rmse']}"]
    run.check("ml loop", ml)

    lookup_ms = [a + b for a, b in zip(jvm["lookup_build_ms"], jvm["lookup_exec_ms"])]
    run.detail["op_samples_ms"] = lookup_ms
    run.e2e = {"setup_s": jvm["setup_s"],
               "op_p50_ms": quantile(lookup_ms, 0.5),
               "op_p90_ms": quantile(lookup_ms, 0.9),
               "work_s": (jvm["drain_ms"] + jvm["compact_ms"] + jvm["mlloop_ms"]) / 1000}
    ckpt = os.path.join(work, "warehouse", "checkpoints", "ingestion")
    run.layers.update({
        "backfill.tx_per_s": gen.generated / (jvm["drain_ms"] / 1000),
        "store.compact_ms": jvm["compact_ms"],
        "store.lookup_build_ms.p50": quantile(jvm["lookup_build_ms"], 0.5),
        "store.lookup_exec_ms.p50": quantile(jvm["lookup_exec_ms"], 0.5),
        "store.scan_build_ms.p50": quantile(jvm["scan_build_ms"], 0.5),
        "store.scan_exec_ms.p50": quantile(jvm["scan_exec_ms"], 0.5),
        "lookup_samples": len(lookup_ms),
        "streaming.checkpoint_files": count_files(ckpt),
    })
    run.jvm = jvm
    run.gen = gen
    return run


def perturb_lookup(expected, key):
    c, s, a = expected[key]
    out = dict(expected)
    out[key] = (c, s + 1, a)
    return out


def query_mix(cp, run, deadline, params=None):
    p = dict(data=os.path.join(DATA, "sf0.01"), queries=QUERIES, warm=WARM_QUERIES)
    p.update(params or {})
    work = run.work
    # A fixed order: the first queries of a pass pay the JIT warm-up of
    # their operators, and a seed-permuted order moves that cost between
    # queries from run to run (README, "query_mix").
    with open(os.path.join(work, "queries.txt"), "w") as fh:
        fh.write("\n".join(sorted(p["queries"])) + "\n")
    with Jvm(cp, run, {"data": p["data"], "warm_queries": ",".join(p["warm"])}) as jvm_proc:
        jvm = jvm_proc.result(deadline)
    execs = read_jsonl(os.path.join(work, "executions.jsonl"))
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracle_sql = json.load(fh)
    con, want = oracle_results(p["data"], oracle_sql)
    got = {(e["pass"], e["query"]): con.execute(
        f"SELECT * FROM parquet_scan('{work}/out/{e['pass']}/{e['query']}/*.parquet')").fetchdf()
        for e in execs if e["error"] is None}

    def oracle_check(perturb):
        fails = []
        for e in execs:
            q = e["query"]
            if e["error"] is not None:
                fails.append(f"{q}: {e['error'][:300]}")
                continue
            w = perturb_frame(want[q]) if perturb else want[q]
            msg = compare_frames(got[(e["pass"], q)], w)
            if msg:
                fails.append(f"{q} (pass {e['pass']}): {msg}")
        return fails
    run.check("query oracle", oracle_check, ops=len(execs))

    ok = [e for e in execs if e["error"] is None]
    ms = [e["ms"] for e in ok]
    run.detail["op_samples_ms"] = ms
    run.e2e = {"setup_s": jvm["setup_s"],
               "op_p50_ms": quantile(ms, 0.5),
               "op_p90_ms": quantile(ms, 0.9),
               "work_s": statistics.median(jvm["pass_ms"]) / 1000}
    run.jvm = jvm
    return run


def perturb_frame(df):
    """A deliberately wrong oracle result: drop the last row, or if the
    result is empty, add a column."""
    if len(df) > 0:
        return df.iloc[:-1]
    return df.assign(__perturbed=[])


WORKLOADS = {"ingest_live": ingest_live, "backfill_serve": backfill_serve,
             "query_mix": query_mix}

SPEC_PATH = os.path.join(REPO, "BENCHMARK.json")


def finish(run, spec):
    """The metrics of the run's mode, by BENCHMARK.json's lists. A traced
    run reports every per-layer metric; a layer idle in this workload
    reads 0."""
    if run.trace:
        vals = dict(run.jvm)
        vals.update(run.layers)
        vals["store.files_written"] = vals.get("store.files.before_compact", 0)
        vals["store.files_per_hour.max"] = vals.get("store.files_per_hour.max.before_compact", 0)
        gen = getattr(run, "gen", None)
        if gen is not None and "streaming.dropped_duplicate_rows" in vals:
            admitted = (gen.incoming - vals["streaming.dropped_duplicate_rows"]
                        - vals["streaming.dropped_late_rows"])
            vals["streaming.admitted_ratio"] = admitted / gen.generated
        vals["trace.op_p50_ms"] = run.e2e["op_p50_ms"]
        vals["trace.work_s"] = run.e2e["work_s"]
        vals["trace.overhead_ratio"] = vals.get("trace.listener_ms", 0.0) / run.wall_ms
        specs = spec["per_layer"]
    else:
        vals = run.e2e
        specs = spec["end_to_end"]
    return {m["name"]: {"value": float(vals.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in specs}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selfcheck", action="store_true",
                    help="run every workload tiny and prove each check can fail")
    a = ap.parse_args()
    start = time.time()
    if not os.path.isfile(SPEC_PATH):
        log(f"{SPEC_PATH} not found")
        return 2
    with open(SPEC_PATH) as fh:
        spec = json.load(fh)
    try:
        cp = build()
    except (BenchError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        return 2
    if a.selfcheck:
        return selfcheck(cp)
    if not a.workload:
        ap.error("--workload is required")
    deadline = time.time() + RUN_DEADLINE_S - min(10.0, time.time() - start)
    load_before = os.getloadavg()[0]
    cpu_before = cpu_jiffies()
    work = os.path.join(WORK_ROOT, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = Run(a.workload, a.seed, a.seconds, a.trace, work)
    t0 = time.time()
    try:
        WORKLOADS[a.workload](cp, run, deadline)
    except (BenchError, OSError, KeyError, ValueError) as e:
        log(f"run failed: {e}")
        return 1
    run.wall_ms = (time.time() - t0) * 1000
    load_after = os.getloadavg()[0]
    cpu_after = cpu_jiffies()
    env = {"load1_before": load_before, "load1_after": load_after, "nproc": nproc(),
           "load1_warn": load_before > 0.5 * nproc(),
           "steal_ratio": (cpu_after[1] - cpu_before[1]) / max(1, cpu_after[0] - cpu_before[0])}
    run.layers.update({f"env.{k}": float(v) for k, v in env.items()})
    metrics = finish(run, spec)
    correct = not run.fails
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "env": env, "wall_s": run.wall_ms / 1000, "e2e": run.e2e,
              "fails": run.fails[:20], "layers": run.layers, "jvm": run.jvm,
              "detail": run.detail}
    with open(os.path.join(work, "run.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for f in run.fails[:10]:
        log(f"CHECK FAILED: {f}")
    log(f"load1 {load_before:.2f} -> {load_after:.2f} on {nproc()} cpus, "
        f"{env['steal_ratio']:.1%} of CPU time stolen by the host"
        + (" (load1_warn: the machine was busy at the start)" if env["load1_warn"] else "")
        + f"; wall {run.wall_ms / 1000:.1f} s; details in {os.path.relpath(work, REPO)}/run.json")
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def selfcheck(cp):
    """Tiny run of every workload, the three at once; every check must pass
    on the real expectations and fail on a perturbed one."""
    t0 = time.time()
    tiny = {
        "ingest_live": dict(rate=4.0, backlog=4, max_files=2),
        "backfill_serve": dict(polls=24, max_files=8),
        "query_mix": dict(data=os.path.join(DATA, "sf0.001"), queries=["q1_agg", "d3_simhash"],
                          warm=["q1_agg"]),
    }
    verdicts = {}

    def one(name):
        work = os.path.join(WORK_ROOT, "selfcheck", name)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        run = Run(name, 7, 0.5, 0, work, setups=1)
        try:
            WORKLOADS[name](cp, run, time.time() + 150, tiny[name])
        except BenchError as e:
            verdicts[name] = [f"run failed: {e}"]
            return
        lines = [f"real run failed checks: {run.fails[:3]}"] if run.failed or run.fails else []
        for check, fn in run.checks:
            caught = fn(True)
            lines.append(f"{check}: " + ("perturbed expectation caught" if caught else "NOT caught"))
        verdicts[name] = lines
    threads = [threading.Thread(target=one, args=(n,)) for n in tiny]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    ok = True
    for name in tiny:
        for line in verdicts.get(name, ["no result"]):
            log(f"selfcheck {name}: {line}")
            ok &= line.endswith("perturbed expectation caught")
    log(f"selfcheck {'passed' if ok else 'FAILED'} in {time.time() - t0:.1f} s")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
