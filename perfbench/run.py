#!/usr/bin/env python3
"""graft benchmark: the Kafka-wire broker and the Spark query pass.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (perfbench/README.md says why each was chosen):

  produce-small  closed loop, 4 connections, idempotent Produce v9 of ~8
                 records each to a 16-partition topic, then a Fetch v12
                 read-back of the whole topic with an OffsetCommit after
                 each non-empty fetch; fixed-size rounds on fresh topics
                 for --seconds
  queries        one cold pass over 12 SparkEntry.queries, one or two per
                 query family, on seeded tables; --seconds is not used

The first run in a checkout compiles graft and the benchmark into
.bench_build/ (perfbench/build.sh). Every run gets a fresh directory under
.bench_run/ for broker roots, java.io.tmpdir, Spark's local dirs and the
generated tables, and deletes it when it ends.

The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` and `metrics`, the end-to-end metrics untraced
(--trace 0) or the per-layer metrics traced (--trace 1). Standard error
gets a detail line with every figure, including the per-workload metrics
(produce_rps, queries_s, ...), the failures by kind and the output checks.
The exit code is 0 only when every output check passed and no operation
failed; it is 2, with no result printed, when the run could not be made.
"""
import argparse
import fcntl
import hashlib
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import uuid

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
def spark_home():
    """$SPARK_HOME, else the first `spark-submit` on PATH whose installation
    has a jars/ directory (a pip-installed pyspark wrapper has none)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    return ""


SPARK_JARS = os.path.join(spark_home(), "jars")
RUNS_DIR = os.path.join(ROOT, ".bench_run")

WORKLOADS = ("produce-small", "queries")

# One or two queries of each family, run in sorted order. Every one has a
# DuckDB oracle in SparkEntry.oracleSql that counts its rows in about a
# second or less; together they reach the graft-topic source and the topic
# fixtures, a drain, a GraftCaches build (jaccard-posts) and each operator
# family. Left out: text_bpe_* (their merge-table fixture lives at a fixed
# path outside the run directory) and the queries whose oracle takes many
# seconds (dedup_simhash, dedup_minhash_lsh).
QUERIES = sorted([
    "q1_agg", "q7_window_rank",
    "topic_partition_stats", "consumer_group_lag",
    "stream_exec_tumbling",
    "text_tokens", "text_keywords_tfidf",
    "dedup_exact", "dedup_ngram_jaccard",
    "ann_bruteforce_topk",
    "events_sessionize",
    "pipeline_clean_corpus",
])
# Table scale for the queries workload: 1.0 is sf0.1 (600,000 lineitem rows).
QUERY_SCALE = 1.0
# Set-ups per run; setup_s is their median.
SETUPS = 2
# A run (after the build) must end well inside 180 s.
RUN_BUDGET_S = 170.0

END_TO_END = [("setup_s", "s"), ("latency_ms", "ms"), ("tail_ms", "ms"), ("work_s", "s")]
PER_LAYER = [
    ("wireserver.self_ms_p50", "ms"),
    ("kafkawire.decode_produce_us_p50", "us"),
    ("kafkawire.encode_fetch_us_p50", "us"),
    ("kafkawire.bytes_per_record", "B"),
    ("broker.produce_self_ms_p50", "ms"),
    ("broker.fetch_self_ms_p50", "ms"),
    ("broker.fetch_useful_ratio", "ratio"),
    ("broker.offset_commit_ms_p50", "ms"),
    ("topiclog.append_ms_p50", "ms"),
    ("topiclog.append_ms_p99", "ms"),
    ("topiclog.cas_conflict_ratio", "ratio"),
    ("topiclog.manifest_resolve_ms", "ms"),
    ("topiclog.read_ms_p50", "ms"),
    ("topiclog.files_per_partition", "count"),
    ("topiclog.manifest_versions", "count"),
    ("topiclog.bytes_per_record", "B"),
    ("spark.plan_ms", "ms"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.task_cpu_s", "s"),
    ("spark.shuffle_bytes", "B"),
    ("spark.spill_bytes", "B"),
    ("drain.add_batch_ms", "ms"),
    ("drain.wal_commit_ms", "ms"),
    ("drain.commit_offsets_ms", "ms"),
    ("drain.state_commit_ms", "ms"),
    ("caches.build_s", "s"),
] + [(f"family.{f}_s", "s") for f in
     ("stream_exec", "text", "dedup", "ann", "events", "pipeline", "relational", "topic")] + [
    ("trace.overhead_pct", "%"),
]

# Units of the figures only the detail line carries.
DETAIL_UNITS = [
    ("produce_rps", "rec/s"), ("fetch_rps", "rec/s"),
    ("produce_p50_ms", "ms"), ("produce_p99_ms", "ms"),
    ("failed_ratio", "failed/attempted"), ("store_amp", "B/B"),
    ("queries_s", "s"), ("query_p50_s", "s"), ("query_p95_s", "s"), ("cache_build_s", "s"),
    ("topiclog.manifest_resolve_start_ms", "ms"),
]

JDK_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    for top in ("src/main/scala", "src/main/resources", "perfbench/src"):
        for dirpath, dirnames, files in os.walk(os.path.join(ROOT, top)):
            dirnames.sort()
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sh"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala")):
        raise BenchError("no graft sources (src/main/scala) in the working directory")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(BUILD_DIR, "stamp")
        stamp = source_stamp()
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return
        log("building graft and the benchmark (perfbench/build.sh)")
        t0 = time.monotonic()
        r = subprocess.run(["bash", os.path.join(HERE, "build.sh")], cwd=ROOT,
                           env=dict(os.environ, SPARK_HOME=spark_home()),
                           stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise BenchError(f"build failed with exit code {r.returncode}")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        log(f"built in {time.monotonic() - t0:.1f} s")


# ------------------------------------------------------------- processes

class Run:
    """One benchmark run: its directory, its deadline and its processes."""

    def __init__(self):
        self.dir = os.path.join(RUNS_DIR, f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
        os.makedirs(self.dir)
        self.deadline = time.monotonic() + RUN_BUDGET_S
        self.procs = []

    def path(self, *parts):
        p = os.path.join(self.dir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def remaining(self):
        left = self.deadline - time.monotonic()
        if left <= 0:
            raise BenchError("run exceeded its time budget")
        return left

    def java(self, name, main, args, heap="2g", stdin=False):
        """Starts a JVM with its own java.io.tmpdir and Spark local dir."""
        tmp = self.path(name, "tmp", "")
        env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
        cmd = ["java", *JDK_OPENS, f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Dspark.sql.warehouse.dir={self.path(name, 'warehouse')}",
               f"-Dderby.system.home={self.path(name, 'derby')}",
               "-cp", f"{CLASSES}:{SPARK_JARS}/*", main, *args]
        err = open(self.path(name, "stderr.log"), "wb")
        p = subprocess.Popen(cmd, cwd=self.path(name, ""), env=env,
                             stdin=subprocess.PIPE if stdin else subprocess.DEVNULL,
                             stdout=subprocess.PIPE, stderr=err, start_new_session=True)
        p.name, p.err_path = name, err.name
        err.close()
        lines = queue.Queue()

        def pump():
            for line in p.stdout:
                lines.put(line.decode("utf-8", "replace").rstrip("\n"))
            lines.put(None)
        threading.Thread(target=pump, daemon=True).start()
        p.lines = lines
        self.procs.append(p)
        return p

    def read_line(self, p, prefix):
        """The first stdout line of `p` starting with `prefix`."""
        while True:
            try:
                line = p.lines.get(timeout=self.remaining())
            except queue.Empty:
                raise BenchError(f"{p.name}: no '{prefix}' line in time")
            if line is None:
                raise BenchError(f"{p.name} exited ({p.wait()}) before '{prefix}':\n"
                                 + self.tail(p))
            if line.startswith(prefix):
                return line

    def last_line(self, p):
        """Waits for `p` to exit and returns its last stdout line."""
        last = None
        while True:
            try:
                line = p.lines.get(timeout=self.remaining())
            except queue.Empty:
                raise BenchError(f"{p.name} did not finish in time")
            if line is None:
                break
            last = line
        self.wait(p)
        if last is None:
            raise BenchError(f"{p.name} printed no result")
        return last

    def wait(self, p):
        """Waits for `p` to exit with code 0."""
        try:
            code = p.wait(timeout=self.remaining())
        except subprocess.TimeoutExpired:
            raise BenchError(f"{p.name} did not finish in time")
        if code != 0:
            raise BenchError(f"{p.name} exited with {code}:\n" + self.tail(p))

    def stop(self, p):
        if p.poll() is None:
            try:
                if p.stdin:
                    p.stdin.close()
                p.wait(timeout=20)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()

    @staticmethod
    def tail(p, n=30):
        try:
            with open(p.err_path, errors="replace") as fh:
                return "".join(fh.readlines()[-n:])
        except OSError:
            return ""

    def close(self):
        for p in self.procs:
            if p.poll() is None:
                try:
                    os.killpg(p.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            p.wait()
        shutil.rmtree(self.dir, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)
        except OSError:
            pass


# -------------------------------------------------------------- workloads

def start_broker(run, i):
    """Starts BrokerMain on a fresh root; returns (process, port, seconds)."""
    root = run.path(f"broker{i}", "root")
    t0 = time.perf_counter()
    p = run.java(f"broker{i}", "perfbench.BrokerMain", [root], stdin=True)
    port = int(run.read_line(p, "READY").split()[1])
    return p, port, root, time.perf_counter() - t0


def produce_small(run, seed, seconds, trace):
    setups = []
    broker = None
    for i in range(1 if trace else SETUPS):
        if broker:
            run.stop(broker[0])
        broker = start_broker(run, i)
        setups.append(broker[3])
    p, port, root, _ = broker
    gen = run.java("loadgen", "perfbench.WireMain",
                   [str(port), root, str(seed), str(seconds), str(trace),
                    run.path("loadgen", "work", "")], heap="3g" if trace else "1g")
    out = json.loads(run.last_line(gen))
    run.stop(p)
    out["metrics"]["setup_s"] = statistics.median(setups)
    out["setups_s"] = setups
    return out


def oracle_counts(data_dir, oracle_sql):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return {q: con.sql(f"SELECT count(*) FROM ({sql.strip().rstrip(';')}) AS oracle").fetchone()[0]
            for q, sql in oracle_sql.items()}


def query_pass(run, name, data_dir, trace):
    """One pass in a fresh JVM; returns (set-up seconds, pass output)."""
    t0 = time.perf_counter()
    p = run.java(name, "perfbench.QueryMain", [data_dir, str(trace), *QUERIES], heap="4g")
    run.read_line(p, "READY")
    setup = time.perf_counter() - t0
    return setup, json.loads(run.last_line(p))


def queries(run, seed, trace):
    sys.path.insert(0, HERE)
    import gen_tables
    data_dir = run.path("data", "")
    gen_tables.generate(data_dir, seed, QUERY_SCALE)
    setups = []
    if not trace:
        for i in range(SETUPS - 1):
            t0 = time.perf_counter()
            p = run.java(f"probe{i}", "perfbench.QueryMain", [data_dir, "0"], heap="4g")
            run.read_line(p, "READY")
            setups.append(time.perf_counter() - t0)
            run.wait(p)
    setup, out = query_pass(run, "pass", data_dir, 0)
    setups.append(setup)
    attempted = len(QUERIES)
    errors = dict(out["errors"])
    checks = []
    oracle = oracle_counts(data_dir, out["oracle_sql"])
    for q in QUERIES:
        if q in errors:
            continue
        if q not in oracle:
            checks.append(f"{q}: no DuckDB oracle")
        elif out["rows"].get(q) != oracle[q]:
            checks.append(f"{q}: {out['rows'].get(q)} rows, DuckDB oracle {oracle[q]}")
    walls = list(out["wall_s"].values())
    total = sum(walls)
    metrics = {
        "setup_s": statistics.median(setups),
        # the median of a dozen different queries jumps between neighbours;
        # the geometric mean moves with every query in proportion
        "latency_ms": statistics.geometric_mean(walls) * 1000,
        "tail_ms": quantile(walls, 0.95) * 1000,
        "work_s": total,
        "queries_s": total,
        "query_p50_s": quantile(walls, 0.5),
        "query_p95_s": quantile(walls, 0.95),
        "failed_ratio": len(errors) / attempted,
        "cache_build_s": out["cache_build_s"],
    }
    result = {"correct": not checks and not errors, "attempted": attempted,
              "failed": len(errors), "failures": errors, "check_errors": checks,
              "setups_s": setups, "wall_s": out["wall_s"], "rows": out["rows"],
              "metrics": metrics}
    if trace:
        # a second fresh process, listeners on: the layer figures and the
        # tracing overhead against the untraced pass above
        _, traced = query_pass(run, "traced", data_dir, 1)
        layer = dict(traced["metrics"])
        traced_total = sum(traced["wall_s"].values())
        layer["trace.overhead_pct"] = (traced_total - total) / total * 100
        result["metrics"] = dict(layer, **{f"untraced.{k}": v for k, v in metrics.items()})
        result["failed"] += len(traced["errors"])
        result["failures"] = dict(errors, **{f"traced:{k}": v for k, v in traced["errors"].items()})
        result["correct"] = result["correct"] and not traced["errors"]
    return result


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty list."""
    s = sorted(xs)
    r = q * (len(s) - 1)
    lo = int(r)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    try:
        build()
    except BenchError as e:
        log(str(e))
        return 2
    run = Run()
    try:
        if a.workload == "queries":
            res = queries(run, a.seed, a.trace)
        else:
            res = produce_small(run, a.seed, a.seconds, a.trace)
    except BenchError as e:
        log(str(e))
        return 2
    finally:
        run.close()

    names = PER_LAYER if a.trace else END_TO_END
    values = {n: res["metrics"].get(n, 0.0 if a.trace else None) for n, _ in names}
    missing = [n for n, v in values.items() if v is None or v != v]
    correct = bool(res["correct"]) and res["failed"] == 0 and not missing
    units = dict(END_TO_END + PER_LAYER + DETAIL_UNITS)
    detail = dict(res, workload=a.workload, seed=a.seed, trace=a.trace,
                  missing_metrics=missing,
                  units={k: units.get(k.removeprefix("untraced."), "")
                         for k in res["metrics"]})
    print(json.dumps(detail, default=str), file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": values[n] if values[n] == values[n] else None, "unit": u}
                    for n, u in names},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
