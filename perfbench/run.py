#!/usr/bin/env python3
"""End-to-end benchmark of the engine, one workload per invocation.

    python3 perfbench/run.py --workload http_sql --seed 1 --seconds 5 --trace 0

Workloads (BENCHMARK.json says why each exists):

- http_sql: one closed-loop client sends ClickHouse-dialect statements
  over loopback HTTP to two `http_server.serve_in_thread` servers in
  this process: ad hoc SELECTs (scan/aggregate, join top-k, windows, a
  hash run as a pandas UDF) to one over a copy of the base tables,
  interleaved with INSERT ... SELECT batches, re-inserts at higher
  versions, `SELECT ... FINAL` reads and `OPTIMIZE TABLE ... FINAL` on
  a ReplacingMergeTree to one over a directory holding only `orders`
  and that table.
- df_pipeline: heavy-bucket registry queries in seeded order, each built
  by its `fn` and materialised with `write.format("noop")`, so every
  output column is computed.

The run generates the base tables once (datagen.py, cached under
`.perfbench_data/`), builds the session with `session.get_spark` four
times or more (the first starts the JVM; setup_s is the median of
three of the others, see Engine.setup), warms the path, then measures
whole cycles of the workload until `--seconds` have passed. Outputs are
checked against DuckDB outside the window: http_sql replays its
statement log afterwards; df_pipeline compares each query with its
oracle in the pass before the window, which doubles as its warm-up
(each query is also written to the noop sink there, so the timed
path is warm).

End-to-end metrics, per workload: p50_s is, over the ad hoc SELECT
templates (http_sql) or the pipeline queries (df_pipeline), the median
of each one's median latency;
mix_s is the sum over op classes (SELECT template, insert, FINAL read,
OPTIMIZE, ...; or pipeline query) of each class's median latency, one
op of every class (for df_pipeline, the pipeline's wall time);
write_mix_s is that sum over the write classes, INSERT and OPTIMIZE
(for df_pipeline, over each query's sink phase, the noop write that
executes its plan); ops_per_s is ops per busy second, each op taken at
its class's median (busy_rate); peak_rss_mb is
the VmHWM of the Spark JVM plus this process over the window; setup_s
is the median of three warm get_spark calls. Ops and session builds
that lost CPU to the hypervisor (steal time, see STEAL_MAX) are left out
of these figures where their class has unstolen ones.

The last stdout line is the result. With `--trace 0` its metrics are
the end-to-end ones, measured with no instrumentation installed. With
`--trace 1` the engine's public entry points are wrapped from outside
(module attributes, a QueryExecutionListener, the status stores) and
each op class alternates untraced and traced ops over two cycles; the
result carries the per-layer metrics, and the traced latency minus the
untraced median of its class, averaged over traced ops, is the tracing
overhead. The lines
before the result carry the environment, the per-workload figures
under their descriptive names, and (traced) every per-layer figure,
self time per layer and the operator names behind exec.top*; spans
are written to `.perfbench_trace/` when the run ends.

Exit status is non-zero, with no result line, when the engine package
is not importable or the run fails; a wrong output makes `correct`
false and the exit status 1.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "clickhouse_25_5_3_75_stable_spark"

WORKLOADS = ("http_sql", "df_pipeline")

# df_pipeline: the heavy-bucket queries one run can afford (all 28 take
# about 45 s on 4 cores, more than a run's budget). q1 has the largest
# count()-vs-noop gap, q21 is the heavy query on the SQL path (catalog
# views), pack_token_budget_shards launches eager jobs inside its fn,
# and embedding_near_dup_lsh_fast runs pandas code (applyInPandas) and
# has no oracle, so it is checked for schema and non-empty output.
PIPELINE = (
    "q1_pricing_summary",
    "q21_waiting_orders",
    "pack_token_budget_shards",
    "embedding_near_dup_lsh_fast",
)

END_TO_END_UNITS = {"setup_s": "s", "p50_s": "s", "mix_s": "s", "write_mix_s": "s",
                    "ops_per_s": "1/s", "peak_rss_mb": "MB"}
WARM_SETUPS = 3
# On a shared host the hypervisor can take a quarter to a half of this
# machine's CPU for a minute or more (steal time in /proc/stat). An op
# or session build that lost more than STEAL_MAX vCPU-seconds per second
# of its latency measured the neighbours, not the engine: per op class
# the figures use the ops below it when there are any, and the window
# runs up to EXTEND_S longer (whole cycles) to get one for every class.
STEAL_MAX = 0.1
EXTEND_S = 25.0


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


# -- small measurement helpers -------------------------------------------


def tail(samples: list[float]) -> dict | None:
    """Highest percentile with at least ten samples beyond it, with that
    percentile and the sample count; None below 11 samples. Below 20
    samples the percentile is under the median: read `pct`."""
    n = len(samples)
    if n < 11:
        return None
    k = n - 10
    return {"value": sorted(samples)[k - 1], "pct": round(100.0 * k / n, 1), "n": n}


def steal_s() -> float:
    """Seconds of CPU time the hypervisor took from this machine's vCPUs
    so far, summed over vCPUs (/proc/stat; 0 where it is not counted)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def nproc() -> int:
    env = {k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"}
    try:
        out = subprocess.run(["nproc"], capture_output=True, text=True, env=env,
                             timeout=10, check=True).stdout
        return int(out.strip())
    except (OSError, ValueError, subprocess.SubprocessError):
        return len(os.sched_getaffinity(0))


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class PeakRss:
    """VmHWM of the Spark JVM plus this Python process over the measured
    window: both peaks are reset when the window starts (Linux
    clear_refs 5). Python workers come and go with idle timeouts, so
    they are left out."""

    def __init__(self, jvm_launcher_pid: int) -> None:
        java = [p for p in _descendants(jvm_launcher_pid) if _comm(p) == "java"]
        self.pids = [java[0] if java else jvm_launcher_pid, os.getpid()]

    def reset(self) -> None:
        for pid in self.pids:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")

    def mb(self) -> float:
        return sum(_status_kb(pid, "VmHWM") for pid in self.pids) / 1024.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"  # an exported checkout
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


# -- the engine session ---------------------------------------------------


class Engine:
    """Session lifecycle and process hygiene for one run."""

    def __init__(self, run_dir: str, cpus: int) -> None:
        self.run_dir = run_dir
        self.cpus = cpus
        for sub in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
        tmp = os.path.join(run_dir, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
        # no hsperfdata files: the JVMs would write them under /tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        # a fixed-size heap (initial = max) keeps the JVM's footprint from
        # following GC-ergonomics resizing from run to run
        heap = os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
        self.conf = {
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{heap} -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        }
        self.spark = None
        self.jvm_proc = None

    def setup(self) -> tuple[list[float], float]:
        """Session builds: the first starts the JVM, the others stop the
        session and rebuild it in the same JVM, until WARM_SETUPS of them
        ran unstolen (at most WARM_SETUPS + 2 warm builds). Returns every
        build's time and setup_s, the median of the unstolen warm builds
        (of all warm builds when none was)."""
        from clickhouse_25_5_3_75_stable_spark import session

        out, clean = [], []
        while len(clean) < WARM_SETUPS and len(out) <= WARM_SETUPS + 2:
            if self.spark is not None:
                self.spark.stop()
            s0, t0 = steal_s(), time.perf_counter()
            self.spark = session.get_spark(app_name="perfbench", extra_conf=self.conf)
            dt = time.perf_counter() - t0
            if not out:
                self.jvm_proc = self.spark.sparkContext._gateway.proc
            elif (steal_s() - s0) / dt < STEAL_MAX:
                clean.append(dt)
            out.append(dt)
        self.spark.sparkContext.setLogLevel("ERROR")
        return out, statistics.median(clean or out[1:])

    def close(self) -> None:
        if self.spark is not None:
            gateway = self.spark.sparkContext._gateway
            self.spark.stop()
            gateway.shutdown()
        if self.jvm_proc is not None:
            try:
                self.jvm_proc.stdin.close()
                self.jvm_proc.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                self.jvm_proc.kill()
                self.jvm_proc.wait(timeout=30)

    def environment(self, args, data_dir: str) -> dict:
        import duckdb
        import pyarrow
        import pyspark

        spark = self.spark
        conf = spark.sparkContext.getConf()
        return {
            "nproc": self.cpus,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": conf.get("spark.driver.memory", None),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__, "python": sys.version.split()[0],
            "git_commit": git_commit(), "sf": 0.1, "data_dir": os.path.relpath(data_dir, ROOT),
            "seed": args.seed, "workload": args.workload, "seconds": args.seconds,
            "trace": args.trace,
        }

    def prewarm_python_workers(self) -> threading.Thread:
        """Start the Python UDF workers, one per core, on a background
        thread while the warm-up statements run: their first start (fork,
        pandas and pyarrow imports) would otherwise be paid in series by
        the first pandas-UDF statement. Idle workers are reused."""
        n = self.cpus
        job = self.spark.range(0, n, 1, n).mapInPandas(lambda it: it, "id long")
        th = threading.Thread(target=job.collect, daemon=True)
        th.start()
        return th

    def calibration_s(self) -> float:
        """Fixed-plan probe (bench.py's 4-task range sum), run after the
        window on a warm JVM: for diagnosis only, it never scales a
        metric."""
        t0 = time.perf_counter()
        self.spark.range(0, 20_000_000, 1, 4).selectExpr(
            "sum(id * 2 + 1) AS s", "avg(pmod(id, 9973)) AS a").collect()
        return time.perf_counter() - t0


# -- workload runners ------------------------------------------------------


class HttpClient:
    def __init__(self, port: int) -> None:
        self.url = f"http://127.0.0.1:{port}/"

    def send(self, sql: str) -> tuple[bool, str]:
        req = urllib.request.Request(self.url, data=sql.encode("utf-8"), method="POST")
        try:
            with urllib.request.urlopen(req, timeout=170) as resp:
                return True, resp.read().decode("utf-8")
        except urllib.error.HTTPError as e:
            return False, e.read().decode("utf-8", "replace")


def run_loop(ops, seconds: float, cycle: int, execute, layers=None,
             extend_s: float = 0.0) -> list[dict]:
    """Closed loop: the next op starts when the previous one returned.
    Runs whole cycles until `seconds` have passed, and while some op
    class has no unstolen untraced op, more whole cycles as long as
    `seconds + extend_s` have not passed and the last extra cycle had an
    unstolen op. When tracing, each op
    class alternates untraced and traced ops (half the classes start
    traced, so neither side is systematically warmer) over at least two
    cycles. `execute(op, root)` wraps the engine call in `root()`, the
    statement's root span when the op is traced."""
    done: list[dict] = []
    seen: dict[str, int] = {}
    ordinal: dict[str, int] = {}
    min_ops = cycle * (2 if layers else 1)
    t_start = time.perf_counter()

    def more() -> bool:
        if len(done) < min_ops or len(done) % cycle:
            return True
        elapsed = time.perf_counter() - t_start
        if elapsed < seconds:
            return True
        clean = {o["cls"] for o in done if not o["traced"] and o["steal_rate"] < STEAL_MAX}
        if elapsed >= seconds + extend_s or not {o["cls"] for o in done} - clean:
            return False
        # an extra cycle with no unstolen op: the steal outlasts the window
        return len(done) == min_ops or any(
            o["steal_rate"] < STEAL_MAX for o in done[-cycle:] if not o["traced"])

    while more():
        op = dict(next(ops))
        k = seen.get(op["cls"], 0)
        seen[op["cls"]] = k + 1
        parity = ordinal.setdefault(op["cls"], len(ordinal)) % 2
        op["traced"] = bool(layers) and (k + parity) % 2 == 1
        root = layers.root if op["traced"] else contextlib.nullcontext
        if op["traced"]:
            layers.begin()
        s0, t0 = steal_s(), time.perf_counter()
        op["error"], op["body"] = execute(op, root)
        op["lat"] = time.perf_counter() - t0
        op["steal_rate"] = (steal_s() - s0) / op["lat"]
        if op["traced"]:
            op["stmt"], op["spark"] = layers.end()
        done.append(op)
    return done


def http_execute(clients: dict[str, HttpClient]):
    def execute(op, root):
        with root():
            ok, body = clients[op["srv"]].send(op["sql"])
        return (None if ok else body.strip()[:300]), body
    return execute


def pipeline_execute(spark, data_dir: str):
    from clickhouse_25_5_3_75_stable_spark.queries import REGISTRY

    def execute(op, root):
        try:
            with root():
                df = REGISTRY[op["cls"]].fn(spark, data_dir)
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                op["sink_lat"] = time.perf_counter() - t0
                schema = df.schema.simpleString()
            return None, schema
        except Exception as e:  # noqa: BLE001 — a failed query is counted, not fatal
            return f"{type(e).__name__}: {e}"[:300], ""
    return execute


def pipeline_ops(order: list[str]):
    while True:
        for name in order:
            yield {"cls": name}


def check_pipeline(spark, data_dir: str, names: list[str], normalize) -> tuple[list[str], dict]:
    """Registry oracles, compared exactly as the repository's harness
    does. Queries without an oracle must return a non-empty result; the
    schemas returned here are compared with the timed runs' afterwards.
    Run before the window, this pass is also the warm-up."""
    from clickhouse_25_5_3_75_stable_spark.queries import REGISTRY

    from workloads import duck_conn

    con = duck_conn(data_dir)
    bad, schemas = [], {}
    for name in names:
        t0 = time.perf_counter()
        spec = REGISTRY[name]
        df = spec.fn(spark, data_dir)
        schemas[name] = df.schema.simpleString()
        # the timed ops' sink, so its code paths are warm too
        df.write.format("noop").mode("overwrite").save()
        if spec.oracle is None:
            if not df.limit(1).collect():
                bad.append(name)
            log(f"check {name}: spark {time.perf_counter() - t0:.2f} s, no oracle")
            continue
        rows = [tuple(r) for r in df.collect()]
        t1 = time.perf_counter()
        res = con.execute(spec.oracle)
        cols = [d[0] for d in res.description]
        if normalize(df.columns, rows) != normalize(cols, res.fetchall()):
            bad.append(name)
        log(f"check {name}: spark {t1 - t0:.2f} s, oracle {time.perf_counter() - t1:.2f} s")
    return bad, schemas


# -- metrics ----------------------------------------------------------------


def unstolen(ops: list[dict]) -> list[dict]:
    """Per op class, the ops that lost less than STEAL_MAX to the
    hypervisor; a class with no such op keeps all of its ops."""
    clean = {o["cls"] for o in ops if o["steal_rate"] < STEAL_MAX}
    return [o for o in ops if o["cls"] not in clean or o["steal_rate"] < STEAL_MAX]


def class_medians(ops: list[dict], key: str = "lat") -> dict[str, float]:
    by_cls: dict[str, list[float]] = {}
    for o in ops:
        if key in o:  # a failed pipeline op has no sink time
            by_cls.setdefault(o["cls"], []).append(o[key])
    return {c: statistics.median(v) for c, v in by_cls.items()}


def busy_rate(ops: list[dict], measured: list[dict]) -> float:
    """Ops per busy second of the closed loop, with every measured op
    taken at its class's median over `ops` (the unstolen ones): leaving
    out stolen ops does not shift the mix of classes the rate is over."""
    class_p50 = class_medians(ops)
    return len(measured) / sum(class_p50[o["cls"]] for o in measured)


def end_to_end(workload: str, ops: list[dict], measured: list[dict], setup_s: float,
               rss: float) -> dict:
    """mix_s is one op of every class, write_mix_s one op of every write
    class: a regression of one class moves them by its share, not by
    whether it crosses the median. p50_s is the median over the read
    classes (templates, pipeline queries) of each class's median."""
    from workloads import TEMPLATES, WRITE_CLASSES

    class_p50 = class_medians(ops)
    if workload == "df_pipeline":
        p50 = statistics.median(class_p50.values())
        write_mix = sum(class_medians(ops, "sink_lat").values())
    else:
        p50 = statistics.median(class_p50[c] for c in TEMPLATES)
        write_mix = sum(class_p50[c] for c in WRITE_CLASSES)
    return {
        "setup_s": setup_s,
        "p50_s": p50,
        "mix_s": sum(class_p50.values()),
        "write_mix_s": write_mix,
        "ops_per_s": busy_rate(ops, measured),
        "peak_rss_mb": rss,
    }


def workload_figures(workload: str, ops: list[dict], measured: list[dict]) -> dict:
    """The per-workload figures under their descriptive names. sql_qps
    is busy_rate; sql_tail_s counts every statement, sql_p50_s is the
    median over the SELECT templates of each template's median."""
    from workloads import TEMPLATES

    lats = [o["lat"] for o in ops]
    med = statistics.median

    def cls(*names):
        return [o for o in ops if o["cls"] in names]

    if workload == "df_pipeline":
        per_q = {c: med([o["lat"] for o in cls(c)]) for c in sorted({o["cls"] for o in ops})}
        return {"pipeline_wall_s": sum(per_q.values()), "pipeline_p50_s": med(per_q.values()),
                "pipeline_tail_s": tail(lats), "per_query_s": per_q,
                "per_query_sink_s": class_medians(ops, "sink_lat")}
    ins = cls("insert")
    return {
        "sql_p50_s": med([med([o["lat"] for o in cls(c)]) for c in TEMPLATES]),
        "sql_tail_s": tail(lats),
        "sql_qps": busy_rate(ops, measured),
        "insert_rows_per_s": sum(o["rows"] for o in ins) / sum(o["lat"] for o in ins),
        "insert_p50_s": med([o["lat"] for o in ins]),
        "final_read_p50_s": med([o["lat"] for o in cls("final_read")]),
        "optimize_p50_s": med([o["lat"] for o in cls("optimize")]),
        "read_after_optimize_p50_s": med([o["lat"] for o in cls("read_after_optimize")]),
        "per_template_p50_s": {c: med([o["lat"] for o in cls(c)]) for c in TEMPLATES},
    }


# -- main ---------------------------------------------------------------------


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        log(f"engine package {PKG}/ not found beside {os.path.basename(HERE)}/")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import datagen
    import workloads as W

    base = datagen.ensure_tables(os.path.join(ROOT, ".perfbench_data"))

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    ingest_dir = os.path.join(run_dir, "ingest")
    datagen.copy_tables(base, data_dir)
    if args.workload == "http_sql":
        datagen.copy_tables(base, ingest_dir, W.INGEST_TABLES)
    engine = Engine(run_dir, nproc())
    servers = []
    try:
        from layers import Layers

        layers = Layers() if args.trace else None
        if layers:
            layers.install_session()
        setup, setup_s = engine.setup()
        spark = engine.spark
        env = engine.environment(args, data_dir)
        env["setup_runs_s"] = setup
        print(json.dumps({"env": env}), flush=True)
        log(f"session ready, setup runs {[round(x, 2) for x in setup]}")
        if layers:
            layers.session_done(spark)
            layers.install_engine(PIPELINE)

        from tests.oracle_harness import normalize

        rng = random.Random(args.seed)
        warm_log: list[dict] = []
        workers = engine.prewarm_python_workers()
        if args.workload == "df_pipeline":
            order = list(PIPELINE)
            rng.shuffle(order)
            ops_iter, cycle, root = pipeline_ops(order), len(order), "pipeline"
            execute = pipeline_execute(spark, data_dir)
            # the warm-up runs in a fixed order, so every seed starts its
            # window from the same JIT state; only the timed order is seeded
            checked, schemas = check_pipeline(spark, data_dir, list(PIPELINE), normalize)
        else:
            from clickhouse_25_5_3_75_stable_spark import http_server

            clients = {}
            for srv, d in (("adhoc", data_dir), ("ingest", ingest_dir)):
                server, port = http_server.serve_in_thread(spark, d)
                servers.append(server)
                clients[srv] = HttpClient(port)
            execute, root = http_execute(clients), "http_server"
            gen = W.IngestGen(rng)
            ops_iter, cycle = W.http_sql_ops(gen, W.adhoc_ops(rng)), len(W.CYCLE)
            # the hash statement starts the Python UDF workers before the
            # window; Spark keeps idle workers for a minute
            warm = W.ingest_warmup(gen) + [W.select_op("name_hash", random.Random(0))]
            warm_log = run_loop(iter(warm), 0, len(warm), execute)

        workers.join()
        log("warm-up done: " + " ".join(f"{o['cls']}={o['lat']:.2f}" for o in warm_log))
        if layers:
            layers.start(spark, root)
        peak = PeakRss(engine.jvm_proc.pid)
        steal_before = steal_s()
        peak.reset()
        all_ops = run_loop(ops_iter, args.seconds, cycle, execute, layers,
                           0.0 if layers else EXTEND_S)
        rss = peak.mb()
        window_steal_s = steal_s() - steal_before
        measured = [o for o in all_ops if not o["traced"]]
        ops = unstolen(measured)
        log("window done (class=latency/steal rate): " + " ".join(
            f"{o['cls']}={o['lat']:.2f}/{o['steal_rate']:.2f}" for o in all_ops))

        # -- correctness, outside every timed window ------------------------
        if args.workload == "df_pipeline":
            bad = checked + [o["cls"] for o in all_ops
                             if o["error"] or o["body"] != schemas[o["cls"]]]
        else:
            bad = W.check_http(W.duck_conn(data_dir), normalize, warm_log + all_ops)
        log(f"outputs checked: {len(bad)} wrong")
        attempted = len(all_ops) + (len(PIPELINE) if args.workload == "df_pipeline" else len(warm_log))
        failed = len(bad)

        figures = workload_figures(args.workload, ops, measured)
        figures["error_rate"] = failed / attempted
        figures["setup_s"] = setup_s
        figures["peak_rss_mb"] = rss
        figures["ops"] = len(measured)
        figures["stolen_ops_left_out"] = len(measured) - len(ops)
        figures["calibration_range_sum_4task_s"] = engine.calibration_s()
        figures["window_steal_s"] = window_steal_s
        if bad:
            figures["failed_ops"] = sorted(set(bad))
        print(json.dumps({"workload": args.workload, "figures": figures}), flush=True)

        if layers:
            table = os.path.join(ingest_dir, W.RMT) if args.workload == "http_sql" else None
            per_layer, detail = layers.report(args.workload, all_ops, setup, table)
            print(json.dumps({"trace": detail}), flush=True)
            spans_path = os.path.join(ROOT, ".perfbench_trace",
                                      f"{args.workload}-seed{args.seed}.json")
            layers.write_spans(spans_path)
            metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in per_layer.items()}
            consistent = detail["consistency"]["ok"]
        else:
            e2e = end_to_end(args.workload, ops, measured, setup_s, rss)
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
            consistent = True
        correct = failed == 0 and consistent
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}), flush=True)
        return 0 if correct else 1
    finally:
        for server in servers:
            server.shutdown()
            server.server_close()
        engine.close()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
