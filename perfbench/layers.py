"""Per-layer metrics for the traced run.

Installs spans around the engine's public entry points by replacing
module attributes (never engine source), and turns the spans plus
Spark's per-statement accounting into the per-layer figures:

    session     session.register_sql_udfs
    http_server the client's round trip (root span) minus run_local
    __main__    run_local, _register_dir, _emit
    chsql       ch_sql, ch_sql_to_spark
    catalog     sources.catalog.register_views, load_table
    operators   each df_pipeline registry fn (the build)
    ddl         append_to_table, register_table_view, optimize_table
    catalyst    QueryExecution.tracker() phases
    exec        SQL executions, jobs, stages and plan SQL metrics
    functions   Python/Arrow eval nodes' SQL metrics

Wrappers are installed once and pass straight through unless the
tracer is enabled, so the untraced ops of a traced run go through the
same server code. The ddl wrappers are the exception: their byte and
file counters run on every call (no span), because write and space
amplification are ratios over the whole table.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import re
import statistics
from collections import defaultdict

from spans import SparkProbe, Tracer

PKG = "clickhouse_25_5_3_75_stable_spark"

# per-layer metrics reported in the result line; units as in BENCHMARK.json
UNITS = {
    "session.register_udfs_s": "s",
    "session.functions_registered": "count",
    "catalog.register_s": "s",
    "run_local.tables_registered": "count",
    "run_local.tables_referenced": "count",
    "run_local.catalog_useful_ratio": "ratio",
    "run_local.result_rows": "count",
    "catalog.load_table_calls": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "operators.build_jobs": "count",
    "functions.python_rows": "count",
    "functions.python_bytes_sent": "bytes",
    "functions.python_bytes_received": "bytes",
    "exec.wall_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_rows": "count",
    "exec.input_bytes": "bytes",
    "exec.peak_memory": "bytes",
    "exec.top1_op_s": "s",
    "exec.top2_op_s": "s",
    "exec.top3_op_s": "s",
    "ddl.files_written": "count",
    "ddl.bytes_written": "bytes",
    "ddl.parts_before_optimize": "count",
    "ddl.bytes_rewritten": "bytes",
    "ddl.write_amp": "ratio",
    "ddl.space_amp": "ratio",
    "trace.overhead_s": "s",
}

# layer times that are zero on some workload's path by design: reported
# in the trace detail line under these names, not in the result line
PATH_TIMES = {
    "http_server.self_s": ("http_server", "self"),
    "run_local.register_dir_s": ("run_local.register_dir", "incl"),
    "run_local.emit_s": ("run_local.emit", "incl"),
    "chsql.transpile_s": ("chsql.ch_sql_to_spark", "incl"),
    "chsql.ch_sql_self_s": ("chsql.ch_sql", "self"),
    "catalog.register_views_s": ("catalog.register_views", "incl"),
    "operators.build_s": ("operators.build", "incl"),
    "ddl.append_s": ("ddl.append_to_table", "incl"),
    "ddl.register_table_view_s": ("ddl.register_table_view", "incl"),
    "ddl.optimize_s": ("ddl.optimize_table", "incl"),
}


# layers each workload's ops must reach: a zero here means a wrapper
# missed its entry point (renamed or rebound in the engine)
ON_PATH = {
    "http_sql": ("http_server.self_s", "run_local.register_dir_s", "run_local.emit_s",
                 "chsql.transpile_s", "chsql.ch_sql_self_s", "catalyst.optimization_s",
                 "functions.python_rows", "ddl.append_s", "ddl.files_written",
                 "ddl.register_table_view_s", "ddl.optimize_s",
                 "mergetree.final_read_exec_s", "exec.wall_s"),
    "df_pipeline": ("operators.build_s", "operators.build_jobs", "catalog.register_views_s",
                    "catalog.load_table_calls", "catalyst.optimization_s",
                    "functions.python_rows", "exec.wall_s"),
}


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _class_medians(ops: list[dict]) -> dict[str, float]:
    out = defaultdict(list)
    for o in ops:
        out[o["cls"]].append(o["lat"])
    return {c: statistics.median(v) for c, v in out.items()}


def _sibling_overlap(spans: list[dict], idx: list[int]) -> float:
    """Time counted twice in a self-time sum because sibling spans (two
    Spark executions of one statement, say) overlap: per parent, the
    children's summed durations minus the length of their union."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for i in idx:
        p = spans[i]["parent"]
        if p is not None:
            lo = max(spans[i]["start"], spans[p]["start"])
            hi = min(spans[i]["end"], spans[p]["end"])
            if hi > lo:
                kids[p].append((lo, hi))
    excess = 0.0
    for iv in kids.values():
        union, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(iv):
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    union += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        union += cur_hi - cur_lo
        excess += sum(hi - lo for lo, hi in iv) - union
    return excess


class Layers:
    UNITS = UNITS

    def __init__(self) -> None:
        self.tracer = Tracer()
        self.probe: SparkProbe | None = None
        self.functions_registered = 0
        self.registered: dict[int | None, list[str]] = {}

    def install_session(self) -> None:
        session = importlib.import_module(f"{PKG}.session")
        self.tracer.wrap(session, "register_sql_udfs", "session.register_udfs")
        self.tracer.enabled = True

    def session_done(self, spark) -> None:
        self.tracer.enabled = False
        self.functions_registered = sum(1 for f in spark.catalog.listFunctions() if f.isTemporary)

    def install_engine(self, pipeline: tuple[str, ...]) -> None:
        main = importlib.import_module(f"{PKG}.__main__")
        chsql = importlib.import_module(f"{PKG}.chsql")
        catalog = importlib.import_module(f"{PKG}.sources.catalog")
        ddl = importlib.import_module(f"{PKG}.ddl")
        queries = importlib.import_module(f"{PKG}.queries")
        t = self.tracer

        def registered(_state, names, *_a, **_k):
            self.registered[t.stmt] = list(names)

        def emitted(_state, _res, rows, *_a, **_k):
            t.count("run_local.result_rows", len(rows))

        t.wrap(main, "run_local", "run_local")
        t.wrap(main, "_register_dir", "run_local.register_dir", after=registered)
        t.wrap(main, "_emit", "run_local.emit", after=emitted)
        t.wrap(chsql, "ch_sql", "chsql.ch_sql")
        t.wrap(chsql, "ch_sql_to_spark", "chsql.ch_sql_to_spark")
        # queries.py binds both names at import; wrap both bindings
        for mod in (catalog, queries):
            t.wrap(mod, "register_views", "catalog.register_views")
            t.wrap(mod, "load_table", "catalog.load_table",
                   after=lambda *_a, **_k: t.count("catalog.load_table_calls"))

        def before_append(_df, _td, path):
            return _dir_stats(path)

        def after_append(state, _res, _df, _td, path):
            files, size = _dir_stats(path)
            t.count("ddl.append_calls")
            t.count("ddl.files_written", max(0, files - state[0]))
            t.count("ddl.bytes_written", max(0, size - state[1]))

        def before_optimize(_spark, base_dir, name, *_a, **_k):
            return _dir_stats(os.path.join(base_dir, name))

        def after_optimize(state, _res, _spark, base_dir, name, *_a, **_k):
            size = _dir_stats(os.path.join(base_dir, name))[1]
            t.count("ddl.optimize_calls")
            t.count("ddl.parts_before_optimize", state[0])
            t.count("ddl.bytes_rewritten", size)
            t.count("ddl.space_amp", state[1] / size if size else 0.0)

        t.wrap(ddl, "append_to_table", "ddl.append_to_table",
               before=before_append, after=after_append, hooks_always=True)
        t.wrap(ddl, "register_table_view", "ddl.register_table_view")
        t.wrap(ddl, "optimize_table", "ddl.optimize_table",
               before=before_optimize, after=after_optimize, hooks_always=True)
        for name in pipeline:
            t.wrap(queries.REGISTRY[name], "fn", "operators.build")

    def start(self, spark, root_name: str) -> None:
        self.probe = SparkProbe(spark, self.tracer) if spark is not None else None
        self.root_name = root_name

    def begin(self) -> None:
        """Before a traced op's timer starts: Spark bookkeeping, and a
        new statement id."""
        if self.probe:
            self.probe.attach()
        t = self.tracer
        t.enabled = True
        t.stmt = len(t.spans)

    @contextlib.contextmanager
    def root(self):
        """The statement's root span, opened by the runner around the
        engine call inside the timed region."""
        t = self.tracer
        t.root = t.open(self.root_name)
        try:
            yield
        finally:
            t.close(t.root)

    def end(self) -> tuple[int, dict]:
        t = self.tracer
        t.enabled = False
        spark = self.probe.harvest() if self.probe else {"records": []}
        stmt, t.stmt, t.root = t.stmt, None, None
        return stmt, spark

    def blocking_path_check(self, all_ops: list[dict]) -> dict:
        """Span self times against the untraced wall, per traced op.

        Along a statement's blocking path (overlapping siblings counted
        once) the span self times add up to its root span. The runner's
        timer is wider than the root span, so time the op spends outside
        every span shows as a gap: the traced op's span sum minus the
        untraced median wall of its class must stay within the tracing
        overhead (traced wall minus that same median, averaged over the
        traced ops) plus 1 ms. The span tree must also be whole: one
        root, every span closed, self times summing to the root."""
        spans = self.tracer.spans
        self_t = self.tracer.self_times()
        plain = _class_medians([o for o in all_ops if not o["traced"]])
        traced = [o for o in all_ops if o["traced"] and o["cls"] in plain]
        by_stmt: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(spans):
            by_stmt[s["stmt"]].append(i)
        sums, tree_gap = [], 0.0
        for op in traced:
            idx = by_stmt[op["stmt"]]
            roots = [i for i in idx if spans[i]["parent"] is None]
            if len(roots) != 1 or any(spans[i]["end"] is None for i in idx):
                return {"ok": False, "error": f"broken span tree in {op['cls']}"}
            total = sum(self_t[i] for i in idx) - _sibling_overlap(spans, idx)
            tree_gap = max(tree_gap, abs(total - _dur(spans[roots[0]])))
            sums.append(total)
        if not traced:
            return {"ok": False, "error": "no traced op"}
        overhead = statistics.fmean(o["lat"] - plain[o["cls"]] for o in traced)
        gap = statistics.fmean(s - plain[o["cls"]] for s, o in zip(sums, traced))
        ok = abs(gap) <= abs(overhead) + 1e-3 and tree_gap < 1e-3
        return {"ok": ok, "overhead_s": overhead, "span_sum_minus_untraced_s": gap,
                "outside_spans_s": overhead - gap, "tree_gap_s": tree_gap}

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.tracer.spans}, fh)

    # -- report -------------------------------------------------------

    def report(self, workload: str, all_ops: list[dict], setup: list[float],
               table_dir: str | None = None) -> tuple[dict, dict]:
        ops = [o for o in all_ops if not o["traced"]]
        traced = [o for o in all_ops if o["traced"]]
        t = self.tracer
        spans = t.spans
        final_bytes = _dir_stats(table_dir)[1] if table_dir else 0
        self_t = t.self_times()
        by_stmt: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(spans):
            by_stmt[s["stmt"]].append(i)
        n = len(traced)

        def incl(i):
            return spans[i]["end"] - spans[i]["start"]

        def per_op(name: str, kind: str) -> float:
            """Mean time per op that reached the layer."""
            vals = []
            for op in traced:
                idx = [i for i in by_stmt[op["stmt"]] if spans[i]["name"] == name]
                if idx:
                    vals.append(sum(self_t[i] if kind == "self" else incl(i) for i in idx))
            return statistics.fmean(vals) if vals else 0.0

        def under(i: int, name: str) -> bool:
            p = spans[i]["parent"]
            while p is not None:
                if spans[p]["name"] == name:
                    return True
                p = spans[p]["parent"]
            return False

        def counter(name: str) -> float:
            return sum(v for (stmt, key), v in t.counters.items() if key == name)

        def mean_over(key) -> float:
            return statistics.fmean(key(op) for op in traced) if traced else 0.0

        sp = [op["spark"] for op in traced]
        records = [r for s in sp for r in s["records"] if "error" not in r]
        phases = defaultdict(float)
        ops_time = defaultdict(float)
        py = defaultdict(float)
        for r in records:
            for k, v in r["phases"].items():
                phases[k] += v
            for k, v in r["ops"].items():
                ops_time[k] += v
            for k, v in r["python"].items():
                py[k] += v
        top = sorted(ops_time.items(), key=lambda kv: -kv[1])[:3]
        top += [("none", 0.0)] * (3 - len(top))

        registered = [self.registered.get(op["stmt"]) for op in traced]
        reg_counts = [len(r) for r in registered if r is not None]
        referenced = [sum(1 for name in r if re.search(rf"\b{re.escape(name)}\b", op["sql"]))
                      for op, r in zip(traced, registered) if r is not None]
        exec_ops = [sum(incl(i) for i in by_stmt[op["stmt"]] if spans[i]["name"] == "exec")
                    for op in traced]
        build_ops = [op for op in traced
                     if any(spans[i]["name"] == "operators.build" for i in by_stmt[op["stmt"]])]
        build_jobs = [sum(1 for i in by_stmt[op["stmt"]]
                          if spans[i]["name"] == "exec" and under(i, "operators.build"))
                      for op in build_ops]
        # ddl counters see every call, traced or not (and the warm-up's)
        appends = counter("ddl.append_calls")
        optimizes = counter("ddl.optimize_calls")
        finals = [(op, e) for op, e in zip(traced, exec_ops) if op.get("cls") == "final_read"]
        written = counter("ddl.bytes_written") + counter("ddl.bytes_rewritten")

        m_plain, m_traced = _class_medians(ops), _class_medians(traced)
        common = sorted(set(m_plain) & set(m_traced))
        check = self.blocking_path_check(all_ops)
        overhead = check.get("overhead_s", 0.0)

        register_s = []
        for op in traced:
            idx = [i for i in by_stmt[op["stmt"]]
                   if spans[i]["name"] in ("run_local.register_dir", "catalog.register_views")]
            register_s.append(sum(incl(i) for i in idx))

        # the first session build starts the JVM; setup_s leaves it out too
        session_calls = [incl(i) for i, s in enumerate(spans)
                         if s["name"] == "session.register_udfs"][1:]
        metrics = {
            "session.register_udfs_s": statistics.median(session_calls) if session_calls else 0.0,
            "session.functions_registered": self.functions_registered,
            "catalog.register_s": statistics.fmean(register_s) if register_s else 0.0,
            "run_local.tables_registered": statistics.fmean(reg_counts) if reg_counts else 0.0,
            "run_local.tables_referenced": statistics.fmean(referenced) if referenced else 0.0,
            "run_local.catalog_useful_ratio": (sum(referenced) / sum(reg_counts)) if sum(reg_counts) else 0.0,
            "run_local.result_rows": counter("run_local.result_rows") / n if n else 0.0,
            "catalog.load_table_calls": counter("catalog.load_table_calls") / n if n else 0.0,
            "catalyst.analysis_s": phases["analysis"] / n if n else 0.0,
            "catalyst.optimization_s": phases["optimization"] / n if n else 0.0,
            "catalyst.planning_s": phases["planning"] / n if n else 0.0,
            "operators.build_jobs": statistics.fmean(build_jobs) if build_jobs else 0.0,
            "functions.python_rows": py["pythonNumRowsReceived"] / n if n else 0.0,
            "functions.python_bytes_sent": py["pythonDataSent"] / n if n else 0.0,
            "functions.python_bytes_received": py["pythonDataReceived"] / n if n else 0.0,
            "exec.wall_s": statistics.fmean(exec_ops) if exec_ops else 0.0,
            "exec.jobs": mean_over(lambda o: o["spark"]["jobs"]),
            "exec.stages": mean_over(lambda o: o["spark"]["stages"]),
            "exec.tasks": mean_over(lambda o: o["spark"]["tasks"]),
            "exec.shuffle_write_bytes": mean_over(lambda o: o["spark"]["shuffle_write_bytes"]),
            "exec.spill_bytes": mean_over(lambda o: o["spark"]["spill_bytes"]),
            "exec.input_rows": mean_over(lambda o: o["spark"]["input_rows"]),
            "exec.input_bytes": mean_over(lambda o: o["spark"]["input_bytes"]),
            "exec.peak_memory": max((s["peak_memory"] for s in sp), default=0),
            "exec.top1_op_s": top[0][1] / n if n else 0.0,
            "exec.top2_op_s": top[1][1] / n if n else 0.0,
            "exec.top3_op_s": top[2][1] / n if n else 0.0,
            "ddl.files_written": counter("ddl.files_written") / appends if appends else 0.0,
            "ddl.bytes_written": counter("ddl.bytes_written") / appends if appends else 0.0,
            "ddl.parts_before_optimize": counter("ddl.parts_before_optimize") / optimizes if optimizes else 0.0,
            "ddl.bytes_rewritten": counter("ddl.bytes_rewritten") / optimizes if optimizes else 0.0,
            "ddl.write_amp": written / final_bytes if final_bytes else 0.0,
            "ddl.space_amp": counter("ddl.space_amp") / optimizes if optimizes else 0.0,
            "trace.overhead_s": overhead,
        }
        path_times = {k: per_op(name, kind) for k, (name, kind) in PATH_TIMES.items()}
        path_times["mergetree.final_read_exec_s"] = (
            statistics.fmean(e for _op, e in finals) if finals else 0.0)

        # consistency: span self times against the untraced wall (see
        # blocking_path_check), and every layer on the workload's path
        # was reached
        values = {**metrics, **path_times}
        missing = [k for k in ON_PATH[workload] if not values[k]]
        self_by_layer = defaultdict(float)
        for i, s in enumerate(spans):
            if s["stmt"] is not None:
                self_by_layer[s["name"]] += self_t[i]

        def mean_by_cls(vals):
            out = defaultdict(list)
            for op, v in zip(traced, vals):
                out[op["cls"]].append(v)
            return {c: statistics.fmean(v) for c, v in out.items()}

        build_s = [sum(incl(i) for i in by_stmt[op["stmt"]] if spans[i]["name"] == "operators.build")
                   for op in traced]
        reg_by_cls, build_by_cls = mean_by_cls(register_s), mean_by_cls(build_s)
        per_cls = {c: {"untraced_p50_s": m_plain[c], "traced_p50_s": m_traced[c],
                       "register_s": reg_by_cls[c], "build_s": build_by_cls[c]} for c in common}
        # the shares the per-layer names are read against: catalog
        # registration in the ad hoc SELECTs' median, the fn build in
        # the pipeline's wall
        sel = [o for o in ops if o.get("srv") == "adhoc"]
        sel_reg = [v for o, v in zip(traced, register_s) if o.get("srv") == "adhoc"]
        shares = {}
        if sel and sel_reg:
            p50 = statistics.median(o["lat"] for o in sel)
            shares["register_dir_s_per_select"] = statistics.fmean(sel_reg)
            shares["register_dir_share_of_sql_p50"] = statistics.fmean(sel_reg) / p50
        if workload == "df_pipeline" and common:
            wall = sum(m_plain[c] for c in common)
            shares["build_share_of_pipeline_wall"] = sum(build_by_cls[c] for c in common) / wall
        detail = {
            "workload": workload,
            "traced_ops": n,
            "per_layer": values,
            "self_s_per_op": {k: v / n for k, v in sorted(self_by_layer.items())} if n else {},
            "exec_top_ops": [name for name, _v in top],
            "probe_bookkeeping_s_per_op": self.probe.book_s / n if n and self.probe else 0.0,
            "listener_errors": sum(1 for s in sp for r in s["records"] if "error" in r),
            "setup_runs_s": setup,
            "per_class": per_cls,
            "shares": shares,
            "consistency": {**check, "missing": missing, "ok": check["ok"] and not missing},
        }
        return metrics, detail
