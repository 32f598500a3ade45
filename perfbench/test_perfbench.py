"""Self-tests of the benchmark: seeding, the tail statistic, the HTTP
result parser, leaving out ops the hypervisor stole CPU from, the
traced-run consistency check, and sink honesty (the noop sink keeps
every aggregate).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import itertools
import os
import random
import sys
import time


HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402
import workloads as W  # noqa: E402
from layers import Layers  # noqa: E402


def _http_sql(seed: int, cycles: int = 3) -> tuple[list[dict], list[dict]]:
    """(warm-up statements, the first `cycles` cycles) for a seed."""
    rng = random.Random(seed)
    gen = W.IngestGen(rng)
    warm = W.ingest_warmup(gen)
    it = W.http_sql_ops(gen, W.adhoc_ops(rng))
    return warm, [next(it) for _ in range(cycles * len(W.CYCLE))]


def test_same_seed_same_workload_other_seed_other_workload():
    def sqls(seed):
        warm, ops = _http_sql(seed)
        return [op["sql"] for op in warm + ops]

    assert sqls(7) == sqls(7)
    assert sqls(7) != sqls(8)


def test_every_cycle_has_every_class():
    _, ops = _http_sql(3)
    for c in range(3):
        cycle = ops[c * len(W.CYCLE):(c + 1) * len(W.CYCLE)]
        assert {op["cls"] for op in cycle} == {*W.TEMPLATES, "insert", "final_read",
                                               "optimize", "read_after_optimize"}
        kinds = [op.get("kind") for op in cycle]
        assert kinds[kinds.index("optimize") + 1] == "read_after_optimize"


def test_selects_never_reach_the_mergetree_directory():
    warm, ops = _http_sql(4)
    for op in warm + ops:
        assert op["srv"] == ("adhoc" if op["cls"] in W.TEMPLATES else "ingest")
        if op["srv"] == "adhoc":
            assert W.RMT not in op["sql"]


def test_ingest_versions_increase_and_reinserts_hit_inserted_keys():
    warm, ops = _http_sql(5)
    inserts = [op for op in warm + ops if op["cls"] == "insert"]
    vers = [int(op["sql"].split(" AS ver")[0].rsplit(",", 1)[1]) for op in inserts]
    assert vers == sorted(vers) and len(set(vers)) == len(vers)
    ranges = [tuple(int(x) for x in op["sql"].split(">= ")[1].split(" AND o_orderkey < "))
              for op in inserts]
    for op, (lo, hi) in zip(inserts, ranges):
        if op["kind"] == "reinsert":
            assert any(a <= lo and hi <= b for (a, b), o in zip(ranges, inserts)
                       if o["kind"] == "insert")


def test_final_reads_cover_the_latest_reinsert():
    """FINAL has versions to fold only where keys were re-inserted."""
    last = None
    for op in _http_sql(11)[1]:
        if op.get("kind") == "reinsert":
            lo, hi = (int(x) for x in op["sql"].split(">= ")[1].split(" AND o_orderkey < "))
            last = (lo, hi)
        elif op.get("kind") == "final_point" and last:
            assert last[0] <= int(op["sql"].rsplit("= ", 1)[1]) < last[1]
        elif op.get("kind") == "final_range" and last:
            a = int(op["sql"].split("BETWEEN ")[1].split()[0])
            assert a <= last[0] and last[1] <= a + 20_000


def test_tail_is_highest_percentile_with_ten_beyond():
    assert run.tail([1.0] * 10) is None
    assert run.tail([float(i) for i in range(1, 12)]) == {"value": 1.0, "pct": 9.1, "n": 11}
    t = run.tail([float(i) for i in range(1, 21)])
    assert t == {"value": 10.0, "pct": 50.0, "n": 20}
    t = run.tail([float(i) for i in range(1, 101)])
    assert t["value"] == 90.0 and t["pct"] == 90.0


def test_tsv_parse_and_compare_tolerates_sum_order_only():
    from tests.oracle_harness import normalize

    got = W.parse_tsv("A\t3\t0.30000000000000004\n")
    assert W.same_rows(normalize, ["f", "n", "s"], got, [("A", 3, 0.3)])
    assert not W.same_rows(normalize, ["f", "n", "s"], got, [("A", 3, 0.31)])
    assert not W.same_rows(normalize, ["f", "n", "s"], got, [("A", 4, 0.3)])


def test_window_extends_past_stolen_ops_and_figures_leave_them_out(monkeypatch):
    """The first cycle's ops run while the hypervisor takes a vCPU from
    the machine; the window runs one more cycle, and only the unstolen
    ops of each class are kept."""
    clock = {"steal": 0.0, "stolen": True}
    monkeypatch.setattr(run, "steal_s", lambda: clock["steal"])

    def execute(op, root):
        time.sleep(0.01)
        clock["steal"] += 0.01 if clock["stolen"] else 0.0
        return None, ""

    def ops():
        for k in itertools.count():
            clock["stolen"] = k < 2
            yield {"cls": "ab"[k % 2]}

    done = run.run_loop(ops(), 0, 2, execute, extend_s=60)
    assert len(done) == 4
    assert [o["steal_rate"] >= run.STEAL_MAX for o in done] == [True, True, False, False]
    assert run.unstolen(done) == done[2:]
    assert run.unstolen(done[:3]) == done[1:3]  # class b has only a stolen op
    assert len(run.run_loop(ops(), 0, 2, execute)) == 2

    # steal that outlasts the window: one extra cycle, then it stops
    clock["stolen"] = True
    done = run.run_loop(itertools.cycle([{"cls": "a"}, {"cls": "b"}]), 0, 2, execute,
                        extend_s=60)
    assert len(done) == 4 and run.unstolen(done) == done

    # the rate keeps the measured class mix: the stolen `a` counts at a's median
    measured = [{"cls": "a", "lat": 1.0, "steal_rate": 0.0},
                {"cls": "b", "lat": 3.0, "steal_rate": 0.0},
                {"cls": "a", "lat": 5.0, "steal_rate": 0.5}]
    assert run.busy_rate(run.unstolen(measured), measured) == 3 / 5


def _traced_loop(outside_s: float) -> dict:
    """Two op classes through the runner with tracing on and no Spark;
    each op sleeps `outside_s` inside the timed region but outside every
    span, then 20 ms inside its root span."""
    def execute(op, root):
        time.sleep(outside_s)
        with root():
            time.sleep(0.02)
        return None, ""

    layers = Layers()
    layers.start(None, "root")
    ops = itertools.cycle([{"cls": "a"}, {"cls": "b"}])
    done = run.run_loop(ops, 0, 2, execute, layers)
    for op in done:
        assert op["traced"] == ("stmt" in op)
    return layers.blocking_path_check(done)


def test_consistency_check_passes_when_spans_cover_the_op():
    check = _traced_loop(0.0)
    assert check["ok"], check


def test_consistency_check_catches_time_outside_every_span():
    check = _traced_loop(0.05)
    assert not check["ok"], check
    assert check["outside_spans_s"] > 0.04


def test_pipeline_queries_are_heavy_registry_queries():
    from clickhouse_25_5_3_75_stable_spark.queries import REGISTRY

    assert all(REGISTRY[n].bucket == "heavy" for n in run.PIPELINE)


def test_noop_sink_keeps_every_q1_aggregate(tmp_path):
    """The df_pipeline sink must not let Catalyst prune output columns:
    under write.format("noop") q1's executed plan still computes every
    sum and avg, while count() (bench.py's sink) drops them all."""
    import datagen
    from pyspark.sql import SparkSession

    from clickhouse_25_5_3_75_stable_spark.queries import REGISTRY

    data = os.path.join(datagen.ensure_tables(str(tmp_path)))
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.session.timeZone", "UTC").getOrCreate())
    plans: dict[str, str] = {}

    class Listener:
        def onSuccess(self, func, qe, _dur):  # noqa: N802
            plans[func] = qe.executedPlan().toString()

        def onFailure(self, func, qe, exc):  # noqa: N802
            pass

        class Java:
            implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = Listener()
    spark._jsparkSession.listenerManager().register(listener)
    try:
        df = REGISTRY["q1_pricing_summary"].fn(spark, data)
        aggs = [c for c in df.columns if c.startswith(("sum_", "avg_"))]
        assert len(aggs) == 7
        df.write.format("noop").mode("overwrite").save()
        df.count()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        sink = [p for f, p in plans.items() if f != "count"]
        assert sink and all(a in sink[0] for a in aggs), sink
        assert not any(a in plans["count"] for a in aggs)
    finally:
        spark._jsparkSession.listenerManager().unregister(listener)
        spark.stop()
