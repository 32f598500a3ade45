"""Seeded statement generators and their correctness models.

Every generator takes a `random.Random` built from `--seed` and yields
plain statement text; the engine sees nothing else. Each statement has
a DuckDB twin, so outputs can be checked after the timed window:

- ad hoc SELECTs: one twin query per template, over the same parquet;
- ingest statements: a DuckDB table that receives the same batches,
  read through a latest-version-per-key view (ReplacingMergeTree FINAL).

(df_pipeline's twins are the registry's own oracle SQL.)

Each op names the server it goes to (`srv`): the ad hoc SELECTs to one
over a directory of the read-only base tables, the ingest statements to
one over a directory that holds only `orders` and the ReplacingMergeTree,
so a SELECT never pays for registering the growing MergeTree table.
"""

from __future__ import annotations

import ctypes
import ctypes.util
import datetime as dt
import functools
import math
import os
import random

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# -- ad hoc SELECTs ---------------------------------------------------------
#
# Five statement templates: TPC-H-style scan/aggregate, join top-k, a
# window over an aggregate, a running window over events, and a
# string hash that the engine evaluates as a pandas UDF. Each returns
# (ClickHouse-dialect text, DuckDB twin text) for one set of literals.


def _date(rng: random.Random, lo: dt.date, hi: dt.date) -> str:
    return (lo + dt.timedelta(days=rng.randrange((hi - lo).days))).isoformat()


def t_pricing(rng: random.Random) -> tuple[str, str]:
    d = _date(rng, dt.date(1996, 1, 1), dt.date(2001, 6, 1))
    body = ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
            "sum(l_extendedprice) AS sum_price, "
            "sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge, "
            "avg(l_discount) AS avg_disc, count() AS n FROM lineitem "
            "WHERE l_shipdate <= {ts} "
            "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")
    return (body.format(ts=f"toDateTime('{d} 00:00:00')"),
            body.replace("count()", "count(*)").format(ts=f"TIMESTAMP '{d} 00:00:00'"))


def t_top_orders(rng: random.Random) -> tuple[str, str]:
    d = _date(rng, dt.date(1995, 6, 1), dt.date(2001, 6, 1))
    prio = rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    k = rng.choice([10, 20, 50])
    body = ("SELECT o_orderkey, o_orderdate, "
            "sum(l_extendedprice * (1 - l_discount)) AS revenue, count() AS lines "
            "FROM orders INNER JOIN lineitem ON l_orderkey = o_orderkey "
            "WHERE o_orderdate < {ts} AND o_orderpriority = '" + prio + "' "
            "GROUP BY o_orderkey, o_orderdate ORDER BY revenue DESC, o_orderkey "
            f"LIMIT {k}")
    return (body.format(ts=f"toDateTime('{d} 00:00:00')"),
            body.replace("count()", "count(*)").format(ts=f"TIMESTAMP '{d} 00:00:00'"))


def t_segment_rank(rng: random.Random) -> tuple[str, str]:
    nation = rng.randrange(25)
    k = rng.choice([3, 5, 10])
    body = ("SELECT c_mktsegment, c_custkey, total, rnk FROM ("
            "SELECT c_mktsegment, c_custkey, total, row_number() OVER "
            "(PARTITION BY c_mktsegment ORDER BY total DESC, c_custkey) AS rnk FROM ("
            "SELECT c_mktsegment, c_custkey, sum(o_totalprice) AS total "
            "FROM customer INNER JOIN orders ON o_custkey = c_custkey "
            f"WHERE c_nationkey = {nation} GROUP BY c_mktsegment, c_custkey) AS a) AS b "
            f"WHERE rnk <= {k} ORDER BY c_mktsegment, rnk")
    return body, body


def t_user_running(rng: random.Random) -> tuple[str, str]:
    lo = rng.randrange(1480)
    kind = rng.choice(["view", "click", "purchase", "signup", "error"])
    body = ("SELECT user_id, event_id, ts, value, sum(value) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running "
            f"FROM events WHERE user_id BETWEEN {lo} AND {lo + 19} AND event_type = '{kind}' "
            "ORDER BY user_id, ts, event_id")
    return body, body


def t_name_hash(rng: random.Random) -> tuple[str, str]:
    nation = rng.randrange(25)
    mask = rng.choice([255, 1023, 4095])
    return (
        "SELECT c_mktsegment, count() AS n, "
        f"sum(bitAnd(xxHash64(c_name), {mask})) AS h FROM customer "
        f"WHERE c_nationkey = {nation} GROUP BY c_mktsegment ORDER BY c_mktsegment",
        "SELECT c_mktsegment, count(*) AS n, "
        f"sum(xxh64(c_name) & {mask}) AS h FROM customer "
        f"WHERE c_nationkey = {nation} GROUP BY c_mktsegment ORDER BY c_mktsegment",
    )


TEMPLATES = {
    "pricing": t_pricing,
    "top_orders": t_top_orders,
    "segment_rank": t_segment_rank,
    "user_running": t_user_running,
    "name_hash": t_name_hash,
}


def select_op(name: str, rng: random.Random) -> dict:
    ch, duck = TEMPLATES[name](rng)
    return {"cls": name, "srv": "adhoc", "sql": ch, "twin": duck}


def adhoc_ops(rng: random.Random):
    """Endless balanced stream: each round is every template once, in a
    seeded order, with seeded literals."""
    while True:
        names = list(TEMPLATES)
        rng.shuffle(names)
        for name in names:
            yield select_op(name, rng)


# -- ingest: ReplacingMergeTree batches, FINAL reads, OPTIMIZE --------------

RMT = "ord_rmt"
INGEST_TABLES = ("orders",)  # the ingest directory's source table
WRITE_CLASSES = ("insert", "optimize")
CREATE_RMT = (
    f"CREATE TABLE {RMT} (o_orderkey Int64, o_custkey Int64, o_totalprice Float64, "
    "o_orderstatus String, ver UInt32) ENGINE = ReplacingMergeTree(ver) "
    "PARTITION BY o_orderstatus ORDER BY o_orderkey"
)
N_KEYS = 150_000
BATCH = 3_000
# one http_sql cycle: every ingest kind once and every SELECT template
# once ("select" slots); OPTIMIZE is followed directly by the read that
# checks it, with no insert in between. The 5:6 read/write ratio is a
# design choice (one op per kind per cycle, so each class gets the same
# number of samples), not taken from a traffic trace.
CYCLE = ("insert", "select", "reinsert", "select", "final_point", "select",
         "final_range", "select", "optimize", "read_after_optimize", "select")


class IngestGen:
    """Seeded INSERT / FINAL / OPTIMIZE statements with increasing
    versions, so the latest version per key is always unique. FINAL
    reads target the latest re-inserted range, so they have versions
    to fold."""

    def __init__(self, rng: random.Random) -> None:
        self.rng = rng
        self.ver = 0
        self.last = (0, 0)  # key range of the latest insert
        self.full: list[int] = []  # starts of full-size batches

    def _insert(self, lo: int, hi: int, cls: str) -> dict:
        self.ver += 1
        delta = self.rng.randrange(1, 1000)
        sel = (f"SELECT o_orderkey, o_custkey, o_totalprice + {delta} AS o_totalprice, "
               f"o_orderstatus, {self.ver} AS ver FROM orders "
               f"WHERE o_orderkey >= {lo} AND o_orderkey < {hi}")
        self.last = (lo, hi)
        return {"cls": "insert", "srv": "ingest", "kind": cls, "rows": hi - lo,
                "sql": f"INSERT INTO {RMT} {sel}", "twin": f"INSERT INTO m {sel}"}

    def op(self, kind: str) -> dict:
        rng = self.rng
        if kind == "insert":
            lo = rng.randrange(N_KEYS - BATCH)
            self.full.append(lo)
            return self._insert(lo, lo + BATCH, kind)
        if kind == "reinsert":
            lo = rng.choice(self.full) + rng.randrange(BATCH // 2)
            return self._insert(lo, lo + BATCH // 2, kind)
        if kind == "final_point":
            key = rng.randrange(*self.last)
            q = ("SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, ver "
                 "FROM {t} WHERE o_orderkey = " + str(key))
            return {"cls": "final_read", "srv": "ingest", "kind": kind,
                    "sql": q.format(t=f"{RMT} FINAL"), "twin": q.format(t="latest")}
        if kind == "final_range":
            r_lo, r_hi = self.last
            lo = rng.randrange(max(0, r_hi - 20_000), min(r_lo, N_KEYS - 20_000) + 1)
            q = ("SELECT o_orderstatus, count() AS n, sum(o_totalprice) AS total, "
                 "max(ver) AS max_ver FROM {t} "
                 f"WHERE o_orderkey BETWEEN {lo} AND {lo + 20_000} "
                 "GROUP BY o_orderstatus ORDER BY o_orderstatus")
            return {"cls": "final_read", "srv": "ingest", "kind": kind,
                    "sql": q.format(t=f"{RMT} FINAL"),
                    "twin": q.replace("count()", "count(*)").format(t="latest")}
        if kind == "optimize":
            return {"cls": "optimize", "srv": "ingest", "kind": kind,
                    "sql": f"OPTIMIZE TABLE {RMT} FINAL", "twin": None}
        if kind == "read_after_optimize":
            # no FINAL: after OPTIMIZE FINAL the parts hold one row per key
            q = ("SELECT o_orderstatus, count() AS n, sum(ver) AS vers, "
                 "sum(o_totalprice) AS total FROM {t} GROUP BY o_orderstatus "
                 "ORDER BY o_orderstatus")
            return {"cls": "read_after_optimize", "srv": "ingest", "kind": kind,
                    "sql": q.format(t=RMT),
                    "twin": q.replace("count()", "count(*)").format(t="latest")}
        raise ValueError(kind)


def ingest_warmup(gen: IngestGen) -> list[dict]:
    return [{"cls": "create", "srv": "ingest", "kind": "create", "sql": CREATE_RMT,
             "twin": None},
            gen.op("insert")]


def http_sql_ops(gen: IngestGen, selects):
    """Endless stream of CYCLEs; the select slots take the next template
    from `selects`, a balanced adhoc_ops stream."""
    while True:
        for kind in CYCLE:
            yield next(selects) if kind == "select" else gen.op(kind)


# -- checking ---------------------------------------------------------------

@functools.cache
def _libxxhash_xxh64():
    lib = ctypes.CDLL(ctypes.util.find_library("xxhash") or "libxxhash.so.0")
    lib.XXH64.argtypes = [ctypes.c_char_p, ctypes.c_size_t, ctypes.c_ulonglong]
    lib.XXH64.restype = ctypes.c_ulonglong
    return lib.XXH64


def _xxh64(s: str) -> int:
    """XXH64, seed 0, from the system libxxhash: a ground truth that
    shares no code with the engine. Signed, as the engine returns it."""
    b = s.encode("utf-8")
    v = _libxxhash_xxh64()(b, len(b), 0)
    return v - (1 << 64) if v >= 1 << 63 else v


def duck_conn(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(data_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    con.create_function("xxh64", _xxh64, ["VARCHAR"], "BIGINT")
    return con


def parse_tsv(body: str) -> list[tuple]:
    def cell(v: str):
        for conv in (int, float):
            try:
                return conv(v)
            except ValueError:
                pass
        return v

    return [tuple(cell(v) for v in line.split("\t"))
            for line in body.splitlines() if line != ""]


def _canon(v):
    if isinstance(v, (dt.datetime, dt.date)):
        return str(v)
    if hasattr(v, "as_integer_ratio") and not isinstance(v, (int, float)):
        return float(v)  # Decimal
    return v


def same_rows(normalize, cols: list[str], got: list[tuple], want: list[tuple]) -> bool:
    """Both sides through the repository's oracle normalizer, then
    compared cell by cell; floats to 1e-9 relative, because the two
    engines sum doubles in different orders."""
    _, g = normalize(cols, [tuple(_canon(v) for v in r) for r in got])
    _, w = normalize(cols, [tuple(_canon(v) for v in r) for r in want])
    if len(g) != len(w):
        return False
    for rg, rw in zip(g, w):
        if len(rg) != len(rw):
            return False
        for a, b in zip(rg, rw):
            if isinstance(a, float) or isinstance(b, float):
                if not (isinstance(a, (int, float)) and isinstance(b, (int, float))
                        and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)):
                    return False
            elif a != b:
                return False
    return True


def check_http(con, normalize, log: list[dict]) -> list[str]:
    """Replay every statement of the run, in order: inserts go into the
    DuckDB model, reads are compared with their twins."""
    con.execute("CREATE OR REPLACE TABLE m (o_orderkey BIGINT, o_custkey BIGINT, "
                "o_totalprice DOUBLE, o_orderstatus VARCHAR, ver BIGINT)")
    con.execute("CREATE OR REPLACE VIEW latest AS SELECT o_orderkey, o_custkey, "
                "o_totalprice, o_orderstatus, ver FROM (SELECT *, row_number() OVER "
                "(PARTITION BY o_orderkey ORDER BY ver DESC) AS rn FROM m) WHERE rn = 1")
    bad = []
    for op in log:
        if op.get("error"):
            bad.append(op["cls"])
        elif op["cls"] == "insert":
            con.execute(op["twin"])
        elif op["twin"] is not None:
            res = con.execute(op["twin"])
            cols = [d[0] for d in res.description]
            if not same_rows(normalize, cols, parse_tsv(op["body"]), res.fetchall()):
                bad.append(op["cls"])
    return bad
