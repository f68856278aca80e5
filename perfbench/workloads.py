"""The benchmark's workloads: seeded op sequences against the engine's
public API, each with its own output check.

A workload exposes ``build_op()`` (the op that builds the one-time state
the other ops need), ``cold_ops()`` (one op of every kind), ``ops()`` (the
endless seeded closed-loop sequence), ``execute(op)`` (the timed part: one
call into the engine with its result collected) and ``check(op, result)``
(untimed; returns an error message or None). Workloads reach the engine
only through its public functions and classes, so the tracer can time
each layer by wrapping them.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import itertools
import math
import os
import random
import re
import time
from dataclasses import dataclass, field
from typing import Callable

import duckdb

from perfbench.probe import dir_usage

# ---------------------------------------------------------------- checks


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v + 0.0)  # collapses -0.0
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def canon_rows(columns: list[str], rows: list[tuple]) -> list[tuple]:
    """Columns sorted by lower-cased name, values canonicalized at full
    float precision, rows sorted: an order-insensitive result identity."""
    names = [c.lower() for c in columns]
    order = sorted(range(len(names)), key=names.__getitem__)
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort()
    return [tuple(names[i] for i in order)] + out


def digest(canon: list[tuple]) -> str:
    return hashlib.sha256(repr(canon).encode()).hexdigest()


def duckdb_over(data_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


# -------------------------------------------------------------- olap_app

# Registry rows of the app read path: TPC-H, stats/status, customer,
# nation, events and both dialect families. Named explicitly so the
# workload stays fixed as the registry grows. Left out: rows that build
# a session artifact or run the CDC loop on first touch
# (ch_dialect_mv_rollup), and the 1-5 s jsonb/jsonpath rows that would
# dominate the op count.
OLAP_ROWS = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q18_large_volume_customers",
    "stats_total",
    "stats_by_month",
    "status_priority_rollup",
    "nation_revenue_ranks",
    "events_tumbling_10min",
    "ch_dialect_monthly_stats",
    "ch_dialect_funnel",
    "ch_dialect_dictget",
    "pg_dialect_percentiles",
)
# LLM-data consumer rows that ride along in the olap_app mix: a NumPy
# kernel run in the Python workers through mapInPandas
# (operators/similarity.py), and a scorer that reads the quality-model
# session artifact. The artifact is trained by CORPUS_BUILD, once per run,
# as the workload's build step. The dedup and IVFPQ artifact builds are
# left out: 18 s and 11 s cold on 2 cores at sf0.01, most of a run.
CORPUS_ROWS = ("emb_near_dup_cosine", "doc_quality_classifier")
CORPUS_BUILD = "build_quality_model"


@dataclass(frozen=True)
class Statement:
    """A parameterized app statement in the golden-corpus shapes, with a
    paired DuckDB statement taking the same parameters. ``params`` draws
    one parameter set from a seeded ``random.Random``; the value space is
    wide, so nearly every op binds values not seen before, as an app's
    user-chosen filters do."""

    name: str
    dialect: str
    text: str
    oracle: str
    params: Callable[[random.Random], dict | list]


def _day(rng: random.Random, offset: int = 0) -> str:
    return (dt.date(1992, 1, 1) + dt.timedelta(days=rng.randrange(2400) + offset)).isoformat()


def _window(rng: random.Random) -> list[str]:
    start = _day(rng)
    end = dt.date.fromisoformat(start) + dt.timedelta(days=rng.randrange(30, 365))
    return [start, end.isoformat()]


STATEMENTS = (
    Statement(
        "ch_month_by_status",
        "clickhouse",
        "SELECT toStartOfMonth(o_orderdate) AS month, count() AS n, "
        "max(o_totalprice) AS top FROM orders WHERE o_orderstatus = {status:String} "
        "AND o_totalprice >= {min_price:Float64} GROUP BY month ORDER BY month",
        "SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, "
        "count(*) AS n, max(o_totalprice) AS top FROM orders "
        "WHERE o_orderstatus = $status AND o_totalprice >= $min_price GROUP BY month",
        lambda rng: {"status": rng.choice("FOP"), "min_price": float(rng.randrange(900, 300_000))},
    ),
    Statement(
        "ch_segment_labels",
        "clickhouse",
        "SELECT if(empty(c_mktsegment), 'none', c_mktsegment) AS segment, "
        "count() AS n, min(c_acctbal) AS low FROM customer "
        "WHERE c_nationkey = {nation:UInt32} AND c_acctbal >= {min_bal:Float64} "
        "GROUP BY segment ORDER BY segment",
        "SELECT coalesce(nullif(c_mktsegment, ''), 'none') AS segment, "
        "count(*) AS n, min(c_acctbal) AS low FROM customer "
        "WHERE c_nationkey = $nation AND c_acctbal >= $min_bal GROUP BY segment",
        lambda rng: {"nation": rng.randrange(25), "min_bal": float(rng.randrange(-999, 9_000))},
    ),
    Statement(
        "pg_priority_window",
        "postgres",
        "SELECT o_orderpriority, COUNT(*)::int AS n, MAX(o_totalprice)::float8 AS top "
        "FROM orders WHERE o_orderdate >= $1 AND o_orderdate <= $2 "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        "SELECT o_orderpriority, CAST(count(*) AS INTEGER) AS n, "
        "CAST(max(o_totalprice) AS DOUBLE) AS top FROM orders "
        "WHERE o_orderdate >= CAST($1 AS TIMESTAMP) "
        "AND o_orderdate <= CAST($2 AS TIMESTAMP) GROUP BY o_orderpriority",
        _window,
    ),
    Statement(
        "pg_ship_status",
        "postgres",
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
        "MIN(l_shipdate)::date AS first_ship FROM lineitem "
        "WHERE l_shipdate <= $1::date AND l_quantity >= $2 "
        "GROUP BY l_returnflag, l_linestatus ORDER BY 1, 2",
        "SELECT l_returnflag, l_linestatus, count(*) AS n, "
        "CAST(min(l_shipdate) AS DATE) AS first_ship FROM lineitem "
        "WHERE l_shipdate <= CAST($1 AS DATE) AND l_quantity >= $2 "
        "GROUP BY l_returnflag, l_linestatus",
        lambda rng: [_day(rng, 300), rng.randrange(1, 50)],
    ),
)


@dataclass(frozen=True)
class OlapOp:
    kind: str
    params: tuple = ()  # a Statement's parameter set: dict items or list values

    def key(self) -> str:
        return f"{self.kind}{list(self.params)}"

    def bound(self) -> dict | list:
        """The parameters as ``Engine.sql`` and DuckDB take them."""
        named = self.params and isinstance(self.params[0], tuple)
        return dict(self.params) if named else list(self.params)


def olap_ops(seed: str):
    """Endless closed-loop op sequence: every cycle is a seeded shuffle of
    every kind; a statement op carries a seeded parameter set."""
    rng = random.Random(f"olap_app:{seed}")
    kinds = [*OLAP_ROWS, *CORPUS_ROWS] + [s.name for s in STATEMENTS]
    by_name = {s.name: s for s in STATEMENTS}
    while True:
        for kind in rng.sample(kinds, len(kinds)):
            st = by_name.get(kind)
            yield OlapOp(kind, _items(st.params(rng)) if st else ())


def _items(params) -> tuple:
    return tuple(sorted(params.items())) if isinstance(params, dict) else tuple(params)


class OlapApp:
    """App-style reads through one long-lived ``Engine``: registry rows,
    parameterized ``Engine.sql`` statements in both app dialects, and two
    LLM-data consumer rows over a session artifact built first."""

    name = "olap_app"
    build_metric = "artifacts.quality_build_s"
    cycle = len(OLAP_ROWS) + len(CORPUS_ROWS) + len(STATEMENTS)
    block = cycle  # warm-up is judged per cycle: every kind once
    min_window_ops = 2 * cycle

    def __init__(self, engine, seed: int, tracer, data_dir: str):
        from clickhouse_build_spark.catalog import TABLE_NAMES
        from clickhouse_build_spark.plans import REGISTRY

        self.engine, self.seed, self.tracer = engine, seed, tracer
        self.registry = REGISTRY
        self.statements = {s.name: s for s in STATEMENTS}
        self.duck = duckdb_over(data_dir, TABLE_NAMES)
        self.first_pass: dict[str, str] = {}  # op key -> result digest
        self.last_df = None

    def build_op(self) -> OlapOp:
        return OlapOp(CORPUS_BUILD)

    def cold_ops(self) -> list[OlapOp]:
        ops = [OlapOp(k) for k in (*OLAP_ROWS, *CORPUS_ROWS)]
        rng = random.Random("olap_app:cold")  # the same cold pass for every seed
        ops += [OlapOp(s.name, _items(s.params(rng))) for s in STATEMENTS]
        return ops

    def ops(self, stream: str):
        """The op sequence of one phase of the run (warm-up, window,
        trace), each its own seeded stream starting at a cycle boundary."""
        return olap_ops(f"{stream}:{self.seed}")

    def trace_ops(self) -> list[OlapOp]:
        """One seeded cycle, the same on every call."""
        return list(itertools.islice(self.ops("trace"), self.cycle))

    def execute(self, op: OlapOp):
        spark = self.engine.spark
        st = self.statements.get(op.kind)
        if st is None:
            with self.tracer.span("plans.builder", kind=op.kind):
                df = self.registry[op.kind].builder(spark, self.engine.sf_dir)
        else:
            df = self.engine.sql(st.text, params=op.bound(), dialect=st.dialect)
        self.last_df = df
        rows = self.engine.to_rows(df)
        return df.columns, [tuple(r.values()) for r in rows]

    def _oracle(self, op: OlapOp) -> list[tuple]:
        st = self.statements.get(op.kind)
        if st is None:
            rel = self.duck.sql(self.registry[op.kind].oracle)
            return canon_rows(rel.columns, rel.fetchall())
        cur = self.duck.execute(st.oracle, op.bound())
        return canon_rows([d[0] for d in cur.description], cur.fetchall())

    def check(self, op: OlapOp, result) -> str | None:
        got = canon_rows(*result)
        want_digest = self.first_pass.get(op.key())
        if want_digest is None:
            want = self._oracle(op)
            if got != want:
                bad = [(a, b) for a, b in zip(got, want) if a != b][:3]
                return (
                    f"{op.key()}: differs from the DuckDB oracle "
                    f"({len(got) - 1} vs {len(want) - 1} rows; first diffs {bad})"
                )
            self.first_pass[op.key()] = digest(got)
            return None
        if digest(got) != want_digest:
            return f"{op.key()}: warm result differs from its first-pass result"
        return None

    def finish(self) -> dict:
        self.duck.close()
        return {"error": None}


# ------------------------------------------------------------ cdc_ingest

CDC_COLUMNS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
# No measured change rate backs a batch size. 32 rows (about 29 distinct
# keys) touch about 19 of the replica's 32 hash buckets, so each merge
# rewrites a part of the replica and bucket bounding is measured; a
# regression that rewrote every bucket would show in apply time and bytes.
BATCH_ROWS = 32
# The cold pass is the session's first few batches, not one: a single
# batch of about 5 s shows a slow stretch of a shared host in full.
COLD_BATCHES = 3
# bytes_per_live_row is read after this many batches; every run applies
# at least 10 (cold pass, warm-up, window)
BYTES_AT_BATCH = 6


@dataclass
class KeyState:
    ver: int
    deleted: bool
    row: tuple  # CDC_COLUMNS values


@dataclass
class CdcModel:
    """Latest-per-key reference state, maintained in plain Python with the
    replica's rules: a higher version wins, a batch row beats a stored row
    of the same version, and a winning delete stays as a tombstone."""

    keys: dict[int, KeyState] = field(default_factory=dict)

    def apply(self, batch: list[tuple]) -> None:
        # within a batch the highest version of a key wins
        for row in sorted(batch, key=lambda r: r[-2]):
            *vals, ver, op = row
            cur = self.keys.get(vals[0])
            if cur is None or ver >= cur.ver:
                self.keys[vals[0]] = KeyState(ver, op == "d", tuple(vals))

    def live(self) -> dict[int, KeyState]:
        return {k: s for k, s in self.keys.items() if not s.deleted}

    def rollup(self) -> dict[str, tuple[int, int]]:
        out: dict[str, list[int]] = {}
        for s in self.live().values():
            acc = out.setdefault(s.row[2], [0, 0])
            acc[0] += 1
            acc[1] += math.floor(s.row[3] * 100 + 0.5)
        return {g: (n, c) for g, (n, c) in out.items()}


def change_batches(seed: int, model: CdcModel):
    """Endless seeded change feed over ``model`` (which the caller keeps
    current). Each batch has BATCH_ROWS rows: about 6% deletes, 10%
    inserts of new keys, 10% stale out-of-order versions that must lose,
    10% keys repeated inside the batch with a newer or older version, the
    rest updates. No key carries the same version twice in one batch, so
    every batch has exactly one correct outcome."""
    rng = random.Random(f"cdc_ingest:{seed}")
    next_key = max(model.keys) + 1
    n_del, n_new, n_stale, n_rep = (round(BATCH_ROWS * f) for f in (0.06, 0.1, 0.1, 0.1))
    n_main = BATCH_ROWS - n_stale - n_rep
    b = 0
    while True:
        b += 1
        # batch b's versions: older repeats at base+500.., main rows at
        # base+1000.., newer repeats at base+2000..; every stored version
        # comes from an earlier batch, so it is below base
        base = b * 10_000
        keys = sorted(model.keys)
        live = sorted(model.live())
        recent = [k for k in keys if model.keys[k].ver > 0]

        def change(key: int, ver: int, op: str) -> tuple:
            prev = model.keys.get(key)
            cust = prev.row[1] if prev else rng.randrange(1, 1500)
            prio = prev.row[4] if prev else rng.choice(("1-URGENT", "3-MEDIUM", "5-LOW"))
            status = rng.choice(("F", "O", "P"))
            price = round(rng.uniform(900.0, 500_000.0), 2)
            return (key, cust, status, price, prio, ver, op)

        stale = rng.sample(recent, min(n_stale, len(recent)))  # none in batch 1
        main = [(k, "d") for k in rng.sample(live, n_del)]
        main += [(next_key + i, "u") for i in range(n_new)]
        next_key += n_new
        main += [(rng.choice(keys), "u") for _ in range(n_main + n_stale - len(stale) - len(main))]
        rows = [change(k, base + 1000 + i, op) for i, (k, op) in enumerate(main)]
        for j, src in enumerate(rng.sample(rows, n_rep)):
            rows.append(change(src[0], base + rng.choice((500, 2000)) + j, "u"))
        rows += [change(k, model.keys[k].ver - 1, "u") for k in stale]
        rng.shuffle(rows)
        yield rows


@dataclass(frozen=True)
class CdcOp:
    batch: int  # 0: the snapshot
    rows: tuple


class CdcIngest:
    """CDC replication of ``orders``: a snapshot with a maintained
    rollup, then one seeded change batch per op followed by one
    read-after-write (row count plus the rollup)."""

    name = "cdc_ingest"
    build_metric = "replication.snapshot_s"
    cycle = 1
    block = 1
    # 10 s of op time holds only about 5 batches; the median of 5 moves
    # by a tenth between runs on sampling alone
    min_window_ops = 8

    def __init__(self, engine, seed: int, tracer, data_dir: str):
        from clickhouse_build_spark.sources.replication import RollupSpec, TableMapping

        self.engine, self.seed, self.tracer = engine, seed, tracer
        self.mapping = TableMapping("public", "orders", "orders_replica")
        self.root = os.path.abspath("replica")
        self.rep = engine.replicator(self.root, ["o_orderkey"], "_ver")
        self.rep.rollup = RollupSpec(["o_orderstatus"], "o_totalprice")
        con = duckdb_over(data_dir, ("orders",))
        self.model = CdcModel(
            {
                r[0]: KeyState(0, False, r)
                for r in con.execute(f"SELECT {', '.join(CDC_COLUMNS)} FROM orders").fetchall()
            }
        )
        con.close()
        self._feed = change_batches(seed, self.model)
        self._n = 0
        self.read_ms: list[float] = []
        self.bytes_per_live_row = 0.0
        self.last_buckets_touched = 0

    @staticmethod
    def _frame(rows: tuple):
        """The change batch as the pandas frame a feed reader would hand
        over; Spark takes it through Arrow."""
        import pandas as pd

        return pd.DataFrame(list(rows), columns=[*CDC_COLUMNS, "_ver", "_op"])

    def build_op(self) -> CdcOp:
        return CdcOp(0, ())

    def _snapshot(self) -> None:
        from pyspark.sql import functions as F

        src = self.engine.table("orders").select(*CDC_COLUMNS).withColumn(
            "_ver", F.lit(0).cast("long")
        )
        self.rep.snapshot(src, self.mapping)

    def _next(self) -> CdcOp:
        rows = next(self._feed)
        self._n += 1
        return CdcOp(self._n, tuple(rows))

    def cold_ops(self) -> list[CdcOp]:
        """The first COLD_BATCHES batches of the fresh session."""
        return [self._next() for _ in range(COLD_BATCHES)]

    def ops(self, _stream: str):
        """The change feed; every phase of the run continues it."""
        while True:
            yield self._next()

    def trace_ops(self) -> list[CdcOp]:
        """The next few batches of the feed."""
        return [self._next() for _ in range(4)]

    def execute(self, op: CdcOp):
        if op.batch == 0:
            return self._snapshot()
        spark = self.engine.spark
        changes = spark.createDataFrame(self._frame(op.rows))
        with self.tracer.span("replication.apply"):
            self.rep.apply_changes(changes, self.mapping)
        touched = re.search(r"touched (\d+)/", self.rep.assumptions[-1])
        self.last_buckets_touched = int(touched.group(1))
        t = time.perf_counter()
        with self.tracer.span("replication.read"):
            n = self.rep.read(self.mapping).count()
        with self.tracer.span("replication.rollup_read"):
            roll = self.rep.read_rollup(self.mapping).collect()
        self.read_ms.append((time.perf_counter() - t) * 1e3)
        return n, {r["o_orderstatus"]: (r["n_rows"], r["sum_o_totalprice"]) for r in roll}

    def check(self, op: CdcOp, result) -> str | None:
        if op.batch == 0:
            n = self.rep.read(self.mapping).count()
            want = len(self.model.live())
            return None if n == want else f"snapshot has {n} rows, orders has {want}"
        self.model.apply(list(op.rows))
        n, roll = result
        want = self.model.rollup()
        if n != len(self.model.live()):
            return f"batch {op.batch}: replica has {n} live rows, recompute has {len(self.model.live())}"
        want_roll = {g: (c, s / 100.0) for g, (c, s) in want.items()}
        if roll != want_roll:
            return f"batch {op.batch}: rollup {roll} != recompute {want_roll}"
        if op.batch == BYTES_AT_BATCH:
            path = os.path.join(self.root, self.mapping.target_table)
            used = dir_usage(path)[0] + dir_usage(path + "__rollup")[0]
            self.bytes_per_live_row = used / len(self.model.live())
        return None

    def finish(self) -> dict:
        """Untimed end-of-run check: the replica equals the latest-per-key
        recompute row for row."""
        got = sorted(
            tuple(r)
            for r in self.rep.read(self.mapping).select(*CDC_COLUMNS, "_ver").collect()
        )
        want = sorted(s.row + (s.ver,) for s in self.model.live().values())
        error = None
        if got != want:
            error = f"final replica differs from the recompute: {sorted(set(got) ^ set(want))[:3]}"
        path = os.path.join(self.root, self.mapping.target_table)
        files = dir_usage(path)[1] + dir_usage(path + "__rollup")[1]
        return {
            "error": error,
            "bytes_per_live_row": self.bytes_per_live_row,
            "replication.files_on_disk": files,
            "read_ms": self.read_ms,
        }
