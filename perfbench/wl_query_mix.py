"""``query_mix`` workload: small, latency-bound requests from one
client, each written to the noop sink.

A cycle issues every request once, in an order the seed permutes:
- registered engine queries over the sf0.01 test tables (TESTDATA.md;
  perfbench/data holds the five they read), one per module:
  ann_multiprobe (similarity), minhash_capped (dedup) and bm25 (text).
  Each is correct when
  its row count and order-insensitive hash (the sum of each row's
  xxhash64, observed while the rows stream to the sink) equal those of
  its ``oracle_sql()`` rows from DuckDB, loaded into Spark with the
  request's schema.
- two dense point-in-polygon joins (pip_requests, the spatial
  module), against the grid and against the diamonds, on points whose
  ordinal offset the seed sets, checked against closed-form arithmetic.
"""

from __future__ import annotations

import os
import random
import statistics
from concurrent.futures import ThreadPoolExecutor

import duckdb
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geotrellis_spark.plans.driver_queries import QUERIES

from checks import Outcome, observe_noop
from pip_requests import SETS, PipRequests, expected, point_offset
from tracer import Tracer

ARROW_BATCH = 4096
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ("events", "nation", "customer", "documents", "embeddings")
MODULE = {
    "ann_multiprobe": "similarity", "minhash_capped": "dedup",
    "bm25": "text",
}
PIP_POINTS = 60_000
WARM_PIP_POINTS = 20_000


def checksum(df) -> list:
    """Aggregates for (row count, order-insensitive row hash)."""
    cols = [F.col(c) for c in sorted(df.columns)]
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ]


def _coerce(value, dtype):
    if value is None:
        return None
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(value)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return float(value)
    if isinstance(dtype, T.BooleanType):
        return bool(value)
    if isinstance(dtype, T.StringType):
        return str(value)
    return value


class Workload:
    NAME = "query_mix"
    WORK_NAME = "query_qps"
    P50_NAME = "query_p50_s"
    P90_NAME = "query_p90_s"

    def __init__(self, bench):
        self.b = bench
        self.expect: dict[str, tuple] = {}
        self.pip_rows: list[tuple[int, bool]] = []  # (rows, traced)
        self.pip = PipRequests(bench.spark, point_offset(bench.seed))

    def prepare(self) -> None:
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{DATA}/{t}.parquet')")
            self.oracle = {}
            for name in MODULE:
                rel = con.execute(QUERIES[name][1]())
                self.oracle[name] = ([d[0] for d in rel.description],
                                     rel.fetchall())
        finally:
            con.close()
        self.pip_expect = expected(self.pip.offset, PIP_POINTS)
        self.warm_pip_expect = expected(self.pip.offset, WARM_PIP_POINTS)

    def _expected(self, name: str, schema) -> tuple | None:
        """Count and hash of the oracle rows, typed as the request's."""
        cols, rows = self.oracle[name]
        if sorted(cols) != sorted(schema.names):
            return None
        idx = [cols.index(c) for c in schema.names]
        typed = [
            tuple(_coerce(r[i], f.dataType) for i, f in zip(idx, schema.fields))
            for r in rows
        ]
        df = self.b.spark.createDataFrame(typed, schema)
        got = df.agg(*checksum(df)).collect()[0]
        return got["n"], got["h"]

    def _run_query(self, name: str) -> tuple:
        df = QUERIES[name][0](self.b.spark, DATA)
        got = observe_noop(df, *checksum(df))
        return df.schema, (got["n"], got["h"])

    def _warm_query(self, name: str) -> None:
        schema, got = self._run_query(name)
        self.expect[name] = self._expected(name, schema)
        if got != self.expect[name]:
            raise RuntimeError(f"warm-up {name}: got {got}, expected "
                               f"{self.expect[name]}")

    def _warm_pip(self, which: str) -> None:
        got = self.pip.join(which, WARM_PIP_POINTS,
                            Tracer(self.b.spark, False))
        if got != self.warm_pip_expect[which]:
            raise RuntimeError(f"warm-up pip_join[{which}]: got {got}, "
                               f"expected {self.warm_pip_expect[which]}")

    def warm_up(self) -> None:
        # Every request once, concurrently, one thread per core: each is
        # latency-bound, and a cold pass run one by one would take most
        # of the run.
        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            runs = [pool.submit(self._warm_query, n) for n in MODULE]
            runs += [pool.submit(self._warm_pip, w) for w in SETS]
            for r in runs:
                r.result()

    def _query_op(self, name: str):
        with self.b.tracer.span(f"{MODULE[name]}.{name}"):
            _, got = self._run_query(name)
        return Outcome(1, lambda: got == self.expect[name])

    def _pip_op(self, which: str):
        got = self.pip.join(which, PIP_POINTS, self.b.tracer)
        self.pip_rows.append((got[0], self.b.tracer.enabled))
        return Outcome(1, lambda: got == self.pip_expect[which])

    def cycle(self, k: int):
        ops = [(n, lambda n=n: self._query_op(n)) for n in MODULE]
        ops += [(f"pip_join[{w}]", lambda w=w: self._pip_op(w)) for w in SETS]
        random.Random(self.b.seed * 1_000_003 + k).shuffle(ops)
        return ops

    def named_metrics(self, ops: list) -> dict:
        pips = [o for o in ops if o["name"].startswith("pip_join")]
        rows = sum(r for r, _ in self.pip_rows)
        wall = sum(o["wall"] for o in pips)
        return {"pip_rows_per_s": (rows / wall, "1/s")}

    def layer_metrics(self, rows: list, ops: list, n_cycles: int) -> dict:
        by: dict[str, list] = {}
        for r in rows:
            by.setdefault(r["name"], []).append(r)
        out = {
            f"{m}.{q}_s": statistics.median(
                r["wall_s"] for r in by[f"{m}.{q}"])
            for q, m in MODULE.items()
        }
        joins = by.get("spatial.pip_join", [])
        rows_in = sum(r.get("python_eval_rows", 0.0) for r in joins)
        hits = sum(r for r, traced in self.pip_rows if traced)
        out.update({
            "spatial.assign_cells_s": sum(
                r["self_s"] for r in by.get("spatial.assign_cells", [])
            ) / n_cycles,
            "spatial.pip_join_s": sum(r["self_s"] for r in joins) / n_cycles,
            "spatial.refine_rows_in": rows_in / n_cycles,
            "spatial.refine_hit_ratio": hits / rows_in if rows_in else 0.0,
        })
        return out
