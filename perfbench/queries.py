"""The ``tick_queries`` workload: one closed-loop client calls the
declared Q1-Q8 round-robin over a seeded ``events`` table, through
``__spark_entry__.queries()``. A call is the query function returning
its DataFrame plus a noop write that executes the whole plan. The
last warm-up pass collects every query's result instead and compares it
with its ``__spark_entry__.oracle_sql()`` statement run by DuckDB on the
same file; a query that differs fails all its timed calls.
"""

from __future__ import annotations

import os
import time
from statistics import median

from harness import canon_rows, group_counts, multiset_diff

QUERY_NAMES = [
    "q1_latest_tick",
    "q2_daily_stats",
    "q3_recency_check",
    "q4_latest_prices",
    "q5_daily_ohlcv",
    "q6_volume_profile",
    "q7_sample",
    "q8_token_stats",
]
EVENTS_ROWS = 300_000
ROW_GROUPS = 8  # lets the scan split across cores
USERS = 1500  # ticks() maps user_id -> token
FORCED_USERS = (3, 7, 11)  # the tokens Q1-Q4 and Q7 select
SPAN_DAYS = 10  # > 7, so the Q5 and Q6 windows are never empty
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# passes kept getting faster up to the fifth (JIT); the last one is the
# correctness check
WARMUP_PASSES = 5


def write_events(path: str, seed: int, n: int = EVENTS_ROWS) -> None:
    """A seeded ``events`` table with the schema of the repository's
    synthetic test tables (event_id, ts, user_id, event_type, value,
    props), ts increasing over SPAN_DAYS."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    day_us = 86_400_000_000
    start = 1_704_067_200_000_000 + int(rng.integers(0, day_us))
    ts = start + np.cumsum(rng.exponential(SPAN_DAYS * day_us / n, n)).astype("int64")
    users = rng.integers(0, USERS, n)
    users[: len(FORCED_USERS)] = FORCED_USERS
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype="int64")),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(users.astype("int64")),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(np.round(rng.uniform(0.5, 500.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n).tolist()]),
        }
    )
    pq.write_table(table, path, row_group_size=-(-n // ROW_GROUPS))


class TickQueries:
    def __init__(self, ctx):
        self.ctx = ctx
        self.data_dir = os.path.join(ctx.run_dir, "tables")

    def make_inputs(self) -> None:
        os.makedirs(self.data_dir)
        write_events(os.path.join(self.data_dir, "events.parquet"), self.ctx.seed)
        self.ctx.record["inputs"] = {"events_rows": EVENTS_ROWS, "span_days": SPAN_DAYS}

    def _queries(self):
        import __spark_entry__

        qs = __spark_entry__.queries()
        return [(name, qs[name]) for name in QUERY_NAMES]

    def _call(self, spark, name, fn) -> None:
        tr = self.ctx.tracer
        with tr.span("build"):
            df = fn(spark, self.data_dir)
        with tr.span("exec"):
            df.write.format("noop").mode("overwrite").save()

    def warm_up(self, spark) -> None:
        for _ in range(WARMUP_PASSES - 1):
            for name, fn in self._queries():
                self._call(spark, name, fn)
        self.wrong = self._check(spark, self._queries())

    def measure(self, spark, seconds: float) -> dict:
        """Whole passes until ``seconds`` have passed, so every query
        is sampled the same number of times."""
        ctx, tr = self.ctx, self.ctx.tracer
        sc = spark.sparkContext
        queries = self._queries()
        latencies: list[float] = []
        self.calls: dict[str, list[float]] = {n: [] for n, _ in queries}
        self.counts: dict[str, list[dict]] = {n: [] for n, _ in queries}
        start = time.perf_counter()
        while time.perf_counter() - start < seconds:
            for name, fn in queries:
                group = f"perfbench-{name}-{len(self.calls[name])}"
                if tr.enabled:
                    sc.setJobGroup(group, name)
                t = time.perf_counter()
                with tr.span(f"q.{name}"):
                    self._call(spark, name, fn)
                ms = (time.perf_counter() - t) * 1e3
                latencies.append(ms)
                self.calls[name].append(ms)
                if tr.enabled:
                    self.counts[name].append(group_counts(sc, group))
        wall = time.perf_counter() - start
        ctx.attempted += len(latencies)
        ctx.failed += sum(len(self.calls[name]) for name in self.wrong)
        ctx.record["passes"] = len(self.calls[QUERY_NAMES[0]])
        return {"throughput": len(latencies) / wall, "latencies_ms": latencies}

    def _check(self, spark, queries) -> set[str]:
        """Names of the queries whose result differs from the oracle's."""
        import duckdb

        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        wrong = set()
        con = duckdb.connect()
        try:
            con.sql(
                "CREATE VIEW events AS SELECT * FROM read_parquet('{}')".format(
                    os.path.join(self.data_dir, "events.parquet")
                )
            )
            for name, fn in queries:
                got = canon_rows(fn(spark, self.data_dir).collect())
                want = canon_rows(con.sql(oracles[name]).fetchall())
                missing, excess = multiset_diff(want, got)
                if missing or excess or not want:
                    self.ctx.mismatch(
                        f"{name}: {missing} oracle rows missing, {excess} unexpected "
                        f"({len(want)} expected)"
                    )
                    wrong.add(name)
        finally:
            con.close()
        return wrong

    def layers(self, spark) -> dict:
        out = {}
        for name in QUERY_NAMES:
            out[f"q.{name}.ms"] = median(self.calls[name])
            for k in ("jobs", "stages", "tasks"):
                out[f"q.{name}.{k}"] = median([c[k] for c in self.counts[name]])
        out["trace.self_cover_pct"] = 100.0 * self.ctx.tracer.coverage(
            {f"q.{name}" for name in QUERY_NAMES}
        )
        return out
