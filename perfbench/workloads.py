"""The four workloads: what one op is, and how its output is checked.

Every workload is a closed loop with one client thread: the next op
starts when the previous one returns.  Ops cycle through a fixed list,
so every run meets the same queries in the same order.

Correctness: batch and drain queries are compared with their
``__spark_entry__.oracle_sql()`` twin on DuckDB (:class:`Oracle`).  An
op re-runs the same query over the same inputs as the query's earlier
ops in the run, so each query's result is checked once per run (after
the timed loop) and a mismatch fails every op of that query.  The push
workload checks each burst's delivery as it happens and the final
aggregates against a DuckDB rollup of every pushed event.
"""

from __future__ import annotations

import os

import gen
from probes import plan_node_counts

TS_QUERIES = [
    "rollup_daily", "rate_per_user", "fill_linear_per_user",
    "fill_pad_per_user", "take2_per_day_type", "dedup_last_per_hour",
    "session_1h_by_user", "rolling_10m_stats", "ewma_per_user",
    "sliding_2h_count", "wire_roundtrip",
]
# rollup_1h_by_type, merge_series and align_10m_linear are left out: each
# differs from its oracle on some seeds (README.md, "Known failures")
TEXT_QUERIES = [
    "dedup_documents", "neardup_pairs_lsh", "simhash_docs",
    "minhash_jaccard_est", "text_quality", "dedup_exact_docs",
]
STREAM_QUERIES = [
    "stream_rollup_1h", "stream_rate", "stream_fill_pad", "stream_align_1h",
    "stream_sessions", "stream_attribution_join", "stream_minhash_dedup",
]
# queries reading the documents table; the rest read events
DOC_QUERIES = set(TEXT_QUERIES) | {"stream_minhash_dedup"}
N_EVENTS = 100_000  # the testdata's sf0.1 sizes
N_DOCS = 5_000
N_BURSTS = 2_000  # more than any run pushes
WARM_BURSTS = 10  # push bursts processed in setup (PushWorkload)
PUSH_WINDOW = "1m"


class QueryWorkload:
    """Each op runs one registry query: build the DataFrame (drain
    queries drain their stream here), then materialize it with the noop
    writer.  Setup runs each query once and keeps its result for the
    check, so the cold first run of every query (class loading, code
    generation, first Python worker) is paid in ``setup_s`` and every
    timed op is a warm one.  ``python_workers``: the queries run Python
    worker stages, so setup warms the first one beforehand."""

    def __init__(self, names: list[str], python_workers: bool):
        self.names = names
        self.python_workers = python_workers

    def setup(self, spark, data_dir: str, inputs: dict, tracer) -> None:
        import __spark_entry__ as entry
        self._spark = spark
        self._dir = data_dir
        self._rows = inputs
        self._tracer = tracer
        self._registry = entry._query_registry()
        self._results = {}
        for name in self.names:
            try:
                self._results[name] = self._registry[name](
                    spark, data_dir).toArrow()
            except Exception as exc:  # noqa: BLE001 - fails the query's ops
                self._results[name] = exc

    def run_op(self, name: str) -> None:
        tracer = self._tracer
        with tracer.span("build"):
            df = self._registry[name](self._spark, self._dir)
        if tracer.enabled:
            with tracer.span("plan"):
                plan = df._jdf.queryExecution().executedPlan()
            for key, value in plan_node_counts(plan.toString()).items():
                tracer.count(key, value)
        with tracer.span("exec"):
            df.write.format("noop").mode("overwrite").save()

    def input_rows(self, name: str) -> int:
        return self._rows["documents" if name in DOC_QUERIES else "events"]

    def check(self, ops: list[dict], oracle) -> None:
        """Mark as failed every op of a query whose setup result raised
        or differs from its DuckDB twin."""
        import __spark_entry__ as entry
        sqls = entry.oracle_sql()
        for name, result in self._results.items():
            try:
                if isinstance(result, Exception):
                    raise result
                ok = oracle.same(result, sqls[name])
                reason = "result differs from the DuckDB oracle"
            except Exception as exc:  # noqa: BLE001 - reported per op
                ok, reason = False, f"{type(exc).__name__}: {exc}"[:300]
            if not ok:
                for op in ops:
                    if op["name"] == name and op["error"] is None:
                        op["error"] = reason


class PushWorkload:
    """One long-lived PushStream feeding a 1-minute per-user windowed
    aggregate with ``eachEvent`` emits; each op pushes a burst of ten
    events, calls ``process()`` and requires that burst's rows in
    ``on_emit``.  Setup brings the stream up and runs its first
    ``WARM_BURSTS`` triggers: a trigger takes about twice as long at first
    as after some twenty, while the JVM compiles the trigger path, so
    without them the median would depend on how many bursts a run
    reaches."""

    names = ["push_burst"]
    # the chain runs in the JVM and delivers on the driver: no Python
    # worker ever starts, so setup has no first Python stage to warm
    python_workers = False

    def setup(self, spark, data_dir: str, inputs: dict, tracer) -> None:
        from pypond_spark.streaming import PushStream
        self._tracer = tracer
        self._bursts = inputs["bursts"]
        self._emitted: list[tuple] = []
        self._stream = (PushStream(spark, "time timestamp, user_id long, "
                                   "value double")
                        .pipe(_per_user_minute)
                        .on_emit(self._on_emit)
                        .start())
        for burst in self._bursts[:WARM_BURSTS]:
            for event in burst:
                self._stream.add_event(event)
            self._stream.process()
        self._next = WARM_BURSTS

    def _on_emit(self, row) -> None:
        self._emitted.append((row.begin_ms, row.user_id, row.v_sum, row.n))

    def run_op(self, name: str) -> None:
        burst = self._bursts[self._next]
        self._next += 1
        with self._tracer.span("push.add_event"):
            for event in burst:
                self._stream.add_event(event)
        seen = len(self._emitted)
        with self._tracer.span("push.process"):
            self._stream.process()
        delivered = {(r[0], r[1]) for r in self._emitted[seen:]}
        if self._tracer.enabled:
            self._tracer.count("push.delivered_rows",
                               len(self._emitted) - seen)
            self._tracer.count("push.spool_files",
                               len(os.listdir(self._stream._spool)))
        missing = {_key(e) for e in burst} - delivered
        if missing:
            raise AssertionError(
                f"burst rows not delivered: {sorted(missing)}")

    def input_rows(self, name: str) -> int:
        return gen.PUSH_BURST

    def check(self, ops: list[dict], oracle) -> None:
        """Final delivered aggregate per (window, user) against a DuckDB
        rollup of every pushed event; a mismatch fails every op."""
        import pyarrow as pa
        final = {}
        for begin_ms, user, v_sum, n in self._emitted:
            final[(begin_ms, user)] = (v_sum, n)
        got = pa.table({
            "begin_ms": [k[0] for k in final], "user_id": [k[1] for k in final],
            "v_sum": [v[0] for v in final.values()],
            "n": [v[1] for v in final.values()]})
        pushed = pa.Table.from_pylist(
            [e for burst in self._bursts[:self._next] for e in burst])
        if not oracle.same(got, "SELECT (time // 60000) * 60000 AS begin_ms, "
                           "user_id, round(sum(value), 6) AS v_sum, "
                           "count(*) AS n FROM pushed GROUP BY ALL",
                           pushed=pushed):
            for op in ops:
                if op["error"] is None:
                    op["error"] = "aggregate differs from DuckDB rollup"

    def close(self) -> None:
        self._stream.close()


def _key(event: dict) -> tuple[int, int]:
    return (event["time"] // 60000 * 60000, event["user_id"])


def _per_user_minute(sdf):
    from pyspark.sql import functions as F

    from pypond_spark.streaming import windowed_stream_aggregate
    out, mode = windowed_stream_aggregate(
        sdf, {"v_sum": {"value": "sum"}, "n": {"value": "count"}},
        PUSH_WINDOW, group_by="user_id", emit_on="eachEvent")
    return out.select(F.unix_millis("begin").alias("begin_ms"), "user_id",
                      F.round("v_sum", 6).alias("v_sum"), "n"), mode


WORKLOADS = {
    "ts_batch": lambda: QueryWorkload(TS_QUERIES, python_workers=False),
    "text_batch": lambda: QueryWorkload(TEXT_QUERIES, python_workers=True),
    "stream_drain": lambda: QueryWorkload(STREAM_QUERIES, python_workers=True),
    "push_trickle": PushWorkload,
}


class Oracle:
    """DuckDB over the generated tables.

    :meth:`same` applies the rules of ``tools/check_oracle.py`` (same
    column names, integers of any width alike, integers and floats told
    apart, floats rounded to 9 decimals, order-insensitive multiset of
    rows), but compares inside DuckDB over Arrow: ``check_oracle.rowset``
    builds and sorts a Python tuple per row, about 7 s and 1 GB per
    million rows."""

    def __init__(self, data_dir: str):
        import duckdb
        self._con = duckdb.connect()
        for table in ("events", "documents"):
            self._con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                              f"'{os.path.join(data_dir, table)}.parquet'")

    def same(self, got, sql: str, **tables) -> bool:
        """Whether the Arrow table ``got`` equals the result of ``sql``
        (which may read the Arrow ``tables`` by name)."""
        con = self._con
        for name, table in tables.items():
            con.register(name, table)
        expected = con.execute(sql).arrow()
        cols = sorted(got.column_names)
        if cols != sorted(expected.column_names):
            return False
        kinds = [_kind(got.schema.field(c).type) for c in cols]
        if kinds != [_kind(expected.schema.field(c).type) for c in cols]:
            return False
        if got.num_rows != expected.num_rows:
            return False
        con.register("got", got)
        con.register("expected", expected)
        select = ", ".join(f'round("{c}"::DOUBLE, 9)' if k == "f"
                           else f'"{c}"' for c, k in zip(cols, kinds))
        extra = con.execute(
            f"SELECT count(*) FROM (SELECT {select} FROM got EXCEPT ALL "
            f"SELECT {select} FROM expected)").fetchone()[0]
        return extra == 0


def _kind(dtype) -> str:
    """Column kind as ``check_oracle.norm`` tags it: a DuckDB HUGEINT
    (an Arrow decimal) reaches it as a pandas float."""
    import pyarrow as pa
    if pa.types.is_integer(dtype):
        return "i"
    if pa.types.is_floating(dtype) or pa.types.is_decimal(dtype):
        return "f"
    return "b" if pa.types.is_boolean(dtype) else "v"
