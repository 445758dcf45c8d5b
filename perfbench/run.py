"""Layered benchmark of pypond_spark: one workload, one seed, one run.

Usage::

    python3 perfbench/run.py --workload ts_batch --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout.  It generates its inputs from
``--seed`` under ``perfbench/.work/``, starts one Spark session at
``local[<cpus>]``, cycles through the workload's ops with one client
thread until ``--seconds`` have passed, checks every query's output
against its DuckDB oracle, and prints the metrics by name with their
units.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; its metrics are the
end-to-end ones with ``--trace 0`` and the per-layer ones with
``--trace 1``.  See ``perfbench/README.md``.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
from contextlib import contextmanager  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import gen  # noqa: E402
from probes import SELF_TIME_SPANS, RssSampler, Tracer  # noqa: E402
from workloads import (N_BURSTS, N_DOCS, N_EVENTS, WORKLOADS,  # noqa: E402
                       Oracle)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "throughput_rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}
# The end-to-end metrics of the result line (``--trace 0``), each bounded
# in BENCHMARK.json.  Peak RSS is printed but not among them: it follows
# the JVM collector's heap sizing and spreads 20-40% across runs.
GATED = ("setup_s", "latency_p50_s", "latency_tail_s",
         "throughput_rows_per_s")
PER_LAYER = {
    "session.start_s": "s",
    "session.workload_setup_s": "s",
    "session.first_python_stage_s": "s",
    "build.s": "s",
    "build.py4j_calls": "count",
    "build.jobs": "count",
    "plan.s": "s",
    "plan.exchanges": "count",
    "plan.window_nodes": "count",
    "plan.python_nodes": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_cpu_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.python_bytes": "bytes",
    "exec.gc_ms": "ms",
    "stream.batches": "count",
    "stream.no_data_batches": "count",
    "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.state_commit_ms": "ms",
    "stream.state_update_ms": "ms",
    "stream.state_partitions": "count",
    "stream.state_rows_total": "count",
    "stream.state_memory_bytes": "bytes",
    "push.add_event_s": "s",
    "push.process_s": "s",
    "push.spool_files": "count",
    "push.delivered_rows": "count",
    **{f"self.{name.replace('.', '_')}_s": "s" for name in SELF_TIME_SPANS},
    **{f"traced.{name}": unit for name, unit in END_TO_END.items()},
}


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def configure_environment(work: str) -> None:
    """Keep every file Spark, its JVM and its Python workers write inside
    the run's work directory, and run one executor thread per CPU this
    process may use.  The driver heap keeps the program's default size."""
    tmp = os.path.join(work, "tmp")
    for sub in ("tmp", "jvm-tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--driver-java-options", shlex.quote(
                f"-Djava.io.tmpdir={os.path.join(work, 'jvm-tmp')}"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote("spark.sql.warehouse.dir="
                                  + os.path.join(work, "warehouse")),
            "pyspark-shell"]),
    })
    os.chdir(work)


def warm_python_stage(spark) -> None:
    """One trivial Arrow Python stage, one task per core, so the first
    Python stage's fixed cost (worker daemon start, Arrow runner set-up)
    is paid in setup rather than by the first op that uses Python."""
    cores = spark.sparkContext.defaultParallelism
    (spark.range(0, cores, 1, cores).mapInPandas(_identity, "id long")
     .write.format("noop").mode("overwrite").save())


def _identity(batches):
    yield from batches


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def latency_tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond): the highest percentile with at
    least ten samples beyond it.  Below 21 ops that percentile is at or
    under the median; with ten ops or fewer none has ten beyond, and the
    fastest op, which has the most, is reported."""
    lat = sorted(latencies)
    idx = max(len(lat) - 11, 0)
    return lat[idx], 100.0 * (idx + 1) / len(lat), len(lat) - idx - 1


def end_to_end(ops: list[dict], setup_s: float, peak_bytes: int) -> dict:
    lat = [op["latency_s"] for op in ops]
    ok_rows = sum(op["rows"] for op in ops if op["error"] is None)
    return {
        "setup_s": setup_s,
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": latency_tail(lat)[0],
        "throughput_rows_per_s": ok_rows / sum(lat),
        "peak_rss_mb": peak_bytes / 2**20,
    }


def per_layer(tracer: Tracer, phases: dict[str, float], e2e: dict) -> dict:
    """Per-layer counts, each the mean over the run's ops."""
    n = len(tracer.op_counts)
    out = {}
    for name in PER_LAYER:
        out[name] = sum(c.get(name, 0) for c in tracer.op_counts) / n
    out["session.start_s"] = phases["session"]
    out["session.workload_setup_s"] = phases["setup"]
    out["session.first_python_stage_s"] = phases.get("python_stage", 0.0)
    out.update({f"traced.{k}": v for k, v in e2e.items()})
    return out


def report(args, ops: list[dict], metrics: dict, units: dict) -> None:
    failed = sum(op["error"] is not None for op in ops)
    lat = [op["latency_s"] for op in ops]
    _, pct, beyond = latency_tail(lat)
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}"
          f"  ops {len(ops)}")
    for name, value in metrics.items():
        note = ""
        if name.endswith("latency_tail_s"):
            note = f"  (p{pct:.1f}, {beyond} samples beyond, {len(lat)} ops)"
        elif name == "peak_rss_mb":
            note = "  (printed only, not in the result line)"
        print(f"  {name:32s} {value:14.6g} {units[name]}{note}")
    print(f"  {'failed_frac':32s} {failed / len(ops):14.6g} 1"
          f"  ({failed} of {len(ops)} ops)")
    by_name: dict[str, list[float]] = {}
    for op in ops:
        by_name.setdefault(op["name"], []).append(op["latency_s"])
        if op["error"] is not None:
            print(f"  FAILED {op['name']}: {op['error']}")
    print("  op latency, median s (ops): " + ", ".join(
        f"{name} {statistics.median(v):.3f} ({len(v)})"
        for name, v in by_name.items()))


def main() -> int:
    args = parse_args()
    workload = WORKLOADS[args.workload]()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    data_dir = os.path.join(work, "data")
    configure_environment(work)
    phases: dict[str, float] = {}

    @contextmanager
    def phase(name: str):
        t = time.perf_counter()
        yield
        phases[name] = time.perf_counter() - t

    try:
        with phase("generate"):
            inputs = gen.write_inputs(args.seed, data_dir, N_EVENTS, N_DOCS,
                                      N_BURSTS)
        with phase("import"):
            sys.path.insert(0, ROOT)
            import __spark_entry__ as entry
            from pypond_spark.session import get_spark
        tracer = Tracer(bool(args.trace))
        with phase("session"):
            spark = get_spark("perfbench")
        try:
            spark.sparkContext.setLogLevel("ERROR")
            with phase("ship"):
                entry._ensure_confs(spark)
            if workload.python_workers:
                with phase("python_stage"):
                    warm_python_stage(spark)
            with phase("setup"):
                workload.setup(spark, data_dir, inputs, tracer)
            if tracer.enabled:
                tracer.attach(spark)
                tracer.instrument(entry)
            ops, setup_s, peak_bytes = run_ops(workload, tracer, args.seconds)
            with phase("check"):
                workload.check(ops, Oracle(data_dir))
                if hasattr(workload, "close"):
                    workload.close()
        finally:
            with phase("stop"):
                stop_session(spark)
        e2e = end_to_end(ops, setup_s - phases["generate"], peak_bytes)
        if tracer.enabled:
            metrics = per_layer(tracer, phases, e2e)
            units = PER_LAYER
            tracer.dump(os.path.join(
                HERE, "out", f"trace-{args.workload}-seed{args.seed}-"
                f"{os.getpid()}.json"),
                {"workload": args.workload, "seed": args.seed,
                 "phases": phases, "ops": ops})
        else:
            metrics, units = e2e, END_TO_END
        result = {k: v for k, v in metrics.items()
                  if tracer.enabled or k in GATED}
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    report(args, ops, metrics, units)
    print("  phases, s: "
          + ", ".join(f"{k} {v:.2f}" for k, v in phases.items()))
    failed = sum(op["error"] is not None for op in ops)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in result.items()},
    }))
    return 0


def run_ops(workload, tracer: Tracer, seconds: float):
    """The timed loop: whole passes over the workload's ops in list
    order until ``seconds`` have passed since the first op started, so
    every run measures the same mix of ops.  Returns the ops, the time
    from process start to the first op, and the peak RSS."""
    ops: list[dict] = []
    n = len(workload.names)
    with RssSampler() as rss:
        start = time.perf_counter()
        while time.perf_counter() - start < seconds or len(ops) % n:
            name = workload.names[len(ops) % n]
            ops.append(run_one(workload, tracer, name))
    return ops, start - T_START, rss.peak_bytes


def run_one(workload, tracer: Tracer, name: str) -> dict:
    tracer.begin_op()
    error = None
    t = time.perf_counter()
    try:
        with tracer.span("op"):
            workload.run_op(name)
    except Exception as exc:  # noqa: BLE001 - a failed op is counted
        error = f"{type(exc).__name__}: {(str(exc).splitlines() or [''])[0]}"
    latency = time.perf_counter() - t
    tracer.end_op()
    return {"name": name, "latency_s": latency, "error": error,
            "rows": workload.input_rows(name)}


if __name__ == "__main__":
    sys.exit(main())
