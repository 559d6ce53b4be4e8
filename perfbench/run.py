"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository.  Prints one line of run
details (host, versions, sample counts, any errors), then, as the last
line, the result object ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
Everything the run writes stays under ``.perfbench_work/`` (removed at the
end) and ``.perfbench_out/`` (the span file of a traced run).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("etl_dashboard", "serving_mixed")

# Times are CPU time (see README.md): wall time moves by up to 2x between
# runs minutes apart on a shared host, CPU time far less.
END_TO_END = {
    "setup_s": "s",
    "write_cpu_s": "s",
    "read_cpu_s": "s",
    "read_cpu_p50_ms": "ms",
    "written_bytes_per_input_byte": "B/B",
}

LAYERS = (
    "session",
    "sources",
    "transactions",
    "graph",
    "queries",
    "operators",
    "serving_path",
    "streaming",
    "ivm",
    "navigator",
    "result_cache",
)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit; both workloads print all of
    them, and a layer the workload leaves idle reports 0."""
    from workloads import DAG_NODES, HEADLINE

    return {
        "session.get_spark_s": "s",
        "sources.read_s": "s",
        "sources.calls": "count",
        "transactions.build_s": "s",
        "graph.run_s": "s",
        **{f"graph.node_s.{n}": "s" for n in DAG_NODES},
        "graph.publish_s": "s",
        "graph.publishes": "count",
        "graph.jobs": "count",
        "graph.stages": "count",
        "graph.tasks": "count",
        "graph.bytes_written": "B",
        "graph.files_written": "count",
        "graph.merge_into_s": "s",
        "queries.plan_s": "s",
        "queries.exec_s": "s",
        **{f"queries.{n}_s": "s" for n in HEADLINE},
        "queries.jobs": "count",
        "queries.stages": "count",
        "queries.tasks": "count",
        "operators.plan_s": "s",
        "operators.calls": "count",
        "serving_path.ingest_s": "s",
        "serving_path.request_s": "s",
        "serving_path.store_bytes_per_input_byte": "B/B",
        "streaming.merge_upsert_s": "s",
        "streaming.jobs": "count",
        "streaming.rows_inserted": "count",
        "streaming.rows_updated": "count",
        "streaming.touched_bucket_ratio": "ratio",
        "streaming.buckets": "count",
        **{f"ivm.sync_s.{v}": "s" for v in ("mv_user_day", "mv_type_day", "mv_day")},
        "navigator.answer_s": "s",
        "navigator.calls": "count",
        "result_cache.reads": "count",
        "result_cache.hit_ratio": "ratio",
        "result_cache.hit_ms": "ms",
        "result_cache.miss_ms": "ms",
        "result_cache.jobs_per_hit": "count",
        "result_cache.jobs_per_miss": "count",
        **{f"{layer}.failed": "count" for layer in LAYERS},
        "trace.overhead_pct": "%",
        "trace.spans": "count",
    }


def _host() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kib = int(fh.readline().split()[1])
    # the driver JVM is the whole local-mode cluster: a quarter of the host
    # memory, at most 4 GiB, leaves room for the Python side and the OS
    heap_gib = max(1, min(4, mem_kib // (4 * 1024 * 1024)))
    return {"cpus": cpus, "mem_gib": round(mem_kib / 2**20, 1), "heap": f"{heap_gib}g"}


def _configure_env(work: str, host: dict) -> None:
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(host["cpus"])
    os.environ["SPARK_DRIVER_MEMORY"] = host["heap"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVM's temp files go under the work directory; -UsePerfData stops it
    # keeping a statistics file in the system /tmp; JIT compiler threads
    # that never exit keep their CPU time visible to CpuClock, which leaves
    # it out
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("ZETA_ETL_AS_OF", None)  # the data clock, not a fixed one


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(res, slowdown: float) -> dict[str, float]:
    """CPU times are scaled to the idle host's speed (see spans.HostSpeed)."""
    from spans import median

    cycles = res.cycles
    return {
        "setup_s": res.setup_cpu / slowdown,
        "write_cpu_s": median([c.write[1] for c in cycles]) / slowdown,
        "read_cpu_s": median([c.read[1] for c in cycles]) / slowdown,
        "read_cpu_p50_ms": median([cpu for c in cycles for _, cpu in c.ops])
        * 1000
        / slowdown,
        "written_bytes_per_input_byte": res.written_bytes
        / sum(c.in_bytes for c in cycles),
    }


def wall_clock(res) -> dict[str, float]:
    """Wall-clock figures of the untraced cycles, printed on the details
    line (not gated: see END_TO_END)."""
    from spans import median, percentile

    cycles = res.cycles
    ops = [w for c in cycles for w, _ in c.ops]
    write = median([c.write[0] for c in cycles])
    out = {
        "write_s": write,
        "read_s": median([c.read[0] for c in cycles]),
        "read_p50_ms": percentile(ops, 0.5) * 1000,
        "rows_per_s": cycles[0].rows / write,
        "samples": {"cycles": len(cycles), "reads": len(ops)},
    }
    if len(ops) >= 20:  # the highest percentile with ten samples beyond it
        q = 1 - 10 / len(ops)
        out[f"read_p{q * 100:.0f}_ms"] = percentile(ops, q) * 1000
    return out


def _metric_key(span: str) -> str:
    """Span ``layer.op`` reports as ``layer.op_s``; ``layer.op.part`` (one
    span name per DAG node or view) as ``layer.op_s.part``."""
    layer, op, *part = span.split(".", 2)
    return f"{layer}.{op}_s" + (f".{part[0]}" if part else "")


def per_layer(res, tracer, session_s: float) -> dict[str, float]:
    """Per-layer metrics of the traced cycle: ``_s`` metrics are self time,
    except the entry points ``graph.run_s`` and ``queries.<name>_s``, which
    are whole calls."""
    from spans import median

    from workloads import HEADLINE

    out = {k: 0.0 for k in per_layer_units()}
    for span, secs in tracer.self_times().items():
        key = _metric_key(span)
        if key in out:
            out[key] += secs
    for span in ("graph.run", *(f"queries.{q}" for q in HEADLINE)):
        out[_metric_key(span)] = sum(tracer.durations(span))
    calls: dict[str, int] = {}
    for s in tracer.spans:
        calls[s["name"]] = calls.get(s["name"], 0) + 1
    for key, span in (
        ("sources.calls", "sources.read"),
        ("graph.publishes", "graph.publish"),
        ("operators.calls", "operators.plan"),
        ("navigator.calls", "navigator.answer"),
    ):
        out[key] = calls.get(span, 0)
    out["session.get_spark_s"] = session_s
    for k, v in res.layer.items():
        if k in out:
            out[k] = v
    for k, v in tracer.counts.items():
        if k in out:
            out[k] += v
    out["trace.spans"] = len(tracer.spans)
    # CPU of the traced cycle's write and reads over the untraced cycles'
    t = res.traced
    base = median([c.write[1] + c.read[1] for c in res.cycles])
    out["trace.overhead_pct"] = ((t.write[1] + t.read[1]) / base - 1) * 100
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    ap.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "zeta_etl_spark", "__init__.py")):
        print(
            f"perfbench: no zeta_etl_spark package under {ROOT}; run from a "
            "checkout of the repository",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    host = _host()
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    _configure_env(work, host)
    os.chdir(work)  # anything Spark drops in the working directory stays here
    try:
        return _run(args, host, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def _run(args, host: dict, work: str) -> int:
    import pyspark
    from pyspark import SparkContext

    import workloads
    from spans import CpuClock, HostSpeed, SparkCounters, Tracer

    tracer = Tracer(enabled=False)
    speed = HostSpeed()
    speed.sample()
    t0 = time.perf_counter()
    from zeta_etl_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ctx = workloads.Ctx(
            spark=spark,
            tracer=tracer,
            counters=SparkCounters(spark),
            cpu=CpuClock(SparkContext._gateway.proc.pid),
            speed=speed,
            seed=args.seed,
            seconds=args.seconds,
            work=work,
            trace=bool(args.trace),
            scale=args.scale,
            corrupt=args.corrupt,
        )
        res = getattr(workloads, args.workload)(ctx)
        res.info["jit_cpu_s"] = ctx.cpu.jit()
    finally:
        t0 = time.perf_counter()
        _stop(spark)
        stop_s = time.perf_counter() - t0

    details = {
        "workload": args.workload,
        "seed": args.seed,
        "host": host,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "setup": {"session_s": session_s, **res.setup, "cpu_s": res.setup_cpu},
        "sizes": res.info,
        "host_slowdown": speed.slowdown(),
        "wall": {**wall_clock(res), "stop_s": stop_s, "run_s": time.perf_counter() - T_START},
        "errors": res.errors[:10],
    }
    if args.trace:
        metrics = per_layer(res, tracer, session_s)
        units = per_layer_units()
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        metrics = end_to_end(res, speed.slowdown())
        details["cpu_unscaled"] = end_to_end(res, 1.0)
        units = END_TO_END
    print(json.dumps({"details": details}, default=str))
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {
                    k: {"value": metrics[k], "unit": units[k]} for k in units
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
