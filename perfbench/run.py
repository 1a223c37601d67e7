#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload ap_dense --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  The workload's inputs are generated
from ``--seed`` into ``.perfbench/`` under the checkout (Spark's local
dirs, temp files and logs go there too) and removed at exit.  The
program is driven only through its public functions, in one process on
``local[<cpus>]``.

Standard output: one JSON line with the run's full record (environment,
gate sides, per-operation detail, coverage), then, as the last line, the
result: ``{"correct", "attempted", "failed", "metrics"}`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (names and units from BENCHMARK.json).

This is not ``bench.py``: that script stays the separate one-line
headline suite and is neither read nor changed here.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = os.path.join(ROOT, "affinity_propagation_mapreduce_spark")
SPEC = os.path.join(ROOT, "BENCHMARK.json")


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> dict:
    """Process environment for the program, set before pyspark loads."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        ram_kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    # session.py defaults the driver heap to 24g; a quarter of RAM, at
    # most 4g, leaves room for the Python workers and the neighbours
    heap_gb = max(1, min(4, ram_kb // (4 << 20)))
    conf = os.path.join(work, "conf")
    tmp = os.path.join(work, "tmp")
    for d in (conf, tmp, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        fh.write("spark.ui.showConsoleProgress false\n")
    with open(os.path.join(conf, "log4j2.properties"), "w") as fh:
        fh.write(
            "rootLogger.level = error\n"
            "rootLogger.appenderRef.stderr.ref = console\n"
            "appender.console.type = Console\n"
            "appender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
        )
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_CONF_DIR": conf,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    })
    return {"cpus": cpus, "ram_gb": round(ram_kb / (1 << 20), 1),
            "driver_heap": f"{heap_gb}g"}


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it; the maximum when there are ten or fewer."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    pct = 100.0 * (n - 10) / n
    return xs[n - 11], round(pct, 1)


def stop_spark(spark) -> None:
    """Stop the context, shut the JVM down and wait until it and every
    process it started have ended."""
    from pyspark import SparkContext

    import spans

    kids = set(spans.descendants(os.getpid()))
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 20
    while time.time() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def run_loop(wl, spark, tracer, seconds: float, min_ops: int, first: int, ops: list,
             alternate: bool = False) -> None:
    """Closed loop: ops until ``seconds`` passed and ``min_ops`` ran.
    ``alternate`` traces every other op, so traced and untraced ops see
    the same warm-up drift."""
    t0 = time.perf_counter()
    traced = tracer.enabled
    i = first
    while i - first < min_ops or time.perf_counter() - t0 < seconds:
        if alternate:
            tracer.enabled = (i - first) % 2 == 1
        ops.append(safe_op(wl, spark, tracer, i))
        i += 1
    tracer.enabled = traced


def safe_op(wl, spark, tracer, i):
    """One op; an exception counts the op as failed and the loop goes on."""
    from workloads import Op

    try:
        return wl.op(spark, tracer, i)
    except Exception:
        traceback.print_exc()
        return Op("error", 0.0, False, tracer.enabled)


def main(argv=None) -> int:
    args = parse(argv if argv is not None else sys.argv[1:])
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(PKG, "__init__.py")) or not os.path.isfile(SPEC):
        print(f"perfbench: program sources not found under {ROOT}", file=sys.stderr)
        return 2
    with open(SPEC) as fh:
        spec = json.load(fh)
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        result = _run(args, spec, work, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 3
    record, last = result
    print(json.dumps({"record": record}, default=str))
    print(json.dumps(last))
    return 0


def _run(args, spec, work, workloads):
    env = configure_env(work)
    os.chdir(work)  # Spark's warehouse and metastore land in the work dir
    import spans

    wl = workloads.WORKLOADS[args.workload](args.seed, os.path.join(work, args.workload))
    record = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, **env, "sizes": wl.sizes()}
    try:
        record["gates"] = wl.gates()
    except workloads.GateError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return None
    record["load_before"] = spans.load_average()
    t = time.perf_counter()
    wl.generate()
    record["generate_s"] = time.perf_counter() - t

    from affinity_propagation_mapreduce_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(f"perfbench-{wl.name}")
    session_s = time.perf_counter() - t
    try:
        record["pyspark"] = spark.version
        record["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        tracer = spans.Tracer(spark, bool(args.trace), f"pb{os.getpid()}")
        t = time.perf_counter()
        wl.prepare(spark, tracer)
        prepare_s = time.perf_counter() - t
        record.update(wl.describe())
        ops: list = []
        with spans.Poller(spark=spark if args.trace else None) as poll:
            poll.armed = True
            ops.append(safe_op(wl, spark, tracer, 0))  # the cold op
            tracer.warm_from = len(tracer.spans)
            if args.trace:
                # untraced and traced ops alternate: the difference of
                # their medians is the tracing overhead; one op more than
                # untraced, so each kind of op is traced at least once
                run_loop(wl, spark, tracer, args.seconds, wl.min_ops + 1, 1, ops,
                         alternate=True)
            else:
                run_loop(wl, spark, tracer, args.seconds, wl.min_ops, 1, ops)
            poll.armed = False
        attempted, failed = wl.finish(spark, tracer)
        attempted += len(ops)
        failed += sum(1 for o in ops if not o.ok)
        record["ops"] = [{"kind": o.kind, "wall": round(o.wall, 4), "ok": o.ok,
                          "traced": o.traced} for o in ops]
        if args.trace:
            values = {"session.start_s": session_s,
                      "session.cold_op_s": ops[0].wall,
                      "process.peak_rss_mb": poll.peak_rss / 1e6,
                      "spark.peak_state_mb": poll.peak_state / 1e6}
            values.update(wl.layers(tracer))
            values.update(trace_report(wl, tracer, ops, record))
            # layers the workload's own op does not reach, probed once
            for probe in wl.probes:
                p_att, p_fail, p_values = run_probe(probe, args.seed, work, spark, tracer)
                attempted, failed = attempted + p_att, failed + p_fail
                values.update(p_values)
            record["layers"] = values
            tracer.dump(os.path.join(work, "..", f"trace-{wl.name}-{args.seed}.jsonl"))
            names = spec["per_layer"]
        else:
            values = end_to_end(wl, ops, session_s + prepare_s, poll, record)
            names = spec["end_to_end"]
        record["load_after"] = spans.load_average()
    finally:
        stop_spark(spark)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}
    return record, {"correct": failed == 0, "attempted": attempted,
                    "failed": failed, "metrics": metrics}


def run_probe(cls, seed, work, spark, tracer):
    """Run another workload's ops (``cls.min_ops``, the first one cold)
    in this session, traced, for the per-layer metrics of the layers it
    reaches."""
    wl = cls(seed, os.path.join(work, cls.name))
    wl.gates()
    wl.generate()
    tracer.enabled = True
    wl.prepare(spark, tracer)
    ops: list = []
    run_loop(wl, spark, tracer, 0, cls.min_ops, 0, ops)
    attempted, failed = wl.finish(spark, tracer)
    return attempted + len(ops), failed + sum(1 for o in ops if not o.ok), wl.layers(tracer)


def end_to_end(wl, ops, setup_s, poll, record) -> dict:
    warm = [o.wall for o in ops[1:] if o.kind == wl.primary]
    # single-sample or host-sensitive figures go to the record only: the
    # cold op, the tail (with ten or fewer warm samples no percentile has
    # ten beyond it, so it is the maximum) and the process tree's peak RSS
    record["cold_op_s"] = ops[0].wall
    record["op_tail_s"], record["op_tail_percentile"] = tail(warm)
    record["op_samples"] = len(warm)
    record["peak_rss_mb"] = poll.peak_rss / 1e6
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(warm),
        "quality": wl.quality(),
    }


def trace_report(wl, tracer, ops, record) -> dict:
    """Tracing overhead and span coverage of the workload's traced ops.

    The overhead is the median traced warm op minus the median untraced
    one.  Coverage is the share of the traced ops' timed wall inside
    layer spans.  A layer is named as unexplained when its driver gap plus its
    job time (task time spread over the cores, at most its job-busy
    time) leaves more than a quarter of its wall unaccounted."""
    u = [o.wall for o in ops[1:] if o.kind == wl.primary and not o.traced]
    t = [o.wall for o in ops[1:] if o.kind == wl.primary and o.traced]
    overhead = statistics.median(t) - statistics.median(u) if u and t else 0.0
    op_wall = sum(o.wall for o in ops if o.traced)
    covered = sum(s.wall for s in tracer.spans if s.name in wl.coverage_spans)
    coverage = min(1.0, covered / op_wall) if op_wall else 0.0
    unexplained = {}
    for name in sorted({s.name for s in tracer.spans}):
        tots = [tracer.totals(s) for s in tracer.by_name(name)]
        wall = sum(x["wall_s"] for x in tots)
        expl = sum(x["driver_gap_s"] + x["exec_run_s"] for x in tots)
        if wall > 0 and (wall - expl) / wall > 0.1:
            unexplained[name] = round((wall - expl) / wall, 3)
    record["trace_overhead_s"] = overhead
    record["coverage"] = coverage
    record["unexplained_layers"] = unexplained
    return {"trace.overhead_s": overhead, "trace.coverage": coverage}


if __name__ == "__main__":
    sys.exit(main())
