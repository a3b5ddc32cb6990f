"""sparklog benchmark: one closed-loop client against the engine at local[2].

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest_consume --seed 1 --seconds 15 --trace 0

Workloads (see perfbench/README.md): ``ingest_consume``, ``log_queries``,
``crawl_curation``. A run generates its inputs from ``--seed``, starts
a session, times the fixture build three times, runs an untimed
warm-up, then runs identical ops for ``--seconds`` seconds, checking
every op's result.

Standard output: one ``{"record": ...}`` line with the full run record
(op-time tail, warm-up check, error rate, host-noise evidence), then as
the LAST line ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones (``setup_s``,
``op_ms_p50``, ``rows_per_s``); with ``--trace 1`` every per-layer
metric plus the tracing overhead. ``--smoke`` shrinks the inputs to
scale 0.001 and builds the fixture once, for a quick functional check.

Exit codes: 0 with a result; 1 when set-up fails; 2 when the engine
sources are not next to this directory; 143 when terminated (the
session and its JVM are still stopped).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
THREADS = 2  # engine runs at local[2]: half of a 4-core host
SETUPS = 3  # fixture builds per run; setup_s = session start + their median
# Untimed warm-up: (minimum ops, seconds). The first op of a run plans
# and compiles its code path cold and takes ~1.5x a timed op, and the
# JIT keeps shortening the next few: after a single warm-up op the five
# timed ops of log_queries fell ~25% and those of crawl_curation ~15%
# within the run, and how far each run had got down that slope
# dominated the spread of its median across runs. Warming up by a
# fixed op count (not by time) puts every run at the same point of it.
WARMUP = {"ingest_consume": (1, 4.0), "log_queries": (4, 0.0), "crawl_curation": (3, 0.0)}
# With ~3 s ops, a ten-second window holds three or four of them, and
# which of the two it was moved the median by more than host noise did;
# a floor of five fixes the ops the median is taken over.
MIN_TIMED_OPS = 5


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="scale 0.001, one fixture build, no warm-up")
    return ap.parse_args(argv)


def _import_engine() -> bool:
    """Make the engine next to this directory importable; False when it
    is not there (or a different copy would be imported)."""
    sys.path[:0] = [HERE, ROOT]
    try:
        import pulsar_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not importable: {e}", file=sys.stderr)
        return False
    here = os.path.realpath(os.path.dirname(pulsar_spark.__file__))
    if not here.startswith(os.path.realpath(ROOT) + os.sep):
        print(f"perfbench: engine found outside the checkout: {here}", file=sys.stderr)
        return False
    return True


def _start_session(work: str):
    from pulsar_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        "perfbench",
        master=f"local[{THREADS}]",
        shuffle_partitions=THREADS,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown() -> None:
    """Stop the active session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _timed_op(w, k: int, failures: list) -> tuple[float, int]:
    """Run op ``k``; return its wall time and the input rows it handled
    (0 when it failed, which also appends to ``failures``)."""
    t0 = time.perf_counter()
    try:
        rows, err = w.op(k)
    except Exception as e:  # an op that raises is a failed op
        rows, err = 0, f"{type(e).__name__}: {e}"
    ms = (time.perf_counter() - t0) * 1000.0
    if err:
        failures.append(f"op {k}: {err}"[:500])
        rows = 0
    return ms, rows


def run(args, work: str) -> tuple[dict, dict]:
    import harness
    import workloads as wl

    cls = wl.WORKLOADS[args.workload]
    scale = 0.001 if args.smoke else 0.1
    w = cls(args.seed, scale)
    w.make_inputs(os.path.join(work, "inputs"))

    builds = []
    try:
        t0 = time.perf_counter()
        spark = _start_session(work)
        session_s = time.perf_counter() - t0
        reps = 1 if args.smoke else SETUPS
        for rep in range(reps):
            fixture = os.path.join(work, f"fixture{rep}")
            t0 = time.perf_counter()
            w.bind(spark, fixture, harness.Tracer(spark))
            w.setup()
            builds.append(time.perf_counter() - t0)
            if rep < reps - 1:
                shutil.rmtree(fixture)
        if hasattr(w, "reference"):
            w.reference()

        failures: list[str] = []
        min_ops, warm_s = (0, 0.0) if args.smoke else WARMUP[args.workload]
        k, t_warm = 0, time.perf_counter()
        while k < min_ops or time.perf_counter() - t_warm < warm_s:
            k += 1
            _timed_op(w, k, failures)
        warm_ops = k

        op_ms, traced_ms, rows, layer_rows = [], [], 0, []
        t_phase = time.perf_counter()
        i = 0
        while len(op_ms) + len(traced_ms) < MIN_TIMED_OPS or time.perf_counter() - t_phase < args.seconds:
            k += 1
            i += 1
            traced = bool(args.trace) and i % 2 == 0
            w.tracer.enabled = traced
            before = w.before_traced_op() if traced else None
            ms, n_rows = _timed_op(w, k, failures)
            if traced:
                spans = w.tracer.collect()
                extra = w.after_traced_op(before)
                layer = w.layer_metrics(spans, extra)
                layer.update(wl.engine_metrics(spans, ms, THREADS))
                layer_rows.append(layer)
                traced_ms.append(ms)
            else:
                op_ms.append(ms)
                rows += n_rows
        phase_s = time.perf_counter() - t_phase
        w.tracer.enabled = False
        attempted = warm_ops + len(op_ms) + len(traced_ms)
    finally:
        _shutdown()

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": scale,
        "threads": THREADS,
        "session_s": session_s,
        "fixture_s": builds,
        "warm_ops": warm_ops,
        "timed_ops": len(op_ms),
        "op_ms": op_ms,
        "op_ms_tail": harness.tail(op_ms),
        "warmup_ratio": harness.warmup_ratio(op_ms),
        "error_rate": len(failures) / attempted,
        "failures": failures[:10],
    }
    if args.trace:
        per_layer = {name: 0.0 for name in wl.PER_LAYER}
        per_layer.update(wl.median_metrics(layer_rows))
        per_layer["trace_overhead_ms"] = harness.median(traced_ms) - harness.median(op_ms)
        record["traced_op_ms"] = traced_ms
        metrics = {n: {"value": per_layer[n], "unit": u} for n, u in wl.PER_LAYER.items()}
    else:
        metrics = {
            "setup_s": {"value": session_s + harness.median(builds), "unit": "s"},
            "op_ms_p50": {"value": harness.median(op_ms), "unit": "ms"},
            "rows_per_s": {"value": rows / phase_s, "unit": "rows/s"},
        }
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }
    return record, result


def main(argv=None) -> int:
    args = _parse(argv)
    if not _import_engine():
        return 2
    import harness
    import workloads as wl

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM the launch starts would otherwise keep a perf-data file
    # under /tmp, outside the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(THREADS)
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    # a terminated run still stops its session and JVM (``finally`` below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    host = {
        "spin_before_ms": harness.spin_ms(),
        "loadavg_before": harness.loadavg(),
    }
    steal0 = harness.steal_jiffies()
    try:
        record, result = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host.update(
        spin_after_ms=harness.spin_ms(),
        loadavg_after=harness.loadavg(),
        steal_jiffies=harness.steal_jiffies() - steal0,
    )
    record["host"] = host
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
