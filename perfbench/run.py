"""The repository benchmark: one closed-loop client per workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload store --seed 1 --seconds 5 --trace 0

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` is a separate run of the same workload that wraps each
layer's public functions with spans, turns on the Spark event log and
reports the per-layer metrics instead, plus its overhead against an
untraced run of the same workload, seed and size when one was made
before in this checkout. The last stdout line is the result JSON; the
line before it (prefixed ``perfbench:``) describes the run.

Spark runs as ``local[nproc]``. Everything the run writes goes under
``.perfbench_work/`` (removed at exit) and ``.perfbench_out/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

WORKLOAD_NAMES = ("store", "stream_pubsub", "analytics")
# per-layer units of counts, which repeat exactly for a seed; the rest are timings
COUNT_UNITS = {"count", "B", "ratio"}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--size", default="full", choices=("full", "tiny"),
                    help="input size; 'tiny' is the self-tests' smoke size")
    args = ap.parse_args(argv)
    if not 1 <= args.seconds <= 60:
        ap.error("--seconds must be in 1..60")
    return args


def spec_metrics(trace: bool) -> dict[str, dict]:
    """The metrics BENCHMARK.json declares for this kind of run, by name."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m for m in spec["per_layer" if trace else "end_to_end"]}


def configure_env(work: Path, trace: bool, cpus: int) -> None:
    """Static Spark confs must be in place before the JVM starts, and
    ``get_spark`` takes its own, so they come from the environment."""
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": str(work / "tmp"),
    }
    if trace:
        from perfbench.trace import EVENT_LOG_CONFS

        (work / "eventlog").mkdir()
        confs.update(EVENT_LOG_CONFS)
        confs["spark.eventLog.dir"] = (work / "eventlog").as_uri()
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # Every JVM started here (the launcher and the driver) keeps its
    # temporary files in the checkout and writes no perf-data file. It
    # compiles with C1 only: a run's JVM lives under a minute, in which
    # C2's background compiling never pays back and is the largest
    # source of run-to-run spread in CPU per op (+-15% with it, ~1%
    # without, over three runs each on a 4-vCPU VM).
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
                                       " -XX:TieredStopAtLevel=1")
    (work / "tmp").mkdir()
    tempfile.tempdir = str(work / "tmp")


def peak_rss_mb(pid: int) -> float:
    """A process's peak resident set (VmHWM), 0 if it cannot be read."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        import pyspark

        import unitdb_spark  # noqa: F401
        from perfbench import trace as tr
        from perfbench import workloads as wl
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    spec = spec_metrics(bool(args.trace))
    if args.workload == "analytics":
        wl.check_panel()
    cpus = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    load_start = os.getloadavg()
    spark = None
    try:
        configure_env(work, bool(args.trace), cpus)
        from unitdb_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        tracer = None
        if args.trace:
            tracer = tr.Tracer()
            tr.install(tracer, spark)
        ctx = wl.Ctx(spark, work, args.seed, float(args.seconds), args.size, tracer,
                     jvm=wl.JvmCpu(spark.sparkContext._gateway.proc.pid))
        res = wl.WORKLOADS[args.workload](ctx)
        rss = {"python": peak_rss_mb(os.getpid()), "jvm": peak_rss_mb(spark.sparkContext._gateway.proc.pid)}
        if tracer is not None:
            tracer.restore()
        setup_s = session_s + statistics.median(ctx.setup_reps_s) + ctx.warmup_s
        e2e = {
            "setup_s": setup_s,
            "cpu_ms_per_op": sum(o.cpu_ms for o in ctx.ops) / len(ctx.ops),
        }
        # wall-clock figures: reported, not gated (see README.md)
        wall = {
            "op_latency_ms": res["op_latency_ms"],
            "ops_per_s": res["ops_per_s"],
            "rows_per_s": res["rows_per_s"],
            "rss_peak_mb": rss["python"] + rss["jvm"],
            **{f"{k}_cpu_ms_per_op": v / len(ctx.ops) for k, v in ctx.service_ms.items()},
        }
        stop_spark(spark)
        spark = None
        if args.trace:
            metrics = tr.layer_metrics(ctx, res, tracer, work / "eventlog", session_s, cpus)
        else:
            metrics = e2e
        if set(metrics) != set(spec):
            print(f"perfbench: metric names differ from BENCHMARK.json: "
                  f"{sorted(set(metrics) ^ set(spec))}", file=sys.stderr)
            return 3
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        tag = f"{args.workload}-s{args.seed}-{args.size}"
        (out_dir / f"{tag}-t{args.trace}.json").write_text(json.dumps(
            {"end_to_end": e2e, "wall_clock": wall,
             "ops": [[o.kind, o.ms, o.cpu_ms, o.ok, o.rows] for o in ctx.ops]}))
        describe = {
            "workload": args.workload, "seed": args.seed, "size": args.size,
            "seconds": args.seconds, "trace": args.trace,
            "input_digest": ctx.digest,
            "nproc": cpus, "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "python": platform.python_version(), "spark": pyspark.__version__,
            "headline_op": res["headline"],
            "ops": {k: sum(1 for o in ctx.ops if o.kind == k) for k in sorted({o.kind for o in ctx.ops})},
            "measured_s": ctx.measured_s,
            "cpu_ms_per_op_by_kind": {k: statistics.mean(o.cpu_ms for o in ctx.ops if o.kind == k)
                                      for k in sorted({o.kind for o in ctx.ops})},
            "rss_peak_mb_by_process": rss,
            "setup": {"session_start_s": session_s, "reps_s": ctx.setup_reps_s, "warmup_s": ctx.warmup_s},
            "error_rate": sum(not o.ok for o in ctx.ops) / max(1, len(ctx.ops)),
            "errors": ctx.errors[:10],
            "end_to_end": e2e,
            "wall_clock": wall,
            "detail": res["detail"],
        }
        if args.trace:
            (out_dir / f"{tag}-spans.json").write_text(json.dumps(tracer.spans))
            describe["layer_counts"] = {n: v for n, v in metrics.items() if spec[n]["unit"] in COUNT_UNITS}
            describe["layer_timings"] = {n: v for n, v in metrics.items() if spec[n]["unit"] not in COUNT_UNITS}
            base = out_dir / f"{tag}-t0.json"
            if base.exists():
                untraced = json.loads(base.read_text())
                traced = {**e2e, **wall}
                describe["trace_overhead"] = {k: traced[k] - untraced[part][k]
                                              for part in ("end_to_end", "wall_clock")
                                              for k in untraced.get(part, {}) if k in traced}
            else:
                describe["trace_overhead"] = "no untraced run of this workload, seed and size yet"
        print("perfbench: " + json.dumps(describe, default=str))
        print(json.dumps({
            "correct": not ctx.errors,
            "attempted": len(ctx.ops),
            "failed": sum(not o.ok for o in ctx.ops),
            "metrics": {n: {"value": float(v), "unit": spec[n]["unit"]} for n, v in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
