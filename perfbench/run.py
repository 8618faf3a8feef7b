"""Benchmark entry point.

    python3 perfbench/run.py --workload template --seed 1 --seconds 25 --trace 0

Generates the workload's corpus from the seed, writes it to parquet, starts
the program's Spark session, builds an archive and then runs a closed loop
of ops through the program's public functions until --seconds have passed.
Every op's output is checked; a wrong answer counts as a failed op.

The last line of stdout is one JSON object {correct, attempted, failed,
metrics}. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 the run records spans and a Spark event log and reports the
per-layer metrics instead. A context line (host, versions, steal, load,
input properties, error rate) is printed just before it.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import procstat  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Spark width: two cores measured as fast as four on a 4-core host and
# leaves room for the driver, so runs stay steady on small hosts.
LOCAL_N = min(2, procstat.nproc())
DRIVER_MEM = "2g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str, trace: bool) -> None:
    """Keep every file the JVM, Spark and the Python workers write inside the
    run's work directory, and enable the event log only when tracing."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(LOCAL_N)
    # a fixed driver heap keeps peak RSS from following GC timing
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    # every JVM, the spark-submit launcher too: temp files in the work
    # directory and no hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = [f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{log_dir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, then wait until every
    process this run started (JVM, Python daemon and workers) has ended."""
    from pyspark import SparkContext

    me = os.getpid()
    started = [p for p in procstat.tree_pids(me) if p != me]
    gateway = SparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.terminate()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    # the daemon and workers were the JVM's children: they exit once their
    # parent has gone
    left = _wait_gone(started, 30)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _wait_gone(left, 10)


def _wait_gone(pids, timeout_s: float) -> list[int]:
    deadline = time.time() + timeout_s
    while True:
        left = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not left or time.time() > deadline:
            return left
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    prepare_env(work, bool(args.trace))
    try:
        with procstat.Sampler() as sampler:
            result, context = run(args, wl, work, out_dir, sampler)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": context}, sort_keys=True))
    print(json.dumps(result))
    return 0


def run(args, wl, work, out_dir, sampler):
    import bench_ops

    cpu0 = procstat.cpu_times()
    t = time.perf_counter()
    gen = bench_ops.Corpus.generate(wl, args.seed, work)
    gen_s = time.perf_counter() - t

    # The program: imported only now, so a checkout without it fails here.
    from pyspark import __version__ as pyspark_version

    from clp_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{wl.name}")
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t
    tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
    try:
        ops = bench_ops.Ops(spark, wl, gen, work, tracer)
        ops.setup()
        setup_s = time.perf_counter() - T0 - gen_s - ops.oracle_s
        t = time.perf_counter()
        ops.loop(args.seconds)
        loop_s = time.perf_counter() - t
        layers = ops.probe_layers() if args.trace else None
    finally:
        t = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - t
    cpu1 = procstat.cpu_times()
    if args.trace:
        engine, extra_spans = ops.engine_layers(os.path.join(work, "eventlog"))
        layers.update(engine)

    e2e = {"setup_s": setup_s, **ops.end_to_end(sampler)}
    context = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": procstat.nproc(),
        "local_n": LOCAL_N,
        "python": sys.version.split()[0],
        "pyspark": pyspark_version,
        "cpu_steal_share": procstat.steal_share(cpu0, cpu1),
        "loadavg1_mean": statistics.fmean(sampler.loads) if sampler.loads else None,
        "loadavg1_max": max(sampler.loads) if sampler.loads else None,
        "gen_s": gen_s,
        "oracle_s": ops.oracle_s,
        "session_start_s": session_start_s,
        "loop_s": loop_s,
        "stop_s": stop_s,
        "op_error_rate": ops.failed / max(ops.attempted, 1),
        "op_secs": ops.sample_secs(),
        "search_p50_samples_beyond": ops.p50_beyond(),
        "input": ops.input_properties(),
        "run_peak_rss_mb": max((b for _, b in sampler.rss), default=0) / 2**20,
        "errors": ops.errors[:5],
    }
    units = bench_ops.UNITS
    if args.trace:
        layers["session.start_s"] = session_start_s
        for name in ("ingest_turns_per_s", "routed_turns_per_s", "decode_turns_per_s", "search_p50_ms"):
            layers[f"trace.{name}"] = e2e[name]
        path = os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace.json")
        ops.write_trace(path, layers, extra_spans)
        context["trace_file"] = os.path.relpath(path, ROOT)
        values = dict(sorted(layers.items()))
    else:
        values = e2e
    # a value that could not be measured (no good sample) is null, never NaN
    metrics = {k: {"value": None if v != v else v, "unit": units[k]} for k, v in values.items()}
    result = {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }
    return result, context


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
