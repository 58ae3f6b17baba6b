"""perfbench: seeded workloads over zipline_chronon_spark.

    python3 perfbench/run.py --workload backfill_online --seed 1 --seconds 8 --trace 0

One Spark session at local[nproc] per run. The run generates (or reuses)
its inputs from the seed, starts the session and its Python workers,
repeats the workload's operation for --seconds (at least once), checks the
outputs and prints, as its last stdout line, one JSON object:

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}}}

--trace 0 reports the end-to-end metrics. --trace 1 runs the same
measurement with the Spark event log on, spans around the calls into each
layer and a counting KV store, and reports the per-layer metrics; it also
runs --trace 0 in a child process first, for trace.overhead_frac. The line
before the result holds the run's stamp (host, versions, seed, input sizes,
commit), the generation time, failed_frac, the first errors and each
component's own figures by name (backfill, join and dedup rows per second,
upload_s, fetch_p50_ms, fetch_p99_ms, fetches_per_s).

Inputs, Spark scratch space and traces live under .perfbench/ in the
checkout root.
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
WORK = os.path.join(ROOT, ".perfbench")
# rows per Arrow batch handed to the Python engines: a quarter of the
# package's 65536, so the hot conversation's group spans several batches in
# every backfill chunk, as a many times larger hot key would at the default
ARROW_BATCH_ROWS = 8192
# the JVM heap, fixed (-Xms = -Xmx) and resident from the start
JVM_HEAP = "2g"
# how long the Python workers may outlive the JVM before they are killed
REAP_TIMEOUT_S = 20.0

WORKLOAD_NAMES = ("backfill_online", "training_prep")

def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _prepare(workload: str, seed: int, size: str) -> tuple[str, dict, float]:
    """Generate inputs in a child process, so generation memory never shows
    in this process tree's peak RSS."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "inputs.py"), os.path.join(WORK, "inputs"),
         workload, str(seed), size],
        capture_output=True, text=True, timeout=170)
    if out.returncode != 0:
        raise RuntimeError(f"input generation failed:\n{out.stderr[-2000:]}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    return res["dir"], res["meta"], res["gen_s"]


def _start_session(nproc: int, run_dir: str, event_dir: str | None = None):
    from zipline_chronon_spark.session import get_spark

    extra = {
        # a bounded JVM heap (the package default, 24g, exceeds what this
        # benchmark needs), committed and touched at start: a heap left to
        # grow is resident as far as the collector's timing took it, which
        # moved peak_rss_mb by a fifth between runs of the same input
        "spark.driver.memory": JVM_HEAP,
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch "
                                          f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        # uncompressed: the zstd default codec needs a module not installed
        extra.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                      "spark.eventLog.dir": event_dir})
    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{nproc}]", app_name="perfbench", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _warm(spark, nproc: int) -> None:
    """Start the Python worker pool: one Arrow round trip per core. The
    workload's own plans are not warmed. Each run times its operations in a
    fresh application, as a scheduled backfill or upload job meets them."""
    spark.range(0, 4096 * nproc, numPartitions=nproc).mapInArrow(
        lambda batches: batches, schema="id long").count()


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when the pipe to its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    _reap_children()


def _reap_children() -> None:
    """Wait for every remaining descendant (Python workers outliving the
    JVM), killing what has not exited by ``REAP_TIMEOUT_S``."""
    from sysinfo import descendants

    deadline = time.monotonic() + REAP_TIMEOUT_S
    while True:
        alive = descendants(os.getpid())[1:]
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        for pid in alive:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


def _scalars(meta: dict, prefix: str = "") -> dict:
    """The scalar entries of an input meta, nested ones as "part.key"."""
    out = {}
    for k, v in meta.items():
        if isinstance(v, dict):
            out.update(_scalars(v, f"{prefix}{k}."))
        elif isinstance(v, (int, float, str)):
            out[prefix + k] = v
    return out


def _result(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": {k: {"value": float(v), "unit": u}
                                   for k, (v, u) in metrics.items()}})


def _untraced_reference(args) -> dict:
    """rows_per_s and op_ms of one untraced run of the same workload, seed,
    size and length, in a child process: the same inputs and code as the
    traced run, started just as cold."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
           "--size", args.size]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=170)
    if out.returncode != 0:
        raise RuntimeError(f"untraced run failed:\n{out.stderr[-2000:]}")
    metrics = json.loads(out.stdout.strip().splitlines()[-1])["metrics"]
    return {k: metrics[k]["value"] for k in ("rows_per_s", "op_ms")}


def _per_layer_units() -> dict:
    """Per-layer metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def run(args) -> int:
    sys.path[:0] = [ROOT, HERE]
    from pyspark.sql import DataFrame
    from sysinfo import PeakRss, stamp
    from tracing import Tracer, read_event_log
    from workloads import WORKLOADS, count_exchanges, op_ms, rate

    untraced = _untraced_reference(args) if args.trace else None
    cls = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the package from the checkout; Spark and Python
    # temporary files stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    spark = None
    try:
        input_dir, meta, gen_s = _prepare(args.workload, args.seed, args.size)
        _log(f"inputs {input_dir} (generated in {gen_s:.2f}s)")
        with PeakRss() as rss:
            spark, start_s = _start_session(nproc, run_dir, event_dir)
            t0 = time.perf_counter()
            _warm(spark, nproc)
            warm_s = time.perf_counter() - t0
            _log(f"session {start_s:.2f}s, warm-up {warm_s:.2f}s")
            tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
            wl = cls(spark, tracer, input_dir, meta, os.path.join(run_dir, "work"), args.seed)
            with tracer.patched(wl.patches()):
                res = wl.measure(args.seconds)
        tracer.enabled = False
        # plans are inspected while the session is up; the frames are dropped
        for s in tracer.spans:
            if isinstance(s.get("result"), DataFrame):
                s["exchanges"] = count_exchanges(s.pop("result"))
        try:
            wrong, check_errors = wl.check()
        except Exception as exc:  # a check that cannot run fails the run
            wrong, check_errors = 1, [f"check raised {type(exc).__name__}: {str(exc)[:400]}"]
            _log(traceback.format_exc(limit=3))
        wl.close()
        _stop(spark)
        spark = None

        loops = [res["batch"], res["requests"], *res["extra"]]
        ops = sum(len(x["lat"]) for x in loops)
        failed = min(ops, sum(x["failed"] for x in loops) + wrong)
        errors = [e for x in loops for e in x["errors"]] + check_errors
        # rows_per_s from the first component, op_ms from the second
        rows_per_s, op = rate(res["batch"]), op_ms(res["requests"])
        if args.trace:
            log = read_event_log(event_dir)
            # the relative slowdown, averaged over throughput and latency
            overhead = ((untraced["rows_per_s"] / rows_per_s - 1 if rows_per_s else 0.0)
                        + (op / untraced["op_ms"] - 1)) / 2
            # a layer the workload does not call reads 0
            metrics = {name: (0.0, unit) for name, unit in _per_layer_units().items()}
            metrics.update(wl.layer_metrics(tracer, log, res))
            metrics["session.start_s"] = (start_s, "s")
            metrics["session.warm_s"] = (warm_s, "s")
            metrics["trace.overhead_frac"] = (overhead, "ratio")
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            with open(os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json"),
                      "w") as f:
                json.dump({"spans": [{k: v for k, v in s.items() if k != "result"}
                                     for s in tracer.spans],
                           "stages": [{"span": st["span"], "acc": st["acc"]}
                                      for st in log["stages"].values()],
                           "metrics": {k: v for k, (v, _) in metrics.items()}}, f,
                          default=str)
        else:
            metrics = {
                "setup_s": (start_s + warm_s, "s"),
                "rows_per_s": (rows_per_s, "rows/s"),
                "peak_rss_mb": (rss.peak / 2**20, "MB"),
                "op_ms": (op, "ms"),
            }
        detail = {
            "stamp": {**stamp(ROOT, nproc), "workload": args.workload, "seed": args.seed,
                      "size": args.size, "seconds": args.seconds, "trace": args.trace},
            "inputs": _scalars(meta),
            "gen_s": gen_s,
            "ops": ops,
            "failed_frac": {"value": failed / ops, "unit": "ratio"},
            "errors": errors[:10],
        }
        detail["parts"] = {k: {"value": v, "unit": u} for k, (v, u) in wl.detail(res).items()}
        for e in errors[:10]:
            _log(f"error: {e}")
        print(json.dumps({"perfbench": detail}))
        print(_result(not errors and failed == 0, ops, failed, metrics), flush=True)
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="smoke: tiny inputs, for the schema test")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "zipline_chronon_spark")):
        print("perfbench: the zipline_chronon_spark package is not next to perfbench/",
              file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
