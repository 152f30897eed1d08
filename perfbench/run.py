#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The inputs are generated from
``--seed`` under ``.perfbench_work/`` in the checkout (removed at the
end); the program is the checkout's ``rolaguard_data_collectors_spark``
package. The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer metrics,
measured with Spark's event log on (the difference between the two
runs' shared figures is the tracing overhead). Lines before the last
one are a human-readable summary: sample counts, percentile ranks,
failures and the traffic the generator made.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "rolaguard_data_collectors_spark"
BENCH_FILE = os.path.join(ROOT, "BENCHMARK.json")
DEADLINE_S = 170  # hard stop: the run must end within 180 s
SESSION_SETUPS = 3  # session set-ups per run; setup_s takes their median
DRIVER_MEM = "1g"
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench: [{time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _spec() -> dict:
    with open(BENCH_FILE, encoding="utf-8") as fh:
        return json.load(fh)


def _prepare_env(work: str) -> dict:
    """Keep every file Spark and the workers write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    # A 1 GB driver heap (the program's default is 8 GB) keeps the JVM's
    # resident size from tracking GC heap-growth decisions run to run.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _descendants() -> list[int]:
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/task/{pid}/children") as fh:
                kids = [int(x) for x in fh.read().split()]
        except OSError:
            kids = []
        out.extend(kids)
        todo.extend(kids)
    return out


def _reap(timeout_s: float = 20.0) -> None:
    """Wait for every child process to end; terminate stragglers."""
    deadline = time.time() + timeout_s
    while _descendants() and time.time() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = _descendants()
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(1.0)
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def _shutdown_spark() -> None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _session(conf: dict):
    """One session set-up: the program's session factory, the executor
    package bootstrap and one small job."""
    from rolaguard_data_collectors_spark.bootstrap import ensure_executor_pythonpath
    from rolaguard_data_collectors_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_executor_pythonpath(spark)
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def _setups(conf: dict) -> tuple:
    """Set the session up ``SESSION_SETUPS`` times (the first launches
    the JVM, the others stop and restart the session in it); returns the
    live session and every set-up time."""
    times = []
    spark = None
    for _ in range(SESSION_SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = _session(conf)
        times.append(time.perf_counter() - t0)
    return spark, times


def run(workload: str, seed: int, seconds: int, trace: bool, work: str) -> dict:
    conf = _prepare_env(work)
    log_dir = os.path.join(work, "eventlog")
    from perfbench import board, collectors, measure

    if trace:
        conf.update(measure.event_log_conf(log_dir))
    fn = {
        "query_board": board.run_board,
        "collectors": collectors.run_collectors,
    }[workload]

    spark, setup_times = _setups(conf)
    log(f"session set-ups {[round(t, 2) for t in setup_times]}")
    t_work = time.perf_counter()
    res = fn(spark, work, seed, seconds, trace, log)
    t_work = time.perf_counter() - t_work
    log("workload done")
    from pyspark import SparkContext

    peak_mb = measure.peak_rss_mb([os.getpid(), SparkContext._gateway.proc.pid])
    _shutdown_spark()
    log("spark stopped")
    layers = res.get("layers", {})
    samples = res["latency_samples"]
    if not samples:
        # Nothing completed: no latency was measured. The run is wrong, and
        # its latency is reported as the whole workload's wall time, never
        # as a better figure than a working run's.
        res["correct"] = False
        res["notes"].append("no latency samples: nothing completed")
        samples = [t_work * 1000.0]
    tail_v, tail_pct, n = measure.tail(samples)
    setup_s = measure.median(setup_times) + res["warmup_s"]
    e2e = {
        "setup_s": setup_s,
        "work_per_s": res["work_per_s"],
        "latency_p50_ms": measure.median(samples),
        "latency_tail_ms": tail_v,
        "peak_rss_mb": peak_mb,
    }
    layers["session.cold_start_s"] = setup_times[0]
    layers["session.restart_s"] = measure.median(setup_times[1:])
    layers["setup.warmup_s"] = res["warmup_s"]
    return {
        "e2e": e2e, "layers": layers, "tail_pct": tail_pct, "samples": n,
        "attempted": res["attempted"], "failed": res["failed"],
        "correct": res["correct"], "notes": res["notes"], "info": res["info"],
    }


def _watchdog() -> None:
    time.sleep(DEADLINE_S)
    print(f"perfbench: no result after {DEADLINE_S} s, giving up", file=sys.stderr)
    sys.stderr.flush()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in _descendants():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(1.0)
    os._exit(3)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package next to perfbench/; "
              "run from the root of a source checkout", file=sys.stderr)
        return 2
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}",
              file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)

    threading.Thread(target=_watchdog, daemon=True).start()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        _reap()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = out["layers"] if args.trace else out["e2e"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(f"perfbench: workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} latency samples={out['samples']} "
          f"tail=p{out['tail_pct']:.1f}")
    print("perfbench: info " + json.dumps(out["info"], default=str))
    for note in out["notes"]:
        print("perfbench: failure: " + note)
    if args.trace:
        extra = sorted(set(values) - {m["name"] for m in wanted})
        if extra:
            print("perfbench: unlisted layer metrics " + json.dumps(
                {k: values[k] for k in extra}))
    print(json.dumps({
        "correct": bool(out["correct"]),
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
