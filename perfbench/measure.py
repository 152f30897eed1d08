"""Measurement helpers: percentiles, process memory, Spark's event
log and streaming progress. Everything here reads the program from
outside — timings around public calls, ``/proc``, the event log Spark
writes and the ``StreamingQueryProgress`` objects its public API
returns."""

from __future__ import annotations

import json
import os
import statistics
from datetime import datetime

# ---------------------------------------------------------------------------
# percentiles


def tail(samples: list) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it.

    Returns ``(value, percentile, n)``: the sample with exactly ten
    samples above it in sorted order, its percentile rank, and the
    sample count. With ten samples or fewer there is no such percentile
    and the maximum is returned with rank 100."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("tail() of no samples")
    if n <= 10:
        return xs[-1], 100.0, n
    i = n - 11  # ten samples strictly above index i
    return xs[i], 100.0 * (i + 1) / n, n


def median(samples: list) -> float:
    return float(statistics.median(samples)) if samples else 0.0


def q95(samples: list) -> float:
    if not samples:
        return 0.0
    xs = sorted(samples)
    return float(xs[min(len(xs) - 1, int(round(0.95 * (len(xs) - 1))))])


# ---------------------------------------------------------------------------
# memory


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pids: list) -> float:
    """Sum of the peak resident set (``VmHWM``) of each process, in MB.

    Meant for the long-lived processes of a run — the benchmark's own
    Python process and the Spark JVM. Executor Python workers come and
    go with the tasks, so how many are alive when a sampler looks
    varies run to run; they are left out."""
    return sum(_status_kb(pid, "VmHWM") for pid in pids) / 1024.0


# ---------------------------------------------------------------------------
# streaming progress


def progress_end_s(p) -> float:
    """Wall-clock end of the batch a progress object reports (epoch s)."""
    start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
    return start + p.durationMs.get("triggerExecution", 0) / 1000.0


def engine_split(progress: list) -> dict:
    """The micro-batch engine's ``durationMs`` split over batches that
    read input, as per-batch medians (``batch_p95_ms`` as p95)."""
    data = [p for p in progress if p.numInputRows > 0]
    dur = lambda key: [p.durationMs.get(key, 0) for p in data]  # noqa: E731
    return {
        "engine.batches": float(len(data)),
        "engine.batch_p50_ms": median(dur("triggerExecution")),
        "engine.batch_p95_ms": q95(dur("triggerExecution")),
        "engine.planning_ms": median(dur("queryPlanning")),
        "engine.add_batch_ms": median(dur("addBatch")),
        "engine.wal_commit_ms": median(dur("walCommit")),
        "engine.commit_offsets_ms": median(dur("commitOffsets")),
        "engine.latest_offset_ms": median(dur("latestOffset")),
        "engine.rows_per_batch": median([p.numInputRows for p in data]),
    }


# ---------------------------------------------------------------------------
# event log


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _python_worker_ms(task_info: dict) -> float:
    total = 0.0
    for acc in task_info.get("Accumulables", []):
        if acc.get("Name") == "time to run Python workers":
            try:
                total += float(acc.get("Update", 0))
            except (TypeError, ValueError):
                pass
    return total


def event_log_split(log_dir: str, since_ms: float = 0.0) -> dict:
    """Sum the task- and job-level metrics of every job that started at
    or after ``since_ms`` (epoch ms) in the event logs under ``log_dir``."""
    totals = {
        "jobs": 0, "stages": 0, "tasks": 0, "scheduler_delay_ms": 0.0,
        "executor_run_ms": 0.0, "executor_cpu_ms": 0.0, "gc_ms": 0.0,
        "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        "python_worker_ms": 0.0,
    }
    jobs: set = set()
    stages: set = set()
    for fn in os.listdir(log_dir):
        path = os.path.join(log_dir, fn)
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # the log of a running app may end mid-line
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if ev.get("Submission Time", 0) >= since_ms:
                        jobs.add(ev["Job ID"])
                        stages.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerTaskEnd":
                    if ev.get("Stage ID") not in stages:
                        continue
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    run = m.get("Executor Run Time", 0)
                    wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    overhead = (
                        m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0)
                        + info.get("Getting Result Time", 0)
                    )
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    totals["tasks"] += 1
                    totals["scheduler_delay_ms"] += max(0, wall - run - overhead)
                    totals["executor_run_ms"] += run
                    totals["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    totals["gc_ms"] += m.get("JVM GC Time", 0)
                    totals["shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / 2**20
                    totals["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    totals["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 2**20
                    totals["python_worker_ms"] += _python_worker_ms(info)
    totals["jobs"] = len(jobs)
    totals["stages"] = len(stages)
    return {k: float(v) for k, v in totals.items()}
