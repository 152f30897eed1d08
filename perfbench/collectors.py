"""The ``collectors`` workload: the collector streaming path over
seeded LoRaWAN feeds, in two phases in one session.

Backfill (capacity, ``work_per_s``)
    Four ``lorawan_replay`` collectors (generic MQTT, ChirpStack, TTN v2,
    TTN v3), one pre-written capture each, start together and drain with
    back-to-back batches through normalize and the envelope queue sink
    (``start_envelope_queue_sink(..., trigger_seconds=0)``). Then two
    enrich queries drain their own ChirpStack and TTN v2 captures (many
    devices and gateways, so the state is large) through normalize and
    the stateful stages (``enrich_per_collector``,
    ``attach_location_by_gateway``) into a ``noop`` sink. Per-row cost
    dominates.
Live (latency, ``latency_*_ms``)
    An open-loop generator appends to four growing feeds at a fixed rate;
    ``lorawan_live`` collectors with ``transport=replay`` read them,
    started through ``CollectorManager`` with the production 1 s trigger.
    Per-batch fixed cost dominates.

Outputs are checked against the generator's ground truth: every line
the normalize routes accept is published exactly once by its own
collector, the backfill envelopes equal a batch normalize ->
``to_envelope_json`` of the same capture (``ts`` aside), and the enrich
stages emit and merge the rows the generator predicts.
"""

from __future__ import annotations

import ast
import json
import os
import shutil
import threading
import time
from collections import Counter

from . import gen, measure

BACKFILL_BATCH = 450  # lines per collector per micro-batch
BACKFILL_LINES_PER_S = 300  # feed lines per collector per --seconds
BACKFILL_TRAFFIC = dict(n_devices=3000, n_gateways=200, zipf_s=0.8)
ENRICH_LINES_PER_S = 120  # enrich feed lines per type per --seconds
ENRICH_BATCH = 1000
ENRICH_KINDS = ("chirpstack", "ttn_v2")
LIVE_RATE = 100  # messages per second per collector
LIVE_ON_TIME_S = 2.0
LIVE_GRACE_S = 5.0
BACKFILL_ENGINE = ("engine.batch_p50_ms", "engine.add_batch_ms", "engine.planning_ms",
                   "engine.batches")


# ---------------------------------------------------------------------------
# shared helpers


def _register(spark) -> None:
    from rolaguard_data_collectors_spark.sources.datasource import register_sources

    register_sources(spark)


def _pipeline(kind: str):
    from rolaguard_data_collectors_spark.streaming.orchestrator import PIPELINES

    return PIPELINES[gen.COLLECTOR_TYPES[kind][0]]


def _read_queue(out_path: str) -> list[str]:
    """Envelope lines of a queue file up to its last committed offset."""
    from rolaguard_data_collectors_spark.streaming.sink import QueueFileSink

    commits = QueueFileSink(out_path)._commits()
    end = max(commits.values(), default=0)
    if not end or not os.path.exists(out_path):
        return []
    with open(out_path, "rb") as fh:
        data = fh.read(end)
    return data.decode("utf-8").splitlines()


def _strip_ts(envelope: str) -> str:
    """The envelope without its trailing ``"ts"`` field (the publish
    time, the one field a replay may change)."""
    cut = envelope.rfind(',"ts":')
    return envelope[:cut] if cut >= 0 else envelope


def batch_envelopes(spark, feed_path: str, kind: str) -> list[str]:
    """Batch normalize -> ``to_envelope_json`` of a capture: the
    reference output a streaming collector must publish."""
    from rolaguard_data_collectors_spark.streaming.sink import to_envelope_json

    raw = spark.read.format("lorawan_replay").load(feed_path)
    return [r.envelope for r in to_envelope_json(_pipeline(kind)(raw)).collect()]


def check_publication(feed: gen.Feed, envelopes: list[str], reference: list[str] | None):
    """Exactly-once and content check of one collector's queue.

    Returns (missing, duplicates, unknown, content_mismatches)."""
    expected = Counter(feed.published)
    seen = Counter(json.loads(e)["messages"][0]["message"] for e in envelopes)
    missing = sum(1 for v in expected if v not in seen)
    dups = sum(c - 1 for c in seen.values() if c > 1)
    unknown = sum(c for v, c in seen.items() if v not in expected)
    mismatch = 0
    if reference is not None:
        got = Counter(_strip_ts(e) for e in envelopes)
        want = Counter(_strip_ts(e) for e in reference)
        mismatch = sum((got - want).values())
    return missing, dups, unknown, mismatch


def _stop(queries) -> None:
    for q in queries:
        try:
            q.stop()
        except Exception:  # a query that already died has nothing to stop
            pass


# ---------------------------------------------------------------------------
# backfill phase


def _start_collectors(spark, feeds: dict, out: str, tag: str) -> dict:
    from rolaguard_data_collectors_spark.streaming.sink import start_envelope_queue_sink

    queries = {}
    for kind in gen.COLLECTOR_TYPES:
        raw = (
            spark.readStream.format("lorawan_replay")
            .option("path", feeds[kind].path)
            .option("batchSize", str(BACKFILL_BATCH))
            .load()
        )
        queries[kind] = start_envelope_queue_sink(
            _pipeline(kind)(raw),
            out_path=os.path.join(out, f"{tag}_{kind}.jsonl"),
            checkpoint=os.path.join(out, f"{tag}_{kind}.ckpt"),
            trigger_seconds=0,
        )
    return queries


def _start_enrich(spark, feeds: dict, out: str, tag: str) -> dict:
    return {f"enrich_{k}": _enrich_query(spark, k, feeds[f"enrich_{k}"].path, out, tag)
            for k in ENRICH_KINDS}


def _drain_timed(queries: dict, feeds: dict, timeout_s: float) -> tuple:
    """Drain, stop, and return (progress per query, errors per query,
    lines consumed, seconds from the start to the last batch's end)."""
    t_start = time.time()
    _drain(queries, feeds, timeout_s)
    progress = {k: list(q.recentProgress) for k, q in queries.items()}
    errors = {k: q.exception() for k, q in queries.items()}
    _stop(queries.values())
    data = [p for ps in progress.values() for p in ps if p.numInputRows > 0]
    t_end = max((measure.progress_end_s(p) for p in data), default=t_start)
    return progress, errors, sum(p.numInputRows for p in data), max(1e-3, t_end - t_start)


def _consumed(q) -> int:
    """Lines the last finished batch of a replay query has read up to."""
    p = q.lastProgress
    if p is None or not p.sources:
        return 0
    # SourceProgress.endOffset is the str() of the parsed offset dict
    offsets = ast.literal_eval(p.sources[0].endOffset)
    return sum(int(v) for v in (offsets or {}).values())


def _drain(queries: dict, feeds: dict, timeout_s: float) -> None:
    """Wait until every query has consumed its whole feed (or died).
    Polls only the last progress of each query, every 0.2 s, so the
    waiting loop takes little of the driver's Python time."""
    deadline = time.time() + timeout_s
    pending = dict(queries)
    while pending and time.time() < deadline:
        for name, q in list(pending.items()):
            if not q.isActive or _consumed(q) >= feeds[name].n:
                del pending[name]
        time.sleep(0.2)


def _backfill_feeds(work: str, seed: int, n: int, n_enrich: int) -> dict:
    """One capture per collector type, plus one per enrich query."""
    traffic = gen.Traffic(**BACKFILL_TRAFFIC)
    feeds = {k: gen.collector_feed(work, k, seed, n, traffic) for k in gen.COLLECTOR_TYPES}
    for k in ENRICH_KINDS:
        feeds[f"enrich_{k}"] = gen.collector_feed(
            os.path.join(work, "enrich"), k, seed + 2, n_enrich, traffic)
    return feeds


def backfill_phase(spark, work: str, seed: int, seconds: int, log) -> dict:
    """Warm up, drain the collector captures, then the enrich captures;
    outputs are checked later by ``check_backfill``. The enrich queries
    drain on their own so the collectors' throughput does not depend on
    how the two sets happened to share the cores."""
    feeds = _backfill_feeds(work, seed, BACKFILL_LINES_PER_S * seconds,
                            ENRICH_LINES_PER_S * seconds)
    out = os.path.join(work, "queues")
    os.makedirs(out, exist_ok=True)

    # Warm-up: a small capture per query through the same queries (the
    # first streaming batches compile the plans), counted as set-up.
    warm = _backfill_feeds(os.path.join(work, "warm"), seed + 1, 100, 100)
    t0 = time.perf_counter()
    qs = {**_start_collectors(spark, warm, out, "warm"), **_start_enrich(spark, warm, out, "warm")}
    _drain(qs, warm, 60)
    _stop(qs.values())
    warmup_s = time.perf_counter() - t0
    log(f"backfill warm-up {warmup_s:.2f}s")

    progress, errors, rows, wall = _drain_timed(
        _start_collectors(spark, feeds, out, "run"), feeds, seconds * 10)
    log("backfill drained")
    e_progress, e_errors, e_rows, e_wall = _drain_timed(
        _start_enrich(spark, feeds, out, "run"), feeds, seconds * 10)
    log("enrich drained")
    return {
        "feeds": feeds, "out": out, "warmup_s": warmup_s,
        "progress": {**progress, **e_progress}, "errors": {**errors, **e_errors},
        "collectors": [p for ps in progress.values() for p in ps if p.numInputRows > 0],
        "enrichers": [p for ps in e_progress.values() for p in ps if p.numInputRows > 0],
        # the whole backfill: collector and enrich lines over both drains
        "msgs_per_s": (rows + e_rows) / (wall + e_wall),
        "collector_msgs_per_s": rows / wall,
        "enrich_msgs_per_s": e_rows / e_wall,
    }


def check_backfill(spark, ph: dict) -> tuple[int, bool, list, dict]:
    """Exactly-once and content checks of the four queues, and the
    enrich counts against the prediction. Returns (failed, correct,
    notes, enrich counts)."""
    feeds = ph["feeds"]
    failed, correct, notes = 0, True, []
    for name, err in ph["errors"].items():
        if err is not None:
            correct = False
            notes.append(f"{name}: query died: {str(err)[:200]}")
    for kind in gen.COLLECTOR_TYPES:
        feed = feeds[kind]
        envs = _read_queue(os.path.join(ph["out"], f"run_{kind}.jsonl"))
        ref = batch_envelopes(spark, feed.path, kind)
        missing, dups, unknown, mismatch = check_publication(feed, envs, ref)
        failed += missing + dups + unknown + mismatch
        if missing or dups or unknown or mismatch:
            correct = False
            notes.append(f"backfill {kind}: missing={missing} dups={dups} "
                         f"unknown={unknown} mismatch={mismatch}")
    got = {}
    for kind in ENRICH_KINDS:
        rows = merged = 0
        for p in ph["progress"][f"enrich_{kind}"]:
            m = p.observedMetrics.get("enrich")
            if m is not None:
                rows += m["rows"] or 0
                merged += m["merged"] or 0
        got[kind] = {"emitted": rows, "merged": merged}
        exp = feeds[f"enrich_{kind}"].enrich_expect
        off = abs(rows - exp["emitted"]) + abs(merged - exp["merged"])
        if off:
            correct = False
            failed += off
            notes.append(f"enrich_{kind}: emitted/merged {rows}/{merged}, expected "
                         f"{exp['emitted']}/{exp['merged']}")
    return failed, correct, notes, got


def enrich_layers(progress: dict, got: dict, enrichers: list) -> dict:
    """State size and time of the enrich queries, from their progress."""
    state_rows = state_bytes = 0.0
    upd, commit = [], []
    for kind in ENRICH_KINDS:
        ps = [p for p in progress[f"enrich_{kind}"] if p.stateOperators]
        if ps:
            state_rows += sum(s.numRowsTotal for s in ps[-1].stateOperators)
            state_bytes += sum(s.memoryUsedBytes for s in ps[-1].stateOperators)
    for p in enrichers:
        upd.append(sum(s.allUpdatesTimeMs for s in p.stateOperators))
        commit.append(sum(s.commitTimeMs for s in p.stateOperators))
    emitted = sum(g["emitted"] for g in got.values())
    consumed = sum(p.numInputRows for p in enrichers)
    return {
        "streaming.enrich.state_rows": state_rows,
        "streaming.enrich.state_bytes": state_bytes,
        "streaming.enrich.update_ms": measure.median(upd),
        "streaming.enrich.state_commit_ms": measure.median(commit),
        "streaming.enrich.rows_out_per_in": emitted / max(1, consumed),
        "streaming.enrich.batch_p50_ms": measure.median(
            [p.durationMs.get("triggerExecution", 0) for p in enrichers]),
    }


def prefix_layers(spark, feeds: dict, out: str) -> dict:
    """Per-layer self time from layer-prefix runs over the same captures,
    read with the batch ``lorawan_replay`` reader: source -> noop, then
    + normalize, + ``to_envelope_json``, + a timed ``QueueFileSink``
    call. The longest prefix runs once to warm up the plans, then each
    prefix runs once timed."""
    from rolaguard_data_collectors_spark.streaming.sink import (
        QueueFileSink,
        to_envelope_json,
    )

    os.makedirs(out, exist_ok=True)
    layers: dict = {}
    src_ms = norm_ms = env_ms = pub_ms = 0.0
    rows_total = 0

    def timed(fn) -> float:
        t0 = time.perf_counter()
        fn()
        return (time.perf_counter() - t0) * 1000.0

    for kind, feed in feeds.items():
        pipe = _pipeline(kind)
        path = os.path.join(out, f"{kind}.jsonl")
        epochs = iter(range(1 << 30))

        def raw():
            return spark.read.format("lorawan_replay").load(feed.path)

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        def publish():
            QueueFileSink(path)(to_envelope_json(pipe(raw())), next(epochs))

        publish()  # warm-up
        t_src = timed(lambda: noop(raw()))
        t_norm = timed(lambda: noop(pipe(raw())))
        t_env = timed(lambda: noop(to_envelope_json(pipe(raw()))))
        t_pub = timed(publish)
        n_out = pipe(raw()).count()
        krow = feed.n / 1000.0
        layers[f"streaming.normalize.{kind}.ms_per_krow"] = (t_norm - t_src) / krow
        layers[f"streaming.normalize.{kind}.rows_out_per_in"] = n_out / feed.n
        src_ms += t_src
        norm_ms += t_norm - t_src
        env_ms += t_env - t_norm
        pub_ms += t_pub - t_env
        rows_total += feed.n
    krow = rows_total / 1000.0
    layers["sources.replay.ms_per_krow"] = src_ms / krow
    layers["streaming.sink.envelope_ms_per_krow"] = env_ms / krow
    layers["streaming.sink.publish_ms_per_krow"] = pub_ms / krow
    shutil.rmtree(out, ignore_errors=True)
    return layers


# ---------------------------------------------------------------------------
# live phase


class _Appender(threading.Thread):
    """Open-loop generator: line ``j`` of every feed is due at
    ``t0 + j / rate`` and is appended as soon as the clock passes that
    time, whatever the collectors are doing. Records each line's due
    time and how late the append was."""

    def __init__(self, feeds: dict, rate: float):
        super().__init__(daemon=True)
        self.feeds = feeds
        self.rate = rate
        self.n = max(f.n for f in feeds.values())
        self.due: dict = {}  # kind -> list of due times (epoch s)
        self.late_ms: list = []
        self.t0 = 0.0

    def run(self) -> None:
        # One os.write per feed and step on an O_APPEND descriptor: a
        # reader never sees a torn line (a live transport delivers whole
        # messages).
        fds = {k: os.open(f.path, os.O_WRONLY | os.O_APPEND) for k, f in self.feeds.items()}
        try:
            self.t0 = time.time() + 0.05
            for k, f in self.feeds.items():
                self.due[k] = [self.t0 + j / self.rate for j in range(f.n)]
            j = 0
            while j < self.n:
                now = time.time()
                hi = min(self.n, int((now - self.t0) * self.rate) + 1)
                if hi > j:
                    for k, fd in fds.items():
                        lines = self.feeds[k].lines[j:hi]
                        if lines:
                            os.write(fd, "".join(s + "\n" for s in lines).encode("utf-8"))
                    after = time.time()
                    self.late_ms.extend(
                        (after - (self.t0 + i / self.rate)) * 1000.0 for i in range(j, hi)
                    )
                    j = hi
                time.sleep(0.005)
        finally:
            for fd in fds.values():
                os.close(fd)


class _CommitWatcher(threading.Thread):
    """Polls each queue's commit log and records when each epoch's
    commit line became visible."""

    def __init__(self, paths: dict):
        super().__init__(daemon=True)
        self.paths = paths  # kind -> queue path
        self.seen: dict = {k: {} for k in paths}  # kind -> {end_offset: time}
        self._halt = threading.Event()

    def run(self) -> None:
        from rolaguard_data_collectors_spark.streaming.sink import QueueFileSink

        sinks = {k: QueueFileSink(p) for k, p in self.paths.items()}
        while not self._halt.is_set():
            now = time.time()
            for k, s in sinks.items():
                for end in s._commits().values():
                    self.seen[k].setdefault(end, now)
            self._halt.wait(0.02)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


def live_lags(feed: gen.Feed, queued: list, base: int, commits: dict, due: list,
              watch_end: float, grace_end: float) -> tuple[list, int]:
    """Latency samples (ms) of one live collector, and how many of its
    messages were published within ``LIVE_ON_TIME_S``.

    ``queued`` is the queue's committed envelopes, of which the first
    ``base`` came before the measured window; ``commits`` maps each
    commit's end offset to the time the watcher first saw it; ``due[j]``
    is when feed line ``j`` was due at the generator.

    An envelope's epoch is the first commit whose end offset covers it;
    its lag runs from its line's due time to that commit. The messages of
    one epoch share that commit, so they are not independent samples:
    each epoch gives one sample, the lag of its oldest message (the tail
    rule needs ten independent samples beyond the percentile it
    reports). Envelopes committed after the watcher stopped count as
    committed at ``watch_end``. A message never published (a dead or
    stalled collector) is late by at least the time from its due time to
    ``grace_end``: it gives one sample of its own, so a failing collector
    raises the latency instead of leaving the sample."""
    ends = sorted(commits.items()) + [(float("inf"), watch_end)]
    line_of = dict(zip(feed.published, feed.published_at))
    pos = sum(len(e.encode("utf-8")) + 1 for e in queued[:base])
    idx = on_time = 0
    worst: dict = {}
    done: set = set()
    for e in queued[base:]:
        pos += len(e.encode("utf-8")) + 1
        while ends[idx][0] < pos:
            idx += 1
        value = json.loads(e)["messages"][0]["message"]
        j = line_of.get(value)
        if j is None:
            continue
        done.add(value)
        lag = (ends[idx][1] - due[j]) * 1000.0
        worst[idx] = max(worst.get(idx, 0.0), lag)
        if lag <= LIVE_ON_TIME_S * 1000.0:
            on_time += 1
    lags = list(worst.values())
    lags.extend((grace_end - due[j]) * 1000.0
                for value, j in line_of.items() if value not in done)
    return lags, on_time


def live_phase(spark, work: str, seed: int, seconds: int, log) -> dict:
    """Start the live collectors, feed them for ``seconds`` and check
    what they published."""
    from rolaguard_data_collectors_spark.streaming.orchestrator import (
        CollectorConfig,
        CollectorManager,
    )

    traffic = gen.Traffic(torn_lines=False)
    feeds = {k: gen.collector_feed(os.path.join(work, "live"), k, seed, LIVE_RATE * seconds,
                                   traffic, write=False)
             for k in gen.COLLECTOR_TYPES}
    warm = {k: gen.collector_feed(os.path.join(work, "warm"), k, seed + 1, 50, traffic,
                                  write=False) for k in gen.COLLECTOR_TYPES}
    for k, f in feeds.items():
        os.makedirs(os.path.dirname(f.path), exist_ok=True)
        with open(f.path, "w", encoding="utf-8") as fh:
            fh.write("".join(line + "\n" for line in warm[k].lines))
    out = os.path.join(work, "live_queues")
    os.makedirs(out, exist_ok=True)

    # Warm-up (set-up): start every collector and wait for its first
    # batch over the warm-up lines.
    t0 = time.perf_counter()
    mgr = CollectorManager(spark, out)
    start_ms = []
    for kind, f in feeds.items():
        ctype, cid = gen.COLLECTOR_TYPES[kind]
        cfg = CollectorConfig(id=cid, type=ctype, source_format="lorawan_live",
                              source_options={"transport": "replay", "path": f.path})
        s = time.perf_counter()
        mgr.handle_event({"type": "CREATED", "config": cfg})
        start_ms.append((time.perf_counter() - s) * 1000.0)
    queries = {k: mgr.queries[gen.COLLECTOR_TYPES[k][1]] for k in feeds}
    queue = {k: os.path.join(out, f"queue_{gen.COLLECTOR_TYPES[k][1]}.jsonl") for k in feeds}
    deadline = time.time() + 60
    while time.time() < deadline:
        if all(q.lastProgress is not None or not q.isActive for q in queries.values()):
            break
        time.sleep(0.05)
    warmup_s = time.perf_counter() - t0
    log(f"live warm-up {warmup_s:.2f}s")
    base = {k: len(_read_queue(p)) for k, p in queue.items()}

    watcher = _CommitWatcher(queue)
    watcher.start()
    gen_thread = _Appender(feeds, LIVE_RATE)
    gen_thread.start()
    gen_thread.join(timeout=seconds + 30)
    # Let the last due lines publish: wait until every live collector's
    # queue holds all its feed's envelopes, at most LIVE_GRACE_S.
    grace_end = time.time() + LIVE_GRACE_S
    while time.time() < grace_end:
        if all(len(_read_queue(queue[k])) - base[k] >= len(f.published)
               for k, f in feeds.items() if queries[k].isActive):
            break
        time.sleep(0.1)
    watcher.stop()
    watch_end = time.time()
    log("live generator done")
    progress = [p for q in queries.values() for p in q.recentProgress if p.numInputRows > 0]
    dead = {k: q.exception() for k, q in queries.items()
            if q.exception() is not None or not q.isActive}
    mgr.stop_all()

    # Content equality with the batch reference is checked on the backfill
    # captures (the same normalize and envelope code); here every envelope
    # must come from its own collector, exactly once.
    lags, on_time, failed, correct, notes = [], 0, 0, True, []
    for kind, feed in feeds.items():
        queued = _read_queue(queue[kind])
        envs = queued[base[kind]:]
        cid = gen.COLLECTOR_TYPES[kind][1]
        mismatch = sum(1 for e in envs
                       if json.loads(e)["messages"][0]["data_collector_id"] != cid)
        missing, dups, unknown, _ = check_publication(feed, envs, None)
        if dups or unknown or mismatch:
            correct = False
        failed += missing + dups + unknown + mismatch
        if kind in dead:
            notes.append(f"live {kind}: collector died: {str(dead[kind])[:200]}")
        if missing or dups or unknown or mismatch:
            notes.append(f"live {kind}: missing={missing} dups={dups} unknown={unknown} "
                         f"mismatch={mismatch}")
        ep_lags, ep_on_time = live_lags(
            feed, queued, base[kind], watcher.seen[kind], gen_thread.due.get(kind, []),
            watch_end, grace_end)
        lags.extend(ep_lags)
        on_time += ep_on_time
    n_pub = sum(len(f.published) for f in feeds.values())
    return {
        "feeds": feeds, "warmup_s": warmup_s, "lags": lags, "progress": progress,
        "failed": failed, "correct": correct, "notes": notes,
        "dead": sorted(dead), "start_ms": start_ms,
        "on_time_pct": 100.0 * on_time / max(1, n_pub),
        "generator_late_p99_ms": measure.tail(gen_thread.late_ms)[0],
        "traffic": traffic.as_dict(),
    }


# ---------------------------------------------------------------------------
# the workload


def run_collectors(spark, work: str, seed: int, seconds: int, trace: bool, log) -> dict:
    _register(spark)
    bf = backfill_phase(spark, work, seed, seconds, log)
    live = live_phase(spark, work, seed, seconds, log)
    failed, correct, notes, got = check_backfill(spark, bf)
    log("checked")
    feeds = bf["feeds"]
    res = {
        "warmup_s": bf["warmup_s"] + live["warmup_s"],
        "work_per_s": bf["msgs_per_s"],
        "latency_samples": live["lags"],
        "attempted": sum(f.n for f in feeds.values())
        + sum(f.n for f in live["feeds"].values()),
        "failed": failed + live["failed"],
        "correct": correct and live["correct"],
        "notes": notes + live["notes"],
        "info": {
            "backfill_lines": {k: f.n for k, f in feeds.items()},
            "backfill_mix": {k: f.counts for k, f in feeds.items()},
            "backfill_traffic": feeds["mqtt"].traffic,
            "enrich": got,
            "collector_msgs_per_s": bf["collector_msgs_per_s"],
            "enrich_msgs_per_s": bf["enrich_msgs_per_s"],
            "live_rate_per_collector": LIVE_RATE,
            "live_lines": {k: f.n for k, f in live["feeds"].items()},
            "live_dead_collectors": live["dead"],
            "live_on_time_pct": live["on_time_pct"],
            "live_generator_late_p99_ms": live["generator_late_p99_ms"],
            "live_traffic": live["traffic"],
        },
    }
    if trace:
        layers = measure.engine_split(live["progress"])
        layers.update({f"engine.backfill.{k[len('engine.'):]}": v
                       for k, v in measure.engine_split(bf["collectors"]).items()
                       if k in BACKFILL_ENGINE})
        layers.update(enrich_layers(bf["progress"], got, bf["enrichers"]))
        layers["streaming.enrich.msgs_per_s"] = bf["enrich_msgs_per_s"]
        layers["backfill.collector_msgs_per_s"] = bf["collector_msgs_per_s"]
        layers["sources.live.prefetch_ms"] = measure.median(
            [p.durationMs.get("latestOffset", 0) for p in live["progress"]])
        layers["streaming.orchestrator.start_ms"] = measure.median(live["start_ms"])
        layers["live.on_time_pct"] = live["on_time_pct"]
        layers["live.dead_collectors"] = float(len(live["dead"]))
        layers["live.generator_late_p99_ms"] = live["generator_late_p99_ms"]
        layers.update(prefix_layers(
            spark, {k: feeds[k] for k in gen.COLLECTOR_TYPES}, os.path.join(work, "prefix")))
        layers["trace.work_per_s"] = res["work_per_s"]
        layers["trace.latency_p50_ms"] = measure.median(res["latency_samples"])
        res["layers"] = layers
    return res


# ---------------------------------------------------------------------------
# enrich queries


def _enrich_query(spark, kind: str, path: str, out: str, tag: str):
    """One enrich query over a replay capture: normalize, then the
    per-collector devices_map stage (ChirpStack) or the per-gateway
    location stage (TTN v2), counted by ``observe`` into a noop sink."""
    from pyspark.sql import functions as F

    from rolaguard_data_collectors_spark.streaming.enrich import (
        attach_location_by_gateway,
        enrich_per_collector,
    )

    raw = (
        spark.readStream.format("lorawan_replay")
        .option("path", path)
        .option("batchSize", str(ENRICH_BATCH))
        .load()
    )
    packets = _pipeline(kind)(raw)
    if kind == "chirpstack":
        out_df = enrich_per_collector(packets)
        merged = F.col("merged").cast("long")
    else:
        out_df = attach_location_by_gateway(packets)
        merged = F.col("latitude").isNotNull().cast("long")
    observed = out_df.observe(
        "enrich", F.count(F.lit(1)).alias("rows"), F.sum(merged).alias("merged")
    )
    return (
        observed.writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(out, f"{tag}_enrich_{kind}.ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
