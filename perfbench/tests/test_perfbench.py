"""The benchmark's own tests: generator determinism, the BENCHMARK.json
contract, the tail-percentile rule, the enrich predictions and a small
end-to-end smoke run.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import collectors, gen, measure  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)

METRIC_NAME = r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"


# --- generator --------------------------------------------------------------


@pytest.mark.parametrize("kind", sorted(gen.COLLECTOR_TYPES))
def test_feed_is_deterministic_per_seed(tmp_path, kind):
    a = gen.collector_feed(str(tmp_path / "a"), kind, 7, 400)
    b = gen.collector_feed(str(tmp_path / "b"), kind, 7, 400)
    c = gen.collector_feed(str(tmp_path / "c"), kind, 8, 400)
    assert a.lines == b.lines and a.published == b.published
    assert a.enrich_expect == b.enrich_expect
    assert a.lines != c.lines
    with open(a.path, encoding="utf-8") as fh:
        assert fh.read().splitlines() == a.lines


def test_board_tables_are_deterministic_per_seed(tmp_path):
    gen.board_tables(str(tmp_path / "a"), 3)
    gen.board_tables(str(tmp_path / "b"), 3)
    gen.board_tables(str(tmp_path / "c"), 4)
    for name in ("lineitem", "documents", "embeddings", "events"):
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
        assert not ta.equals(pq.read_table(tmp_path / "c" / f"{name}.parquet"))


def test_feed_traffic_properties(tmp_path):
    feed = gen.collector_feed(str(tmp_path), "chirpstack", 1, 3000)
    kinds = feed.counts
    for k in ("up", "up_pb", "app", "join", "status", "keepalive", "garbage"):
        assert kinds.get(k, 0) > 0, k
    assert 0.005 < kinds["garbage"] / feed.n < 0.03
    assert len(set(feed.published)) == len(feed.published)
    for i, value in zip(feed.published_at, feed.published):
        assert json.loads(feed.lines[i])["value"] == value


def test_live_feeds_have_no_torn_lines(tmp_path):
    feed = gen.collector_feed(str(tmp_path), "mqtt", 1, 2000,
                              gen.Traffic(torn_lines=False))
    assert feed.counts["garbage"] > 0
    for line in feed.lines:
        json.loads(line)  # every line is whole JSON


def test_chirpstack_enrich_prediction_follows_the_state_rules():
    gw = lambda addr, fc: {"route": "gw", "addr": addr, "fcnt": fc}  # noqa: E731
    app = lambda addr, fc: {"route": "app", "addr": addr, "fcnt": fc}  # noqa: E731
    metas = [
        gw("a", 1), gw("a", 1), app("a", 1),  # fan-out: one flush, one merge
        gw("a", 2),                           # known now: emitted at once
        gw("b", 1), app("b", 9),              # counter differs: flush unmerged
        {"route": "join", "addr": "c"},       # join: emitted, learns c
        gw("c", 1),                           # known via join
        gw("d", 1),                           # last buffered frame: waits
    ]
    assert gen._predict_chirpstack_enrich(metas) == {"emitted": 6, "merged": 1}


def test_ttn_v2_location_prediction():
    metas = [
        {"route": "status", "gw": "g1"},
        {"route": "gw", "gw": "g1"},  # takes the location
        {"route": "gw", "gw": "g1"},  # slot already reset
        {"route": "status", "gw": "g2"},
        {"route": "join", "gw": "g2"},  # joins take it too
    ]
    assert gen._predict_ttn_v2_location(metas) == {"emitted": 3, "merged": 2}


# --- live latency samples ----------------------------------------------------


def _live_case(tmp_path, n_published):
    """A live feed due at 100 lines/s from t=0 and a queue holding its
    first ``n_published`` messages, committed 0.5 s after each was due,
    one epoch per ten messages."""
    feed = gen.collector_feed(str(tmp_path), "mqtt", 5, 300, gen.Traffic(torn_lines=False),
                              write=False)
    due = [j / 100.0 for j in range(feed.n)]
    n_published = min(n_published, len(feed.published))
    queued, commits, pos = [], {}, 0
    for i, (value, j) in enumerate(zip(feed.published[:n_published],
                                       feed.published_at[:n_published])):
        env = json.dumps({"messages": [{"message": value}]})
        queued.append(env)
        pos += len(env.encode("utf-8")) + 1
        if i % 10 == 9 or i == n_published - 1:
            commits[pos] = due[j] + 0.5
    grace_end = due[-1] + 5.0
    return feed, queued, commits, due, grace_end


def test_live_lags_one_sample_per_epoch(tmp_path):
    feed, queued, commits, due, grace_end = _live_case(tmp_path, 10**6)
    lags, on_time = collectors.live_lags(feed, queued, 0, commits, due, grace_end, grace_end)
    assert len(lags) == len(commits)
    assert all(500.0 <= x < 2000.0 for x in lags)
    assert on_time == len(feed.published)


def test_live_lags_grow_when_a_collector_stops_publishing(tmp_path):
    feed, queued, commits, due, grace_end = _live_case(tmp_path, 10**6)
    healthy, _ = collectors.live_lags(feed, queued, 0, commits, due, grace_end, grace_end)
    for n in (0, len(feed.published) // 2):  # dead from the start, stalled midway
        feed, queued, commits, due, grace_end = _live_case(tmp_path, n)
        lags, on_time = collectors.live_lags(feed, queued, 0, commits, due, grace_end,
                                             grace_end)
        assert on_time == n
        assert len(lags) >= len(feed.published) - n > 0
        assert measure.median(lags) > measure.median(healthy)
        assert min(lags[-(len(feed.published) - n):]) >= 5000.0


# --- BENCHMARK.json contract -------------------------------------------------


def test_benchmark_json_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert 1 <= SPEC["run_seconds"] <= 60
    assert 2 <= len(SPEC["workloads"]) <= 8
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
        assert "\n" not in w["why"]
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    for p in SPEC["paths"]:
        assert re.fullmatch(r"[A-Za-z0-9_./-]{1,200}", p)
        assert os.path.isdir(os.path.join(ROOT, p))


def test_metric_names_and_units():
    names = [w["name"] for w in SPEC["workloads"]]
    for group in ("end_to_end", "per_layer"):
        for m in SPEC[group]:
            names.append(m["name"])
            assert re.fullmatch(METRIC_NAME, m["name"]), m["name"]
            assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m["unit"]
            assert m["better"] in ("higher", "lower")
    assert len(names) == len(set(names))


# --- tail rule ---------------------------------------------------------------


@pytest.mark.parametrize("n", [11, 12, 20, 40, 100, 1000])
def test_tail_has_ten_samples_beyond(n):
    xs = list(range(n))
    value, pct, count = measure.tail(xs)
    assert count == n
    assert sum(1 for x in xs if x > value) == 10
    # the next-higher percentile would leave only nine beyond it
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_tail_of_few_samples_is_the_maximum():
    assert measure.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


# --- runs ---------------------------------------------------------------------


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=180,
    )


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    res = _run(str(tmp_path), "--workload", SPEC["workloads"][0]["name"],
               "--seed", "1", "--seconds", "1", "--trace", "0")
    assert res.returncode != 0
    assert '"metrics"' not in res.stdout


def test_smoke_collectors_end_to_end():
    res = _run(ROOT, "--workload", "collectors", "--seed", "3",
               "--seconds", "1", "--trace", "0")
    assert res.returncode == 0, res.stderr[-2000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] > 0
    assert set(out["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0
