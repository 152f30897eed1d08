"""Seeded input generator for the benchmark.

Everything the benchmark feeds the program is made here from one seed:

* ``board_tables`` writes the ten parquet tables the query board reads
  (the schemas and value domains of the repository's test tables, see
  TESTDATA.md: a TPC-H-ish star schema plus the ``events``/
  ``documents``/``embeddings`` tables), at sf0.001 row counts.
* ``collector_feed`` writes one JSONL capture per collector type — the
  ``{"topic", "value", "ts"}`` lines the ``lorawan_replay`` source and
  the ``replay`` transport read — and returns the ground truth the
  correctness checks need: which lines the normalize pipeline must
  publish, and (for ChirpStack and TTN v2) how many rows the stateful
  enrich stages must emit and merge.

Traffic properties (recorded per feed in ``Feed.traffic``; their values
are unverified assumptions, see the constants below):

* device population skew — devices are drawn from a Zipf law with
  exponent ``zipf_s``; skew concentrates per-device state and the
  decode memo on a few hot devices;
* message-kind mix — data-up, app, join, status and keep-alive lines;
  keep-alives and status lines exercise the route filters, app and join
  lines the enrich state machine;
* garbage share — torn capture lines (a writer crash mid-append) in
  replay feeds, whole lines with an undecodable body in live feeds (a
  live transport delivers whole messages); normalize must drop both;
* multi-gateway fan-out — how often one radio frame is heard by several
  gateways and so arrives as identical PHY payloads; this drives the
  decode memo's hit rate.

Every published line carries a unique ``_n`` field inside its JSON body
(ignored by the parsers' fixed schemas), so exactly-once publication is
checkable from the envelope's raw ``message`` alone.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from rolaguard_data_collectors_spark.functions import protobuf_codec
from rolaguard_data_collectors_spark.functions.lorawan_codec import (
    encode_data_frame,
    encode_join_request,
)

COLLECTOR_TYPES = {
    # type key -> (CollectorManager pipeline type, collector id)
    "mqtt": ("generic_mqtt_collector", 11),
    "chirpstack": ("chirpstack_collector", 12),
    "ttn_v2": ("ttn_collector", 13),
    "ttn_v3": ("ttn_v3_collector", 14),
}

BASE_TS = 1_700_000_000

# ---------------------------------------------------------------------------
# board tables


_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TS_US = pa.timestamp("us")


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def board_tables(out_dir: str, seed: int) -> dict:
    """Write the ten board tables at sf0.001 (TPC-H SF1 row counts /
    1000 for the star schema). Returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = 150, 10, 200
    n_ord, n_li, n_ev = 1500, 6000, 1000
    n_doc, n_emb, n_user = 500, 500, 15

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(
            _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)), _TS_US
        ),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(901, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(
            _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)), _TS_US
        ),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"), _TS_US),
        "user_id": rng.integers(0, n_user, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.06:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n_w = int(rng.integers(8, 110))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n_w)))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["de", "en", "en", "en", "es", "fr", "zh"], n_doc),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_li, "events": n_ev, "documents": n_doc, "embeddings": n_emb,
    }


# ---------------------------------------------------------------------------
# collector feeds


# Traffic properties that take one value in every workload. None of
# these values comes from a measured deployment: the repository holds no
# traffic captures, so each is an unverified assumption, chosen to make
# every route and state branch of the program run (see perfbench/README.md).

# kind -> weight; "up" is a data-up frame (fanned out over gateways)
MIX = {"up": 0.78, "join": 0.04, "status": 0.08, "keepalive": 0.10}
GARBAGE_SHARE = 0.015
# number of gateways hearing a frame -> probability
FANOUT = {1: 0.55, 2: 0.3, 3: 0.15}
# ChirpStack only: share of gateway uplinks carried as base64 protobuf
PB_SHARE = 0.05
# ChirpStack only: chance an app message follows a data-up frame of an
# already-known device (unknown devices always get one)
APP_SHARE = 0.3
# TTN v3 only: chance a downlink follows a data-up frame
DOWNLINK_SHARE = 0.1


@dataclass
class Traffic:
    """The traffic properties that differ between workloads (the rest
    are the module constants above)."""

    n_devices: int = 400
    n_gateways: int = 16
    zipf_s: float = 1.1
    torn_lines: bool = True  # replay capture (True) or live transport (False)

    def as_dict(self) -> dict:
        return {**asdict(self), "mix": MIX, "garbage_share": GARBAGE_SHARE,
                "fanout": FANOUT, "pb_share": PB_SHARE, "app_share": APP_SHARE,
                "downlink_share": DOWNLINK_SHARE}


@dataclass
class Feed:
    kind: str
    path: str
    lines: list  # the JSONL lines, in file order
    published: list  # raw ``value`` of every line normalize must publish
    published_at: list  # line index of each ``published`` value
    counts: dict  # message kind -> lines
    traffic: dict
    enrich_expect: dict | None = None  # emitted / merged rows (chirpstack, ttn_v2)

    @property
    def n(self) -> int:
        return len(self.lines)


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _iso(us: int) -> str:
    t = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(microseconds=us)
    return t.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def _dashed(hexs: str) -> str:
    return "-".join(hexs[i:i + 2] for i in range(0, len(hexs), 2)).upper()


class _Devices:
    def __init__(self, rng, traffic: Traffic):
        n = traffic.n_devices
        self.addr = [f"{0x26000000 + i:08x}" for i in range(n)]
        self.eui = [f"{0xB827EB0000000000 + i:016x}" for i in range(n)]
        self.key = [bytes(rng.integers(0, 256, 16, dtype=np.uint8)) for _ in range(n)]
        self.fcnt = [0] * n
        self.weights = _zipf_weights(n, traffic.zipf_s)

    def uplink(self, i: int) -> tuple[str, int]:
        """Next data-up frame of device ``i`` (base64, f_count)."""
        self.fcnt[i] += 1
        fc = self.fcnt[i]
        raw = encode_data_frame(
            self.key[i], self.addr[i], fc, payload=bytes([fc & 0xFF, i & 0xFF]) * 3,
            f_port=1 + i % 200,
        )
        return base64.b64encode(raw).decode(), fc

    def downlink(self, i: int) -> str:
        raw = encode_data_frame(
            self.key[i], self.addr[i], self.fcnt[i], uplink=False, f_port=None,
        )
        return base64.b64encode(raw).decode()

    def join(self, i: int, nonce: int) -> str:
        raw = encode_join_request(self.key[i], "70b3d57ed0000000", self.eui[i], nonce & 0xFFFF)
        return base64.b64encode(raw).decode()


def _gw_hex(g: int) -> str:
    return f"{0xAA555A0000000000 + g:016x}"


def _location(rng) -> dict:
    return {
        "latitude": round(float(rng.uniform(-35, -30)), 5),
        "longitude": round(float(rng.uniform(-58, -54)), 5),
        "altitude": float(rng.integers(0, 300)),
    }


def _messages(kind: str, rng, traffic: Traffic, n_target: int):
    """Yield (topic, value, publish, kind, meta) tuples until about
    ``n_target`` lines are produced. ``meta`` carries what the enrich
    predictions need."""
    dev = _Devices(rng, traffic)
    kinds = list(MIX)
    kw = np.array([MIX[k] for k in kinds])
    kw = kw / kw.sum()
    fan_k = list(FANOUT)
    fan_w = np.array([FANOUT[k] for k in fan_k])
    fan_w = fan_w / fan_w.sum()
    known: set = set()  # chirpstack devices whose app message was seen
    n = 0
    while n < n_target:
        if rng.random() < GARBAGE_SHARE:
            yield None, None, False, "garbage", {}
            n += 1
            continue
        k = kinds[int(rng.choice(len(kinds), p=kw))]
        d = int(rng.choice(traffic.n_devices, p=dev.weights))
        g0 = int(rng.integers(0, traffic.n_gateways))
        us = n * 1000 + int(rng.integers(0, 1000))
        if k == "up":
            frame, fc = dev.uplink(d)
            fan = int(fan_k[int(rng.choice(len(fan_k), p=fan_w))])
            gws = [(g0 + j) % traffic.n_gateways for j in range(fan)]
            for g in gws:
                n += 1
                rssi = float(-40 - rng.integers(0, 80))
                snr = round(float(rng.uniform(-10, 12)), 1)
                meta = {"route": "gw", "addr": dev.addr[d], "fcnt": fc, "gw": _gw_hex(g)}
                if kind == "mqtt":
                    body = {"data": frame.rstrip("="), "chan": g % 8, "stat": 1,
                            "lsnr": snr, "rssi": rssi, "tmst": n, "rfch": 0,
                            "freq": 868.1, "modu": "LORA", "datr": "SF7BW125",
                            "codr": "4/5", "size": len(frame), "_n": n}
                    yield f"lora/{_dashed(dev.eui[d])}/up", json.dumps(body), True, "up", meta
                elif kind == "chirpstack":
                    if rng.random() < PB_SHARE:
                        pb = protobuf_codec.encode_uplink_frame(
                            base64.b64decode(frame), gateway_id=bytes.fromhex(_gw_hex(g)),
                            rssi=int(rssi), lora_snr=snr, channel=g % 8, timestamp=n,
                            frequency=868_100_000,
                        )
                        yield (f"gateway/{_gw_hex(g)}/up", base64.b64encode(pb).decode(),
                               True, "up_pb", meta)
                    else:
                        body = {"phyPayload": frame, "rxInfo": {
                            "mac": _gw_hex(g), "timestamp": n, "rssi": rssi,
                            "loRaSNR": snr, "channel": g % 8, "rfChain": 0,
                            "crcStatus": 1, "frequency": 868_100_000,
                            "dataRate": {"modulation": "LORA", "spreadFactor": 7,
                                         "bandwidth": 125},
                            "codeRate": "4/5", "size": len(frame)}, "_n": n}
                        yield f"gateway/{_gw_hex(g)}/rx", json.dumps(body), True, "up", meta
                elif kind == "ttn_v2":
                    body = {"payload": frame, "snr": snr, "rssi": rssi,
                            "timestamp": _iso(us + n), "rfch": 0, "frequency": 868.1,
                            "coding_rate": "4/5", "dev_eui": _dashed(dev.eui[d]), "_n": n}
                    yield f"eui-{_gw_hex(g)}", f'gateway uplink "{json.dumps(body)}"', True, "up", meta
                else:
                    body = {"name": "gs.up.receive", "time": _iso(us + n),
                            "identifiers": [{"gateway_ids": {"gateway_id": f"gw-{g}",
                                                             "eui": _gw_hex(g).upper()}}],
                            "data": {"raw_payload": frame,
                                     "rx_metadata": [{"snr": snr, "rssi": rssi}],
                                     "settings": {"frequency": "868100000",
                                                  "coding_rate": "4/5"}}, "_n": n}
                    yield "", json.dumps(body), True, "up", meta
            if kind == "chirpstack" and (d not in known or rng.random() < APP_SHARE):
                known.add(d)
                n += 1
                body = {"fCnt": fc, "applicationName": f"app-{d % 7}",
                        "deviceName": f"dev-{d}", "devEUI": dev.eui[d],
                        "rxInfo": [{"name": f"gw-{gws[0]}", "location": _location(rng)}],
                        "_n": n}
                yield (f"application/{d % 7}/device/{dev.eui[d]}/rx", json.dumps(body),
                       True, "app", {"route": "app", "addr": dev.addr[d], "fcnt": fc})
            elif kind == "ttn_v3" and rng.random() < DOWNLINK_SHARE:
                n += 1
                body = {"name": "gs.down.send", "time": _iso(us + n),
                        "identifiers": [{"gateway_ids": {"gateway_id": f"gw-{g0}"}}],
                        "data": {"raw_payload": dev.downlink(d),
                                 "request": {"rx1_frequency": "869525000"}}, "_n": n}
                yield "", json.dumps(body), True, "down", {}
            continue
        n += 1
        if k == "join":
            meta = {"route": "join", "addr": dev.addr[d], "eui": dev.eui[d], "gw": _gw_hex(g0)}
            if kind == "mqtt":
                frame = dev.join(d, n)
                body = {"data": frame, "chan": 0, "stat": 1, "lsnr": 5.0, "rssi": -70.0,
                        "tmst": n, "rfch": 0, "freq": 868.1, "modu": "LORA",
                        "datr": "SF7BW125", "codr": "4/5", "size": 23, "_n": n}
                yield f"lora/{_dashed(dev.eui[d])}/up", json.dumps(body), True, k, meta
            elif kind == "chirpstack":
                body = {"devAddr": dev.addr[d], "devEUI": dev.eui[d], "_n": n}
                yield (f"application/{d % 7}/device/{dev.eui[d]}/join", json.dumps(body),
                       True, k, meta)
            elif kind == "ttn_v2":
                body = {"payload": dev.join(d, n), "snr": 5.0, "rssi": -70.0,
                        "timestamp": _iso(us), "rfch": 0, "frequency": 868.1,
                        "coding_rate": "4/5", "dev_eui": _dashed(dev.eui[d]), "_n": n}
                yield f"eui-{_gw_hex(g0)}", f'join request "{json.dumps(body)}"', True, k, meta
            else:
                body = {"name": "gs.up.receive", "time": _iso(us),
                        "identifiers": [{"gateway_ids": {"gateway_id": f"gw-{g0}",
                                                         "eui": _gw_hex(g0).upper()}}],
                        "data": {"raw_payload": dev.join(d, n),
                                 "rx_metadata": [{"snr": 5.0, "rssi": -70.0}],
                                 "settings": {"frequency": "868100000",
                                              "coding_rate": "4/5"}}, "_n": n}
                yield "", json.dumps(body), True, k, meta
        elif k == "status":
            loc = _location(rng)
            meta = {"route": "status", "gw": _gw_hex(g0)}
            if kind == "mqtt":  # gateway stat report: no 'data', dropped
                yield (f"lora/{_dashed(dev.eui[d])}/up",
                       json.dumps({"stat": {"rxnb": int(rng.integers(0, 9))}, "_n": n}),
                       False, k, meta)
            elif kind == "chirpstack":  # gateway stats topic: off-route
                yield (f"gateway/{_gw_hex(g0)}/stats",
                       json.dumps({"rxPacketsReceived": 3, "_n": n}), False, k, meta)
            elif kind == "ttn_v2":
                body = {"status": {"location": loc}, "_n": n}
                yield f"eui-{_gw_hex(g0)}", f"gateway status {json.dumps(body)}", True, k, meta
            else:
                body = {"name": "gs.status.receive",
                        "identifiers": [{"gateway_ids": {"gateway_id": f"gw-{g0}",
                                                         "eui": _gw_hex(g0).upper()}}],
                        "data": {"antenna_locations": [loc]}, "_n": n}
                yield "", json.dumps(body), True, k, meta
        else:  # keep-alive: every route filter drops it
            value = {"mqtt": "{}", "chirpstack": "{}", "ttn_v2": "h",
                     "ttn_v3": json.dumps({"name": "events.stream.start"})}[kind]
            topic = {"mqtt": f"lora/{_dashed(dev.eui[d])}/up",
                     "chirpstack": f"gateway/{_gw_hex(g0)}/stats",
                     "ttn_v2": f"eui-{_gw_hex(g0)}", "ttn_v3": ""}[kind]
            yield topic, value, False, k, {}


def _predict_chirpstack_enrich(metas: list) -> dict:
    """Rows ``enrich_per_collector`` emits over one collector's
    normalized rows, by the reference's devices_map / prev_packet rules
    (streaming/enrich.py): gateway frames of unknown devices buffer until
    the next arrival, an app message with an equal frame counter merges
    the buffered frame and learns the device, a join message learns it
    without flushing, app messages are never emitted."""
    known: set = set()
    buf = None
    emitted = merged = 0
    for m in metas:
        route = m.get("route")
        if route == "app":
            if buf is not None:
                emitted += 1
                if buf["fcnt"] == m["fcnt"]:
                    known.add(buf["addr"])
                    merged += 1
                buf = None
        elif route == "gw":
            if buf is not None:
                emitted += 1
                buf = None
            if m["addr"] in known:
                emitted += 1
            else:
                buf = m
        elif route == "join":
            known.add(m["addr"])
            emitted += 1
    return {"emitted": emitted, "merged": merged}


def _predict_ttn_v2_location(metas: list) -> dict:
    """Rows ``attach_location_by_gateway`` emits over TTN v2 normalized
    rows: a status line is consumed and arms its gateway's slot, the next
    frame of that gateway takes the location and clears the slot."""
    armed: set = set()
    emitted = attached = 0
    for m in metas:
        route = m.get("route")
        if route == "status":
            armed.add(m["gw"])
        elif route in ("gw", "join"):
            emitted += 1
            if m["gw"] in armed:
                attached += 1
                armed.discard(m["gw"])
    return {"emitted": emitted, "merged": attached}


def collector_feed(
    out_dir: str, kind: str, seed: int, n_lines: int, traffic: Traffic | None = None,
    write: bool = True,
) -> Feed:
    """Generate one collector type's capture (``collector_<id>.jsonl``
    in its own directory under ``out_dir``). With ``write=False`` only
    the lines are returned (the live workload appends them over time)."""
    traffic = traffic or Traffic()
    cid = COLLECTOR_TYPES[kind][1]
    rng = np.random.default_rng([seed, cid])
    lines, published, published_at, metas = [], [], [], []
    counts: dict = {}
    for topic, value, publish, mkind, meta in _messages(kind, rng, traffic, n_lines):
        i = len(lines)
        counts[mkind] = counts.get(mkind, 0) + 1
        if mkind == "garbage":
            if traffic.torn_lines:
                line = json.dumps({"topic": "gateway/torn/rx", "value": "x"})[:int(rng.integers(3, 20))]
            else:
                line = json.dumps({"topic": f"gateway/{_gw_hex(0)}/rx",
                                   "value": f"\u0000garbage-{i}", "ts": BASE_TS + i})
        else:
            line = json.dumps({"topic": topic, "value": value, "ts": BASE_TS + i // 100})
            if publish:
                published.append(value)
                published_at.append(i)
                metas.append(meta)
        lines.append(line)
    d = os.path.join(out_dir, kind)
    path = os.path.join(d, f"collector_{cid}.jsonl")
    if write:
        os.makedirs(d, exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
    expect = None
    if kind == "chirpstack":
        expect = _predict_chirpstack_enrich(metas)
    elif kind == "ttn_v2":
        expect = _predict_ttn_v2_location(metas)
    uniq = len(set(published))
    if uniq != len(published):
        raise RuntimeError(f"{kind}: published bodies are not unique")
    return Feed(kind, path, lines, published, published_at, counts, traffic.as_dict(),
                expect)
