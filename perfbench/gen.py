"""Seeded input generator for the engine benchmark.

One process, numpy + pyarrow, no Spark. Every input of every workload
is a function of ``--seed`` (and of the run length for the open-loop
stream). Alongside the inputs the generator computes the outcome the
engine must produce — per-table row counts, events by type, final
last-write-wins properties, trigger fires — from its own model of the
device protocol, so the benchmark checks the engine's outputs without
trusting the engine. It carries its own BSON encoder for the same
reason.

Print one workload's expected outcome, and write its inputs to a
directory:

    python3 perfbench/gen.py --workload device_queries --seed 7 --out inputs/
"""

from __future__ import annotations

import argparse
import base64
import json
import struct
import zlib
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REALM = "benchrealm"
TELEMETRY = "com.iot.Telemetry"
LCD = "com.test.LCDMonitor"
STREAM_IF = "com.test.SimpleStreamTest"
OBJECT_IF = "com.example.TestObject"
UNKNOWN_IF = "com.iot.Unknown"
SENSORS = ("purchase", "error", "signup", "view", "click")
LCD_LONG_PATHS = ("/time/from", "/time/to", "/weekSchedule/mon/start", "/weekSchedule/fri/stop")
LCD_STRING_PATH = "/lcdCommand"
LCD_PATHS = tuple(sorted((*LCD_LONG_PATHS, LCD_STRING_PATH)))
TRIGGER_PATH = "/time/from"
TRIGGER_THRESHOLD = 500
T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)

#: property_stream: devices, offered rate, frame-file period, and the
#: unmeasured traffic between the introspection wave and the window
STREAM_DEVICES = 200
STREAM_RATE_PER_S = 200.0
STREAM_FILE_INTERVAL_S = 0.25
STREAM_WARMUP_S = 5.0
#: device_queries: telemetry devices, mean samples and property
#: messages per device, realm retention cap
QUERY_DEVICES = 120
QUERY_MSGS_PER_DEVICE = 40
QUERY_PROPERTIES_PER_DEVICE = 4
QUERY_RETENTION_S = 6 * 3600
#: share of device point reads whose range holds live rows; the rest
#: lie wholly in expired data and must come back empty
POINT_READ_LIVE_SHARE = 0.8
#: declares 32 bytes, carries 7: the engine's decoder must reject it
MALFORMED_PAYLOAD = b"\x20\x00\x00\x00\x01v\x00"

MESSAGE_ARROW_SCHEMA = pa.schema(
    [
        ("message_id", pa.string()),
        ("reception_timestamp", pa.timestamp("us", tz="UTC")),
        ("realm", pa.string()),
        ("device_id", pa.string()),
        ("msg_type", pa.string()),
        ("interface", pa.string()),
        ("path", pa.string()),
        ("payload", pa.binary()),
        ("ip_address", pa.string()),
    ]
)
#: the Kafka source's record schema, as the file stream reads it
FRAME_ARROW_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("timestampType", pa.int32()),
        ("headers", pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))),
    ]
)
EVENTS_ARROW_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


# ---------------------------------------------------------------------------
# BSON (the subset device payloads use)
# ---------------------------------------------------------------------------


def bson(doc: dict) -> bytes:
    """Encode ``doc`` as a BSON document: double, string, document,
    binary, boolean, UTC datetime, int32 and int64 elements."""
    body = bytearray()
    for key, val in doc.items():
        name = key.encode("utf-8") + b"\x00"
        if isinstance(val, bool):
            body += b"\x08" + name + (b"\x01" if val else b"\x00")
        elif isinstance(val, float):
            body += b"\x01" + name + struct.pack("<d", val)
        elif isinstance(val, int):
            if -(2**31) <= val < 2**31:
                body += b"\x10" + name + struct.pack("<i", val)
            else:
                body += b"\x12" + name + struct.pack("<q", val)
        elif isinstance(val, str):
            raw = val.encode("utf-8") + b"\x00"
            body += b"\x02" + name + struct.pack("<i", len(raw)) + raw
        elif isinstance(val, bytes):
            body += b"\x05" + name + struct.pack("<i", len(val)) + b"\x00" + val
        elif isinstance(val, datetime):
            body += b"\x09" + name + struct.pack("<q", round(val.timestamp() * 1000))
        elif isinstance(val, dict):
            body += b"\x03" + name + bson(val)
        else:
            raise TypeError(f"no BSON encoding for {type(val).__name__}")
    return struct.pack("<i", len(body) + 5) + bytes(body) + b"\x00"


def prune_payload(alive: list[tuple[str, str]]) -> bytes:
    """/producer/properties payload: big-endian size + zlib of
    ``interface/path`` entries joined by ``;``."""
    raw = ";".join(f"{iface}{path}" for iface, path in alive).encode("utf-8")
    return struct.pack(">I", len(raw)) + zlib.compress(raw)


def device_ids(rng: np.random.Generator, n: int) -> list[str]:
    """Astarte-style device ids: 128 random bits, base64url, unpadded."""
    raw = rng.integers(0, 256, size=(n, 16), dtype=np.uint8)
    return [base64.urlsafe_b64encode(r.tobytes()).decode().rstrip("=") for r in raw]


def _to_us(ts: datetime) -> int:
    return int(ts.timestamp()) * 1_000_000 + ts.microsecond


# ---------------------------------------------------------------------------
# Device model: what the engine must do with each message
# ---------------------------------------------------------------------------


@dataclass
class Model:
    """Expected outcome of folding a message sequence, per the device
    protocol: the same rules the engine implements, written
    independently and only for the message shapes generated here."""

    events: Counter = field(default_factory=Counter)
    datastream_rows: int = 0
    dead_letters: int = 0
    commands: int = 0
    #: (device_id, interface, path) -> final value of every live property
    properties: dict = field(default_factory=dict)
    #: device_id -> {trigger_id: threshold}
    triggers: dict = field(default_factory=dict)
    seen: set = field(default_factory=set)
    introspection: dict = field(default_factory=dict)

    def fold(self, m: dict, decoded=None) -> str:
        """Apply message ``m``; ``decoded`` is the value it carries.
        Returns the outcome: stored, duplicate, dead_letter or other."""
        dev, kind = m["device_id"], m["msg_type"]
        if m["message_id"] in self.seen:
            return "duplicate"
        self.seen.add(m["message_id"])
        ev = self.events
        if kind == "introspection":
            ev["incoming_introspection"] += 1
            names = [e.split(":")[0] for e in m["payload"].decode().split(";")]
            ev["interface_added"] += len(set(names) - self.introspection.get(dev, set()))
            self.introspection[dev] = set(names)
            return "other"
        if kind == "connection":
            ev["device_connected"] += 1
            return "other"
        if kind == "disconnection":
            ev["device_disconnected"] += 1
            return "other"
        if kind == "install_volatile_trigger":
            spec = json.loads(m["payload"])
            self.triggers.setdefault(dev, {})[spec["trigger_id"]] = spec["known_value"]
            ev["volatile_trigger_installed"] += 1
            return "other"
        if kind == "delete_volatile_trigger":
            del self.triggers[dev][json.loads(m["payload"])["trigger_id"]]
            ev["volatile_trigger_deleted"] += 1
            return "other"
        if kind == "control":
            if m["path"] == "/emptyCache":
                ev["device_empty_cache_received"] += 1
                self.commands += 1
                return "other"
            alive = decoded
            for key in sorted(k for k in self.properties if k[0] == dev):
                if (key[1], key[2]) not in alive:
                    del self.properties[key]
                    ev["path_removed"] += 1
            return "other"
        # data
        iface, path = m["interface"], m["path"]
        if iface not in self.introspection.get(dev, ()) or decoded is MALFORMED_PAYLOAD:
            self.dead_letters += 1
            self.commands += 1  # every data error asks for a clean session
            return "dead_letter"
        if iface == OBJECT_IF:
            ev["incoming_data"] += 1
            return "stored"
        key = (dev, iface, path)
        if decoded is None:  # unset
            if self.properties.pop(key, None) is not None:
                ev["path_removed"] += 1
            return "stored"
        ev["incoming_data"] += 1
        if iface == LCD:
            if path == TRIGGER_PATH:
                ev["volatile_trigger_fired"] += sum(
                    decoded > k for k in self.triggers.get(dev, {}).values()
                )
            prev = self.properties.get(key)
            if prev is None:
                ev["path_created"] += 1
            elif prev != decoded:
                ev["value_change"] += 1
                ev["value_change_applied"] += 1
            self.properties[key] = decoded
        else:
            ev["value_stored"] += 1
            self.datastream_rows += 1
        return "stored"

    def expect(self) -> dict:
        return {
            "events": dict(sorted(self.events.items())),
            "datastream_rows": self.datastream_rows,
            "dead_letters": self.dead_letters,
            "commands": self.commands,
            "properties_live": len(self.properties),
        }


# ---------------------------------------------------------------------------
# Telemetry (device_queries)
# ---------------------------------------------------------------------------


@dataclass
class Telemetry:
    messages: list[dict]
    devices: list[str]
    expect: dict
    model: Model
    #: (device_id, sensor) -> (reception micros, value) of every stored sample
    samples: dict
    retention_s: int | None
    events_table: pa.Table
    decode_inputs: list[bytes]

    def arrow(self) -> pa.Table:
        return pa.Table.from_pylist(self.messages, schema=MESSAGE_ARROW_SCHEMA)


def telemetry(
    seed: int,
    n_devices: int,
    msgs_per_device: int,
    *,
    properties_per_device: int = 0,
    retention_s: int | None = None,
    fault_frac: float = 0.01,
) -> Telemetry:
    """Devices announce their introspection, connect, send double
    samples on ``/%{sensor}/value`` across one day, and disconnect.
    About ``fault_frac`` of the samples each carry malformed BSON, name
    an interface outside the introspection, or are redelivered."""
    rng = np.random.default_rng(seed)
    devs = device_ids(rng, n_devices)
    intro = f"{TELEMETRY}:1:0" + (f";{LCD}:1:3" if properties_per_device else "")
    day_us = 86_400 * 1_000_000
    t0 = _to_us(T0)
    msgs: list[dict] = []
    model = Model()
    samples: dict = {}
    ev_rows = {k: [] for k in EVENTS_ARROW_SCHEMA.names}
    decode_inputs: list[bytes] = []

    def msg(dev, i, ts_us, kind, iface=None, path=None, payload=None, ip=None):
        m = {
            "message_id": f"{dev}-{i:06d}",
            "reception_timestamp": T0 + timedelta(microseconds=ts_us - t0),
            "realm": REALM, "device_id": dev, "msg_type": kind,
            "interface": iface, "path": path, "payload": payload, "ip_address": ip,
        }
        msgs.append(m)
        return m

    for d, dev in enumerate(devs):
        n = int(rng.integers(msgs_per_device // 2, msgs_per_device * 3 // 2 + 1))
        times = np.sort(rng.choice(day_us, size=n + properties_per_device, replace=False)) + t0
        order = rng.permutation(len(times))  # which slots carry properties
        prop_slots = set(order[:properties_per_device].tolist())
        sensors = rng.integers(0, len(SENSORS), size=len(times))
        values = np.round(rng.uniform(0, 400, size=len(times)), 2)
        faults = rng.random(len(times))
        lcd_vals = rng.integers(0, 6, size=len(times))
        i = 0
        model.fold(msg(dev, i, t0 - 10_000_000, "introspection", payload=intro.encode()))
        model.fold(msg(dev, i + 1, t0 - 5_000_000, "connection", ip=f"10.0.{d // 250}.{d % 250}"))
        i = 2
        for k, ts in enumerate(times.tolist()):
            if k in prop_slots:
                path = LCD_LONG_PATHS[k % 2]
                if lcd_vals[k] == 0:
                    m = msg(dev, i, ts, "data", LCD, path, b"")
                    model.fold(m, None)
                else:
                    v = int(lcd_vals[k]) * 100
                    m = msg(dev, i, ts, "data", LCD, path, bson({"v": v}))
                    model.fold(m, v)
                i += 1
                continue
            sensor = SENSORS[sensors[k]]
            path = f"/{sensor}/value"
            v = float(values[k])
            if faults[k] < fault_frac:
                m = msg(dev, i, ts, "data", TELEMETRY, path, MALFORMED_PAYLOAD)
                decode_inputs.append(MALFORMED_PAYLOAD)
                model.fold(m, MALFORMED_PAYLOAD)
            elif faults[k] < 2 * fault_frac:
                model.fold(msg(dev, i, ts, "data", UNKNOWN_IF, path, bson({"v": v})), v)
            else:
                payload = bson({"v": v})
                decode_inputs.append(payload)
                m = msg(dev, i, ts, "data", TELEMETRY, path, payload)
                model.fold(m, v)
                samples.setdefault((dev, sensor), []).append((ts, v))
                ev_rows["event_id"].append(len(ev_rows["event_id"]))
                ev_rows["ts"].append(ts)
                ev_rows["user_id"].append(d)
                ev_rows["event_type"].append(sensor)
                ev_rows["value"].append(v)
                ev_rows["props"].append(json.dumps({"k": int(ts % 97)}))
                if faults[k] < 3 * fault_frac:  # redelivery of the same message
                    dup = dict(m, reception_timestamp=m["reception_timestamp"] + timedelta(milliseconds=1))
                    msgs.append(dup)
                    model.fold(dup, v)
            i += 1
        model.fold(msg(dev, i, t0 + day_us + 5_000_000, "disconnection"))

    events_table = pa.table(
        {
            "event_id": pa.array(ev_rows["event_id"], pa.int64()),
            "ts": pa.array(ev_rows["ts"], pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(ev_rows["user_id"], pa.int64()),
            "event_type": pa.array(ev_rows["event_type"], pa.string()),
            "value": pa.array(ev_rows["value"], pa.float64()),
            "props": pa.array(ev_rows["props"], pa.string()),
        },
        schema=EVENTS_ARROW_SCHEMA,
    )
    expect = model.expect()
    expect["devices"] = n_devices
    expect["messages"] = len(msgs)
    return Telemetry(msgs, devs, expect, model, samples, retention_s, events_table, decode_inputs)


@dataclass
class PointRead:
    device_id: str
    sensor: str
    start_us: int
    end_us: int
    rows: int
    value_sum: float


def point_reads(tel: Telemetry, seed: int, n: int, now_us: int) -> list[PointRead]:
    """Device point reads (interface, path and a time range) with the
    rows the TTL read filter must return at ``now_us``.

    A share ``POINT_READ_LIVE_SHARE`` of the ranges end on a sample that
    is still live, and start on any earlier sample, so they return rows
    and cross the retention boundary. The rest lie wholly among expired
    samples: the filter must return nothing for them."""
    rng = np.random.default_rng(seed + 1_000_003)
    cutoff = now_us - tel.retention_s * 1_000_000 if tel.retention_s else None

    def live(t: int) -> bool:
        return cutoff is None or t > cutoff

    keys = sorted(tel.samples)
    live_keys = [k for k in keys if any(live(t) for t, _ in tel.samples[k])]
    expired_keys = [k for k in keys if not live(tel.samples[k][0][0])]
    n_live = round(n * POINT_READ_LIVE_SHARE) if expired_keys else n
    out = []
    for r in rng.permutation(n).tolist():
        pool = live_keys if r < n_live else expired_keys
        key = pool[int(rng.integers(0, len(pool)))]
        ts = [t for t, _ in tel.samples[key]]
        if r < n_live:
            b = int(rng.choice([i for i, t in enumerate(ts) if live(t)]))
        else:
            b = int(rng.choice([i for i, t in enumerate(ts) if not live(t)]))
        a = int(rng.integers(0, b + 1))
        start, end = ts[a], ts[b] + 1
        rows = [v for t, v in tel.samples[key] if start <= t < end and live(t)]
        out.append(PointRead(key[0], key[1], start, end, len(rows), round(sum(rows), 6)))
    return out


# ---------------------------------------------------------------------------
# Open-loop property stream (property_stream)
# ---------------------------------------------------------------------------

#: message mix after the introspection wave, by share of messages
STREAM_MIX = (
    ("property_set", 0.46),
    ("unset", 0.07),
    ("datastream", 0.18),
    ("object", 0.07),
    ("trigger", 0.06),
    ("prune", 0.03),
    ("empty_cache", 0.02),
    ("connection", 0.04),
    ("redelivery", 0.07),
)


#: device popularity exponent: device k gets a share of traffic ~ 1/k^s
ZIPF_S = 1.1

#: redeliveries repeat one of the device's last N messages, well inside
#: the engine's per-device dedup window (at least 2048 message ids)
REDELIVERY_WINDOW = 1000


@dataclass
class StreamFile:
    due_s: float  # offset from the stream's start at which it is written
    measured: bool  # inside the measured window (not warm-up or drain)
    frames: list[dict]  # FRAME_ARROW_SCHEMA rows, timestamp filled when written


@dataclass
class Stream:
    files: list[StreamFile]
    expect: dict
    model: Model

    def messages(self) -> list[dict]:
        """The frames as the engine's message dicts, stamped from T0
        with each file's due offset, for the single-thread baseline."""
        out = []
        for f in self.files:
            ts = T0 + timedelta(seconds=f.due_s)
            for j, frame in enumerate(f.frames):
                m = _message_of(frame)
                m.update(realm=REALM, ip_address=None, reception_timestamp=ts + timedelta(microseconds=j))
                out.append(m)
        return out


def _frame(seq: int, dev: str, kind: str, iface=None, path=None, payload=b"") -> dict:
    headers = [("x_realm", REALM), ("x_device", dev), ("x_type", kind),
               ("x_message_id", f"m{seq:09d}")]
    if iface:
        headers.append(("x_interface", iface))
    if path:
        headers.append(("x_path", path))
    return {
        "key": dev.encode(), "value": payload, "topic": "astarte-data",
        "partition": seq % 4, "offset": seq, "timestamp": None, "timestampType": 0,
        "headers": [{"key": k, "value": v.encode()} for k, v in headers],
    }


def _message_of(frame: dict) -> dict:
    h = {x["key"]: x["value"].decode() for x in frame["headers"]}
    return {
        "message_id": h["x_message_id"], "device_id": h["x_device"], "msg_type": h["x_type"],
        "interface": h.get("x_interface"), "path": h.get("x_path"), "payload": frame["value"],
    }


def property_stream(
    seed: int,
    n_devices: int,
    rate_per_s: float,
    file_interval_s: float,
    warmup_s: float,
    measure_s: float,
) -> Stream:
    """Kafka-shaped frames for an open loop at ``rate_per_s``: an
    introspection wave, then the property mix for ``warmup_s`` +
    ``measure_s`` seconds, one file every ``file_interval_s``. Device
    popularity is Zipf-skewed."""
    rng = np.random.default_rng(seed)
    devs = device_ids(rng, n_devices)
    model = Model()
    popularity = 1.0 / np.arange(1, n_devices + 1) ** ZIPF_S
    popularity /= popularity.sum()
    kinds = [k for k, _ in STREAM_MIX]
    shares = np.array([s for _, s in STREAM_MIX])
    shares /= shares.sum()
    intro = f"{LCD}:1:3;{STREAM_IF}:1:0;{OBJECT_IF}:1:5".encode()
    history: dict[str, list[dict]] = {d: [] for d in devs}
    trigger_seq = Counter()
    seq = 0

    def emit(dev, kind, iface=None, path=None, payload=b"", decoded=None) -> dict:
        nonlocal seq
        f = _frame(seq, dev, kind, iface, path, payload)
        seq += 1
        model.fold(_message_of(f), decoded)
        history[dev].append(f)
        return f

    files = [StreamFile(0.0, False, [])]
    for dev in devs:
        files[0].frames.append(emit(dev, "introspection", payload=intro))
        files[0].frames.append(emit(dev, "connection"))
    per_file = max(1, round(rate_per_s * file_interval_s))
    n_files = int(round((warmup_s + measure_s) / file_interval_s))
    for fi in range(1, n_files + 1):
        due = fi * file_interval_s
        frames = []
        for dev_i, kind in zip(
            rng.choice(n_devices, size=per_file, p=popularity).tolist(),
            rng.choice(len(kinds), size=per_file, p=shares).tolist(),
        ):
            dev = devs[dev_i]
            kind = kinds[kind]
            props = [p for p in LCD_PATHS if (dev, LCD, p) in model.properties]
            if kind == "property_set":
                path = LCD_LONG_PATHS[int(rng.integers(0, len(LCD_LONG_PATHS)))] if rng.random() < 0.8 else LCD_STRING_PATH
                prev = model.properties.get((dev, LCD, path))
                if prev is not None and rng.random() < 0.5:
                    v = prev  # re-send the stored value: no change event
                elif path == LCD_STRING_PATH:
                    v = f"cmd-{int(rng.integers(0, 50))}"
                else:
                    v = int(rng.integers(0, 1000))
                frames.append(emit(dev, "data", LCD, path, bson({"v": v}), v))
            elif kind == "unset":
                path = props[int(rng.integers(0, len(props)))] if props else LCD_LONG_PATHS[0]
                frames.append(emit(dev, "data", LCD, path, b"", None))
            elif kind == "datastream":
                v = int(rng.integers(-1000, 1000))
                path = f"/{int(rng.integers(0, 8))}/value"
                frames.append(emit(dev, "data", STREAM_IF, path, bson({"v": v}), v))
            elif kind == "object":
                doc = {"v": {"string": f"s{int(rng.integers(0, 100))}", "value": float(rng.uniform(-1, 1))},
                       "t": T0 + timedelta(seconds=int(rng.integers(0, 86_400)))}
                frames.append(emit(dev, "data", OBJECT_IF, "/", bson(doc), doc["v"]))
            elif kind == "trigger":
                installed = model.triggers.get(dev)
                if installed:
                    tid = sorted(installed)[0]
                    frames.append(emit(dev, "delete_volatile_trigger",
                                       payload=json.dumps({"trigger_id": tid}).encode()))
                else:
                    trigger_seq[dev] += 1
                    spec = {"trigger_id": f"{dev}-t{trigger_seq[dev]}", "interface": LCD,
                            "path": TRIGGER_PATH, "op": "GREATER_THAN",
                            "known_value": TRIGGER_THRESHOLD}
                    frames.append(emit(dev, "install_volatile_trigger",
                                       payload=json.dumps(spec).encode()))
            elif kind == "prune":
                keep = [(LCD, p) for p in props if rng.random() < 0.6]
                frames.append(emit(dev, "control", None, "/producer/properties",
                                   prune_payload(keep), set(keep)))
            elif kind == "empty_cache":
                frames.append(emit(dev, "control", None, "/emptyCache"))
            elif kind == "connection":
                frames.append(emit(dev, "disconnection" if rng.random() < 0.5 else "connection"))
            else:  # redelivery of one of this device's recent messages
                recent = history[dev][-REDELIVERY_WINDOW:]
                f = recent[int(rng.integers(0, len(recent)))]
                model.fold(_message_of(f))
                frames.append(f)
        files.append(StreamFile(due, due > warmup_s, frames))
    expect = model.expect()
    expect["messages"] = sum(len(f.frames) for f in files)
    return Stream(files, expect, model)


def stream_file_table(frames: list[dict], due_us: int) -> pa.Table:
    """One frame file: frame ``j`` is stamped ``due_us + j`` micros,
    its creation time."""
    rows = [dict(f, timestamp=due_us + j) for j, f in enumerate(frames)]
    return pa.Table.from_pylist(rows, schema=FRAME_ARROW_SCHEMA)


def query_inputs(seed: int) -> Telemetry:
    return telemetry(seed, QUERY_DEVICES, QUERY_MSGS_PER_DEVICE,
                     properties_per_device=QUERY_PROPERTIES_PER_DEVICE,
                     retention_s=QUERY_RETENTION_S)


def stream_inputs(seed: int, measure_s: float) -> Stream:
    return property_stream(seed, STREAM_DEVICES, STREAM_RATE_PER_S, STREAM_FILE_INTERVAL_S,
                           STREAM_WARMUP_S, measure_s)


def write_query_inputs(tel: Telemetry, out: Path, parts: int) -> None:
    """``out/messages/`` (MESSAGE_SCHEMA rows in ``parts`` files) and
    ``out/events.parquet`` (the stored samples as an events table)."""
    (out / "messages").mkdir(parents=True)
    table = tel.arrow()
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), out / "messages" / f"part-{i:03d}.parquet")
    pq.write_table(tel.events_table, out / "events.parquet")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("property_stream", "device_queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0, help="property_stream measured window")
    ap.add_argument("--out", type=Path, help="write the inputs here (frame files stamped from T0)")
    args = ap.parse_args()
    if args.workload == "property_stream":
        inputs = stream_inputs(args.seed, args.seconds)
        if args.out:
            (args.out / "frames").mkdir(parents=True)
            for i, f in enumerate(inputs.files):
                due_us = _to_us(T0) + round(f.due_s * 1_000_000)
                pq.write_table(stream_file_table(f.frames, due_us), args.out / "frames" / f"f{i:05d}.parquet")
    else:
        inputs = query_inputs(args.seed)
        if args.out:
            write_query_inputs(inputs, args.out, 4)
    summary = json.dumps(inputs.expect, indent=1)
    if args.out:
        (args.out / "expected.json").write_text(summary)
    print(summary)


if __name__ == "__main__":
    main()
