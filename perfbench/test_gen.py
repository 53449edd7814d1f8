"""Checks of the benchmark's generator, without Spark:

    python3 -m pytest perfbench -q

The BSON encoder must round-trip through the engine's decoder, and the
generator's model must agree with the engine's pure state machine on
the generated message sequences, or the benchmark's correctness checks
would judge the engine against a wrong expectation.
"""

from __future__ import annotations

import sys
from collections import Counter
from datetime import datetime, timezone
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import gen  # noqa: E402
from astarte_data_updater_plant_spark.catalog import fixture_interfaces  # noqa: E402
from astarte_data_updater_plant_spark.functions.payloads import (  # noqa: E402
    PayloadError,
    decode_bson_payload,
    safe_inflate,
)
from astarte_data_updater_plant_spark.sources.stream import telemetry_interface  # noqa: E402
from astarte_data_updater_plant_spark.streaming.state_machine import (  # noqa: E402
    Catalog,
    DeviceState,
    process_device_messages,
)

T = datetime(2024, 3, 1, 12, 30, 15, 250_000, tzinfo=timezone.utc)


@pytest.mark.parametrize(
    "value",
    [1.5, -0.0, 42, -(2**31), 2**40, "cmd-7", "ünï", True, False,
     {"string": "s1", "value": 0.25}],
)
def test_bson_value_round_trips_through_engine_decoder(value):
    decoded = decode_bson_payload(gen.bson({"v": value}))
    assert decoded.value == value and type(decoded.value) is type(value)
    assert decoded.timestamp_ms is None


def test_bson_timestamp_and_unset():
    decoded = decode_bson_payload(gen.bson({"v": {"value": 1.0}, "t": T}))
    assert decoded.value == {"value": 1.0}
    assert decoded.timestamp_ms == int(T.timestamp() * 1000)
    assert decode_bson_payload(gen.bson({"v": b""})).value is None
    assert decode_bson_payload(b"").value is None


def test_malformed_payload_is_rejected():
    with pytest.raises(PayloadError):
        decode_bson_payload(gen.MALFORMED_PAYLOAD)


def test_prune_payload_inflates():
    payload = gen.prune_payload([(gen.LCD, "/time/from"), (gen.LCD, "/lcdCommand")])
    assert safe_inflate(payload[4:]) == b"com.test.LCDMonitor/time/from;com.test.LCDMonitor/lcdCommand"


def test_same_seed_same_inputs():
    a, b = gen.telemetry(5, 20, 10), gen.telemetry(5, 20, 10)
    assert a.messages == b.messages and a.expect == b.expect
    assert gen.telemetry(6, 20, 10).messages != a.messages
    s1 = gen.property_stream(5, 20, 100, 0.25, 1, 2)
    s2 = gen.property_stream(5, 20, 100, 0.25, 1, 2)
    assert [f.frames for f in s1.files] == [f.frames for f in s2.files]


def test_point_reads_mostly_cover_live_rows():
    tel = gen.query_inputs(5)
    now_us = round((gen.T0.timestamp() + 86_400) * 1_000_000)
    reads = gen.point_reads(tel, 5, 200, now_us)
    live = [r for r in reads if r.end_us - 1 + tel.retention_s * 1_000_000 > now_us]
    assert len(live) == round(200 * gen.POINT_READ_LIVE_SHARE)
    assert all(r.rows > 0 for r in live)
    assert all(r.rows == 0 for r in reads if r not in live)


def _engine_fold(messages: list[dict], interfaces) -> dict:
    """The engine's state machine over ``messages``, tallied the way the
    benchmark's checks read the sink tables."""
    catalog = Catalog(tuple(interfaces))
    by_dev: dict[str, list[dict]] = {}
    for m in messages:
        by_dev.setdefault(m["device_id"], []).append(m)
    events, rows, errors, commands, props = Counter(), 0, 0, 0, {}
    for dev, msgs in by_dev.items():
        state = DeviceState(realm=gen.REALM, device_id=dev)
        out = process_device_messages(state, catalog, msgs)
        events.update(e["event_type"] for e in out.events)
        rows += len(out.datastream_rows)
        errors += len(out.errors)
        commands += len(out.commands)
        props.update({(dev, i, p): v for (i, p), v in state.properties.items()})
    return {"events": dict(sorted(events.items())), "datastream_rows": rows,
            "dead_letters": errors, "commands": commands, "properties": props}


def _nonzero(d: dict) -> dict:
    return {k: v for k, v in d.items() if v}


def test_telemetry_model_matches_engine_state_machine():
    tel = gen.telemetry(11, 40, 30, properties_per_device=4, retention_s=6 * 3600, fault_frac=0.05)
    got = _engine_fold(tel.messages, (telemetry_interface(), *fixture_interfaces()))
    assert got["events"] == _nonzero(tel.expect["events"])
    for k in ("datastream_rows", "dead_letters", "commands"):
        assert got[k] == tel.expect[k], k
    assert got["properties"] == tel.model.properties
    assert tel.expect["dead_letters"] > 0


def test_stream_model_matches_engine_state_machine():
    stream = gen.property_stream(13, 30, 200, 0.25, 2, 6)
    got = _engine_fold(stream.messages(), fixture_interfaces())
    assert got["events"] == _nonzero(stream.expect["events"])
    for k in ("datastream_rows", "dead_letters", "commands"):
        assert got[k] == stream.expect[k], k
    assert got["properties"] == stream.model.properties
    fired = stream.expect["events"].get("volatile_trigger_fired", 0)
    assert fired > 0 and stream.expect["events"]["value_change"] > 0
