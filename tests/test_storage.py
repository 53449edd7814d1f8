"""Storage layout: partition pruning, driver-side bucketing, declared
schemas, LWW compaction, TTL vacuum."""

from __future__ import annotations

import datetime as dt

from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from astarte_data_updater_plant_spark.storage.jobs import run_maintenance
from astarte_data_updater_plant_spark.storage.layout import (
    DEVICE_TABLE_SCHEMAS,
    bucket_of,
    compact_properties,
    device_bucket,
    escape_partition_value,
    live_view,
    read_device_table,
    vacuum_expired,
    write_device_table,
    xxhash64,
)
from astarte_data_updater_plant_spark.streaming.pipeline import (
    MESSAGE_SCHEMA,
    datastream_table,
    run_batch,
)
from astarte_data_updater_plant_spark.streaming.sinks import (
    property_log_table,
    write_outputs_batch,
)

from .fixtures_flow import DEVICE, REALM, simple_flow_messages

UTC = dt.timezone.utc


def _ts(s: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, tzinfo=UTC) + dt.timedelta(seconds=s)


@pytest.fixture(scope="module")
def table_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("store") / "datastreams")
    rows = [
        ("realm_a", f"dev{i % 7}", "com.iot.T", f"/s{i % 3}/value", _ts(i), float(i))
        for i in range(200)
    ] + [
        ("realm_b", f"dev{i % 5}", "com.iot.T", "/s0/value", _ts(i), float(i))
        for i in range(50)
    ]
    df = spark.createDataFrame(
        rows,
        "realm string, device_id string, interface string, path string,"
        " reception_timestamp timestamp, double_value double",
    )
    write_device_table(df, path, n_buckets=8)
    return path


def test_roundtrip_and_realm_pruning(spark, table_dir):
    df = read_device_table(spark, table_dir, realm="realm_a")
    assert df.count() == 200
    plan = df._jdf.queryExecution().executedPlan().toString()
    # realm filter must land in PartitionFilters (directory pruning),
    # not in the post-scan Filter
    assert "PartitionFilters" in plan
    assert "realm_a" in plan.split("PushedFilters")[0]


def test_device_point_read_prunes_to_one_bucket(spark, table_dir):
    df = read_device_table(
        spark, table_dir, realm="realm_a", device_id="dev3", n_buckets=8
    )
    rows = df.select("device_id").distinct().collect()
    assert [r.device_id for r in rows] == ["dev3"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    # only rows whose bucket matches dev3's are scanned
    expected_bucket = (
        spark.range(1)
        .select(device_bucket(F.lit("dev3"), 8).alias("b"))
        .first()
        .b
    )
    assert df.select("bucket").distinct().first().bucket == expected_bucket


def test_compact_properties_lww_and_tombstones(spark):
    rows = [
        # key set twice -> latest value wins
        ("r", "d1", "i", "/p", _ts(10), 1.0, False),
        ("r", "d1", "i", "/p", _ts(20), 2.0, False),
        # key set then unset -> disappears
        ("r", "d1", "i", "/q", _ts(10), 3.0, False),
        ("r", "d1", "i", "/q", _ts(30), None, True),
        # unset then re-set -> resurrected with the new value
        ("r", "d2", "i", "/p", _ts(10), None, True),
        ("r", "d2", "i", "/p", _ts(40), 4.0, False),
    ]
    log = spark.createDataFrame(
        rows,
        "realm string, device_id string, interface string, path string,"
        " reception_timestamp timestamp, double_value double, is_delete boolean",
    )
    got = {
        (r.device_id, r.path): r.double_value
        for r in compact_properties(log).collect()
    }
    assert got == {("d1", "/p"): 2.0, ("d2", "/p"): 4.0}


def test_ttl_live_view_and_vacuum(spark, tmp_path):
    src = str(tmp_path / "ttl_src")
    out = str(tmp_path / "ttl_out")
    rows = [
        ("r", "d1", _ts(0), _ts(100)),   # expired at cutoff 200
        ("r", "d1", _ts(0), _ts(300)),   # live
        ("r", "d2", _ts(0), None),       # no TTL -> live forever
    ]
    df = spark.createDataFrame(
        rows,
        "realm string, device_id string, reception_timestamp timestamp,"
        " expires_at timestamp",
    )
    write_device_table(
        df, src, order=("device_id", "reception_timestamp"), n_buckets=4
    )
    cutoff = F.lit(_ts(200))
    assert live_view(spark.read.parquet(src), cutoff).count() == 2
    vacuum_expired(spark, src, cutoff, out)
    back = spark.read.parquet(out)
    assert back.count() == 2
    assert back.filter(F.col("expires_at").isNotNull()).count() == 1


def _sink_flow(spark, base: str, msgs: list[dict]) -> None:
    df = spark.createDataFrame(
        [tuple(m[f.name] for f in MESSAGE_SCHEMA.fields) for m in msgs],
        MESSAGE_SCHEMA,
    )
    write_outputs_batch(run_batch(df), base)


_MAINTENANCE_NOW = dt.datetime(2020, 1, 1, tzinfo=UTC)


def test_maintenance_jobs(spark, tmp_path):
    """End-to-end: sink a flow, compact + vacuum, read back."""
    base = str(tmp_path / "maint")
    _sink_flow(spark, base, simple_flow_messages())
    stats = run_maintenance(spark, base, F.lit(_MAINTENANCE_NOW))
    assert stats["properties_live"] == 1  # only /weekSchedule/2/start survives
    assert stats["datastreams_live"] >= 2
    props = spark.read.parquet(f"{base}/individual_properties")
    assert [r.path for r in props.select("path").collect()] == [
        "/weekSchedule/2/start"
    ]


@pytest.fixture(scope="module")
def sink_tree(spark, tmp_path_factory):
    """The simple flow sunk and maintained: every declared table holds rows."""
    base = str(tmp_path_factory.mktemp("sink_tree"))
    _sink_flow(spark, base, simple_flow_messages())
    run_maintenance(spark, base, F.lit(_MAINTENANCE_NOW))
    return base


def test_maintenance_on_property_free_tree(spark, tmp_path):
    """Telemetry only: the property log holds no rows, maintenance still
    runs and a property lookup is an empty frame with the declared
    columns."""
    base = str(tmp_path / "telemetry_only")
    msgs = [
        m for m in simple_flow_messages()
        if m["msg_type"] != "control" and m["interface"] != "com.test.LCDMonitor"
    ]
    _sink_flow(spark, base, msgs)
    assert not list(Path(base, "property_log").rglob("*.parquet"))
    stats = run_maintenance(spark, base, F.lit(_MAINTENANCE_NOW))
    assert stats["properties_live"] == 0
    assert stats["datastreams_live"] >= 2
    props = read_device_table(
        spark, f"{base}/individual_properties", realm=REALM, device_id=DEVICE
    )
    assert props.collect() == []
    assert props.columns == DEVICE_TABLE_SCHEMAS["individual_properties"].fieldNames()


def _types(schema) -> dict:
    return {f.name: f.dataType for f in schema}


@pytest.mark.parametrize("table", sorted(DEVICE_TABLE_SCHEMAS))
def test_declared_schema_matches_written_tree(spark, sink_tree, table):
    """What the writers put on disk is what the declaration says."""
    inferred = spark.read.parquet(f"{sink_tree}/{table}").schema
    assert _types(inferred) == _types(DEVICE_TABLE_SCHEMAS[table])


def test_materializers_produce_declared_columns(spark):
    """A column added to a materializer must be declared too, or the
    writer's select would drop it silently."""
    df = spark.createDataFrame([], MESSAGE_SCHEMA)
    outputs = run_batch(df)
    for frame, table in (
        (datastream_table(outputs), "individual_datastreams"),
        (property_log_table(outputs), "property_log"),
    ):
        declared = DEVICE_TABLE_SCHEMAS[table].fieldNames()
        assert sorted(frame.columns) == sorted(c for c in declared if c != "bucket")


def _scan_roots(df) -> list[str]:
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    roots = []
    for i in range(leaves.size()):
        paths = leaves.apply(i).relation().location().rootPaths()
        roots += [str(paths.apply(j)) for j in range(paths.size())]
    return roots


def test_point_read_scans_one_bucket_directory(spark, table_dir):
    df = read_device_table(
        spark, table_dir, realm="realm_a", device_id="dev3", n_buckets=8
    )
    df.collect()
    assert _scan_roots(df) == [f"file:{table_dir}/realm=realm_a/bucket={bucket_of('dev3', 8)}"]


def test_point_read_is_one_job(spark, sink_tree):
    sc = spark.sparkContext
    for table in ("individual_datastreams", "individual_properties"):
        group = f"test-point-read-{table}"
        sc.setJobGroup(group, "point read")
        try:
            rows = read_device_table(
                spark, f"{sink_tree}/{table}", realm=REALM, device_id=DEVICE
            ).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert rows and {r.device_id for r in rows} == {DEVICE}
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def _absent_device(present: set[int], n_buckets: int) -> str:
    return next(
        d for d in (f"absent{i}" for i in range(1000))
        if bucket_of(d, n_buckets) not in present
    )


def test_point_read_of_missing_bucket_is_empty(spark, sink_tree, table_dir):
    table = f"{sink_tree}/individual_datastreams"
    dev = _absent_device({bucket_of(DEVICE)}, 64)
    for realm in (REALM, None):
        df = read_device_table(spark, table, realm=realm, device_id=dev)
        assert df.collect() == []
        assert df.columns == DEVICE_TABLE_SCHEMAS["individual_datastreams"].fieldNames()
    # an undeclared table gets its own columns
    present = {r.bucket for r in spark.read.parquet(table_dir).select("bucket").distinct().collect()}
    dev = _absent_device(present, 8)
    df = read_device_table(spark, table_dir, realm="realm_a", device_id=dev, n_buckets=8)
    assert df.collect() == []
    assert df.columns == spark.read.parquet(table_dir).columns


@pytest.mark.parametrize("table", ["individual_datastreams", "datastreams"])
def test_point_read_of_missing_table_raises(spark, tmp_path, table):
    with pytest.raises(AnalysisException) as err:
        read_device_table(spark, str(tmp_path / table), realm="r", device_id="d")
    assert err.value.getCondition() == "PATH_NOT_FOUND"


def test_point_read_across_realms_and_escaped_realm(spark, tmp_path):
    path = str(tmp_path / "escaped")
    rows = [
        (realm, f"dev{i % 4}", "/p", _ts(i), float(i))
        for realm in ("realm:a", "realm_b")
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows,
        "realm string, device_id string, path string,"
        " reception_timestamp timestamp, double_value double",
    )
    write_device_table(df, path, order=("device_id", "path"), n_buckets=4)
    assert any("%3A" in p.name for p in Path(path).iterdir())

    def values(realm):
        got = read_device_table(spark, path, realm=realm, device_id="dev1", n_buckets=4)
        return sorted((r.realm, r.double_value) for r in got.collect())

    want_a = [("realm:a", float(i)) for i in range(1, 40, 4)]
    want_b = [("realm_b", float(i)) for i in range(1, 40, 4)]
    assert values("realm:a") == want_a
    assert values(None) == sorted(want_a + want_b)


def test_escape_partition_value_matches_spark(spark):
    escape = spark.sparkContext._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    values = [chr(c) for c in range(1, 256)] + ["realm:a/b=c%d", "é€😀", "plain"]
    assert [escape_partition_value(v) for v in values] == [escape(v) for v in values]


def _hash_corpus() -> list[str]:
    """Ids on both sides of the XXH64 4-, 8- and 32-byte boundaries, in
    one- to four-byte UTF-8 characters, plus device-like ids."""
    ids = [ch * n for ch in ("a", "\u00e9", "\u20ac", "\U0001f600") for n in range(0, 41)]
    ids += [("0123456789abcdef" * 5)[:n] for n in range(0, 80)]
    ids += [f"dev{i}" for i in range(800)]
    ids += ["f0VMRgIBAQAAAAAAAAAAAA", "d\u00e9v\u20ac\U0001f600", "\x00", " "]
    return ids


def _spark_buckets(spark, ids: list[str]) -> list[tuple]:
    df = spark.createDataFrame([(i,) for i in ids], "id string")
    rows = df.select(
        "id", F.xxhash64("id").alias("h"),
        *[device_bucket(F.col("id"), n).alias(f"b{n}") for n in (4, 8, 64)],
    ).collect()
    return [(r.id, r.h, r.b4, r.b8, r.b64) for r in rows]


def _python_buckets(ids: list[str]) -> list[tuple]:
    return [
        (i, xxhash64(i.encode("utf-8")), *(bucket_of(i, n) for n in (4, 8, 64)))
        for i in ids
    ]


def test_bucket_of_matches_device_bucket(spark):
    ids = _hash_corpus()
    assert len(ids) >= 1000
    assert _python_buckets(ids) == _spark_buckets(spark, ids)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.text(max_size=70), min_size=1, max_size=40))
def test_bucket_of_matches_device_bucket_generated(spark, ids):
    assert _python_buckets(ids) == _spark_buckets(spark, ids)
