"""On-disk table layout: the Cassandra keyspace re-expressed as
partitioned parquet.

The reference keys every table on ``(device_id, interface_id, ...)``
so each write/read touches one Cassandra partition
(``queries.ex:44-58,108,137-141``). The lakehouse equivalent keeps the
same locality through directory partitioning + in-file ordering:

- partition columns ``(realm, bucket)`` where ``bucket =
  pmod(xxhash64(device_id), N_BUCKETS)`` — bounded directory count
  (a raw ``device_id`` partition would create millions of tiny dirs
  at 100 TB), realm isolation for multi-tenant pruning, and any
  device-scoped read prunes to 1/N of the data before the scan.
- files sorted by ``(device_id, interface, path, reception_timestamp)``
  so per-device slices are contiguous (parquet row-group statistics
  then prune within the file the way Cassandra clustering keys do).

A device read is the single-partition lookup of the reference
(``queries.ex:28-58,678-716``): the driver computes the device's
bucket (``bucket_of``, bit-identical to ``device_bucket``) and lists
only the one ``realm=<realm>/bucket=<b>`` directory, reading it with
the table's declared schema (``DEVICE_TABLE_SCHEMAS``), so a point read
is one Spark job whose cost does not grow with table size: no listing
of the other buckets, no schema-inference job. Tables without a
declaration infer their schema from that one bucket directory.

Writes are append-only; the two non-append semantics of the reference
are expressed as idempotent compaction jobs over the log:

- property LWW + unset (``queries.ex:87-155``): latest row per key
  wins, delete markers drop the key — ``compact_properties``.
- TTL expiry (``queries.ex:299-306``, ``impl.ex:527-533``): rows carry
  ``expires_at``; readers filter it, ``vacuum_expired`` rewrites
  storage without dead rows (the Cassandra background GC made
  explicit).

No Delta/Iceberg dependency: the layout only assumes parquet +
directory listing, so the same code runs on any Spark cluster; on a
lakehouse the compactions become MERGE INTO statements with identical
semantics.
"""

from __future__ import annotations

import struct

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..types import TYPED_COLUMNS

#: Directory-partition fan-out for device-keyed tables. 64 buckets x
#: realms keeps listings cheap; at 100 TB each bucket holds ~1.5 TB
#: which AQE splits into ordinary tasks.
N_BUCKETS = 64


def device_bucket(device_id: Column, n_buckets: int = N_BUCKETS) -> Column:
    """Stable device -> bucket assignment (the consistent-hash queue
    routing of amqp_data_consumer/supervisor.ex:41-49, made a column)."""
    return F.pmod(F.xxhash64(device_id), F.lit(n_buckets)).cast("int")


#: XXH64's word mask and primes
_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed 64-bit integer: the value Spark's
    ``xxhash64`` (seed 42) gives for a string column holding ``data``
    as UTF-8."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed & _M64, (seed - _P1) & _M64]
        while i + 32 <= n:
            v = [_round(a, lane) for a, lane in zip(v, struct.unpack_from("<4Q", data, i))]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for a in v:
            h = ((h ^ _round(0, a)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (struct.unpack_from("<I", data, i)[0] * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h ^= (b * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
    h = ((h ^ (h >> 33)) * _P2) & _M64
    h = ((h ^ (h >> 29)) * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def bucket_of(device_id: str, n_buckets: int = N_BUCKETS) -> int:
    """``device_bucket`` computed on the driver, for one device id."""
    return xxhash64(device_id.encode("utf-8")) % n_buckets


#: Characters Spark escapes as ``%XX`` in partition directory names
#: (``ExternalCatalogUtils.escapePathName``).
_PATH_ESCAPED = frozenset([chr(c) for c in range(0x01, 0x20)] + list("\"#%'*/:=?\\\x7f{[]^"))


def escape_partition_value(value: str) -> str:
    """A partition value as Spark spells it in a directory name."""
    return "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPED else c for c in value)


_PARTITION_FIELDS = [
    T.StructField("realm", T.StringType()),
    T.StructField("bucket", T.IntegerType()),
]
_DATASTREAM_SCHEMA = T.StructType(
    [
        T.StructField("device_id", T.StringType()),
        T.StructField("interface_id", T.StringType()),
        T.StructField("interface", T.StringType()),
        T.StructField("endpoint_id", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("value_timestamp", T.TimestampType()),
        T.StructField("reception_timestamp", T.TimestampType()),
        T.StructField("expires_at", T.TimestampType()),
        *[T.StructField(c, t) for c, t in TYPED_COLUMNS],
        *_PARTITION_FIELDS,
    ]
)
_PROPERTY_FIELDS = [
    T.StructField("device_id", T.StringType()),
    T.StructField("interface", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("reception_timestamp", T.TimestampType()),
    T.StructField("typed_json", T.StringType()),
]

#: On-disk schemas of the engine's own device tables, keyed by table
#: directory name: the file columns in file order, then the partition
#: columns, which is the column order a read returns.
DEVICE_TABLE_SCHEMAS: dict[str, T.StructType] = {
    "individual_datastreams": _DATASTREAM_SCHEMA,
    "individual_datastreams_vacuumed": _DATASTREAM_SCHEMA,
    "property_log": T.StructType(
        [*_PROPERTY_FIELDS, T.StructField("is_delete", T.BooleanType()), *_PARTITION_FIELDS]
    ),
    "individual_properties": T.StructType([*_PROPERTY_FIELDS, *_PARTITION_FIELDS]),
}


def select_declared(df: DataFrame, table: str) -> DataFrame:
    """``df`` cut to the declared columns of ``table``, the form its
    writers hand to ``write_device_table`` (which derives ``bucket``)."""
    return df.select(*[f.name for f in DEVICE_TABLE_SCHEMAS[table] if f.name != "bucket"])


def write_device_table(
    df: DataFrame,
    path: str,
    *,
    order: tuple[str, ...] = ("device_id", "interface", "path", "reception_timestamp"),
    mode: str = "append",
    n_buckets: int = N_BUCKETS,
) -> None:
    """Append rows to a device-keyed table with the standard layout.

    One shuffle (repartition on the partition columns) so each task
    writes exactly one directory partition; rows are sorted inside
    each file for row-group pruning on device/path slices.
    """
    (
        df.withColumn("bucket", device_bucket(F.col("device_id"), n_buckets))
        .repartition("realm", "bucket")
        .sortWithinPartitions(*order)
        .write.partitionBy("realm", "bucket")
        .mode(mode)
        .parquet(path)
    )


def read_device_table(
    spark: SparkSession,
    path: str,
    *,
    realm: str | None = None,
    device_id: str | None = None,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Read a device table; ``realm`` and ``device_id`` narrow it.

    A device read lists one directory: the driver computes the
    device's bucket and reads ``path/realm=<realm>/bucket=<b>``
    (``realm=*`` without a realm) with ``basePath=path``, so ``realm``
    and ``bucket`` still come back as columns. Tables named in
    ``DEVICE_TABLE_SCHEMAS`` are read with their declared schema, any
    other table infers its schema from that one directory: a point
    read of a declared table is a single Spark job whose cost does not
    grow with table size. A device whose bucket directory does not
    exist gets an empty frame with the table's columns; a missing
    table raises ``PATH_NOT_FOUND`` as a plain read does.
    """
    schema = DEVICE_TABLE_SCHEMAS.get(path.rstrip("/").rsplit("/", 1)[-1])
    reader = spark.read if schema is None else spark.read.schema(schema)
    if device_id is None:
        df = reader.parquet(path)
        return df if realm is None else df.filter(F.col("realm") == realm)
    realm_dir = "*" if realm is None else escape_partition_value(realm)
    bucket_dir = f"{path}/realm={realm_dir}/bucket={bucket_of(device_id, n_buckets)}"
    if _exists(spark, bucket_dir):
        df = reader.option("basePath", path).parquet(bucket_dir)
    else:
        # no rows for this device: the table's columns, without a scan
        df = reader.parquet(path).limit(0)
    return df.filter(F.col("device_id") == device_id)


def _exists(spark: SparkSession, pattern: str) -> bool:
    """Whether the Hadoop glob ``pattern`` matches anything."""
    jvm = spark.sparkContext._jvm
    glob = jvm.org.apache.hadoop.fs.Path(pattern)
    fs = glob.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return bool(fs.globStatus(glob))


PROPERTY_KEY = ("realm", "device_id", "interface", "path")


def compact_properties(log: DataFrame, key: tuple[str, ...] = PROPERTY_KEY) -> DataFrame:
    """Fold the property write log into its LWW state.

    Input rows carry ``reception_timestamp`` and an ``is_delete`` flag
    (unset markers, queries.ex:87-119). Latest row per key wins; keys
    whose latest row is a delete disappear — exactly Cassandra's
    last-write-wins + tombstone semantics, as one window, re-runnable
    (idempotent MERGE equivalent).
    """
    w = Window.partitionBy(*key).orderBy(
        F.col("reception_timestamp").desc(), F.col("is_delete").desc()
    )
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (~F.coalesce("is_delete", F.lit(False))))
        .drop("rn", "is_delete")
    )


def live_view(df: DataFrame, now: Column) -> DataFrame:
    """TTL read filter (queries.ex:774-817): rows with no expiry or a
    future expiry. ``now`` is an explicit column/literal so batch jobs
    are reproducible (no wall-clock in the plan)."""
    return df.filter(F.col("expires_at").isNull() | (F.col("expires_at") > now))


def vacuum_expired(
    spark: SparkSession, path: str, now: Column, out_path: str
) -> None:
    """Rewrite a table without expired rows — the explicit form of
    Cassandra's TTL garbage collection. Runs as a partition-parallel
    scan+filter+write; on a lakehouse this is DELETE WHERE."""
    df = spark.read.parquet(path)
    live = live_view(df, now)
    (
        live.write.partitionBy("realm", "bucket")
        .mode("overwrite")
        .parquet(out_path)
    )
