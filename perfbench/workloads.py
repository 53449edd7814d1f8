"""The three benchmark workloads, driving the engine through its public
functions.

Each workload sets itself up (``setup``), warms the JVM and the Python
workers (``warmup``), runs its loop for a given number of seconds
(``measure``) and, in a traced run, makes its per-layer probes
(``probes``). Every operation is checked against the generator's model
or the DuckDB oracle and counted in ``attempted`` / ``failed``.
"""

from __future__ import annotations

import os
import pickle
import shutil
import statistics
import threading
import time
from datetime import datetime, timedelta, timezone
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from astarte_data_updater_plant_spark.catalog import fixture_interfaces
from astarte_data_updater_plant_spark.functions.payloads import decode_bson_payload
from astarte_data_updater_plant_spark.plans.registry import oracle_sql_map, queries_map
from astarte_data_updater_plant_spark.session import get_spark
from astarte_data_updater_plant_spark.sources.connectors import parse_wire_frames
from astarte_data_updater_plant_spark.sources.stream import telemetry_interface
from astarte_data_updater_plant_spark.storage.jobs import compact_property_log, vacuum_datastreams
from astarte_data_updater_plant_spark.storage.layout import live_view, read_device_table
from astarte_data_updater_plant_spark.streaming import pipeline
from astarte_data_updater_plant_spark.streaming.pipeline import MESSAGE_SCHEMA, run_batch, run_stream
from astarte_data_updater_plant_spark.streaming.sinks import write_outputs_batch
from astarte_data_updater_plant_spark.streaming.state_machine import (
    Catalog,
    DeviceState,
    process_device_messages,
)

import checks
import counters
import gen

#: per-layer metric -> unit, in the order reported
LAYER_METRICS = {
    "session.start_s": "s",
    "payloads.decode_s": "s",
    "payloads.decode_failed": "count",
    "state_machine.fold_s": "s",
    "state_machine.rows_per_msg": "rows/msg",
    "state_machine.errors": "count",
    "state_machine.state_bytes": "B",
    "pipeline.run_batch_s": "s",
    "pipeline.parallel_speedup": "x",
    "pipeline.python_bytes_in": "B",
    "pipeline.python_bytes_out": "B",
    "pipeline.shuffle_bytes": "B",
    "pipeline.materialize_s": "s",
    "sinks.write_s": "s",
    "sinks.jobs": "count",
    "sinks.files_written": "count",
    "sinks.bytes_written": "B",
    "connectors.parse_s": "s",
    "stream.batches": "count",
    "stream.rows_per_batch": "rows",
    "stream.trigger_ms": "ms",
    "stream.plan_ms": "ms",
    "stream.wal_ms": "ms",
    "stream.state_update_ms": "ms",
    "stream.state_commit_ms": "ms",
    "stream.state_bytes": "B",
    "stream.sink_ms": "ms",
    "stream.backlog_s": "s",
    "stream.generator_late_s": "s",
    "layout.point_read_s": "s",
    "layout.files_read": "count",
    "layout.jobs_per_read": "count",
    "jobs.compact_s": "s",
    "jobs.vacuum_s": "s",
    "jobs.rows_live": "count",
    "operators.q10_s": "s",
    "operators.q12_s": "s",
    "operators.q16_s": "s",
    "operators.q23_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "frac",
}

SCAN_QUERIES = {
    "q10": "q10_latest_value_per_key",
    "q12": "q12_device_counters",
    "q16": "q16_hourly_windows",
    "q23": "q23_trigger_matches",
}

#: the Kafka source record schema the frame files carry
FRAME_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
        T.StructField(
            "headers",
            T.ArrayType(T.StructType([T.StructField("key", T.StringType()),
                                      T.StructField("value", T.BinaryType())])),
        ),
    ]
)


def quantile(xs: list[float], q: float) -> float:
    return float(np.quantile(np.asarray(xs, dtype=float), q))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """Shared plumbing: the session, the tracer and the outcome tally."""

    def __init__(self, seed: int, seconds: float, work: Path, tracer) -> None:
        self.seed, self.seconds, self.work, self.tr = seed, seconds, work, tracer
        self.spark = None
        self.session_starts: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.report: dict = {}
        self._n = 0

    def prepare(self) -> None:
        """Once-per-run preparation after the repeated set-ups; its time
        is added to ``setup_s``."""

    def start_session(self) -> None:
        """(Re)start the engine's session: a later start reuses the JVM."""
        if self.spark is not None:
            self.spark.stop()
        t = time.perf_counter()
        with self.tr.span("session.get_spark"):
            self.spark = get_spark("perfbench")
        self.session_starts.append(time.perf_counter() - t)

    def op(self, kind: str) -> str:
        self._n += 1
        return f"{kind}-{self._n}"

    def outcome(self, bad: list[str], what: str, n: int = 1) -> None:
        """Tally ``n`` operations whose check found ``bad``."""
        self.attempted += n
        if bad:
            self.failed += n
            self.problems.extend(f"{what}: {b}" for b in bad[:3])

    def fresh(self, name: str) -> Path:
        p = self.work / name
        shutil.rmtree(p, ignore_errors=True)
        return p

    # -- single-thread baselines shared by the ingest workloads ----------

    def decode_probe(self, payloads: list[bytes]) -> dict:
        failed = 0
        t = time.perf_counter()
        with self.tr.span("functions.payloads.decode_bson_payload"):
            for p in payloads:
                try:
                    decode_bson_payload(p)
                except ValueError:
                    failed += 1
        return {"payloads.decode_s": time.perf_counter() - t, "payloads.decode_failed": failed}

    def fold_probe(self, messages: list[dict], interfaces) -> dict:
        """The state machine alone, single-threaded, over the same
        messages: per-device ``process_device_messages``."""
        by_dev: dict[str, list[dict]] = {}
        for m in messages:
            by_dev.setdefault(m["device_id"], []).append(m)
        catalog = Catalog(tuple(interfaces))
        states, rows, errors = [], 0, 0
        t = time.perf_counter()
        with self.tr.span("streaming.state_machine.process_device_messages"):
            for dev, msgs in by_dev.items():
                state = DeviceState(realm=gen.REALM, device_id=dev)
                out = process_device_messages(state, catalog, msgs)
                rows += 1 + sum(len(getattr(out, f)) for f in (
                    "datastream_rows", "property_upserts", "property_deletes", "object_rows",
                    "events", "errors", "warnings", "commands"))
                errors += len(out.errors)
                states.append(state)
        fold_s = time.perf_counter() - t
        return {
            "state_machine.fold_s": fold_s,
            "state_machine.rows_per_msg": rows / max(1, len(messages)),
            "state_machine.errors": errors,
            "state_machine.state_bytes": len(pickle.dumps(states)),
        }


# ---------------------------------------------------------------------------
# property_stream
# ---------------------------------------------------------------------------


class PropertyStream(Workload):
    """Open loop at a fixed offered rate: frame files written on a
    schedule, parse_wire_frames -> run_stream -> foreachBatch(
    write_outputs_batch) with the default trigger."""

    DRAIN_TIMEOUT_S = 60.0

    def setup(self) -> None:
        self.stream = gen.stream_inputs(self.seed, self.seconds)

    def warmup(self) -> None:
        """The stream warms up inside each run: its introspection wave
        and first ``gen.STREAM_WARMUP_S`` seconds of traffic are not
        measured."""

    def _run_query(self, tag: str) -> dict:
        base = self.fresh(f"stream-{tag}")
        src, stage, store, ckpt = (base / n for n in ("src", "stage", "store", "ckpt"))
        src.mkdir(parents=True)
        stage.mkdir()
        commits: dict[int, tuple[float, float]] = {}
        first_commit = threading.Event()
        tr = self.tr

        def sink(df, epoch_id: int) -> None:
            start = time.time()
            with tr.span("streaming.sinks.write_outputs_batch", f"batch-{tag}-{epoch_id}"):
                write_outputs_batch(df, str(store))
            commits[epoch_id] = (start, time.time())
            first_commit.set()

        with tr.span("sources.connectors.parse_wire_frames"):
            msgs = parse_wire_frames(self.spark.readStream.schema(FRAME_SCHEMA).parquet(str(src)))
        with tr.span("streaming.pipeline.run_stream"):
            outputs = run_stream(msgs)
        query = (outputs.writeStream.foreachBatch(sink)
                 .option("checkpointLocation", str(ckpt)).start())
        files = self.stream.files
        written: list[tuple[float, float]] = []  # (due wall time, written wall time)
        stop = threading.Event()

        def put(i: int, due_wall: float) -> None:
            table = gen.stream_file_table(files[i].frames, int(due_wall * 1_000_000))
            pq.write_table(table, stage / f"f{i:05d}.parquet")
            os.rename(stage / f"f{i:05d}.parquet", src / f"f{i:05d}.parquet")
            written.append((due_wall, time.time()))

        def produce() -> None:
            # the introspection wave goes first; the schedule starts once
            # its (cold) batch has committed, so no backlog builds behind it
            put(0, time.time())
            if not (first_commit.wait(self.DRAIN_TIMEOUT_S) and not stop.is_set()):
                return
            t0_wall, t0 = time.time(), time.perf_counter()
            for i in range(1, len(files)):
                delay = t0 + files[i].due_s - time.perf_counter()
                if delay > 0 and stop.wait(delay):
                    return
                put(i, t0_wall + files[i].due_s)

        started = time.time()
        producer = threading.Thread(target=produce, name="frame-generator")
        producer.start()
        total = sum(len(f.frames) for f in files)
        committed = 0
        try:
            producer.join()
            deadline = time.time() + self.DRAIN_TIMEOUT_S
            while time.time() < deadline and query.isActive:
                progress = counters.progress_list(query)
                committed = sum(p["numInputRows"] for p in progress if p["batchId"] in commits)
                if committed >= total:
                    break
                time.sleep(0.2)
        finally:
            stop.set()
            producer.join()
            error = query.exception()
            query.stop()
        progress = [p for p in counters.progress_list(query) if p["batchId"] in commits]
        if error is not None:
            self.problems.append(f"stream query failed: {error}")
        return {"store": store, "progress": progress, "commits": commits, "written": written,
                "total": total, "committed": committed, "src": src, "run_id": str(query.runId),
                "elapsed": time.time() - started}

    def _file_batches(self, run: dict) -> list:
        """Batch id that read each written frame file: files are read in
        write order, so file i belongs to the first batch whose
        cumulative ``numInputRows`` covers the rows up to file i."""
        bounds, cum = [], 0
        for p in run["progress"]:
            cum += p["numInputRows"]
            bounds.append((cum, p["batchId"]))
        out, file_cum = [], 0
        for f in self.stream.files[: len(run["written"])]:
            file_cum += len(f.frames)
            out.append(next((b for c, b in bounds if c >= file_cum), None))
        return out

    def measure(self) -> dict:
        run = self.last = self._run_query(self.op("stream"))
        commits, rows_in = run["commits"], {p["batchId"]: p["numInputRows"] for p in run["progress"]}
        lat, batches = [], set()
        for f, (due, _), batch in zip(self.stream.files, run["written"], self._file_batches(run)):
            if f.measured and batch is not None:
                lat.extend([commits[batch][1] - due] * len(f.frames))
                batches.add(batch)
        if run["committed"] != run["total"]:
            bad = [f"{run['total'] - run['committed']} of {run['total']} messages never committed"]
        else:
            bad = checks.check_ingest(str(run["store"]), self.stream.expect)
            bad += checks.diff_properties(checks.lww_from_log(str(run["store"])), self.stream.model.properties)
        self.outcome(bad, "stream", run["total"])
        if not batches:  # no measured batch committed; the outcome above failed every message
            self.report["measured_batches"] = 0
            return {"throughput_per_s": 0.0, "latency_p50_s": run["elapsed"], "latency_p95_s": run["elapsed"]}
        # committed rate: rows over inter-commit time for the measured
        # batches, leaving out the last one, which the end of the
        # schedule cuts short
        order = sorted(commits)
        prev = {b: order[i - 1] for i, b in enumerate(order) if i}
        steady = [b for b in sorted(batches)[:-1] if b in prev]
        if steady:
            rate = sum(rows_in[b] for b in steady) / sum(commits[b][1] - commits[prev[b]][1] for b in steady)
        else:  # one batch took the whole window: rate from the first due time
            due0 = min(d for f, (d, _) in zip(self.stream.files, run["written"]) if f.measured)
            rate = len(lat) / (max(commits[b][1] for b in batches) - due0)
        p50, p95 = quantile(lat, 0.5), quantile(lat, 0.95)
        self.report.update({"stream_msgs_per_s": rate, "offered_msgs_per_s": gen.STREAM_RATE_PER_S,
                            "stream_latency_p50_s": p50, "stream_latency_p95_s": p95,
                            "measured_batches": len(batches)})
        return {"throughput_per_s": rate, "latency_p50_s": p50, "latency_p95_s": p95}

    def probes(self) -> dict:
        run = self.last
        progress = run["progress"]
        if not progress:
            return {}
        out = {}
        dur = lambda k: statistics.median(p["durationMs"].get(k, 0) for p in progress)  # noqa: E731
        state = lambda k: statistics.median(p["stateOperators"][0].get(k, 0) for p in progress)  # noqa: E731
        out["stream.batches"] = len(progress)
        out["stream.rows_per_batch"] = statistics.mean(p["numInputRows"] for p in progress)
        out["stream.trigger_ms"] = dur("triggerExecution")
        out["stream.plan_ms"] = dur("queryPlanning")
        out["stream.wal_ms"] = dur("walCommit")
        out["stream.state_update_ms"] = state("allUpdatesTimeMs")
        out["stream.state_commit_ms"] = state("commitTimeMs")
        out["stream.state_bytes"] = progress[-1]["stateOperators"][0].get("memoryUsedBytes", 0)
        sink_ms = [(e - s) * 1000 for s, e in run["commits"].values()]
        out["stream.sink_ms"] = statistics.median(sink_ms)
        out["sinks.write_s"] = statistics.median(sink_ms) / 1000
        starts = {p["batchId"]: datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
                  for p in progress}
        waits = [starts[b] - due for (due, _), b in zip(run["written"], self._file_batches(run))
                 if b is not None]
        out["stream.backlog_s"] = max(0.0, max(waits, default=0.0))
        out["stream.generator_late_s"] = max((w - d for d, w in run["written"]), default=0.0)
        # the stream thread runs its jobs, the sink's included, under the query's run id
        jobs = self.spark.sparkContext.statusTracker().getJobIdsForGroup(run["run_id"])
        out["sinks.jobs"] = len(jobs) / len(progress)
        out["sinks.files_written"], out["sinks.bytes_written"] = counters.tree_files(str(run["store"]))
        # the connector's frame parse alone, over every frame file as a batch
        t = time.perf_counter()
        with self.tr.span("sources.connectors.parse_wire_frames", self.op("probe")):
            noop(parse_wire_frames(self.spark.read.schema(FRAME_SCHEMA).parquet(str(run["src"]))))
        out["connectors.parse_s"] = time.perf_counter() - t
        messages = self.stream.messages()
        out.update(self.decode_probe([m["payload"] for m in messages
                                      if m["msg_type"] == "data" and m["payload"]]))
        out.update(self.fold_probe(messages, fixture_interfaces()))
        return out


# ---------------------------------------------------------------------------
# device_queries
# ---------------------------------------------------------------------------


class DeviceQueries(Workload):
    """Closed loop, one client, over the storage tree the ingest path
    writes: one maintenance cycle per measured window, then device point
    reads, compacted-property lookups and the declared scans
    q10/q12/q16/q23 in turn."""

    READS_PER_ROUND = 12
    LOOKUPS_PER_ROUND = 1
    WARMUP_READS = 6
    IFACES = (telemetry_interface(), *fixture_interfaces())

    def setup(self) -> None:
        tel = self.tel = gen.query_inputs(self.seed)
        self.now = gen.T0 + timedelta(days=1)
        now_us = int(self.now.timestamp() * 1_000_000)
        self.reads = gen.point_reads(tel, self.seed, 256, now_us)
        self.live_rows = sum(
            1 for s in tel.samples.values() for t, _ in s if t + gen.QUERY_RETENTION_S * 1_000_000 > now_us
        )
        self.qdir = self.fresh("inputs")
        gen.write_query_inputs(tel, self.qdir, len(os.sched_getaffinity(0)))
        self.msgs = self.spark.read.schema(MESSAGE_SCHEMA).parquet(str(self.qdir / "messages"))
        self.queries = {k: queries_map()[v] for k, v in SCAN_QUERIES.items()}
        self.query_ok: dict[str, bool] = {}
        self.timings: dict[str, list[float]] = {}
        self._read = 0

    def fold(self):
        return run_batch(self.msgs, interfaces=self.IFACES, max_retention_s=gen.QUERY_RETENTION_S)

    def prepare(self) -> None:
        """The storage tree the loop reads, written by the batch ingest
        path and checked against the model."""
        self.tree = self.fresh("tree")
        t = time.perf_counter()
        with self.tr.span("streaming.sinks.write_outputs_batch", self.op("ingest")):
            write_outputs_batch(self.fold(), str(self.tree))
        self.report["tree_ingest_msgs_per_s"] = self.tel.expect["messages"] / (time.perf_counter() - t)
        stored_sum = sum(v for s in self.tel.samples.values() for _, v in s)
        self.outcome(checks.check_ingest(str(self.tree), self.tel.expect, stored_sum), "ingest")

    def _time(self, kind: str, fn, span: str):
        t = time.perf_counter()
        with self.tr.span(span, self.op(kind)):
            result = fn()
        self.timings.setdefault(kind, []).append(time.perf_counter() - t)
        return result

    def point_read(self):
        r = self.reads[self._read % len(self.reads)]
        self._read += 1

        def read():
            df = read_device_table(self.spark, str(self.tree / "individual_datastreams"),
                                   realm=gen.REALM, device_id=r.device_id)
            df = df.filter(
                (F.col("interface") == gen.TELEMETRY)
                & (F.col("path") == f"/{r.sensor}/value")
                & (F.col("reception_timestamp") >= F.lit(_ts(r.start_us)))
                & (F.col("reception_timestamp") < F.lit(_ts(r.end_us)))
            )
            return live_view(df, F.lit(self.now)).select("double_value").collect()

        rows = self._time("point_read", read, "storage.layout.read_device_table")
        got = (len(rows), round(sum(x[0] for x in rows), 6))
        bad = [] if got == (r.rows, r.value_sum) else [f"{r.device_id} {r.sensor}: {got}, expected {(r.rows, r.value_sum)}"]
        self.outcome(bad, "point read")

    def property_lookup(self):
        dev = self.tel.devices[self._read % len(self.tel.devices)]
        self._read += 1

        def read():
            return read_device_table(self.spark, str(self.tree / "individual_properties"),
                                     realm=gen.REALM, device_id=dev).collect()

        rows = self._time("lookup", read, "storage.layout.read_device_table")
        got = {(dev, r["interface"], r["path"]): checks.typed_value(r["typed_json"]) for r in rows}
        want = {k: v for k, v in self.tel.model.properties.items() if k[0] == dev}
        self.outcome(checks.diff_properties(got, want), "property lookup")

    def verify_scans(self) -> None:
        """Each scan once on collected results, against its oracle."""
        for name, fn in self.queries.items():
            result = fn(self.spark, str(self.qdir)).toPandas()
            bad = checks.check_oracle(result, oracle_sql_map()[SCAN_QUERIES[name]],
                                      str(self.qdir / "events.parquet"))
            self.query_ok[name] = not bad
            self.outcome(bad, name)

    def scan(self, name: str) -> None:
        """A timed execution to noop; it inherits the oracle verdict."""
        fn = self.queries[name]
        self._time(name, lambda: noop(fn(self.spark, str(self.qdir))), f"operators.{name}")
        self.outcome([] if self.query_ok[name] else ["failed its oracle check"], name)

    def maintenance(self):
        now = F.lit(self.now)
        t = time.perf_counter()
        with self.tr.span("op.maintenance", self.op("maintenance")):
            live_props = self._time("compact", lambda: compact_property_log(
                self.spark, str(self.tree / "property_log"), str(self.tree / "individual_properties")),
                "storage.jobs.compact_property_log")
            live_ds = self._time("vacuum", lambda: vacuum_datastreams(
                self.spark, str(self.tree / "individual_datastreams"), now,
                str(self.tree / "individual_datastreams_vacuumed")),
                "storage.jobs.vacuum_datastreams")
        self.timings.setdefault("maintenance", []).append(time.perf_counter() - t)
        bad = []
        if live_props != self.tel.expect["properties_live"]:
            bad.append(f"compacted {live_props} live properties, expected {self.tel.expect['properties_live']}")
        if live_ds != self.live_rows:
            bad.append(f"vacuum kept {live_ds} datastream rows, expected {self.live_rows}")
        self.outcome(bad, "maintenance")

    def schedule(self) -> list:
        """One round of the client's loop: 12 point reads, one property
        lookup and the four scans, interleaved."""
        reads = [self.point_read] * (self.READS_PER_ROUND // len(self.queries))
        ops = []
        for name in self.queries:
            ops += [*reads, lambda name=name: self.scan(name)]
        return ops + [self.property_lookup] * self.LOOKUPS_PER_ROUND

    def warmup(self) -> None:
        """A few point reads, and each scan checked against its oracle on
        collected results. The tree build has already warmed the write
        path that maintenance uses."""
        for _ in range(self.WARMUP_READS):
            self.point_read()
        self.verify_scans()

    def measure(self) -> dict:
        """One maintenance cycle, then the round's operations in turn
        until ``seconds`` have passed, the clock read after each."""
        self.timings = {}
        t0 = time.perf_counter()
        self.maintenance()
        ops, end = 1, time.perf_counter() + self.seconds
        rounds = self.schedule()
        while time.perf_counter() < end:
            rounds[(ops - 1) % len(rounds)]()
            ops += 1
        elapsed = time.perf_counter() - t0
        reads = self.timings["point_read"]
        self.report.update({
            "ops_per_s": ops / elapsed,
            "point_read_p50_s": quantile(reads, 0.5),
            "point_read_p95_s": quantile(reads, 0.95),
            "point_read_samples_s": [round(x, 3) for x in reads],
            "scan_query_s": sum(statistics.median(self.timings[q]) for q in self.queries if q in self.timings),
            "maintenance_s": self.timings["maintenance"][0],
        })
        return {
            "throughput_per_s": ops / elapsed,
            "latency_p50_s": quantile(reads, 0.5),
            "latency_p95_s": quantile(reads, 0.95),
        }

    def probes(self) -> dict:
        out = {f"operators.{q}_s": statistics.median(self.timings[q]) for q in self.queries
               if q in self.timings}
        out["jobs.compact_s"] = statistics.median(self.timings["compact"])
        out["jobs.vacuum_s"] = statistics.median(self.timings["vacuum"])
        out["jobs.rows_live"] = self.tel.expect["properties_live"] + self.live_rows
        out["layout.point_read_s"] = statistics.median(self.timings["point_read"])
        sql = counters.SqlMetrics(self.spark)
        jobs = counters.JobCounter(self.spark)
        files, njobs = [], []
        for _ in range(4):
            sql.mark()
            gid = jobs.group("point_read")
            self.point_read()
            njobs.append(jobs.jobs(gid))
            files.append(sql.collect()["files_read"])
        out["layout.files_read"] = statistics.median(files)
        out["layout.jobs_per_read"] = statistics.median(njobs)
        out.update(self.ingest_probes())
        return out

    def ingest_probes(self) -> dict:
        """The batch ingest path, layer by layer, over the same messages:
        decode and fold single-threaded, run_batch alone, the
        materializers and the sinks alone over the cached fold."""
        out = self.decode_probe(self.tel.decode_inputs)
        out.update(self.fold_probe(self.tel.messages, self.IFACES))
        sql = counters.SqlMetrics(self.spark)
        t = time.perf_counter()
        with self.tr.span("streaming.pipeline.run_batch", self.op("probe")):
            noop(self.fold())
        out["pipeline.run_batch_s"] = time.perf_counter() - t
        m = sql.collect()
        out["pipeline.python_bytes_in"] = m["python_bytes_in"]
        out["pipeline.python_bytes_out"] = m["python_bytes_out"]
        out["pipeline.shuffle_bytes"] = m["shuffle_bytes"]
        out["pipeline.parallel_speedup"] = out["state_machine.fold_s"] / out["pipeline.run_batch_s"]
        outputs = self.fold().cache()
        outputs.count()
        t = time.perf_counter()
        with self.tr.span("streaming.pipeline.materializers", self.op("probe")):
            for table in (pipeline.datastream_table, pipeline.events_table, pipeline.errors_table,
                          pipeline.commands_table, pipeline.device_snapshots_table):
                noop(table(outputs))
        out["pipeline.materialize_s"] = time.perf_counter() - t
        store = self.fresh("store-probe")
        jobs = counters.JobCounter(self.spark)
        gid = jobs.group("sinks")
        t = time.perf_counter()
        with self.tr.span("streaming.sinks.write_outputs_batch", self.op("probe")):
            write_outputs_batch(outputs, str(store))  # the fold is cached: sinks only
        out["sinks.write_s"] = time.perf_counter() - t
        out["sinks.jobs"] = jobs.jobs(gid)
        out["sinks.files_written"], out["sinks.bytes_written"] = counters.tree_files(str(store))
        shutil.rmtree(store, ignore_errors=True)
        return out


_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _ts(us: int) -> datetime:
    return _EPOCH + timedelta(microseconds=us)


WORKLOADS = {
    "property_stream": PropertyStream,
    "device_queries": DeviceQueries,
}
