"""Correctness checks, run with DuckDB over what the engine wrote.

Each check returns a list of mismatch descriptions; an empty list means
the engine's output agrees with the generator's model (or, for the
declared queries, with their DuckDB oracle SQL).
"""

from __future__ import annotations

import glob
import json
import math
import os

import duckdb
import pandas as pd


def _files(tree: str, table: str) -> list[str]:
    return sorted(glob.glob(os.path.join(tree, table, "**", "*.parquet"), recursive=True))


def _scan(table_files: list[str]) -> str:
    listed = ", ".join(f"'{f}'" for f in table_files)
    return f"read_parquet([{listed}], hive_partitioning = true)"


def table_counts(tree: str) -> dict:
    """Row counts of the sink tables, events by type, and the sum of the
    stored double samples."""
    con = duckdb.connect()
    try:
        out = {}
        for table in ("individual_datastreams", "dead_letters", "device_commands", "devices"):
            files = _files(tree, table)
            out[table] = con.execute(f"SELECT count(*) FROM {_scan(files)}").fetchone()[0] if files else 0
        files = _files(tree, "individual_datastreams")
        out["double_sum"] = (
            con.execute(f"SELECT coalesce(sum(double_value), 0) FROM {_scan(files)}").fetchone()[0]
            if files else 0.0
        )
        files = _files(tree, "events_log")
        out["events"] = dict(
            con.execute(
                f"SELECT event_type, count(*) FROM {_scan(files)} GROUP BY 1 ORDER BY 1"
            ).fetchall()
        ) if files else {}
        return out
    finally:
        con.close()


def check_ingest(tree: str, expect: dict, double_sum: float | None = None) -> list[str]:
    """Sink table counts against the model: stored samples, dead letters
    (the injected malformed and unknown-interface messages), commands,
    device snapshots and events by type."""
    got = table_counts(tree)
    bad = []
    pairs = [
        ("individual_datastreams", expect["datastream_rows"]),
        ("dead_letters", expect["dead_letters"]),
        ("device_commands", expect["commands"]),
    ]
    if "devices" in expect:
        pairs.append(("devices", expect["devices"]))
    for table, want in pairs:
        if got[table] != want:
            bad.append(f"{table}: {got[table]} rows, expected {want}")
    want_events = {k: v for k, v in expect["events"].items() if v}
    if got["events"] != want_events:
        bad.append(f"events_log by type: {got['events']}, expected {want_events}")
    if double_sum is not None and not math.isclose(got["double_sum"], double_sum, rel_tol=1e-9, abs_tol=1e-6):
        bad.append(f"sum(double_value) {got['double_sum']}, expected {double_sum}")
    return bad


def typed_value(typed_json: str):
    doc = json.loads(typed_json)
    for col in ("longinteger_value", "string_value", "integer_value", "double_value"):
        if doc.get(col) is not None:
            return doc[col]
    return None


def lww_from_log(tree: str) -> dict:
    """Last-write-wins state folded from ``property_log`` with DuckDB:
    latest row per key, a delete beating a same-instant set."""
    files = _files(tree, "property_log")
    if not files:
        return {}
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"""
            SELECT device_id, interface, path, typed_json FROM (
              SELECT *, row_number() OVER (
                PARTITION BY realm, device_id, interface, path
                ORDER BY reception_timestamp DESC, is_delete DESC) AS rn
              FROM {_scan(files)}
            ) WHERE rn = 1 AND NOT is_delete
            """
        ).fetchall()
    finally:
        con.close()
    return {(d, i, p): typed_value(j) for d, i, p, j in rows}


def diff_properties(got: dict, want: dict) -> list[str]:
    bad = [f"property {k}: {got.get(k)!r}, expected {want.get(k)!r}"
           for k in sorted(set(got) | set(want), key=str) if got.get(k) != want.get(k)]
    return bad[:5] + ([f"... {len(bad) - 5} more"] if len(bad) > 5 else [])


def _normalize(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    df = df[cols].copy()
    for c in cols:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            s = df[c]
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]").astype("int64")
    rows = [tuple(None if (isinstance(v, float) and math.isnan(v)) else v for v in r)
            for r in df.itertuples(index=False, name=None)]
    return sorted(rows, key=lambda r: tuple((v is None, str(v)) for v in r))


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def check_oracle(spark_result: pd.DataFrame, sql: str, events_path: str) -> list[str]:
    """A declared query's Spark result against its oracle SQL, run by
    DuckDB over the same ``events.parquet``: column names, row count and
    every value, order-insensitive."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
        want = con.execute(sql).df()
    finally:
        con.close()
    if sorted(spark_result.columns) != sorted(want.columns):
        return [f"columns {sorted(spark_result.columns)}, expected {sorted(want.columns)}"]
    if len(spark_result) != len(want):
        return [f"{len(spark_result)} rows, expected {len(want)}"]
    got_rows, want_rows = _normalize(spark_result), _normalize(want)
    for g, w in zip(got_rows, want_rows):
        if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
            return [f"row {g} differs from oracle row {w}"]
    return []
