"""The footer schema ``load_tables`` supplies must equal Spark's own parquet
schema inference, field for field, and opening the tables must schedule no
Spark job."""

import datetime as dt
import decimal
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from worlddatapipeline_spark import session

TESTDATA = "/root/testdata"  # the layout TESTDATA.md documents
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
T0 = dt.datetime(2024, 1, 2, 3, 4, 5, 678901)


@pytest.fixture
def nanos(spark):
    """Spark reads TIMESTAMP(NANOS) only under nanosAsLong, which
    ``load_tables`` pins."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def _inferred(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet").schema


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.1"])
def test_footer_schema_matches_inference_on_testdata(nanos, sf):
    sf_dir = f"{TESTDATA}/{sf}"
    for name in TABLES:
        schema = session._footer_schema(nanos, sf_dir, name)
        assert schema is not None, name
        assert schema == _inferred(nanos, sf_dir, name), name


def _table(cols):
    return pa.table({k: pa.array(v, t) for k, (t, v) in cols.items()})


# name -> (arrow table, True when the footer path must take it)
CASES = {
    "ts_ns": (_table({"t": (pa.timestamp("ns"), [T0, None])}), True),
    "ts_ns_utc": (_table({"t": (pa.timestamp("ns", "UTC"), [T0, None])}), True),
    "ts_us_utc": (_table({"t": (pa.timestamp("us", "UTC"), [T0, None])}), True),
    "ts_ms": (_table({"t": (pa.timestamp("ms"), [T0, None])}), True),
    "small_ints": (_table({"a": (pa.int8(), [-128, None]),
                           "b": (pa.int16(), [32767, None])}), True),
    "decimals": (_table({
        "a": (pa.decimal128(5, 0), [decimal.Decimal("12345"), None]),
        "b": (pa.decimal128(18, 4), [decimal.Decimal("-1.2345"), None]),
        "c": (pa.decimal128(38, 10), [decimal.Decimal("3.1"), None])}), True),
    "nested": (_table({
        "l": (pa.list_(pa.int32()), [[1, None], None]),
        "s": (pa.struct([("x", pa.int64()), ("y", pa.string())]),
              [{"x": 1, "y": "a"}, None]),
        "m": (pa.map_(pa.string(), pa.float64()), [[("k", 1.5)], None]),
        "ls": (pa.list_(pa.struct([("z", pa.list_(pa.float32()))])),
               [[{"z": [1.0]}], None]),
        "bin": (pa.binary(), [b"\x00\xff", None]),
        "d": (pa.date32(), [dt.date(2024, 1, 2), None]),
        "b": (pa.bool_(), [True, None])}), True),
    "non_nullable": (pa.table(
        [pa.array([1, 2], pa.int64()),
         pa.array([[1], [2]], pa.list_(pa.field("element", pa.int32(), False))),
         pa.array([[("k", 1)], []], pa.map_(pa.string(), pa.field("v", pa.int64(), False))),
         pa.array([{"x": 1}, {"x": 2}], pa.struct([pa.field("x", pa.int32(), False)]))],
        schema=pa.schema([
            pa.field("id", pa.int64(), False),
            pa.field("l", pa.list_(pa.field("element", pa.int32(), False)), False),
            pa.field("m", pa.map_(pa.string(), pa.field("v", pa.int64(), False))),
            pa.field("s", pa.struct([pa.field("x", pa.int32(), False)]), False)])),
        True),
    "zero_rows": (_table({"a": (pa.int64(), []), "s": (pa.string(), []),
                          "t": (pa.timestamp("us"), []),
                          "l": (pa.list_(pa.float32()), [])}), True),
    # types the footer path leaves to Spark's inference
    "unsigned": (_table({"a": (pa.uint8(), [255, None]),
                         "b": (pa.uint16(), [65535, None]),
                         "c": (pa.uint32(), [4294967295, None]),
                         "d": (pa.uint64(), [18446744073709551615, None])}), False),
    "uint32_only": (_table({"c": (pa.uint32(), [7, None])}), False),
    "nested_ts": (_table({"l": (pa.list_(pa.timestamp("us")), [[T0], None])}), False),
    "duration": (_table({"d": (pa.duration("us"), [5, None])}), False),
    "dictionary": (pa.table({"s": pa.array(["a", "b", "a"]).dictionary_encode()}), False),
    "large_string": (_table({"s": (pa.large_string(), ["a", None])}), False),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_footer_schema_matches_inference(nanos, tmp_path, name):
    table, footer_path = CASES[name]
    pq.write_table(table, tmp_path / f"{name}.parquet")
    schema = session._footer_schema(nanos, str(tmp_path), name)
    if footer_path:
        assert schema == _inferred(nanos, str(tmp_path), name)
    else:
        assert schema is None
    _assert_load_tables_unchanged(nanos, str(tmp_path), name)


def _assert_load_tables_unchanged(spark, sf_dir, name):
    """load_tables with the footer schema returns the schema and rows it
    returns through Spark's inference."""
    got = session.load_tables(spark, sf_dir, [name])[name]
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(session, "_footer_schema", lambda *_: None)
        want = session.load_tables(spark, sf_dir, [name])[name]
    assert got.schema == want.schema
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


def test_int96_written_by_pyarrow(nanos, tmp_path):
    """INT96 surfaces in arrow as timestamp[ns]; Spark reads TimestampType."""
    table = _table({"t": (pa.timestamp("ns"), [T0, None]), "i": (pa.int32(), [1, 2])})
    pq.write_table(table, tmp_path / "i96.parquet", use_deprecated_int96_timestamps=True)
    schema = session._footer_schema(nanos, str(tmp_path), "i96")
    assert schema is not None and schema["t"].dataType.typeName() == "timestamp"
    assert schema == _inferred(nanos, str(tmp_path), "i96")
    _assert_load_tables_unchanged(nanos, str(tmp_path), "i96")


def test_spark_written_int96_directory(nanos, tmp_path):
    """A Spark-written part directory (INT96 timestamps, the writer's
    default) reads the first part file's footer."""
    ddl = "id long, t timestamp, d date, l array<double>, s string"
    path = str(tmp_path / "sparkdir.parquet")
    for row in [(1, T0, dt.date(2024, 1, 2), [1.5], "a"), (2, None, None, None, None)]:
        nanos.createDataFrame([row], ddl).coalesce(1).write.mode("append").parquet(path)
    first = pq.ParquetFile(session._footer_files(str(tmp_path), "sparkdir")[0])
    assert first.schema.column(1).physical_type == "INT96"
    assert len(session._footer_files(str(tmp_path), "sparkdir")) == 2
    assert session.parquet_num_rows(str(tmp_path), "sparkdir") == 2
    schema = session._footer_schema(nanos, str(tmp_path), "sparkdir")
    assert schema is not None
    assert schema == _inferred(nanos, str(tmp_path), "sparkdir")
    _assert_load_tables_unchanged(nanos, str(tmp_path), "sparkdir")


def test_spark_written_schema_that_disagrees_is_inferred(nanos, tmp_path):
    """A Spark-written interval column is INT64 in parquet, but Spark's
    inference returns the stored Spark schema, so the footer path yields."""
    nanos.sql("SELECT 1 AS id, INTERVAL '1' DAY AS iv").write.parquet(
        str(tmp_path / "iv.parquet"))
    assert session._footer_schema(nanos, str(tmp_path), "iv") is None
    _assert_load_tables_unchanged(nanos, str(tmp_path), "iv")


def test_empty_directory_is_inferred(nanos, tmp_path):
    (tmp_path / "none.parquet").mkdir()
    assert session._footer_schema(nanos, str(tmp_path), "none") is None


@pytest.mark.parametrize("conf", sorted(session._INFERENCE_CONFS))
def test_non_default_inference_conf_is_inferred(nanos, tmp_path, conf):
    """Under a non-default inference conf the footer path yields, and the
    tables still read as Spark infers them."""
    table = _table({"b": (pa.binary(), [b"ab", None]), "t": (pa.timestamp("us"), [T0, None])})
    pq.write_table(table, tmp_path / "conf.parquet")
    flipped = "true" if session._INFERENCE_CONFS[conf] == "false" else "false"
    nanos.conf.set(conf, flipped)
    try:
        assert session._footer_schema(nanos, str(tmp_path), "conf") is None
        _assert_load_tables_unchanged(nanos, str(tmp_path), "conf")
    finally:
        nanos.conf.unset(conf)


def test_load_tables_schedules_no_spark_job(spark):
    """Opening all ten tables runs no schema-inference job.  A second group's
    sentinel job proves the listener bus has caught up before counting."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("load_tables_probe", "load_tables")
        session.load_tables(spark, f"{TESTDATA}/sf0.001", TABLES)
        sc.setJobGroup("load_tables_sentinel", "sentinel")
        sc.parallelize([1], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup("load_tables_sentinel"):
        assert time.monotonic() < deadline, "sentinel job never reported"
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup("load_tables_probe") == []
