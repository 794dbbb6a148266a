"""SparkSession factory tuned for the engine.

The reference (Aether-Verilys/WorldDataPipeline) has no execution engine of its
own — it is single-threaded Python orchestrating subprocesses
(`/root/reference/structure.md:15-26`).  Everything here replaces that with
Spark's distributed execution.  The knobs below are chosen for the dual target:

* local[32] correctness/bench runs on the driver box, and
* a 1000-executor cluster at ~100 TB, where AQE, skew-join handling and a
  sane shuffle-partition default matter far more.

Scale notes
-----------
- AQE is on: runtime coalescing of shuffle partitions + skew-join splitting
  means the same plans survive 100x data growth without retuning.
- ``spark.sql.shuffle.partitions`` defaults to a local-friendly number but is
  only the *initial* value — AQE coalesces/splits at runtime.
- Arrow is enabled for every pandas_udf / applyInPandas operator (the stateful
  scans and simulation operators are Arrow-batched, never row-at-a-time).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "worlddatapipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Every config set here is a plain public Spark conf; on a real cluster the
    same builder is used with ``master`` unset (inherited from spark-submit).
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_CPUS
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    if not SparkSession.getActiveSession():
        b = b.master(master)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def materialize_and_release(result, *cached):
    """Materialize ``result`` with an eager ``localCheckpoint``, then
    unpersist the ``cached`` frames it derived from.

    Query functions that persist a multi-reader intermediate would otherwise
    leak it: the returned frame is lazy, so there is no point inside the
    function where the cache is both fully consumed and releasable — the
    cached RDD lingers until the ContextCleaner happens to GC it (ADVICE r3).
    Truncating the lineage makes the release safe immediately, and the one
    action it costs is the action the caller was about to run anyway.

    Stated tradeoff for the 100 TB deployment: a localCheckpoint lives on
    executors and is lost with them, so this is only for results that are
    small aggregates / candidate-pair sets (every call site here is).  A
    large result should be written to durable storage and read back instead.

    The returned checkpoint RDD itself stays pinned until the DataFrame is
    GC'd and the ContextCleaner runs — bounded by the (small) result size
    per call, but a driver LOOPING over such calls should `.unpersist()`
    each returned frame when done with it rather than relying on GC pace.
    """
    out = result.localCheckpoint(eager=True)
    for c in cached:
        c.unpersist()
    return out


def drain_memory_sink(spark: SparkSession, sink: str):
    """Materialize a finished memory-sink table and DROP its temp view.

    Streaming parity queries run availableNow into a uniquely-named memory
    sink; without the drop every invocation leaks a driver-memory table
    holding the full aggregate (bench loops re-run queries, so the leak
    compounds — ADVICE r4).  The eager localCheckpoint severs the returned
    frame from the sink so dropping the view is safe immediately.
    """
    out = spark.table(sink).localCheckpoint(eager=True)
    spark.catalog.dropTempView(sink)
    return out


def streaming_events(spark: SparkSession, sf_dir: str):
    """Normalized ``readStream`` over the driver's events.parquet — the ONE
    place the stream-side ts normalization lives (review catch r5: eleven
    streaming parity queries carried verbatim copies).  Mirrors
    ``load_tables``' batch normalization: the driver's ts encoding has
    flipped between TIMESTAMP(NANOS)-read-as-long and TIMESTAMP_NTZ across
    rounds, and every streaming query must normalize identically or
    silently diverge from its batch oracle.  Also pins nanosAsLong and the
    UTC session timezone (driver sessions don't carry get_spark's
    configs; withWatermark/window bucketing must agree with DuckDB's
    epoch_us)."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # pragma: no cover - conf may be fixed on some builds
        pass
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from pyspark.sql import functions as F  # noqa: PLC0415
    from pyspark.sql.types import LongType, TimestampNTZType  # noqa: PLC0415

    raw_schema = _footer_schema(spark, sf_dir, "events")
    if raw_schema is None:
        raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if isinstance(raw_schema["ts"].dataType, LongType):
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif isinstance(raw_schema["ts"].dataType, TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _footer_files(sf_dir: str, name: str) -> list[str]:
    """The parquet file(s) of one input table, in path order: the single
    ``<name>.parquet`` file (the driver's testdata layout), or the part
    files of a Spark-written ``<name>.parquet/`` directory, skipping the
    ``_``/``.`` entries Spark itself skips."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.isdir(path):
        return [path]
    return [
        os.path.join(path, f)
        for f in sorted(os.listdir(path))
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]


def parquet_num_rows(sf_dir: str, name: str) -> int:
    """Exact row count of one input table from the parquet FOOTER — the
    same statistic Spark's own scan planning reads — without scheduling
    a job.  Used by size-routed plan choices (e.g. the
    ``fuzzy_record_linkage`` hybrid), where a full count action would
    cost more than the routing decision saves."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    return sum(pq.ParquetFile(f).metadata.num_rows for f in _footer_files(sf_dir, name))


# Confs Spark's parquet schema inference reads, at their defaults: the
# footer schema below reproduces that inference only under these values.
_INFERENCE_CONFS = {
    "spark.sql.parquet.binaryAsString": "false",
    "spark.sql.parquet.int96AsTimestamp": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    "spark.sql.parquet.mergeSchema": "false",
}


def _proven_arrow_type(t) -> bool:
    """Arrow types whose Spark inference ``tests/test_session_schema.py``
    proves equal to ``from_arrow_type``'s (timestamps only at the top
    level, where :func:`_footer_schema` handles them)."""
    import pyarrow as pa  # noqa: PLC0415

    if pa.types.is_list(t):
        return _proven_arrow_type(t.value_type)
    if pa.types.is_map(t):
        return _proven_arrow_type(t.key_type) and _proven_arrow_type(t.item_type)
    if pa.types.is_struct(t):
        return all(_proven_arrow_type(f.type) for f in t)
    return any(
        is_(t)
        for is_ in (
            pa.types.is_boolean, pa.types.is_int8, pa.types.is_int16,
            pa.types.is_int32, pa.types.is_int64, pa.types.is_float32,
            pa.types.is_float64, pa.types.is_decimal128, pa.types.is_string,
            pa.types.is_binary, pa.types.is_date32,
        )
    )


def _nullable(dt):
    """``dt`` with every field, array element and map value nullable, as
    Spark's file sources mark a data schema (``asNullable``)."""
    from pyspark.sql.types import (  # noqa: PLC0415
        ArrayType, MapType, StructField, StructType,
    )

    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True) for f in dt]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _footer_schema(spark: SparkSession, sf_dir: str, name: str):
    """The ``StructType`` ``spark.read.parquet`` infers for one input table,
    built from its parquet footer without scheduling a job, or ``None``
    when the footer path cannot promise that equality.

    Spark's inference (``mergeSchema=false``) reads one footer, the first
    data file in path order, so this reads that same footer.  The arrow
    schema goes through ``from_arrow_type``, with three corrections pinned
    by ``tests/test_session_schema.py``: a top-level nanosecond timestamp
    is ``LongType`` (``nanosAsLong``, which callers pin) unless its
    physical type is INT96, which Spark reads as ``TimestampType``; every
    field is nullable, recursively.  ``None`` (use Spark's own inference)
    for: a type outside :func:`_proven_arrow_type`, a nested timestamp, a
    non-default inference conf, a directory with no part files, or a
    Spark-written footer whose stored Spark schema disagrees with the
    derived one (Spark's inference returns the stored schema)."""
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415
    from pyspark.sql.pandas.types import from_arrow_type  # noqa: PLC0415
    from pyspark.sql.types import (  # noqa: PLC0415
        LongType, StructField, StructType, TimestampType,
        _parse_datatype_json_string,
    )

    files = _footer_files(sf_dir, name)
    if not files or any(
        spark.conf.get(k, v).lower() != v for k, v in _INFERENCE_CONFS.items()
    ):
        return None
    pf = pq.ParquetFile(files[0])
    int96 = {
        c.path
        for c in map(pf.schema.column, range(len(pf.schema)))
        if c.physical_type == "INT96"
    }
    fields = []
    for f in pf.schema_arrow:
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            dt = TimestampType() if f.name in int96 else LongType()
        elif pa.types.is_timestamp(f.type) or _proven_arrow_type(f.type):
            dt = _nullable(from_arrow_type(f.type, prefer_timestamp_ntz=True))
        else:
            return None
        fields.append(StructField(f.name, dt, True))
    schema = StructType(fields)
    stored = (pf.metadata.metadata or {}).get(
        b"org.apache.spark.sql.parquet.row.metadata"
    )
    if stored is not None and _nullable(
        _parse_datatype_json_string(stored.decode())
    ) != schema:
        return None
    return schema


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Register the driver's parquet tables as temp views and return them.

    Mirrors the reference's catalog-open step (`scene_registry.py:16-25` opens
    SQLite; here we attach parquet).  Column pruning + predicate pushdown then
    happen automatically at the parquet scan.

    Each table is read with a supplied schema, built from its parquet footer
    by :func:`_footer_schema` (one footer read, ~0.2 ms), so opening a table
    schedules no Spark job; ``spark.read.parquet``'s own inference is a job
    per table (~80 ms on 4 cores).  Where the footer schema cannot promise
    to equal Spark's inference (an untested type, a non-default inference
    conf) the table falls back to that inference.  The footer is read on
    every call: there is no memo, so a rewritten input is never read with
    a stale schema.
    """
    names = names or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    # Timestamp normalization.  The driver's parquet has shipped `events.ts`
    # as TIMESTAMP(NANOS) (read as long nanos under nanosAsLong) in one round
    # and plain TIMESTAMP(MICROS, isAdjustedToUTC=false) in another — the
    # latter surfaces as TIMESTAMP_NTZ, which `unix_micros`/`withWatermark`
    # reject.  Normalize every variant to a session-tz TIMESTAMP here, once,
    # so no query has to care.  Session tz is pinned UTC (get_spark above), so
    # the NTZ→TIMESTAMP cast is wall-clock preserving and epoch semantics
    # match DuckDB's `epoch_us` exactly.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    # The driver builds its OWN SparkSession (not get_spark), so the UTC
    # session tz from the builder is not guaranteed.  The NTZ->TIMESTAMP cast
    # below is wall-clock->instant and reads the session tz at runtime; pin
    # it here so epoch semantics always match DuckDB's epoch_us.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    out = {}
    for n in names:
        schema = _footer_schema(spark, sf_dir, n)
        reader = spark.read if schema is None else spark.read.schema(schema)
        df = reader.parquet(os.path.join(sf_dir, f"{n}.parquet"))
        for f in df.schema.fields:
            if isinstance(f.dataType, TimestampNTZType):
                df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
            elif n == "events" and f.name == "ts" and isinstance(f.dataType, LongType):
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        df.createOrReplaceTempView(n)
        out[n] = df
    return out


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    """The named tables from :func:`load_tables`, in argument order."""
    tabs = load_tables(spark, sf_dir, list(names))
    return [tabs[n] for n in names]
