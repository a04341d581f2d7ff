"""SparkSession factory.

Defaults chosen for the driver's local[32] single-JVM harness but written so
the same code lands well on a multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting, broadcast demotion).
- ``spark.sql.session.timeZone=UTC`` so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for the few pandas-UDF paths (similarity / multimodal).
- Shuffle partitions sized to cores locally; on a real cluster AQE's
  coalescing makes the initial number mostly a ceiling.

Driver-built rows (extracts, k-means centroids, codebooks, small sidecar
records) enter Spark only through :func:`local_frame`, which lands them as
an Arrow ``LocalRelation`` instead of a pickled PythonRDD.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "stock-etl-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    An already-running session is reused as-is (Spark is one-JVM-per-process);
    runtime-settable confs are still applied so tests get UTC + AQE even on a
    driver-provided session.
    """
    par = default_parallelism()
    master = master or f"local[{par}]"
    shuffle = shuffle_partitions or par

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local[N] is a single JVM acting as driver AND all executors; the
        # 1g default driver heap is sized for a thin cluster driver, not for
        # N executor threads' worth of hash tables + broadcasts (the 10x
        # soak OOMed it). Inert if a session already exists.
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Cached plans historically pin their output partitioning, which
        # DISABLES AQE under a persist() — the simhash signature cache fill
        # ran 2.5x slower (static sort-merge vocab join instead of an AQE
        # broadcast). Let AQE re-plan cached subtrees.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Runtime-settable confs, in case we reused an existing session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark


def apply_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally created session
    (e.g. the driver's)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        spark.conf.set(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
    except Exception:
        pass  # static conf on some builds; the persist paths still work
    return spark


_DATETIME = (T.DateType, T.TimestampType, T.TimestampNTZType)


def _has_datetime(dt: T.DataType) -> bool:
    if isinstance(dt, _DATETIME):
        return True
    if isinstance(dt, T.ArrayType):
        return _has_datetime(dt.elementType)
    if isinstance(dt, T.MapType):
        return _has_datetime(dt.keyType) or _has_datetime(dt.valueType)
    if isinstance(dt, T.StructType):
        return any(_has_datetime(f.dataType) for f in dt.fields)
    return False


def _arrow_column(values, dt: T.DataType):
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    # Dates and timestamps arrive as StructType.toInternal's integers (days;
    # microseconds since the epoch, already resolved against the process
    # time zone for naive datetimes) and are only re-labelled here, so no
    # time-zone arithmetic happens twice.
    if isinstance(dt, T.DateType):
        return pa.array(values, pa.int32()).cast(pa.date32())
    if isinstance(dt, T.TimestampType):
        return pa.array(values, pa.int64()).cast(pa.timestamp("us", tz="UTC"))
    if isinstance(dt, T.TimestampNTZType):
        return pa.array(values, pa.int64()).cast(pa.timestamp("us"))
    return pa.array(values, to_arrow_type(dt))


def local_frame(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """The one way driver-side rows become a DataFrame.

    ``spark.createDataFrame(list, schema)`` lands as a pickled PythonRDD
    (an opaque ``LogicalRDD``): every job that reads it starts Python
    workers just to re-pickle the rows. Here the rows run the same
    verify → convert → ``StructType.toInternal`` steps as
    ``SparkSession._create_dataframe`` (so type and NULL errors are the
    same exceptions), are packed into a ``pyarrow.Table`` and handed to
    Spark's Arrow path, which plans a JVM ``LocalRelation`` (below
    ``spark.sql.execution.arrow.localRelationThreshold``; an Arrow-batch
    JVM RDD above it). Neither needs a Python worker.

    ``rows`` is a list of tuples / dicts / Rows, or a ``pyarrow.Table``
    already in the schema's column order (passed through unverified).
    ``schema`` is a StructType or a DDL string. Dates and timestamps are
    supported as top-level columns only; a schema nesting them inside an
    array, map or struct is refused.
    """
    import pyarrow as pa

    if isinstance(schema, str):
        schema = spark._parse_ddl(schema)
    if not isinstance(schema, T.StructType):
        raise TypeError(f"local_frame needs a struct schema, got {schema!r}")
    for f in schema.fields:
        if not isinstance(f.dataType, _DATETIME) and _has_datetime(f.dataType):
            raise TypeError(
                f"local_frame: field {f.name!r} ({f.dataType.simpleString()}) "
                "nests a date/timestamp type; only top-level date/timestamp "
                "columns are supported"
            )
    if not isinstance(rows, pa.Table):
        rows = list(rows)
        verify = T._make_type_verifier(schema)
        for row in rows:
            verify(row)
        convert = T._create_converter(schema)
        internal = [schema.toInternal(convert(row)) for row in rows]
        columns = list(zip(*internal)) or [()] * len(schema.fields)
        rows = pa.Table.from_arrays(
            [_arrow_column(c, f.dataType) for c, f in zip(columns, schema.fields)],
            names=schema.names,
        )
    return spark.createDataFrame(rows, schema)
