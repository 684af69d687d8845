"""SparkSession builder with scale-appropriate defaults, and the one
way the package turns driver-side rows into a DataFrame.

Tuned for correctness tests on ``local[N]`` while keeping every knob one
a 1000-executor cluster also wants: AQE (runtime re-planning, skew-join
splitting, partition coalescing), broadcast-join threshold, Arrow for
the Pandas-UDF operators, and shuffle partitions sized by the caller.

:func:`local_frame` builds every metadata-sized frame (DML metrics,
SHOW/DESCRIBE results, deletion-vector masks, path and partition-value
side tables, codebooks) through Arrow, so Spark plans it as a
``LocalRelation``: no Python worker re-pickles the rows, as the
``createDataFrame(<python list>)`` RDD path does.
"""

from __future__ import annotations

import functools
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
    _parse_datatype_string,
)


def build_session(
    app_name: str = "glue-table-cache-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # long many-query sessions generate hundreds of wholestage-
        # codegen classes; the JVM's default 240m code cache fills, JIT
        # silently disables, and every later query runs interpreted
        # (~2-3x slower).  One flag keeps steady-state steady.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@functools.lru_cache(maxsize=256)
def _ddl_json(ddl: str) -> str:
    # the parse is a py4j round trip; the package's DDL strings are
    # mostly a small fixed set, so most are parsed once per process
    return _parse_datatype_string(ddl).json()


def _jvm_str(v):
    if v is None or isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def local_frame(
    spark: SparkSession, rows, schema: StructType | str
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for driver-built rows,
    planned as a ``LocalRelation`` instead of a Python-worker RDD.

    ``rows`` are tuples in ``schema`` order; ``schema`` is a
    ``StructType`` or a DDL string.  Values convert as on the list
    path: timestamps go through ``toInternal`` (a naive datetime is
    local wall time, an aware one its instant), and a null in a
    non-nullable field raises instead of reaching Spark."""
    struct = (
        schema
        if isinstance(schema, StructType)
        else StructType.fromJson(json.loads(_ddl_json(schema)))
    )
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(struct)
    rows = list(rows)
    columns = (
        list(zip(*rows, strict=True)) if rows else [()] * len(struct.fields)
    )
    if len(columns) != len(struct.fields):
        raise ValueError(
            f"rows have {len(columns)} fields, the schema "
            f"{len(struct.fields)}"
        )
    arrays = []
    for field, arrow_field, values in zip(
        struct.fields, arrow_schema, columns
    ):
        if isinstance(field.dataType, (TimestampType, TimestampNTZType)):
            values = [
                None if v is None else field.dataType.toInternal(v)
                for v in values
            ]
        try:
            array = pa.array(values, type=arrow_field.type)
        except (pa.ArrowTypeError, pa.ArrowInvalid):
            if not isinstance(field.dataType, StringType):
                raise
            # the list path stores any object in a string column as
            # its JVM toString: 3 -> '3', True -> 'true'
            array = pa.array(
                [_jvm_str(v) for v in values], type=arrow_field.type
            )
        if not field.nullable and array.null_count:
            raise ValueError(
                f"field {field.name}: this field is not nullable, but "
                "got None"
            )
        arrays.append(array)
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, struct)
