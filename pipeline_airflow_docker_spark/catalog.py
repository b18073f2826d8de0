"""Table catalog over the driver-generated Parquet test tables.

Tables (FIXTURES.md §3): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table under
``{sf_dir}/{name}.parquet``.

At 100 TB these would be partitioned lakehouse tables (events by day,
lineitem by ship-month — SURVEY.md §7 Phase 5); the scan API below is
the single place that knowledge lives, so queries never hard-code paths.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, _parse_datatype_json_string

TABLES: tuple[str, ...] = (
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
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Small dimension tables that should always be broadcast in joins.
BROADCAST_TABLES: frozenset[str] = frozenset({"region", "nation"})


# The SQLConf getters ParquetToSparkSchemaConverter(SQLConf) reads: a
# footer schema holds only while these hold, so they key the memo.
_CONVERTER_CONFS = (
    "isParquetBinaryAsString",
    "isParquetINT96AsTimestamp",
    "caseSensitiveAnalysis",
    "parquetInferTimestampNTZEnabled",
    "legacyParquetNanosAsLong",
    "parquetFieldIdReadEnabled",
    "parquetIgnoreVariantAnnotation",
    "parquetReaderRespectUnknownTypeAnnotation",
)
# path -> ((size, mtime_ns, converter confs), schema)
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def file_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` infers for a single local
    parquet file, without the job inference launches: the footer is read
    on the driver and converted by Spark's own
    ``ParquetFileFormat.readSchemaFromFooter``, under the session's conf.
    Memoized by (path, size, mtime_ns, converter confs), so a rewritten
    file or a changed conf is read again. None for anything but a
    regular file: directories keep Spark's inference."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    sql_conf = spark._jsparkSession.sessionState().conf()
    stamp = (st.st_size, st.st_mtime_ns, tuple(getattr(sql_conf, m)() for m in _CONVERTER_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    meta = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        spark._jsparkSession.sessionState().newHadoopConf(),
        hpath,
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
    )
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    jschema = parquet.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(hpath, meta),
        parquet.ParquetToSparkSchemaConverter(sql_conf),
    )
    schema = _parse_datatype_json_string(jschema.json())
    _SCHEMAS[path] = (stamp, schema)
    return schema


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar Parquet scan. Catalyst pushes predicates and prunes
    columns into this scan automatically (verified via .explain —
    PushedFilters / ReadSchema). A single-file table is read with its
    footer schema (:func:`file_schema`), which launches no job; every
    byte is still scanned by the query that uses it."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = file_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    if name == "events":
        # events.ts may arrive as parquet TIMESTAMP(NANOS) (Spark 4
        # cannot read it natively: read nanos as long, truncate to
        # microseconds with integer division — double division
        # mis-rounds near microsecond boundaries) or as TIMESTAMP(US)
        # without a timezone, which Spark 4 reads as TIMESTAMP_NTZ.
        # withWatermark and unix_micros both reject NTZ, so normalize
        # to TIMESTAMP: the session timezone is pinned UTC
        # (session.py), so the cast is value-preserving and DuckDB
        # oracle parity holds. Reading nanos as long needs
        # spark.sql.legacy.parquet.nanosAsLong, which RUNTIME_CONF sets.
        df = reader.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return reader.parquet(path)


def register_views(spark: SparkSession, sf_dir: str, suffix: str = "") -> None:
    """Register every table as a temp view (for the spark.sql entry
    point, SURVEY.md §2 B20)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(f"{name}{suffix}")
