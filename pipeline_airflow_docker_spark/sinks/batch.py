"""File / JDBC / Kafka-shape batch sinks (K1, K2, K4-K7).

Design rule carried through every sink: **no per-record RPC** — the
reference does one synchronous ``insert_one`` per message
(SURVEY.md §4.1), which is the single worst scaling behavior in it.
Every sink here writes whole partitions in bulk from executors.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Writer half of the engine's LOSSLESS CSV dialect — the contract for
# engine-written CSV hand-offs (read back with
# sources/batch.py:CSV_LOSSLESS_READ). Derived by cross-probing Spark's
# univocity writer/parser round-trip on a hostile-string corpus
# (round 11; the corpus is pinned in tests/test_csv_contract.py):
#
# - ignore*WhiteSpace=False: Spark's WRITER trims leading/trailing
#   whitespace by default — ' both ' silently becomes 'both'.
# - escape='"': RFC-4180 doubled quotes instead of Spark's default
#   backslash escape (interoperable; backslash-heavy text stops
#   needing escaping at all).
# - nullValue='\N': keeps NULL distinct from '' (the default dialect
#   writes both as nothing and reads both back as NULL). The ONE
#   documented collision: a literal string equal to the sentinel
#   ('\N') is indistinguishable from NULL on the wire — quoting can't
#   save it because the writer quotes the sentinel under quoteAll too
#   — and reads back as NULL. Every other probed string round-trips
#   exactly: embedded commas/quotes/newlines/CRLF/lone-CR, tabs, NUL
#   bytes, astral code points, zero-width chars, backslashes,
#   multi-KB values.
# - Embedded newlines are quoted on write and need multiLine=True on
#   read (see CSV_LOSSLESS_READ for the splittability trade).
# - lineSep='\n' pins the record separator on BOTH halves: the write
#   default is already '\n', but the READ half must not auto-detect —
#   auto-detection swallowed a NUL immediately after a quoted '\n'
#   ('\n\x00' -> '\n', r16 Hypothesis find). Explicit on both sides so
#   the wire format is pinned, not platform-defaulted.
# - charToEscapeQuoteEscaping='"' on BOTH halves: with escape == quote
#   Spark defaults it to NUL, and the reader then dropped the NUL of any
#   value holding both NUL and '"' ('\x00"' -> '"'). Pinned on the
#   writer too, so the wire format is explicit.
#
# CSV stays a TEXTUAL hand-off, but the dialect's numeric/temporal
# fidelity is probed, not assumed (round 11, pinned in
# tests/test_csv_contract.py): DOUBLE columns round-trip BIT-exact
# (Java shortest-repr rendering — verified on -0.0, denormals down to
# 5e-324, 1.79e308, NaN, +-inf, and 17-significant-digit values), and
# TIMESTAMP columns round-trip to the microsecond across 1900..9999
# under the microsecond timestampFormat below (Spark's default format
# silently truncates to milliseconds). The offset suffix (XXX) makes
# written files self-describing across sessions with different
# timezones. Parquet/ORC remain the preferred hand-off for bulk
# binary-exact data; the dialect just no longer LOSES anything.
CSV_LOSSLESS_WRITE: dict[str, str | bool] = {
    "ignoreLeadingWhiteSpace": False,
    "ignoreTrailingWhiteSpace": False,
    "escape": '"',
    "charToEscapeQuoteEscaping": '"',
    "nullValue": "\\N",
    "lineSep": "\n",
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
}


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    dialect: str = "compat",
) -> None:
    """K1: CSV write [ref dags/etl_data_pipeline.py:24
    ``to_csv(path, index=False)``]. Spark never writes an index column,
    so ``index=False`` parity is automatic. One file per partition —
    at scale that is the point; for tiny compat fixtures callers may
    ``coalesce(1)`` first.

    ``dialect="compat"`` matches the reference's ``to_csv`` loosely
    (and Spark's defaults exactly); ``dialect="lossless"`` applies
    ``CSV_LOSSLESS_WRITE`` (above) for exact string fidelity through a
    ``read_csv(..., dialect="lossless")`` read-back."""
    writer = df.write.mode(mode).option("header", header)
    if dialect == "lossless":
        for k, v in CSV_LOSSLESS_WRITE.items():
            writer = writer.option(k, v)
    elif dialect != "compat":
        raise ValueError(f"unknown CSV dialect {dialect!r}; known: compat, lossless")
    writer.csv(path)


def write_json_records(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K2: JSON write [ref dags/etl_data_pipeline_mongodb.py:24
    ``to_json(orient="records")``]. Spark-native form is JSONL (one
    object per line), which ``sources.read_json_records`` and every
    JSONL consumer accept; the reference's array-wrapper framing is a
    serialization detail, not a data-model difference."""
    df.write.mode(mode).json(path)


def append_documents(df: DataFrame, path: str) -> None:
    """K4/K5: document append [ref consumer.py:25 ``insert_one`` per
    message; dags/etl_data_pipeline_mongodb.py:38 ``insert_many``].

    Engine-side form: bulk append of the full frame to a collection
    path (Parquet here; ``append_documents_mongo`` below is the same
    call shape routed through the MongoDB Spark connector, still
    bulk-per-partition, never per-record).
    """
    df.write.mode("append").parquet(path)


def mongo_writer_options(
    uri: str,
    database: str,
    collection: str,
    id_cols: Sequence[str] = (),
    ordered: bool = False,
) -> dict[str, str]:
    """K4/K5 option set for ``df.write.format("mongodb")`` (MongoDB
    Spark connector v10+ option names).

    ``id_cols``: when given, the connector builds ``_id`` from these
    fields and ``upsertDocument`` replaces on collision — the keyed
    idempotent-upsert semantics of the reference's enhanced consumer
    [ref dags/kafka_to_mongo_pipeline_enchanced.py:141-145
    ``update_one(..., upsert=True)``], executed as per-partition bulk
    writes instead of one RPC per record. ``ordered=False`` lets each
    bulk batch continue past individual duplicate-key errors, matching
    ``insert_many(..., ordered=False)``.
    """
    opts = {
        "connection.uri": uri,
        "database": database,
        "collection": collection,
        "ordered": str(ordered).lower(),
    }
    if id_cols:
        opts["idFieldList"] = ",".join(id_cols)
        opts["operationType"] = "replace"
        opts["upsertDocument"] = "true"
    return opts


def append_documents_mongo(
    df: DataFrame,
    uri: str,
    database: str,
    collection: str,
    id_cols: Sequence[str] = (),
    fallback_path: str | None = None,
) -> str:
    """K4/K5 via the MongoDB Spark connector: one config away from the
    reference's ``insert_many`` / keyed upsert
    [ref dags/etl_data_pipeline_mongodb.py:38].

    Returns ``"mongodb"`` when the connector handled the write. The
    connector jar is not bundled with Spark; when it is absent
    (DATA_SOURCE_NOT_FOUND / ClassNotFound) and ``fallback_path`` is
    given, the frame lands in the parquet stand-in instead (returns
    ``"parquet"``) so pipelines stay runnable in connector-less
    environments; without a fallback the error propagates.
    """
    try:
        (
            df.write.format("mongodb")
            .mode("append")
            .options(**mongo_writer_options(uri, database, collection, id_cols))
            .save()
        )
        return "mongodb"
    except Exception as exc:  # noqa: BLE001 — connector-absence only
        if not mongo_connector_absent(exc) or fallback_path is None:
            raise
        append_documents(df, fallback_path)
        return "parquet"


def mongo_connector_absent(exc: Exception) -> bool:
    """True when the error means "the MongoDB Spark connector jar is
    not on the classpath" (as opposed to a real write failure)."""
    msg = str(exc)
    return (
        "DATA_SOURCE_NOT_FOUND" in msg
        or "Failed to find the data source" in msg
        or "ClassNotFoundException" in msg
    )


def write_jdbc_replace(
    df: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    batchsize: int = 10_000,
) -> None:
    """K6: JDBC table replace [ref dags/etl_data_pipeline.py:32-34
    ``to_sql(..., if_exists="replace")``].

    ``mode("overwrite")`` == drop-and-recreate, the reference's
    ``if_exists="replace"``. Executors write concurrent batched
    inserts (``batchsize`` rows per round-trip); a driver jar for the
    target database must be on the classpath. Exercised live against
    embedded Derby (ships with Spark) in ``tests/test_io_pipelines.py``
    — write, read-back, and replace semantics all executed.
    """
    writer = (
        df.write.mode("overwrite")
        .format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def kafka_payload(df: DataFrame, key_cols: Sequence[str] = ()) -> DataFrame:
    """K7 (shape): rows -> Kafka-ready ``(key, value)`` frame.

    ``value`` is the JSON serialization of the whole row — the
    reference's per-record ``json.dumps`` serializer lambda
    [ref producer.py:8] done JVM-side in one expression
    (``to_json(struct(*))``), so it rides whole-stage codegen instead
    of a Python loop. ``key_cols`` concat to the message key for
    partition-by-key ordering (the reference sends unkeyed messages —
    single-partition topics don't survive scale).
    """
    value = F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value")
    if key_cols:
        key = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols]).alias("key")
        return df.select(key, value)
    return df.select(value)


def write_kafka(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    key_cols: Sequence[str] = (),
) -> None:
    """K7: Kafka sink [ref producer.py:23-26 ``producer.send`` +
    ``flush``]. Batch write of the payload frame; delivery is
    per-partition bulk via the Kafka producer in each executor (the
    ``flush()`` semantics are the sink's successful completion)."""
    (
        kafka_payload(df, key_cols)
        .write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .save()
    )


def write_parquet_partitioned(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    mode: str = "overwrite",
    max_records_per_file: int = 5_000_000,
) -> None:
    """Phase-5 layout sink: partitioned columnar table.

    This is what makes partition pruning possible downstream (events
    by day, lineitem by ship-month — SURVEY.md §4.2). The reference
    has no layout concept at all. ``maxRecordsPerFile`` bounds file
    size so a skewed partition value cannot produce one giant file.
    """
    (
        df.write.mode(mode)
        .option("maxRecordsPerFile", str(max_records_per_file))
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    name: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 8,
    sort_cols: Sequence[str] | None = None,
    path: str | None = None,
) -> None:
    """Phase-5 layout sink: hash-bucketed table for co-located joins.

    Two tables bucketed by the same key into the same bucket count
    join with ZERO exchanges — rows with equal keys are already in
    matching files. At 100 TB this removes the dominant cost of every
    fact-fact join on the bucket key (both full-table shuffles);
    the price is paid once at write time and amortized over every
    downstream join/aggregation on that key. ``sort_cols`` pre-sorts
    within buckets so sort-merge join skips its sort too.
    Bucketed tables go through the session catalog (``saveAsTable``) —
    bucket metadata lives there, plain ``.parquet(path)`` cannot
    carry it.
    """
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(name)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC columnar write (see ``sources.batch.read_orc``)."""
    df.write.mode(mode).orc(path)


def compact_files(
    spark,
    src_path: str,
    dest_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
) -> int:
    """Small-file compaction: rewrite a table directory into
    ``ceil(total_bytes / target_file_bytes)`` files; returns the file
    count written.

    Streaming sinks and fine-grained partitioned writes accumulate
    thousands of small files, and at 100 TB the resulting driver-side
    listing + per-file task overhead dominates scan time (the classic
    lakehouse small-file problem). Sizing comes from the Hadoop
    FileSystem content summary (works on any supported scheme, no
    driver-side file iteration), and the rewrite is one
    ``repartition(n)`` — a single round-robin shuffle that also evens
    out skewed input files. Compaction writes to a NEW directory:
    swapping it over the source atomically is the table format's /
    orchestrator's job, not a file sink's.
    """
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(src_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(hpath).getLength()
    n_files = max(1, -(-int(total_bytes) // int(target_file_bytes)))
    df = spark.read.format(fmt).load(src_path)
    df.repartition(n_files).write.mode("overwrite").format(fmt).save(dest_path)
    return n_files
