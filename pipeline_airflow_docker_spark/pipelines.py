"""End-to-end replays of every reference pipeline (SURVEY.md §3, §5.2-3).

Each function re-expresses one reference DAG as ONE lazy Catalyst
plan ending in a bulk sink: what was N Airflow tasks passing whole
datasets through ``/tmp`` files (process boundary per stage, full
materialization per stage — SURVEY.md §4.1) becomes a single pass over
the input. Airflow remains free to *schedule* these functions; it never
touches data.

The pass is one write job. Load counts ride on it as an
``Observation`` (``_load``), never a re-read of the sink or a recompute
of the frame; the only other jobs are the CSV schema inference the
reference's ``pd.read_csv`` implies (two per file) and, where a DAG
branches on a count, that one count. Jobs per call, 5k-row CSVs:
``etl_data_pipeline`` 3, ``etl_data_pipeline_mongodb`` 3,
``etl_data_pipeline_mongodb_complex`` 7 (tests/test_io_pipelines.py).

Known reference bugs are implemented as intended, not as written
(SURVEY.md §0 "Reference bugs"): wall-clock stamps use
``current_timestamp()`` (bug 1: missing ``datetime`` import), the
scrape consumer projects the column that exists (bug 2: ``title`` vs
``content`` key mismatch), and all ingestion is bounded (bug 3:
infinite poll loops).

Every function returns the metrics dict the reference would have pushed
to XCom (G5) — counts only, never data; bulk data moves through the
sink paths.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from functools import partial
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pipeline_airflow_docker_spark.operators import (
    drop_null_rows,
    enrich,
    latest_by_key,
    nest_struct,
    require_keys,
    union_ragged,
)
from pipeline_airflow_docker_spark.sinks import (
    append_documents,
    kafka_payload,
    write_csv,
    write_json_records,
)
from pipeline_airflow_docker_spark.sources import (
    read_csv,
    read_json_records,
    read_rest_json,
    scrape_records,
)


def _load(df: DataFrame, write: Callable[[DataFrame], None]) -> int:
    """Run ``write`` on ``df`` and return how many rows it wrote, counted
    by the write job itself (a ``CollectMetrics`` node in its plan)."""
    rows = Observation()
    write(df.observe(rows, F.count(F.lit(1)).alias("n")))
    return rows.get["n"]


def data_extraction(spark: SparkSession, csv_path: str, n: int = 5) -> DataFrame:
    """DAG ``data_extraction`` [ref dags/data_extraction.py:8-19]:
    download CSV -> read -> display head(5). The preview is a
    ``limit`` — a real plan node (TakeOrderedAndProject-free local
    limit), not a driver-side slice of a full materialization."""
    return read_csv(spark, csv_path).limit(n)


def etl_data_pipeline(
    spark: SparkSession, csv_path: str, out_path: str
) -> dict[str, Any]:
    """DAG ``etl_data_pipeline`` [ref dags/etl_data_pipeline.py]:
    extract (CSV) -> transform (dropna any, :23) -> load (table
    replace, :32-34). Three tasks + two /tmp round-trips collapse to
    ``read -> na.drop -> write``; the "replace" load semantics are
    ``mode("overwrite")`` (sink swaps to JDBC when a driver jar is
    deployed — ``sinks.write_jdbc_replace``)."""
    cleaned = drop_null_rows(read_csv(spark, csv_path), how="any")
    n = _load(cleaned, lambda df: df.write.mode("overwrite").parquet(out_path))
    return {"rows_loaded": n}


def etl_data_pipeline_mongodb(
    spark: SparkSession, csv_path: str, collection_path: str
) -> dict[str, Any]:
    """DAG ``etl_data_pipeline_mongodb`` [ref
    dags/etl_data_pipeline_mongodb.py]: CSV -> dropna -> JSON ->
    ``insert_many`` (:38). The CSV->JSON->dict round-trip disappears
    (it existed only to cross task boundaries); the load is one bulk
    document append."""
    cleaned = drop_null_rows(read_csv(spark, csv_path), how="any")
    n = _load(cleaned, partial(append_documents, path=collection_path))
    return {"rows_loaded": n}


def etl_data_pipeline_mongodb_complex(
    spark: SparkSession,
    csv_path_1: str,
    csv_path_2: str,
    collection_path: str,
    min_rows: int = 10,
) -> dict[str, Any]:
    """DAG ``etl_data_pipeline_mongodb_complex`` [ref
    dags/etl_data_pipeline_mongodb_complex.py]: two CSV extracts ->
    FileSensor -> ragged concat (:31) -> dropna(how='all') (:40) ->
    count branch ``> 10`` (:57-62) -> Mongo load or skip -> report.

    The two scans union lazily (fan-in O2 is free Spark scheduling);
    one count of the cleaned frame is the branch decision, exactly the
    reference's ``nb_lignes`` XCom, and the skip branch writes nothing.
    The sensor is orchestration (file-arrival at scale = streaming file
    source).
    """
    combined = union_ragged(read_csv(spark, csv_path_1), read_csv(spark, csv_path_2))
    cleaned = drop_null_rows(combined, how="all")
    nb_lignes = cleaned.count()
    loaded = nb_lignes if nb_lignes > min_rows else 0
    if loaded:
        append_documents(cleaned, collection_path)
    return {"nb_lignes": nb_lignes, "rows_loaded": loaded, "branch": "load" if loaded else "skip"}


def kafka_to_mongo_pipeline(
    spark: SparkSession,
    api_url: str,
    schema: StructType | str,
    collection_path: str,
    max_messages: int = 100,
    fetch: Callable[[str], Sequence[dict[str, Any]]] | None = None,
) -> dict[str, Any]:
    """DAG ``kafka_to_mongo_pipeline`` [ref dags/kafka_to_mongo_pipeline.py]:
    API -> Kafka (JSON values) -> bounded consume (100, :69-80) ->
    project+uppercase ``title`` (:76) -> per-message ``insert_one``.

    The Kafka hop carries no transformation — in-engine it is the
    ``kafka_payload``/``from_json`` pair (exercised by
    ``q_json_roundtrip``); the bounded poll loop is ``limit(n)``; the
    per-message insert becomes one bulk append. The continuously
    running variant of this path is ``streaming.runner`` over
    ``readStream.format("kafka")`` with ``Trigger.AvailableNow``.
    """
    posts = read_rest_json(spark, api_url, schema, fetch=fetch)
    bounded = posts.orderBy("id").limit(max_messages)
    projected = bounded.select(F.upper("title").alias("title"))
    n = _load(projected, partial(append_documents, path=collection_path))
    return {"messages_processed": n}


def kafka_to_mongo_pipeline_enhanced(
    spark: SparkSession,
    api_url: str,
    schema: StructType | str,
    collection_path: str,
    max_messages: int = 50,
    fetch: Callable[[str], Sequence[dict[str, Any]]] | None = None,
    ts: Column | None = None,
) -> dict[str, Any]:
    """DAG ``kafka_to_mongo_pipeline_enchanced`` [ref
    dags/kafka_to_mongo_pipeline_enchanced.py]: validated fetch
    (:31-42,91) -> enrich (:65-80) -> Kafka -> consumer-group read
    bounded 50 (:129-150) -> **keyed upsert by id** (:141-145) ->
    metrics via XCom (:106,159) -> templated report.

    The upsert is the reference's most important semantic: last-writer
    -wins by ``id`` makes at-least-once delivery effectively
    exactly-once. Batch form: ``latest_by_key`` (one shuffle); the
    streaming micro-batch form is ``streaming.sinks.upsert_foreach_batch``.
    ``ts`` injects a deterministic stamp for tests (default wall clock,
    the reference's *intended* ``datetime.now()`` — bug 1 fixed).
    """
    raw = read_rest_json(spark, api_url, schema, fetch=fetch)
    valid = require_keys(raw, ["id", "title", "body"])
    enriched = enrich(valid, source="jsonplaceholder_api", status="raw", ts=ts)
    bounded = enriched.orderBy("id").limit(max_messages)
    deduped = latest_by_key(bounded, keys=["id"], order_by=["processed_timestamp"], tiebreak=["title"])
    n_stored = _load(deduped, partial(append_documents, path=collection_path))
    n_valid = valid.count()
    return {
        "processed_items": min(n_valid, max_messages),
        "stored_items": n_stored,
        "invalid_items": raw.count() - n_valid,
    }


def kafka_to_mongo(
    spark: SparkSession, messages: DataFrame, schema: StructType | str, collection_path: str
) -> dict[str, Any]:
    """DAG ``kafka_to_mongo`` [ref dags/kafka_to_mongo.py]: one message
    produced -> consume from earliest -> byte-decode (:18) -> insert.
    Bug 3 fixed: consumption is bounded (AvailableNow semantics), not
    a forever-loop. ``messages`` is the raw ``value: string`` frame
    (the Kafka value column after ``cast("string")``)."""
    decoded = messages.select(
        F.from_json(F.col("value").cast("string"), schema).alias("r")
    ).select("r.*")
    n = _load(decoded, partial(append_documents, path=collection_path))
    return {"messages_processed": n}


def scrap_to_kafka_to_mongo_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    collection_path: str,
    max_links: int = 10,
) -> dict[str, Any]:
    """DAG ``scrap_to_kafka_to_mongo_pipeline`` [ref
    dags/scrap_to_kafka_to_mongo_pipeline.py]: scrape h1s + first-10
    links (:40-79) -> Kafka -> consume -> project+upper -> insert.

    ``pages`` is a corpus frame with an ``html`` column (at scale:
    the crawled corpus; the reference scrapes exactly one page).
    Bug 2 fixed as intended: the consumer projects/uppercases the
    payload text column ``content`` (the reference reads a ``title``
    key its producer never sends, :108 vs :59,66).
    """
    records = scrape_records(pages, html_col="html", max_links=max_links)
    # Kafka hop: serialize -> (broker) -> deserialize; JVM-side both ways.
    payload_schema = ", ".join(f"`{c}` {t}" for c, t in records.dtypes)
    projected = (
        kafka_payload(records)
        .select(F.from_json("value", payload_schema).alias("r"))
        .select("r.*")
        .select(F.upper(F.trim("content")).alias("content"))
    )
    n = _load(projected, partial(append_documents, path=collection_path))
    return {"messages_processed": n}


def data_pipeline_workflow(
    spark: SparkSession,
    api_url: str,
    schema: StructType | str,
    collection_path: str,
    fetch: Callable[[str], Sequence[dict[str, Any]]] | None = None,
    ts: Column | None = None,
) -> dict[str, Any]:
    """pyc-only DAG ``data_pipeline_workflow`` [ref
    dags/__pycache__/data_pipeline_workflow.cpython-312.pyc, orig
    ~line 45-70]: API -> Kafka ``raw_data_topic`` -> wrap each record
    as ``{original_data, processed_at, status='processed'}`` -> insert
    -> count via XCom -> report. The wrap is the reference's only
    nested type -> ``nest_struct`` (one ``F.struct`` projection), which
    keeps one row per input row, so both counts are the write's."""
    raw = read_rest_json(spark, api_url, schema, fetch=fetch)
    wrapped = nest_struct(raw, wrapper="original_data", status="processed", ts=ts)
    n = _load(wrapped, partial(append_documents, path=collection_path))
    return {"data_count": n, "processed_count": n}
