"""Footer schemas in catalog.table: the schema Spark's inference would
give, with no job launched to get it."""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from pipeline_airflow_docker_spark import catalog
from tools.stage_bytes import group_jobs

# The generated test data: one dir per scale factor, beside the default.
TESTDATA = [
    os.path.join(os.path.dirname(catalog.DEFAULT_SF_DIR), f"sf{sf}")
    for sf in ("0.001", "0.01", "0.1")
]


@pytest.mark.parametrize("sf_dir", TESTDATA)
def test_footer_schema_equals_inference_on_every_table(spark, sf_dir):
    paths = sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))
    if not paths:
        pytest.skip(f"{sf_dir} not generated")
    for path in paths:
        inferred = spark.read.parquet(path).schema
        footer = catalog.file_schema(spark, path)
        assert footer == inferred, path
        assert footer.json() == inferred.json(), path  # metadata too
        assert spark.read.schema(footer).parquet(path).schema == inferred, path


def test_catalog_table_launches_no_job(spark, sf_dir):
    sc = spark.sparkContext
    try:
        sc.setJobGroup("catalog-schema-test.tables", "catalog.table")
        for name in catalog.TABLES:
            catalog.table(spark, sf_dir, name)
        assert len(group_jobs(spark, "catalog-schema-test.tables")) == 0
        # The counter sees inference's job when there is one.
        sc.setJobGroup("catalog-schema-test.infer", "inference")
        spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
        assert len(group_jobs(spark, "catalog-schema-test.infer")) >= 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_directory_table_falls_back_to_inference(spark, sf_dir, tmp_path):
    path = str(tmp_path / "region.parquet")
    catalog.table(spark, sf_dir, "region").write.parquet(path)
    assert os.path.isdir(path)
    assert catalog.file_schema(spark, path) is None
    df = catalog.table(spark, str(tmp_path), "region")
    assert df.schema == spark.read.parquet(path).schema
    assert df.count() == catalog.table(spark, sf_dir, "region").count()


def test_rewriting_a_file_invalidates_the_memo(spark, sf_dir, tmp_path):
    path = str(tmp_path / "nation.parquet")
    shutil.copyfile(os.path.join(sf_dir, "region.parquet"), path)
    first = catalog.file_schema(spark, path)
    assert first == spark.read.parquet(os.path.join(sf_dir, "region.parquet")).schema
    assert catalog.file_schema(spark, path) is first  # memo hit
    shutil.copyfile(os.path.join(sf_dir, "nation.parquet"), path)
    second = catalog.file_schema(spark, path)
    assert second != first
    assert second == spark.read.parquet(path).schema
    assert catalog.table(spark, str(tmp_path), "nation").schema == second


def test_events_normalization_is_unchanged(spark, sf_dir):
    assert dict(catalog.table(spark, sf_dir, "events").dtypes)["ts"] == "timestamp"
