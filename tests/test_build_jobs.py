"""Eager Spark jobs that building a DataFrame launches.

A query builder that probes, caches or collects pays a scheduler
round-trip per job before its result is even planned. These tests pin
the job counts of the table loads and of the curation lines, so a new
probe or cache shows up as a failure, not as a slow benchmark.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from raquet_spark.queries import TABLES, load_table

# build jobs per curation line, by the job-id delta across the builder
CURATE_BUILD_JOBS = {
    # the Arrow collect that feeds the driver fit and the scoring (2),
    # the tally through Arrow (2)
    "quality_classifier_filter": 4,
    # the edge list's stage jobs, the components cap probe that also
    # stores the edge checkpoint (2), the edge collect (1)
    "semantic_dedup_keep": 7,
    "dedup_components": 6,
    "dedup_minhash": 0,
    "ann_lsh": 0,
}


@pytest.mark.parametrize("table", TABLES)
def test_load_table_schema_matches_inference_without_a_job(
    spark, sf_dir, next_job_id, table
):
    """The schema ``load_table`` hands the reader is the one Spark would
    infer, and no inference job runs."""
    before = next_job_id()
    df = load_table(spark, sf_dir, table)
    assert next_job_id() == before
    assert df.schema == spark.read.parquet(f"{sf_dir}/{table}.parquet").schema


def test_load_table_nanosecond_timestamps(spark, tmp_path, next_job_id):
    """TIMESTAMP(NANOS) columns are read as the BIGINT ``nanosAsLong``
    yields and truncated to microseconds, as with inference."""
    path = tmp_path / "nanos.parquet"
    pq.write_table(
        pa.table({
            "id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array([1_000_001_999, -1_500, None], pa.timestamp("ns")),
        }),
        path,
    )
    before = next_job_id()
    df = load_table(spark, str(tmp_path), "nanos")
    assert next_job_id() == before
    inferred = spark.read.parquet(str(path))
    assert inferred.schema["ts"].dataType.simpleString() == "bigint"
    want = inferred.withColumn(
        "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
    )
    assert df.schema == want.schema
    assert df.collect() == want.collect()


def test_curate_build_jobs(spark, sf_dir, next_job_id):
    qs = entry_mod.queries()
    got = {}
    for name in CURATE_BUILD_JOBS:
        before = next_job_id()
        qs[name](spark, sf_dir)
        got[name] = next_job_id() - before
    assert got == CURATE_BUILD_JOBS
