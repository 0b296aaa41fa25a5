"""Table schemas come from parquet footers read on the driver.

``tables.footer_schema`` must return exactly what Spark's schema
inference returns for the same path, and registering the table views
must start no Spark job.
"""

from __future__ import annotations

import os
import re
import shutil

import pytest

from hadoop_common_spark.tables import (
    DEFAULT_SF_DIR,
    TABLE_NAMES,
    _read_table,
    footer_schema,
    register_views,
)


@pytest.fixture
def nanos_as_long(spark):
    """The session conf ``load_tables`` sets before reading."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


@pytest.mark.parametrize("scale", ["sf0.01", "sf0.1"])
def test_footer_schema_matches_inference_on_testdata(spark, nanos_as_long, sf_dir_med, scale):
    sf = sf_dir_med if scale == "sf0.01" else DEFAULT_SF_DIR
    for name in TABLE_NAMES:
        path = f"{sf}/{name}.parquet"
        assert footer_schema(spark, path) == spark.read.parquet(path).schema, name


def test_footer_schema_matches_inference_on_spark_written_dir(spark, nanos_as_long, tmp_path):
    """The multi-part layout ``bench._replicate_dir`` writes: part files,
    ``_SUCCESS`` and ``.crc`` siblings. Spark's row-metadata key in each
    footer marks ``id`` non-nullable; both sides read it as nullable."""
    path = str(tmp_path / "t.parquet")
    spark.range(1000).selectExpr("id", "CAST(id AS STRING) AS s").repartition(4).write.parquet(
        path
    )
    names = os.listdir(path)
    assert "_SUCCESS" in names and any(n.startswith(".") for n in names)
    assert footer_schema(spark, path) == spark.read.parquet(path).schema


@pytest.mark.parametrize("unit, kind", [("ns", "bigint"), ("us", "timestamp_ntz")])
def test_footer_schema_matches_inference_on_timestamp_forms(
    spark, nanos_as_long, tmp_path, unit, kind
):
    """The two ``events.ts`` physical forms across testdata generations:
    TIMESTAMP(NANOS) and TIMESTAMP(MICROS, not adjusted to UTC). Both
    read back as an instant timestamp through ``_read_table``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = pa.array([0, 1_500_000_000_000_000_000], pa.int64()).cast(pa.timestamp("ns"))
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": ts.cast(pa.timestamp(unit))}),
        str(tmp_path / "events.parquet"),
    )
    path = str(tmp_path / "events.parquet")
    schema = footer_schema(spark, path)
    assert schema == spark.read.parquet(path).schema
    assert schema["ts"].dataType.simpleString() == kind
    df = _read_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert [r.s for r in df.selectExpr("CAST(ts AS LONG) AS s").orderBy("s").collect()] == [
        0,
        1_500_000_000,
    ]


def test_register_views_runs_no_jobs(spark, sf_dir, tmp_path):
    """Registering a directory's ten views reads each schema from its
    footer on the driver: no schema-inference job (one per table)."""
    d = str(tmp_path / "sf")
    shutil.copytree(sf_dir, d)
    sc = spark.sparkContext
    group = "test-register-views-no-jobs"
    sc.setJobGroup(group, "register_views")
    try:
        register_views(spark, d, force=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # the session is shared: later tests read the standard views
        register_views(spark, sf_dir, force=True)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_footer_schema_rejects_other_layouts(spark, tmp_path):
    """A directory with no data file (hidden entries only) or with
    subdirectories is not a table ``footer_schema`` can read."""
    empty = tmp_path / "empty.parquet"
    empty.mkdir()
    (empty / "_SUCCESS").touch()
    with pytest.raises(ValueError, match=re.escape(str(empty))):
        footer_schema(spark, str(empty))

    nested = tmp_path / "nested.parquet"
    spark.range(10).selectExpr("id", "id % 2 AS k").write.partitionBy("k").parquet(str(nested))
    assert all((nested / n).is_dir() for n in os.listdir(nested) if not n.startswith(("_", ".")))
    with pytest.raises(ValueError, match=re.escape(str(nested))):
        footer_schema(spark, str(nested))
