"""catalog.read_parquet: a path whose data files carry a footer the
process has already resolved is read with the schema Spark inferred for
that footer, and no schema-inference job runs. Each exactness case reads
a second path holding identical files and compares the reader's schema
with a fresh ``spark.read.parquet`` of that path; each fallback case
first shows the footer is known (a plain copy reads job-free), then that
the fallback shape still runs Spark's inference and gets its schema."""

from __future__ import annotations

import datetime as dt
import itertools
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from economic_data_project_spark import catalog
from economic_data_project_spark.catalog import read_parquet

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"catalog-reader-{next(_GROUPS)}"
    sc.setJobGroup(group, "catalog reader")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _copy(src, dst):
    (shutil.copytree if os.path.isdir(src) else shutil.copy)(src, dst)
    return str(dst)


def _rows(df):
    return sorted(map(str, df.collect()))


def _assert_second_read_free(spark, a, b):
    read_parquet(spark, a)
    second, jobs = _jobs(spark, lambda: read_parquet(spark, b))
    fresh = spark.read.parquet(b)
    assert jobs == 0
    assert second.schema == fresh.schema
    assert _rows(second) == _rows(fresh)
    return second


@pytest.fixture()
def conf(spark):
    """Set session confs for one test and restore them after it."""
    saved = {}

    def set_(key, value):
        saved.setdefault(key, spark.conf.get(key))
        spark.conf.set(key, value)

    yield set_
    for key, value in saved.items():
        spark.conf.set(key, value)


def test_spark_written_directory_reads_free(spark, tmp_path):
    a = str(tmp_path / "a")
    spark.range(6).select(
        F.col("id"),  # non-nullable long
        F.col("id").cast("decimal(28,6)").alias("amount"),
        F.array(F.col("id").cast("double"), F.lit(0.5)).alias("vec"),
        F.struct(F.col("id").alias("k"), F.lit("v").alias("s")).alias("st"),
        F.timestamp_seconds(F.col("id")).alias("ts"),
    ).repartition(3).write.parquet(a)
    parts = [f for f in os.listdir(a) if f.endswith(".parquet")]
    assert len(parts) == 3
    second = _assert_second_read_free(spark, a, _copy(a, tmp_path / "b"))
    assert second.schema["amount"].dataType.simpleString() == "decimal(28,6)"


def test_pyarrow_single_file_reads_free(spark, tmp_path):
    a = str(tmp_path / "a.parquet")
    pq.write_table(
        pa.table({
            "s": ["x", None],
            "t": pa.array(
                [dt.datetime(2020, 1, 1), dt.datetime(2021, 6, 1, 3)],
                pa.timestamp("us"),
            ),
        }),
        a,
    )
    _assert_second_read_free(spark, a, _copy(a, tmp_path / "b.parquet"))


def test_nanos_file_reads_free_under_nanos_as_long(spark, tmp_path, conf):
    conf("spark.sql.legacy.parquet.nanosAsLong", "true")
    a = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table({
            "user_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([10**18, -1500], pa.timestamp("ns", tz="UTC")),
        }),
        a,
    )
    second = _assert_second_read_free(
        spark, a, _copy(a, tmp_path / "events2.parquet")
    )
    assert second.schema["ts"].dataType.simpleString() == "bigint"


def test_int96_directory_reads_free(spark, tmp_path, conf):
    conf("spark.sql.parquet.outputTimestampType", "INT96")
    a = str(tmp_path / "a")
    spark.range(4).select(
        F.col("id"), F.timestamp_seconds(F.col("id")).alias("ts")
    ).repartition(2).write.parquet(a)
    _assert_second_read_free(spark, a, _copy(a, tmp_path / "b"))


@pytest.fixture()
def known(spark, tmp_path):
    """A Spark-written flat table whose footer the reader has resolved;
    returns the path of one of its part files."""
    a = str(tmp_path / "known")
    spark.range(4).select(
        F.col("id").alias("x"), F.lit("y").alias("y")
    ).repartition(1).write.parquet(a)
    read_parquet(spark, a)
    _, jobs = _jobs(spark, lambda: read_parquet(spark, _copy(a, tmp_path / "copy")))
    assert jobs == 0
    (part,) = [f for f in os.listdir(a) if f.endswith(".parquet")]
    return os.path.join(a, part)


def _assert_infers(spark, path):
    df, jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert jobs >= 1
    assert df.schema == spark.read.parquet(path).schema
    return df


def test_partition_subdirectory_falls_back(spark, tmp_path, known):
    os.makedirs(tmp_path / "p" / "day=1")
    shutil.copy(known, tmp_path / "p" / "day=1")
    df = _assert_infers(spark, str(tmp_path / "p"))
    assert df.columns == ["x", "y", "day"]


def test_common_metadata_falls_back(spark, tmp_path, known):
    os.makedirs(tmp_path / "c")
    shutil.copy(known, tmp_path / "c")
    pq.write_metadata(
        pa.schema([("x", pa.int64()), ("y", pa.string()), ("z", pa.int32())]),
        str(tmp_path / "c" / "_common_metadata"),
    )
    _assert_infers(spark, str(tmp_path / "c"))


def test_disagreeing_part_files_fall_back(spark, tmp_path, known):
    os.makedirs(tmp_path / "d")
    shutil.copy(known, tmp_path / "d" / "part-0.parquet")
    pq.write_table(
        pa.table({"x": pa.array([9], pa.int64()), "z": [1.5]}),
        str(tmp_path / "d" / "part-1.parquet"),
    )
    _assert_infers(spark, str(tmp_path / "d"))


def test_more_files_than_listing_threshold_fall_back(spark, tmp_path, known):
    n = int(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold"))
    os.makedirs(tmp_path / "e")
    for i in range(n + 1):
        shutil.copy(known, tmp_path / "e" / f"part-{i:05d}.parquet")
    df = _assert_infers(spark, str(tmp_path / "e"))
    assert df.count() == 4 * (n + 1)


def test_binary_as_string_flip_reinfers(spark, tmp_path, conf):
    a = str(tmp_path / "a.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), a)
    conf("spark.sql.parquet.binaryAsString", "false")
    assert read_parquet(spark, a).schema["b"].dataType.simpleString() == "binary"
    conf("spark.sql.parquet.binaryAsString", "true")
    df = _assert_infers(spark, _copy(a, tmp_path / "b.parquet"))
    assert df.schema["b"].dataType.simpleString() == "string"
    # the same unchanged path after each flip: its path memo entry was
    # read under the other value, so the footer key (resolved under
    # both values by now) serves the schema Spark infers under this one
    for value, want in (("true", "string"), ("false", "binary")):
        conf("spark.sql.parquet.binaryAsString", value)
        df = read_parquet(spark, a)
        assert df.schema == spark.read.parquet(a).schema
        assert df.schema["b"].dataType.simpleString() == want


def test_other_spark_version_falls_back(spark, tmp_path, known, monkeypatch):
    """The conf list was audited for one Spark version; under another,
    a known footer still runs Spark's own inference."""
    monkeypatch.setattr(catalog, "_AUDITED_SPARK", "0.0.0")
    os.makedirs(tmp_path / "v")
    shutil.copy(known, tmp_path / "v")
    _assert_infers(spark, str(tmp_path / "v"))


def test_reread_after_same_schema_rewrite_reads_free(spark, tmp_path):
    """A rewrite changes the table dir's mtime, so the path memo misses;
    the footer key serves the re-read of a table rewritten with the same
    schema (an upsert's swap, a ModelGraph table model's next run)."""
    from economic_data_project_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.write_table(spark.range(3).withColumn("v", F.col("id") * 2), "t")
    for lo in (2, 3):  # the first merge writes a new (nullable) footer
        wh.upsert(
            spark.range(lo, 5).withColumn("v", F.col("id") * lo), "t", ["id"]
        )
        df, jobs = _jobs(spark, lambda: wh.table("t"))
    assert jobs == 0
    assert df.schema == spark.read.parquet(wh.table_path("t")).schema
    assert sorted(df.collect()) == [(0, 0), (1, 2), (2, 4), (3, 9), (4, 12)]
