"""Source-layer units: JDBC option building (no driver in container)
and the memory source's append/overwrite semantics."""

from __future__ import annotations

from migrator_spark.sources.jdbc import JdbcSource
from migrator_spark.sources.memory import MemorySource


def test_jdbc_reader_options_partitioned():
    s = JdbcSource("jdbc:mysql://host/db", batch_size=500, num_partitions=8)
    ro = s.reader_options("t", partition_column="id", lower=10, upper=99)
    assert ro == {
        "url": "jdbc:mysql://host/db",
        "dbtable": "t",
        "fetchsize": "500",
        "partitionColumn": "id",
        "lowerBound": "10",
        "upperBound": "99",
        "numPartitions": "8",
    }
    # unpartitioned read: no bounds keys at all
    assert "partitionColumn" not in s.reader_options("t")


def test_jdbc_writer_options():
    s = JdbcSource("jdbc:mysql://host/db", batch_size=250)
    wo = s.writer_options("t")
    # batchsize = the reference's InsertBatchSize (loader_default.go:12);
    # isolation NONE because the merge algebra is idempotent
    assert wo["batchsize"] == "250" and wo["isolationLevel"] == "NONE"
    assert wo["dbtable"] == "t"


def test_memory_source_append(spark):
    m = MemorySource.named("t_mem_test")
    m.write(spark.range(3).toDF("id"), "x")
    m.write(spark.range(3, 5).toDF("id"), "x", mode="append")
    assert sorted(r["id"] for r in m.table(spark, "x").collect()) == [0, 1, 2, 3, 4]
    m.write(spark.range(1).toDF("id"), "x")  # overwrite resets
    assert m.table(spark, "x").count() == 1


def test_csv_source_roundtrip_with_schema(spark, tmp_path):
    from datetime import datetime

    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from migrator_spark.sources.files import CsvSource

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("dob", TimestampType()),
            StructField("enabled", BooleanType()),
        ]
    )
    rows = [
        (1, "Andrew Abramson", datetime(1930, 1, 2), True),
        (2, "Brett Baker", datetime(1942, 3, 14), False),
    ]
    s = CsvSource(str(tmp_path / "csv"), schemas={"x": schema})
    s.write(spark.createDataFrame(rows, schema), "x")
    got = s.table(spark, "x")
    assert got.schema == schema
    assert sorted(map(tuple, got.collect())) == rows
    # append fast path + atomic overwrite both land
    s.write(spark.createDataFrame([(3, "Cora", datetime(2000, 1, 1), True)], schema), "x", mode="append")
    assert s.table(spark, "x").count() == 3
    s.write(spark.createDataFrame(rows[:1], schema), "x")
    assert s.table(spark, "x").count() == 1


def test_json_source_roundtrip(spark, tmp_path):
    from migrator_spark.sources.files import JsonSource

    s = JsonSource(str(tmp_path / "json"))
    s.write(spark.range(5).toDF("id"), "t")
    assert sorted(r["id"] for r in s.table(spark, "t").collect()) == [0, 1, 2, 3, 4]


def test_orc_source_roundtrip_and_pushdown(spark, tmp_path):
    from pyspark.sql import functions as F

    from migrator_spark.sources.files import OrcSource

    s = OrcSource(str(tmp_path / "orc"))
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("bucket"), F.sha1(F.col("id").cast("string")).alias("payload")
    )
    s.write(df, "t")
    back = s.table(spark, "t")
    # embedded schema survives (no inference, unlike CSV); nullability
    # widens on read as with any file scan
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in df.schema.fields
    ]
    assert back.count() == 100
    # columnar scan: the filter reaches the ORC reader
    plan = back.filter(F.col("bucket") == 3)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "bucket" in plan
    # versioned overwrite + append fast path, same as the other file sources
    s.write(df.limit(10), "t", mode="append")
    assert s.table(spark, "t").count() == 110
    s.write(df.limit(5), "t")
    assert s.table(spark, "t").count() == 5


def test_open_source_dispatch(tmp_path):
    from migrator_spark.sources import open_source
    from migrator_spark.sources.files import CsvSource, JsonSource, OrcSource

    assert isinstance(open_source(f"csv://{tmp_path}/a"), CsvSource)
    assert isinstance(open_source(f"json://{tmp_path}/b"), JsonSource)
    assert isinstance(open_source(f"orc://{tmp_path}/c"), OrcSource)


def test_pipeline_csv_source_to_parquet_target(spark, tmp_path):
    """End-to-end: sequential replication out of a CSV dump into a
    parquet target — interchange formats work as pipeline edges."""
    from datetime import datetime

    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from migrator_spark.pipeline.config import from_dict
    from migrator_spark.pipeline.runner import Migrator
    from migrator_spark.sources.files import CsvSource
    from migrator_spark.sources.parquet import ParquetSource

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("dob", TimestampType()),
            StructField("enabled", BooleanType()),
        ]
    )
    rows = [
        (1, "Andrew Abramson", datetime(1930, 1, 2), True),
        (2, "Brett Baker", datetime(1942, 3, 14), True),
        (3, "Charlie Collins", datetime(1945, 11, 9), False),
    ]
    src_dir = str(tmp_path / "src")
    CsvSource(src_dir, schemas={"x": schema}).write(
        spark.createDataFrame(rows, schema), "x"
    )
    cfg = from_dict(
        {
            "tracking-table": "EtlPosition",
            "parameters": {"batch-size": 10},
            "migrations": [
                {
                    "source": {"dsn": f"csv://{src_dir}", "table": "x", "key": "id"},
                    "target": {
                        "dsn": f"parquet://{tmp_path}/dst",
                        "table": "x",
                    },
                    "extractor": "sequential",
                    "transformer": "default",
                }
            ],
        }
    )
    m = Migrator(spark, cfg, str(tmp_path / "trk"))
    m.run_until_drained()
    got = ParquetSource(f"{tmp_path}/dst").table(spark, "x")
    assert sorted(map(tuple, got.collect())) == rows


def test_load_table_accepts_spark_written_directory(spark, sf_dir, tmp_path):
    """load_table handles both the driver's single-file layout and a
    Spark-written directory table (as tools/scaling_probe.py builds):
    the footer probe picks a part file instead of failing on the dir."""
    from migrator_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    d = str(tmp_path)
    docs.write.parquet(d + "/documents.parquet")
    again = load_table(spark, d, "documents")
    assert again.count() == docs.count()
    assert again.schema == docs.schema


def test_versioned_time_travel(spark, tmp_path):
    """Each overwrite retains the predecessor: versions() lists newest
    first with the current flagged, table_at() reads the pre-merge
    state, and GC'd versions raise KeyError instead of reading junk."""
    import pytest

    from migrator_spark.sources.parquet import KEEP_VERSIONS, ParquetSource

    src = ParquetSource(str(tmp_path))
    src.write(spark.createDataFrame([(1, "a")], "id long, v string"), "t")
    src.write(spark.createDataFrame([(1, "b"), (2, "c")], "id long, v string"), "t")
    vs = src.versions("t")
    assert len(vs) == 2 and vs[0]["is_current"] and not vs[1]["is_current"]
    old = src.table_at(spark, "t", vs[1]["version"])
    assert {r["v"] for r in old.collect()} == {"a"}
    assert {r["v"] for r in src.table(spark, "t").collect()} == {"b", "c"}

    # burn through the retention window; the oldest version is GC'd
    first_version = vs[1]["version"]
    for i in range(KEEP_VERSIONS + 1):
        src.write(spark.createDataFrame([(i, "x")], "id long, v string"), "t")
    with pytest.raises(KeyError, match="not retained"):
        src.table_at(spark, "t", first_version)
    assert len(src.versions("t")) == KEEP_VERSIONS + 1  # current + keep


def test_diff_versions_classifies_changes(spark, tmp_path):
    """The merge audit between two retained versions reports exactly
    the delta: inserted, removed, and updated keys — unchanged rows
    never appear."""
    from migrator_spark.sources.parquet import ParquetSource

    src = ParquetSource(str(tmp_path))
    src.write(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, v string, n long"
        ),
        "t",
    )
    src.write(
        spark.createDataFrame(
            [(2, "b", 20), (3, "c2", 30), (4, "d", 40)], "id long, v string, n long"
        ),
        "t",
    )
    old = src.versions("t")[1]["version"]
    got = {
        r["id"]: r["_change"]
        for r in src.diff_versions(spark, "t", old, None, ["id"]).collect()
    }
    assert got == {1: "REMOVE", 3: "UPDATE", 4: "INSERT"}  # 2 unchanged, absent


def test_nanos_cols_cache_invalidates_on_rewrite(spark, tmp_path):
    """ADVICE r4 #5: the footer-schema cache must be keyed by mtime,
    not path alone — a directory whose schema evolves during one
    process lifetime must not serve a stale nanos-column set."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq_

    from migrator_spark.tables import _nanos_timestamp_cols

    p = str(tmp_path / "t.parquet")
    pq_.write_table(
        pa.table({"ts": pa.array([1], type=pa.timestamp("ns"))}), p
    )
    assert _nanos_timestamp_cols(p) == ("ts",)
    time.sleep(0.01)
    pq_.write_table(
        pa.table({"ts": pa.array([1], type=pa.timestamp("us"))}), p
    )
    os.utime(p)  # ensure mtime_ns moves even on coarse filesystems
    assert _nanos_timestamp_cols(p) == ()


def test_parquet_dir_schema_cache_bypassed_for_nested_layout(spark, tmp_path):
    """The parquet-dir schema cache keys on the count of top-level
    part-files, which a nested (partition-directory) layout never
    changes: such a dir must re-infer its schema on every read, or a
    rewritten partition replays the stale one."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq_

    from migrator_spark.sources.parquet import _read_parquet_dir

    d = tmp_path / "t"
    (d / "p=1").mkdir(parents=True)
    pq_.write_table(pa.table({"id": [1]}), d / "p=1" / "part-0.parquet")
    assert _read_parquet_dir(spark, str(d)).columns == ["id", "p"]
    shutil.rmtree(d / "p=1")
    (d / "p=1").mkdir()
    pq_.write_table(
        pa.table({"id": [1], "name": ["a"]}), d / "p=1" / "part-0.parquet"
    )
    assert _read_parquet_dir(spark, str(d)).columns == ["id", "name", "p"]
