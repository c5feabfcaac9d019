"""Tracking bootstrap from a pre-existing destination: pointing the
pipeline at an already-populated replica resumes at its MAX(key)
(footer-statistics only for parquet) instead of re-copying the table."""

from __future__ import annotations

from migrator_spark.pipeline.runner import Migrator, State
from migrator_spark.pipeline.tracking import TrackingStore, bootstrap_from_target
from migrator_spark.sources.parquet import ParquetSource

from .test_pipeline import _mk_config


def test_bootstrap_resumes_at_destination_max(spark, tmp_path):
    src_dir, tgt_dir, trk = (str(tmp_path / d) for d in ("a", "b", "trk"))
    schema = "id long, name string"
    src = ParquetSource(src_dir)
    src.write(
        spark.createDataFrame([(i, f"n{i}") for i in range(1, 151)], schema), "x"
    )
    # destination already holds rows 1..100 (a primed replica)
    tgt = ParquetSource(tgt_dir)
    tgt.write(
        spark.createDataFrame([(i, f"n{i}") for i in range(1, 101)], schema), "x"
    )

    store = TrackingStore(trk)
    seeded = bootstrap_from_target(store, spark, tgt, "a", "x", "id")
    assert seeded.sequential_position == 100  # footer max, no scan

    m = Migrator(spark, _mk_config(src_dir, tgt_dir, batch_size=40), trk)
    m.run_until_drained()
    assert m.state == State.STOPPED
    out = sorted(r["id"] for r in tgt.table(spark, "x").collect())
    assert out == list(range(1, 151))  # 101..150 appended exactly once
    assert m.store.get("a", "x").sequential_position == 150


def test_bootstrap_reads_the_committed_version(spark, tmp_path):
    """The commit log, not the symlink, names the table's current
    version: after a crash between the commit claim and the symlink
    repoint, bootstrap seeds from the committed state the table reads,
    so the next drain does not re-append rows the replica holds."""
    import os

    tgt_dir, trk = str(tmp_path / "b"), str(tmp_path / "trk")
    schema = "id long, name string"
    tgt = ParquetSource(tgt_dir)
    tgt.write(spark.createDataFrame([(i, "v") for i in range(1, 11)], schema), "x")
    first = os.path.realpath(tgt._path("x"))
    tgt.write(spark.createDataFrame([(i, "v") for i in range(1, 21)], schema), "x")
    # the crash window: version 2 is committed, the symlink still
    # names version 1
    os.remove(tgt._path("x"))
    os.symlink(first, tgt._path("x"))
    assert tgt.table(spark, "x").agg({"id": "max"}).first()[0] == 20

    seeded = bootstrap_from_target(TrackingStore(trk), spark, tgt, "a", "x", "id")
    assert seeded.sequential_position == 20


def test_bootstrap_never_overrides_committed_tracking(spark, tmp_path):
    """An existing committed tracking row wins: the destination may be
    AHEAD of the offset mid-crash, and replaying is the safe choice."""
    tgt_dir, trk = str(tmp_path / "b"), str(tmp_path / "trk")
    tgt = ParquetSource(tgt_dir)
    tgt.write(
        spark.createDataFrame([(i, "x") for i in range(1, 51)], "id long, v string"),
        "x",
    )
    store = TrackingStore(trk)
    committed = store.get("a", "x", "id")
    committed.sequential_position = 30
    store.put(committed)
    got = bootstrap_from_target(store, spark, tgt, "a", "x", "id")
    assert got.sequential_position == 30


def test_bootstrap_on_missing_target_stays_zero(spark, tmp_path):
    store = TrackingStore(str(tmp_path / "trk"))
    tgt = ParquetSource(str(tmp_path / "b"))
    got = bootstrap_from_target(store, spark, tgt, "a", "x", "id")
    assert got.sequential_position == 0 and got.last_run is None


def test_bootstrap_timestamp_position(spark, tmp_path):
    """Timestamp-extractor bootstrap: the position seeds 1 microsecond
    BELOW the destination's MAX(ts) (sequential stays 0) — extraction
    filters strictly ts > position and timestamps need not be unique,
    so seeding at the exact max would permanently skip source rows
    that share it but never reached a partially-loaded replica
    (ADVICE r4 #3); the boundary tie re-copies through the idempotent
    REPLACE merge instead."""
    from datetime import datetime, timedelta

    tgt_dir, trk = str(tmp_path / "b"), str(tmp_path / "trk")
    tgt = ParquetSource(tgt_dir)
    tgt.write(
        spark.createDataFrame(
            [(1, datetime(2024, 1, 1, 10)), (2, datetime(2024, 1, 2, 12))],
            "id long, updated timestamp",
        ),
        "x",
    )
    store = TrackingStore(trk)
    got = bootstrap_from_target(
        store, spark, tgt, "a", "x", "id", timestamp_col="updated"
    )
    assert got.sequential_position == 0
    assert got.timestamp_position_dt == datetime(2024, 1, 2, 12) - timedelta(
        microseconds=1
    )


def test_runner_bootstrap_flag_end_to_end(spark, tmp_path):
    """`bootstrap: true` on an iteration seeds tracking from the
    destination before the first cycle — the primed-replica resume as
    one config line."""
    from migrator_spark.pipeline.config import (
        IterationSpec,
        MigrationSpec,
        MigratorConfig,
        Parameters,
    )

    src_dir, tgt_dir, trk = (str(tmp_path / d) for d in ("a", "b", "trk"))
    schema = "id long, name string"
    ParquetSource(src_dir).write(
        spark.createDataFrame([(i, f"n{i}") for i in range(1, 61)], schema), "x"
    )
    ParquetSource(tgt_dir).write(
        spark.createDataFrame([(i, f"n{i}") for i in range(1, 41)], schema), "x"
    )
    cfg = MigratorConfig(
        migrations=[
            MigrationSpec(
                source_dsn=src_dir,
                target_dsn=tgt_dir,
                iterations=[
                    IterationSpec(
                        source_table="x", source_key="id", target_table="x",
                        bootstrap=True,
                    )
                ],
            )
        ],
        parameters=Parameters(batch_size=25),
    )
    m = Migrator(spark, cfg, trk)
    assert m.store.get("a", "x").sequential_position == 40  # seeded pre-run
    m.run_until_drained()
    out = sorted(r["id"] for r in ParquetSource(tgt_dir).table(spark, "x").collect())
    assert out == list(range(1, 61))
