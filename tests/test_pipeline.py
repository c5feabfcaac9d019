"""End-to-end pipeline runner tests reconstructing the reference's
manual fixtures (SURVEY.md §5, FIXTURES.md): sequential replication,
trigger-fed queue CDC with deletes, and tablerenamer routing — plus
offset-after-load failure semantics the reference gets wrong.
"""

from __future__ import annotations

from datetime import datetime

import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from migrator_spark.pipeline.config import (
    IterationSpec,
    MigrationSpec,
    MigratorConfig,
    Parameters,
    from_dict,
)
from migrator_spark.pipeline.runner import Migrator, State
from migrator_spark.sources.parquet import ParquetSource

X_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("name", StringType(), False),
        StructField("dob", TimestampType(), True),
        StructField("enabled", BooleanType(), True),
    ]
)
# the canonical 4-row person table (testdata/delete-enabled-queuing.sql:121-125)
X_ROWS = [
    (1, "Andrew Abramson", datetime(1930, 1, 2), True),
    (2, "Brett Baker", datetime(1942, 3, 14), True),
    (3, "Charlie Collins", datetime(1945, 11, 9), False),
    (4, "Dirk Delta", datetime(1982, 3, 18), True),
]

Q_SCHEMA = StructType(
    [
        StructField("sourceDatabase", StringType(), False),
        StructField("sourceTable", StringType(), False),
        StructField("pkColumn", StringType(), False),
        StructField("pkValue", StringType(), False),
        StructField("timestampUpdated", TimestampType(), False),
        StructField("method", StringType(), False),
    ]
)


def _mk_config(src, tgt, table="x", key="id", extractor="sequential", **kw):
    return MigratorConfig(
        migrations=[
            MigrationSpec(
                source_dsn=src,
                target_dsn=tgt,
                iterations=[
                    IterationSpec(
                        source_table=table,
                        source_key=key,
                        target_table=kw.pop("target_table", table),
                        merge_key=kw.pop("merge_key", ""),
                        extractor=extractor,
                        transformer=kw.pop("transformer", "default"),
                        loader=kw.pop("loader", "default"),
                        transformer_parameters=kw.pop("transformer_parameters", {}),
                    )
                ],
            )
        ],
        parameters=Parameters(**kw),
    )


@pytest.fixture
def dirs(tmp_path):
    return str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "trk")


def test_sequential_replication_and_resume(spark, dirs):
    src_dir, tgt_dir, trk = dirs
    src = ParquetSource(src_dir)
    src.write(spark.createDataFrame(X_ROWS, X_SCHEMA), "x")

    cfg = _mk_config(src_dir, tgt_dir, batch_size=3)
    m = Migrator(spark, cfg, trk)
    m.run_until_drained()
    assert m.state == State.STOPPED

    tgt = ParquetSource(tgt_dir)
    got = sorted(r["id"] for r in tgt.table(spark, "x").collect())
    assert got == [1, 2, 3, 4]
    assert m.store.get("a", "x").sequential_position == 4

    # resume: new rows arrive; only they are extracted
    src.write(
        spark.createDataFrame([(5, "Eve Early", datetime(1990, 5, 5), True)], X_SCHEMA),
        "x",
        mode="append",
    )
    Migrator(spark, cfg, trk).run_until_drained()
    got = sorted(r["id"] for r in tgt.table(spark, "x").collect())
    assert got == [1, 2, 3, 4, 5]
    # drained again: no-op
    n = Migrator(spark, cfg, trk).run_until_drained()
    assert sorted(r["id"] for r in tgt.table(spark, "x").collect()) == [1, 2, 3, 4, 5]


def test_queue_cdc_with_deletes(spark, dirs):
    """delete-enabled-queuing fixture: UPDATE + REMOVE events, including
    update-then-remove for one key (final state wins) and a new-row
    update (insert arm)."""
    src_dir, tgt_dir, trk = dirs
    src = ParquetSource(src_dir)
    rows = X_ROWS + [(5, "Eve Early", datetime(1990, 5, 5), True)]
    src.write(spark.createDataFrame(rows, X_SCHEMA), "x")
    tgt = ParquetSource(tgt_dir)
    tgt.write(spark.createDataFrame(X_ROWS, X_SCHEMA), "x")  # dest pre-seeded, no id 5

    t = datetime(2024, 1, 1, 12, 0, 0)
    q = [
        ("a", "x", "id", "2", datetime(2024, 1, 1, 12, 0, 1), "UPDATE"),
        ("a", "x", "id", "3", datetime(2024, 1, 1, 12, 0, 2), "UPDATE"),
        ("a", "x", "id", "3", datetime(2024, 1, 1, 12, 0, 3), "REMOVE"),  # final: gone
        ("a", "x", "id", "5", datetime(2024, 1, 1, 12, 0, 4), "UPDATE"),  # new row
        ("other", "x", "id", "9", t, "UPDATE"),  # different source db: untouched
    ]
    src.write(spark.createDataFrame(q, Q_SCHEMA), "MigratorRecordQueue")

    cfg = _mk_config(src_dir, tgt_dir, extractor="queue", batch_size=100)
    m = Migrator(spark, cfg, trk)
    m.run_until_drained()

    out = {r["id"]: r["name"] for r in tgt.table(spark, "x").collect()}
    assert set(out) == {1, 2, 4, 5}  # 3 removed, 5 inserted
    assert out[5] == "Eve Early"
    # drained entries removed; foreign-db entry remains
    left = src.table(spark, "MigratorRecordQueue").collect()
    assert len(left) == 1 and left[0]["sourceDatabase"] == "other"


def test_tablerenamer_routing(spark, dirs):
    """table-renamer fixture: source a.x -> destination b.y."""
    src_dir, tgt_dir, trk = dirs
    ParquetSource(src_dir).write(spark.createDataFrame(X_ROWS, X_SCHEMA), "x")
    cfg = _mk_config(
        src_dir,
        tgt_dir,
        transformer="tablerenamer",
        transformer_parameters={"TableName": "y"},
        batch_size=10,
    )
    Migrator(spark, cfg, trk).run_until_drained()
    tgt = ParquetSource(tgt_dir)
    assert not tgt.exists(spark, "x")
    assert tgt.table(spark, "y").count() == 4


def _drop_disabled(df, ctx):
    return df.filter(F.col("enabled"))


def test_python_transformer(spark, dirs):
    """T3 done right: arbitrary Python transform in the registry."""
    src_dir, tgt_dir, trk = dirs
    ParquetSource(src_dir).write(spark.createDataFrame(X_ROWS, X_SCHEMA), "x")
    cfg = _mk_config(
        src_dir,
        tgt_dir,
        transformer="python",
        transformer_parameters={"callable": _drop_disabled},
        batch_size=10,
    )
    Migrator(spark, cfg, trk).run_until_drained()
    got = sorted(r["id"] for r in ParquetSource(tgt_dir).table(spark, "x").collect())
    assert got == [1, 2, 4]  # Charlie Collins (enabled=false) dropped


def test_failed_load_does_not_advance_offset(spark, dirs):
    """The §2.11 fix: loader failure -> offset untouched -> batch
    replays on the next run (the reference would lose it)."""
    src_dir, tgt_dir, trk = dirs
    ParquetSource(src_dir).write(spark.createDataFrame(X_ROWS, X_SCHEMA), "x")

    calls = {"n": 0}

    def explode_once(df, ctx):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient sink failure")
        return df

    errors = []
    cfg = _mk_config(
        src_dir,
        tgt_dir,
        transformer="python",
        transformer_parameters={"callable": explode_once},
        batch_size=10,
    )
    m = Migrator(spark, cfg, trk, error_callback=lambda s, e, c: errors.append((s, str(e))))
    m.run_until_drained()
    assert errors and errors[0][0] == "load"
    assert m.store.get("a", "x").sequential_position == 0  # NOT advanced
    assert not ParquetSource(tgt_dir).exists(spark, "x")

    m2 = Migrator(spark, cfg, trk, error_callback=lambda s, e, c: errors.append((s, str(e))))
    m2.run_until_drained()
    assert ParquetSource(tgt_dir).table(spark, "x").count() == 4
    assert m2.store.get("a", "x").sequential_position == 4


def test_yaml_config_reference_shape(tmp_path):
    """The reference's YAML key shape parses (table-renamer.yml)."""
    cfg = from_dict(
        {
            "debug": True,
            "tracking-table": "EtlPosition",
            "migrations": [
                {
                    "source": {"dsn": "parquet:///data/a", "table": "x", "key": "id"},
                    "target": {"dsn": "parquet:///data/b", "table": "x"},
                    "extractor": "queue",
                    "transformer": "tablerenamer",
                    "transformer-parameters": {"TableName": "y"},
                }
            ],
            "parameters": {"batch-size": 10000, "insert-batch-size": 1000, "sleep-between-runs": 5},
            "timeout": 0,
        }
    )
    assert cfg.parameters.batch_size == 10000
    it = cfg.migrations[0].iterations[0]
    assert (it.extractor, it.transformer, it.transformer_parameters["TableName"]) == (
        "queue",
        "tablerenamer",
        "y",
    )
    assert cfg.migrations[0].source_dsn == "parquet:///data/a"


@pytest.mark.parametrize(
    "stage, name", [("loader", "jdbc"), ("extractor", "sequentail")]
)
def test_unknown_stage_name_fails_at_construction(spark, tmp_path, stage, name):
    """An unregistered stage name fails when the config is bound, naming
    the registered choices, instead of on every cycle of a running
    worker."""
    cfg = from_dict(
        {
            "migrations": [
                {
                    "source": {"dsn": f"parquet://{tmp_path}/a", "table": "x", "key": "id"},
                    "target": {"dsn": f"parquet://{tmp_path}/b", "table": "x"},
                    stage: name,
                }
            ],
        }
    )
    with pytest.raises(ValueError, match=f"unknown {stage} '{name}'; registered: "):
        Migrator(spark, cfg, str(tmp_path / "trk"))


def test_timestamp_extractor_incremental(spark, dirs):
    """E2 pipeline path: only rows past the persisted timestamp offset
    are re-extracted; REPLACE upserts keep the target deduplicated."""
    src_dir, tgt_dir, trk = dirs
    src = ParquetSource(src_dir)
    src.write(spark.createDataFrame(X_ROWS, X_SCHEMA), "x")
    cfg = _mk_config(
        src_dir, tgt_dir, key="dob", merge_key="id", extractor="timestamp", batch_size=10
    )
    Migrator(spark, cfg, trk).run_until_drained()
    tgt = ParquetSource(tgt_dir)
    assert tgt.table(spark, "x").count() == 4
    trk_row = Migrator(spark, cfg, trk).store.get("a", "x")
    assert trk_row.timestamp_position is not None and trk_row.timestamp_position.startswith("1982")
    # an updated row with a newer dob re-extracts and upserts (no dup)
    src.write(
        spark.createDataFrame([(2, "Brett Updated", datetime(2000, 1, 1), True)], X_SCHEMA),
        "x",
        mode="append",
    )
    Migrator(spark, cfg, trk).run_until_drained()
    rows = {r["id"]: r["name"] for r in tgt.table(spark, "x").collect()}
    assert rows[2] == "Brett Updated" and len(rows) == 4


def test_continuous_mode_lifecycle(spark, dirs):
    """start/pause/unpause/quit (state.go:5-27 analogue): rows appended
    while running are picked up by the polling loop."""
    import time

    src_dir, tgt_dir, trk = dirs
    src = ParquetSource(src_dir)
    src.write(spark.createDataFrame(X_ROWS, X_SCHEMA), "x")
    cfg = _mk_config(src_dir, tgt_dir, batch_size=10, sleep_between_runs=0.2)
    m = Migrator(spark, cfg, trk)
    m.start()
    assert m.state == State.RUNNING
    deadline = time.time() + 120
    tgt = ParquetSource(tgt_dir)
    while time.time() < deadline and not tgt.exists(spark, "x"):
        time.sleep(0.2)
    src.write(
        spark.createDataFrame([(6, "Fred Found", datetime(1999, 9, 9), True)], X_SCHEMA),
        "x",
        mode="append",
    )
    while time.time() < deadline:
        if tgt.exists(spark, "x") and tgt.table(spark, "x").count() == 5:
            break
        time.sleep(0.2)
    m.pause()
    assert m.state == State.PAUSED
    m.unpause()
    m.quit()
    assert m.state == State.STOPPED
    assert tgt.table(spark, "x").count() == 5, f"worker errors: {[(s0, str(e)) for s0, e, _ in m.errors]}"


def test_cli_drain_mode(spark, dirs, tmp_path):
    """python -m migrator_spark -config-file cfg.yml --drain: the full
    CLI path (YAML -> registries -> drain) replicates the source table
    and exits 0 (cmd/migrator/main.go analogue)."""
    from migrator_spark.__main__ import main

    src_dir, tgt_dir, trk = dirs
    src = ParquetSource(src_dir)
    src.write(spark.createDataFrame(X_ROWS, X_SCHEMA), "x")
    cfg_file = tmp_path / "pipeline.yml"
    cfg_file.write_text(
        f"""
migrations:
  - source:
      dsn: parquet://{src_dir}
      table: x
      key: id
    target:
      dsn: parquet://{tgt_dir}
      table: x
parameters:
  batch-size: 3
"""
    )
    rc = main(["-config-file", str(cfg_file), "--drain", "--tracking-root", trk])
    assert rc == 0
    got = sorted(r["id"] for r in ParquetSource(tgt_dir).table(spark, "x").collect())
    assert got == [1, 2, 3, 4]


def test_drain_compacts_small_files(spark, dirs):
    """compact-every: the per-batch append churn (batch_size=1 -> one
    part-file per batch) is merged back after the drain."""
    import glob

    src_dir, tgt_dir, trk = dirs
    src = ParquetSource(src_dir)
    rows = [(i, f"name {i}", datetime(1980, 1, 1 + i % 27), True) for i in range(1, 13)]
    src.write(spark.createDataFrame(rows, X_SCHEMA), "x")
    cfg = _mk_config(src_dir, tgt_dir, batch_size=1, compact_every=1)
    Migrator(spark, cfg, trk).run_until_drained()
    tgt = ParquetSource(tgt_dir)
    assert sorted(r["id"] for r in tgt.table(spark, "x").collect()) == list(range(1, 13))
    files = glob.glob(f"{tgt_dir}/x.parquet/*.parquet")
    assert len(files) <= 8, f"expected compacted table, got {len(files)} part-files"


def test_multi_iteration_concurrent_migration(spark, dirs):
    """One Migrator, two tables (the reference's N-goroutine shape,
    migrator.go:307): both replicate with independent offsets."""
    src_dir, tgt_dir, trk = dirs
    src = ParquetSource(src_dir)
    src.write(spark.createDataFrame(X_ROWS, X_SCHEMA), "x")
    src.write(
        spark.createDataFrame(
            [(10, "Yvonne Young", datetime(1970, 7, 7), True),
             (11, "Zach Zimmer", datetime(1971, 8, 8), False)],
            X_SCHEMA,
        ),
        "y",
    )
    cfg = MigratorConfig(
        migrations=[
            MigrationSpec(
                source_dsn=src_dir,
                target_dsn=tgt_dir,
                iterations=[
                    IterationSpec(source_table="x", source_key="id", target_table="x"),
                    IterationSpec(source_table="y", source_key="id", target_table="y"),
                ],
            )
        ],
        parameters=Parameters(batch_size=10),
    )
    m = Migrator(spark, cfg, trk)
    m.run_until_drained()
    tgt = ParquetSource(tgt_dir)
    assert tgt.table(spark, "x").count() == 4
    assert sorted(r["id"] for r in tgt.table(spark, "y").collect()) == [10, 11]
    assert m.store.get("a", "x").sequential_position == 4
    assert m.store.get("a", "y").sequential_position == 11


def test_batch_metrics_recorded(spark, dirs):
    """Observability parity (migrator.go APM wiring): every committed
    batch leaves a structured metric; summary aggregates rows/sec."""
    src_dir, tgt_dir, trk = dirs
    src = ParquetSource(src_dir)
    src.write(spark.createDataFrame(X_ROWS, X_SCHEMA), "x")
    m = Migrator(spark, _mk_config(src_dir, tgt_dir, batch_size=2), trk)
    m.run_until_drained()
    assert sum(b.rows for b in m.metrics.batches) == 4
    s = m.metrics.summary()["x"]
    assert s["rows"] == 4 and s["batches"] >= 2 and s["rows_per_sec"] > 0


def test_delta_source_gated(tmp_path):
    """delta:// DSN resolves but raises a clear ImportError in this
    container (no delta-spark); the parquet path is the fallback."""
    import pytest as _pytest

    from migrator_spark.sources.base import open_source

    try:
        import delta  # noqa: F401

        _pytest.skip("delta-spark installed; gate test not applicable")
    except ImportError:
        pass
    with _pytest.raises(ImportError, match="delta-spark"):
        open_source(f"delta://{tmp_path}")


def test_queue_cdc_composite_pk(spark, dirs):
    """P6 end-to-end: composite-key CDC ("k1,k2" source_key, comma-joined
    pkValue — extractor_queue.go:75-90 semantics) through the full
    pipeline: upsert + remove by composite key."""
    from pyspark.sql.types import StructType, StructField, LongType, StringType

    src_dir, tgt_dir, trk = dirs
    schema = StructType(
        [
            StructField("k1", LongType(), False),
            StructField("k2", StringType(), False),
            StructField("val", StringType(), True),
        ]
    )
    src = ParquetSource(src_dir)
    src.write(
        spark.createDataFrame(
            [(1, "a", "one-a"), (1, "b", "one-b"), (2, "a", "two-a-v2")], schema
        ),
        "x",
    )
    tgt = ParquetSource(tgt_dir)
    tgt.write(
        spark.createDataFrame(
            [(1, "a", "one-a"), (2, "a", "two-a-v1"), (3, "c", "gone")], schema
        ),
        "x",
    )
    queue = [
        ("a", "x", "k1,k2", "1,b", datetime(2024, 1, 1, 12, 0, 0), "UPDATE"),
        ("a", "x", "k1,k2", "2,a", datetime(2024, 1, 1, 12, 0, 1), "UPDATE"),
        ("a", "x", "k1,k2", "3,c", datetime(2024, 1, 1, 12, 0, 2), "REMOVE"),
    ]
    src.write(spark.createDataFrame(queue, Q_SCHEMA), "MigratorRecordQueue")

    cfg = _mk_config(src_dir, tgt_dir, key="k1,k2", extractor="queue", batch_size=10)
    Migrator(spark, cfg, trk).run_until_drained()
    out = {(r["k1"], r["k2"]): r["val"] for r in tgt.table(spark, "x").collect()}
    assert out == {(1, "a"): "one-a", (1, "b"): "one-b", (2, "a"): "two-a-v2"}
    # queue fully drained after commit
    assert src.table(spark, "MigratorRecordQueue").count() == 0


def _fan_out(batch, ctx):
    """User transform fanning one batch out to two destination tables
    (the []TableData return contract, types.go:86-88)."""
    from pyspark.sql import functions as F

    from migrator_spark.pipeline.transformers import Routed

    return [
        Routed(batch.filter(F.col("enabled")), "x_enabled"),
        Routed(batch.filter(~F.col("enabled")), "x_disabled"),
    ]


def test_transformer_multi_table_fanout(spark, dirs):
    """One extracted batch routed to N destination tables — the list
    return of the transformer contract, exercised through the runner."""
    src_dir, tgt_dir, trk = dirs
    ParquetSource(src_dir).write(spark.createDataFrame(X_ROWS, X_SCHEMA), "x")
    cfg = _mk_config(
        src_dir,
        tgt_dir,
        transformer="python",
        transformer_parameters={"callable": _fan_out},
        batch_size=10,
    )
    Migrator(spark, cfg, trk).run_until_drained()
    tgt = ParquetSource(tgt_dir)
    assert sorted(r["id"] for r in tgt.table(spark, "x_enabled").collect()) == [1, 2, 4]
    assert sorted(r["id"] for r in tgt.table(spark, "x_disabled").collect()) == [3]


def test_continuous_timeout_autostop(spark, dirs):
    """Wall-clock Timeout auto-stop (cmd/migrator/main.go Timeout):
    start() schedules quit() after config.timeout seconds."""
    import time

    src_dir, tgt_dir, trk = dirs
    ParquetSource(src_dir).write(spark.createDataFrame(X_ROWS, X_SCHEMA), "x")
    cfg = _mk_config(src_dir, tgt_dir, batch_size=10, sleep_between_runs=0.2)
    cfg.timeout = 3.0
    m = Migrator(spark, cfg, trk)
    m.start()
    deadline = time.time() + 120
    while time.time() < deadline and m.state != State.STOPPED:
        time.sleep(0.5)
    assert m.state == State.STOPPED
    assert ParquetSource(tgt_dir).table(spark, "x").count() == 4


def test_continuous_queue_cdc_convergence(spark, dirs):
    """Soak: queue CDC in continuous polling mode — events enqueued
    while the loop runs are applied (update + delete) and the queue
    drains to empty before quit."""
    import time

    src_dir, tgt_dir, trk = dirs
    src = ParquetSource(src_dir)
    rows = X_ROWS + [(5, "Eve Early", datetime(1990, 5, 5), True)]
    src.write(spark.createDataFrame(rows, X_SCHEMA), "x")
    tgt = ParquetSource(tgt_dir)
    tgt.write(spark.createDataFrame(X_ROWS, X_SCHEMA), "x")
    src.write(
        spark.createDataFrame(
            [("a", "x", "id", "5", datetime(2024, 1, 1, 12, 0, 0), "UPDATE")], Q_SCHEMA
        ),
        "MigratorRecordQueue",
    )
    cfg = _mk_config(
        src_dir, tgt_dir, extractor="queue", batch_size=10, sleep_between_runs=0.2
    )
    m = Migrator(spark, cfg, trk)
    m.start()
    deadline = time.time() + 120
    while time.time() < deadline and tgt.table(spark, "x").count() != 5:
        time.sleep(0.3)
    # enqueue a delete while the loop is live
    src.write(
        spark.createDataFrame(
            [("a", "x", "id", "3", datetime(2024, 1, 1, 12, 0, 1), "REMOVE")], Q_SCHEMA
        ),
        "MigratorRecordQueue",
        mode="append",
    )
    while time.time() < deadline:
        ids = {r["id"] for r in tgt.table(spark, "x").collect()}
        if ids == {1, 2, 4, 5}:
            break
        time.sleep(0.3)
    m.quit()
    assert {r["id"] for r in tgt.table(spark, "x").collect()} == {1, 2, 4, 5}, (
        f"errors: {[(s, str(e)) for s, e, _ in m.errors]}"
    )
    assert src.table(spark, "MigratorRecordQueue").count() == 0


def test_all_example_configs_parse():
    """Every shipped example YAML must load through the config parser
    and resolve a registered extractor/transformer/loader."""
    import glob

    import migrator_spark.pipeline.extractors  # noqa: F401 - registers
    import migrator_spark.pipeline.loaders  # noqa: F401 - registers
    import migrator_spark.pipeline.transformers  # noqa: F401 - registers
    from migrator_spark.pipeline.config import load_config
    from migrator_spark.pipeline.registries import EXTRACTORS, LOADERS, TRANSFORMERS

    files = sorted(glob.glob("examples/*.yml"))
    assert len(files) >= 4
    for f in files:
        cfg = load_config(f)
        for mig in cfg.migrations:
            for it in mig.iterations:
                assert it.extractor in EXTRACTORS, (f, it.extractor)
                assert it.transformer in TRANSFORMERS, (f, it.transformer)
                assert it.loader in LOADERS, (f, it.loader)


def _sleepy_transform(batch, ctx):
    import time as _t

    _t.sleep(5.0)
    return batch


def test_python_transformer_timeout_aborts_batch(spark, dirs):
    """T3 timeout parity (transformer_js.go:26): a user transform that
    exceeds its wall-clock budget aborts the batch, surfaces the error
    callback, and does NOT commit offsets — the batch replays."""
    src_dir, tgt_dir, trk = dirs
    src = ParquetSource(src_dir)
    src.write(spark.createDataFrame(X_ROWS, X_SCHEMA), "x")

    caught = []
    cfg = _mk_config(
        src_dir,
        tgt_dir,
        transformer="python",
        transformer_parameters={"callable": _sleepy_transform, "timeout": 0.3},
    )
    m = Migrator(spark, cfg, trk, error_callback=lambda s, e, c: caught.append((s, e, c)))
    m.run_until_drained()

    from migrator_spark.pipeline.transformers import TransformTimeout

    assert caught and isinstance(caught[0][1], TransformTimeout), caught
    # offset never committed -> tracking still at origin, target absent
    assert m.store.get("a", "x").sequential_position == 0
    assert not ParquetSource(tgt_dir).exists(spark, "x")


def test_python_transformer_fast_path_unaffected_by_timeout(spark, dirs):
    src_dir, tgt_dir, trk = dirs
    src = ParquetSource(src_dir)
    src.write(spark.createDataFrame(X_ROWS, X_SCHEMA), "x")
    cfg = _mk_config(
        src_dir,
        tgt_dir,
        transformer="python",
        transformer_parameters={"callable": lambda b, c: b, "timeout": 5.0},
    )
    Migrator(spark, cfg, trk).run_until_drained()
    assert ParquetSource(tgt_dir).table(spark, "x").count() == 4


def test_pipeline_pruned_loader_replication(spark, dirs):
    """Sequential replication through the "pruned" loader: first drain
    seeds the target range-clustered; a later upsert batch merges with
    file pruning and converges to the same rows as default."""
    src_dir, tgt_dir, trk = dirs
    src = ParquetSource(src_dir)
    src.write(spark.createDataFrame(X_ROWS, X_SCHEMA), "x")

    cfg = _mk_config(src_dir, tgt_dir, loader="pruned", batch_size=3)
    Migrator(spark, cfg, trk).run_until_drained()
    tgt = ParquetSource(tgt_dir)
    assert sorted(r["id"] for r in tgt.table(spark, "x").collect()) == [1, 2, 3, 4]

    src.write(
        spark.createDataFrame([(5, "Eve Early", datetime(1990, 5, 5), True)], X_SCHEMA),
        "x",
        mode="append",
    )
    Migrator(spark, cfg, trk).run_until_drained()
    assert sorted(r["id"] for r in tgt.table(spark, "x").collect()) == [1, 2, 3, 4, 5]


def _always_fails(batch, ctx):
    raise RuntimeError("deterministic transform failure")


def test_continuous_replay_gives_up_after_max_replays(spark, dirs):
    """ADVICE r3: a deterministically-failing batch must not replay
    forever in continuous mode — failed cycles back off exponentially
    and the worker gives up permanently after max_replays, surfacing a
    'replay-limit' error instead of livelocking."""
    src_dir, tgt_dir, trk = dirs
    src = ParquetSource(src_dir)
    src.write(spark.createDataFrame(X_ROWS, X_SCHEMA), "x")

    caught = []
    cfg = _mk_config(
        src_dir,
        tgt_dir,
        transformer="python",
        transformer_parameters={"callable": _always_fails},
        max_replays=3,
        sleep_between_runs=0.05,
    )
    m = Migrator(spark, cfg, trk, error_callback=lambda s, e, c: caught.append((s, e, c)))
    m.start()
    deadline = time.time() + 60
    while time.time() < deadline and not any(s == "replay-limit" for s, _, _ in caught):
        time.sleep(0.05)
    try:
        stages = [s for s, _, _ in caught]
        assert "replay-limit" in stages, stages
        # exactly max_replays failed cycles preceded the give-up
        assert stages.count("load") == 3, stages
        # the worker thread exited on its own (gave up, not just idle)
        m._threads[0].join(timeout=10)
        assert not m._threads[0].is_alive()
        # offsets never advanced; the batch was never half-applied
        assert m.store.get("a", "x").sequential_position == 0
    finally:
        m.quit()


def test_abandoned_transformer_threads_are_capped(monkeypatch):
    """The residual of CPython's unkillable threads: each timed-out
    transform abandons one worker thread, and once ABANDONED_THREAD_CAP
    are still alive, further timed calls fail fast instead of stacking
    more; the counter drains as abandoned threads finish."""
    from migrator_spark.pipeline import transformers as tr

    monkeypatch.setattr(tr, "ABANDONED_THREAD_CAP", 3)

    def sleepy():
        time.sleep(1.0)
        return "done"

    for _ in range(3):
        with pytest.raises(tr.TransformTimeout):
            tr._call_with_timeout(sleepy, (), 0.05)
    # cap reached: fail-fast BEFORE spawning another thread
    t0 = time.time()
    with pytest.raises(tr.TransformTimeout, match="failing fast"):
        tr._call_with_timeout(sleepy, (), 0.05)
    assert time.time() - t0 < 0.05
    # the abandoned workers finish and decrement the counter
    deadline = time.time() + 10
    while time.time() < deadline and tr._abandoned_count > 0:
        time.sleep(0.05)
    assert tr._abandoned_count == 0
    assert tr._call_with_timeout(lambda: 42, (), 1.0) == 42


def test_extra_parameter_keys_normalize_hyphens():
    """YAML spelling ('seed-files') and programmatic spelling
    ('seed_files') must reach the same consumer lookup — the pruned
    loader reads extra['seed_files'], the queue extractor
    extra['queue_table']."""
    from migrator_spark.pipeline.config import from_dict

    cfg = from_dict(
        {
            "parameters": {"seed-files": 16, "queue-table": "MyQueue", "batch-size": 7},
            "migrations": [],
        }
    )
    assert cfg.parameters.extra["seed_files"] == 16
    assert cfg.parameters.extra["queue_table"] == "MyQueue"
    assert cfg.parameters.batch_size == 7
    assert "seed-files" not in cfg.parameters.extra
