"""Additive schema evolution through the CDC loaders: a source gaining
or dropping a column mid-stream must evolve the target (the reference's
schema-free map rows do this implicitly; typed DataFrames need it made
explicit), and conflicting type changes must fail loudly rather than
silently cast."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from migrator_spark.operators import extract as ex
from migrator_spark.operators.load import align_schemas
from migrator_spark.pipeline.config import IterationSpec, Parameters
from migrator_spark.pipeline.registries import LOADERS
import migrator_spark.pipeline.loaders  # noqa: F401  (populates LOADERS)
from migrator_spark.sources.parquet import ParquetSource


def _batch(spark, rows, schema):
    df = spark.createDataFrame(rows, schema)
    return (
        df.withColumn(ex.METHOD_COL, F.col("_m"))
        .drop("_m")
        .withColumn("_order", F.col("id"))
        .withColumn("_tie", F.lit(0))
    )


IT = IterationSpec(source_table="x", source_key="id", target_table="x")
PARAMS = Parameters()


@pytest.mark.parametrize("loader", ["default", "pruned"])
def test_batch_with_new_column_evolves_target(spark, tmp_path, loader):
    """A REPLACE batch carrying a brand-new column widens the target:
    merged rows carry the value, untouched history rows read NULL."""
    tgt = ParquetSource(str(tmp_path))
    tgt.write(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"), "x"
    )
    batch = _batch(
        spark,
        [(2, "b2", "nl", "REPLACE"), (3, "c", "en", "REPLACE")],
        "id long, name string, lang string, _m string",
    )
    LOADERS[loader](spark, tgt, "x", batch, IT, PARAMS)
    out = {r["id"]: (r["name"], r["lang"]) for r in tgt.table(spark, "x").collect()}
    assert out == {1: ("a", None), 2: ("b2", "nl"), 3: ("c", "en")}


def test_batch_missing_column_fills_null(spark, tmp_path):
    """A batch missing a target column (source dropped it / partial
    event) merges with NULL for that column instead of failing."""
    tgt = ParquetSource(str(tmp_path))
    tgt.write(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "id long, name string, score long"
        ),
        "x",
    )
    batch = _batch(
        spark, [(2, "b2", "REPLACE")], "id long, name string, _m string"
    )
    LOADERS["default"](spark, tgt, "x", batch, IT, PARAMS)
    out = {r["id"]: (r["name"], r["score"]) for r in tgt.table(spark, "x").collect()}
    assert out == {1: ("a", 10), 2: ("b2", None)}


def test_type_conflict_raises_loudly(spark):
    """Same column name, different type: no silent cast — ValueError."""
    t = spark.createDataFrame([(1, "a")], "id long, v string")
    b = spark.createDataFrame([(1, 2.5)], "id long, v double")
    with pytest.raises(ValueError, match="type conflict"):
        align_schemas(t, b)


def test_evolution_then_pruned_merge_still_correct(spark, tmp_path):
    """After an evolving rewrite, the next same-schema batch goes back
    through the pruned fast path and merges correctly."""
    tgt = ParquetSource(str(tmp_path))
    seed = _batch(
        spark,
        [(i, f"n{i}", "INSERT") for i in range(1, 9)],
        "id long, name string, _m string",
    )
    LOADERS["pruned"](spark, tgt, "x", seed, IT, PARAMS)
    evolve = _batch(
        spark,
        [(2, "b2", "nl", "REPLACE")],
        "id long, name string, lang string, _m string",
    )
    LOADERS["pruned"](spark, tgt, "x", evolve, IT, PARAMS)
    follow = _batch(
        spark,
        [(3, "c3", "en", "REPLACE"), (9, "i9", "de", "INSERT")],
        "id long, name string, lang string, _m string",
    )
    LOADERS["pruned"](spark, tgt, "x", follow, IT, PARAMS)
    out = {r["id"]: (r["name"], r["lang"]) for r in tgt.table(spark, "x").collect()}
    assert out[2] == ("b2", "nl") and out[3] == ("c3", "en") and out[9] == ("i9", "de")
    assert out[1] == ("n1", None) and len(out) == 9


def test_streaming_cdc_evolves_target_mid_stream(spark, tmp_path):
    """The foreachBatch CDC merge applies the same additive-evolution
    contract: after the SOURCE table gains a column between waves, the
    next micro-batch widens the target (history rows NULL)."""
    from datetime import datetime

    from migrator_spark.streaming.streams import cdc_apply_stream
    from .test_pipeline import Q_SCHEMA

    d = str(tmp_path)
    src = ParquetSource(d + "/a")
    src.write(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"), "x"
    )
    tgt = ParquetSource(d + "/b")
    tgt.write(spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"), "x")

    qdir = d + "/queue"
    spark.createDataFrame(
        [("a", "x", "id", "2", datetime(2024, 1, 1, 12, 0, 1), "UPDATE")], Q_SCHEMA
    ).coalesce(1).write.mode("append").parquet(qdir)

    def run():
        q = cdc_apply_stream(
            spark, qdir, Q_SCHEMA, src, "x", tgt, "x", ["id"],
            checkpoint_dir=d + "/ckpt", available_now=True,
        )
        q.awaitTermination(120)

    run()
    assert set(tgt.table(spark, "x").columns) == {"id", "name"}

    # source evolves: gains a column; row 2 updated again with it
    src.write(
        spark.createDataFrame(
            [(1, "a", None), (2, "b2", "nl")], "id long, name string, lang string"
        ),
        "x",
    )
    import time

    time.sleep(1.1)
    spark.createDataFrame(
        [("a", "x", "id", "2", datetime(2024, 1, 1, 12, 0, 2), "UPDATE")], Q_SCHEMA
    ).coalesce(1).write.mode("append").parquet(qdir)
    run()
    out = {r["id"]: (r["name"], r["lang"]) for r in tgt.table(spark, "x").collect()}
    assert out == {1: ("a", None), 2: ("b2", "nl")}


def test_align_schemas_property(spark):
    """Hypothesis-style sweep (deterministic enumeration): for random
    column partitions, aligned frames always union cleanly, preserve
    every original value, and NULL-fill exactly the missing cells."""
    import itertools

    all_cols = ["a", "b", "c", "d"]
    for t_extra, b_extra in itertools.product(
        itertools.combinations(all_cols, 2), repeat=2
    ):
        t_cols = ["id"] + [c for c in all_cols if c in t_extra]
        b_cols = ["id"] + [c for c in all_cols if c in b_extra]
        t = spark.createDataFrame(
            [tuple([1] + [10 + i for i in range(len(t_cols) - 1)])],
            ", ".join(f"{c} long" for c in t_cols),
        )
        b = spark.createDataFrame(
            [tuple([2] + [20 + i for i in range(len(b_cols) - 1)])],
            ", ".join(f"{c} long" for c in b_cols),
        )
        t2, b2 = align_schemas(t, b)
        assert set(t2.columns) == set(b2.columns) == set(t_cols) | set(b_cols)
        u = t2.unionByName(b2.select(*t2.columns))
        rows = {r["id"]: r.asDict() for r in u.collect()}
        for c in t_cols:
            assert rows[1][c] is not None
        for c in set(b_cols) - set(t_cols):
            assert rows[1][c] is None  # target NULL-filled
        for c in b_cols:
            assert rows[2][c] is not None
        for c in set(t_cols) - set(b_cols):
            assert rows[2][c] is None  # batch NULL-filled


def test_dropped_column_keeps_append_fast_path(spark, tmp_path):
    """After a source permanently drops a column, later all-INSERT
    batches still APPEND (no table rewrite): the version count stays
    flat while rows accumulate, and appended rows read NULL for the
    dropped column."""
    tgt = ParquetSource(str(tmp_path))
    tgt.write(
        spark.createDataFrame(
            [(1, "a", 10)], "id long, name string, score long"
        ),
        "x",
    )
    v0 = len(tgt.versions("x"))
    for wave in range(2):
        batch = _batch(
            spark,
            [(10 + wave, f"w{wave}", "INSERT")],
            "id long, name string, _m string",
        )
        LOADERS["default"](spark, tgt, "x", batch, IT, PARAMS)
    assert len(tgt.versions("x")) == v0  # appended, never rewritten
    out = {r["id"]: r["score"] for r in tgt.table(spark, "x").collect()}
    assert out == {1: 10, 10: None, 11: None}


def test_dropped_column_keeps_pruned_path(spark, tmp_path, monkeypatch):
    """The pruned loader must NOT permanently fall back to full rewrite
    for batches missing a dropped column: the merge still runs through
    merge_pruned once the key is prunable and only drops are involved."""
    tgt = ParquetSource(str(tmp_path))
    seed = _batch(
        spark,
        [(i, f"n{i}", i * 10, "INSERT") for i in range(1, 9)],
        "id long, name string, score long, _m string",
    )
    LOADERS["pruned"](spark, tgt, "x", seed, IT, PARAMS)

    calls = []
    merge_pruned = ParquetSource.merge_pruned
    monkeypatch.setattr(
        ParquetSource,
        "merge_pruned",
        lambda self, *a, **k: calls.append(1) or merge_pruned(self, *a, **k),
    )
    batch = _batch(
        spark, [(3, "c3", "REPLACE")], "id long, name string, _m string"
    )
    LOADERS["pruned"](spark, tgt, "x", batch, IT, PARAMS)
    assert calls == [1]
    out = {r["id"]: (r["name"], r["score"]) for r in tgt.table(spark, "x").collect()}
    assert out[3] == ("c3", None) and out[1] == ("n1", 10) and len(out) == 8


def test_diff_versions_across_evolution_and_null_shift(spark, tmp_path):
    """diff_versions must survive a schema-evolved history (old version
    lacks the new column) and must NOT report 'unchanged' when values
    merely shift between columns or swap with NULLs."""
    from migrator_spark.sources.parquet import ParquetSource as PS

    src = PS(str(tmp_path))
    src.write(
        spark.createDataFrame(
            [(1, "x", None), (2, "keep", "k")], "id long, a string, b string"
        ),
        "t",
    )
    # evolved + value-shifted: row 1 moves 'x' from a to b; row 2 same;
    # new column c appears with a value for row 2
    src.write(
        spark.createDataFrame(
            [(1, None, "x", None), (2, "keep", "k", "new")],
            "id long, a string, b string, c string",
        ),
        "t",
    )
    old = src.versions("t")[1]["version"]
    got = {
        r["id"]: r["_change"]
        for r in src.diff_versions(spark, "t", old, None, ["id"]).collect()
    }
    assert got == {1: "UPDATE", 2: "UPDATE"}
