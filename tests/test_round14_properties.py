"""Round-14 optimization pins (VERDICT r13 next-round list).

Each test pins one optimization's CONTRACT, not its wall time:
* fan_out's partition probe reads the file index, never df.rdd
  (VERDICT r13 #9) and still spreads single-file fixture scans;
* the semdedup batch-broadcast hints degrade to planner strategy under
  the opt-out conf with identical results (VERDICT r13 #8);
* the decided-batch checkpoint fold returns the identical decision
  relation as the projection contract requires (VERDICT r13 #3);
* ParquetSource/load_table schema caches replay the exact inferred
  schema (a wrong schema here would silently corrupt every consumer).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from migrator_spark.functions.parallelism import fan_out  # noqa: E402
from migrator_spark.tables import load_table  # noqa: E402


def test_fan_out_has_no_rdd_probe():
    """VERDICT r13 #9: df.rdd converts the plan to an RDD — a second
    physical planning (and under AQE an eager materialization of any
    exchange in the plan) at every call. The probe must read the file
    index instead."""
    src = (REPO / "migrator_spark/functions/parallelism.py").read_text()
    assert ".rdd" not in src


def test_fan_out_spreads_single_file_scan(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = fan_out(docs, "doc_id")
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "RepartitionByExpression" in plan  # single-file fixture spreads


def test_fan_out_noop_on_many_files(spark, tmp_path):
    target = spark.sparkContext.defaultParallelism
    p = str(tmp_path / "many")
    spark.range(10_000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("n_chars")
    ).repartition(target).write.parquet(p)
    many = spark.read.parquet(p)
    assert fan_out(many, "doc_id") is many  # >= cores files -> no-op


def test_synth_mixed_single_exchange(spark, sf_dir):
    """The per-format branches must ride the ONE fan_out exchange the
    composition adds — a second repartition per branch would be a real
    extra shuffle of the id projection."""
    from migrator_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "text"
    )
    plan = (
        mm.synth_mixed_payloads(docs)._jdf.queryExecution().analyzed().toString()
    )
    # the analyzed tree shows ONE copy of the single outer exchange per
    # union branch (5 branches; physically deduplicated by
    # ReusedExchange). 9 would mean the per-format synths each stacked
    # their own repartition on top of the outer one.
    assert plan.count("RepartitionByExpression") == 5


def test_semdedup_broadcast_fallback_conf(spark, sf_dir):
    """VERDICT r13 #8: the fused judge's batch-side broadcast hints are
    the TRIGGER CONTRACT's optimization; an operator with an oversized
    trigger opts out via conf and must get the identical fold result
    through planner-chosen (non-hinted) joins."""
    from migrator_spark.operators.similarity import (
        BATCH_BROADCAST_CONF,
        semdedup_fold,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    kwargs = dict(boundaries=[40, 70], k=4, iters=1, tau=0.9)

    def run():
        return sorted(
            map(repr, semdedup_fold(emb, **kwargs).collect()), key=str
        )

    hinted = run()
    spark.conf.set(BATCH_BROADCAST_CONF, "false")
    try:
        fallback = run()
    finally:
        spark.conf.unset(BATCH_BROADCAST_CONF)
    assert hinted == fallback
    # and the default (bounded-trigger) plan keeps its hints: the fold's
    # judge join must not have regressed to an unhinted shape
    dec = semdedup_fold(emb, **kwargs)
    plan = dec._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_semdedup_fold_decision_projection_contract(spark, sf_dir):
    """The decided-batch checkpoint (VERDICT r13 #3) must emit the same
    decision columns in the same order as the round-13 shape."""
    from migrator_spark.operators.similarity import semdedup_fold

    emb = load_table(spark, sf_dir, "embeddings")
    dec = semdedup_fold(emb, boundaries=[40, 70], k=4, iters=1, tau=0.9)
    assert dec.columns == [
        "vec_id", "cell", "n_dups_old", "n_dups_new", "keep", "batch_id",
    ]


def test_load_table_schema_cache_replays_exact_schema(spark, sf_dir):
    """The (path, mtime)-keyed schema cache must hand Spark the exact
    inferred schema — a drift here would silently retype every scan."""
    from migrator_spark import tables as tb

    tb._SCHEMA_CACHE.clear()
    first = load_table(spark, sf_dir, "events")  # infers, populates
    assert len(tb._SCHEMA_CACHE) == 1
    second = load_table(spark, sf_dir, "events")  # replays
    assert first.schema == second.schema
    assert first.collect() == second.collect()


def test_parquet_source_schema_cache_append_invalidation(spark, tmp_path):
    """ParquetSource's dir-keyed schema cache keys on the parquet file
    COUNT so an append (which adds part-files to the current version)
    forces one re-inference instead of trusting immutability it does
    not have."""
    from migrator_spark.sources.parquet import ParquetSource

    src = ParquetSource(str(tmp_path / "wh"))
    df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
    src.write(df, "t")
    assert src.table(spark, "t").count() == 10  # populates cache
    src.write(df, "t", mode="append")  # mutates the CURRENT dir
    assert src.table(spark, "t").count() == 20  # re-listed, re-read


def test_state_partitions_restart_from_checkpoint(spark, tmp_path):
    """VERDICT r13 #4: the state-partition count rides into the
    checkpoint at first batch; a restart under a DIFFERENT resolved
    value must resume cleanly (Spark replays the recorded count) and
    fold the new data onto the old state correctly."""
    from datetime import datetime, timedelta

    from migrator_spark.streaming.streams import (
        resolve_state_partitions,
        streaming_window_funnel,
    )

    sdir, ck, odir = (str(tmp_path / d) for d in ("in", "ck", "out"))
    os.makedirs(sdir)
    base = datetime(2024, 1, 1)
    schema = "user_id long, ts timestamp, event_type string"

    def feed(fname, rows):
        import shutil

        stage = str(tmp_path / f"stage_{fname}")
        spark.createDataFrame(
            [(u, base + timedelta(seconds=s), e) for u, s, e in rows],
            schema,
        ).coalesce(1).write.parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        shutil.move(
            os.path.join(stage, part), os.path.join(sdir, f"{fname}.parquet")
        )

    def drain(width):
        # each drain defines the stream on its own session of the
        # given shuffle width, as st6 does
        iso = spark.newSession()
        iso.conf.set("spark.sql.shuffle.partitions", width)
        stream = iso.readStream.schema(schema).parquet(sdir)

        def sink(df, bid):
            df.write.mode("append").parquet(odir)

        q = (
            streaming_window_funnel(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    feed("b0", [(1, 0, "view"), (1, 1, "click"), (2, 0, "view")])
    drain(4)  # checkpoint pins 4 state partitions
    feed("b1", [(1, 2, "purchase"), (2, 1, "click")])
    drain(8)  # different resolved value: must resume from the 4-partition store
    out = spark.read.parquet(odir)
    levels = {
        r["user_id"]: r["level"]
        for r in out.groupBy("user_id").agg(F.max("level").alias("level")).collect()
    }
    assert levels == {1: 3, 2: 2}
    # the resolver contract: size-derived clamp
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cores = spark.sparkContext.defaultParallelism
    assert resolve_state_partitions(spark, 1) == max(1, min(shuffle, cores // 2))
    assert resolve_state_partitions(spark, 10**15) == shuffle
    assert resolve_state_partitions(spark, None) == shuffle


def test_queue_extractor_plan_unchanged_after_probe_revert():
    """Round 14 tried collecting the drained queue batch to a driver
    local relation (to remove the broadcast-build job) and REVERTED it
    on measurement: PySpark has no LocalRelation path, so every
    reference to the parallelized rows paid a Python-worker task
    (~140 ms per broadcast build vs ~30 ms from the cached plan). The
    extractor must still cache + count (the r13 shape)."""
    src = (REPO / "migrator_spark/pipeline/extractors.py").read_text()
    assert "drained.count()" in src
    assert "parallelize" not in src
