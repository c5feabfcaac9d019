"""Structured Streaming shell tests: checkpointed CDC apply and
watermarked windowed aggregation (batch/stream parity)."""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import functions as F

from migrator_spark.streaming.streams import (
    cdc_apply_stream,
    streaming_first_seen,
    windowed_event_counts,
)
from migrator_spark.sources.parquet import ParquetSource
from migrator_spark.tables import load_table

from .test_pipeline import Q_SCHEMA, X_ROWS, X_SCHEMA


def test_cdc_apply_stream_incremental(spark, tmp_path):
    """Queue part-files arrive in two waves; the checkpoint makes the
    second run process only the new files (restartable offsets for
    free — what tracking.go hand-rolls)."""
    d = str(tmp_path)
    src = ParquetSource(d + "/a")
    rows = X_ROWS + [(5, "Eve Early", datetime(1990, 5, 5), True)]
    src.write(spark.createDataFrame(rows, X_SCHEMA), "x")
    tgt = ParquetSource(d + "/b")
    tgt.write(spark.createDataFrame(X_ROWS, X_SCHEMA), "x")

    qdir = d + "/queue"
    wave1 = [
        ("a", "x", "id", "2", datetime(2024, 1, 1, 12, 0, 1), "UPDATE"),
        ("a", "x", "id", "3", datetime(2024, 1, 1, 12, 0, 2), "REMOVE"),
    ]
    spark.createDataFrame(wave1, Q_SCHEMA).coalesce(1).write.mode("append").parquet(qdir)

    def run_wave():
        q = cdc_apply_stream(
            spark,
            qdir,
            Q_SCHEMA,
            src,
            "x",
            tgt,
            "x",
            ["id"],
            checkpoint_dir=d + "/ckpt",
            available_now=True,
        )
        q.awaitTermination(120)

    run_wave()
    out = {r["id"] for r in tgt.table(spark, "x").collect()}
    assert out == {1, 2, 4}  # 3 removed; 5 not yet queued

    wave2 = [("a", "x", "id", "5", datetime(2024, 1, 1, 12, 0, 3), "UPDATE")]
    spark.createDataFrame(wave2, Q_SCHEMA).coalesce(1).write.mode("append").parquet(qdir)
    run_wave()
    out = {r["id"]: r["name"] for r in tgt.table(spark, "x").collect()}
    assert set(out) == {1, 2, 4, 5} and out[5] == "Eve Early"


def test_streaming_first_seen_dedup(spark, tmp_path):
    """Stateful first-seen dedup (applyInPandasWithState): keys repeated
    across micro-batches emit exactly once, with the first occurrence's
    payload; per-key state survives between batches."""
    import time

    schema = "k long, payload string, seq long"
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    spark.createDataFrame(
        [(1, "first-1", 10), (2, "first-2", 11), (2, "dup-in-batch", 12)], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)
    time.sleep(1.1)  # distinct mtimes -> deterministic file->batch order
    spark.createDataFrame(
        [(2, "later-2", 20), (3, "first-3", 21)], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    q = (
        streaming_first_seen(stream, ["k"], "seq", schema)
        .writeStream.format("memory")
        .queryName("first_seen_out")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = {r["k"]: r["payload"] for r in spark.sql("SELECT * FROM first_seen_out").collect()}
    assert out == {1: "first-1", 2: "first-2", 3: "first-3"}


def test_windowed_counts_stream_equals_batch(spark, sf_dir, tmp_path):
    """The windowed aggregation yields identical results streamed
    (availableNow over the events parquet) and as a plain batch query —
    the micro-batch model's correctness invariant."""
    events = load_table(spark, sf_dir, "events")
    batch_out = {
        (r["window_start"], r["event_type"]): r["cnt"]
        for r in windowed_event_counts(events).collect()
    }

    # file streaming source needs a directory; stage the table into one
    # (written through Spark so the ts column is already micros)
    stage_dir = str(tmp_path / "events_dir")
    events.write.parquet(stage_dir)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        windowed_event_counts(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    stream_out = {
        (r["window_start"], r["event_type"]): r["cnt"]
        for r in spark.read.parquet(out_dir).collect()
    }
    # append mode emits only watermark-closed windows; every emitted
    # window must match the batch result exactly
    assert stream_out
    for k, v in stream_out.items():
        assert batch_out.get(k) == v


def test_cdc_stream_paced_micro_batches(spark, tmp_path):
    """maxFilesPerTrigger=1 (the reference's BatchSize cap,
    migrator.go:390-394 analogue): N queue files -> N committed
    micro-batches in the checkpoint's offset log, same final state."""
    import os
    import time

    d = str(tmp_path)
    src = ParquetSource(d + "/a")
    src.write(spark.createDataFrame(X_ROWS, X_SCHEMA), "x")
    tgt = ParquetSource(d + "/b")
    tgt.write(spark.createDataFrame(X_ROWS[:2], X_SCHEMA), "x")

    qdir = d + "/queue"
    for i, (pk, method) in enumerate([("3", "UPDATE"), ("1", "REMOVE"), ("4", "UPDATE")]):
        spark.createDataFrame(
            [("a", "x", "id", pk, datetime(2024, 1, 1, 12, 0, i), method)], Q_SCHEMA
        ).coalesce(1).write.mode("append").parquet(qdir)
        time.sleep(1.1)  # distinct mtimes -> deterministic file order

    q = cdc_apply_stream(
        spark, qdir, Q_SCHEMA, src, "x", tgt, "x", ["id"],
        checkpoint_dir=d + "/ckpt", available_now=True, max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    commits = [f for f in os.listdir(d + "/ckpt/commits") if not f.startswith(".")]
    assert len(commits) >= 3, f"expected >=3 paced micro-batches, got {commits}"
    out = {r["id"] for r in tgt.table(spark, "x").collect()}
    assert out == {2, 3, 4}  # 1 removed; 3 and 4 upserted from source


def test_interval_join_stream_equals_batch(spark, sf_dir, tmp_path):
    """Stream-stream interval join (two file streams, watermarked,
    availableNow) produces exactly the batch join's pairs — and the
    time bound makes the state store expirable, which is the property
    that lets this run forever at scale."""
    from migrator_spark.streaming.streams import interval_join

    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = events.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    batch = {
        (r["l_event_id"], r["r_event_id"])
        for r in interval_join(clicks, purchases, ["user_id"]).collect()
    }
    assert batch  # probed: 9 pairs at sf0.001

    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    clicks.write.parquet(cdir)
    purchases.write.parquet(pdir)
    cs = spark.readStream.schema(clicks.schema).parquet(cdir)
    ps = spark.readStream.schema(purchases.schema).parquet(pdir)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        interval_join(cs, ps, ["user_id"])
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r["l_event_id"], r["r_event_id"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert streamed == batch


def test_dedup_within_watermark_suppresses_across_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a key that reappears in a later
    micro-batch (within the watermark) is emitted exactly once. Staged
    as two parquet files + maxFilesPerTrigger=1 so the duplicate
    arrives in a different micro-batch than the original — the case
    plain batch dropDuplicates never sees."""
    from datetime import datetime

    from migrator_spark.streaming.streams import dedup_within_watermark

    schema = "user_id long, event_type string, ts timestamp"
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    b1 = spark.createDataFrame(
        [(1, "click", t0), (2, "view", t0), (1, "click", t0)], schema
    )
    b2 = spark.createDataFrame(
        [(1, "click", datetime(2024, 1, 1, 12, 30)), (3, "click", t0)], schema
    )
    sdir = str(tmp_path / "stream")
    b1.coalesce(1).write.mode("append").parquet(sdir)
    b2.coalesce(1).write.mode("append").parquet(sdir)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(sdir)
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        dedup_within_watermark(stream, ["user_id", "event_type"], "ts")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = [tuple(r) for r in spark.read.parquet(out_dir).collect()]
    # three distinct keys, each exactly once, despite key (1, click)
    # appearing three times across two micro-batches
    assert sorted(rows) == [(1, "click"), (2, "view"), (3, "click")]


def test_cdc_stream_survives_forced_restart_exactly_once(spark, tmp_path):
    """Kill-and-resume recovery (VERDICT r3 #6): a checkpointed
    foreachBatch CDC merge is hard-stopped mid-stream and restarted on
    the same checkpoint; the final table must be identical to an
    uninterrupted run. Structured Streaming writes the offset WAL before
    a batch but the commit log only AFTER foreachBatch returns, so a
    batch in flight at the kill replays on restart — and the
    apply_cdc_batch merge is idempotent under that replay. This is the
    executed proof of the structural fix for the reference's
    offset-before-load flaw (TODO.md:4-10): a crash can only ever
    re-apply a batch, never skip one."""
    import time

    d = str(tmp_path)
    n_files = 10
    # source rows 1..15; ids 11..15 arrive via queue UPDATEs (new keys),
    # ids 1..5 get updated, 6..8 removed — every entry touches a
    # distinct key so the expected final state is trigger-agnostic
    src_rows = [
        (i, f"name-{i}", datetime(1990, 1, i), i % 2 == 0) for i in range(1, 16)
    ]
    entries = (
        [(str(i), "UPDATE") for i in range(1, 6)]
        + [(str(i), "REMOVE") for i in range(6, 9)]
        + [(str(i), "UPDATE") for i in range(11, 13)]
    )
    assert len(entries) == n_files

    def stage(tag):
        src = ParquetSource(f"{d}/{tag}/a")
        src.write(spark.createDataFrame(src_rows, X_SCHEMA), "x")
        tgt = ParquetSource(f"{d}/{tag}/b")
        tgt.write(
            spark.createDataFrame([r for r in src_rows if r[0] <= 10], X_SCHEMA), "x"
        )
        qdir = f"{d}/{tag}/queue"
        for j, (pk, method) in enumerate(entries):
            spark.createDataFrame(
                [("a", "x", "id", pk, datetime(2024, 1, 1, 12, 0, j), method)],
                Q_SCHEMA,
            ).coalesce(1).write.mode("append").parquet(qdir)
        return src, tgt, qdir

    def run(tag, src, tgt, qdir, kill_after_commits=None):
        q = cdc_apply_stream(
            spark, qdir, Q_SCHEMA, src, "x", tgt, "x", ["id"],
            checkpoint_dir=f"{d}/{tag}/ckpt",
            available_now=True,
            max_files_per_trigger=1,
        )
        if kill_after_commits is None:
            q.awaitTermination(240)
            return None
        commits = f"{d}/{tag}/ckpt/commits"
        deadline = time.time() + 240
        while time.time() < deadline:
            done = len(
                [f for f in os.listdir(commits) if not f.startswith(".")]
            ) if os.path.isdir(commits) else 0
            if done >= kill_after_commits:
                q.stop()  # hard stop: batches still pending / in flight
                q.awaitTermination(120)
                return done
            time.sleep(0.02)
        raise AssertionError("stream never reached the kill point")

    # reference: the same queue drained with no interruption
    rsrc, rtgt, rqdir = stage("ref")
    run("ref", rsrc, rtgt, rqdir)
    expected = sorted(map(tuple, rtgt.table(spark, "x").collect()))

    # victim: killed mid-stream, then resumed on the same checkpoint
    vsrc, vtgt, vqdir = stage("v")
    committed_at_kill = run("v", vsrc, vtgt, vqdir, kill_after_commits=1)
    assert committed_at_kill < n_files, "kill landed after full drain; no recovery tested"
    run("v", vsrc, vtgt, vqdir)  # resume
    commits_after = len(
        [f for f in os.listdir(f"{d}/v/ckpt/commits") if not f.startswith(".")]
    )
    assert commits_after == n_files  # the restart processed the remainder

    got = sorted(map(tuple, vtgt.table(spark, "x").collect()))
    assert got == expected
    final_ids = {r[0] for r in got}
    assert final_ids == ({i for i in range(1, 11)} - {6, 7, 8}) | {11, 12}


def test_windowed_counts_with_rocksdb_state_store(spark, sf_dir, tmp_path):
    """The watermarked windowed aggregation runs unchanged on the
    RocksDB state store (the 100 TB-state configuration — disk-backed
    state, changelog checkpoints) and matches the batch result; the
    query's state-operator metrics prove the provider was actually
    RocksDB, not the default heap store."""
    from migrator_spark.streaming.streams import enable_rocksdb_state

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    enable_rocksdb_state(spark)
    try:
        events = load_table(spark, sf_dir, "events")
        batch_out = {
            (r["window_start"], r["event_type"]): r["cnt"]
            for r in windowed_event_counts(events).collect()
        }
        stage_dir = str(tmp_path / "events_dir")
        events.write.parquet(stage_dir)
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage_dir)
        )
        out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
        q = (
            windowed_event_counts(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        ops = (q.lastProgress or {}).get("stateOperators", [])
        metrics = ops[0].get("customMetrics", {}) if ops else {}
        assert any(k.startswith("rocksdb") for k in metrics), metrics
        stream_out = {
            (r["window_start"], r["event_type"]): r["cnt"]
            for r in spark.read.parquet(out_dir).collect()
        }
        # append mode emits only watermark-closed windows; every emitted
        # window must match the batch result exactly (same contract as
        # the default-provider test above)
        assert stream_out
        for k, v in stream_out.items():
            assert batch_out.get(k) == v
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        spark.conf.unset(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        )


def test_curation_ingest_stream_gates_and_dedups_across_batches(spark, tmp_path):
    """Two crawl shards arrive as separate micro-batches: low-quality
    docs never emit, the duplicate of a wave-1 doc arriving in wave 2
    is suppressed by watermark state, and the streamed result equals
    the batch-mode run over the union (dual-mode parity)."""
    import time

    from migrator_spark.streaming.streams import curation_ingest_stream

    good_a = "the " + " ".join(f"clear useful word{i} and" for i in range(20))
    good_b = "a " + " ".join(f"different sound text{i} the" for i in range(20))
    short_junk = "too short"
    schema = "doc_id long, ingest_ts timestamp, text string"
    t0 = datetime(2024, 3, 1, 10, 0, 0)
    wave1 = [(1, t0, good_a), (2, t0, short_junk)]
    wave2 = [(3, datetime(2024, 3, 1, 11, 0, 0), good_a),  # dup of 1
             (4, datetime(2024, 3, 1, 11, 0, 0), good_b)]
    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    spark.createDataFrame(wave1, schema).coalesce(1).write.mode("append").parquet(in_dir)
    time.sleep(1.1)  # distinct mtimes -> deterministic file->batch order
    spark.createDataFrame(wave2, schema).coalesce(1).write.mode("append").parquet(in_dir)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    q = (
        curation_ingest_stream(stream, min_words=20)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert got == {1, 4}  # 2 gated out, 3 deduped against 1

    batch = curation_ingest_stream(
        spark.createDataFrame(wave1 + wave2, schema), min_words=20
    )
    assert {r["doc_id"] for r in batch.collect()} == {1, 4}


def test_continuous_packing_stream_exactly_once_across_batches(spark, tmp_path):
    """Curate-and-pack as a running stream: two shard waves pack
    incrementally (each bucket's offsets continue where the previous
    batch ended), every doc lands exactly once, a RESTART with a third
    wave appends without disturbing or duplicating earlier sequences,
    and the state table carries the exact per-bucket token totals."""
    import time

    from migrator_spark.streaming.streams import continuous_packing_stream

    schema = "doc_id long, text string"
    in_dir = str(tmp_path / "in")
    man_dir, st_dir, ckpt = (str(tmp_path / d) for d in ("man", "st", "ck"))

    def docs(lo, hi):
        return [(i, " ".join(f"w{i}_{j}" for j in range(3 + i % 5))) for i in range(lo, hi)]

    def run():
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
        )
        q = continuous_packing_stream(
            spark, stream, man_dir, st_dir, ckpt, token_budget=16, n_buckets=4
        )
        q.awaitTermination(180)

    spark.createDataFrame(docs(0, 30), schema).coalesce(1).write.mode("append").parquet(in_dir)
    time.sleep(1.1)
    spark.createDataFrame(docs(30, 50), schema).coalesce(1).write.mode("append").parquet(in_dir)
    run()

    manifest = spark.read.parquet(man_dir).collect()
    assert len(manifest) == 50 and len({r["doc_id"] for r in manifest}) == 50
    # per-bucket offsets tile contiguously ACROSS micro-batches
    by_bucket: dict[int, list] = {}
    for r in manifest:
        by_bucket.setdefault(r["bucket"], []).append(r)
    totals = {}
    for bkt, rs in by_bucket.items():
        rs.sort(key=lambda r: r["start_offset"])
        pos = 0
        for r in rs:
            assert r["start_offset"] == pos, (bkt, pos, r)
            pos += r["n_tokens"]
        totals[bkt] = pos
    from migrator_spark.sources.parquet import ParquetSource

    st = {
        r["bucket"]: r["tokens_packed"]
        for r in ParquetSource(st_dir).table(spark, "pack_state").collect()
    }
    assert st == totals

    # restart with a third wave: strictly additive
    spark.createDataFrame(docs(50, 60), schema).coalesce(1).write.mode("append").parquet(in_dir)
    run()
    after = spark.read.parquet(man_dir).collect()
    assert len(after) == 60 and len({r["doc_id"] for r in after}) == 60
    prev = {r["doc_id"]: (r["bucket"], r["start_offset"]) for r in manifest}
    now = {r["doc_id"]: (r["bucket"], r["start_offset"]) for r in after}
    assert all(now[d] == prev[d] for d in prev)  # history untouched


def test_continuous_packing_replay_is_idempotent(spark, tmp_path):
    """Forced crash-replay: deleting the last checkpoint commit makes
    Spark re-run that micro-batch on restart — the deterministic
    manifest partition is rewritten, not duplicated, and the state
    skip-guard leaves totals unchanged."""
    import os
    import time

    from migrator_spark.sources.parquet import ParquetSource
    from migrator_spark.streaming.streams import continuous_packing_stream

    schema = "doc_id long, text string"
    in_dir = str(tmp_path / "in")
    man_dir, st_dir, ckpt = (str(tmp_path / d) for d in ("man", "st", "ck"))
    spark.createDataFrame(
        [(i, f"a b c d{i}") for i in range(20)], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)
    time.sleep(1.1)
    spark.createDataFrame(
        [(i, f"x y z{i}") for i in range(20, 35)], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)

    def run():
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
        )
        q = continuous_packing_stream(
            spark, stream, man_dir, st_dir, ckpt, token_budget=8, n_buckets=2
        )
        q.awaitTermination(180)

    run()
    before = sorted(
        (r["doc_id"], r["bucket"], r["start_offset"])
        for r in spark.read.parquet(man_dir).collect()
    )
    state_before = sorted(
        map(tuple, ParquetSource(st_dir).table(spark, "pack_state").collect())
    )
    # simulate a crash AFTER the sink writes but BEFORE the engine
    # commits: drop the newest commit marker -> that batch replays
    commits = sorted(
        f for f in os.listdir(ckpt + "/commits") if not f.startswith(".")
    )
    os.remove(ckpt + "/commits/" + commits[-1])
    crc = ckpt + "/commits/." + commits[-1] + ".crc"
    if os.path.exists(crc):  # local-FS checksum shadow of the commit
        os.remove(crc)
    run()
    after = sorted(
        (r["doc_id"], r["bucket"], r["start_offset"])
        for r in spark.read.parquet(man_dir).collect()
    )
    state_after = sorted(
        map(tuple, ParquetSource(st_dir).table(spark, "pack_state").collect())
    )
    assert after == before and state_after == state_before


def test_continuous_packing_fresh_checkpoint_against_state_raises(spark, tmp_path):
    """ADVICE r4 #2: a restart pointed at an EXISTING state_root but a
    FRESH checkpoint dir restarts batch ids at 0; the old skip-guard
    (batch_id <= last) would silently drop every new batch from the
    manifest. The state now records its checkpoint identity and the
    mismatch fails loudly instead."""
    import time

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from migrator_spark.streaming.streams import continuous_packing_stream

    schema = "doc_id long, text string"
    in_dir = str(tmp_path / "in")
    man_dir, st_dir = str(tmp_path / "man"), str(tmp_path / "st")

    def run(ckpt):
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
        )
        q = continuous_packing_stream(
            spark, stream, man_dir, st_dir, ckpt, token_budget=8, n_buckets=2
        )
        q.awaitTermination(180)

    spark.createDataFrame(
        [(i, f"a b c d{i}") for i in range(10)], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)
    run(str(tmp_path / "ck1"))
    assert spark.read.parquet(man_dir).count() == 10

    time.sleep(1.1)
    spark.createDataFrame(
        [(i, f"p q r{i}") for i in range(10, 18)], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)
    with pytest.raises(StreamingQueryException, match="refusing to"):
        run(str(tmp_path / "ck2"))  # fresh checkpoint, batch ids restart at 0
    # nothing was silently dropped-and-committed: manifest untouched
    assert spark.read.parquet(man_dir).count() == 10


def test_stream_static_enrichment_sees_committed_dim_update(spark, tmp_path):
    """Stream-static join against the versioned parquet sink: Spark
    re-resolves the static side per micro-batch, and ParquetSource's
    commit log pins each batch to a COMPLETE committed version — so a
    dimension update committed mid-stream is picked up by later
    micro-batches while in-flight batches keep their consistent
    snapshot (the slowly-changing-dimension enrichment every CDC
    pipeline runs)."""
    import time

    from migrator_spark.sources.parquet import ParquetSource

    dims = ParquetSource(str(tmp_path / "dims"))
    dims.write(
        spark.createDataFrame([(1, "bronze"), (2, "bronze")], "uid long, tier string"),
        "users",
    )
    in_dir = str(tmp_path / "in")
    out: list[tuple] = []
    schema = "event_id long, uid long"

    def enrich(batch, batch_id):
        joined = batch.join(dims.table(spark, "users"), on="uid")
        out.extend(
            (r["event_id"], r["uid"], r["tier"]) for r in joined.collect()
        )

    spark.createDataFrame([(100, 1)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    q = stream.writeStream.foreachBatch(enrich).option(
        "checkpointLocation", str(tmp_path / "ck")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    # dimension updates BETWEEN runs via the committed rmw path
    dims.rmw(
        spark,
        "users",
        lambda df: df.replace("bronze", "gold", subset=["tier"]),
    )
    time.sleep(1.1)
    spark.createDataFrame([(200, 1)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    q = stream.writeStream.foreachBatch(enrich).option(
        "checkpointLocation", str(tmp_path / "ck")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    assert (100, 1, "bronze") in out and (200, 1, "gold") in out, out


def test_dsir_stream_scoring_matches_batch(spark, sf_dir, tmp_path):
    """Train once, score forever: the DSIR bucket model is fitted
    OFFLINE on the corpus, then a document stream arriving in
    single-file micro-batches is scored per batch against the frozen
    model (dsir_score inside foreachBatch — stateless, no shuffle
    beyond the per-batch doc aggregate). The union of per-batch scores
    must equal the batch scoring pass bit-for-bit — the serving
    discipline for a continuous intake gating on target-domain
    likeness."""
    from migrator_spark.operators.mixture import dsir_bucket_model, dsir_score

    docs = load_table(spark, str(sf_dir), "documents")
    model = dsir_bucket_model(docs, target=F.col("lang") == "en", n_buckets=256)

    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)
    half.coalesce(1).write.parquet(in_dir)
    rest.coalesce(1).write.mode("append").parquet(in_dir)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    (
        stream.writeStream.foreachBatch(
            lambda batch, _id: dsir_score(batch, model, n_buckets=256)
            .write.mode("append")
            .parquet(out_dir)
        )
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )

    got = {
        r["doc_id"]: (r["n_feats"], r["logratio_micro"], r["avg_logratio"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        r["doc_id"]: (r["n_feats"], r["logratio_micro"], r["avg_logratio"])
        for r in dsir_score(docs, model, n_buckets=256).collect()
    }
    assert got == want
    assert len(got) == docs.count()


def _sd3_fixture(spark, sf_dir):
    from migrator_spark.operators.similarity import (
        _fit_centroids,
        score_against_centroids,
    )
    from migrator_spark.plans.llmdata import (
        EMB_DIM,
        KMEANS_ITERS,
        KMEANS_K,
        SD1_TAU,
        SD3_BOUNDS,
    )

    emb = load_table(spark, str(sf_dir), "embeddings")
    pts = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    cents = _fit_centroids(
        pts.filter(F.col("vec_id") < SD3_BOUNDS[0]), KMEANS_K, KMEANS_ITERS, "vec_id"
    ).localCheckpoint(eager=True)
    scored = score_against_centroids(pts, cents, "vec_id")
    incumbents = scored.filter(F.col("vec_id") < SD3_BOUNDS[0]).localCheckpoint(
        eager=True
    )
    return emb, cents, incumbents, SD3_BOUNDS, SD1_TAU, EMB_DIM


def test_semantic_ingest_stream_equals_batch_fold(spark, sf_dir, tmp_path):
    """The streaming semantic-dedup intake (semantic_ingest_stream)
    replays sd3's exact scenario — frozen quantizer + scored curated
    store as offline artifacts, two embedding micro-batches arriving
    in order — and its decision manifests must equal the batch fold
    (similarity.semdedup_fold, the sd3 registry plan) bit-for-bit,
    including the order dependence: batch-0 keepers judge batch 1."""
    import time

    from migrator_spark.operators.similarity import semdedup_fold
    from migrator_spark.plans.llmdata import KMEANS_ITERS, KMEANS_K
    from migrator_spark.streaming.streams import semantic_ingest_stream

    emb, cents, incumbents, bounds, tau, dim = _sd3_fixture(spark, sf_dir)
    in_dir = str(tmp_path / "in")
    st_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("st", "out", "ck"))

    b1 = emb.filter((F.col("vec_id") >= bounds[0]) & (F.col("vec_id") < bounds[1]))
    b2 = emb.filter(F.col("vec_id") >= bounds[1])
    b1.coalesce(1).write.mode("append").parquet(in_dir)
    time.sleep(1.1)
    b2.coalesce(1).write.mode("append").parquet(in_dir)

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    semantic_ingest_stream(
        spark, stream, incumbents, cents, st_dir, ckpt, out_dir, tau=tau, dim=dim
    ).awaitTermination(180)

    got = sorted(
        map(
            tuple,
            spark.read.option("basePath", out_dir)
            .parquet(out_dir)
            .select("vec_id", "cell", "batch_id", "n_dups_old", "n_dups_new", "keep")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            semdedup_fold(
                emb, list(bounds), k=KMEANS_K, iters=KMEANS_ITERS, tau=tau, dim=dim
            )
            .select("vec_id", "cell", "batch_id", "n_dups_old", "n_dups_new", "keep")
            .collect(),
        )
    )
    assert got == want and len(got) > 0


def test_semantic_ingest_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Forced crash-replay: dropping the newest checkpoint commit makes
    the last micro-batch re-run — it must re-derive the identical
    decisions (the replay reads only kept partitions < N, so its own
    half-written state is invisible) and overwrite, not duplicate."""
    import time

    from migrator_spark.streaming.streams import semantic_ingest_stream

    emb, cents, incumbents, bounds, tau, dim = _sd3_fixture(spark, sf_dir)
    in_dir = str(tmp_path / "in")
    st_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("st", "out", "ck"))
    emb.filter(
        (F.col("vec_id") >= bounds[0]) & (F.col("vec_id") < bounds[1])
    ).coalesce(1).write.mode("append").parquet(in_dir)
    time.sleep(1.1)
    emb.filter(F.col("vec_id") >= bounds[1]).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    def run():
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        semantic_ingest_stream(
            spark, stream, incumbents, cents, st_dir, ckpt, out_dir, tau=tau, dim=dim
        ).awaitTermination(180)

    run()
    read = lambda: sorted(
        map(
            tuple,
            spark.read.option("basePath", out_dir)
            .parquet(out_dir)
            .select("vec_id", "cell", "batch_id", "n_dups_old", "n_dups_new", "keep")
            .collect(),
        )
    )
    before = read()
    commits = sorted(
        f for f in os.listdir(ckpt + "/commits") if not f.startswith(".")
    )
    os.remove(ckpt + "/commits/" + commits[-1])
    crc = ckpt + "/commits/." + commits[-1] + ".crc"
    if os.path.exists(crc):
        os.remove(crc)
    run()
    assert read() == before

    # fresh checkpoint against the same state must refuse, not drop
    import pytest as _pytest

    emb.filter(F.col("vec_id") < 10).coalesce(1).write.mode("append").parquet(
        in_dir
    )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 100)
        .parquet(in_dir)
    )
    q = semantic_ingest_stream(
        spark,
        stream,
        incumbents,
        cents,
        st_dir,
        str(tmp_path / "ck2"),
        out_dir,
        tau=tau,
        dim=dim,
    )
    with _pytest.raises(Exception, match="refusing"):
        q.awaitTermination(180)
        raise RuntimeError(q.exception() or "stream ended without error")


def _sd5_fixture(spark, sf_dir):
    from migrator_spark.operators.similarity import (
        fit_two_level,
        score_against_two_level,
    )
    from migrator_spark.plans.llmdata import (
        EMB_DIM,
        SD1_TAU,
        SD3_BOUNDS,
        SIM11_ITERS,
        SIM11_KC,
        SIM11_KF,
    )

    emb = load_table(spark, str(sf_dir), "embeddings")
    pts = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    coarse, fine, _ = fit_two_level(
        pts.filter(F.col("vec_id") < SD3_BOUNDS[0]),
        SIM11_KC,
        SIM11_KF,
        SIM11_ITERS,
        "vec_id",
    )
    scored = score_against_two_level(pts, coarse, fine, SIM11_KF, "vec_id")
    incumbents = scored.filter(F.col("vec_id") < SD3_BOUNDS[0]).localCheckpoint(
        eager=True
    )
    return emb, coarse, fine, incumbents, SD3_BOUNDS, SD1_TAU, EMB_DIM


def test_semantic_ingest_stream_two_level_parity_and_replay(
    spark, sf_dir, tmp_path
):
    """The PRODUCTION two-level configuration of the semantic intake
    (VERDICT r6 #2): semantic_ingest_stream serving the hierarchical
    quantizer (fine_centroids + k_fine) must equal the two-level batch
    fold (semdedup_fold, quantizer="two_level" — the sd5 registry
    plan) bit-for-bit, and a forced crash-replay of the newest
    micro-batch must re-derive identical decisions through the same
    exactly-once machinery."""
    import time

    from migrator_spark.operators.similarity import semdedup_fold
    from migrator_spark.plans.llmdata import SIM11_ITERS, SIM11_KC, SIM11_KF
    from migrator_spark.streaming.streams import semantic_ingest_stream

    emb, coarse, fine, incumbents, bounds, tau, dim = _sd5_fixture(spark, sf_dir)
    in_dir = str(tmp_path / "in")
    st_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("st", "out", "ck"))
    emb.filter(
        (F.col("vec_id") >= bounds[0]) & (F.col("vec_id") < bounds[1])
    ).coalesce(1).write.mode("append").parquet(in_dir)
    time.sleep(1.1)
    emb.filter(F.col("vec_id") >= bounds[1]).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    def run():
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        semantic_ingest_stream(
            spark,
            stream,
            incumbents,
            coarse,
            st_dir,
            ckpt,
            out_dir,
            tau=tau,
            dim=dim,
            fine_centroids=fine,
            k_fine=SIM11_KF,
        ).awaitTermination(180)

    run()
    read = lambda: sorted(
        map(
            tuple,
            spark.read.option("basePath", out_dir)
            .parquet(out_dir)
            .select("vec_id", "cell", "batch_id", "n_dups_old", "n_dups_new", "keep")
            .collect(),
        )
    )
    got = read()
    want = sorted(
        map(
            tuple,
            semdedup_fold(
                emb,
                list(bounds),
                iters=SIM11_ITERS,
                tau=tau,
                dim=dim,
                quantizer="two_level",
                k_coarse=SIM11_KC,
                k_fine=SIM11_KF,
            )
            .select("vec_id", "cell", "batch_id", "n_dups_old", "n_dups_new", "keep")
            .collect(),
        )
    )
    assert got == want and len(got) > 0

    # forced crash-replay: drop the newest commit, re-run, bit-identical
    commits = sorted(
        f for f in os.listdir(ckpt + "/commits") if not f.startswith(".")
    )
    os.remove(ckpt + "/commits/" + commits[-1])
    crc = ckpt + "/commits/." + commits[-1] + ".crc"
    if os.path.exists(crc):
        os.remove(crc)
    run()
    assert read() == got


def test_streaming_window_funnel_matches_batch_ev15(spark, sf_dir, tmp_path):
    """The O(1)-state funnel automaton, fed the events table as three
    time-ordered micro-batches, lands every user on the same final
    level as the batch ev15 window query. Emissions are monotone in
    level, so the final level is the max across update-mode rows."""
    import time as _time

    from migrator_spark.plans.analytics import ev15_window_funnel
    from migrator_spark.streaming.streams import streaming_window_funnel

    events = load_table(spark, sf_dir, "events")
    batch = {
        r["level"]: r["n_users"]
        for r in ev15_window_funnel(spark, sf_dir).collect()
    }

    sdir = str(tmp_path / "stream")
    cuts = ("2024-01-11", "2024-01-21")
    parts = [
        events.filter(F.col("ts") < cuts[0]),
        events.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        events.filter(F.col("ts") >= cuts[1]),
    ]
    for p in parts:  # mod-time order = micro-batch order = time order
        p.coalesce(1).write.mode("append").parquet(sdir)
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sdir)
    )
    q = (
        streaming_window_funnel(stream)
        .writeStream.format("memory")
        .queryName("funnel_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    final = {}
    for r in spark.sql("SELECT * FROM funnel_out").collect():
        final[r["user_id"]] = max(final.get(r["user_id"], 0), r["level"])
    dist = {}
    for lv in final.values():
        dist[lv] = dist.get(lv, 0) + 1
    assert dist == batch, (dist, batch)


def test_streaming_window_funnel_state_survives_restart(spark, tmp_path):
    """A chain whose start arrives before a query shutdown and whose
    completion arrives after the restart must still convert: the
    (best1, best2, level) state round-trips through the checkpoint."""
    from datetime import datetime

    from migrator_spark.streaming.streams import streaming_window_funnel

    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    t0 = datetime(2024, 1, 1, 0, 0, 0)

    def _mk(rows):
        return spark.createDataFrame(
            [(i, r[1], r[0], r[2], 0.0, "{}") for i, r in enumerate(rows)],
            schema,
        )

    sdir, ckpt, odir = (
        str(tmp_path / "in"),
        str(tmp_path / "ck"),
        str(tmp_path / "out"),
    )

    def _run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(sdir)
        )

        def sink(df, bid):
            df.write.mode("append").parquet(odir)

        q = (
            streaming_window_funnel(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    from datetime import timedelta

    _mk([(1, t0, "view"), (2, t0, "view")]).coalesce(1).write.mode(
        "append"
    ).parquet(sdir)
    _run()  # first query drains batch 1, then terminates (= shutdown)
    _mk(
        [
            (1, t0 + timedelta(hours=1), "click"),
            (1, t0 + timedelta(hours=2), "purchase"),
        ]
    ).coalesce(1).write.mode("append").parquet(sdir)
    _run()  # restart from the same checkpoint

    final = {}
    for r in spark.read.parquet(odir).collect():
        final[r["user_id"]] = max(final.get(r["user_id"], 0), r["level"])
    # user 1's view lived only in pre-restart state; the post-restart
    # click+purchase complete the chain
    assert final == {1: 3, 2: 1}, final


def test_late_funnel_stream_leaves_caller_session_conf_alone(
    spark, sf_dir, ddb, monkeypatch
):
    """st6 sizes its state partitions on a session of its own: the
    caller's session conf is never set, so a query planned on it while
    the stream drains keeps the caller's shuffle width."""
    from migrator_spark.plans import analytics
    from migrator_spark.plans.cdc import st6_late_funnel_stream

    from .conftest import assert_frames_match

    key = "spark.sql.shuffle.partitions"
    width = spark.conf.get(key)
    set_calls = []
    real_set = spark.conf.set

    def spy(k, v):
        set_calls.append((k, v))
        real_set(k, v)

    monkeypatch.setattr(spark.conf, "set", spy)
    out = st6_late_funnel_stream(spark, sf_dir)
    assert [c for c in set_calls if c[0] == key] == []
    assert spark.conf.get(key) == width
    assert_frames_match(out, ddb.sql(analytics.EV15_ORACLE))


def _cm_batch_cells(spark, frames, m, d):
    """Batch-built CM cells over the CONCATENATION of the given frames."""
    from migrator_spark.operators.quality import _cm_state

    allf = frames[0]
    for f in frames[1:]:
        allf = allf.unionByName(f)
    _s, _p, cells = _cm_state(allf, "k", "grp", m, d)
    return {(r["grp"], r["_i"], r["_pos"]): r["_c"] for r in cells.collect()}


def test_profiling_stream_state_equals_batch_sketch(spark, tmp_path):
    """The incremental CM state after N triggers must equal the
    batch-built sketch over everything seen — additive cells make the
    streaming sketch EXACT, not just mergeable-approximate."""
    import os

    from migrator_spark.streaming.streams import profiling_ingest_stream

    schema = "grp string, k string"
    b1 = spark.createDataFrame(
        [("a", f"k{i % 5}") for i in range(40)] + [("b", "x")], schema
    )
    b2 = spark.createDataFrame(
        [("a", f"k{i % 7}") for i in range(30)] + [("b", None)], schema
    )
    sdir = str(tmp_path / "in")
    b1.coalesce(1).write.mode("append").parquet(sdir)
    b2.coalesce(1).write.mode("append").parquet(sdir)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(sdir)
    )
    q = profiling_ingest_stream(
        spark, stream, str(tmp_path / "state"), str(tmp_path / "ck"),
        key_col="k", group_col="grp", m=64, d=2,
    )
    q.awaitTermination(120)

    from migrator_spark.sources.parquet import ParquetSource

    st = ParquetSource(str(tmp_path / "state")).table(spark, "cm_state")
    got = {
        (r["grp"], r["_i"], r["_pos"]): r["_c"]
        for r in st.select("grp", "_i", "_pos", "_c").collect()
    }
    assert got == _cm_batch_cells(spark, [b1, b2], 64, 2)
    # the null key occupies a real cell (round-7 sentinel contract)
    assert st.count() == len(got) and got  # non-empty, no dup cells


def test_profiling_stream_replay_is_idempotent(spark, tmp_path):
    """Drop the newest checkpoint commit marker so the last batch
    replays: the state must come out bit-identical, not double-counted
    (the atomic versioned swap + skip-if-recorded discipline)."""
    import os

    from migrator_spark.sources.parquet import ParquetSource
    from migrator_spark.streaming.streams import profiling_ingest_stream

    schema = "grp string, k string"
    b1 = spark.createDataFrame([("a", f"k{i % 3}") for i in range(20)], schema)
    b2 = spark.createDataFrame([("a", f"k{i % 4}") for i in range(20)], schema)
    sdir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    b1.coalesce(1).write.mode("append").parquet(sdir)
    b2.coalesce(1).write.mode("append").parquet(sdir)

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(sdir)
        )
        q = profiling_ingest_stream(
            spark, stream, str(tmp_path / "state"), ckpt,
            key_col="k", group_col="grp", m=32, d=2,
        )
        q.awaitTermination(120)

    run()
    st = ParquetSource(str(tmp_path / "state")).table(spark, "cm_state")
    before = sorted(
        tuple(r) for r in st.select("grp", "_i", "_pos", "_c").collect()
    )
    commits = sorted(
        f for f in os.listdir(ckpt + "/commits") if not f.startswith(".")
    )
    os.remove(ckpt + "/commits/" + commits[-1])
    crc = ckpt + "/commits/." + commits[-1] + ".crc"
    if os.path.exists(crc):
        os.remove(crc)
    run()  # batch 1 replays; merge must be skipped, state unchanged
    st2 = ParquetSource(str(tmp_path / "state")).table(spark, "cm_state")
    after = sorted(
        tuple(r) for r in st2.select("grp", "_i", "_pos", "_c").collect()
    )
    assert after == before


def test_profiling_stream_fresh_checkpoint_against_state_raises(spark, tmp_path):
    import pytest as _pytest

    from migrator_spark.streaming.streams import profiling_ingest_stream

    schema = "grp string, k string"
    b1 = spark.createDataFrame([("a", "k1")], schema)
    sdir = str(tmp_path / "in")
    b1.coalesce(1).write.mode("append").parquet(sdir)

    def run(ck):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(sdir)
        )
        q = profiling_ingest_stream(
            spark, stream, str(tmp_path / "state"), ck,
            key_col="k", group_col="grp", m=32, d=2,
        )
        q.awaitTermination(120)

    run(str(tmp_path / "ck1"))
    with _pytest.raises(Exception, match="refusing to silently double-count"):
        run(str(tmp_path / "ck2"))
