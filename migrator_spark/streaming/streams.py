"""Streaming operators.

CDC ingest:

* cdc_apply_stream — stream the CDC queue (file source here; Kafka/
  Debezium in production) and, via foreachBatch, run each micro-batch
  through the batch runner's queue path: the queue extractor's resolver
  (pipeline/extractors.queue_cdc_rows) and the CDC loader
  (pipeline/loaders.load_default). Offsets live in the checkpoint dir
  (write-ahead offset log + commit log), the durable-FIFO + tracking
  machinery the reference hand-rolls (queue.go, tracking.go).

Stateful ingest with a versioned state table, each one ``step`` run by
``_exactly_once_stream`` (apply the batch, then commit the state and
the batch-id markers in one atomic write):

* continuous_packing_stream — incremental sequence packing.
* semantic_ingest_stream    — frozen-quantizer semantic dedup.
* profiling_ingest_stream   — exact Count-Min profiling state.

Stateful operators on a streaming (or, dual-mode, a batch) frame:

* streaming_first_seen, dedup_within_watermark, curation_ingest_stream
  — keyed first-arrival dedup (per-key state / watermark-bounded).
* windowed_event_counts, interval_join — watermarked window
  aggregation and stream-stream interval join.
* streaming_window_funnel, watermark_reorder_buffer — the O(N)-state
  funnel automaton and the per-key late-data reorder buffer.

Sizing and state store: resolve_state_partitions, enable_rocksdb_state.

Scale notes: foreachBatch receives a bounded micro-batch
(maxFilesPerTrigger / maxOffsetsPerTrigger caps it — the reference's
BatchSize), so the merge join always broadcasts the small batch side.
Watermark state is per-window-per-key in the state store, bounded by
the watermark horizon.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from migrator_spark.pipeline.config import IterationSpec, Parameters
from migrator_spark.pipeline.extractors import QUEUE_METHODS, queue_cdc_rows
from migrator_spark.pipeline.loaders import load_default
from migrator_spark.sources.base import Source

# ---------------------------------------------------------------------------
# Stateful-operator partition sizing.
#
# A stateful streaming operator's partition count is pinned to
# ``spark.sql.shuffle.partitions`` AT FIRST BATCH and recorded in the
# checkpoint's offset log; AQE cannot coalesce stateful exchanges, so a
# session width tuned for batch shuffles buys near-empty state-store
# tasks on every trigger (st6 measured 240 tasks / 3 triggers at sf0.1,
# most holding a handful of users). The resolver below is the
# stream-definition analogue of AQE's size-based coalescing: partitions
# sized by the stream's input volume, floored at half the session cores
# (the per-group Python funnel body is real compute and wants
# parallelism — cutting partitions below that floor measured slower),
# ceilinged at the session shuffle width (the value a cluster
# deployment would have chosen anyway). The caller defines and drains
# the stream on its own ``spark.newSession()`` with the resolved width
# set there, so the caller's session conf, and every query planned on
# it meanwhile, keeps its own width.
#
# CHECKPOINT COMPATIBILITY: Spark records the shuffle-partition count
# in the offset log and REPLAYS it on restart regardless of the session
# conf, so restarting an existing checkpoint with a different resolved
# value is safe (the store keeps its original partitioning; pinned by
# tests/test_round14_properties.py). Changing the count for an existing
# stream requires a new checkpoint + source replay.
# ---------------------------------------------------------------------------
_STATE_ADVISORY_BYTES = 64 * 1024 * 1024  # guide §2.2: fewer, larger


def resolve_state_partitions(
    spark: SparkSession, input_bytes: int | None = None
) -> int:
    """State partition count for a stateful stream being DEFINED now:
    size-derived clamp(ceil(input_bytes / 64 MB), cores/2, shuffle
    partitions); the session shuffle width unchanged when the input
    size is unknown."""
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if input_bytes is None:
        return shuffle
    cores = spark.sparkContext.defaultParallelism
    derived = -(-int(input_bytes) // _STATE_ADVISORY_BYTES)
    return max(1, min(shuffle, max(cores // 2, derived)))


def _exactly_once_stream(
    spark: SparkSession,
    stream: DataFrame,
    name: str,
    state_root: str,
    state_table: str,
    checkpoint_dir: str,
    available_now: bool,
    step: Callable[[DataFrame, int, "DataFrame | None"], "DataFrame | None"],
) -> StreamingQuery:
    """Run ``step`` on every non-empty micro-batch of ``stream``
    exactly once across crashes and restarts.

    ``step(batch, batch_id, prev)`` gets the versioned state table
    ``state_root/state_table`` without its two marker columns
    (``None`` before the first batch) and returns the new state, or
    ``None`` to record the markers alone. The new state plus the
    markers — ``last_batch_id`` (long) and ``checkpoint_id`` — are
    written as ONE atomic ``ParquetSource.write`` after ``step``
    returns, so:

    - a crash before that write replays the batch against the same
      pre-batch state. Whatever ``step`` writes itself must be
      deterministic per batch id (``.../batch_id=N``, mode=overwrite)
      so the replay rewrites it instead of duplicating it;
    - a batch whose id is already recorded is skipped: its writes are
      known complete;
    - batch ids restart at 0 under a fresh checkpoint dir, so state
      recorded by a DIFFERENT checkpoint raises instead of skipping
      (which would silently drop or double-count the new batches).
      Legacy state without a ``checkpoint_id`` column is skipped
      without that identity check.
    """
    from migrator_spark.sources.parquet import ParquetSource

    state = ParquetSource(state_root)

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        prev = None
        if state.exists(spark, state_table):
            st = state.table(spark, state_table)
            ckpt = (
                F.max("checkpoint_id")
                if "checkpoint_id" in st.columns
                else F.lit(None).cast("string")
            )
            last, owner = st.select(F.max("last_batch_id"), ckpt).first()
            if last is not None and batch_id <= last:
                if owner is not None and owner != checkpoint_dir:
                    raise RuntimeError(
                        f"{name}: state at {state_root!r} was written by "
                        f"checkpoint {owner!r} (last_batch_id={last}) but "
                        f"this stream runs from {checkpoint_dir!r} — batch "
                        f"ids restarted (got {batch_id}); "
                        "refusing to silently double-count or drop batches. "
                        "Reuse the original checkpoint dir or point at a "
                        "fresh state_root."
                    )
                return
            prev = st.drop("last_batch_id", "checkpoint_id")
        new = step(batch, batch_id, prev)
        if new is None:
            new = spark.createDataFrame([(batch_id,)], "last_batch_id long")
        else:
            new = new.withColumn("last_batch_id", F.lit(batch_id).cast("long"))
        state.write(
            new.withColumn("checkpoint_id", F.lit(checkpoint_dir)), state_table
        )

    writer = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def cdc_apply_stream(
    spark: SparkSession,
    queue_dir: str,
    queue_schema: StructType,
    source: Source,
    source_table: str,
    target: Source,
    target_table: str,
    key_cols: list[str],
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream queue entries and merge them into the target table.

    Queue entry schema follows the reference's MigratorRecordQueue
    (FIXTURES.md §2): pkValue (comma-joined composite), timestampUpdated,
    method ∈ {UPDATE, REMOVE}. The stream resolves each micro-batch
    against ``source_table`` with ``queue_cdc_rows`` and loads each
    micro-batch through ``pipeline/loaders.load_default``, so the
    target's type picks the write path as in the runner: the JDBC
    transaction, the versioned parquet overwrite, schema evolution.
    """
    reader = spark.readStream.schema(queue_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(queue_dir)

    it = IterationSpec(source_table, ",".join(key_cols), target_table)

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        cdc = queue_cdc_rows(batch, source.table(spark, source_table), key_cols)
        # the queue extractor's static method bound, as the runner
        # forwards it: the loader runs no per-batch distinct probe
        cdc._mig_method_bound = QUEUE_METHODS
        load_default(spark, target, target_table, cdc, it, Parameters())

    writer = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="5 seconds")  # reference idle cadence
    return writer.start()


def streaming_first_seen(
    stream: DataFrame,
    key_cols: list[str],
    order_col: str,
    output_schema: StructType | str,
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): emit exactly one
    row per key across the whole stream — the first occurrence (min
    ``order_col`` within the batch it arrives in); later occurrences in
    any subsequent micro-batch are suppressed by per-key state.

    This is the streaming form of exact dedup (operators/dedup.py) for
    unbounded inputs: batch dedup needs the whole corpus, this needs one
    boolean per key in the state store. State is per-key-group and
    Arrow-batched (the pandas iterator sees only this key's rows), so
    memory is bounded by keys-per-partition, not stream length. A
    production variant would add a TTL timeout
    (GroupStateTimeout.ProcessingTimeTimeout) to bound state for
    open-ended key spaces.

    The reference has no analogue — its only state is the scalar offset
    (tracking.go:12-20); this is the §2.11 'custom stateful operator'
    extension done Spark-natively.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key: tuple, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            return  # key already emitted in an earlier micro-batch
        best: pd.DataFrame | None = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            cand = pdf.sort_values(order_col, kind="mergesort").head(1)
            if best is None or cand.iloc[0][order_col] < best.iloc[0][order_col]:
                best = cand
        if best is None:
            return
        state.update((True,))
        yield best

    return stream.groupBy(*[F.col(c) for c in key_cols]).applyInPandasWithState(
        fn,
        outputStructType=output_schema,
        stateStructType="seen boolean",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "1 day",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Tumbling-window event counts with late-data watermark.

    Works on both a streaming frame (stateful, late rows beyond the
    watermark dropped) and a batch frame (identical results when no
    data is late) — the dual-mode property the tests exploit.
    """
    g = group_cols or ["event_type"]
    stream = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        stream.groupBy(F.window(F.col(ts_col), window).alias("w"), *g)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), *g, "cnt")
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "2 hours",
    watermark: str = "1 day",
) -> DataFrame:
    """Stream-stream (or batch-batch) interval join: pair each left row
    with right rows for the same key arriving in
    ``(left_ts, left_ts + max_delay]`` — the click→purchase attribution
    shape. Dual-mode like windowed_event_counts: on streams both sides
    get watermarks and the time-bound condition lets Spark expire join
    state (without it, stream-stream state grows forever — the bound IS
    the scale contract); on batch frames the same plan is a plain
    range-condition join, which is what the oracle checks.

    Output columns are the left frame's, prefixed ``l_``, then the
    right's, prefixed ``r_`` (self-joins would otherwise collide).
    """
    lsrc = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    rsrc = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    l, r = lsrc.alias("l"), rsrc.alias("r")
    cond = (F.col(f"r.{right_ts}") > F.col(f"l.{left_ts}")) & (
        F.col(f"r.{right_ts}")
        <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {max_delay}")
    )
    for k in key_cols:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    joined = l.join(r, cond, "inner")
    return joined.select(
        *[F.col(f"l.{c}").alias(f"l_{c}") for c in left.columns],
        *[F.col(f"r.{c}").alias(f"r_{c}") for c in right.columns],
    )


def dedup_within_watermark(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Keyed dedup with bounded state: emit each key once.

    Streaming: ``dropDuplicatesWithinWatermark`` — state for a key is
    dropped once the watermark passes it, so memory is bounded by the
    watermark horizon (plain streaming ``dropDuplicates`` would hold
    every key ever seen; within-watermark is the only form that
    survives an unbounded key space). First arrival is emitted
    immediately in append mode.

    Batch: the same contract is just DISTINCT over the keys (every
    duplicate is 'within the watermark' of a bounded input).
    """
    if df.isStreaming:
        return (
            df.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(key_cols)
            .select(*key_cols)
        )
    return df.select(*key_cols).distinct()


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def enable_rocksdb_state(spark: SparkSession, changelog: bool = True) -> None:
    """Switch stateful streaming to the RocksDB state store.

    The default (HDFSBackedStateStoreProvider) keeps every key's state
    as JVM heap objects — fine for the bounded key spaces in these
    tests, a hard wall at 100 TB scale where watermark/dedup/session
    state reaches billions of keys per executor. RocksDB (bundled with
    Spark, rocksdbjni jar) spills state to local disk with a
    block-cache working set, and changelog checkpointing uploads only
    per-batch deltas instead of full snapshots — the production
    configuration for large-state queries.

    Must be set BEFORE a query first starts; the provider is baked into
    the query's checkpoint at creation (switching providers on an
    existing checkpoint is not supported — plan it per pipeline, not
    per restart).
    """
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true" if changelog else "false",
    )


def curation_ingest_stream(
    docs: DataFrame,
    ts_col: str = "ingest_ts",
    id_col: str = "doc_id",
    text_col: str = "text",
    watermark: str = "1 day",
    min_words: int = 50,
) -> DataFrame:
    """Continuous crawl-shard intake: the curation pipeline's front two
    stages as ONE streaming plan — stateless Gopher quality gate, then
    exact content dedup within the watermark horizon. New shards land
    as files/Kafka offsets; only quality-passing, first-seen documents
    flow out (append mode), ready for the downstream batch stages
    (decontaminate / mixture / packing) to run per ingest window.

    State discipline at 100 TB: the gate is a pure filter (no state at
    all); dedup state is one entry per distinct content hash INSIDE the
    watermark — `dropDuplicatesWithinWatermark`, so an unbounded
    document stream cannot grow state without bound (plain
    dropDuplicates would). Pair with `enable_rocksdb_state` for
    billions of in-horizon hashes. A duplicate arriving AFTER its
    original aged out re-emits — the usual trade: cross-horizon exact
    dedup belongs to the periodic batch dd1 pass over the curated
    store, which this stream's output feeds.

    Also works on a batch frame: the same gate, then one copy per
    content hash. The batch pick is the MIN-(ts, id) copy (a
    deterministic, rerun-stable choice); streaming necessarily keeps
    the FIRST-ARRIVED copy, so the two modes select the same
    representative only when shards arrive in event-time order (the
    parity test's setup) — under out-of-order backfill the surviving
    doc_id may differ while the surviving CONTENT is identical either
    way. Downstream stages key on content, so the trade is the usual
    streaming one, stated rather than hidden.
    """
    from migrator_spark.operators.dedup import normalized_text
    from migrator_spark.operators.textops import gopher_passes
    from migrator_spark.functions.hashing import stable_hash64

    gated = docs.filter(gopher_passes(text_col, min_words=min_words)).withColumn(
        "text_hash", stable_hash64(normalized_text(text_col))
    )
    if docs.isStreaming:
        return (
            gated.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["text_hash"])
            .select(id_col, ts_col, text_col, "text_hash")
        )
    w = Window.partitionBy("text_hash").orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
    return (
        gated.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, ts_col, text_col, "text_hash")
    )


def continuous_packing_stream(
    spark: SparkSession,
    curated: DataFrame,
    manifest_dir: str,
    state_root: str,
    checkpoint_dir: str,
    token_budget: int,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
) -> StreamingQuery:
    """Continuous training-data production: pack each curated
    micro-batch incrementally into the running token streams — the
    last pipeline stage after ``curation_ingest_stream``, so crawl
    shards flow in and packed-sequence manifests flow out without ever
    re-packing the corpus.

    Exactly-once across crashes through ``_exactly_once_stream``: the
    per-batch manifest writes to a DETERMINISTIC partition
    (``manifest_dir/batch_id=N``, mode=overwrite), and the per-bucket
    totals are the ``pack_state`` table committed after it — a replayed
    batch re-derives the same offsets from the same pre-batch totals
    and overwrites the same partition.

    Per batch the work is O(batch) + an n_buckets-row state read/write
    (pack_sequences' single partitioned window with the totals
    broadcast); the packed history is never rescanned.

    ORDER CONTRACT (round 9, VERDICT r8 #6): this fold is
    order-DEPENDENT — a bucket's offsets extend in arrival order, so
    a late shard lands after shards that "should" follow it. That is
    a VALID packing (every doc exactly once, per-bucket tilings
    contiguous, totals identical under any arrival order — pinned in
    tests/test_round9_latedata.py), and arrival order IS the
    documented contract, exactly like the manifest a production
    packer emits from whatever its queue delivers. When offsets must
    follow EVENT time instead, put ``watermark_reorder_buffer`` in
    front via the two-query file-handoff topology (the
    streaming_first_seen pattern) — the semantic lane's enforcement
    test shows the wiring.
    """
    from migrator_spark.operators.packing import pack_sequences

    def step(batch: DataFrame, batch_id: int, totals: DataFrame | None):
        packed = pack_sequences(
            batch.select(id_col, text_col),
            token_budget,
            n_buckets=n_buckets,
            id_col=id_col,
            text_col=text_col,
            totals=totals,
        )
        packed.write.mode("overwrite").parquet(f"{manifest_dir}/batch_id={batch_id}")
        ends = packed.groupBy("bucket").agg(
            F.max(F.col("start_offset") + F.col("n_tokens")).alias("tokens_packed")
        )
        if totals is not None:
            carried = totals.join(ends.select("bucket"), on="bucket", how="left_anti")
            ends = ends.unionByName(carried)
        return ends

    return _exactly_once_stream(
        spark,
        curated,
        "continuous_packing_stream",
        state_root,
        "pack_state",
        checkpoint_dir,
        available_now,
        step,
    )


def semantic_ingest_stream(
    spark: SparkSession,
    vectors: DataFrame,
    incumbents: DataFrame,
    centroids: DataFrame,
    state_root: str,
    checkpoint_dir: str,
    out_dir: str,
    tau: float = 0.95,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = True,
    fine_centroids: DataFrame | None = None,
    k_fine: int | None = None,
) -> StreamingQuery:
    """Continuous SEMANTIC dedup intake — sd2's frozen-quantizer
    judgment running as a stream, completing the streaming curation
    story (exact dedup: curation_ingest_stream; packing:
    continuous_packing_stream): embedding micro-batches arrive, each
    is judged against the curated store PLUS everything the stream has
    kept so far, and survivors immediately become incumbents for the
    next trigger. The batch-equivalent plan is
    ``similarity.semdedup_fold`` — stream output equals that fold
    bit-for-bit (the parity test's contract).

    ``incumbents`` and ``centroids`` are the OFFLINE artifacts: the
    scored curated store (score_against_centroids shape) and its
    frozen Lloyd quantizer. Per trigger the work is one map-only
    assignment of the batch plus two cell-keyed joins bounded by
    |batch| x cell occupancy — the corpus is never self-joined and the
    Lloyd build never re-runs (re-clustering on drift is a periodic
    batch ``semdedup``, the rebuild-vs-maintain trade).

    Pass ``fine_centroids`` (+ ``k_fine``) to serve the HIERARCHICAL
    quantizer instead: ``centroids`` is then the COARSE level and each
    batch scores through similarity.score_against_two_level —
    O(k_coarse + k_fine) distance evals per vector instead of O(k),
    the production configuration for k ∝ n corpora (SCALE.md §5e
    measured the flat assignment as the stream's super-linear term at
    32x data; the streaming intake is exactly where a 100 TB corpus
    feels it). ``incumbents`` must be scored against the SAME
    artifact (score_against_two_level shape).

    Exactly-once across crashes through ``_exactly_once_stream``:
    decisions write to a DETERMINISTIC partition
    (``out_dir/batch_id=N``, overwrite) and the kept vectors to
    ``state_root/kept/batch_id=N`` (overwrite); the ``sem_meta`` table
    holds only the batch-id markers, committed after both. A replayed
    batch reads only kept partitions < N (its own half-written
    partition is invisible to the judgment), re-derives the identical
    decisions, and overwrites the same partitions.

    ORDER CONTRACT (round 9, VERDICT r8 #6): the fold is
    order-DEPENDENT by SEMANTICS — incumbents win, so whoever arrives
    first blocks its later near-duplicates. Arrival order IS the
    contract: under any arrival slicing the stream's decisions equal
    the batch fold of that exact arrival sequence (pinned in
    tests/test_round9_latedata.py, which also COUNTS the divergence a
    36 h-style shuffle causes against the event-time fold instead of
    letting it pass silently). When decisions must follow EVENT time
    — "the copy ingested first at the source keeps, not the copy the
    queue delivered first" — enforce order upstream with
    ``watermark_reorder_buffer`` through the two-query file-handoff
    topology (keyed constant for a globally-ordered lane; state is
    then one buffer of arrival_rate x max_lateness rows, the price of
    a global order guarantee): the enforcement test reproduces the
    event-time fold bit-for-bit from a shuffled arrival.
    """
    import os

    from migrator_spark.operators.similarity import (
        _judge_scored_batch,
        score_against_centroids,
        score_against_two_level,
    )

    if fine_centroids is not None and not k_fine:
        raise ValueError("fine_centroids needs k_fine")
    kept_dir = os.path.join(state_root, "kept")
    cents = centroids.localCheckpoint(eager=True)
    fine = (
        fine_centroids.localCheckpoint(eager=True)
        if fine_centroids is not None
        else None
    )

    def step(batch: DataFrame, batch_id: int, _prev: DataFrame | None) -> None:
        pts = batch.select(
            F.col(id_col),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        )
        if fine is not None:
            new_scored = score_against_two_level(pts, cents, fine, k_fine, id_col)
        else:
            new_scored = score_against_centroids(pts, cents, id_col)
        old = incumbents
        if os.path.isdir(kept_dir) and any(
            e.startswith("batch_id=") for e in os.listdir(kept_dir)
        ):
            prior = (
                spark.read.option("basePath", kept_dir)
                .parquet(kept_dir)
                .filter(F.col("batch_id") < batch_id)  # replay safety
                .drop("batch_id")
            )
            old = old.unionByName(prior)
        # judge ONCE per trigger (round 14, VERDICT r13 #3's stream
        # twin): checkpoint the decided batch — the old shape executed
        # the judge tree twice, once under the decision write and again
        # inside the keeper semi-join of the kept write. Both writes
        # are now projections of one batch-bounded materialization.
        decided = _judge_scored_batch(
            new_scored, old, tau, dim, id_col, with_payload=True
        ).withColumn("batch_id", F.lit(batch_id).cast("long"))
        decided = decided.localCheckpoint(eager=True)
        decided.select(
            id_col, "cell", "n_dups_old", "n_dups_new", "keep", "batch_id"
        ).write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
        decided.filter(F.col("keep")).select(
            *new_scored.columns
        ).write.mode("overwrite").parquet(f"{kept_dir}/batch_id={batch_id}")

    return _exactly_once_stream(
        spark,
        vectors,
        "semantic_ingest_stream",
        state_root,
        "sem_meta",
        checkpoint_dir,
        available_now,
        step,
    )


def streaming_window_funnel(
    stream: DataFrame,
    steps: "tuple[str, ...]" = ("view", "click", "purchase"),
    window_micros: int = 86_400_000_000,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    max_lateness_micros: int | None = None,
) -> DataFrame:
    """Streaming windowFunnel (the stateful form of the batch ev15 /
    N-step window_funnel_n queries): per user, the maximum chain depth
    step1 -> ... -> stepN reachable from ANY step-1 event with the
    whole chain inside ``window_micros`` and non-decreasing
    timestamps, maintained across micro-batches with O(N) state per
    user. ``steps`` takes ANY length >= 2 (round 8 — previously
    hardcoded to 3; the N=3 behavior is bit-identical).

    The constant-state automaton: processing a user's events in time
    order (ties resolved lowest-step-first, matching the batch query's
    at-or-after RANGE frames), keep best[i] = the LATEST chain start
    that has already reached stage i:

        on step-1 at t: best[1] = max(best[1], t)
        on step-i at t (1 < i < N):
            if t <= best[i-1] + W: best[i] = max(best[i], best[i-1]),
            level = max(level, i)
        on step-N at t: level = N if t <= best[N-1] + W

    Greedy-latest-start dominance: a future step-i event prefers the
    chain whose start deadline expires LAST, so only the max start
    per stage survives — the same argument, mirrored, as the batch
    form's earliest-next suffix mins. N-1 longs per user, no event
    buffering (fast path): the state
    that makes a funnel viable over an unbounded stream where the
    batch query's window sort cannot run.

    Contract (``max_lateness_micros=None``, the trusted-order fast
    path): per-user event time must be STRICTLY increasing across
    micro-batch boundaries (ADVICE r7 #4 — "non-decreasing" admitted a
    tie straddling a boundary: a click in batch N at the same ts as a
    view in batch N+1 folds before the view and misses a chain the
    batch ev15 RANGE frames, ties included, would count; same-ts ties
    must land in ONE micro-batch, where the step-rank sort handles
    them). File-replay and CDC intakes with strictly increasing
    per-user clocks satisfy this.

    Late-data mode (``max_lateness_micros`` set — VERDICT r7 #2, the
    reference's OnlyPast watermark made per-key and buffered, ref
    extractor_timestamp.go:18,42-43): the contract is ENFORCED, not
    assumed. Per-user state adds a bounded reorder buffer and a
    released watermark ``wm``. Each trigger: (1) arrivals with
    ts < wm are DROPPED and counted (the documented max-lateness drop
    policy — they predate history already folded); (2) the rest join
    the buffer; (3) wm advances to max_seen_ts - max_lateness and
    events STRICTLY below it mature into the authoritative automaton
    state in (ts, step-rank) order — strict release keeps same-ts
    ties together in the buffer until they all mature, so the
    boundary-tie miss is structurally impossible; (4) the emitted
    level SPECULATIVELY folds the sorted in-horizon tail on top of a
    copy of the authoritative state, so the current emission reflects
    every non-dropped event seen so far and the stream's final levels
    equal the batch fold of all non-dropped events in time order,
    whatever the batch boundaries (the shuffled-replay parity test's
    contract). Max-depth is monotone in the event set (best1/best2
    are maxes), so update-mode max-per-user stays the right read.
    State is N-1 longs + the buffer, bounded by
    arrival_rate x max_lateness per user; emits
    (user, level, late_dropped) with the cumulative per-user drop
    count as the metric.

    CHECKPOINT COMPATIBILITY (ADVICE r8 #2): round 8 generalized the
    fast-path state schema from ``best1 long, best2 long, level
    integer`` to ``bests array<long>, level integer`` (any N). A query
    restarted from a pre-round-8 checkpoint will fail to deserialize
    its state — resume such a stream with a NEW checkpointLocation and
    a replay from the source (the funnel's fold is deterministic over
    the replayed history, so the rebuilt state converges to the same
    levels). No legacy read path is kept: state stores carry no schema
    version tag to dispatch on, and a silent best-effort cast is worse
    than the explicit restart.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    n_steps = len(steps)
    if n_steps < 2:
        raise ValueError("a funnel needs at least 2 steps")
    rank = {s: i for i, s in enumerate(steps)}
    # state arrays carry a sentinel for "stage not reached yet": Arrow
    # round-trips null-free int64 lists losslessly, while nullable
    # elements can come back as float NaN
    _NONE = -(1 << 62)

    def _fold(bests, level, ts_list, r_list):
        # the shared automaton step, identical to the batch semantics:
        # events MUST already be sorted by (ts, step-rank).
        # bests[i] = latest chain start that reached stage i+1
        # (_NONE = unreached); bests has n_steps-1 slots.
        bests = list(bests)
        for t, r in zip(ts_list, r_list):
            if r == 0:
                bests[0] = max(bests[0], t)
                level = max(level, 1)
            elif bests[r - 1] != _NONE and t <= bests[r - 1] + window_micros:
                if r < n_steps - 1:
                    bests[r] = max(bests[r], bests[r - 1])
                level = max(level, r + 1)
        return bests, level

    def _batch_events(pdfs):
        # per-GROUP hot path: this runs once per (user, micro-batch) —
        # numpy end-to-end, no pandas DataFrame construction (guide §4:
        # the per-call constant dominated the stream's wall; measured
        # round 13, OPTIMIZATION_r13.md st6)
        import numpy as np

        ts_parts, r_parts = [], []
        for p in pdfs:
            if not len(p):
                continue
            r = p[type_col].map(rank)
            mask = r.notna()
            if not mask.all():
                r = r[mask]
                if not len(r):
                    continue
                t_src = p[ts_col][mask]
            else:
                t_src = p[ts_col]
            # normalize to MICROSECONDS regardless of the Arrow batch's
            # pandas resolution (ns here, us elsewhere) — the state
            # longs and window_micros share one unit
            ts_parts.append(
                t_src.astype("datetime64[us]").astype("int64").to_numpy()
            )
            r_parts.append(r.astype("int64").to_numpy())
        if not ts_parts:
            return None
        return np.concatenate(ts_parts), np.concatenate(r_parts)

    def _sorted_events(ts_us, rs):
        import numpy as np

        # stable (ts, step-rank) order — same total order as the old
        # pandas mergesort sort_values(["t", "r"])
        order = np.lexsort((rs, ts_us))
        return ts_us[order], rs[order]

    def fn(key: tuple, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            bests, level = state.get
            bests = list(bests)
        else:
            bests, level = [_NONE] * (n_steps - 1), 0
        got = _batch_events(pdfs)
        if got is None:
            if level > 0:
                yield pd.DataFrame({user_col: [key[0]], "level": [level]})
            return
        ts_us, rs = _sorted_events(*got)
        bests, level = _fold(bests, level, ts_us.tolist(), rs.tolist())
        state.update((bests, level))
        # a user with no step-1 event yet has no funnel level (matches
        # the batch query, which anchors on step-1 rows)
        if level > 0:
            yield pd.DataFrame({user_col: [key[0]], "level": [level]})

    def fn_buffered(key: tuple, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            bests, level, wm, dropped, buf_t, buf_r = state.get
            bests = list(bests)
            buf_t = list(buf_t) if buf_t is not None else []
            buf_r = list(buf_r) if buf_r is not None else []
        else:
            bests, level, wm, dropped = [_NONE] * (n_steps - 1), 0, None, 0
            buf_t, buf_r = [], []

        got = _batch_events(pdfs)
        if got is not None:
            ts_us, rs = got
            if wm is not None:
                late = ts_us < wm
                n_late = int(late.sum())
                if n_late:
                    # the max-lateness drop policy: these predate
                    # history already folded authoritatively — count
                    # and drop (never silently)
                    dropped += n_late
                    ts_us, rs = ts_us[~late], rs[~late]
            buf_t.extend(int(t) for t in ts_us)
            buf_r.extend(int(r) for r in rs)

        if buf_t:
            import numpy as np

            high = max(buf_t) - max_lateness_micros
            if wm is None or high > wm:
                wm = high
            st, sr = _sorted_events(
                np.asarray(buf_t, dtype="int64"),
                np.asarray(buf_r, dtype="int64"),
            )
            # STRICT release: same-ts ties mature together, so a tie
            # can never straddle the authoritative/speculative seam
            n_mature = int(np.searchsorted(st, wm, side="left"))
            if n_mature:
                bests, level = _fold(
                    bests,
                    level,
                    st[:n_mature].tolist(),
                    sr[:n_mature].tolist(),
                )
            buf_t = st[n_mature:].tolist()
            buf_r = sr[n_mature:].tolist()

        state.update((bests, level, wm, dropped, buf_t, buf_r))
        # speculative emission: fold the in-horizon tail on top of a
        # COPY of the authoritative state — reflects every non-dropped
        # event seen so far, independent of batch boundaries
        _, spec_level = (
            _fold(bests, level, buf_t, buf_r) if buf_t else (bests, level)
        )
        if spec_level > 0 or dropped > 0:
            yield pd.DataFrame(
                {
                    user_col: [key[0]],
                    "level": [spec_level],
                    "late_dropped": [dropped],
                }
            )

    # project to the three columns the automaton reads and drop
    # non-step events BEFORE the stateful exchange (guide §4 "pass only
    # the columns the function needs" / §2.3 "project before the
    # exchange"): the shuffle and the Arrow boundary then carry
    # (user, ts, type) of funnel events only. Emission-visible effect:
    # a user whose batch held ONLY non-step events no longer re-emits
    # their unchanged level that batch — consumers read the update-mode
    # stream as max-per-user (the documented contract), which is
    # invariant to dropped duplicate re-emissions.
    stream = stream.select(
        F.col(user_col), F.col(ts_col), F.col(type_col)
    ).filter(F.col(type_col).isin(list(steps)))
    if max_lateness_micros is None:
        return stream.groupBy(F.col(user_col)).applyInPandasWithState(
            fn,
            outputStructType=f"{user_col} long, level integer",
            stateStructType="bests array<long>, level integer",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    return stream.groupBy(F.col(user_col)).applyInPandasWithState(
        fn_buffered,
        outputStructType=f"{user_col} long, level integer, late_dropped long",
        stateStructType=(
            "bests array<long>, level integer, wm long, "
            "dropped long, buf_t array<long>, buf_r array<integer>"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def watermark_reorder_buffer(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    max_lateness_micros: int,
) -> DataFrame:
    """Bounded out-of-order buffer (VERDICT r7 #2): re-emit a keyed
    event stream with per-key event time GUARANTEED non-decreasing
    across micro-batches — the enforcement stage for downstream
    order-sensitive stateful consumers (streaming_first_seen,
    streaming_window_funnel's fast path), the per-key buffered form of
    the reference's OnlyPast guard (extractor_timestamp.go:18,42-43).

    Per key the state holds a released watermark ``wm``, a cumulative
    ``late_dropped`` counter, and the buffered in-horizon rows
    (columns split into typed arrays — micros timestamps + a JSON
    payload string per row, rebuilt on release with the input
    schema's types; float columns are encoded as their IEEE-754 bit
    patterns so the release is bit-identical — pandas to_json's
    decimal rendering truncates doubles, ADVICE r8 #1). Per trigger: arrivals with ts < wm are dropped
    and counted (the max-lateness drop policy — emitting them would
    break the order guarantee already handed downstream); the rest
    join the buffer; wm advances to max_seen - max_lateness and rows
    STRICTLY below it are emitted sorted by ts (strict, so same-ts
    ties always emit in one trigger — the boundary-tie hazard of
    ADVICE r7 #4 cannot reach the consumer). Emitted rows carry the
    payload columns plus ``late_dropped``. The stream's tail (within
    max_lateness of the per-key max) stays buffered until later data
    matures it — the price of an order guarantee over an unbounded
    stream; a periodic heartbeat event per partition is the standard
    production flush.

    Spark has no built-in per-KEY watermark reorder (the global
    watermark feeds windowed aggs, not arbitrary stateful ops), hence
    applyInPandasWithState. State is bounded by
    arrival_rate x max_lateness per key. Chaining two arbitrary
    stateful operators in ONE query is unsupported by Structured
    Streaming, so the production topology is two queries: this stage
    -> exactly-once file/table sink -> consumer intake (the handoff
    preserves trigger order; pinned in tests/test_streaming.py).
    """
    import json

    import numpy as np
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import DoubleType, FloatType

    in_schema = stream.schema
    payload_cols = [f.name for f in in_schema.fields]
    # Float payload columns travel through the JSON state as their
    # IEEE-754 bit patterns (int64): pandas to_json renders doubles
    # with at most double_precision=15 decimal places, which silently
    # truncates values like 1/3 (ADVICE r8 #1) — integers round-trip
    # exactly, so released floats are bit-identical to the ingested
    # ones (nulls were already NaN at the Arrow boundary).
    float_cols = {
        f.name
        for f in in_schema.fields
        if isinstance(f.dataType, (DoubleType, FloatType))
    }
    nan_bits = int(np.array(float("nan")).view("int64"))
    out_schema = (
        StructType(list(in_schema.fields))
        .add("late_dropped", "long")
    )

    def fn(key: tuple, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            wm, dropped, buf_t, buf_j = state.get
            buf_t = list(buf_t) if buf_t is not None else []
            buf_j = list(buf_j) if buf_j is not None else []
        else:
            wm, dropped, buf_t, buf_j = None, 0, [], []

        rows = [p for p in pdfs if len(p)]
        template = rows[0].iloc[:0] if rows else None
        if rows:
            pdf = pd.concat(rows)
            ts_us = (
                pdf[ts_col].astype("datetime64[us]").astype("int64").to_numpy()
            )
            if wm is not None:
                late = ts_us < wm
                n_late = int(late.sum())
                if n_late:
                    dropped += n_late
                    pdf, ts_us = pdf[~late], ts_us[~late]
            # JSON payload with ISO timestamps and bit-pattern floats:
            # rebuilt below with the input schema's dtypes, so the
            # round-trip is type- AND value-faithful
            enc = pdf
            if float_cols:
                enc = pdf.copy()
                for c in float_cols:
                    enc[c] = enc[c].to_numpy(dtype="float64").view("int64")
            buf_t.extend(int(t) for t in ts_us)
            buf_j.extend(
                enc.to_json(orient="records", lines=True,
                            date_format="iso", date_unit="us").splitlines()
            )

        out = None
        if buf_t:
            high = max(buf_t) - max_lateness_micros
            if wm is None or high > wm:
                wm = high
            order = pd.DataFrame({"t": buf_t, "j": buf_j}).sort_values(
                "t", kind="mergesort"
            )
            mature = order[order["t"] < wm]
            tail = order[order["t"] >= wm]
            buf_t, buf_j = tail["t"].tolist(), tail["j"].tolist()
            if len(mature) and template is not None:
                recs = [json.loads(j) for j in mature["j"]]
                out = pd.DataFrame.from_records(recs, columns=payload_cols)
                for c in payload_cols:
                    dt = template[c].dtype
                    if str(dt).startswith("datetime64"):
                        out[c] = pd.to_datetime(out[c]).astype(dt)
                    elif c in float_cols:
                        bits = np.asarray(
                            [nan_bits if v is None else v for v in out[c]],
                            dtype="int64",
                        )
                        out[c] = pd.Series(
                            bits.view("float64"), index=out.index
                        ).astype(dt, copy=False)
                    else:
                        try:
                            out[c] = out[c].astype(dt)
                        except (ValueError, TypeError):
                            # template dtype can disagree with a
                            # buffered row's content across triggers
                            # (e.g. int64 template vs a buffered null
                            # -> NaN): keep the JSON-inferred dtype and
                            # let the Arrow output conversion coerce to
                            # outputStructType, which governs the wire
                            # format either way
                            pass
                out["late_dropped"] = dropped

        state.update((wm, dropped, buf_t, buf_j))
        if out is not None:
            yield out

    return stream.groupBy(F.col(key_col)).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=(
            "wm long, dropped long, buf_t array<long>, buf_j array<string>"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def profiling_ingest_stream(
    spark: SparkSession,
    keys: DataFrame,
    state_root: str,
    checkpoint_dir: str,
    key_col: str,
    group_col: str,
    m: int = 512,
    d: int = 3,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuous data profiling: maintain the cross-engine-EXACT
    Count-Min state (quality._cm_state — the cells behind pr11's
    frequency estimates and pr12's heavy hitters) incrementally over a
    key stream, completing the streaming lane for the portable-sketch
    ladder the way continuous_packing_stream did for packing.

    The reason this can be EXACT where most streaming sketches are
    merely mergeable-approximate: CM cells are a pure ADDITIVE function
    of the key multiset, so fold(state, batch) == build(all data seen)
    bit-for-bit — the incremental state after N triggers equals the
    batch-built sketch over the concatenated corpus, with no
    order-dependence to hide (the parity test's contract). Per trigger
    the work is one partial-combined aggregate over the batch plus a
    union-merge with the bounded G·d·m-row state — the history is
    never rescanned.

    Exactly-once across crashes through ``_exactly_once_stream``: the
    merged cells are the ``cm_state`` table, committed in one atomic
    write with the batch-id markers, so a replay sees either the
    pre-batch state — and re-adds the same counts — or the post-batch
    state and skips.

    Serving reads the state table directly: pr11/pr12-style probes
    join the broadcast cells — the stream never blocks reads (versioned
    reads see the last committed state).
    """
    from migrator_spark.operators.quality import _cm_state

    def step(batch: DataFrame, batch_id: int, prev: DataFrame | None):
        _seeds, _pos, cells = _cm_state(batch, key_col, group_col, m, d)
        if prev is not None:
            cells = (
                prev.unionByName(cells)
                .groupBy("grp", "_i", "_pos")
                .agg(F.sum("_c").alias("_c"))
            )
        return cells

    return _exactly_once_stream(
        spark,
        keys,
        "profiling_ingest_stream",
        state_root,
        "cm_state",
        checkpoint_dir,
        available_now,
        step,
    )
