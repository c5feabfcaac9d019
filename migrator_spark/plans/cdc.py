"""CDC/extractor/loader operator queries + DuckDB oracles.

Each function here is a ``queries()`` entry (driver contract): it wires
the pure operators in ``migrator_spark.operators`` to the driver's
synthetic tables per the FIXTURES.md §4 mapping — ``orders`` plays the
sequential-PK entity table, ``events`` plays both the timestamped entity
table and the ``MigratorRecordQueue`` CDC queue, ``customer`` plays the
replication target.

The synthetic CDC batch (``cdc_batch``/CDC_CTE) maps events to queue
records: key = user_id*11 (so some keys fall outside customer's key
range at every SF — exercising both MATCHED and NOT-MATCHED merge arms),
method = REMOVE for 'error' events else REPLACE.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from migrator_spark.operators import extract as ex
from migrator_spark.operators import load as ld
from migrator_spark.operators import maintenance as mnt
from migrator_spark.tables import load_table

# ---------------------------------------------------------------- E1

SEQ_POS = 500
SEQ_BATCH = 1000


def e1_seq_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 sequential extractor batch (extractor_sequential.go:17-130)."""
    orders = load_table(spark, sf_dir, "orders")
    return ex.sequential_scan(orders, "o_orderkey", SEQ_POS, SEQ_BATCH)


E1_ORACLE = f"""
SELECT *, 'INSERT' AS _method
FROM orders WHERE o_orderkey > {SEQ_POS}
ORDER BY o_orderkey LIMIT {SEQ_BATCH}
"""

# ---------------------------------------------------------------- E2

TS_POS = "2024-01-10 00:00:00"
TS_UPPER = "2024-01-20 00:00:00"
TS_BATCH = 500


def e2_ts_scan_onlypast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 timestamp extractor with OnlyPast bound (extractor_timestamp.go:15-129).

    Upper bound pinned to a literal for reproducibility (the reference
    uses NOW(); semantics identical).
    """
    events = load_table(spark, sf_dir, "events")
    return ex.timestamp_scan(
        events,
        "ts",
        TS_POS,
        TS_BATCH,
        only_past=True,
        upper_bound=TS_UPPER,
        tiebreak_col="event_id",
    )


E2_ORACLE = f"""
SELECT *, 'REPLACE' AS _method
FROM events
WHERE ts > TIMESTAMP '{TS_POS}' AND ts <= TIMESTAMP '{TS_UPPER}'
ORDER BY ts, event_id LIMIT {TS_BATCH}
"""

# ---------------------------------------------------------------- E3

E3_POS = "2024-01-15 00:00:00"


def e3_coalesce_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 coalesce-fallback extractor (extractor_timestamp_fallback.go:16-127).

    The synthetic tables have no second nullable timestamp, so one is
    derived: ts_a = ts NULLed for 'click' events, ts_b = ts - 1 day.
    Fixes the reference's offset bug (SURVEY.md E3 ⚠) by scanning on the
    coalesced expression itself.
    """
    events = load_table(spark, sf_dir, "events")
    src = events.select(
        "event_id",
        "user_id",
        "event_type",
        F.when(F.col("event_type") == "click", F.lit(None).cast("timestamp"))
        .otherwise(F.col("ts"))
        .alias("ts_a"),
        (F.col("ts") - F.expr("INTERVAL 1 DAY")).alias("ts_b"),
    )
    return ex.coalesce_scan(src, ["ts_a", "ts_b"], E3_POS, TS_BATCH, tiebreak_col="event_id")


E3_ORACLE = f"""
WITH src AS (
  SELECT event_id, user_id, event_type,
         CASE WHEN event_type = 'click' THEN NULL ELSE ts END AS ts_a,
         ts - INTERVAL 1 DAY AS ts_b
  FROM events
)
SELECT *, 'REPLACE' AS _method
FROM src
WHERE coalesce(ts_a, ts_b) > TIMESTAMP '{E3_POS}'
ORDER BY coalesce(ts_a, ts_b), event_id LIMIT {TS_BATCH}
"""

# ---------------------------------------------------------------- E4

QUEUE_BATCH = 1000


def e4_queue_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 queue drain: oldest-first FIFO (extractor_queue.go:35-36)."""
    events = load_table(spark, sf_dir, "events")
    return ex.queue_drain(events, ts_col="ts", batch_size=QUEUE_BATCH, tiebreak_col="event_id")


E4_DRAIN_ORACLE = f"SELECT * FROM events ORDER BY ts, event_id LIMIT {QUEUE_BATCH}"


def e4_point_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 point lookups as ONE broadcast equi-join (extractor_queue.go:74-93).

    The reference issues one SELECT per drained key; this is the
    idiomatic Spark replacement: broadcast the (deduplicated) key set,
    hash-join the source — zero shuffle of the big side.
    """
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    drained = ex.queue_drain(events, ts_col="ts", batch_size=QUEUE_BATCH, tiebreak_col="event_id")
    return ex.point_lookup_join(customer, drained, on={"c_custkey": "user_id"})


E4_LOOKUP_ORACLE = f"""
SELECT c.*, 'REPLACE' AS _method
FROM customer c
WHERE c_custkey IN (
  SELECT DISTINCT user_id
  FROM (SELECT * FROM events ORDER BY ts, event_id LIMIT {QUEUE_BATCH})
)
"""


def p6_composite_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 composite-key point lookup (extractor_queue.go:75-90) as a
    multi-column broadcast equi-join on (l_orderkey, l_linenumber)."""
    li = load_table(spark, sf_dir, "lineitem")
    keys = li.filter(F.col("l_partkey") % 50 == 0).select("l_orderkey", "l_linenumber")
    return ex.point_lookup_join(li, keys, on=["l_orderkey", "l_linenumber"])


P6_ORACLE = """
SELECT l.*, 'REPLACE' AS _method
FROM lineitem l
WHERE EXISTS (
  SELECT 1 FROM lineitem k
  WHERE k.l_partkey % 50 = 0
    AND k.l_orderkey = l.l_orderkey AND k.l_linenumber = l.l_linenumber
)
"""

# ---------------------------------------------------------------- A (offset/agg)


def a1_max_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A4: advanced tracking offset over an E1 batch
    (extractor_sequential.go:86-111)."""
    batch = e1_seq_scan(spark, sf_dir)
    return ex.next_offset(batch, "o_orderkey")


A1_ORACLE = f"""
SELECT max(o_orderkey) AS max_pos, min(o_orderkey) AS min_pos, count(*) AS cnt
FROM (SELECT * FROM orders WHERE o_orderkey > {SEQ_POS} ORDER BY o_orderkey LIMIT {SEQ_BATCH})
"""


def a2_ts_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: advanced timestamp offset over an E2 batch
    (extractor_timestamp.go:87, util.go:36-41)."""
    batch = e2_ts_scan_onlypast(spark, sf_dir)
    return batch.agg(F.max("ts").alias("max_ts"), F.count(F.lit(1)).alias("cnt"))


A2_ORACLE = f"""
SELECT max(ts) AS max_ts, count(*) AS cnt
FROM (SELECT * FROM events
      WHERE ts > TIMESTAMP '{TS_POS}' AND ts <= TIMESTAMP '{TS_UPPER}'
      ORDER BY ts, event_id LIMIT {TS_BATCH})
"""

# ------------------------------------------------------- CDC batch fixture

CDC_CTE = """
cdc AS (
  SELECT user_id * 11 AS key, ts, event_id, value,
         CASE WHEN event_type = 'error' THEN 'REMOVE' ELSE 'REPLACE' END AS _method
  FROM events
)
"""


def cdc_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic CDC queue batch per FIXTURES.md §4 (events ->
    MigratorRecordQueue): key, ts, event_id, value, _method."""
    events = load_table(spark, sf_dir, "events")
    return events.select(
        (F.col("user_id") * 11).alias("key"),
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", F.lit(ex.M_REMOVE))
        .otherwise(F.lit(ex.M_REPLACE))
        .alias(ex.METHOD_COL),
    )


def a5_group_by_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: per-method row grouping (loader_default.go:20-26)."""
    return cdc_batch(spark, sf_dir).groupBy(ex.METHOD_COL).agg(F.count(F.lit(1)).alias("cnt"))


A5_ORACLE = f"WITH {CDC_CTE} SELECT _method, count(*) AS cnt FROM cdc GROUP BY _method"

# ---------------------------------------------------------------- S


def s1_queue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S2: deterministic top-k oldest queue entries; Spark compiles
    orderBy+limit to TakeOrderedAndProject (per-partition top-k, k-row
    merge — no full sort shuffle)."""
    events = load_table(spark, sf_dir, "events")
    return ex.queue_drain(events, ts_col="ts", batch_size=100, tiebreak_col="event_id")


S1_ORACLE = "SELECT * FROM events ORDER BY ts, event_id LIMIT 100"

# ---------------------------------------------------------------- W / L


def w1_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: last-write-wins dedup window (SURVEY.md §2.5)."""
    return ld.latest_by_key(cdc_batch(spark, sf_dir), ["key"], "ts", "event_id")


W1_ORACLE = f"""
WITH {CDC_CTE}
SELECT * FROM cdc
QUALIFY row_number() OVER (PARTITION BY key ORDER BY ts DESC, event_id DESC) = 1
"""

# customer-shaped CDC rows: matched keys keep their dims, unmatched get
# deterministic synthetics (exercises MERGE's NOT MATCHED INSERT arm).
SHAPED_CTE = """
shaped AS (
  SELECT l.key AS c_custkey,
         coalesce(c.c_name, 'new-' || l.key) AS c_name,
         coalesce(c.c_nationkey, CAST(l.key % 25 AS INTEGER)) AS c_nationkey,
         l.value AS c_acctbal,
         coalesce(c.c_mktsegment, 'CDC') AS c_mktsegment,
         l._method, l.ts, l.event_id
  FROM cdc l LEFT JOIN customer c ON c.c_custkey = l.key
)
"""


def _shaped_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    cdc = cdc_batch(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    j = cdc.join(customer, cdc.key == customer.c_custkey, "left")
    return j.select(
        F.col("key").alias("c_custkey"),
        F.coalesce(F.col("c_name"), F.concat(F.lit("new-"), F.col("key").cast("string"))).alias("c_name"),
        F.coalesce(F.col("c_nationkey"), (F.col("key") % 25).cast("int")).alias("c_nationkey"),
        F.col("value").alias("c_acctbal"),
        F.coalesce(F.col("c_mktsegment"), F.lit("CDC")).alias("c_mktsegment"),
        ex.METHOD_COL,
        "ts",
        "event_id",
    )


def l2_upsert_lastwins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 REPLACE-by-PK upsert with in-batch last-write-wins
    (batched_queries.go:21-23 + SURVEY.md §7.3/§7.4)."""
    customer = load_table(spark, sf_dir, "customer")
    batch = _shaped_batch(spark, sf_dir).filter(F.col(ex.METHOD_COL) != ex.M_REMOVE)
    final = ld.latest_by_key(batch, ["c_custkey"], "ts", "event_id").select(*customer.columns)
    return ld.upsert(customer, final, ["c_custkey"])


L2_ORACLE = f"""
WITH {CDC_CTE}, {SHAPED_CTE},
final AS (
  SELECT * FROM shaped WHERE _method <> 'REMOVE'
  QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY ts DESC, event_id DESC) = 1
)
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer
WHERE c_custkey NOT IN (SELECT c_custkey FROM final)
UNION ALL
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM final
"""


def l3_remove_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 DELETE-by-PK as a broadcast anti-join (batched_queries.go:28-74)."""
    customer = load_table(spark, sf_dir, "customer")
    removes = (
        cdc_batch(spark, sf_dir)
        .filter(F.col(ex.METHOD_COL) == ex.M_REMOVE)
        .select(F.col("key").alias("c_custkey"))
    )
    return ld.delete_antijoin(customer, removes, ["c_custkey"])


L3_ORACLE = f"""
WITH {CDC_CTE}
SELECT c.* FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM cdc WHERE cdc._method = 'REMOVE' AND cdc.key = c.c_custkey)
"""


def p7_tracking_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 tracking-status lookup: two-column conjunctive equality +
    deterministic LIMIT 1 (tracking.go:61 — the reference's bare LIMIT 1
    relies on MySQL PK order; we make the order explicit, SURVEY.md §2.6 ⚠)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.filter((F.col("user_id") == 7) & (F.col("event_type") == "click"))
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .limit(1)
    )


P7_ORACLE = """
SELECT * FROM events
WHERE user_id = 7 AND event_type = 'click'
ORDER BY ts, event_id LIMIT 1
"""


def f1_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F3 scalar functions: IFNULL->coalesce (extractor_timestamp_fallback.go:44),
    intmax/intmin/timemax/timemin (util.go:8-48) -> greatest/least.
    Comparison-only (no float arithmetic), so cross-engine exact."""
    events = load_table(spark, sf_dir, "events")
    ts_a = F.when(F.col("event_type") == "click", F.lit(None).cast("timestamp")).otherwise(
        F.col("ts")
    )
    return events.select(
        "event_id",
        F.coalesce(ts_a, F.col("ts") - F.expr("INTERVAL 1 DAY")).alias("eff_ts"),
        F.greatest(F.col("value"), F.lit(50.0)).alias("val_hi"),
        F.least(F.col("value"), F.lit(50.0)).alias("val_lo"),
        F.greatest(F.col("user_id"), F.col("event_id")).alias("id_hi"),
    )


F1_ORACLE = """
SELECT event_id,
       coalesce(CASE WHEN event_type = 'click' THEN NULL ELSE ts END,
                ts - INTERVAL 1 DAY) AS eff_ts,
       greatest(value, 50.0) AS val_hi,
       least(value, 50.0) AS val_lo,
       greatest(user_id, event_id) AS id_hi
FROM events
"""


def t2_rename_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 tablerenamer transformer (transformer_tablerenamer.go:9-33):
    routes the batch to a renamed destination table. Exercises the real
    registry/transform path; the routing decision is surfaced as a
    ``_target_table`` column so the oracle can check it."""
    from migrator_spark.pipeline.registries import resolve
    from migrator_spark.pipeline.transformers import TransformContext

    batch = e1_seq_scan(spark, sf_dir)
    fn = resolve("transformer", "tablerenamer")
    routed = fn(batch, TransformContext("orders", "orders", {"TableName": "orders_renamed"}))
    assert len(routed) == 1
    return routed[0].df.withColumn("_target_table", F.lit(routed[0].target_table))


T2_ORACLE = f"""
SELECT *, 'INSERT' AS _method, 'orders_renamed' AS _target_table
FROM orders WHERE o_orderkey > {SEQ_POS}
ORDER BY o_orderkey LIMIT {SEQ_BATCH}
"""


def st1_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 event-time tumbling-window counts (streaming/streams.py
    windowed_event_counts in its batch-equivalent mode; the streaming
    variant adds a watermark — semantics identical when no data is late).
    Spark's window() is epoch-aligned, so 1-hour tumbling == date_trunc('hour')."""
    from migrator_spark.streaming.streams import windowed_event_counts

    events = load_table(spark, sf_dir, "events")
    return windowed_event_counts(events, ts_col="ts", window="1 hour")


ST1_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS cnt
FROM events GROUP BY 1, 2
"""

SESSION_GAP_MIN = 30


def st2_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2 session windows (SURVEY.md §2.11 'available for free'):
    per-user sessions with a 30-minute inactivity gap via
    F.session_window — Spark's native merging session aggregation
    (stateful in streaming; identical gaps-and-islands semantics in
    batch, which is what the oracle checks)."""
    events = load_table(spark, sf_dir, "events")
    w = F.session_window(F.col("ts"), f"{SESSION_GAP_MIN} minutes")
    return (
        events.groupBy(w.alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "cnt",
        )
    )


# gaps-and-islands: a session breaks when the gap since the previous
# event (per user) is >= the inactivity gap; session_end = last event
# + gap (session_window's half-open end bound).
ST2_ORACLE = f"""
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL {SESSION_GAP_MIN} MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), numbered AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM marked
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
       count(*) AS cnt
FROM numbered GROUP BY user_id, sess_id
"""


def st3_stateful_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3: the custom stateful streaming operator
    (streaming/streams.py streaming_first_seen, applyInPandasWithState)
    run for real — events streamed from parquet, one row emitted per
    user_id: the first occurrence by event_id. Executed availableNow to
    a memory sink so the result is a plain DataFrame for the harness.

    Oracle-expressible because the input is a single file -> a single
    micro-batch; the cross-batch statefulness is covered by
    tests/test_streaming.py::test_streaming_first_seen_dedup."""
    import tempfile
    import uuid

    events = load_table(spark, sf_dir, "events")
    # file stream source needs a directory of micros-timestamp parquet;
    # stage via Spark write (single-file table -> coalesce keeps one
    # file -> one micro-batch, which is what makes ST3_ORACLE exact)
    stage = tempfile.mkdtemp(prefix="st3_events_")
    events.coalesce(1).write.mode("overwrite").parquet(stage)
    stream = spark.readStream.schema(events.schema).parquet(stage)
    from migrator_spark.streaming.streams import streaming_first_seen

    out = streaming_first_seen(stream, ["user_id"], "event_id", events.schema)
    name = f"st3_out_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="st3_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    # same silent-partial-grade guard as st6/pr14 (ADVICE r9 #2): an
    # un-checked timeout would hand a half-drained memory sink to the
    # grader as if it were the full result
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("st3 stream still running at 300 s")
    return spark.table(name)


ST3_ORACLE = """
SELECT * FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id) = 1
"""


def l0_apply_cdc_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L0 full merge: mixed INSERT/REPLACE/REMOVE applied in per-key
    event-time order — the FINAL event per key wins (loader_default.go:9-72
    + queue replay semantics, SURVEY.md §7.3)."""
    customer = load_table(spark, sf_dir, "customer")
    batch = _shaped_batch(spark, sf_dir)
    return ld.apply_cdc_batch(customer, batch, ["c_custkey"], "ts", "event_id")


L0_ORACLE = f"""
WITH {CDC_CTE}, {SHAPED_CTE},
final AS (
  SELECT * FROM shaped
  QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY ts DESC, event_id DESC) = 1
)
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer
WHERE c_custkey NOT IN (SELECT c_custkey FROM final)
UNION ALL
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM final
WHERE _method <> 'REMOVE'
"""


def mnt1_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O(batch) incremental AGGREGATE upkeep under CDC, driver-graded
    (round 10): a per-segment (sum, count) rollup of `customer` is
    patched with the batch delta — retract the touched keys' old
    contributions (a broadcast semi-join of the fact table), add the
    final non-REMOVE rows' new ones — instead of re-aggregating the
    merged fact table (operators/maintenance.py:maintain_rollup; the
    reference never faces this because MySQL is its storage, but a
    100 TB continuously-loaded warehouse cannot recompute a 100 TB
    GROUP BY per drip batch; the patch is O(batch + touched groups)).

    The oracle RECOMPUTES the rollup from the L0-merged table, so the
    hash pins patch == recompute across mixed REPLACE/REMOVE with
    GROUP MIGRATION (an upsert that moves a key into segment 'CDC'
    must move its contribution between groups) and unmatched-key
    inserts. Sums run in DECIMAL(18,2) — exact, order-independent, so
    the incremental retract/add order cannot drift from the
    recompute — and cast to double at the end (the house float
    discipline).

    Scale: the retract is a BROADCAST left-semi join of the fact
    table against the batch's keys (map-side, pinned in
    tests/test_plans.py) followed by an O(batch) partial aggregate;
    the patch join is a FULL OUTER on |groups| rows — full outer
    cannot broadcast in Spark, so it plans as a sort-merge exchange,
    which is trivial because BOTH sides are |groups|-sized (segment
    cardinality, not data). The fact table is scanned once for the
    retract; with a PK-clustered layout the semi-join prunes to the
    touched files (§2's l4 machinery)."""
    customer = load_table(spark, sf_dir, "customer")
    target = customer.select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
    )
    rollup = mnt.compute_rollup(target, ["c_mktsegment"], "bal")
    batch = _shaped_batch(spark, sf_dir).select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
        ex.METHOD_COL,
        "ts",
        "event_id",
    )
    final = ld.latest_by_key(batch, ["c_custkey"], "ts", "event_id")
    patched = mnt.maintain_rollup(
        rollup, target, final, ["c_custkey"], ["c_mktsegment"], "bal"
    )
    return patched.select(
        "c_mktsegment",
        F.col("sum_val").cast("double").alias("sum_bal"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )


MNT1_ORACLE = f"""
WITH {CDC_CTE}, {SHAPED_CTE},
final AS (
  SELECT * FROM shaped
  QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY ts DESC, event_id DESC) = 1
),
merged AS (
  SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
  FROM customer
  WHERE c_custkey NOT IN (SELECT c_custkey FROM final)
  UNION ALL
  SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
  FROM final WHERE _method <> 'REMOVE'
)
SELECT c_mktsegment, CAST(sum(bal) AS DOUBLE) AS sum_bal,
       CAST(count(*) AS BIGINT) AS n_rows
FROM merged GROUP BY c_mktsegment
"""


def l4_pruned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 transactional file-pruned MERGE, executed end-to-end through
    the versioned-parquet sink: the customer table is seeded
    range-clustered on its PK, a key-localized CDC batch (keys < 400)
    is merged via ParquetSource.merge_pruned, and the POST-MERGE table
    is read back and returned. Only part-files whose footer key range
    intersects the batch keys are rewritten; the rest are carried by
    hardlink — the Delta-MERGE file-skipping execution of REPLACE/DELETE
    (/root/reference/batched_queries.go:21-23,28-74,
    loader_default.go:30-34) that replaces the full-table-rewrite sink.
    The oracle is L0's set algebra restricted to the same key band —
    identical semantics, different (pruned) physical execution.
    """
    from migrator_spark.sources.parquet import ParquetSource

    customer = load_table(spark, sf_dir, "customer")
    batch = _shaped_batch(spark, sf_dir).filter(F.col("c_custkey") < 400)
    src = ParquetSource("/root/repo/spark-warehouse/l4_sink")
    table = f"customer_{os.path.basename(sf_dir.rstrip('/'))}"
    seeded = customer.repartitionByRange(8, F.col("c_custkey")).sortWithinPartitions(
        "c_custkey"
    )
    src.write(seeded, table, mode="overwrite")
    src.merge_pruned(
        spark,
        table,
        [r[0] for r in batch.select("c_custkey").distinct().collect()],
        "c_custkey",
        lambda tdf: ld.apply_cdc_batch(tdf, batch, ["c_custkey"], "ts", "event_id"),
    )
    return src.table(spark, table)


L4_ORACLE = f"""
WITH {CDC_CTE}, {SHAPED_CTE},
final AS (
  SELECT * FROM shaped WHERE c_custkey < 400
  QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY ts DESC, event_id DESC) = 1
)
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer
WHERE c_custkey NOT IN (SELECT c_custkey FROM final)
UNION ALL
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM final
WHERE _method <> 'REMOVE'
"""


def a3_coalesce_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: advanced offset of an E3 batch = max of the COALESCED
    position expression (extractor_timestamp_fallback.go:85 intended
    this; the reference reads a nonexistent "colA,colB" map key and
    aborts — SURVEY.md E3 ⚠. Correct semantics implemented here)."""
    batch = e3_coalesce_scan(spark, sf_dir)
    return batch.agg(
        F.max(F.coalesce(F.col("ts_a"), F.col("ts_b"))).alias("max_pos"),
        F.count(F.lit(1)).alias("cnt"),
    )


A3_ORACLE = f"""
SELECT max(coalesce(ts_a, ts_b)) AS max_pos, count(*) AS cnt
FROM (
  WITH src AS (
    SELECT event_id, user_id, event_type,
           CASE WHEN event_type = 'click' THEN NULL ELSE ts END AS ts_a,
           ts - INTERVAL 1 DAY AS ts_b
    FROM events
  )
  SELECT * FROM src
  WHERE coalesce(ts_a, ts_b) > TIMESTAMP '{E3_POS}'
  ORDER BY coalesce(ts_a, ts_b), event_id LIMIT {TS_BATCH}
)
"""


def p8_full_row_delete_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: delete-matching on ALL columns of the row
    (batched_queries.go:52-58 — the reference's BatchedRemove builds
    `DELETE ... WHERE c1=? AND c2=? AND ...` over every column). Spark
    re-expression: the surviving target = anti-join of the target
    against the delete rows on the full column list, one distributed
    pass instead of one statement per row."""
    events = load_table(spark, sf_dir, "events")
    deletes = events.filter(
        (F.col("event_type") == "error") & (F.col("user_id") % 7 == 0)
    )
    return events.join(deletes, on=events.columns, how="left_anti")


P8_ORACLE = """
SELECT * FROM events t
WHERE NOT EXISTS (
  SELECT 1 FROM events d
  WHERE d.event_type = 'error' AND d.user_id % 7 = 0
    AND t.event_id = d.event_id AND t.ts = d.ts AND t.user_id = d.user_id
    AND t.event_type = d.event_type AND t.value = d.value AND t.props = d.props
)
"""


def st4_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4 keyed dedup with bounded state
    (streaming/streams.py dedup_within_watermark): in streaming mode
    dropDuplicatesWithinWatermark emits each key once and expires its
    state at the watermark horizon; the batch-equivalent contract —
    DISTINCT over the keys — is what the oracle checks (the
    cross-micro-batch suppression is exercised in tests/test_streaming)."""
    from migrator_spark.streaming.streams import dedup_within_watermark

    events = load_table(spark, sf_dir, "events")
    return dedup_within_watermark(events, ["user_id", "event_type"], "ts")


ST4_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""

INTERVAL_JOIN_DELAY = "2 hours"


def st5_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST5 stream-stream interval join (streams.interval_join):
    click→purchase attribution within 2 hours per user. The time bound
    is what lets streaming expire join state; in batch mode the same
    plan is a range-condition join, checked here against the oracle."""
    from migrator_spark.streaming.streams import interval_join

    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    j = interval_join(clicks, purchases, ["user_id"], max_delay=INTERVAL_JOIN_DELAY)
    return j.select(
        F.col("l_user_id").alias("user_id"),
        F.col("l_event_id").alias("click_id"),
        F.col("r_event_id").alias("purchase_id"),
        F.col("l_ts").alias("click_ts"),
        F.col("r_ts").alias("purchase_ts"),
    )


ST5_ORACLE = """
SELECT a.user_id AS user_id, a.event_id AS click_id, b.event_id AS purchase_id,
       a.ts AS click_ts, b.ts AS purchase_ts
FROM events a JOIN events b
  ON a.user_id = b.user_id
WHERE a.event_type = 'click' AND b.event_type = 'purchase'
  AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 2 HOUR
"""


ST6_LATENESS_US = 36 * 3_600_000_000  # 36 h reorder horizon


def st6_late_funnel_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6 — the LATE-DATA streaming funnel, graded end-to-end
    (VERDICT r7 #2 closed in the driver's gate, not just in tests):
    every event's arrival is delayed by a deterministic pseudo-random
    0-36 h (pmod(xxhash64(event_id), horizon)), the stream is re-cut
    into three micro-batches by ARRIVAL time — so per-user event time
    runs backwards across batch boundaries, violating the trusted-order
    contract the round-7 funnel assumed — and
    streaming_window_funnel(max_lateness_micros=36h) must still land
    every user on the batch ev15 level: the per-user watermark reorder
    buffer is what makes the distribution equal the batch RANGE-frame
    oracle bit-for-bit, with zero drops (the perturbation is bounded by
    the horizon). Any regression in the buffer's release order, the
    strict-release tie handling, or the speculative tail fold lands as
    a hash miss against EV15's oracle.

    Scale: state is three longs + a buffer bounded by
    arrival_rate x 36 h per user; each trigger sorts only buffered
    events per active key (Arrow-batched), and the final aggregation
    is one groupBy over (user, max level)."""
    import os
    import shutil
    import tempfile
    import time as _time

    from migrator_spark.streaming.streams import streaming_window_funnel
    from migrator_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    arr = events.withColumn(
        "_arr",
        F.unix_micros(F.col("ts").cast("timestamp"))
        + F.pmod(F.xxhash64("event_id"), F.lit(ST6_LATENESS_US)),
    )
    cuts = arr.select(
        F.percentile_approx("_arr", [0.33, 0.66], 10000).alias("c")
    ).first()["c"]
    root = tempfile.mkdtemp(prefix="st6_")
    try:
        sdir, ck, odir = f"{root}/in", f"{root}/ck", f"{root}/out"
        # Deterministic batch cut without wall-clock coupling (VERDICT
        # r8 #4 — this replaced two time.sleep(1.05) calls): the file
        # source replays by modification time, so each arrival slice
        # becomes ONE data file with an explicitly STAMPED mtime 10 s
        # after its predecessor (os.utime costs nothing and removes
        # all tie-break ambiguity — the stamps, not the write clock,
        # carry the order). Since round 13 the three slices land in
        # ONE pass: a bucket column + hash repartition on it + a
        # partitionBy write (each bucket's rows sit wholly inside one
        # task, so each directory holds exactly one data file), where
        # the old form ran three separate filter + coalesce(1) full
        # scans of the events table — guide §2.4 "remove
        # shuffles/passes outright" (3 single-threaded scans -> 1 scan
        # + one narrow-row shuffle; measured in OPTIMIZATION_r13.md).
        os.makedirs(sdir)
        stage = f"{root}/stage"
        (
            arr.withColumn(
                "_b",
                F.when(F.col("_arr") < cuts[0], 0)
                .when(F.col("_arr") < cuts[1], 1)
                .otherwise(2),
            )
            .drop("_arr")
            .repartition(F.col("_b"))
            .write.partitionBy("_b")
            .parquet(stage)
        )
        t0 = _time.time() - 120.0  # anchored in the past; spacing is all
        for i in range(3):
            bdir = os.path.join(stage, f"_b={i}")
            if not os.path.isdir(bdir):
                # degenerate cut left this arrival slice empty — the
                # old per-slice write produced an empty file (and so an
                # empty micro-batch); keep that batch structure
                arr.drop("_arr").limit(0).coalesce(1).write.parquet(bdir)
            part_file = next(
                f for f in os.listdir(bdir) if f.endswith(".parquet")
            )
            dst = os.path.join(sdir, f"batch-{i:05d}.parquet")
            shutil.move(os.path.join(bdir, part_file), dst)
            os.utime(dst, (t0 + 10.0 * i, t0 + 10.0 * i))
        # State partitions sized by the staged input: AQE cannot
        # coalesce stateful exchanges, so the session's batch shuffle
        # width ran 240 near-empty state-store tasks over 3 triggers
        # here. resolve_state_partitions derives the width from the
        # staged bytes, floored at cores/2 and ceilinged at the session
        # shuffle width (measured interleaved A/B at sf0.1: stream
        # 4.56 -> 3.18 s, identical levels). The stream is defined and
        # drained on its OWN session carrying that width, so the
        # caller's session conf, and any query planned on it
        # meanwhile, keeps its own. The sink re-keys each trigger's
        # emission — one row per ACTIVE USER, orders of magnitude
        # narrower than the event stream — into n_state/16 writers so
        # the per-trigger file count tracks scale instead of the state
        # width (guide §6 small files; 96 -> 3 files at sf0.1).
        from migrator_spark.streaming.streams import resolve_state_partitions

        staged_bytes = sum(
            os.path.getsize(os.path.join(sdir, f)) for f in os.listdir(sdir)
        )
        n_state = resolve_state_partitions(spark, staged_bytes)
        n_sink = max(1, n_state // 16)
        iso = spark.newSession()
        iso.conf.set("spark.sql.shuffle.partitions", n_state)
        stream = (
            iso.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(sdir)
        )

        def sink(df: DataFrame, bid: int) -> None:
            df.repartition(n_sink).write.mode("append").parquet(odir)

        q = (
            streaming_window_funnel(stream, max_lateness_micros=ST6_LATENESS_US)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        # a partial replay graded as a hash miss would be a silent
        # lie: fail loudly if the availableNow drain stalls. An
        # explicit check, not `assert`, which `python -O` strips; and
        # the query is STOPPED before the finally-block rmtree so
        # cleanup never deletes dirs under a still-running stream.
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("st6 stream still running at 300 s")
        q.stop()
        out = spark.read.parquet(odir)
        result = (
            out.groupBy("user_id")
            .agg(F.max("level").alias("level"))
            .groupBy("level")
            .agg(F.count(F.lit(1)).alias("n_users"))
            .select(
                F.col("level").cast("long"), F.col("n_users").cast("long")
            )
        )
        # materialize before dropping the temp root so soak loops don't
        # accumulate event-table copies in /tmp (ADVICE r8 #3)
        rows = result.collect()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, "level long, n_users long")


# Prebuilt pipeline_e2e_drain fixtures, one per (app, sf_dir)
# (VERDICT r9 #6): round 9's graded function rebuilt the
# source/target/queue parquet fixture with Spark jobs inside its timed
# row, so the 6.4 s headline priced fixture I/O alongside the drain it
# advertises. The fixture is deterministic in sf_dir, so it is built
# ONCE per (session, sf_dir) here and each invocation starts from a
# cheap file-level clone (the run MUTATES the target table and the
# queue, so invocations can't share a live copy). Same hygiene rules
# as the shared shingle index: bounded cache, rmtree on eviction,
# atexit backstop.
_PIPE_FIXTURE_CACHE: "dict[tuple[str, str], tuple[str, int]]" = {}
_PIPE_FIXTURE_KEEP = 2
_PIPE_FIXTURE_ROOTS: "list[str]" = []


def _pipeline_fixture(spark: SparkSession, sf_dir: str) -> "tuple[str, int]":
    """Returns (fixture_root, n_queue). ``fixture_root/a`` is the CDC
    source warehouse (shifted `customer` + `MigratorRecordQueue`),
    ``fixture_root/b`` the pre-seeded destination — both ParquetSource
    roots, cloned per run by pipeline_e2e_drain."""
    import atexit
    import shutil
    import tempfile

    from migrator_spark.sources.parquet import ParquetSource

    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _PIPE_FIXTURE_CACHE.get(key)
    if hit is not None:
        return hit
    customer = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="pipe_fx_")
    if not _PIPE_FIXTURE_ROOTS:
        atexit.register(
            lambda: [
                shutil.rmtree(r, ignore_errors=True)
                for r in _PIPE_FIXTURE_ROOTS
            ]
        )
    _PIPE_FIXTURE_ROOTS.append(root)
    src, tgt = ParquetSource(f"{root}/a"), ParquetSource(f"{root}/b")
    src.write(
        customer.withColumn("c_acctbal", F.col("c_acctbal") + 1000),
        "customer",
    )
    tgt.write(customer, "customer")
    queue = events.filter(F.col("event_id") % 20 == 0).select(
        F.lit("a").alias("sourceDatabase"),
        F.lit("customer").alias("sourceTable"),
        F.lit("c_custkey").alias("pkColumn"),
        (F.col("user_id") * 11).cast("string").alias("pkValue"),
        F.expr(
            "timestampadd(SECOND, event_id,"
            " TIMESTAMP '2024-01-01 00:00:00')"
        ).alias("timestampUpdated"),
        F.when(F.col("event_type") == "error", F.lit("REMOVE"))
        .otherwise(F.lit("UPDATE"))
        .alias("method"),
    )
    src.write(queue, "MigratorRecordQueue")
    n_queue = queue.count()
    while len(_PIPE_FIXTURE_CACHE) >= _PIPE_FIXTURE_KEEP:
        old_root, _n = _PIPE_FIXTURE_CACHE.pop(next(iter(_PIPE_FIXTURE_CACHE)))
        shutil.rmtree(old_root, ignore_errors=True)
        if old_root in _PIPE_FIXTURE_ROOTS:
            _PIPE_FIXTURE_ROOTS.remove(old_root)
    _PIPE_FIXTURE_CACHE[key] = (root, n_queue)
    return root, n_queue


def pipeline_e2e_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE FULL PIPELINE RUNNER, DRIVER-GRADED (round 9, VERDICT r8
    #7): one complete Migrator.run_until_drained() pass over a
    multi-batch trigger-fed CDC queue — the reference's
    delete-enabled-queuing scenario (testdata/delete-enabled-queuing
    .sql, extractor_queue.go:17-172, loader_default.go:9-72) executed
    through the REAL orchestration stack (config -> tracking store ->
    queue extractor -> transformer -> loader -> post-commit queue
    cleanup), not through the operators in isolation. The fixture
    derives deterministically from the driver tables: the source
    serves `customer` with every balance shifted +1000 (so applied
    UPDATEs are visible), the destination is pre-seeded with the
    unshifted table, and the queue holds one entry per
    event_id % 20 == 0 event (key = user_id*11 — the CDC fixture's
    sparse key map, so many UPDATEs point at keys the source does not
    have), timestamped uniquely by event_id so drain order is total.
    The fixture is prebuilt once per session (_pipeline_fixture) and
    cloned per run at file level, so the timed row prices the DRAIN,
    not fixture Spark jobs (VERDICT r9 #6). The batch size is a
    quarter of the queue (ceil, no floor since round 10 — ADVICE r9
    #4: the old 200-row floor drained sub-200-row fixtures like the
    sf0.001 cluster-smoke lane in ONE cycle, leaving the multi-batch
    offsets/cleanup-ordering surface unexercised there), so the drain
    takes ~4 E->T->L cycles at EVERY scale factor — the final state
    is batching-invariant (the composed algebra sees global drain
    order, not the cut points; only the cycle count moves), and queue
    entries are deleted only after their batch's load commits.

    The oracle is the composed batch CDC algebra: per key the LAST
    EFFECTIVE event wins, where effective = any REMOVE, or an UPDATE
    whose key exists in the source (an UPDATE for a missing key
    extracts no row — so a later ineffective UPDATE does NOT cancel an
    earlier REMOVE). Hash signal therefore lands on drain ordering,
    the point-lookup join, per-batch last-write-wins, the REMOVE
    anti-join, the insert arm, AND offsets/cleanup-after-load — any
    replayed or half-applied batch double-counts or drops a key.

    Scale: each cycle is the bounded-batch pattern (queue top-k scan,
    broadcast point-lookup join, batch-vs-table merge); the runner
    adds no data-sized driver state."""
    import shutil
    import tempfile

    from migrator_spark.pipeline.config import (
        IterationSpec,
        MigrationSpec,
        MigratorConfig,
        Parameters,
    )
    from migrator_spark.pipeline.runner import Migrator
    from migrator_spark.sources.parquet import ParquetSource

    fx_root, n_queue = _pipeline_fixture(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="pipe9_")
    try:
        src_dir, tgt_dir, trk = f"{root}/a", f"{root}/b", f"{root}/trk"
        # clone the prebuilt warehouses (symlinks preserved; the commit
        # log — ParquetSource's source of truth — resolves version dirs
        # relative to each cloned root, so the clones are independent)
        shutil.copytree(f"{fx_root}/a", src_dir, symlinks=True)
        shutil.copytree(f"{fx_root}/b", tgt_dir, symlinks=True)
        cfg = MigratorConfig(
            migrations=[
                MigrationSpec(
                    source_dsn=src_dir,
                    target_dsn=tgt_dir,
                    iterations=[
                        IterationSpec(
                            source_table="customer",
                            source_key="c_custkey",
                            target_table="customer",
                            merge_key="c_custkey",
                            extractor="queue",
                            transformer="default",
                            loader="default",
                        )
                    ],
                )
            ],
            parameters=Parameters(batch_size=max(1, -(-n_queue // 4))),
        )
        Migrator(spark, cfg, trk).run_until_drained()
        res = ParquetSource(tgt_dir).table(spark, "customer")
        schema, rows = res.schema, res.collect()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def mnt2_runner_maintained_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mnt1's operator run LIVE inside the pipeline (round 10): the
    runner's config `rollups` keeps `customer__rollup_by_segment`
    fresh across the full multi-batch queue drain of the
    pipeline_e2e_drain fixture — each E->T->L cycle stages the batch's
    write-ahead rollup delta BEFORE the load (the pre-batch target
    state the delta needs is gone afterwards), patches the aggregate
    after the load commits, and only then advances the offset
    (runner._stage_rollups/_apply_rollups; exactly-once effect under
    batch replay proven in tests/test_rollup_runner.py with injected
    crashes in every window). The graded output is the MAINTAINED
    rollup table; the oracle RECOMPUTES the aggregate from the
    composed last-EFFECTIVE-event CDC algebra — so the hash pins the
    patch chain across ~4 batches of mixed UPDATE/REMOVE, per-batch
    group retraction, and the drain's cut placement (DECIMAL sums make
    patch == recompute batching-invariant).

    Scale: per batch, one broadcast-semi-join retract + O(batch)
    partial aggregates + a |groups|-row patch — the aggregate stays
    fresh without ever re-running the O(table) GROUP BY the oracle
    performs."""
    import shutil
    import tempfile

    from migrator_spark.pipeline.config import (
        IterationSpec,
        MigrationSpec,
        MigratorConfig,
        Parameters,
    )
    from migrator_spark.pipeline.runner import Migrator
    from migrator_spark.sources.parquet import ParquetSource

    fx_root, n_queue = _pipeline_fixture(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="mnt2_")
    try:
        src_dir, tgt_dir, trk = f"{root}/a", f"{root}/b", f"{root}/trk"
        shutil.copytree(f"{fx_root}/a", src_dir, symlinks=True)
        shutil.copytree(f"{fx_root}/b", tgt_dir, symlinks=True)
        cfg = MigratorConfig(
            migrations=[
                MigrationSpec(
                    source_dsn=src_dir,
                    target_dsn=tgt_dir,
                    iterations=[
                        IterationSpec(
                            source_table="customer",
                            source_key="c_custkey",
                            target_table="customer",
                            merge_key="c_custkey",
                            extractor="queue",
                            transformer="default",
                            loader="default",
                            rollups=[
                                {
                                    "name": "by_segment",
                                    "group_by": ["c_mktsegment"],
                                    "sum": "c_acctbal",
                                }
                            ],
                        )
                    ],
                )
            ],
            parameters=Parameters(batch_size=max(1, -(-n_queue // 4))),
        )
        Migrator(spark, cfg, trk).run_until_drained()
        res = (
            ParquetSource(tgt_dir)
            .table(spark, "customer__rollup_by_segment")
            .select(
                "c_mktsegment",
                F.col("sum_val").cast("double").alias("sum_bal"),
                F.col("n_rows").cast("long").alias("n_rows"),
            )
        )
        schema, rows = res.schema, res.collect()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


PIPELINE_E2E_ORACLE = """
WITH q AS (
  SELECT user_id * 11 AS k,
         TIMESTAMP '2024-01-01' + INTERVAL (event_id) SECOND AS tu,
         CAST(user_id * 11 AS VARCHAR) AS pkv,
         CASE WHEN event_type = 'error' THEN 'REMOVE' ELSE 'UPDATE' END
           AS method
  FROM events WHERE event_id % 20 = 0
),
eff AS (
  SELECT q.k, q.tu, q.pkv, q.method
  FROM q LEFT JOIN customer c ON c.c_custkey = q.k
  WHERE q.method = 'REMOVE' OR c.c_custkey IS NOT NULL
),
final AS (
  SELECT k, method FROM eff
  QUALIFY row_number() OVER (PARTITION BY k ORDER BY tu DESC, pkv DESC) = 1
)
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer
WHERE c_custkey NOT IN (SELECT k FROM final)
UNION ALL
SELECT c.c_custkey, c.c_name, c.c_nationkey,
       c.c_acctbal + 1000 AS c_acctbal, c.c_mktsegment
FROM customer c JOIN final f ON f.k = c.c_custkey AND f.method = 'UPDATE'
"""

MNT2_ORACLE = f"""
WITH merged AS ({PIPELINE_E2E_ORACLE})
SELECT c_mktsegment,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
       CAST(count(*) AS BIGINT) AS n_rows
FROM merged GROUP BY c_mktsegment
"""


def mnt3_minmax_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mnt2's sibling for the NON-INVERTIBLE aggregate arm (round 12,
    VERDICT r11 #5): the same multi-batch queue drain maintains a
    per-segment MAX rollup. max is not retraction-safe under the sum
    path's delta algebra — a REMOVE of the row holding a group's
    current maximum cannot be patched, because the new maximum lives
    in rows no delta ever saw — so the runner runs the scoped-recompute
    protocol instead (runner._stage_minmax_groups/_apply_rollup): each
    batch stages its touched-GROUP set before the load, and after the
    load those groups alone are re-aggregated from the target. The
    fixture's queue mixes UPDATEs (+1000 balance moves that can both
    raise and strand maxima) with REMOVEs (true retractions), so the
    oracle's recompute from the composed CDC algebra pins exactly the
    case the delta algebra cannot express.

    Scale: per batch the staged set is <= 2 groups per batch key; the
    apply reads only target rows whose leading group value is in that
    set (pushed-down IN filter + broadcast semi-join — file-pruned on
    a group-clustered target) — O(touched-group rows), never
    O(table)."""
    import shutil
    import tempfile

    from migrator_spark.pipeline.config import (
        IterationSpec,
        MigrationSpec,
        MigratorConfig,
        Parameters,
    )
    from migrator_spark.pipeline.runner import Migrator
    from migrator_spark.sources.parquet import ParquetSource

    fx_root, n_queue = _pipeline_fixture(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="mnt3_")
    try:
        src_dir, tgt_dir, trk = f"{root}/a", f"{root}/b", f"{root}/trk"
        shutil.copytree(f"{fx_root}/a", src_dir, symlinks=True)
        shutil.copytree(f"{fx_root}/b", tgt_dir, symlinks=True)
        cfg = MigratorConfig(
            migrations=[
                MigrationSpec(
                    source_dsn=src_dir,
                    target_dsn=tgt_dir,
                    iterations=[
                        IterationSpec(
                            source_table="customer",
                            source_key="c_custkey",
                            target_table="customer",
                            merge_key="c_custkey",
                            extractor="queue",
                            transformer="default",
                            loader="default",
                            rollups=[
                                {
                                    "name": "seg_max",
                                    "group_by": ["c_mktsegment"],
                                    "max": "c_acctbal",
                                }
                            ],
                        )
                    ],
                )
            ],
            parameters=Parameters(batch_size=max(1, -(-n_queue // 4))),
        )
        Migrator(spark, cfg, trk).run_until_drained()
        res = (
            ParquetSource(tgt_dir)
            .table(spark, "customer__rollup_seg_max")
            .select(
                "c_mktsegment",
                F.col("max_val").cast("double").alias("max_bal"),
                F.col("n_rows").cast("long").alias("n_rows"),
            )
        )
        schema, rows = res.schema, res.collect()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


MNT3_ORACLE = f"""
WITH merged AS ({PIPELINE_E2E_ORACLE})
SELECT c_mktsegment,
       CAST(max(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS max_bal,
       CAST(count(*) AS BIGINT) AS n_rows
FROM merged GROUP BY c_mktsegment
"""


def mnt5_avg_rollup_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``avg:`` config sugar end-to-end (round 13, VERDICT r12 #8):
    mnt2's multi-batch queue drain with ``avg: c_acctbal`` configured —
    the runner maintains the retraction-safe (sum_val, n_rows) pair
    through the identical staged-delta protocol (a stored average is
    not retraction-safe; its components are) — then the graded output
    is served through operators/maintenance.read_rollup, which derives
    avg_val = sum_val / n_rows with both operands cast to double
    before one double division (the mnt4 arithmetic, hash-exact
    cross-engine). Where mnt4 graded the DERIVATION over the operator-
    level rollup, this row grades the full config -> runner -> loader
    -> staged-delta -> read-helper stack inside one hash.

    Scale: identical to mnt2's (O(batch) upkeep, |groups|-row serve) —
    avg adds zero maintenance cost because it stores nothing new."""
    import shutil
    import tempfile

    from migrator_spark.operators.maintenance import read_rollup
    from migrator_spark.pipeline.config import (
        IterationSpec,
        MigrationSpec,
        MigratorConfig,
        Parameters,
    )
    from migrator_spark.pipeline.runner import Migrator
    from migrator_spark.sources.parquet import ParquetSource

    fx_root, n_queue = _pipeline_fixture(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="mnt5_")
    try:
        src_dir, tgt_dir, trk = f"{root}/a", f"{root}/b", f"{root}/trk"
        shutil.copytree(f"{fx_root}/a", src_dir, symlinks=True)
        shutil.copytree(f"{fx_root}/b", tgt_dir, symlinks=True)
        rollup = {
            "name": "seg_avg",
            "group-by": "c_mktsegment",
            "avg": "c_acctbal",
        }
        cfg = MigratorConfig(
            migrations=[
                MigrationSpec(
                    source_dsn=src_dir,
                    target_dsn=tgt_dir,
                    iterations=[
                        IterationSpec(
                            source_table="customer",
                            source_key="c_custkey",
                            target_table="customer",
                            merge_key="c_custkey",
                            extractor="queue",
                            transformer="default",
                            loader="default",
                            rollups=[dict(rollup)],
                        )
                    ],
                )
            ],
            parameters=Parameters(batch_size=max(1, -(-n_queue // 4))),
        )
        Migrator(spark, cfg, trk).run_until_drained()
        res = read_rollup(
            spark, ParquetSource(tgt_dir), "customer", rollup
        ).select(
            "c_mktsegment",
            F.col("avg_val").alias("avg_bal"),
            F.col("n_rows").cast("long").alias("n_rows"),
        )
        schema, rows = res.schema, res.collect()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


MNT5_ORACLE = f"""
WITH merged AS ({PIPELINE_E2E_ORACLE})
SELECT c_mktsegment,
       CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(28,2))
            AS DOUBLE)
         / CAST(CAST(count(*) AS BIGINT) AS DOUBLE) AS avg_bal,
       CAST(count(*) AS BIGINT) AS n_rows
FROM merged GROUP BY c_mktsegment
"""


def mnt4_avg_from_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVG served from the maintained rollup (round 12): avg is
    deliberately NOT a maintainable aggregate — it denormalizes into
    the two retraction-safe components every rollup already carries
    (pipeline/config.py ROLLUP_AGGS), so the read path derives it.
    This row makes that documented derivation EXECUTABLE and graded:
    mnt1's incrementally-patched (sum, count) rollup serves
    avg = sum_val / n_rows, with BOTH operands cast to double BEFORE
    one double division (the maintained decimal sum is bit-equal to
    the recompute — mnt1's graded property — and decimal->double
    conversion plus one double divide are deterministic, so the
    derived average is hash-exact cross-engine where a decimal
    division's scale rules would not be). The oracle recomputes the
    average from the L0-merged table with the same arithmetic.

    Scale: a |groups|-row projection over the maintained rollup —
    the whole point: the fact table is never touched at read time."""
    customer = load_table(spark, sf_dir, "customer")
    target = customer.select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
    )
    rollup = mnt.compute_rollup(target, ["c_mktsegment"], "bal")
    batch = _shaped_batch(spark, sf_dir).select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
        ex.METHOD_COL,
        "ts",
        "event_id",
    )
    final = ld.latest_by_key(batch, ["c_custkey"], "ts", "event_id")
    patched = mnt.maintain_rollup(
        rollup, target, final, ["c_custkey"], ["c_mktsegment"], "bal"
    )
    return patched.select(
        "c_mktsegment",
        (
            F.col("sum_val").cast("double") / F.col("n_rows").cast("double")
        ).alias("avg_bal"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )


MNT4_ORACLE = f"""
WITH {CDC_CTE}, {SHAPED_CTE},
final AS (
  SELECT * FROM shaped
  QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY ts DESC, event_id DESC) = 1
),
merged AS (
  SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
  FROM customer
  WHERE c_custkey NOT IN (SELECT c_custkey FROM final)
  UNION ALL
  SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
  FROM final WHERE _method <> 'REMOVE'
)
SELECT c_mktsegment,
       CAST(sum(bal) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_bal,
       CAST(count(*) AS BIGINT) AS n_rows
FROM merged GROUP BY c_mktsegment
"""

