"""Named pipeline extractors (reference registry keys preserved:
"sequential", "timestamp", "timestamp_fallback", "queue" —
extractor_*.go init() registrations).

Contract (the Spark re-expression of types.go:83 Extractor):

    extract(spark, source, db, it, ts, params) -> ExtractResult
        more          pagination flag: row_count == batch_size
                      (the shared contract, extractor_sequential.go:92-109)
        batch         cached DataFrame of extracted rows with CDC columns:
                      _method, _order (per-key apply order), _tie
        row_count     rows in batch
        new_tracking  advanced offset — the runner persists it only
                      AFTER a successful load (SURVEY.md §2.11 fix)
        cleanup       post-load callback (queue-entry deletion)
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from migrator_spark.operators import extract as ex
from migrator_spark.pipeline.config import IterationSpec, Parameters
from migrator_spark.pipeline.registries import register_extractor
from migrator_spark.pipeline.tracking import TrackingStatus
from migrator_spark.sources.base import Source


@dataclass
class ExtractResult:
    more: bool
    batch: DataFrame | None
    row_count: int
    new_tracking: TrackingStatus
    cleanup: Callable[[], None] | None = None
    # STATIC upper bound on the CDC methods present in ``batch`` (every
    # extractor lit-tags whole arms, so the bound is known without a
    # job). The runner forwards it to the loader, which then skips its
    # per-batch ``select(_method).distinct().collect()`` — one Spark
    # job per cycle whose only purpose was answering "is this batch
    # entirely INSERT?". ANY superset is safe: the loader only uses the
    # bound to pick the append fast path (bound == {INSERT} proves the
    # batch is pure INSERT since row_count > 0), and a too-wide bound
    # merely routes a pure-INSERT batch through the always-correct
    # merge path. None = unknown, loader falls back to the distinct.
    methods: "frozenset[str] | None" = None


def _finish(
    batch: DataFrame, batch_size: int, max_col: Column | str | None = None
) -> tuple[DataFrame, int, bool, object]:
    """Cache the batch and compute (count[, max(max_col)]) in ONE job —
    count-then-max as separate actions doubles per-batch fixed cost,
    which is what bounds small-batch pipeline throughput (SCALE.md §5c).
    """
    cached = batch.cache()
    if max_col is None:
        n, mx = cached.count(), None
    else:
        row = cached.agg(F.count(F.lit(1)), F.max(max_col)).collect()[0]
        n, mx = row[0], row[1]
    if n == 0:
        # CRITICAL: an empty batch must be evicted immediately — Spark's
        # CacheManager keys cached data by logical plan, and the next poll
        # at the same offset builds the *same* plan, so a lingering empty
        # cache entry would mask rows appended to the source forever.
        cached.unpersist()
    return cached, n, n == batch_size, mx


@register_extractor("sequential")
def extract_sequential(
    spark: SparkSession,
    source: Source,
    db: str,
    it: IterationSpec,
    ts: TrackingStatus,
    params: Parameters,
) -> ExtractResult:
    """E1 (extractor_sequential.go:17-130): incremental scan by
    monotonically increasing PK; offset = max(pk) of the batch."""
    df = source.table(spark, it.source_table)
    key = it.source_key
    batch = ex.sequential_scan(
        df, key, ts.sequential_position, params.batch_size, params.sequential_replace
    ).withColumn("_order", F.col(key).cast("long")).withColumn("_tie", F.col(key).cast("string"))
    cached, n, more, mx = _finish(batch, params.batch_size, max_col=key)
    new = TrackingStatus(**{**ts.__dict__})
    new.column_name = key
    if n > 0:
        new.sequential_position = mx
    return ExtractResult(
        more,
        cached,
        n,
        new,
        methods=frozenset(
            {ex.M_REPLACE if params.sequential_replace else ex.M_INSERT}
        ),
    )


def _ts_extract(
    spark: SparkSession,
    source: Source,
    it: IterationSpec,
    ts: TrackingStatus,
    params: Parameters,
    cols: list[str],
) -> ExtractResult:
    df = source.table(spark, it.source_table)
    pos, tie = ts.timestamp_position_dt, ts.timestamp_tie
    eff = F.coalesce(*[F.col(c) for c in cols]) if len(cols) > 1 else F.col(cols[0])
    # one string per distinct merge-key tuple (composite keys too)
    tie_key = F.to_json(F.struct(*[F.col(c) for c in it.merge_key_cols]))
    scan = df.withColumn("_order", eff).withColumn("_tie", tie_key)
    # timestamps need not be unique: the offset is the last extracted
    # (_order, _tie) pair, so rows tied at a full batch's max timestamp
    # that fell past the LIMIT are extracted by the next batch
    if pos is not None:  # no offset yet -> unbounded first scan
        past = F.col("_order") > F.lit(pos)
        if tie is not None:  # `_order >= pos` conjunct pushes down
            past = (F.col("_order") >= pos) & (past | (F.col("_tie") > tie))
        scan = scan.filter(past)
    if params.only_past:
        scan = scan.filter(F.col("_order") <= F.current_timestamp())
    batch = (
        scan.orderBy(F.col("_order").asc(), F.col("_tie").asc())
        .limit(params.batch_size)
        .withColumn(ex.METHOD_COL, F.lit(ex.M_REPLACE))
    )
    # max of the coalesced expression — the reference's E3 computed
    # this from a nonexistent map key (its known bug); fixed here
    cached, n, more, mx = _finish(
        batch, params.batch_size, max_col=F.struct("_order", "_tie")
    )
    new = TrackingStatus(**{**ts.__dict__})
    new.column_name = ",".join(cols)
    if n > 0:
        new.timestamp_position, new.timestamp_tie = mx[0].isoformat(), mx[1]
    return ExtractResult(more, cached, n, new, methods=frozenset({ex.M_REPLACE}))


@register_extractor("timestamp")
def extract_timestamp(spark, source, db, it, ts, params) -> ExtractResult:
    """E2 (extractor_timestamp.go:15-129): scan by write-timestamp;
    OnlyPast upper-bounds at now()."""
    return _ts_extract(spark, source, it, ts, params, [it.source_key])


@register_extractor("timestamp_fallback")
def extract_timestamp_fallback(spark, source, db, it, ts, params) -> ExtractResult:
    """E3 (extractor_timestamp_fallback.go:16-127): scan by
    IFNULL(colA, colB); requires >= 2 comma-separated columns."""
    cols = [c.strip() for c in it.source_key.split(",")]
    if len(cols) < 2:
        raise ValueError("timestamp_fallback requires >=2 comma-separated key columns")
    return _ts_extract(spark, source, it, ts, params, cols)


QUEUE_TABLE = "MigratorRecordQueue"  # record_queue.go:24
# every queue batch lit-tags whole arms with these (ExtractResult.methods)
QUEUE_METHODS = frozenset({ex.M_REPLACE, ex.M_REMOVE})


def queue_cdc_rows(
    entries: DataFrame, src_df: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Resolve queue entries (pkValue, timestampUpdated, method) into CDC
    rows: ``src_df``'s columns plus ``_order``, ``_tie`` and ``_method``.

    Where the reference runs one point-lookup SQL per key
    (extractor_queue.go:74-93), the key set joins the source table in
    ONE broadcast hash join; REMOVE entries emit key-only rows with every
    non-key source column NULL."""
    # comma-joined composite pkValue -> typed key columns
    key_types = {f.name: f.dataType for f in src_df.schema.fields}
    parts = F.split(F.col("pkValue"), ",")
    keys = entries.select(
        *[
            F.element_at(parts, i + 1).cast(key_types[c]).alias(c)
            for i, c in enumerate(key_cols)
        ],
        F.col("timestampUpdated").alias("_order"),
        F.col("pkValue").alias("_tie"),
        F.col("method"),
    )
    cols = [*src_df.columns, "_order", "_tie", ex.METHOD_COL]
    updates = src_df.join(
        F.broadcast(keys.filter(F.col("method") != "REMOVE").drop("method")),
        on=key_cols,
        how="inner",
    ).withColumn(ex.METHOD_COL, F.lit(ex.M_REPLACE))
    removes = keys.filter(F.col("method") == "REMOVE").select(
        *key_cols,
        *[
            F.lit(None).cast(key_types[c]).alias(c)
            for c in src_df.columns
            if c not in key_cols
        ],
        "_order",
        "_tie",
        F.lit(ex.M_REMOVE).alias(ex.METHOD_COL),
    )
    return updates.select(*cols).unionByName(removes.select(*cols))


@register_extractor("queue")
def extract_queue(
    spark: SparkSession,
    source: Source,
    db: str,
    it: IterationSpec,
    ts: TrackingStatus,
    params: Parameters,
) -> ExtractResult:
    """E4 (extractor_queue.go:17-172): trigger-fed CDC queue drain.

    Reads the oldest ``batch_size`` queue entries for this (db, table)
    and resolves them against the source table (``queue_cdc_rows``).
    After a successful load the runner invokes ``cleanup`` to delete the
    drained entries (extractor_queue.go:67,130).

    Differences kept deliberately: we honor params.batch_size for the
    drain LIMIT (the reference ignores it and uses the global default —
    quirk, extractor_queue.go:18 vs 35); REMOVE rows count toward
    row_count (reference counts only lookups, so pure-delete batches
    under-report ``more``).
    """
    queue_table = params.extra.get("queue_table", QUEUE_TABLE)
    queue = source.table(spark, queue_table)
    key_cols = [c.strip() for c in it.source_key.split(",")]

    drained = ex.queue_drain(
        queue, db, it.source_table, batch_size=params.batch_size, tiebreak_col="pkValue"
    ).cache()
    n = drained.count()
    if n == 0:
        drained.unpersist()  # see _finish: stale empty cache masks new entries
        return ExtractResult(False, None, 0, TrackingStatus(**{**ts.__dict__}))

    src_df = source.table(spark, it.source_table)
    batch = queue_cdc_rows(drained, src_df, key_cols).cache()

    def cleanup() -> None:
        # drained entries leave the queue only after the load commits.
        # The anti-join runs against a FRESH queue read inside the
        # source's locked read-modify-write: entries enqueued while this
        # batch processed are re-listed and survive the rewrite (the old
        # snapshot `queue` from extract time would silently drop them).
        from migrator_spark.sources import base as src_base

        drained_keys = drained.select(
            "sourceDatabase", "sourceTable", "pkValue", "timestampUpdated"
        )
        src_base.rmw(
            source,
            spark,
            queue_table,
            lambda fresh: fresh.join(
                drained_keys,
                on=["sourceDatabase", "sourceTable", "pkValue", "timestampUpdated"],
                how="left_anti",
            ),
        )
        drained.unpersist()

    return ExtractResult(
        n == params.batch_size,
        batch,
        n,
        TrackingStatus(**{**ts.__dict__}),
        cleanup,
        methods=QUEUE_METHODS,
    )
