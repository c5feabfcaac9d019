"""Incremental extraction operators (reference extractors E1-E4).

Reference behaviors reimplemented Spark-first (citations into
/root/reference/):

* sequential_scan      — extractor_sequential.go:17-130: WHERE pk > pos
                         LIMIT batch, rows tagged INSERT (or REPLACE).
* timestamp_scan       — extractor_timestamp.go:15-129: WHERE ts > pos
                         [AND ts <= upper] LIMIT batch, tagged REPLACE.
* coalesce_scan        — extractor_timestamp_fallback.go:16-127:
                         WHERE IFNULL(a,b) > pos (we fix the reference's
                         max-of-coalesce bug, see SURVEY.md E3 note).
* queue_drain          — extractor_queue.go:35-36: oldest-first FIFO read
                         of the CDC queue, LIMIT batch.
* point_lookup_join    — extractor_queue.go:74-93 runs N single-row
                         SELECTs; here it is ONE broadcast hash equi-join
                         of the drained keys against the source table —
                         the idiomatic Spark replacement (composite keys
                         join on multiple columns).

Determinism: the reference's bare ``LIMIT`` is nondeterministic
(SURVEY.md §2.6 ⚠); every limit here is paired with an explicit
``orderBy`` on the position column + a unique tiebreaker.

Scale notes: each scan is a single parquet range scan — the position
predicate and column pruning push down to the reader (verify with
``.explain``: PushedFilters), so at 100 TB only the tail beyond the
offset is read (with date/id-partitioned layouts, partition pruning
skips whole directories). The point-lookup join broadcasts the small
drained-key side, so no shuffle of the big table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

METHOD_COL = "_method"
M_INSERT = "INSERT"
M_REPLACE = "REPLACE"
M_REMOVE = "REMOVE"


def _tag(df: DataFrame, method: str) -> DataFrame:
    """Attach the CDC method column (reference SQLRow.Method, types.go:63-67)."""
    return df.withColumn(METHOD_COL, F.lit(method))


def sequential_scan(
    df: DataFrame,
    pk_col: str,
    position: int,
    batch_size: int = 1000,
    replace: bool = False,
) -> DataFrame:
    """E1: next batch of rows with pk strictly above ``position``.

    Deterministic: ordered by the position column (unique PK).
    """
    method = M_REPLACE if replace else M_INSERT
    out = (
        df.filter(F.col(pk_col) > F.lit(position))
        .orderBy(F.col(pk_col).asc())
        .limit(batch_size)
    )
    return _tag(out, method)


def timestamp_scan(
    df: DataFrame,
    ts_col: str,
    position,
    batch_size: int = 1000,
    only_past: bool = False,
    upper_bound=None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """E2: next batch of rows with write-timestamp above ``position``.

    ``only_past`` adds the reference's OnlyPast upper bound (ts <= NOW());
    pass ``upper_bound`` to pin the bound for reproducible tests, else
    ``current_timestamp()`` is used. Timestamps need not be unique, so a
    ``tiebreak_col`` keeps the LIMIT deterministic.
    """
    cond = F.col(ts_col) > F.lit(position)
    if only_past:
        ub = F.lit(upper_bound) if upper_bound is not None else F.current_timestamp()
        cond = cond & (F.col(ts_col) <= ub)
    order = [F.col(ts_col).asc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).asc())
    return _tag(df.filter(cond).orderBy(*order).limit(batch_size), M_REPLACE)


def coalesce_scan(
    df: DataFrame,
    ts_cols: list[str] | list[Column],
    position,
    batch_size: int = 1000,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """E3: timestamp scan over ``coalesce(ts_cols...)`` (>=2 columns).

    The reference errors on <2 columns (extractor_timestamp_fallback.go:34-39);
    we keep that contract. Its max-of-coalesce offset bug is NOT replicated —
    the new offset here is max of the coalesced expression (SURVEY.md E3).
    """
    if len(ts_cols) < 2:
        raise ValueError("coalesce_scan requires at least 2 timestamp columns")
    cols = [F.col(c) if isinstance(c, str) else c for c in ts_cols]
    eff = F.coalesce(*cols)
    order = [eff.asc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).asc())
    out = (
        df.withColumn("_eff_ts", eff)
        .filter(F.col("_eff_ts") > F.lit(position))
        .orderBy(F.col("_eff_ts").asc(), *([F.col(tiebreak_col).asc()] if tiebreak_col else []))
        .limit(batch_size)
        .drop("_eff_ts")
    )
    return _tag(out, M_REPLACE)


def next_offset(batch: DataFrame, pos_expr: Column | str) -> DataFrame:
    """A1-A3: advanced tracking position = max(pos) over the batch,
    plus min(pos) and count for logging parity
    (extractor_sequential.go:86-111, util.go:22-48).
    Single-row result; map-side partial agg then a 1-row reduce — no
    full shuffle at any scale.
    """
    c = F.col(pos_expr) if isinstance(pos_expr, str) else pos_expr
    return batch.agg(
        F.max(c).alias("max_pos"),
        F.min(c).alias("min_pos"),
        F.count(F.lit(1)).alias("cnt"),
    )


def queue_drain(
    queue: DataFrame,
    source_database: str | None = None,
    source_table: str | None = None,
    ts_col: str = "timestampUpdated",
    batch_size: int = 1000,
    tiebreak_col: str | None = None,
    db_col: str = "sourceDatabase",
    table_col: str = "sourceTable",
) -> DataFrame:
    """E4 step 1: oldest-first FIFO drain of the CDC queue table.

    Mirrors extractor_queue.go:35-36 (filter to this db.table, ORDER BY
    timestampUpdated LIMIT n) with an explicit tiebreaker for
    determinism; the ``queue`` extractor drains through it. orderBy+limit
    compiles to TakeOrderedAndProject — a per-partition top-k then a
    k-row merge, never a full sort shuffle.
    """
    out = queue
    if source_database is not None:
        out = out.filter(F.col(db_col) == source_database)
    if source_table is not None:
        out = out.filter(F.col(table_col) == source_table)
    order = [F.col(ts_col).asc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).asc())
    return out.orderBy(*order).limit(batch_size)


def point_lookup_join(
    source: DataFrame,
    keys: DataFrame,
    on: list[str] | dict[str, str],
    broadcast_keys: bool = True,
) -> DataFrame:
    """E4 step 2: fetch live rows for the drained keys.

    The reference runs one ``SELECT ... WHERE pk = ? LIMIT 1`` per key
    (extractor_queue.go:74-93, composite keys :75-90). Here: ONE inner
    equi-join with the key set broadcast — N network round-trips become
    a map-side hash join with zero shuffle of the big table.

    ``on``: list of shared column names, or {source_col: key_col} mapping
    for composite keys with different names. Keys are de-duplicated so a
    key updated twice in the batch fetches once (last-write-wins
    resolution happens later, in load.latest_by_key).
    """
    if isinstance(on, dict):
        key_cols = [F.col(k).alias(s) for s, k in on.items()]
        join_cols = list(on.keys())
    else:
        key_cols = [F.col(c) for c in on]
        join_cols = list(on)
    keyset = keys.select(*key_cols).dropDuplicates(join_cols)
    if broadcast_keys:
        keyset = F.broadcast(keyset)
    return _tag(source.join(keyset, on=join_cols, how="inner"), M_REPLACE)
