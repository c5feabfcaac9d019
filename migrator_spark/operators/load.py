"""Merge/load semantics (reference loaders L0-L3, SURVEY.md §2.9).

The reference's DefaultLoader groups a batch by CDC method and issues
INSERT / REPLACE-by-PK / DELETE against MySQL (loader_default.go:9-72,
batched_queries.go). Re-expressed as pure DataFrame set algebra so the
same semantics work against any sink (parquet rewrite, Delta MERGE,
JDBC):

* latest_by_key     — last-write-wins resolution of duplicate keys
                      within a batch (MySQL REPLACE relies on PK
                      uniqueness; SURVEY.md §2.5, §7.3).
* upsert            — L2 REPLACE INTO: target ⟕anti batch ∪ batch.
* delete_antijoin   — L3 DELETE: target ⟕anti removes.
* apply_cdc_batch   — L0 dispatch: one batch holding INSERT + REPLACE +
                      REMOVE rows applied in per-key event-time order
                      (queue semantics: the FINAL state per key wins,
                      an UPDATE-then-REMOVE deletes — SURVEY.md §7.3).

Scale notes: all three are key-partitioned joins. At 100 TB the target
side is large, so the batch (bounded by batch_size) broadcasts — the
target is never shuffled; with a bucketed/partitioned target table the
rewrite touches only matching partitions (Delta MERGE file-skipping
gives the same effect).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from migrator_spark.operators.extract import M_REMOVE, METHOD_COL


def latest_by_key(
    batch: DataFrame,
    key_cols: list[str],
    order_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Keep only the last row per key, ordered by ``order_col`` desc.

    row_number() over (partition by key order by ord desc[, tie desc])
    == 1 — the idiomatic Spark form of MySQL REPLACE's last-write-wins
    (SURVEY.md §2.5). The window shuffles by key once; with AQE skew
    handling a hot key splits automatically.
    """
    order = [F.col(order_col).desc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).desc())
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def upsert(
    target: DataFrame,
    batch: DataFrame,
    key_cols: list[str],
    broadcast_batch: bool = True,
) -> DataFrame:
    """L2 REPLACE-by-PK: rows of ``target`` not keyed in ``batch``, plus
    ``batch`` (which must already be unique per key — run latest_by_key
    first). Pure-parquet merge fallback per SURVEY.md §7.4; with Delta
    available this is MERGE WHEN MATCHED UPDATE ALL / NOT MATCHED INSERT
    ALL.
    """
    b = F.broadcast(batch) if broadcast_batch else batch
    # re-select: a list-form equi-join moves the join keys to the front
    # of the output, and these frames get WRITTEN (mixed column orders
    # across part-files of one table otherwise)
    kept = target.join(b.select(*key_cols), on=key_cols, how="left_anti").select(
        *target.columns
    )
    return kept.unionByName(batch.select(*target.columns))


def delete_antijoin(
    target: DataFrame,
    removes: DataFrame,
    key_cols: list[str],
    broadcast_removes: bool = True,
) -> DataFrame:
    """L3 DELETE-by-PK: drop target rows whose key appears in ``removes``.

    The reference deletes row-by-row matching every column
    (batched_queries.go:28-74); REMOVE events carry only the PK, so
    key-match is the effective semantics.
    """
    r = removes.select(*key_cols).dropDuplicates(key_cols)
    if broadcast_removes:
        r = F.broadcast(r)
    return target.join(r, on=key_cols, how="left_anti").select(*target.columns)


def apply_cdc_batch(
    target: DataFrame,
    batch: DataFrame,
    key_cols: list[str],
    order_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """L0: apply a mixed INSERT/REPLACE/REMOVE batch to ``target``.

    Per-key resolution first (final event in ``order_col`` order wins —
    queue replay semantics, SURVEY.md §7.3), then one pass of set
    algebra:

        survivors = target ANTI JOIN touched_keys
        upserts   = final events with method != REMOVE
        result    = survivors UNION upserts

    A key whose final event is REMOVE simply contributes no upsert row.
    Unknown methods upsert (reference falls back to REPLACE,
    loader_default.go:48-50).
    """
    final = latest_by_key(batch, key_cols, order_col, tiebreak_col)
    touched = F.broadcast(final.select(*key_cols))
    # re-select target order: the list-form anti-join fronts the key
    # columns, and merge sinks write this frame next to hardlink-carried
    # part-files that kept the original order
    survivors = target.join(touched, on=key_cols, how="left_anti").select(
        *target.columns
    )
    upserts = final.filter(F.col(METHOD_COL) != M_REMOVE).select(*target.columns)
    return survivors.unionByName(upserts)


def align_schemas(
    target: DataFrame, batch: DataFrame, meta_cols: tuple[str, ...] = ()
) -> tuple[DataFrame, DataFrame]:
    """Additive schema evolution for CDC merges: make ``target`` and
    ``batch`` column-compatible before set-algebra.

    The reference is schema-free (rows are ``map[string]any``,
    types.go:58-61; generated INSERTs list whatever keys a row has), so
    a source gaining a column flows through it transparently. Typed
    DataFrames need the alignment made explicit:

    - column only in ``batch``  -> target rows get it as NULL (the
      evolved table; existing history has no value)
    - column only in ``target`` -> batch rows get it as NULL (source
    dropped or never sent it; MySQL would apply the column default)
    - column in both with DIFFERENT types -> loud ValueError; silent
      casts corrupt replicas, a human decides (the reference would
      instead fail statement-by-statement at the destination)

    ``meta_cols`` (method/order/tiebreak) ride along on the batch side
    untouched. Purely a projection: no shuffle, no data movement.
    """
    tcols = {f.name: f.dataType for f in target.schema.fields}
    bcols = {
        f.name: f.dataType for f in batch.schema.fields if f.name not in meta_cols
    }
    conflicts = {
        c: (str(tcols[c]), str(bcols[c]))
        for c in tcols
        if c in bcols and tcols[c] != bcols[c]
    }
    if conflicts:
        raise ValueError(
            f"schema evolution type conflict (target vs batch): {conflicts}"
        )
    new_in_batch = [c for c in batch.columns if c not in tcols and c not in meta_cols]
    missing_in_batch = [c for c in target.columns if c not in bcols]
    t2 = target.select(
        "*", *[F.lit(None).cast(bcols[c]).alias(c) for c in new_in_batch]
    )
    b2 = batch.select(
        "*", *[F.lit(None).cast(tcols[c]).alias(c) for c in missing_in_batch]
    )
    return t2, b2
