"""The CDC loader: the reference's DefaultLoader (loader_default.go:9-72,
hard-wired in cmd/migrator/main.go:99-100) as one load body that every
built-in loader name shares. The runner calls it once per routed frame;
``streaming.cdc_apply_stream`` calls it once per micro-batch.

Each batch runs the same steps in order; the target's type picks how
each step executes:

1. first write: seed the table with the batch's per-key survivors;
2. additive schema evolution (type conflicts raise before any write);
3. INSERT-only batch -> append, no rewrite (the reference's batched
   multi-row INSERT, batched_queries.go:79-156);
4. otherwise merge: per-key last-write-wins, REMOVE keys dropped —
   REPLACE/DELETE semantics (batched_queries.go:21-23,28-74).

By target:

* ``JdbcSource``: ALTER TABLE ADD COLUMN (``evolve_schema``), a staged
  one-transaction append (``append_txn``) and a staged server-side
  MERGE in one transaction (``apply_cdc_txn``). The live table is
  never overwritten from a plan that reads it.
* ``ParquetSource`` with prune on (the "pruned" loader) and a leading
  merge key of a footer-comparable type: the seed is range-clustered
  on the merge key and the merge rewrites only the part-files whose
  footer key range meets the batch keys (``merge_pruned``). A batch
  that widens the table takes the full rewrite below, so the evolved
  table keeps one uniform schema.
* any other target: ``apply_cdc_batch`` (survivors ∪ upserts) written
  as the new table version by an atomic overwrite.

"pruned" is a named choice rather than automatic: it trades a per-batch
key collect plus footer reads for file skipping, which only pays on
large range-clustered targets. Transactionality (loader_default.go:
30-34): the sink's atomic swap or JDBC transaction is the per-batch
transaction; offsets commit after it (runner), so failures replay
idempotently.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from migrator_spark.operators import extract as ex
from migrator_spark.operators import load as ld
from migrator_spark.pipeline.config import IterationSpec, Parameters
from migrator_spark.pipeline.registries import register_loader
from migrator_spark.sources.base import Source
from migrator_spark.sources.jdbc import JdbcSource
from migrator_spark.sources.parquet import _PRUNABLE_KEY_TYPES, ParquetSource

META_COLS = (ex.METHOD_COL, "_order", "_tie")


def _method_bound(batch: DataFrame) -> "set[str]":
    """The batch's CDC method set: the extractor's STATIC bound when the
    runner forwarded one on the frame (ExtractResult.methods — every
    extractor lit-tags whole arms, so the bound costs no job; any
    superset is safe because it only gates the INSERT-only append fast
    path, and the merge path is correct for every method mix), else one
    distinct probe — a Spark job per batch, which is what bounds
    small-batch pipeline throughput (guide §1.2)."""
    bound = getattr(batch, "_mig_method_bound", None)
    if bound is not None:
        return set(bound)
    return {r[0] for r in batch.select(ex.METHOD_COL).distinct().collect()}


@register_loader("default")
def load_default(
    spark: SparkSession,
    target: Source,
    table: str,
    batch: DataFrame,
    it: IterationSpec,
    params: Parameters,
    prune: bool = False,
) -> None:
    key_cols = [c for c in it.merge_key_cols if c in batch.columns]
    data_cols = [c for c in batch.columns if c not in META_COLS]
    jdbc = isinstance(target, JdbcSource)
    prune = (
        prune
        and isinstance(target, ParquetSource)
        and bool(key_cols)
        and isinstance(batch.schema[key_cols[0]].dataType, _PRUNABLE_KEY_TYPES)
    )

    # 1. first write
    if not target.exists(spark, table):
        seed = (
            ld.latest_by_key(batch, key_cols, "_order", "_tie")
            .filter(F.col(ex.METHOD_COL) != ex.M_REMOVE)
            .select(*data_cols)
        )
        if prune:
            # range-clustered on the merge key so every later merge can
            # prune by footer min/max
            n_files = max(1, int(params.extra.get("seed_files", 8)))
            seed = seed.repartitionByRange(
                n_files, *[F.col(c) for c in key_cols]
            ).sortWithinPartitions(*key_cols)
        target.write(seed, table, mode="overwrite")
        return

    # 2. schema evolution
    current = target.table(spark, table)
    widens = not set(data_cols) <= set(current.columns)
    if set(data_cols) != set(current.columns):
        # align_schemas raises on a type conflict BEFORE any DDL/write
        current, aligned = ld.align_schemas(current, batch, META_COLS)
        if jdbc:
            # new columns become ALTER TABLE ADD COLUMN on the live
            # table; batch-missing columns need no DDL (the merge
            # NULLs them via null_cols, inserts leave them default)
            target.evolve_schema(spark, table, batch.select(*data_cols))
            widens = False
        else:
            # file sinks rebuild the full row: NULL-fill the missing
            # columns so appended part-files keep the uniform schema (a
            # permanently dropped source column must not demote every
            # later insert batch to a table rewrite)
            batch = aligned

    # 3. INSERT-only append. A batch that WIDENS a file table must
    # rewrite it instead: appending would leave mixed part-file schemas
    if not widens and _method_bound(batch) <= {ex.M_INSERT}:
        if jdbc:
            # staged single-transaction append, NOT Spark's per-task-
            # commit append: a partial failure leaves the target
            # untouched so the un-committed offset replays without dupes
            target.append_txn(spark, table, batch.select(*data_cols))
        else:
            target.write(batch.select(*current.columns), table, mode="append")
        return

    # 4. merge
    if jdbc:
        final = ld.latest_by_key(batch, key_cols, "_order", "_tie")
        target.apply_cdc_txn(
            spark,
            table,
            final.select(*data_cols, ex.METHOD_COL),
            key_cols,
            method_col=ex.METHOD_COL,
            remove_method=ex.M_REMOVE,
            null_cols=[c for c in current.columns if c not in data_cols],
        )
        return
    rows = batch.select(*current.columns, *META_COLS)
    if prune and not widens:
        # composite keys prune on the LEADING column's footer range — a
        # correct superset of the files that can hold full-key matches;
        # apply_cdc_batch keeps the composite semantics on the slice
        target.merge_pruned(
            spark,
            table,
            [r[0] for r in batch.select(key_cols[0]).distinct().collect()],
            key_cols[0],
            lambda touched: ld.apply_cdc_batch(
                touched, rows, key_cols, "_order", "_tie"
            ),
            cluster_cols=key_cols,
        )
        return
    merged = ld.apply_cdc_batch(current, rows, key_cols, "_order", "_tie")
    target.write(merged, table, mode="overwrite")


register_loader("pruned")(partial(load_default, prune=True))
