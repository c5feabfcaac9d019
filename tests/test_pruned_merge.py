"""File-pruned merge sink (ParquetSource.merge_pruned): the MERGE
execution path that rewrites only part-files whose footer key range
intersects the batch keys — VERDICT r2 #3's answer to the full-table-
rewrite write amplification. Semantics must equal apply_cdc_batch over
the whole table (the l0 oracle algebra), only the physics differ."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from migrator_spark.operators import load as ld
from migrator_spark.operators.extract import M_INSERT, M_REMOVE, M_REPLACE, METHOD_COL
from migrator_spark.sources.parquet import ParquetSource
from migrator_spark.tables import load_table

KEY = "c_custkey"


def _seed(spark, sf_dir, src, table, n_files=8):
    customer = load_table(spark, sf_dir, "customer")
    seeded = customer.repartitionByRange(n_files, F.col(KEY)).sortWithinPartitions(KEY)
    src.write(seeded, table, mode="overwrite")
    return customer


def _batch(spark, sf_dir):
    """Key-localized CDC batch: REPLACE keys 1-20 (bumped acctbal),
    REMOVE keys 5-8, INSERT new keys 0 and 10_000 (outside every file's
    range)."""
    customer = load_table(spark, sf_dir, "customer")
    replaces = (
        customer.filter(F.col(KEY) <= 20)
        .withColumn("c_acctbal", F.col("c_acctbal") + 1000.0)
        .withColumn(METHOD_COL, F.when(F.col(KEY).between(5, 8), F.lit(M_REMOVE)).otherwise(F.lit(M_REPLACE)))
    )
    inserts = spark.createDataFrame(
        [(0, "zero", 1, 0.0, "NEW"), (10_000, "big", 2, 9.0, "NEW")],
        customer.schema,
    ).withColumn(METHOD_COL, F.lit(M_INSERT))
    return (
        replaces.unionByName(inserts)
        .withColumn("ord", F.lit(1))
        .withColumn("tie", F.col(KEY))
    )


def _part_inodes(path):
    d = os.path.realpath(path)
    return {
        e.name: e.stat().st_ino
        for e in os.scandir(d)
        if e.is_file() and e.name.endswith(".parquet")
    }


def test_merge_pruned_touches_subset_and_matches_full_merge(spark, sf_dir, tmp_path):
    src = ParquetSource(str(tmp_path / "sink"))
    customer = _seed(spark, sf_dir, src, "c")
    batch = _batch(spark, sf_dir)
    expected = sorted(
        map(
            tuple,
            ld.apply_cdc_batch(customer, batch, [KEY], "ord", "tie").collect(),
        )
    )
    stats = src.merge_pruned(
        spark,
        "c",
        [r[0] for r in batch.select(KEY).collect()],
        KEY,
        lambda t: ld.apply_cdc_batch(t, batch, [KEY], "ord", "tie"),
    )
    # the point of the operator: most files are NOT rewritten
    assert stats.total_files == 8
    assert 1 <= stats.touched_files < stats.total_files, stats
    got = sorted(map(tuple, src.table(spark, "c").collect()))
    assert got == expected


def test_merge_pruned_carries_untouched_files_by_hardlink(spark, sf_dir, tmp_path):
    src = ParquetSource(str(tmp_path / "sink"))
    _seed(spark, sf_dir, src, "c")
    before = _part_inodes(src._path("c"))
    batch = _batch(spark, sf_dir)
    stats = src.merge_pruned(
        spark,
        "c",
        [r[0] for r in batch.select(KEY).collect()],
        KEY,
        lambda t: ld.apply_cdc_batch(t, batch, [KEY], "ord", "tie"),
    )
    after = _part_inodes(src._path("c"))
    shared = set(before.values()) & set(after.values())
    # every untouched file is the SAME inode in the new version — no
    # data was read or copied, only a directory entry was created
    assert len(shared) == stats.pruned_files > 0


def test_merge_pruned_insert_outside_all_ranges_touches_nothing(
    spark, sf_dir, tmp_path
):
    src = ParquetSource(str(tmp_path / "sink"))
    customer = _seed(spark, sf_dir, src, "c")
    n_before = customer.count()
    inserts = spark.createDataFrame(
        [(100_000, "far", 1, 1.0, "NEW"), (100_001, "far2", 2, 2.0, "NEW")],
        customer.schema,
    ).withColumn(METHOD_COL, F.lit(M_INSERT)).withColumn("ord", F.lit(1)).withColumn("tie", F.col(KEY))
    stats = src.merge_pruned(
        spark,
        "c",
        [r[0] for r in inserts.select(KEY).collect()],
        KEY,
        lambda t: ld.apply_cdc_batch(t, inserts, [KEY], "ord", "tie"),
    )
    assert stats.touched_files == 0
    assert src.table(spark, "c").count() == n_before + 2


def test_pruned_loader_end_to_end(spark, sf_dir, tmp_path):
    """The registered "pruned" loader through apply: seeds range-
    clustered, then merges with file pruning; result equals the default
    loader's set algebra."""
    from migrator_spark.pipeline.config import IterationSpec, Parameters
    from migrator_spark.pipeline.registries import resolve

    it = IterationSpec(
        source_table="c", source_key=KEY, target_table="c", merge_key=KEY
    )
    params = Parameters()
    loader = resolve("loader", "pruned")
    src = ParquetSource(str(tmp_path / "sink"))
    customer = load_table(spark, sf_dir, "customer")

    first = customer.withColumn(METHOD_COL, F.lit(M_INSERT)).withColumn(
        "_order", F.lit(0)
    ).withColumn("_tie", F.col(KEY))
    loader(spark, src, "c", first, it, params)
    files0 = len(_part_inodes(src._path("c")))
    assert files0 > 1  # seeded range-clustered, not a single blob

    batch = (
        _batch(spark, sf_dir)
        .withColumnRenamed("ord", "_order")
        .withColumnRenamed("tie", "_tie")
    )
    loader(spark, src, "c", batch, it, params)
    expected = sorted(
        map(
            tuple,
            ld.apply_cdc_batch(customer, batch, [KEY], "_order", "_tie").collect(),
        )
    )
    got = sorted(map(tuple, src.table(spark, "c").collect()))
    assert got == expected


def test_pruned_loader_composite_key_prunes_on_leading_column(
    spark, sf_dir, tmp_path
):
    """Composite merge key (the reference's multi-column PKs,
    extractor_queue.go:75-90): pruning on the LEADING key column's
    footer range must keep the fast path — untouched files carried by
    hardlink — while apply_cdc_batch keeps full composite semantics."""
    from migrator_spark.pipeline.config import IterationSpec, Parameters
    from migrator_spark.pipeline.registries import resolve

    keys = ["l_orderkey", "l_linenumber"]
    it = IterationSpec(
        source_table="li",
        source_key=keys[0],
        target_table="li",
        merge_key=",".join(keys),
    )
    loader = resolve("loader", "pruned")
    src = ParquetSource(str(tmp_path / "sink"))
    lineitem = load_table(spark, sf_dir, "lineitem")

    first = (
        lineitem.withColumn(METHOD_COL, F.lit(M_INSERT))
        .withColumn("_order", F.lit(0))
        .withColumn("_tie", F.col(keys[0]))
    )
    loader(spark, src, "li", first, it, Parameters())
    before = _part_inodes(src._path("li"))
    assert len(before) > 1
    # pin the seeded version as the expected-merge base: sf0.001 lineitem
    # is NOT unique on (orderkey, linenumber), so seeding's last-write-wins
    # already dropped duplicate-PK rows (and which duplicate wins is
    # tie-dependent) — the semantic contract is vs the seeded table, not
    # the raw source
    base = spark.read.parquet(os.path.realpath(src._path("li")))

    # key-localized batch: REPLACE line 1 of low orderkeys, REMOVE line 2,
    # INSERT a (new orderkey, line 1) row outside every file range
    low = lineitem.filter(F.col("l_orderkey") <= 100)
    replaces = (
        low.filter(F.col("l_linenumber") == 1)
        .withColumn("l_quantity", F.col("l_quantity") + 500.0)
        .withColumn(METHOD_COL, F.lit(M_REPLACE))
    )
    removes = low.filter(F.col("l_linenumber") == 2).withColumn(
        METHOD_COL, F.lit(M_REMOVE)
    )
    inserts = (
        lineitem.limit(1)
        .withColumn("l_orderkey", F.lit(9_999_999).cast("long"))
        .withColumn(METHOD_COL, F.lit(M_INSERT))
    )
    batch = (
        replaces.unionByName(removes)
        .unionByName(inserts)
        .withColumn("_order", F.lit(1))
        .withColumn("_tie", F.col(keys[0]))
    )
    loader(spark, src, "li", batch, it, Parameters())

    after = _part_inodes(src._path("li"))
    shared = set(before.values()) & set(after.values())
    # the fast path held: at least one untouched file was carried by
    # hardlink instead of rewritten (composite keys no longer force the
    # full-rewrite fallback)
    assert len(shared) > 0, (len(before), len(after))

    expected = sorted(
        map(
            tuple,
            ld.apply_cdc_batch(base, batch, keys, "_order", "_tie").collect(),
        )
    )
    got = sorted(map(tuple, src.table(spark, "li").collect()))
    assert got == expected


def test_pruned_loader_nonorderable_key_type_falls_back(spark, tmp_path):
    """A leading key type Python can't safely order against parquet
    footer stats (timestamp here) must take the full-rewrite default
    path — correct result, no TypeError mid-merge (ADVICE r3)."""
    from migrator_spark.pipeline.config import IterationSpec, Parameters
    from migrator_spark.pipeline.registries import resolve

    it = IterationSpec(
        source_table="t", source_key="ts", target_table="t", merge_key="ts"
    )
    loader = resolve("loader", "pruned")
    src = ParquetSource(str(tmp_path / "sink"))
    base = spark.sql(
        "SELECT timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id)"
        " AS ts, id AS v FROM range(100)"
    )
    first = (
        base.withColumn(METHOD_COL, F.lit(M_INSERT))
        .withColumn("_order", F.lit(0))
        .withColumn("_tie", F.col("v"))
    )
    loader(spark, src, "t", first, it, Parameters())
    batch = (
        base.filter(F.col("v") < 10)
        .withColumn("v", F.col("v") + 1000)
        .withColumn(METHOD_COL, F.lit(M_REPLACE))
        .withColumn("_order", F.lit(1))
        .withColumn("_tie", F.col("v"))
    )
    loader(spark, src, "t", batch, it, Parameters())
    got = src.table(spark, "t")
    assert got.count() == 100
    assert got.filter(F.col("v") >= 1000).count() == 10
