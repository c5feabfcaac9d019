"""Optimistic multi-writer commits on the versioned-parquet sink
(VERDICT r4 missing #2).

flock only serializes writers on ONE host. These tests simulate the
cross-host case by disabling the lock layer entirely: writers race on
the commit log alone, and correctness must come from the optimistic
claim + rebase protocol — exactly one claimant wins each commit
number, and a read-modify-write that loses re-runs against the
winner's state so no update is silently lost (the Delta/Iceberg
commit discipline, rebuilt on hardlink atomicity)."""

from __future__ import annotations

import contextlib
import threading

import pytest

import migrator_spark.sources.parquet as pmod
from migrator_spark.sources.parquet import ParquetSource


@pytest.fixture()
def no_flock(monkeypatch):
    """Simulate writers on different hosts: the flock layer is inert,
    only the commit log arbitrates."""
    monkeypatch.setattr(pmod, "_lock_for", lambda path: contextlib.nullcontext())


def test_try_commit_exactly_one_winner(tmp_path):
    src = ParquetSource(str(tmp_path))
    n_threads, wins = 8, []
    barrier = threading.Barrier(n_threads)

    def claim(i):
        barrier.wait(timeout=30)
        if src._try_commit("t", f"v{i}", 1):
            wins.append(i)

    threads = [threading.Thread(target=claim, args=(i,)) for i in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(wins) == 1
    assert src.current_commit("t") == (1, f"v{wins[0]}")


def test_rmw_racers_both_land_via_rebase(spark, tmp_path, no_flock):
    """The classic lost update: two writers read commit N, both write.
    Without OCC the second swap silently discards the first's rows;
    with it, the loser rebases and both deltas survive."""
    src = ParquetSource(str(tmp_path))
    schema = "id long, v string"
    src.write(spark.createDataFrame([(0, "base")], schema), "t")
    barrier = threading.Barrier(2)
    first_read = {"a": True, "b": True}
    errors = []

    def writer(tag, new_row):
        def fn(df):
            if first_read[tag]:  # rendezvous only on the FIRST read —
                first_read[tag] = False  # the rebase re-read must not block
                barrier.wait(timeout=120)
            return df.unionByName(spark.createDataFrame([new_row], schema))

        try:
            src.rmw(spark, "t", fn)
        except Exception as exc:  # pragma: no cover - diagnostic
            errors.append(exc)

    ta = threading.Thread(target=writer, args=("a", (1, "from-a")))
    tb = threading.Thread(target=writer, args=("b", (2, "from-b")))
    ta.start(), tb.start()
    ta.join(240), tb.join(240)
    assert not errors, errors
    got = {r["v"] for r in src.table(spark, "t").collect()}
    assert got == {"base", "from-a", "from-b"}
    n, _v = src.current_commit("t")
    assert n == 2  # initial write claims 0; each rmw advances one


def test_merge_pruned_rebases_past_concurrent_commit(spark, tmp_path, no_flock):
    """A pruned merge computed against commit N must not clobber a
    commit that lands mid-merge: the claim fails, the merge re-prunes
    against the winner's state, and BOTH effects survive."""
    from pyspark.sql import functions as F

    src = ParquetSource(str(tmp_path))
    schema = "id long, v long"
    src.write(
        spark.createDataFrame([(i, i * 10) for i in range(1, 9)], schema), "t"
    )
    started, resume = threading.Event(), threading.Event()
    calls = {"n": 0}

    def merge_fn(tdf):
        calls["n"] += 1
        if calls["n"] == 1:
            started.set()
            assert resume.wait(timeout=120)
        return tdf.withColumn(
            "v", F.when(F.col("id") == 5, F.lit(999)).otherwise(F.col("v"))
        )

    errors = []

    def run_merge():
        try:
            src.merge_pruned(
                spark,
                "t",
                [5],
                "id",
                merge_fn,
            )
        except Exception as exc:  # pragma: no cover - diagnostic
            errors.append(exc)

    t = threading.Thread(target=run_merge)
    t.start()
    assert started.wait(timeout=120)
    # a competing writer commits while the merge is in flight
    src.write(
        spark.createDataFrame([(i, i * 10) for i in range(1, 9)] + [(200, 1)], schema),
        "t",
    )
    resume.set()
    t.join(240)
    assert not errors, errors
    assert calls["n"] == 2  # the rebase re-ran the merge
    got = {r["id"]: r["v"] for r in src.table(spark, "t").collect()}
    assert got[200] == 1 and got[5] == 999 and got[1] == 10


def test_table_reads_commit_log_not_stale_symlink(spark, tmp_path):
    """The commit log is the source of truth; the symlink is a cache.
    A reader on another host whose symlink view lags (NFS attribute
    caching) still resolves the newest committed version."""
    import os

    src = ParquetSource(str(tmp_path))
    schema = "id long"
    src.write(spark.createDataFrame([(1,)], schema), "t")
    stale_target = os.path.realpath(src._path("t"))
    src.write(spark.createDataFrame([(1,), (2,)], schema), "t")
    # regress the symlink to the old version (the stale-cache view)
    os.remove(src._path("t"))
    os.symlink(stale_target, src._path("t"))
    assert src.table(spark, "t").count() == 2  # log wins


def test_gc_respects_log_references_and_inflight_grace(spark, tmp_path):
    """GC keeps versions referenced by the retained commit window plus
    a grace for never-committed dirs (a concurrent writer's in-flight
    materialization must not be deleted under it)."""
    import os

    from migrator_spark.sources.parquet import KEEP_VERSIONS

    src = ParquetSource(str(tmp_path))
    schema = "id long"
    src.write(spark.createDataFrame([(0,)], schema), "t")
    # an in-flight materialization no commit references
    inflight = src._materialize(spark.createDataFrame([(99,)], schema), "t")
    for i in range(1, KEEP_VERSIONS + 3):
        src.write(spark.createDataFrame([(i,)], schema), "t")
    assert os.path.isdir(inflight)  # survived every GC pass
    # retained = current + KEEP_VERSIONS predecessors (+ the graced dir)
    names = {v["version"] for v in src.versions("t")}
    assert os.path.basename(inflight) in names
    assert len(names) == KEEP_VERSIONS + 2


def test_crash_between_claim_and_symlink_recovers(spark, tmp_path):
    """A writer that dies after winning the commit claim but before the
    symlink repoint must leave a READABLE table: the log is the source
    of truth, exists() consults it, and the next write heals the link."""
    import os

    src = ParquetSource(str(tmp_path))
    schema = "id long"
    src.write(spark.createDataFrame([(1,)], schema), "t")
    # simulate the crash window: log is ahead, symlink is gone
    v2 = src._materialize(spark.createDataFrame([(1,), (2,)], schema), "t")
    assert src._try_commit("t", v2, src.current_commit("t")[0] + 1)
    os.remove(src._path("t"))
    assert src.exists(spark, "t")
    assert src.table(spark, "t").count() == 2
    src.write(spark.createDataFrame([(1,), (2,), (3,)], schema), "t")
    assert os.path.islink(src._path("t"))  # healed
    assert src.table(spark, "t").count() == 3
