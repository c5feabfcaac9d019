"""The benchmark's workloads.

Each workload builds its inputs from a seed (``setup``), then runs
timed passes over them (``run_pass``) and checks each pass against its
DuckDB oracle outside the timed region (``check``). A pass is a closed
loop on one thread: each operation starts only after the previous one
returned, and for the runner that means after it committed its offset.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import gen
import oracles


@dataclass
class Pass:
    wall_s: float  # input to complete result
    cycle_s: list[float]  # latency of each operation
    calls: int  # operations attempted: cycles or operator calls
    rows: int  # input rows the pass applied
    state: dict = field(default_factory=dict)  # what check() reads


def _drain(spark, cfg, trk: str):
    """One ``Migrator.run_until_drained`` pass: (wall, seconds of each
    committed cycle from the always-on ``Migrator.metrics``)."""
    from migrator_spark.pipeline.runner import Migrator

    m = Migrator(spark, cfg, trk)
    t0 = time.perf_counter()
    m.run_until_drained()
    wall = time.perf_counter() - t0
    return wall, [b.seconds for b in m.metrics.batches]


class Workload:
    name = ""
    op = ""  # what one operation is

    def __init__(self, spark, root: str, seed: int, scale: float = 1.0) -> None:
        self.spark, self.root, self.seed, self.scale = spark, root, seed, scale
        self.passes = 0

    def size(self, n: int) -> int:
        return max(1, int(n * self.scale))

    def setup(self) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        """Untimed work after set-up that lets the JVM compile the hot
        paths before the first timed pass."""

    def expected(self) -> None:
        """Compute the oracle answers once, outside any timed region."""
        raise NotImplementedError

    def run_pass(self, tracer=None) -> Pass:
        raise NotImplementedError

    def check(self, p: Pass) -> list[str]:
        raise NotImplementedError

    def _pass_dir(self) -> str:
        self.passes += 1
        d = f"{self.root}/pass{self.passes}"
        shutil.rmtree(d, ignore_errors=True)
        return d

    def _clone(self, d: str) -> None:
        # the fixture's commit log resolves version dirs relative to each
        # root, so a file-level copy is an independent warehouse
        for part in ("a", "b", "trk"):
            shutil.copytree(f"{self.root}/fx/{part}", f"{d}/{part}", symlinks=True)


class Drain(Workload):
    """A runner workload: each pass clones the fixture warehouses and
    drains them with ``Migrator.run_until_drained``."""

    op = "E->T->L cycle, start to offset commit"

    def _config(self, d: str):
        raise NotImplementedError

    def warmup(self) -> None:
        """Drain the fixture's first batch, so timed passes start from a
        running pipeline: tracking row live (bootstrapped, where the
        workload bootstraps), rollups built, the queue cleaned once."""
        from migrator_spark.pipeline.runner import Migrator

        fx = f"{self.root}/fx"
        Migrator(self.spark, self._config(fx), f"{fx}/trk").run_until_drained(max_batches=1)

    def run_pass(self, tracer=None) -> Pass:
        d = self._pass_dir()
        self._clone(d)
        cfg = self._config(d)
        if tracer is None:
            wall, cycles = _drain(self.spark, cfg, f"{d}/trk")
        else:
            with tracer.span("runner", cpu=True) as attrs:
                wall, cycles = _drain(self.spark, cfg, f"{d}/trk")
            attrs["cycles"] = len(cycles)
        return Pass(wall, cycles, len(cycles), self.entries, {"dir": d})


class QueueMerge(Drain):
    """The reference's delete-enabled queuing scenario: a trigger-fed
    ``MigratorRecordQueue`` drained by the ``queue`` extractor into a
    pre-seeded ParquetSource target through the ``default`` loader's
    merge path, with queue cleanup after every committed cycle."""

    name = "cdc_queue_merge"
    N_CUST, N_QUEUE, BATCH = 15_000, 4_000, 1_000

    def _config(self, d: str):
        from migrator_spark.pipeline.config import (
            IterationSpec, MigrationSpec, MigratorConfig, Parameters,
        )

        it = IterationSpec(
            source_table="customer", source_key="c_custkey",
            target_table="customer", merge_key="c_custkey", extractor="queue",
        )
        return MigratorConfig(
            migrations=[MigrationSpec(f"{d}/a", f"{d}/b", [it])],
            parameters=Parameters(batch_size=self.size(self.BATCH)),
        )

    def setup(self) -> None:
        from migrator_spark.sources.parquet import ParquetSource

        raw, fx = f"{self.root}/raw", f"{self.root}/fx"
        shutil.rmtree(self.root, ignore_errors=True)
        n_cust, n_queue = self.size(self.N_CUST), self.size(self.N_QUEUE)
        tgt0 = gen.customer(self.seed, n_cust)
        gen.write_table(tgt0, f"{raw}/tgt0.parquet")
        gen.write_table(gen.updated_customer(self.seed, tgt0), f"{raw}/src.parquet")
        gen.write_table(gen.record_queue(self.seed, n_queue, n_cust, "a"), f"{raw}/queue.parquet")
        read = self.spark.read.parquet
        src, tgt = ParquetSource(f"{fx}/a"), ParquetSource(f"{fx}/b")
        src.write(read(f"{raw}/src.parquet"), "customer")
        src.write(read(f"{raw}/queue.parquet"), "MigratorRecordQueue")
        tgt.write(read(f"{raw}/tgt0.parquet"), "customer")
        self.entries = n_queue - min(n_queue, self.size(self.BATCH))

    def expected(self) -> None:
        raw = f"{self.root}/raw"
        con = oracles.connect({k: f"{raw}/{k}.parquet" for k in ("tgt0", "src", "queue")})
        self.want = oracles.duck_rows(con, oracles.QUEUE_MERGE_ORACLE)
        con.close()

    def check(self, p: Pass) -> list[str]:
        from migrator_spark.sources.parquet import ParquetSource

        d = p.state["dir"]
        got = oracles.spark_rows(ParquetSource(f"{d}/b").table(self.spark, "customer"))
        bad = oracles.mismatches(self.want, got)
        left = ParquetSource(f"{d}/a").footer_num_rows("MigratorRecordQueue")
        if left:
            bad.append(f"{left} queue entries left after the drain")
        shutil.rmtree(d, ignore_errors=True)
        return bad


class AppendRollup(Drain):
    """The same runner the other way round: the ``sequential`` extractor
    over an insert-only ``orders`` source whose prefix the target already
    holds (tracking bootstrapped from it), so every batch takes the
    loader's append path, while a ``sum`` rollup is kept fresh through
    the staged-delta protocol."""

    name = "cdc_append_rollup"
    N_ORDERS, TAIL, BATCH, N_CUST = 30_000, 3_000, 1_000, 15_000
    ROLLUP = {"name": "by_priority", "group_by": ["o_orderpriority"], "sum": "o_totalprice"}

    def _config(self, d: str):
        from migrator_spark.pipeline.config import (
            IterationSpec, MigrationSpec, MigratorConfig, Parameters,
        )

        it = IterationSpec(
            source_table="orders", source_key="o_orderkey", target_table="orders",
            extractor="sequential", bootstrap=True, rollups=[dict(self.ROLLUP)],
        )
        return MigratorConfig(
            migrations=[MigrationSpec(f"{d}/a", f"{d}/b", [it])],
            parameters=Parameters(batch_size=self.size(self.BATCH)),
        )

    def setup(self) -> None:
        from migrator_spark.sources.parquet import ParquetSource

        raw, fx = f"{self.root}/raw", f"{self.root}/fx"
        shutil.rmtree(self.root, ignore_errors=True)
        n, tail = self.size(self.N_ORDERS), self.size(self.TAIL)
        cut = gen.append_cut(self.seed, n, tail)
        src = gen.orders(self.seed, n, self.size(self.N_CUST)).slice(0, cut + tail)
        gen.write_table(src, f"{raw}/src.parquet")
        gen.write_table(src.slice(0, cut), f"{raw}/prefix.parquet")
        read = self.spark.read.parquet
        ParquetSource(f"{fx}/a").write(read(f"{raw}/src.parquet"), "orders")
        ParquetSource(f"{fx}/b").write(read(f"{raw}/prefix.parquet"), "orders")
        self.entries = tail - min(tail, self.size(self.BATCH))

    def expected(self) -> None:
        con = oracles.connect({"src": f"{self.root}/raw/src.parquet"})
        self.want = oracles.duck_rows(con, oracles.APPEND_TARGET_ORACLE)
        self.want_rollup = oracles.duck_rows(con, oracles.APPEND_ROLLUP_ORACLE)
        con.close()

    def check(self, p: Pass) -> list[str]:
        from pyspark.sql import functions as F

        from migrator_spark.sources.parquet import ParquetSource

        d = p.state["dir"]
        tgt = ParquetSource(f"{d}/b")
        bad = oracles.mismatches(self.want, oracles.spark_rows(tgt.table(self.spark, "orders")))
        roll = tgt.table(self.spark, "orders__rollup_by_priority").select(
            "o_orderpriority",
            F.col("sum_val").cast("double").alias("sum_val"),
            F.col("n_rows").cast("long").alias("n_rows"),
        )
        bad += oracles.mismatches(self.want_rollup, oracles.spark_rows(roll))
        shutil.rmtree(d, ignore_errors=True)
        return bad


class Curation(Workload):
    """The LLM-data surface: SemDeDup on ``embeddings``, MinHash-LSH
    near-duplicate pairs and DSIR importance weights on ``documents``,
    with the constants of the engine's sd1 / dd2 / ds1 plans so that
    their DuckDB oracles apply."""

    name = "curation_batch"
    op = "curation batch: the three operator calls in sequence"
    N_DOCS, N_EMB, N_WARM = 1_500, 800, 200

    def _write_inputs(self, d: str, n_docs: int, n_emb: int) -> None:
        gen.write_table(gen.documents(self.seed, n_docs), f"{d}/documents.parquet")
        gen.write_table(gen.embeddings(self.seed, n_emb), f"{d}/embeddings.parquet")

    def _calls(self, d: str):
        from pyspark.sql import functions as F

        from migrator_spark.operators import dedup, mixture, similarity
        from migrator_spark.plans import llmdata as L
        from migrator_spark.tables import load_table

        s = self.spark
        return [
            ("similarity.semdedup", "sd1", lambda: similarity.semdedup(
                load_table(s, d, "embeddings"), k=L.KMEANS_K, iters=L.KMEANS_ITERS,
                tau=L.SD1_TAU, dim=L.EMB_DIM, build_sample_mod=L.SD1_BUILD_MOD)),
            ("dedup.minhash_lsh_pairs", "dd2", lambda: dedup.minhash_lsh_pairs(
                load_table(s, d, "documents"), num_hashes=L.MINHASH_NUM,
                bands=L.MINHASH_BANDS, threshold=L.MINHASH_THRESH)),
            ("mixture.dsir_importance", "ds1", lambda: mixture.dsir_importance(
                load_table(s, d, "documents"), target=F.col("lang") == "en",
                n_buckets=L.DS1_BUCKETS)),
        ]

    def setup(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        self._write_inputs(f"{self.root}/in", self.size(self.N_DOCS), self.size(self.N_EMB))
        self.entries = 2 * self.size(self.N_DOCS) + self.size(self.N_EMB)

    def warmup(self) -> None:
        # every call once on a small slice: JIT, codegen, Python workers.
        # The calls run side by side, as the cold compile work dominates
        # and spreads over the cores.
        from concurrent.futures import ThreadPoolExecutor

        warm = f"{self.root}/warm"
        self._write_inputs(warm, self.size(self.N_WARM), self.size(self.N_WARM))
        calls = self._calls(warm)
        with ThreadPoolExecutor(len(calls)) as pool:
            for f in [pool.submit(lambda c=call: c().collect()) for _n, _p, call in calls]:
                f.result()

    def expected(self) -> None:
        from migrator_spark.plans import llmdata as L

        d = f"{self.root}/in"
        con = oracles.connect({t: f"{d}/{t}.parquet" for t in ("documents", "embeddings")})
        sql = {"sd1": L.SD1_ORACLE, "dd2": L.DD2_ORACLE, "ds1": L.DS1_ORACLE}
        self.want = {k: oracles.duck_rows(con, q) for k, q in sql.items()}
        con.close()

    def run_pass(self, tracer=None) -> Pass:
        results, calls, call_s = {}, self._calls(f"{self.root}/in"), []
        t0 = time.perf_counter()
        for name, plan, call in calls:
            t = time.perf_counter()
            if tracer is None:
                results[plan] = oracles.spark_rows(call())
            else:
                with tracer.span(f"operators.{name}", cpu=True):
                    results[plan] = oracles.spark_rows(call())
            call_s.append(time.perf_counter() - t)
        wall = time.perf_counter() - t0
        return Pass(wall, call_s, len(calls), self.entries, {"results": results})

    def check(self, p: Pass) -> list[str]:
        bad = []
        for plan, got in p.state.pop("results").items():
            bad += [f"{plan}: {m}" for m in oracles.mismatches(self.want[plan], got)]
        return bad


WORKLOADS = {w.name: w for w in (QueueMerge, AppendRollup, Curation)}


def make(name: str, spark, root: str, seed: int, scale: float = 1.0) -> Workload:
    os.makedirs(root, exist_ok=True)
    return WORKLOADS[name](spark, root, seed, scale)
