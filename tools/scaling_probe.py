#!/usr/bin/env python
"""Measured scaling curves: run selected corpus operators at k× the
sf0.1 corpus (k in 1,2,4,8 by default) and report wall time per scale,
so SCALE.md's "near-linear at 100 TB" claims carry numbers instead of
reasoning alone. Usage:

    python tools/scaling_probe.py [sf_dir] [scales csv] [query csv]

Scaled corpora are built once under /tmp/spark_graft_scale/<k>/ in the
driver-table layout (documents.parquet, embeddings.parquet) and passed
to the normal registry callables as their sf_dir. Replication is
DECORRELATED so candidate spaces grow like k fresh crawls, not k
verbatim copies: replica i suffixes every word with a replica tag, so
its shingle space is disjoint from every other replica's (word
PERMUTATION is not enough — the synthetic vocabulary is so small that
any reordering is still a genuine near-dup of half the corpus, and a
first probe measured dd2 94x at 2x from exactly that clique-depth
blowup, i.e. the data's intrinsic duplication, not the engine).
Within a replica the original near-dup structure is preserved
unchanged. Replica i of an embedding circularly shifts the vector by
i positions (norm-preserving, decorrelated). Replica 0 is the
original corpus, so fixed-id queries (query doc 0 / query vec 0) stay
valid.
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from migrator_spark.plans.registry import REGISTRY  # noqa: E402
from migrator_spark.session import get_spark  # noqa: E402
from migrator_spark.tables import load_table  # noqa: E402

DEFAULT_QUERIES = [
    "dd2_minhash_lsh_pairs",
    "dd7_simhash_pairs",
    "dd10_dup_spans",
    "cur3_neardup_mix",
    "pk1_sequence_packing",
    "sim5_ivf_build",
    "ta7_lm_quality",
]
BASE = Path("/tmp/spark_graft_scale")


def _replicate_documents(docs: DataFrame, k: int) -> DataFrame:
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    parts = [docs]
    words = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    for i in range(1, k):
        # replica-tagged vocabulary: word order and duplication
        # structure preserved, shingle space disjoint across replicas
        tagged = F.array_join(
            F.transform(words, lambda w: F.concat(w, F.lit(f"r{i}"))), " "
        )
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * n)).alias("doc_id"),
                tagged.alias("text"),
                "lang",
                "source",
                F.length(tagged).alias("n_chars"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _replicate_embeddings(emb: DataFrame, k: int) -> DataFrame:
    n = emb.agg(F.max("vec_id")).first()[0] + 1
    dim = len(emb.first()["embedding"])
    parts = [emb]
    for i in range(1, k):
        shift = i % dim or 1
        rolled = F.concat(
            F.slice(F.col("embedding"), shift + 1, dim - shift),
            F.slice(F.col("embedding"), 1, shift),
        )
        parts.append(
            emb.select(
                (F.col("vec_id") + F.lit(i * n)).alias("vec_id"),
                rolled.alias("embedding"),
                "label",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def build_scale(spark, sf_dir: str, k: int) -> str:
    d = BASE / str(k)
    marker = d / "_DONE"
    # cache keyed by SOURCE corpus too: a probe against a different
    # sf_dir must not silently reuse replicas built from another one
    if marker.exists() and marker.read_text() == sf_dir:
        return str(d)
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    _replicate_documents(load_table(spark, sf_dir, "documents"), k).write.parquet(
        str(d / "documents.parquet")
    )
    _replicate_embeddings(load_table(spark, sf_dir, "embeddings"), k).write.parquet(
        str(d / "embeddings.parquet")
    )
    marker.write_text(sf_dir)
    return str(d)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    scales = [int(s) for s in (sys.argv[2].split(",") if len(sys.argv) > 2 else [1, 2, 4, 8])] if len(sys.argv) > 2 else [1, 2, 4, 8]
    names = sys.argv[3].split(",") if len(sys.argv) > 3 else DEFAULT_QUERIES
    spark = get_spark("scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict[int, float]] = {}

    if "l4_merge_pruned_scale" in names:
        # The merge/loader family's §5e row (VERDICT r7 #8): seed a
        # k-times-larger range-clustered customer target (8k part-files,
        # keys shifted per replica so the key span grows with k), then
        # merge the SAME fixed key-localized CDC batch (keys < 400 —
        # replica 0's low band) and measure wall + the file-skip ratio.
        # The claim under test: touched files stay O(batch key span),
        # NOT O(table files), so the pruned MERGE's wall is flat-ish in
        # table size — the property that replaces full-table-rewrite
        # write amplification at 100 TB. Each timed run RE-SEEDS the
        # target first (a merge mutates table state; timing only the
        # merge_pruned call keeps runs comparable).
        names.remove("l4_merge_pruned_scale")
        import tempfile

        from migrator_spark.operators import load as ld
        from migrator_spark.plans.cdc import _shaped_batch
        from migrator_spark.sources.parquet import ParquetSource

        customer = load_table(spark, sf_dir, "customer")
        n_cust = customer.agg(F.max("c_custkey")).first()[0] + 1
        batch = _shaped_batch(spark, sf_dir).filter(
            F.col("c_custkey") < 400
        ).localCheckpoint(eager=True)
        root = tempfile.mkdtemp(prefix="l4_scale_")
        out["l4_merge_pruned_scale"] = {}
        skip_rows = {}
        for k in scales:
            parts = [customer]
            for i in range(1, k):
                parts.append(
                    customer.withColumn(
                        "c_custkey", F.col("c_custkey") + F.lit(i * n_cust)
                    )
                )
            big = parts[0]
            for p in parts[1:]:
                big = big.unionByName(p)
            seeded = big.repartitionByRange(
                8 * k, F.col("c_custkey")
            ).sortWithinPartitions("c_custkey").localCheckpoint(eager=True)
            src = ParquetSource(f"{root}/{k}")
            runs, stats = [], None
            for _ in range(2):
                src.write(seeded, "cust", mode="overwrite")
                t0 = time.monotonic()
                stats = src.merge_pruned(
                    spark,
                    "cust",
                    [r[0] for r in batch.select("c_custkey").distinct().collect()],
                    "c_custkey",
                    lambda tdf: ld.apply_cdc_batch(
                        tdf, batch, ["c_custkey"], "ts", "event_id"
                    ),
                )
                runs.append(time.monotonic() - t0)
            out["l4_merge_pruned_scale"][k] = round(min(runs), 3)
            skip_rows[k] = (stats.touched_files, stats.total_files)
        base = out["l4_merge_pruned_scale"][scales[0]]
        curve = " ".join(
            f"{k}x={out['l4_merge_pruned_scale'][k]}s"
            f"({out['l4_merge_pruned_scale'][k] / base:.1f})"
            f"[touch {skip_rows[k][0]}/{skip_rows[k][1]}]"
            for k in scales
        )
        print(f"{'l4_merge_pruned_scale':28s} {curve}", flush=True)
        out["l4_merge_pruned_files"] = {
            k: skip_rows[k][0] / skip_rows[k][1] for k in scales
        }

    dirs = {k: build_scale(spark, sf_dir, k) for k in scales} if names else {}
    for name in names:
        if name in ("quantizer_flat_kprop", "quantizer_two_level_kprop"):
            # head-to-head cost of the k ∝ n assignment term: flat
            # Lloyd with k = 8*scale vs the hierarchical build with
            # k_coarse = k_fine = ceil(sqrt(8*scale)) — same effective
            # cell count, O(k) vs O(2*sqrt(k)) distance evals per point
            import math

            from migrator_spark.operators import similarity as _sim
            from migrator_spark.plans.llmdata import KMEANS_K

            flat = name == "quantizer_flat_kprop"

            def fn(spark, sf_dir, _scale=None):
                k = KMEANS_K * _scale
                if flat:
                    return _sim.kmeans_assign(
                        load_table(spark, sf_dir, "embeddings"), k=k, iters=1
                    )
                side = math.ceil(math.sqrt(k))
                return _sim.kmeans_assign_two_level(
                    load_table(spark, sf_dir, "embeddings"),
                    k_coarse=side,
                    k_fine=side,
                    iters=1,
                )
        elif name == "sd1_two_level_kprop":
            # the k ∝ n SemDeDup experiment on the PRODUCTION two-level
            # quantizer (round 7: semdedup_two_level / the sd5 fold's
            # scoring path): k_coarse = k_fine = ceil(sqrt(8*scale))
            # effective cells — the head-to-head row VERDICT r6 #2
            # asks for against sd1_kprop's flat 7.2x growth.
            # PROTOCOL-MATCHED to sd1_kprop: same iters (KMEANS_ITERS),
            # same tau/dim, same 1/SD1_BUILD_MOD sampled build, FULL
            # dedup both ways — only the quantizer differs (round-7
            # self-review: the first run trained two-level on the full
            # corpus, so its curve paid a build term the flat arm
            # skipped; re-measured with the matched build)
            import math

            from migrator_spark.operators import similarity as _sim
            from migrator_spark.plans.llmdata import (
                EMB_DIM,
                KMEANS_ITERS,
                KMEANS_K,
                SD1_BUILD_MOD,
                SD1_TAU,
            )

            def fn(spark, sf_dir, _scale=None):
                side = math.ceil(math.sqrt(KMEANS_K * _scale))
                return _sim.semdedup_two_level(
                    load_table(spark, sf_dir, "embeddings"),
                    k_coarse=side,
                    k_fine=side,
                    iters=KMEANS_ITERS,
                    tau=SD1_TAU,
                    dim=EMB_DIM,
                    build_sample_mod=SD1_BUILD_MOD,
                )
        elif name == "sd1_kprop":
            # the k ∝ n discipline (the SemDeDup paper's knob: clusters
            # scale with the corpus so cells stay bounded), with the
            # round-6 sampled-Lloyd build — the registry sd1 pinned to
            # the graded k can't express a scale-dependent k, so the
            # probe names it explicitly
            from migrator_spark.operators import similarity as _sim
            from migrator_spark.plans.llmdata import (
                EMB_DIM,
                KMEANS_ITERS,
                KMEANS_K,
                SD1_BUILD_MOD,
                SD1_TAU,
            )

            def fn(spark, sf_dir, _scale=None):
                return _sim.semdedup(
                    load_table(spark, sf_dir, "embeddings"),
                    k=KMEANS_K * _scale,
                    iters=KMEANS_ITERS,
                    tau=SD1_TAU,
                    dim=EMB_DIM,
                    build_sample_mod=SD1_BUILD_MOD,
                )
        elif name in ("ivf_nprobe1", "ivf_nprobe2", "ivf_nprobe4"):
            # the COST half of sim14's recall curve (VERDICT r7 #3):
            # the production multi-probe serving search (sim15's
            # ivf_batch_topk) at n_probe 1/2/4 over the same 16-query
            # batch sim14 grades — §5e pairs these walls with the
            # graded mean recall@10 (0.33/0.51/0.73), pricing the knob
            from migrator_spark.operators import similarity as _sim
            from migrator_spark.plans.llmdata import (
                KMEANS_ITERS,
                KMEANS_K,
                SIM14_NQ,
            )

            n_probe = int(name[-1])

            def fn(spark, sf_dir, _scale=None):
                emb = load_table(spark, sf_dir, "embeddings")
                pts = emb.select(
                    "vec_id",
                    F.transform(
                        F.col("embedding"), lambda x: x.cast("double")
                    ).alias("v"),
                )
                cents = _sim._fit_centroids(
                    pts, KMEANS_K, KMEANS_ITERS, "vec_id"
                ).localCheckpoint(eager=True)
                assign = _sim._assign_cells(pts, cents, "vec_id").select(
                    "vec_id", "cell"
                ).localCheckpoint(eager=True)
                queries = emb.filter(F.col("vec_id") < SIM14_NQ).select(
                    F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("qe"),
                )
                return _sim.ivf_batch_topk(
                    emb.join(assign, "vec_id"), queries, cents,
                    n_probe=n_probe, k=10,
                )
        elif name in ("sim12_gemm32", "sim12_catalyst32"):
            # GEMM-pruned vs pure-Catalyst batch top-k, SAME 32-query
            # batch and k=5 — the bake-off behind sim12's claim that
            # the interpreted HOF score pass is the bottleneck. Both
            # paths produce bit-identical rows (pinned in
            # tests/test_round7b_properties.py); only the score
            # kernel differs.
            from migrator_spark.operators import similarity as _sim
            from migrator_spark.plans.llmdata import SIM12_K, SIM12_NQ

            gemm = name == "sim12_gemm32"

            def fn(spark, sf_dir, _scale=None):
                emb = load_table(spark, sf_dir, "embeddings")
                queries = emb.filter(F.col("vec_id") < SIM12_NQ).select(
                    F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("qe"),
                )
                if gemm:
                    return _sim.gemm_topk(emb, queries, k=SIM12_K)
                return _sim.pairwise_topk_join(emb, queries, k=SIM12_K)
        else:
            fn = REGISTRY[name].fn
        out[name] = {}
        for k in scales:
            kw = {"_scale": k} if name.endswith("_kprop") else {}
            fn(spark, dirs[k], **kw).write.format("noop").mode("overwrite").save()  # warm
            runs = []
            for _ in range(2):
                t0 = time.monotonic()
                fn(spark, dirs[k], **kw).write.format("noop").mode("overwrite").save()
                runs.append(time.monotonic() - t0)
            out[name][k] = round(min(runs), 3)
        base = out[name][scales[0]]
        curve = " ".join(f"{k}x={out[name][k]}s({out[name][k] / base:.1f})" for k in scales)
        print(f"{name:28s} {curve}", flush=True)
    print(json.dumps({"sf_dir": sf_dir, "scales": scales, "times": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
