"""Per-layer metrics: how each is computed from a traced run's spans,
and which end-to-end metric on which workload it should move.

Every value is per traced pass (each pass applies the same input), so
runs of different length compare directly. A layer a workload does not
run reports 0.
"""

from __future__ import annotations

from spans import Span, inclusive, self_seconds

# name -> (unit, better, end-to-end metric and workload it should move)
PER_LAYER = {
    "runner.cycles": ("count", "lower", "cycle_p50_s, rows_per_s on both cdc workloads"),
    "runner.jobs_per_cycle": ("count", "lower", "cycle_p50_s on both cdc workloads"),
    "runner.self_s": ("s", "lower", "cycle_p50_s, rows_per_s on both cdc workloads"),
    "extractors.busy_s": ("s", "lower", "cycle_p50_s; heavy on cdc_queue_merge, light on cdc_append_rollup"),
    "extractors.jobs": ("count", "lower", "cycle_p50_s; heavy on cdc_queue_merge, light on cdc_append_rollup"),
    "extractors.tasks": ("count", "lower", "cycle_p50_s; heavy on cdc_queue_merge, light on cdc_append_rollup"),
    "transformers.busy_s": ("s", "lower", "guard: about 0 on both cdc workloads"),
    "loaders.busy_s": ("s", "lower", "cycle_p50_s; merge on cdc_queue_merge, append on cdc_append_rollup"),
    "loaders.jobs": ("count", "lower", "cycle_p50_s; merge on cdc_queue_merge, append on cdc_append_rollup"),
    "loaders.tasks": ("count", "lower", "cycle_p50_s; merge on cdc_queue_merge, append on cdc_append_rollup"),
    "tracking.busy_s": ("s", "lower", "cycle_p50_s on both cdc workloads"),
    "tracking.puts": ("count", "lower", "guard: equals runner.cycles"),
    "cleanup.busy_s": ("s", "lower", "cycle_p50_s on cdc_queue_merge only"),
    "cleanup.jobs": ("count", "lower", "cycle_p50_s on cdc_queue_merge only"),
    "rollup.busy_s": ("s", "lower", "cycle_p50_s on cdc_append_rollup only"),
    "parquet.busy_s": ("s", "lower", "rows_per_s on both cdc workloads"),
    "parquet.commits": ("count", "lower", "rows_per_s on both cdc workloads"),
    "parquet.bytes_written": ("bytes", "lower", "rows_per_s; full rewrite on cdc_queue_merge vs append on cdc_append_rollup"),
    "parquet.bytes_per_row": ("bytes/row", "lower", "rows_per_s; write amplification, cdc_queue_merge vs cdc_append_rollup"),
    "pyworkers.cpu_s": ("s", "lower", "rows_per_s on curation_batch; 0 on every workload while the operators run as SQL expressions"),
    "jvm.cpu_s": ("s", "lower", "rows_per_s on every workload"),
    "cpu_busy_share": ("ratio", "higher", "rows_per_s on curation_batch (idle cores in the sd1 pair stage)"),
    "spark.jobs": ("count", "lower", "rows_per_s on every workload"),
    "spark.stages": ("count", "lower", "rows_per_s on every workload"),
    "spark.tasks": ("count", "lower", "rows_per_s on every workload"),
    "spark.failed_tasks": ("count", "lower", "guard: 0 on every workload"),
    "trace.overhead_s": ("s", "lower", "none: traced minus untraced pass wall"),
}
OPERATORS = (
    "similarity.semdedup",
    "dedup.minhash_lsh_pairs",
    "mixture.dsir_importance",
)
for _op in OPERATORS:
    for _m, _u in (("busy_s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count")):
        PER_LAYER[f"{_op}.{_m}"] = (_u, "lower", "rows_per_s, cycle_p50_s on curation_batch")


def per_layer(spans: list[Span], passes: int, rows: int, nproc: int) -> dict:
    """Per-layer values per traced pass; ``rows`` is the input rows of
    one pass."""
    by_name: dict[str, list[Span]] = {}
    kids: dict[int, list[Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    roots = [s for s in spans if s.parent is None]

    def busy(name: str, pred=lambda s: True) -> float:
        return sum(s.seconds for s in by_name.get(name, ()) if pred(s))

    def incl(name: str, key: str) -> int:
        return sum(inclusive(spans, s, key) for s in by_name.get(name, ()))

    runner = by_name.get("runner", ())
    pq = by_name.get("parquet", ())
    cpu = [sum(v) for v in zip(*(s.attrs["cpu"] for s in roots if "cpu" in s.attrs))] or [0.0] * 3
    totals = dict.fromkeys(PER_LAYER, 0.0)
    totals.update({
        "runner.cycles": sum(s.attrs.get("cycles", 0) for s in runner),
        "runner.self_s": sum(self_seconds(s, kids.get(s.id, [])) for s in runner),
        "extractors.jobs": incl("extractors", "jobs"),
        "extractors.tasks": incl("extractors", "tasks"),
        "loaders.jobs": incl("loaders", "jobs"),
        "loaders.tasks": incl("loaders", "tasks"),
        "cleanup.jobs": incl("cleanup", "jobs"),
        "tracking.puts": len(by_name.get("tracking", ())),
        "rollup.busy_s": busy("parquet", lambda s: "__rollup_" in str(s.attrs.get("table"))),
        "parquet.commits": sum(s.attrs.get("commits", 0) for s in pq),
        "parquet.bytes_written": sum(s.attrs.get("bytes", 0) for s in pq),
        "pyworkers.cpu_s": cpu[2],
        "jvm.cpu_s": cpu[1],
    })
    for layer in ("extractors", "transformers", "loaders", "tracking", "cleanup", "parquet"):
        totals[f"{layer}.busy_s"] = busy(layer)
    for op in OPERATORS:
        totals[f"{op}.busy_s"] = busy(f"operators.{op}")
        for key in ("jobs", "stages", "tasks"):
            totals[f"{op}.{key}"] = incl(f"operators.{op}", key)
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        totals[f"spark.{key}"] = sum(inclusive(spans, r, key) for r in roots)
    out = {k: v / passes for k, v in totals.items()}
    # ratios of totals, not per-pass sums
    cycles = totals["runner.cycles"]
    out["runner.jobs_per_cycle"] = incl("runner", "jobs") / cycles if cycles else 0.0
    root_wall = sum(s.seconds for s in roots)
    out["cpu_busy_share"] = sum(cpu) / (root_wall * nproc) if root_wall else 0.0
    out["parquet.bytes_per_row"] = out["parquet.bytes_written"] / rows if rows else 0.0
    return out


def guard_failures(per: dict) -> list[str]:
    """The per-layer invariants a correct run keeps."""
    out = []
    if per["tracking.puts"] != per["runner.cycles"]:
        out.append("tracking.puts != runner.cycles")
    if per["spark.failed_tasks"]:
        out.append("Spark tasks failed")
    return out
