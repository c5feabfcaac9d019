"""The benchmark's pure helpers: span arithmetic, order statistics,
/proc parsing, the oracle comparison, the seeded generators and the
per-layer roll-up."""

from __future__ import annotations

import math

import numpy as np
import pytest

import gen
import layers
import oracles
import procfs
import stats
from spans import Span, covered, inclusive, self_seconds, subtree


def _span(i, name, start, end, parent=None, **attrs):
    return Span(i, name, start, end, parent, 1, attrs)


# ------------------------------------------------------------- spans


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5)]) == 4  # overlap counted once
    assert covered(0, 10, [(-5, 2), (8, 20)]) == 4  # clipped to [0, 10]
    assert covered(0, 10, [(4, 6), (1, 2), (5, 9)]) == 6  # unsorted input
    assert covered(0, 10, [(3, 3)]) == 0


def test_self_seconds_subtracts_child_union():
    root = _span(1, "runner", 0.0, 10.0)
    kids = [_span(2, "extractors", 1.0, 4.0, 1), _span(3, "parquet", 3.0, 6.0, 1)]
    assert self_seconds(root, kids) == pytest.approx(5.0)
    assert self_seconds(root, []) == pytest.approx(10.0)


def test_inclusive_counts_whole_subtree():
    spans = [
        _span(1, "runner", 0, 10, None, jobs=1),
        _span(2, "loaders", 1, 5, 1, jobs=2),
        _span(3, "parquet", 2, 4, 2, jobs=3),
        _span(4, "runner", 11, 12, None, jobs=7),
    ]
    assert inclusive(spans, spans[0], "jobs") == 6
    assert inclusive(spans, spans[1], "jobs") == 5
    assert {s.id for s in subtree(spans, spans[0])} == {1, 2, 3}


# ------------------------------------------------------------- stats


def test_median_and_nearest_rank_percentile():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.median(xs) == 3.0
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(list(range(1, 101)), 90) == 90
    with pytest.raises(ValueError):
        stats.median([])


def test_supported_percentile_needs_ten_samples_beyond():
    assert stats.supported_percentile(list(range(10))) is None
    assert stats.supported_percentile(list(range(40))) == 75
    assert stats.supported_percentile(list(range(100))) == 90
    assert stats.supported_percentile(list(range(1000))) == 99
    s = stats.summary(list(range(1, 41)))
    assert s["n"] == 40 and s["p50"] == 20.5 and s["p75"] == 30


# ------------------------------------------------------------ procfs


def test_parse_stat_survives_odd_command_names():
    fields = ["S", "7"] + ["0"] * 9 + ["250", "50", "100", "0"] + ["0"] * 30
    line = "1234 (py (worker) x) " + " ".join(fields)
    st = procfs.parse_stat(line)
    assert (st.pid, st.ppid) == (1234, 7)
    assert st.cpu_s == pytest.approx(300 / procfs.CLK_TCK)
    assert st.child_cpu_s == pytest.approx(100 / procfs.CLK_TCK)


def test_parse_status_and_descendants():
    text = "Name:\tjava\nVmPeak:\t  9 kB\nVmHWM:\t  2048 kB\n"
    assert procfs.parse_status_kb(text, "VmHWM") == 2048
    with pytest.raises(KeyError):
        procfs.parse_status_kb(text, "VmSwap")
    t = {p: procfs.ProcStat(p, pp, 0.0, 0.0) for p, pp in [(1, 0), (2, 1), (3, 2), (4, 1), (5, 9)]}
    assert procfs.descendants(t, 1) == {2, 3, 4}
    assert procfs.descendants(t, 3) == set()


def test_own_process_readings_are_positive():
    assert procfs.peak_rss_mb([procfs.os.getpid()]) > 0
    assert procfs.parse_stat(open("/proc/self/stat").read()).cpu_s >= 0


# ----------------------------------------------------------- oracles


def test_mismatches_is_order_insensitive_and_exact():
    want = (["b", "a"], [(1.5, 1), (None, 2)])
    assert oracles.mismatches(want, (["a", "b"], [(2, None), (1, 1.5)])) == []
    assert oracles.mismatches(want, (["a", "b"], [(2, None), (1, 1.5000000001)]))
    assert oracles.mismatches(want, (["a", "b"], [(1, 1.5)])) == ["1 rows != expected 2"]
    assert oracles.mismatches(want, (["a", "c"], [(1, 1.5), (2, None)]))[0].startswith("columns")


def test_mismatches_is_repr_strict_and_nan_safe():
    assert oracles.mismatches((["x"], [(4420,)]), (["x"], [(4420.0,)]))
    assert oracles.mismatches((["x"], [(math.nan,)]), (["x"], [(float("nan"),)])) == []


def test_queue_oracle_composes_last_effective_event():
    con = oracles.connect({})
    con.execute("CREATE TABLE tgt0 AS SELECT * FROM (VALUES (1, 10.0), (2, 20.0), (3, 30.0)) t(c_custkey, c_acctbal)")
    con.execute("CREATE TABLE src AS SELECT * FROM (VALUES (1, 11.0), (2, 21.0), (3, 31.0)) t(c_custkey, c_acctbal)")
    con.execute(
        "CREATE TABLE queue AS SELECT * FROM (VALUES"
        " ('1', TIMESTAMP '2024-01-01 00:00:01', 'UPDATE'),"
        " ('2', TIMESTAMP '2024-01-01 00:00:02', 'REMOVE'),"
        " ('9', TIMESTAMP '2024-01-01 00:00:03', 'UPDATE'),"  # key the source lacks
        " ('3', TIMESTAMP '2024-01-01 00:00:04', 'REMOVE'),"
        " ('3', TIMESTAMP '2024-01-01 00:00:05', 'UPDATE')"  # re-inserted
        ") t(pkValue, timestampUpdated, method)"
    )
    _cols, rows = oracles.duck_rows(con, oracles.QUEUE_MERGE_ORACLE)
    assert sorted(rows) == [(1, 11.0), (3, 31.0)]


# --------------------------------------------------------- generators


def test_generators_are_pure_in_the_seed():
    assert gen.record_queue(3, 500, 100, "a").equals(gen.record_queue(3, 500, 100, "a"))
    assert not gen.record_queue(3, 500, 100, "a").equals(gen.record_queue(4, 500, 100, "a"))
    assert gen.documents(3, 50).equals(gen.documents(3, 50))
    assert gen.embeddings(3, 50).equals(gen.embeddings(3, 50))
    assert gen.append_cut(3, 1000, 100) == gen.append_cut(3, 1000, 100)


def test_queue_mixes_every_entry_kind():
    q = gen.record_queue(1, 4000, 1000, "a").to_pydict()
    keys = np.array([int(k) for k in q["pkValue"]])
    assert set(q["method"]) == {"UPDATE", "REMOVE"}
    assert (keys >= 1000).any()  # keys the source lacks
    _u, counts = np.unique(keys[keys < 1000], return_counts=True)
    assert counts.max() >= 20  # hot keys repeat within one 1000-entry batch
    ts = q["timestampUpdated"]
    assert all(a < b for a, b in zip(ts, ts[1:]))  # total drain order


def test_append_cut_keeps_tail_inside_table():
    for seed in range(20):
        cut = gen.append_cut(seed, 30_000, 4_000)
        assert 23_400 <= cut <= 26_000


# ------------------------------------------------------------ layers


def test_per_layer_rolls_spans_up_per_pass():
    spans = [
        _span(1, "runner", 0.0, 10.0, None, cycles=2, jobs=0, cpu=(1.0, 8.0, 0.0)),
        _span(2, "extractors", 0.0, 2.0, 1, jobs=3, tasks=3),
        _span(3, "loaders", 2.0, 6.0, 1, jobs=2, tasks=8),
        _span(4, "parquet", 3.0, 5.0, 3, jobs=1, tasks=4, commits=1, bytes=1000, table="t"),
        _span(5, "parquet", 6.0, 7.0, 1, commits=1, bytes=200, table="t__rollup_x"),
        _span(6, "tracking", 7.0, 7.5, 1),
        _span(7, "tracking", 8.0, 8.5, 1),
    ]
    out = layers.per_layer(spans, passes=1, rows=100, nproc=4)
    assert set(layers.PER_LAYER) - {"trace.overhead_s"} <= set(out)
    assert out["runner.cycles"] == 2 and out["tracking.puts"] == 2
    assert out["runner.self_s"] == pytest.approx(10.0 - 2.0 - 4.0 - 1.0 - 0.5 - 0.5)
    assert out["loaders.jobs"] == 3 and out["loaders.tasks"] == 12
    assert out["runner.jobs_per_cycle"] == pytest.approx(6 / 2)
    assert out["rollup.busy_s"] == pytest.approx(1.0)
    assert out["parquet.bytes_per_row"] == pytest.approx(12.0)
    assert out["cpu_busy_share"] == pytest.approx(9.0 / 40.0)
    assert out["similarity.semdedup.busy_s"] == 0.0
    halved = layers.per_layer(spans, passes=2, rows=100, nproc=4)
    assert halved["runner.cycles"] == 1 and halved["runner.jobs_per_cycle"] == pytest.approx(3)
