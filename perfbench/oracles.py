"""DuckDB reference computations and the row comparison.

The CDC oracles compose the change stream in one batch query — per key
the LAST EFFECTIVE event wins, where effective means a REMOVE or an
UPDATE whose key the source has — in the shape of the engine's
``PIPELINE_E2E_ORACLE`` / ``MNT2_ORACLE``, but over this benchmark's
generated tables. The curation oracles are the engine's own
``SD1_ORACLE``, ``DD2_ORACLE`` and ``DS1_ORACLE``.
"""

from __future__ import annotations

import math

import duckdb

# views: tgt0 (target before the drain), src (CDC source), queue
QUEUE_MERGE_ORACLE = """
WITH eff AS (
  SELECT CAST(q.pkValue AS BIGINT) AS k, q.timestampUpdated AS tu,
         q.pkValue AS pkv, q.method
  FROM queue q LEFT JOIN src s ON s.c_custkey = CAST(q.pkValue AS BIGINT)
  WHERE q.method = 'REMOVE' OR s.c_custkey IS NOT NULL
),
final AS (
  SELECT k, method FROM eff
  QUALIFY row_number() OVER (PARTITION BY k ORDER BY tu DESC, pkv DESC) = 1
)
SELECT * FROM tgt0 WHERE c_custkey NOT IN (SELECT k FROM final)
UNION ALL
SELECT s.* FROM src s JOIN final f ON f.k = s.c_custkey AND f.method = 'UPDATE'
"""

# views: src (every order); the target after the drain holds all of them
APPEND_TARGET_ORACLE = "SELECT * FROM src"

APPEND_ROLLUP_ORACLE = """
SELECT o_orderpriority,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_val,
       CAST(count(*) AS BIGINT) AS n_rows
FROM src GROUP BY o_orderpriority
"""


def connect(views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with one view per ``name -> parquet path``."""
    con = duckdb.connect()
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if v is None:
        return "<NULL>"
    return v


def canonical(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name and rows sorted by ``repr``: the
    order-insensitive form both sides are compared in."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return [columns[i] for i in order], sorted(out, key=repr)


def mismatches(expected, actual, limit: int = 5) -> list[str]:
    """Differences between two ``(columns, rows)`` pairs, exact on every
    value (floats included); empty when they agree."""
    (ec, er), (ac, ar) = canonical(*expected), canonical(*actual)
    if ec != ac:
        return [f"columns {ac} != expected {ec}"]
    if len(er) != len(ar):
        return [f"{len(ar)} rows != expected {len(er)}"]
    out = []
    for i, (e, a) in enumerate(zip(er, ar)):
        if repr(e) != repr(a):
            out.append(f"row {i}: {a!r} != expected {e!r}")
            if len(out) >= limit:
                break
    return out


def duck_rows(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.sql(sql)
    return list(rel.columns), rel.fetchall()


def spark_rows(df) -> tuple[list[str], list[tuple]]:
    return list(df.columns), [tuple(r) for r in df.collect()]
