"""Restartable tracking offsets (the reference's EtlPosition table,
tracking.go:12-109).

One TrackingStatus row per (source_database, source_table):
column_name, sequential_position (int64), timestamp_position,
timestamp_tie (the last extracted row's tiebreak at that timestamp),
last_run.

Storage is a JSON file per key under a tracking directory, written
atomically (tmp + os.replace). This is driver-side bookkeeping for a
single scalar per table — a Spark job would be overkill; the JSON file
plays the role of Structured Streaming's offset log. The important
semantic — the fix over the reference (SURVEY.md §2.11): the runner
commits the advanced offset only AFTER the loader has committed, so a
failed load replays the batch instead of losing it (at-least-once +
idempotent merge = effectively-once).
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass
from datetime import datetime, timezone


@dataclass
class TrackingStatus:
    source_database: str
    source_table: str
    column_name: str = ""
    sequential_position: int = 0
    timestamp_position: str | None = None  # ISO-8601, like NullTime's RFC3339
    last_run: str | None = None
    # tiebreak of the last extracted row at timestamp_position; None
    # resumes strictly after timestamp_position
    timestamp_tie: str | None = None

    @property
    def timestamp_position_dt(self) -> datetime | None:
        if self.timestamp_position is None:
            return None
        return datetime.fromisoformat(self.timestamp_position)


class TrackingStore:
    """File-backed tracking table; one JSON doc per (db, table)."""

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, db: str, table: str) -> str:
        safe = f"{db}__{table}".replace("/", "_")
        return os.path.join(self.root, f"{safe}.json")

    def get(self, db: str, table: str, column: str = "") -> TrackingStatus:
        """Read current status; seeds a zero-position row if absent
        (mirrors migrator.go:249-257 SerializeNewTrackingStatus)."""
        p = self._path(db, table)
        if os.path.exists(p):
            with open(p) as f:
                return TrackingStatus(**json.load(f))
        return TrackingStatus(source_database=db, source_table=table, column_name=column)

    def put(self, ts: TrackingStatus) -> None:
        ts.last_run = datetime.now(timezone.utc).isoformat()
        p = self._path(ts.source_database, ts.source_table)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(asdict(ts), f)
        os.replace(tmp, p)

    def all(self) -> list[TrackingStatus]:
        out = []
        for fn in sorted(os.listdir(self.root)):
            if fn.endswith(".json"):
                with open(os.path.join(self.root, fn)) as f:
                    out.append(TrackingStatus(**json.load(f)))
        return out


def bootstrap_from_target(
    store: TrackingStore,
    spark,
    target,
    db: str,
    table: str,
    key_col: str,
    timestamp_col: str | None = None,
    target_table: str | None = None,
) -> TrackingStatus:
    """Seed tracking from a PRE-EXISTING destination: start replication
    at the destination's MAX(key) instead of 0, so pointing the
    pipeline at an already-populated replica resumes instead of
    re-copying the table (the reference always starts at position 0
    unless an EtlPosition row exists, tracking.go:33-45 — bootstrapping
    a primed replica means hand-writing that row).

    An existing tracking row always wins (it is the committed truth;
    the destination may legitimately be AHEAD of it mid-crash). For
    parquet targets the max comes from the FOOTER statistics of the
    table's current version (``ParquetSource.footer_column_max``, which
    resolves it through the commit log) — no data pages are read, so
    bootstrapping against a 100 TB destination costs one metadata pass,
    not a table scan. Keys whose footer max is not exact (string keys),
    and other sources, fall back to a distributed ``agg(max(key))``
    (map-side partial max, single-row result).
    """
    existing = store.get(db, table, key_col)
    if existing.last_run is not None:
        return existing
    from migrator_spark.sources.parquet import ParquetSource

    tgt_table = target_table or table  # tracking keys on SOURCE table
    ts_pos = None
    if not target.exists(spark, tgt_table):
        return existing
    ok = False
    if isinstance(target, ParquetSource) and timestamp_col is None:
        pos, ok = target.footer_column_max(tgt_table, key_col)
    if not ok:
        from pyspark.sql import functions as F

        agg = [F.max(key_col).alias("k")]
        if timestamp_col is not None:
            agg.append(F.max(timestamp_col).alias("t"))
        row = target.table(spark, tgt_table).agg(*agg).first()
        pos = row["k"]
        if timestamp_col is not None and row["t"] is not None:
            # Seed one microsecond BELOW the destination max: extraction
            # filters strictly ts > position, and timestamps need not be
            # unique — seeding at the exact max would permanently skip
            # any source rows sharing it that never reached a partially
            # loaded replica. Re-copying the boundary tie is free:
            # REPLACE-merge is idempotent (ADVICE r4 #3).
            from datetime import timedelta

            ts_pos = (row["t"] - timedelta(microseconds=1)).isoformat()
    seeded = TrackingStatus(
        source_database=db,
        source_table=table,
        column_name=key_col,
        sequential_position=int(pos) if pos is not None and ts_pos is None else 0,
        timestamp_position=ts_pos,
    )
    store.put(seeded)
    return seeded
