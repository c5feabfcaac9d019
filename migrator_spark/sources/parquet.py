"""Parquet-directory source/sink: ``<root>/<table>.parquet``.

Writes are atomic per table via symlink-pinned versioning: each
overwrite materializes a fresh version directory under
``<root>/.v/<table>/`` and atomically repoints the
``<table>.parquet`` symlink at it. Readers resolve the symlink once
(``table()``) and read the pinned version directory, which is retained
for KEEP_VERSIONS further overwrites — so a reader concurrent with a
swap sees a complete old or new table, never missing part-files.
Appends and swaps on the same table are serialized by a two-level
per-table lock — a ``threading.Lock`` within a driver process plus an
``fcntl.flock`` lockfile across driver processes — so an
insert-fast-path append can't land in a version directory a concurrent
swap (from this process or another one) is about to retire.

Multi-writer safety is two-level. Within one HOST, appends and swaps
on the same table are serialized by a per-table ``threading.Lock`` +
``fcntl.flock`` pair (cheap mutual exclusion — conflicting work never
starts). ACROSS hosts — where flock doesn't span NFS reliably — every
version publication goes through an OPTIMISTIC COMMIT LOG
(``<root>/.v/<table>/_commits/<N>.json``), Delta-style: a writer
claims commit N+1 by hardlink-publishing a temp file at the
deterministic name (the portable atomic-claim primitive that works on
NFS, where O_EXCL historically doesn't); exactly one claimant wins,
and a read-modify-write that loses re-runs its transform against the
winner's table state and retries at N+2 (``rmw``/``merge_pruned``
rebase; blind overwrites just advance). The commit log is the source
of truth for readers; the ``<table>.parquet`` symlink is kept
repointed as a human-friendly cache of the current version.

(Delta/Iceberg add conflict detection at FILE granularity plus a
catalog; this is the dependency-free equivalent at table-replacement
granularity, per SURVEY.md §7.4. The Delta source in sources/delta.py
reads and overwrites Delta tables but has no MERGE path.)
"""

from __future__ import annotations

import errno
import fcntl
import json
import os
import shutil
import socket
import threading
import time
import uuid
from bisect import bisect_left
from collections.abc import Iterable
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# old versions kept after a swap; bounds how long an in-flight reader
# holding a resolved version dir stays valid (N further overwrites)
KEEP_VERSIONS = 3


class CommitConflict(RuntimeError):
    """Another writer claimed the commit this writer raced for, and the
    caller's work was computed against a now-stale table state."""


@dataclass(frozen=True)
class MergeStats:
    """Outcome of a file-pruned merge: how much of the table was
    actually rewritten vs carried forward untouched."""

    total_files: int
    touched_files: int

    @property
    def pruned_files(self) -> int:
        return self.total_files - self.touched_files


# Key types whose footer min/max stats Python can compare against
# driver-collected keys without ordering surprises: timestamp
# tz-awareness, bytes-vs-str decode and decimal quantization can all
# mis-order or raise mid-merge, so only integral and string keys prune.
_PRUNABLE_KEY_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.StringType,
)


def _file_key_range(path: str, key_col: str):
    """(min, max) of ``key_col`` across a part-file's row groups, from
    the parquet footer only — no data pages are read. None when the
    footer carries no usable statistics (caller must treat the file as
    touched)."""
    md = pq.read_metadata(path)
    try:
        idx = md.schema.names.index(key_col)
    except ValueError:
        return None
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return None if lo is None else (lo, hi)


def _any_key_in(sorted_keys: list, lo, hi) -> bool:
    i = bisect_left(sorted_keys, lo)
    return i < len(sorted_keys) and sorted_keys[i] <= hi

class _TableLock:
    """Two-level writer lock for one table path: a ``threading.Lock``
    serializes threads inside this driver process, and an ``fcntl.flock``
    on a per-table lockfile serializes SEPARATE driver processes writing
    the same table (the round-3 residual, SCALE.md §6.1: the in-process
    lock alone let two drivers interleave swap/append). flock is
    kernel-held and vanishes automatically when the holder dies, so
    there is no stale-lockfile recovery path to get wrong. Advisory by
    design: all writers come through this class; readers never lock —
    symlink-pinned versions already give them snapshot isolation.

    The thread lock is taken FIRST so at most one thread per process
    ever reaches the flock (flock contends between file descriptors,
    including two fds in one process — ordering makes that moot).
    """

    def __init__(self, lockfile: str) -> None:
        self._tlock = threading.Lock()
        self._lockfile = lockfile

    def __enter__(self) -> "_TableLock":
        self._tlock.acquire()
        try:
            os.makedirs(os.path.dirname(self._lockfile), exist_ok=True)
            self._fd = os.open(self._lockfile, os.O_CREAT | os.O_RDWR, 0o644)
            try:
                fcntl.flock(self._fd, fcntl.LOCK_EX)
            except BaseException:
                os.close(self._fd)
                raise
        except BaseException:
            self._tlock.release()
            raise
        return self

    def __exit__(self, *exc) -> None:
        try:
            fcntl.flock(self._fd, fcntl.LOCK_UN)
            os.close(self._fd)
        finally:
            self._tlock.release()


_locks: dict[str, _TableLock] = {}
_locks_guard = threading.Lock()


def _lock_for(path: str) -> _TableLock:
    """Lock object for a table path. The lockfile lives under the
    table's ``.v`` version directory so ``<root>`` stays clean and the
    path is shared by every process that opens the same root."""
    key = os.path.abspath(path)
    lockfile = os.path.join(
        os.path.dirname(key), ".v", os.path.basename(key) + ".lock"
    )
    with _locks_guard:
        return _locks.setdefault(key, _TableLock(lockfile))


# Inferred-schema cache, keyed on (resolved table dir -> (n_parquet
#_files, schema)). Every bare ``spark.read.parquet(dir)`` runs a
# schema-inference footer job first (observed: one 1-task Spark job per
# read — 3-4 per pipeline E->T->L cycle, r14 phase profile); version
# dirs are IMMUTABLE once committed, so the inferred schema can be
# replayed into ``spark.read.schema(...)`` on every later read of the
# same dir. The append fast path adds part-files to the CURRENT version
# dir, so the key carries the parquet file count: an append changes the
# count and forces one re-inference (schema-preserving by the loader
# contract, but the cache does not assume it). A dir holding a
# subdirectory bypasses the cache: the count sees only the top level.
# Bounded FIFO — soak loops mint fresh fixture roots per run.
_SCHEMA_CACHE: "dict[str, tuple[int, object]]" = {}
_SCHEMA_CACHE_MAX = 512


def _read_parquet_dir(spark: SparkSession, d: str) -> DataFrame:
    """spark.read.parquet(d) without the per-read schema-inference job
    when this process has read the same (immutable) dir before."""
    try:
        entries = list(os.scandir(d))
    except OSError:
        return spark.read.parquet(d)  # let Spark raise its own error
    if any(e.is_dir() for e in entries):
        return spark.read.parquet(d)
    n = sum(1 for e in entries if e.name.endswith(".parquet"))
    hit = _SCHEMA_CACHE.get(d)
    if hit is not None and hit[0] == n:
        return spark.read.schema(hit[1]).parquet(d)
    df = spark.read.parquet(d)
    if len(_SCHEMA_CACHE) >= _SCHEMA_CACHE_MAX:
        _SCHEMA_CACHE.pop(next(iter(_SCHEMA_CACHE)))
    _SCHEMA_CACHE[d] = (n, df.schema)
    return df


class ParquetSource:
    def __init__(self, root: str) -> None:
        self.root = root.rstrip("/")

    def _path(self, name: str) -> str:
        return f"{self.root}/{name}.parquet"

    def _versions(self, name: str) -> str:
        return f"{self.root}/.v/{name}"

    def _log_dir(self, name: str) -> str:
        return f"{self._versions(name)}/_commits"

    # ------------------------------------------- optimistic commit log

    def current_commit(self, name: str) -> tuple[int, str | None]:
        """Newest committed (number, version-dir basename); (-1, None)
        before the first logged commit. A stale read here (NFS attribute
        caching) is safe: it only makes a subsequent claim fail and
        retry."""
        d = self._log_dir(name)
        best, best_file = -1, None
        try:
            for fn in os.listdir(d):
                if fn.endswith(".json") and fn[:-5].isdigit():
                    n = int(fn[:-5])
                    if n > best:
                        best, best_file = n, os.path.join(d, fn)
        except FileNotFoundError:
            return (-1, None)
        if best_file is None:
            return (-1, None)
        with open(best_file) as f:
            return best, json.load(f)["version"]

    def _try_commit(self, name: str, new_version: str, commit_n: int) -> bool:
        """Atomically claim commit ``commit_n`` for ``new_version``.
        Exactly one concurrent claimant returns True.

        The claim is ``os.link(tmp, '<N>.json')`` — write the payload to
        a private temp file, then hardlink it at the deterministic
        commit name. link(2) is atomic and fails if the name exists, and
        unlike O_CREAT|O_EXCL it is dependable over NFS; the classic
        lost-reply case (the server linked but the reply vanished, so
        the client sees an error) is disambiguated by ``st_nlink == 2``
        on the temp file."""
        d = self._log_dir(name)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f"._claim-{uuid.uuid4().hex[:12]}")
        with open(tmp, "w") as f:
            f.write(
                json.dumps(
                    {
                        "version": os.path.basename(new_version),
                        "writer": f"{socket.gethostname()}:{os.getpid()}",
                        "ts": time.time(),
                    }
                )
            )
            f.flush()
            os.fsync(f.fileno())
        try:
            try:
                os.link(tmp, os.path.join(d, f"{commit_n}.json"))
                return True
            except OSError as e:
                if os.stat(tmp).st_nlink == 2:
                    # NFS lost reply: the server linked but the reply
                    # vanished — the claim is ours
                    return True
                if e.errno == errno.EEXIST:
                    return False  # genuinely lost the race
                # EPERM/EOPNOTSUPP/EXDEV etc.: hardlinks are broken on
                # this filesystem, not a lost race — surface it rather
                # than letting _swap spin on an unchanged commit number
                # (ADVICE r5 #2)
                raise
        finally:
            os.unlink(tmp)

    def _current_dir(self, name: str) -> str:
        """The current table state: the commit log's newest version if
        one exists (source of truth), else the symlink target (legacy
        tables written before the log)."""
        _n, v = self.current_commit(name)
        if v is not None:
            p = f"{self._versions(name)}/{v}"
            if os.path.isdir(p):
                return p
        return os.path.realpath(self._path(name))

    def table(self, spark: SparkSession, name: str) -> DataFrame:
        # resolve to a pinned version dir here: a concurrent commit
        # publishes a NEW dir but never mutates the files this
        # DataFrame will list; the dir's immutability is also what lets
        # the schema cache skip the per-read inference job
        return _read_parquet_dir(spark, self._current_dir(name))

    # ------------------------------------------------- footer metadata
    #
    # Driver-side reads of the CURRENT version's parquet footers — row
    # counts and column min/max come from file metadata, so callers that
    # only need "how many rows" or "the max of a constant-per-write
    # column" (the rollup sequence number, VERDICT r11 #7) pay a few
    # stat() + footer parses instead of a Spark job over the table.

    def footer_num_rows(self, name: str) -> int:
        """Total row count of ``name`` from part-file footers only."""
        current = self._current_dir(name)
        total = 0
        for e in os.scandir(current):
            if e.is_file() and e.name.endswith(".parquet"):
                total += pq.read_metadata(e.path).num_rows
        return total

    # Physical types whose footer min/max are EXACT by the parquet spec.
    # String/binary (BYTE_ARRAY / FIXED_LEN_BYTE_ARRAY) statistics may be
    # TRUNCATED bounds — still valid for range pruning (_file_key_range:
    # a truncated max is adjusted upward, so [min, max] remains a cover),
    # but wrong as a VALUE: footer_column_max returns the statistic
    # itself, so it must refuse them (ADVICE r12 #4). FLOAT/DOUBLE are
    # excluded too: NaN handling makes legacy writer stats unreliable.
    _EXACT_STATS_PHYSICAL = frozenset({"INT32", "INT64", "INT96", "BOOLEAN"})

    def footer_column_max(self, name: str, col: str):
        """(max of ``col`` across ``name``, stats_ok) from footers only.

        ``stats_ok`` is False when any non-empty row group lacks usable
        min/max statistics for ``col``, the column is missing from a
        file, OR the column's physical type is outside
        ``_EXACT_STATS_PHYSICAL`` (integer/temporal storage) — parquet
        writers may store truncated min/max for string/binary columns,
        which are correct as pruning BOUNDS but not as the max VALUE
        this helper returns — the caller must fall back to a real scan.
        A table with zero rows returns (None, True)."""
        current = self._current_dir(name)
        hi = None
        for e in os.scandir(current):
            if not (e.is_file() and e.name.endswith(".parquet")):
                continue
            md = pq.read_metadata(e.path)
            if md.num_rows == 0:
                continue
            try:
                idx = md.schema.names.index(col)
            except ValueError:
                return None, False
            if md.schema.column(idx).physical_type not in self._EXACT_STATS_PHYSICAL:
                return None, False
            for rg in range(md.num_row_groups):
                grp = md.row_group(rg)
                if grp.num_rows == 0:
                    continue
                st = grp.column(idx).statistics
                if st is None or not st.has_min_max:
                    return None, False
                hi = st.max if hi is None else max(hi, st.max)
        return hi, True

    def exists(self, spark: SparkSession, name: str) -> bool:
        # the commit log also counts: a crash between the log claim and
        # the symlink repoint must not make a committed table invisible
        return os.path.exists(self._path(name)) or self.current_commit(name)[0] >= 0

    def write(self, df: DataFrame, name: str, mode: str = "overwrite") -> None:
        os.makedirs(self.root, exist_ok=True)
        final = self._path(name)
        lock = _lock_for(final)
        if mode == "append" and os.path.isdir(final):
            # insert-only fast path: add part-files to the CURRENT
            # version, no rewrite, no commit. Lock so the resolved
            # target can't be retired mid-append by a same-host swap.
            # Cross-host this trades safety for speed (an append racing
            # a remote overwrite can land in a retired version) — the
            # safe cross-host path is rmw/merge_pruned, which rebase.
            with lock:
                df.write.mode("append").parquet(self._current_dir(name))
            return
        # materialize fully before publishing; if df reads this same
        # table, it reads the still-intact current version
        new_version = self._materialize(df, name)
        with lock:
            self._swap(name, new_version)

    def rmw(self, spark: SparkSession, name: str, fn, max_attempts: int = 6) -> None:
        """Replace ``name`` with ``fn(current_df)`` under optimistic
        concurrency. The flock serializes same-host writers (their
        conflicting work never starts); across hosts the commit claim
        detects a racing writer, and the loser REBASES — re-runs ``fn``
        against the winner's table state — and retries at the next
        commit number, so no update is ever silently lost. A concurrent
        ``write(mode='append')`` on the same host either lands before
        the listing (and is seen by ``fn``) or after the swap (and
        survives it)."""
        with _lock_for(self._path(name)):
            for _ in range(max_attempts):
                expected, _v = self.current_commit(name)
                df = fn(_read_parquet_dir(spark, self._current_dir(name)))
                new_version = self._materialize(df, name)
                try:
                    self._swap(name, new_version, expected=expected)
                    return
                except CommitConflict:
                    shutil.rmtree(new_version, ignore_errors=True)
            raise CommitConflict(
                f"rmw on table {name!r}: lost the commit race "
                f"{max_attempts} times; giving up"
            )

    def merge_pruned(
        self,
        spark: SparkSession,
        name: str,
        batch_keys: Iterable,
        key_col: str,
        merge_fn,
        cluster_cols: list[str] | None = None,
    ) -> MergeStats:
        """File-pruned MERGE: rewrite ONLY the part-files whose footer
        [min, max] range of ``key_col`` intersects ``batch_keys`` (the
        batch's ``key_col`` values, collected by the caller);
        every other part-file is carried into the new table version by
        hardlink — a metadata-only operation, no data read or copied.

        This is the execution of MySQL REPLACE/DELETE semantics
        (/root/reference/batched_queries.go:21-23,28-74) the way Delta
        MERGE executes it at scale — file skipping from column
        statistics plus copy-forward of unmatched files — implemented
        over the dependency-free versioned-parquet layout. The
        full-table-rewrite write amplification of ``rmw`` (the round-1/2
        scale liability) drops to O(files containing matched keys):
        with a range-clustered target and a key-localized batch that is
        a small fraction of the table.

        Correctness: any target row whose key equals a batch key lies
        in a file whose stats range covers that key, so every possibly-
        matched row reaches ``merge_fn``; files without statistics are
        conservatively treated as touched. ``merge_fn(touched_df)``
        returns the replacement rows for the touched subset (typically
        ``apply_cdc_batch(touched_df, batch, ...)`` — batch rows with
        keys outside every file range surface as brand-new inserts
        there). NULL batch keys cannot match any stats range and are
        ignored for pruning.

        Composite merge keys prune on their LEADING column: a target row
        matching a batch row on every key column necessarily matches on
        the leading one, so the leading-column footer intersection is a
        correct superset of the files that can hold matches; ``merge_fn``
        then applies the full composite-key semantics to that slice.
        Callers pass ``key_col`` = leading column and the full key list
        as ``cluster_cols`` so the rewrite keeps multi-column locality.

        The rewritten slice is re-range-clustered on ``cluster_cols``
        (default ``[key_col]``) so repeated merges keep the layout
        prunable. Same-host writers serialize on the table lock; across
        hosts the commit claim detects a racing writer and the merge
        REBASES — re-prunes and re-merges against the winner's state —
        so concurrent merges of disjoint batches both land.
        """
        cluster = [F.col(c) for c in (cluster_cols or [key_col])]
        final = self._path(name)
        max_attempts = 6
        keys = sorted({k for k in batch_keys if k is not None})
        with _lock_for(final):
            for _ in range(max_attempts):
                expected, _v = self.current_commit(name)
                current = self._current_dir(name)
                parts = sorted(
                    e.path
                    for e in os.scandir(current)
                    if e.is_file() and e.name.endswith(".parquet")
                )
                touched, kept = [], []
                for p in parts:
                    rng = _file_key_range(p, key_col)
                    if rng is None or _any_key_in(keys, rng[0], rng[1]):
                        touched.append(p)
                    else:
                        kept.append(p)
                if touched:
                    # touched files all live in `current`; reuse its
                    # cached schema so the read runs no inference job
                    tdf = spark.read.schema(
                        _read_parquet_dir(spark, current).schema
                    ).parquet(*touched)
                else:
                    tdf = spark.createDataFrame(
                        [], _read_parquet_dir(spark, current).schema
                    )
                merged = merge_fn(tdf)
                n_out = max(1, len(touched))
                merged = merged.repartitionByRange(
                    n_out, *cluster
                ).sortWithinPartitions(*cluster)
                vdir = self._versions(name)
                os.makedirs(vdir, exist_ok=True)
                new_version = f"{vdir}/{uuid.uuid4().hex[:12]}"
                merged.write.mode("overwrite").parquet(new_version)
                for p in kept:
                    os.link(
                        p,
                        f"{new_version}/keep-{uuid.uuid4().hex[:8]}-{os.path.basename(p)}",
                    )
                try:
                    self._swap(name, new_version, expected=expected)
                    return MergeStats(
                        total_files=len(parts), touched_files=len(touched)
                    )
                except CommitConflict:
                    shutil.rmtree(new_version, ignore_errors=True)
            raise CommitConflict(
                f"merge_pruned on table {name!r}: lost the commit race "
                f"{max_attempts} times; giving up"
            )

    def _materialize(self, df: DataFrame, name: str) -> str:
        vdir = self._versions(name)
        os.makedirs(vdir, exist_ok=True)
        new_version = f"{vdir}/{uuid.uuid4().hex[:12]}"
        df.write.mode("overwrite").parquet(new_version)
        return new_version

    def _swap(self, name: str, new_version: str, expected: int | None = None) -> None:
        """Publish ``new_version`` as the next table state: claim the
        next commit number in the log, then repoint the symlink (the
        human-friendly cache of the current version).

        ``expected``: the commit number the caller's work was computed
        against (read-modify-write). If the log has moved past it, or
        another claimant wins the race for ``expected + 1``, raises
        :class:`CommitConflict` so the caller rebases. ``None`` means a
        blind overwrite — content independent of prior state — which
        just advances to whatever the next free number is."""
        final = self._path(name)
        vdir = self._versions(name)
        if os.path.lexists(final) and not os.path.islink(final):
            # legacy plain directory: adopt it as a version so the
            # path can become a symlink
            os.makedirs(vdir, exist_ok=True)
            adopted = f"{vdir}/{uuid.uuid4().hex[:12]}"
            os.rename(final, adopted)
            if self.current_commit(name)[0] == -1:
                self._try_commit(name, adopted, 0)
        elif os.path.lexists(final) and self.current_commit(name)[0] == -1:
            # legacy symlink-only table: record its current state as
            # commit 0 so histories agree across writers (losing this
            # bootstrap race is fine — someone recorded a commit 0)
            cur = os.path.realpath(final)
            if os.path.isdir(cur):
                self._try_commit(name, cur, 0)
        n, _v = self.current_commit(name)
        if expected is not None:
            if expected == -1 and n <= 0:
                # the caller read a pre-log table; the bootstrap above
                # recorded that same state as commit 0
                expected = n
            if n != expected:
                raise CommitConflict(
                    f"table {name!r}: computed against commit {expected}, "
                    f"log is at {n}"
                )
        while not self._try_commit(name, new_version, n + 1):
            if expected is not None:
                raise CommitConflict(
                    f"table {name!r}: lost the claim race for commit {n + 1}"
                )
            n, _v = self.current_commit(name)
        tmp_link = f"{self.root}/.{name}.{uuid.uuid4().hex[:8]}.lnk"
        os.symlink(os.path.abspath(new_version), tmp_link)
        os.replace(tmp_link, final)  # atomic repoint
        self._gc(name, keep=KEEP_VERSIONS)

    def _gc(self, name: str, keep: int) -> None:
        """Bound retained history: keep every version referenced by the
        newest ``keep + 1`` commits (plus the current target), drop the
        rest — except the 2 newest-by-mtime unreferenced dirs, which may
        be a concurrent writer's not-yet-committed materialization.
        Commit files older than the retained window are pruned with
        their versions. Called under the table lock."""
        vdir = self._versions(name)
        log = self._log_dir(name)
        current = os.path.realpath(self._path(name))
        referenced: set[str] = set()  # by the retained commit window
        ever_committed: set[str] = set()  # by ANY commit file
        commit_files: list[tuple[int, str]] = []
        if os.path.isdir(log):
            for fn in os.listdir(log):
                if fn.endswith(".json") and fn[:-5].isdigit():
                    commit_files.append((int(fn[:-5]), os.path.join(log, fn)))
            commit_files.sort(reverse=True)
            for i, (_n, p) in enumerate(commit_files):
                try:
                    with open(p) as f:
                        v = json.load(f)["version"]
                except (OSError, ValueError):
                    continue
                ever_committed.add(v)
                if i <= keep:
                    referenced.add(v)
        versions = sorted(
            (
                e.path
                for e in os.scandir(vdir)
                if e.is_dir() and e.name != "_commits"
            ),
            key=os.path.getmtime,
            reverse=True,
        )
        if not commit_files:
            # legacy table without a log: keep the newest N by mtime
            others = [v for v in versions if os.path.realpath(v) != current]
            for stale in others[keep:]:
                shutil.rmtree(stale, ignore_errors=True)
            return
        # dirs no commit has EVER referenced may be a concurrent
        # writer's in-flight materialization — grace the 2 newest;
        # dirs referenced only by commits beyond the window are
        # retired history and go
        unreferenced_grace = 2
        for v in versions:
            base = os.path.basename(v)
            if os.path.realpath(v) == current or base in referenced:
                continue
            if base not in ever_committed and unreferenced_grace > 0:
                unreferenced_grace -= 1
                continue
            shutil.rmtree(v, ignore_errors=True)
        for _n, p in commit_files[keep + 1 :]:
            try:
                os.unlink(p)
            except OSError:
                pass

    # ---------------------------------------------------- time travel

    def versions(self, name: str) -> list[dict]:
        """Retained versions of ``name``, newest first: ``{version,
        mtime, is_current}``. The versioned layout keeps the current
        target plus KEEP_VERSIONS predecessors (GC'd on swap), so every
        CDC merge leaves a short audit trail of table states for free —
        the dependency-free slice of Delta's DESCRIBE HISTORY."""
        vdir = self._versions(name)
        if not os.path.isdir(vdir):
            return []
        current = os.path.realpath(self._current_dir(name))
        out = [
            {
                "version": os.path.basename(e.path),
                "mtime": os.path.getmtime(e.path),
                "is_current": os.path.realpath(e.path) == current,
            }
            for e in os.scandir(vdir)
            if e.is_dir() and e.name != "_commits"
        ]
        return sorted(out, key=lambda v: v["mtime"], reverse=True)

    def table_at(self, spark: SparkSession, name: str, version: str) -> DataFrame:
        """Read a RETAINED historical version (time travel): what did
        this table hold before the last N merges? Raises KeyError for
        unknown/GC'd versions — history is bounded by KEEP_VERSIONS,
        deliberately (unbounded history is a storage policy, not a
        default)."""
        vpath = f"{self._versions(name)}/{version}"
        if not os.path.isdir(vpath):
            raise KeyError(
                f"version {version!r} of table {name!r} not retained "
                f"(KEEP_VERSIONS={KEEP_VERSIONS})"
            )
        return _read_parquet_dir(spark, vpath)

    def diff_versions(
        self,
        spark: SparkSession,
        name: str,
        old_version: str,
        new_version: str | None,
        key_cols: list[str],
    ) -> DataFrame:
        """What changed between two retained versions — the merge-audit
        read ("what did last night's CDC apply actually do?"). Returns
        one row per changed key with ``_change`` ∈ INSERT/REMOVE/UPDATE.
        ``new_version=None`` means the current table.

        Full outer join on the key, change classification by presence
        and row-hash inequality (60-bit stable hash over the non-key
        columns) — unchanged rows never leave the join, so output is
        proportional to the delta, and at scale both sides prune to the
        joined key ranges. Versions separated by a SCHEMA-EVOLVED merge
        diff fine: both sides are aligned first (evolution-added
        columns read NULL on the old side, so every pre-evolution row
        whose new version now carries a value reports UPDATE — which is
        the truth of what the merge wrote). The row hash NULL-tags each
        column before folding (a NULL and an empty string hash
        differently, and values cannot shift across column boundaries),
        unlike replica_checksum's documented concat_ws trade — this is
        a per-row change classifier, where a false "unchanged" defeats
        the audit.
        """
        from migrator_spark.functions.hashing import stable_hash64
        from migrator_spark.operators.load import align_schemas

        old = self.table_at(spark, name, old_version)
        new = (
            self.table(spark, name)
            if new_version is None
            else self.table_at(spark, name, new_version)
        )
        old, new = align_schemas(old, new)
        non_keys = sorted(c for c in new.columns if c not in key_cols)

        def hashed(df: DataFrame, tag: str) -> DataFrame:
            cells = [
                F.concat_ws(
                    "\x02",
                    F.col(c).isNull().cast("string"),
                    F.coalesce(F.col(c).cast("string"), F.lit("")),
                )
                for c in non_keys
            ]
            return df.select(
                *key_cols,
                stable_hash64(F.concat_ws("\x01", *cells)).alias(f"_h_{tag}"),
                F.lit(True).alias(f"_in_{tag}"),
            )

        j = hashed(old, "old").join(hashed(new, "new"), on=key_cols, how="full_outer")
        change = (
            F.when(F.col("_in_old").isNull(), F.lit("INSERT"))
            .when(F.col("_in_new").isNull(), F.lit("REMOVE"))
            .when(F.col("_h_old") != F.col("_h_new"), F.lit("UPDATE"))
        )
        return (
            j.withColumn("_change", change)
            .filter(F.col("_change").isNotNull())
            .select(*key_cols, "_change")
        )
