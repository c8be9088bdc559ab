"""Versioned parquet table store — the engine's mutable-table sink.

The reference mutates PostgreSQL tables in place under transactions
(commit/rollback, ref tiny_api_v2_cliente.py:404-413). Parquet files
are immutable and Spark cannot overwrite a path it is reading, so the
engine gets transactional table semantics the way lakehouse formats do:
each MERGE writes a brand-new version directory and then atomically
swaps a pointer file — readers of the old version are unaffected, a
crash mid-write leaves the previous version current (rollback for
free), and re-running a failed write is harmless.

This is a deliberately minimal Delta-style commit protocol: versioned
data dirs + an atomically-renamed ``_CURRENT`` pointer. At 100 TB the
same layout works per-partition; only the pointer update is a
single-writer point.
"""

from __future__ import annotations

import errno
import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType, _parse_datatype_string


def write_atomic(path: str, text: str) -> None:
    """Replace the file at ``path`` with ``text``, all or nothing.

    Writes a temp file in the same directory, fsyncs it, then renames
    it onto ``path`` (atomic on POSIX): a reader sees the old content
    or the new, never a torn write, and a crash before the rename
    leaves the old file in place. Creates the parent directory.
    """
    parent = os.path.dirname(path) or "."
    os.makedirs(parent, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=parent, prefix=f".{os.path.basename(path)}.")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        os.unlink(tmp)
        raise


def read_json(path: str):
    """The JSON document at ``path``, or None when there is none."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this writer's read and commit.

    The optimistic-concurrency conflict signal every commit can
    raise: the caller should re-read the table,
    recompute its write against the new current version, and retry —
    the transaction-retry loop the reference gets from PostgreSQL
    (ref tiny_api_v2_cliente.py:404-413) expressed over immutable
    version directories.
    """


class TableStore:
    """A named, versioned parquet table rooted at ``path``."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schema: StructType,
        partition_by: list[str] | None = None,
    ):
        """``partition_by``: hive-style partition columns for every
        version written — the 100 TB lever: filters on these columns
        prune whole directories before any file is opened (the engine's
        analog of the reference pushing its date filter to the API,
        ref tiny_api_v2_cliente.py:348)."""
        self.spark = spark
        self.path = path
        self.schema = self._load_schema() or schema
        self.partition_by = partition_by or []
        os.makedirs(path, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_CURRENT")

    @property
    def _schema_file(self) -> str:
        return os.path.join(self.path, "_SCHEMA")

    def _load_schema(self) -> StructType | None:
        """Evolved schema persisted by add_column, if any.

        The stored schema wins over the constructor argument so every
        reader/writer instance sees the table's current shape — the
        catalog role the reference delegates to PostgreSQL's DDL.
        """
        doc = read_json(self._schema_file)
        return None if doc is None else StructType.fromJson(doc)

    def _save_schema(self) -> None:
        write_atomic(self._schema_file, json.dumps(self.schema.jsonValue()))

    def add_column(self, name: str, dtype: str) -> bool:
        """ALTER TABLE ADD COLUMN IF NOT EXISTS — idempotent widening.

        Mirrors the reference's tolerant schema evolution (ALTER TABLE
        ... ADD COLUMN IF NOT EXISTS data_filtro_api, ref
        tiny_api_v2_cliente.py:93, exception-tolerant at :97-99).
        Existing version directories are never rewritten: the parquet
        reader fills the absent column with NULLs when reading old
        versions through the widened schema — O(1) DDL at any size.
        Returns False (no-op) if the column already exists.
        """
        if name in self.schema.fieldNames():
            return False
        self.schema = StructType(
            self.schema.fields + [StructField(name, _parse_datatype_string(dtype), True)]
        )
        self._save_schema()
        return True

    def current_version(self) -> int:
        """Newest committed version: max(pointer, newest version dir);
        0 when nothing is committed (version 0 is the empty table).

        The version-directory RENAME is the commit record — a renamed
        dir always holds a complete write (staging is renamed only
        after the parquet write finishes), so a crash between the
        rename and the pointer swap rolls FORWARD: the next reader or
        writer sees the renamed version as current and the pointer
        heals on the next commit. Without this, an orphaned claimed
        dir would make every subsequent commit fail its rename
        forever (the pointer never advancing past the orphan).
        """
        ptr = 0
        try:
            with open(self._pointer) as f:
                ptr = int(f.read().strip())
        except (FileNotFoundError, ValueError):
            pass
        return max([ptr, *self.versions()[-1:]])

    def _version_dir(self, v: int) -> str:
        return os.path.join(self.path, f"v{v:06d}")

    def exists(self) -> bool:
        return self.current_version() > 0

    def read(self) -> DataFrame:
        return self.read_version(self.current_version())

    def read_version(self, version: int) -> DataFrame:
        """Time-travel read of a committed version.

        Old version directories are immutable (commit never rewrites
        them), so any retained version stays readable — the input to
        merge.snapshot_diff CDC recovery and to reproducing what a
        query saw at an earlier run. Version 0 is the empty table in
        the current schema. Raises if the version was never committed.
        """
        if version == 0:
            return self.spark.createDataFrame([], self.schema)
        d = self._version_dir(version)
        if not os.path.isdir(d):
            raise ValueError(f"version {version} does not exist at {self.path}")
        return self.spark.read.schema(self.schema).parquet(d)

    def versions(self) -> list[int]:
        """All committed versions present on disk, ascending."""
        out = []
        for name in os.listdir(self.path):
            if name.startswith("v") and name[1:].isdigit():
                out.append(int(name[1:]))
        return sorted(out)

    def commit(
        self,
        df: DataFrame,
        n_files: int | None = None,
        cluster_by: list[str] | None = None,
        expected_version: int | None = None,
    ) -> int:
        """Write ``df`` as the next version and swap the pointer.

        Every commit is optimistic, the check-before-swing Delta's
        commit protocol makes: ``expected_version`` is the version the
        write was COMPUTED FROM (``current_version()`` at read time; 0
        for an empty table, None for "the version on disk when this
        commit starts"), and the commit fails with ConcurrentWriteError
        if another writer advanced the table since — instead of
        silently losing that writer's rows.

        The write NEVER touches the shared version directory directly:
        data lands in a private staging dir (unique per attempt), and
        the version number is claimed by an atomic directory rename
        onto ``v{expected+1}`` — exactly one of two racing writers can
        win it; the loser raises ConcurrentWriteError and its staging
        dir is discarded, so a committed directory is never touched.

        ``n_files`` coalesces the write to that many output files —
        the small-files control: a MERGE rewriting a table through 32
        shuffle partitions would otherwise emit 32 files per version,
        and at daily cadence the file count (not the data) becomes the
        scan bottleneck. Coalesce (not repartition): narrowing needs
        no extra shuffle.

        ``cluster_by`` range-partitions then sorts within partitions
        on the given columns before writing — the data-skipping lever:
        parquet row-group min/max stats on a clustered column become
        tight, disjoint ranges, so a point/range filter on it prunes
        whole row groups and files at scan time (poor-man's Z-order
        for the single-dimension case). Worth one extra shuffle when
        the table is read selectively many times per write.
        """
        base = self._check_base(expected_version)
        return self._claim_version(self._stage_write(df, n_files, cluster_by), base)

    def _check_base(self, expected_version: int | None) -> int:
        """The version a commit is computed from: ``expected_version``,
        or the current one when None. Raises ConcurrentWriteError when
        the table is no longer at it."""
        now = self.current_version()
        if expected_version is not None and now != expected_version:
            raise ConcurrentWriteError(
                f"table at {self.path} advanced to v{now} since "
                f"v{expected_version} was read; recompute and retry"
            )
        return now

    def _stage_write(
        self,
        df: DataFrame,
        n_files: int | None,
        cluster_by: list[str] | None,
    ) -> str:
        """Schema-project, layout (cluster/coalesce), and write into a
        PRIVATE staging directory — the commit protocol's head, shared
        by commit()/commit_append(). Staging is private so a
        concurrent writer racing for the same version number can never
        overwrite or delete bytes this writer (or the winner) has
        committed."""
        data = df.select([f.name for f in self.schema.fields])
        if cluster_by:
            if n_files is not None:
                data = data.repartitionByRange(n_files, *cluster_by)
            else:
                data = data.repartitionByRange(*cluster_by)
            data = data.sortWithinPartitions(*cluster_by)
        elif n_files is not None:
            data = data.coalesce(n_files)
        staging = tempfile.mkdtemp(dir=self.path, prefix=".staging-")
        writer = data.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        try:
            writer.parquet(staging)
        except BaseException:
            # versions() and vacuum() skip dot-dirs: a failed write's
            # partial output would otherwise stay on disk for good
            shutil.rmtree(staging, ignore_errors=True)
            raise
        return staging

    def _claim_version(self, staging: str, base: int) -> int:
        """Post-write recheck + atomic version claim + pointer swap —
        the commit protocol's tail, shared by commit()/commit_append().

        The recheck fails a commit that landed during the (slow) data
        write. The claim is one rename onto the PINNED ``v{base+1}``:
        only one rename onto a given version dir can succeed (the
        target existing, and non-empty, fails it), so a commit landing
        between the recheck and the rename makes this one raise
        instead of clobbering or orphaning the winner's rows.
        """
        out = self._version_dir(base + 1)
        try:
            self._check_base(base)
            os.rename(staging, out)
        except BaseException as e:
            shutil.rmtree(staging, ignore_errors=True)
            if isinstance(e, OSError) and e.errno in (errno.EEXIST, errno.ENOTEMPTY):
                raise ConcurrentWriteError(
                    f"version v{base + 1} at {self.path} was claimed by a "
                    f"concurrent writer (read at v{base}); recompute and retry"
                ) from None
            # any other failure (ConcurrentWriteError from the recheck,
            # EACCES, ENOSPC, EXDEV, ...) surfaces as is
            raise
        write_atomic(self._pointer, str(base + 1))
        return base + 1

    def commit_append(
        self,
        new_rows: DataFrame,
        n_files: int | None = None,
        cluster_by: list[str] | None = None,
        expected_version: int | None = None,
    ) -> int:
        """Commit base-version files plus ONLY ``new_rows`` as the
        next version — incremental-fold IO ∝ batch, never ∝ table.

        ``commit()`` re-shuffles and re-writes every row per version;
        at 100 TB an incremental maintenance fold cannot pay O(table)
        IO per batch. This version's directory REFERENCES the current
        version's immutable parquet files by hard link (copy when the
        filesystem refuses links) and writes only the batch's files
        beside them — the manifest-reuse trick a Delta/Iceberg commit
        makes, expressed directly in the files-in-a-directory layout.
        Readers are unchanged (a version dir is still just parquet
        files), crash-safety is unchanged (private staging + the same
        atomic rename claims the version number), VACUUM of the base
        version is safe (hard links keep shared bytes alive until the
        last referencing version is reaped), and time travel still
        works (the base dir's entries are untouched).

        The trade is the lakehouse/LSM one: per-version file count
        grows by the batch's files per append until ``compact()``
        rewrites one clustered layout. ``cluster_by`` still clusters
        WITHIN the batch's files, so parquet row-group pruning holds
        per file; only cross-file disjointness degrades until
        compaction.

        APPEND-ONLY by contract: callers must guarantee ``new_rows``
        does not rewrite existing rows (the BM25/paragraph folds
        enforce this upstream); a replace needs ``commit()``.
        Requires an existing base version — bootstrap with commit().
        Optimistic like ``commit()``: an append is "base ∪ batch", so
        a writer landing after ``base`` raises instead of losing rows.
        """
        base = self._check_base(expected_version)
        if base == 0:
            raise ValueError(
                f"commit_append at {self.path} requires an existing "
                "base version; bootstrap with commit()"
            )
        staging = self._stage_write(new_rows, n_files, cluster_by)
        # reference the base version's data files (AFTER the Spark
        # write — overwrite mode clears the target dir). Spark part
        # file names embed a per-job UUID, so base and batch names
        # cannot collide; a collision is corruption, not a race.
        base_dir = self._version_dir(base)
        for root, _dirs, files in os.walk(base_dir):
            rel = os.path.relpath(root, base_dir)
            tgt_root = staging if rel == "." else os.path.join(staging, rel)
            for fn in files:
                if not fn.endswith(".parquet") or fn.startswith((".", "_")):
                    continue
                os.makedirs(tgt_root, exist_ok=True)
                src = os.path.join(root, fn)
                dst = os.path.join(tgt_root, fn)
                if os.path.exists(dst):
                    shutil.rmtree(staging, ignore_errors=True)
                    raise RuntimeError(
                        f"commit_append name collision on {fn} at "
                        f"{self.path} — base and batch part files must "
                        "be distinct"
                    )
                try:
                    os.link(src, dst)
                except OSError:
                    shutil.copy2(src, dst)  # EXDEV / no-hardlink FS
        return self._claim_version(staging, base)

    def data_file_count(self, version: int | None = None) -> int:
        """Number of parquet data files in a version (small-files gauge)."""
        v = version if version is not None else self.current_version()
        total = 0
        for root, _dirs, files in os.walk(self._version_dir(v)):
            total += sum(1 for f in files if f.endswith(".parquet"))
        return total

    def compact(
        self, n_files: int = 1, cluster_by: list[str] | None = None
    ) -> int:
        """Rewrite the current version into ``n_files`` files (OPTIMIZE).

        The small-files problem is cumulative: daily MERGEs each emit a
        shuffle's worth of files and after a year the scan is bounded by
        file-open latency, not bytes. Compaction rewrites the same rows
        as a NEW version (time travel keeps the old layout readable) and
        swaps the pointer — readers never see a half-compacted table,
        and a crash mid-compaction leaves the table untouched. Contents
        are unchanged, so this composes with the incremental layer at
        any point between MERGEs.

        ``cluster_by`` restores GLOBAL clustering that appending folds
        only maintain per-file (the BM25 postings' token ranges) —
        compacting a clustered table without it would silently destroy
        its data-skipping layout.

        Commits against the version it read, like every commit: a
        fold landing mid-rewrite raises ConcurrentWriteError instead
        of being dropped from the new version. Simply retry; the
        fold's rows are then included in the re-read.
        """
        v = self.current_version()
        if v == 0:
            raise ValueError(f"table at {self.path} has no versions")
        return self.commit(
            self.read_version(v),
            n_files=n_files,
            cluster_by=cluster_by,
            expected_version=v,
        )

    def maybe_compact(
        self,
        max_files: int,
        n_files: int = 1,
        cluster_by: list[str] | None = None,
    ) -> int | None:
        """OPTIMIZE only when the version's file count exceeds
        ``max_files`` — the maintenance face of ``commit_append``.

        Appending folds grow a version's file count by the batch's
        files; this is the standard lakehouse answer: a threshold-
        gated compaction that rewrites one clustered layout when (and
        only when) the small-files debt warrants paying one O(table)
        rewrite. Returns the new version, or None when under the
        threshold (no commit, version preserved). ``cluster_by``
        restores global clustering (e.g. the BM25 postings' token
        ranges) that appends only maintain per-file. Inherits
        compact()'s optimistic concurrency: racing a concurrent fold
        raises ConcurrentWriteError (retry) rather than rewriting the
        table without the fold's rows.
        """
        if self.data_file_count() <= max_files:
            return None
        return self.compact(n_files=n_files, cluster_by=cluster_by)

    def vacuum(self, retain_last: int = 2) -> list[int]:
        """Delete version directories beyond the newest ``retain_last``
        (the lakehouse VACUUM / retention step).

        Every commit (MERGE, compaction, schema backfill) leaves a full
        immutable copy behind for time travel; at daily cadence on a
        100 TB table that is 365x the storage per year unless old
        versions are reaped. Retention keeps the newest N versions
        (N >= 1); the CURRENT pointer version is never deleted even if
        an inconsistent ``retain_last`` would ask for it, so concurrent
        readers of the current snapshot are never pulled out from
        under — the same guarantee Delta's VACUUM retention window
        provides, expressed in versions instead of hours. Time-travel
        reads of reaped versions raise (read_version already checks
        directory existence).

        Returns the version numbers deleted, ascending.
        """
        if retain_last < 1:
            raise ValueError("retain_last must be >= 1")
        vs = self.versions()
        keep = {*vs[-retain_last:], self.current_version()}
        deleted = []
        for v in vs:
            if v in keep:
                continue
            shutil.rmtree(self._version_dir(v))
            deleted.append(v)
        return deleted
