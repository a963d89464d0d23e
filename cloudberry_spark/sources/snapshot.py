"""SnapshotTable — a minimal ACID table format for copy-on-write DML.

The reference gets transactional UPDATE/DELETE/MERGE from ModifyTable +
MVCC snapshots (/root/reference/src/backend/executor/nodeModifyTable.c:
3957; access/heap visibility rules): readers see a consistent snapshot,
writers race on the commit record. Spark has no in-place mutation, so
the lakehouse equivalent is optimistic copy-on-write over immutable
filesets — this module is that protocol, reduced to its two essential
guarantees and shared by every table the engine rewrites:

1. **Snapshot isolation for readers**: a reader resolves `_CURRENT` →
   manifest v{N} → fileset list once; every file it then reads is
   immutable, so a concurrent commit can never show it a torn mix.
2. **First-writer-wins for writers**: the O_CREAT|O_EXCL create of
   the next manifest arbitrates exactly one winner per version (Delta's
   optimistic-concurrency step, simplified). A writer whose base
   version is stale gets ConcurrentWriteError and must re-read + retry,
   exactly like a serialization failure in the reference.

Layout:
    root/_CURRENT             pointer: current version number
    root/_manifest/v3.json    {"version":3,"parent":2,"dirs":[...],
                               "schema":{StructType JSON}}
    root/data-v3-rewrite-<id>/  immutable parquet fileset(s)

A partitioned table's manifest also has ``"parts": {key: dir}``, and
its ``dirs`` are the parts' dirs. A key is ``str(value)`` of the
partition column (``init_partitioned``) or ``<lo>_<hi>`` of a range
[lo, hi) (operators/partition_ddl.py).

Every version of every table is committed by ``SnapshotTable._commit``,
in this order (the steps a writer can die between):

1. the stale-base check, or for v0 the reset of the root;
2. each new fileset written to a ``_fresh`` ``data-v{N}-<label>`` dir
   (a split write renames several out of one partitionBy write);
3. the commit point, ``_write_manifest``: the O_EXCL claim of
   ``_manifest/v{N}.json``;
4. ``_flip``: the atomic rename of ``_CURRENT`` to N.

``schema`` is the schema the version's filesets were written with, the
way the reference keeps a relation's tuple descriptor in its catalog
rather than in the heap files; a fileset kept from the base counts as
written with the base's schema. A reader passes it to
``spark.read.schema`` instead of having Spark start a job to read a
footer. A version whose filesets differ in column names or types
records no schema, and its readers infer one as before.

INSERT is an append commit (new dir ADDED to the manifest's dir list —
no rewrite of existing data); UPDATE/DELETE/MERGE are rewrite commits
(new manifest points at the rewritten fileset); a partition-confined
rewrite swaps only the touched parts, as the reference prunes
ModifyTable to leaf partitions. Old versions remain readable (time
travel) until vacuumed. At 100 TB the manifest is O(#filesets)
driver-side metadata; data moves only through distributed writes.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType


def _fresh(name: str) -> str:
    """Unique fileset directory name.

    A data directory path is NEVER reused for different contents:
    Spark's shared FileStatusCache caches file listings per path
    forever (spark.sql.metadataCacheTTLSeconds=-1), so re-initing a
    table root and rewriting a same-named dir makes later scans read
    the STALE listing and die with FAILED_READ_FILE (reproduced by
    running regress_merge_self_merge twice in one session; catalog
    refreshByPath does not reach this cache). Unique immutable names
    are the same discipline every lakehouse format uses.
    """
    return f"{name}-{uuid.uuid4().hex[:8]}"


class ConcurrentWriteError(RuntimeError):
    """Another writer committed the version this writer was based on
    (the serialization-failure analog of the reference's
    ExecUpdate/heap_update TM_Updated retry path)."""


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root
        self._manifest_dir = os.path.join(root, "_manifest")
        self._pointer = os.path.join(root, "_CURRENT")

    # -- snapshot resolution ------------------------------------------------

    def current_version(self) -> int:
        with open(self._pointer) as f:
            return int(f.read().strip())

    def manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        with open(os.path.join(self._manifest_dir, f"v{v}.json")) as f:
            return json.load(f)

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        dirs: list[str] | None = None,
    ) -> DataFrame:
        """Read one immutable snapshot (current, or time-travel to a
        given version), or only the given ``dirs`` of it."""
        m = self.manifest(version)
        reader = spark.read
        if "schema" in m:
            reader = reader.schema(StructType.fromJson(m["schema"]))
        return reader.parquet(
            *[os.path.join(self.root, d) for d in (dirs or m["dirs"])]
        )

    # -- commits ------------------------------------------------------------

    def _commit(
        self,
        base: int | None,
        label: str,
        filesets: list[DataFrame | str] | dict[str, DataFrame | str],
        split: tuple[DataFrame, Column, list[str]] | None = None,
    ) -> int:
        """Commit the next version: the one commit sequence of the module
        docstring. Returns the committed version.

        ``base`` is the version the writer read, or None to reset the
        root and commit v0. ``filesets`` lists the new version's
        filesets, or maps a partitioned table's keys to them: a frame is
        written as a new fileset, a dir name is kept from the base.
        ``split`` = (df, by, keys) adds one part per key, written from
        the rows of ``df`` whose ``by`` equals it, in one write.
        """
        listed = list(filesets.values() if isinstance(filesets, dict) else filesets)
        frames = [f for f in listed if not isinstance(f, str)]
        if split is not None:
            frames.append(split[0])
        schemas = [df.schema for df in frames]
        if any(isinstance(f, str) for f in listed):  # kept from the base
            kept = self.manifest(base).get("schema")
            schemas.insert(0, kept and StructType.fromJson(kept))
        if base is None:
            shutil.rmtree(self.root, ignore_errors=True)
            os.makedirs(self._manifest_dir)
            # a root read before in this session may sit in Spark's
            # cached plans under files the rmtree just deleted
            frames[0].sparkSession.catalog.refreshByPath(self.root)
        elif self.current_version() != base:
            raise ConcurrentWriteError(
                f"base v{base} is stale (current is v{self.current_version()})"
            )
        version = 0 if base is None else base + 1

        def write(f: DataFrame | str) -> str:
            if isinstance(f, str):
                return f
            d = _fresh(f"data-v{version}-{label}")
            f.write.mode("overwrite").parquet(os.path.join(self.root, d))
            return d

        # parquet stores every field nullable, so nullability does not
        # count; the first schema (the base's, if a fileset is kept) wins
        same = len({s and s.simpleString() for s in schemas}) == 1
        schema = schemas[0].jsonValue() if same and schemas[0] else None
        if isinstance(filesets, dict):
            parts = {k: write(f) for k, f in filesets.items()}
            if split is not None:
                parts.update(self._split_write(version, label, *split))
            self._write_manifest(version, base, parts=parts, schema=schema)
        else:
            dirs = [write(f) for f in filesets]
            self._write_manifest(version, base, dirs, schema=schema)
        self._flip(version)
        return version

    def _split_write(
        self, version: int, label: str, df: DataFrame, by: Column, keys: list[str]
    ) -> dict[str, str]:
        """Step 2 for many parts at once: ONE scan and one distributed
        write (not one filtered scan + write job per key). partitionBy
        on a duplicate key column (__p) keeps every real column in the
        data files, so each emitted directory is a self-contained
        fileset, renamed into the table; a key no row has gets an empty
        fileset, and rows of no key are dropped."""
        staging = os.path.join(self.root, _fresh(f"_staging-v{version}"))
        df.withColumn("__p", by).write.mode("overwrite").partitionBy(
            "__p"
        ).parquet(staging)
        emitted = {
            unquote(e[len("__p=") :]): e
            for e in os.listdir(staging)
            if e.startswith("__p=")
        }
        parts = {}
        for key in keys:
            parts[key] = d = _fresh(f"data-v{version}-{label}")
            dst = os.path.join(self.root, d)
            if key in emitted:
                os.rename(os.path.join(staging, emitted[key]), dst)
            else:
                os.makedirs(dst)
        shutil.rmtree(staging, ignore_errors=True)
        return parts

    def _write_manifest(
        self,
        version: int,
        parent: int | None,
        dirs: list[str] | None = None,
        *,
        parts: dict[str, str] | None = None,
        schema: dict | None = None,
    ) -> None:
        """The commit point of the protocol: O_EXCL manifest creation —
        exactly one writer can own v{version}. A partitioned table
        passes ``parts`` and its ``dirs`` are the parts' dirs."""
        m: dict = {"version": version, "parent": parent}
        if parts is not None:
            m["parts"] = parts
            dirs = sorted(parts.values())
        m["dirs"] = dirs
        if schema is not None:
            m["schema"] = schema
        payload = json.dumps(m)
        path = os.path.join(self._manifest_dir, f"v{version}.json")
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise ConcurrentWriteError(
                f"version v{version} already committed by another writer; "
                "re-read the table and retry"
            ) from None
        with os.fdopen(fd, "w") as f:
            f.write(payload)

    def _flip(self, version: int) -> None:
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, self._pointer)  # atomic: readers see old or new

    @classmethod
    def init(cls, root: str, df: DataFrame) -> "SnapshotTable":
        """Create (or reset) a table at v0 from a seed DataFrame."""
        t = cls(root)
        t._commit(None, "seed", [df])
        return t

    @classmethod
    def init_partitioned(
        cls, root: str, df: DataFrame, part_col: str, values: list
    ) -> "SnapshotTable":
        """Create a PARTITIONED table at v0: one immutable fileset per
        partition value, tracked individually in the manifest
        (``parts``: str(value) -> dir), all written by one split write.
        This is what makes partition-confined DML possible — the
        reference prunes ModifyTable to leaf partitions
        (execPartition.c); here a predicate confined to a partition
        rewrites only that fileset and the commit swaps only its
        manifest entry. Values the seed doesn't contain become empty
        filesets."""
        t = cls(root)
        by = df[part_col].cast("string")
        t._commit(None, part_col, {}, split=(df, by, [str(v) for v in values]))
        return t

    def commit_rewrite(
        self, df: DataFrame, expected_version: int, label: str = "rewrite"
    ) -> int:
        """Full copy-on-write commit (UPDATE/DELETE/MERGE): the new
        version is the one rewritten fileset."""
        return self._commit(expected_version, label, [df])

    def commit_append(
        self, df: DataFrame, expected_version: int, label: str = "append"
    ) -> int:
        """INSERT commit: add a fileset, keep existing dirs — no rewrite
        of standing data (the reference's plain INSERT path)."""
        base = self.manifest(expected_version)["dirs"]
        return self._commit(expected_version, label, base + [df])

    def commit_partition_rewrite(
        self,
        updates: dict,
        expected_version: int,
        label: str = "part-rewrite",
    ) -> int:
        """Partition-confined UPDATE/DELETE/MERGE: rewrite ONLY the
        given partitions' filesets ({value: new DataFrame}); every
        untouched partition keeps its existing immutable fileset —
        the manifest entry (and the files on disk) are byte-identical
        across the commit."""
        parts = self.manifest(expected_version)["parts"]
        parts.update({str(v): df for v, df in updates.items()})
        return self._commit(expected_version, label, parts)

    # -- maintenance ---------------------------------------------------------

    def vacuum(self, keep_versions: int = 1) -> list[str]:
        """Drop filesets unreachable from the newest `keep_versions`
        snapshots (VACUUM ≙ the reference's lazy vacuum reclaiming
        dead MVCC versions, commands/vacuum.c — here whole immutable
        filesets instead of dead tuples). Old manifests are removed
        too, ending time travel past the horizon. Returns the deleted
        data dirs. Readers of RETAINED versions are never affected:
        their filesets stay untouched."""
        cur = self.current_version()
        keep = range(max(0, cur - keep_versions + 1), cur + 1)
        live: set[str] = set()
        for v in keep:
            live.update(self.manifest(v)["dirs"])
        deleted = []
        for entry in sorted(os.listdir(self.root)):
            if entry.startswith("data-") and entry not in live:
                shutil.rmtree(os.path.join(self.root, entry))
                deleted.append(entry)
        for mf in sorted(os.listdir(self._manifest_dir)):
            v = int(mf[1:-5])
            if v not in keep:
                os.remove(os.path.join(self._manifest_dir, mf))
        return deleted

