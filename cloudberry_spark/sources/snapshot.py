"""SnapshotTable — a minimal ACID table format for copy-on-write DML.

The reference gets transactional UPDATE/DELETE/MERGE from ModifyTable +
MVCC snapshots (/root/reference/src/backend/executor/nodeModifyTable.c:
3957; access/heap visibility rules): readers see a consistent snapshot,
writers race on the commit record. Spark has no in-place mutation, so
the lakehouse equivalent is optimistic copy-on-write over immutable
filesets — this module is that protocol, reduced to its two essential
guarantees and shared by every dml_* operator:

1. **Snapshot isolation for readers**: a reader resolves `_CURRENT` →
   manifest v{N} → fileset list once; every file it then reads is
   immutable, so a concurrent commit can never show it a torn mix.
2. **First-writer-wins for writers**: a commit writes its new fileset,
   then creates `_manifest/v{N+1}.json` with O_CREAT|O_EXCL — the
   filesystem arbitrates exactly one winner per version (Delta's
   optimistic-concurrency step, simplified) — and only then flips
   `_CURRENT` via atomic rename. A writer whose base version is stale
   (someone else already committed v{N+1}) gets ConcurrentWriteError
   and must re-read + retry, exactly like a serialization failure in
   the reference.

Layout:
    root/_CURRENT             pointer: current version number
    root/_manifest/v3.json    {"version":3,"parent":2,"dirs":[...],
                               "schema":{StructType JSON}}
    root/data-v3-rewrite/     immutable parquet fileset(s)

``schema`` is the schema of the frame(s) the version's filesets were
written from, the way the reference keeps a relation's tuple descriptor
in its catalog rather than in the heap files. A reader passes it to
``spark.read.schema`` instead of having Spark start a job to read a
footer. A commit that adds a fileset whose column names or types differ
from the table's records no schema, and its readers infer one as
before.

INSERT is an append commit (new dir ADDED to the manifest's dir list —
no rewrite of existing data); UPDATE/DELETE/MERGE are rewrite commits
(new manifest points at the rewritten fileset). Old versions remain
readable (time travel) until vacuumed.

At 100 TB: the manifest is O(#filesets) driver-side metadata; data
moves only through ordinary distributed writes. A partition-confined
rewrite would list per-partition dirs in the manifest and swap only
the touched ones — same protocol, narrower fileset, mirroring how the
reference prunes ModifyTable to leaf partitions.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
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


def _schema_after(base: dict, frames: Iterable[DataFrame]) -> dict | None:
    """The schema a commit that adds filesets written from ``frames`` to
    the ``base`` manifest records: the base's, while every new fileset
    has its column names and types (parquet stores every field
    nullable, so nullability does not count), else none."""
    schema = base.get("schema")
    if schema is None:
        return None
    shape = StructType.fromJson(schema).simpleString()
    if all(df.schema.simpleString() == shape for df in frames):
        return schema
    return None


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

    @classmethod
    def init(cls, root: str, df: DataFrame) -> "SnapshotTable":
        """Create (or reset) a table at v0 from a seed DataFrame.

        Re-initing a root that was already read in this session must
        drop Spark's shared FileStatusCache entries for it: the old
        listing names files the rmtree just deleted, and a later scan
        through the cached listing dies with FAILED_READ_FILE
        (surfaced by regress_merge_self_merge under the full suite)."""
        shutil.rmtree(root, ignore_errors=True)
        t = cls(root)
        os.makedirs(t._manifest_dir, exist_ok=True)
        d = _fresh("data-v0-seed")
        df.write.mode("overwrite").parquet(os.path.join(root, d))
        try:
            df.sparkSession.catalog.refreshByPath(root)
        except Exception:
            pass  # refresh is best-effort; first-time inits have no cache
        t._write_manifest(0, parent=None, dirs=[d], schema=df.schema.jsonValue())
        t._flip(0)
        return t

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

    def commit_rewrite(
        self, df: DataFrame, expected_version: int, label: str = "rewrite"
    ) -> int:
        """Full copy-on-write commit (UPDATE/DELETE/MERGE): write the
        rewritten fileset, claim the next version, flip."""
        if self.current_version() != expected_version:
            raise ConcurrentWriteError(
                f"base v{expected_version} is stale "
                f"(current is v{self.current_version()})"
            )
        new_v = expected_version + 1
        d = _fresh(f"data-v{new_v}-{label}")
        df.write.mode("overwrite").parquet(os.path.join(self.root, d))
        self._write_manifest(
            new_v, parent=expected_version, dirs=[d], schema=df.schema.jsonValue()
        )
        self._flip(new_v)
        return new_v

    def commit_append(
        self, df: DataFrame, expected_version: int, label: str = "append"
    ) -> int:
        """INSERT commit: add a fileset, keep existing dirs — no rewrite
        of standing data (the reference's plain INSERT path)."""
        if self.current_version() != expected_version:
            raise ConcurrentWriteError(
                f"base v{expected_version} is stale "
                f"(current is v{self.current_version()})"
            )
        new_v = expected_version + 1
        d = _fresh(f"data-v{new_v}-{label}")
        df.write.mode("overwrite").parquet(os.path.join(self.root, d))
        base = self.manifest(expected_version)
        self._write_manifest(
            new_v,
            parent=expected_version,
            dirs=base["dirs"] + [d],
            schema=_schema_after(base, [df]),
        )
        self._flip(new_v)
        return new_v

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

    # -- partitioned tables --------------------------------------------------

    @classmethod
    def init_partitioned(
        cls, root: str, df: DataFrame, part_col: str, values: list
    ) -> "SnapshotTable":
        """Create a PARTITIONED table at v0: one immutable fileset per
        partition value, tracked individually in the manifest
        (``parts``: value -> dir). This is what makes partition-confined
        DML possible — the reference prunes ModifyTable to leaf
        partitions (execPartition.c); here a predicate confined to a
        partition rewrites only that fileset and the commit swaps only
        its manifest entry."""
        shutil.rmtree(root, ignore_errors=True)
        t = cls(root)
        os.makedirs(t._manifest_dir, exist_ok=True)
        # ONE scan + one distributed write for all partitions (was: one
        # filtered scan+write job per value — N full passes over the
        # seed). partitionBy on a duplicate key column (__p) keeps the
        # real partition column in the data files, so each emitted
        # directory is a self-contained fileset; the dirs are then
        # renamed into the manifest's per-partition layout. Values the
        # seed doesn't contain become empty filesets, as before.
        from urllib.parse import unquote

        staging = os.path.join(root, _fresh("_staging-v0"))
        df.withColumn("__p", df[part_col].cast("string")).write.mode(
            "overwrite"
        ).partitionBy("__p").parquet(staging)
        emitted = {
            unquote(e[len("__p=") :]): e
            for e in os.listdir(staging)
            if e.startswith("__p=")
        }
        parts = {}
        for v in values:
            d = _fresh(f"data-v0-{part_col}-{v}")
            dst = os.path.join(root, d)
            src = emitted.get(str(v))
            if src is not None:
                os.rename(os.path.join(staging, src), dst)
            else:
                os.makedirs(dst, exist_ok=True)
            parts[str(v)] = d
        shutil.rmtree(staging, ignore_errors=True)
        t._write_manifest(0, parent=None, parts=parts, schema=df.schema.jsonValue())
        t._flip(0)
        return t

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
        across the commit. Same O_EXCL + pointer-flip protocol."""
        if self.current_version() != expected_version:
            raise ConcurrentWriteError(
                f"base v{expected_version} is stale "
                f"(current is v{self.current_version()})"
            )
        new_v = expected_version + 1
        base = self.manifest(expected_version)
        parts = dict(base["parts"])
        for v, df in updates.items():
            d = _fresh(f"data-v{new_v}-{label}-{v}")
            df.write.mode("overwrite").parquet(os.path.join(self.root, d))
            parts[str(v)] = d
        self._write_manifest(
            new_v,
            parent=expected_version,
            parts=parts,
            schema=_schema_after(base, updates.values()),
        )
        self._flip(new_v)
        return new_v
