"""Directory tables — managed unstructured-file relations.

Reference: the DIRECTORY TABLE feature (src/test/regress/sql/
directory_table.sql, 730 lines; catalog pg_directory_table): a
relation whose rows ARE files —

    CREATE DIRECTORY TABLE dt;
    COPY BINARY dt FROM '/path/file' 'relative/name' [WITH TAG 't'];
    SELECT relative_path, size, tag FROM dt;                -- metadata
    SELECT relative_path, content FROM directory_table('dt');
    SELECT remove_file('dt', 'relative/name');

Spark-first mapping: a directory table is a managed directory plus a
metadata catalog that is a snapshot table (sources/snapshot.py), empty
at CREATE. COPY BINARY stages the file bytes under the directory and
INSERTs the file's metadata row (md5/size/tag recorded at ingest;
duplicate relative_path is a loud error, matching the reference's
"file already exists"); remove_file DELETEs it. The metadata relation
is the catalog's current snapshot; the content-bearing
``directory_table()`` form joins the catalog to Spark's distributed
``binaryFile`` source over the same directory — at 100 TB the listing
and the byte reads are executor-parallel (one task per file /
maxPartitionBytes split), which is exactly how the multimodal
pipeline ingests image/audio corpora (pipeline/multimodal.py).

COPY options (format/delimiter/header/...) are rejected loudly — the
reference errors on every one of them for directory tables
(directory_table.sql:365-380)."""

from __future__ import annotations

import hashlib
import os
import shutil
import time

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark.operators.dml import delete_from, insert_into
from cloudberry_spark.sources.snapshot import SnapshotTable


class DirectoryTableError(ValueError):
    pass


_META_SCHEMA = (
    "relative_path STRING, size BIGINT, last_modified TIMESTAMP, "
    "md5 STRING, tag STRING"
)


class DirectoryTable:
    """One directory table rooted at ``base`` (scratch path)."""

    def __init__(self, spark: SparkSession, name: str, base: str):
        self.spark = spark
        self.name = name
        self.files_dir = os.path.join(base, "files")
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(self.files_dir, exist_ok=True)
        self.meta = SnapshotTable.init(
            os.path.join(base, "meta"), spark.createDataFrame([], _META_SCHEMA)
        )

    # -- DML ---------------------------------------------------------------

    def copy_binary(
        self,
        src: str | bytes,
        relative_path: str,
        tag: str | None = None,
        **copy_options: str,
    ) -> None:
        """COPY BINARY <dt> FROM <src> '<relative_path>' [WITH TAG].

        ``src`` may be a filesystem path or raw bytes (the FROM
        PROGRAM form delivers bytes). Row-oriented COPY options are
        invalid for directory tables (the reference rejects each)."""
        if copy_options:
            raise DirectoryTableError(
                f"COPY options {sorted(copy_options)} are invalid for "
                "directory tables (directory_table.sql:365-380)"
            )
        if "/" in relative_path.strip("/"):
            os.makedirs(
                os.path.join(self.files_dir,
                             os.path.dirname(relative_path)),
                exist_ok=True,
            )
        dest = os.path.join(self.files_dir, relative_path)
        if os.path.exists(dest):
            raise DirectoryTableError(
                f"file '{relative_path}' already exists in directory "
                f"table '{self.name}'"
            )
        data = src if isinstance(src, bytes) else open(src, "rb").read()
        with open(dest, "wb") as f:
            f.write(data)
        row = Row(
            relative_path=relative_path,
            size=len(data),
            last_modified=None,  # stamped by the catalog write below
            md5=hashlib.md5(data).hexdigest(),
            tag=tag,
        )
        df = self.spark.createDataFrame([row], schema=_META_SCHEMA)
        df = df.selectExpr(
            "relative_path", "size",
            "current_timestamp() AS last_modified", "md5", "tag",
        )
        insert_into(self.spark, self.meta, df)

    def remove_file(self, relative_path: str) -> None:
        """remove_file('<dt>', '<relative_path>') utility."""
        dest = os.path.join(self.files_dir, relative_path)
        if not os.path.exists(dest):
            raise DirectoryTableError(
                f"file '{relative_path}' does not exist in directory "
                f"table '{self.name}'"
            )
        os.remove(dest)
        delete_from(self.spark, self.meta, F.col("relative_path") == relative_path)

    # -- reads ---------------------------------------------------------

    def metadata(self) -> DataFrame:
        """The directory table relation: one metadata row per file."""
        return self.meta.read(self.spark)

    def directory_table(self) -> DataFrame:
        """The content-bearing directory_table('<dt>') form: catalog
        joined to the distributed binaryFile scan of the same files."""
        files = (
            self.spark.read.format("binaryFile")
            .option("recursiveFileLookup", "true")
            .load(self.files_dir)
            .selectExpr(
                # binaryFile yields absolute path URIs; key on the
                # path relative to the table root
                f"substring_index(path, '/files/', -1) AS relative_path",
                "content",
            )
        )
        return self.metadata().join(files, "relative_path")
