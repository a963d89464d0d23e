"""Directory-table negatives pinned from directory_table.sql: the
loud-error surface (duplicate ingest paths, COPY row options,
remove of a missing file) that the registered queries cannot carry."""

from __future__ import annotations

import pytest

from cloudberry_spark import scratch
from cloudberry_spark.sources.dirtable import (
    DirectoryTable,
    DirectoryTableError,
)
from tests.conftest import SF_DIR


@pytest.fixture()
def dt(spark):
    t = DirectoryTable(spark, "dt_neg", scratch.path(SF_DIR, "dirtable/neg"))
    t.copy_binary(b"hello\n", "f1", tag="t1")
    return t


def test_duplicate_relative_path_fails(dt):
    # directory_table.sql:318 — same path twice is an error
    with pytest.raises(DirectoryTableError, match="already exists"):
        dt.copy_binary(b"other\n", "f1")


def test_copy_row_options_rejected(dt):
    # directory_table.sql:365-380 — every row-oriented COPY option
    # (format/delimiter/header/...) fails for directory tables
    with pytest.raises(DirectoryTableError, match="COPY options"):
        dt.copy_binary(b"x\n", "f2", delimiter=",")


def test_remove_missing_file_fails(dt):
    with pytest.raises(DirectoryTableError, match="does not exist"):
        dt.remove_file("nope")


def test_retag_requires_new_path(dt):
    # directory_table.sql:321-323 — re-COPY with a different tag still
    # collides on the path: tags do not namespace files
    with pytest.raises(DirectoryTableError, match="already exists"):
        dt.copy_binary(b"hello\n", "f1", tag="t2")
