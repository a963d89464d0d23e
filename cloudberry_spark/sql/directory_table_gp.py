"""directory_table.sql ports — the DIRECTORY TABLE query surface.

Reference: src/test/regress/sql/directory_table.sql (730 lines). The
result-bearing tiers ported here run against sources/dirtable.py:
COPY BINARY ingest with relative paths and tags (duplicate paths are
loud errors — pinned in tests/test_dirtable.py), the metadata
relation (relative_path/size/md5/tag), the content-bearing
directory_table() table function (distributed binaryFile scan joined
to the catalog), tag filtering, and remove_file lifecycle.

Fixture: four deterministic byte payloads standing in for the
reference's nation.csv copies (the reference ingests the same file
under many names; the shapes — not the CSV bytes — are the tested
surface). Oracles recompute size/md5 from the same literals in
DuckDB.

Exclusions (MIGRATION.md): STORAGE SERVER / USER MAPPING DDL (OSS
credential plumbing — Spark's equivalent is cluster storage config,
not a SQL surface), tablespaces, pg_directory_table / pg_class
introspection, \\d+ output, INHERITS-on-directory-table negatives,
and the COPY row-option negatives (loud-fail pinned in
tests/test_dirtable.py instead)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cloudberry_spark import scratch
from cloudberry_spark.registry import register
from cloudberry_spark.sources.dirtable import DirectoryTable

#: relative_path -> (payload, tag)
FIXTURE_FILES = {
    "nation1": (b"0|ALGERIA|0|haggle carefully\n", None),
    "nation2": (b"1|ARGENTINA|1|al foxes promise\n", None),
    "nation3": (b"2|BRAZIL|1|y alongside of the pending deposits\n",
                "nation"),
    "sub/nation4": (b"3|CANADA|1|eas hang ironic silent packages\n",
                    "nation"),
}


def _dt(spark: SparkSession, sf_dir: str, name: str) -> DirectoryTable:
    dt = DirectoryTable(spark, name, scratch.path(sf_dir, f"dirtable/{name}"))
    for rel, (payload, tag) in FIXTURE_FILES.items():
        dt.copy_binary(payload, rel, tag=tag)
    return dt


def _duck_fixture() -> str:
    rows = ", ".join(
        f"('{rel}', '{payload.decode()}', "
        + (f"'{tag}'" if tag else "CAST(NULL AS VARCHAR)") + ")"
        for rel, (payload, tag) in FIXTURE_FILES.items()
    )
    return f"""
WITH dir_fixture(relative_path, payload, tag) AS (VALUES {rows})
"""


@register(
    "regress_dirtable_metadata",
    oracle=_duck_fixture() + """
SELECT relative_path, CAST(length(payload) AS BIGINT) AS size,
       md5(payload) AS md5, tag
FROM dir_fixture ORDER BY relative_path
""",
    doc="directory_table.sql:316-339 — COPY BINARY ingest then the "
    "metadata relation: relative paths (incl. a nested one), ingest "
    "sizes, content md5, and tags recorded at COPY time.",
    tags=("regress", "dirtable", "source"),
)
def regress_dirtable_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    dt = _dt(spark, sf_dir, "dt_meta")
    return dt.metadata().selectExpr(
        "relative_path", "size", "md5", "tag"
    ).orderBy("relative_path")


@register(
    "regress_dirtable_content",
    oracle=_duck_fixture() + """
SELECT relative_path, payload AS content_text
FROM dir_fixture ORDER BY relative_path
""",
    doc="directory_table.sql:340 — SELECT relative_path, content FROM "
    "directory_table('dt'): the catalog joined to the distributed "
    "binaryFile scan (content decoded to text for the comparator; "
    "the payloads are bytes on disk).",
    tags=("regress", "dirtable", "source"),
)
def regress_dirtable_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    dt = _dt(spark, sf_dir, "dt_content")
    return dt.directory_table().selectExpr(
        "relative_path", "CAST(content AS STRING) AS content_text"
    ).orderBy("relative_path")


@register(
    "regress_dirtable_tag_filter",
    oracle=_duck_fixture() + """
SELECT relative_path, md5(payload) AS md5
FROM dir_fixture WHERE tag = 'nation' ORDER BY relative_path
""",
    doc="directory_table.sql WITH TAG tier — tag predicate over the "
    "metadata relation selects exactly the tagged ingests.",
    tags=("regress", "dirtable", "source"),
)
def regress_dirtable_tag_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    dt = _dt(spark, sf_dir, "dt_tag")
    return (
        dt.metadata().where("tag = 'nation'")
        .selectExpr("relative_path", "md5")
        .orderBy("relative_path")
    )


@register(
    "regress_dirtable_remove_file",
    oracle=_duck_fixture() + """
SELECT relative_path, CAST(length(payload) AS BIGINT) AS size
FROM dir_fixture WHERE relative_path <> 'nation2'
ORDER BY relative_path
""",
    doc="directory_table.sql remove_file tier — deleting one file "
    "removes both the bytes and the catalog row; the survivors still "
    "content-join (size re-checked through the binaryFile scan).",
    tags=("regress", "dirtable", "source"),
)
def regress_dirtable_remove_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    dt = _dt(spark, sf_dir, "dt_rm")
    dt.remove_file("nation2")
    return (
        dt.directory_table()
        .selectExpr("relative_path",
                    "CAST(length(content) AS BIGINT) AS size")
        .orderBy("relative_path")
    )


@register(
    "regress_dirtable_md5_lookup",
    oracle=_duck_fixture() + """
SELECT md5(payload) AS md5 FROM dir_fixture
WHERE relative_path = 'nation3'
""",
    doc="directory_table.sql:396-399 — the get_file_md5-style lookup: "
    "one path's md5 through the catalog (the reference wraps it in a "
    "SQL function; the function body is this query).",
    tags=("regress", "dirtable", "source"),
)
def regress_dirtable_md5_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    dt = _dt(spark, sf_dir, "dt_md5")
    return dt.metadata().where(
        "relative_path = 'nation3'"
    ).selectExpr("md5")
