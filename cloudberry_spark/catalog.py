"""Catalog: load the fixture parquet tables and register temp views.

Mirrors the reference's catalog-declared schemas (FIXTURES.md): schemas
are *declared*, never inferred — parquet self-describes and we normalize
the one incompatibility (nanosecond timestamps in ``events``).

The reference models distribution policy per table
(/root/reference/src/include/catalog/gp_distribution_policy.h:30) —
hash / random / replicated. Here that is physical-layout advice, not
semantics: Catalyst's EnsureRequirements inserts the exchanges
(≙ Motion nodes, /root/reference/src/backend/executor/nodeMotion.c:100)
automatically. ``REPLICATED_TABLES`` below records which dims are
bounded-size (the reference would mark them DISTRIBUTED REPLICATED);
operators use it to apply ``broadcast()`` hints that stay valid at any
scale factor.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cloudberry_spark.session import require_conf

#: All fixture tables (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Bounded-cardinality dimensions — always broadcastable regardless of SF
#: (region=5, nation=25 rows at every TPC-H scale). Matches the
#: reference's DISTRIBUTED REPLICATED policy.
REPLICATED_TABLES: frozenset[str] = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: path -> (st_mtime_ns, st_size, schema Spark inferred for that file).
#: Inferring a parquet schema starts a one-task Spark job to read a
#: footer; the reference never samples data to learn a schema, its
#: catalog has it. One entry per path: a replaced file (new mtime or
#: size) is inferred again and overwrites its entry.
_FILE_SCHEMAS: dict[str, tuple[int, int, StructType]] = {}


def _read_fixture(spark: SparkSession, path: str) -> DataFrame:
    """A fresh reader of one fixture file, whose schema is inferred once
    per version of the file. Fresh on every call: one DataFrame object
    on both sides of a self-join makes its column references ambiguous."""
    try:
        st = os.stat(path)
    except OSError:
        # not a local path: Spark resolves it (and reports a missing one)
        return spark.read.parquet(path)
    known = _FILE_SCHEMAS.get(path)
    if known is not None and known[:2] == (st.st_mtime_ns, st.st_size):
        return spark.read.schema(known[2]).parquet(path)
    df = spark.read.parquet(path)
    _FILE_SCHEMAS[path] = (st.st_mtime_ns, st.st_size, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, normalizing types.

    ``events.ts`` is parquet TIMESTAMP(NANOS) which Spark's vectorized
    reader rejects; with ``spark.sql.legacy.parquet.nanosAsLong`` we read
    it as int64 nanos and convert (truncate) to a microsecond TIMESTAMP —
    the same truncation DuckDB applies, so oracle comparisons agree.
    """
    if name == "events":
        require_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_fixture(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # Integer division — ns values exceed double's 53-bit mantissa, so
        # a float divide here silently corrupts the low microseconds.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


#: (sf_dir, name) -> DataFrame, valid for the session it was built in.
#: Re-asserting a temp view from a cached frame is a metadata-only
#: catalog op (~ms); re-reading parquet footers per re-assert is not —
#: and fixture views and spec-prelude views (scale_fixture.spec_views)
#: legitimately re-assert over each other's names between queries.
_VIEW_DF_CACHE: dict[tuple[str, str], DataFrame] = {}

#: name -> (owner, session): who currently owns each temp-view name.
#: The fixture catalog ("fixture:<sf_dir>") and the spec preludes
#: ("spec:<tag>:k<K>", scale_fixture.spec_views) share a handful of
#: names (customer, orders, lineitem, ...); tracking ownership per
#: name means an interleaved bench re-asserts ONLY the names the other
#: side actually shadowed (1 view between consecutive TPC-DS spec
#: queries, not all 35) instead of ping-ponging full registrations.
VIEW_OWNER: dict[str, tuple[str, object]] = {}


def ensure_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register every fixture table as a temp view named exactly as in
    TESTDATA.md. Cheap (metadata-only) but memoized per (session, dir)
    so query functions can call it unconditionally."""
    sf_dir = sf_dir or DEFAULT_SF_DIR
    me = (f"fixture:{sf_dir}", spark)
    needed = [n for n in TABLES if VIEW_OWNER.get(n) != me]
    if not needed:
        return
    for name in needed:
        df = _VIEW_DF_CACHE.get((sf_dir, name))
        if df is None or df.sparkSession is not spark:
            df = load_table(spark, sf_dir, name)
            _VIEW_DF_CACHE[(sf_dir, name)] = df
        df.createOrReplaceTempView(name)
        VIEW_OWNER[name] = me


def dim(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a table, broadcast-hinted if it is a replicated-class dim."""
    df = load_table(spark, sf_dir, name)
    if name in REPLICATED_TABLES:
        return F.broadcast(df)
    return df
