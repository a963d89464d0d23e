"""Query registry: every named query the engine implements.

Each implemented operator from SURVEY.md §2 registers a named ``Query``:
a ``(spark, sf_dir) -> DataFrame`` callable plus (when the semantics are
SQL-expressible) the equivalent DuckDB SQL oracle. This mirrors the
reference's pg_regress strategy (SURVEY.md §5): every operator has a
golden-comparable end-to-end query.

The registry holds queries only. Which of them an external correctness
driver samples, and in what order, is the driver contract's business
(``__spark_entry__.py``), as the reference keeps its test order in
schedule files beside the corpus rather than in the server.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from cloudberry_spark.catalog import ensure_views

SparkQuery = Callable[[SparkSession, str], DataFrame]
#: Registers the temp views a query reads: ``(spark, sf_dir) -> None``.
ViewSetup = Callable[[SparkSession, str], None]


@dataclass(frozen=True)
class Query:
    name: str
    fn: SparkQuery
    oracle: str | None = None  # DuckDB SQL; None => rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    tags: tuple[str, ...] = (),
    views: ViewSetup | None = None,
) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register a (spark, sf_dir) -> DataFrame query.

    The wrapper registers the views the query reads first, so query
    bodies may freely use ``spark.sql`` over their table names: the
    fixture temp views by default, or whatever ``views`` registers (a
    spec-text query reads its prelude's tables instead, and registering
    the fixture's over the same names first would only be undone).
    """

    def deco(fn: SparkQuery) -> SparkQuery:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from cloudberry_spark.session import configure_session

            configure_session(spark)
            if views is None:
                ensure_views(spark, sf_dir)
            else:
                views(spark, sf_dir)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(name=name, fn=wrapped, oracle=oracle, doc=doc, tags=tags)
        return wrapped

    return deco


def register_sql(
    name: str,
    sql: str,
    oracle: str | None = "same",
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> None:
    """Register a query whose Spark side is a SQL string. When the text is
    dialect-portable, ``oracle='same'`` reuses it verbatim for DuckDB."""

    @register(name, oracle=sql if oracle == "same" else oracle, doc=doc, tags=tags)
    def _q(spark: SparkSession, sf_dir: str, _sql: str = sql) -> DataFrame:
        return spark.sql(_sql)

    _q.__name__ = name


def _load_all() -> None:
    """Import every operator module for registration side effects."""
    import cloudberry_spark.operators.tpch  # noqa: F401
    import cloudberry_spark.operators.aggregates  # noqa: F401
    import cloudberry_spark.operators.joins  # noqa: F401
    import cloudberry_spark.operators.windows  # noqa: F401
    import cloudberry_spark.operators.setops  # noqa: F401
    import cloudberry_spark.operators.scalars  # noqa: F401
    import cloudberry_spark.operators.json_ops  # noqa: F401
    import cloudberry_spark.operators.arrays  # noqa: F401
    import cloudberry_spark.operators.recursive  # noqa: F401
    import cloudberry_spark.operators.sampling  # noqa: F401
    import cloudberry_spark.operators.dml  # noqa: F401
    import cloudberry_spark.operators.ddl  # noqa: F401
    import cloudberry_spark.operators.distribution  # noqa: F401
    import cloudberry_spark.operators.rewrites  # noqa: F401
    import cloudberry_spark.operators.sketches  # noqa: F401
    import cloudberry_spark.operators.contrib  # noqa: F401
    import cloudberry_spark.operators.textsearch  # noqa: F401
    import cloudberry_spark.operators.pgtypes  # noqa: F401
    import cloudberry_spark.operators.reports  # noqa: F401
    import cloudberry_spark.operators.infoschema  # noqa: F401
    import cloudberry_spark.operators.maps  # noqa: F401
    import cloudberry_spark.operators.views  # noqa: F401
    import cloudberry_spark.operators.widenum  # noqa: F401
    import cloudberry_spark.operators.dml_joins  # noqa: F401
    import cloudberry_spark.operators.dropped_cols  # noqa: F401
    import cloudberry_spark.operators.partition_ddl  # noqa: F401
    import cloudberry_spark.operators.matviews  # noqa: F401
    import cloudberry_spark.operators.security  # noqa: F401
    import cloudberry_spark.operators.alter_table  # noqa: F401
    import cloudberry_spark.operators.merge_pg  # noqa: F401
    import cloudberry_spark.operators.update_gp  # noqa: F401
    import cloudberry_spark.operators.generated_cols  # noqa: F401
    import cloudberry_spark.operators.partition_spec  # noqa: F401
    import cloudberry_spark.operators.partition_prune  # noqa: F401
    import cloudberry_spark.sources.external  # noqa: F401
    import cloudberry_spark.sources.pyfdw  # noqa: F401
    import cloudberry_spark.sources.exttab_battery  # noqa: F401
    import cloudberry_spark.sources.gpcopy  # noqa: F401
    import cloudberry_spark.functions.udx  # noqa: F401
    import cloudberry_spark.sql.compat_queries  # noqa: F401
    import cloudberry_spark.sql.regress  # noqa: F401
    import cloudberry_spark.sql.tpcds_real  # noqa: F401
    import cloudberry_spark.sql.tpcds_real2  # noqa: F401
    import cloudberry_spark.sql.qp_derived  # noqa: F401
    import cloudberry_spark.sql.qp_functions  # noqa: F401
    import cloudberry_spark.sql.sirv  # noqa: F401
    import cloudberry_spark.sql.partition_join  # noqa: F401
    import cloudberry_spark.sql.join_gp  # noqa: F401
    import cloudberry_spark.sql.tpch_real  # noqa: F401
    import cloudberry_spark.sql.qp_olap_window  # noqa: F401
    import cloudberry_spark.sql.qp_olap_window2  # noqa: F401
    import cloudberry_spark.sql.qp_with_world  # noqa: F401
    import cloudberry_spark.sql.qp_misc  # noqa: F401
    import cloudberry_spark.sql.rpt_tpch  # noqa: F401
    import cloudberry_spark.sql.gporca  # noqa: F401
    import cloudberry_spark.sql.subselect_gp  # noqa: F401
    import cloudberry_spark.sql.olap_window  # noqa: F401
    import cloudberry_spark.sql.tsearch_gp  # noqa: F401
    import cloudberry_spark.sql.qp_dropped_cols_gen  # noqa: F401
    import cloudberry_spark.sql.agg_pushdown_gp  # noqa: F401
    import cloudberry_spark.sql.qp_misc_jiras  # noqa: F401
    import cloudberry_spark.sql.full_join_gp  # noqa: F401
    import cloudberry_spark.sql.alias_sublink_gp  # noqa: F401
    import cloudberry_spark.sql.rio_gp  # noqa: F401
    import cloudberry_spark.sql.olap_window_seq2  # noqa: F401
    import cloudberry_spark.sql.table_functions_gp  # noqa: F401
    import cloudberry_spark.sql.partition_pruning_gp  # noqa: F401
    import cloudberry_spark.sql.union_gp  # noqa: F401
    import cloudberry_spark.sql.qp_with_functional_gp  # noqa: F401
    import cloudberry_spark.sql.qp_subquery_gp  # noqa: F401
    import cloudberry_spark.sql.gp_dqa_gp  # noqa: F401
    import cloudberry_spark.sql.regex_gp_file  # noqa: F401
    import cloudberry_spark.sql.aqumv_battery  # noqa: F401
    import cloudberry_spark.sql.rangefuncs_gp  # noqa: F401
    import cloudberry_spark.sql.directory_table_gp  # noqa: F401
    import cloudberry_spark.sql.tag_battery  # noqa: F401
    import cloudberry_spark.sql.timestamptz_gp  # noqa: F401
    import cloudberry_spark.sql.inherit_gp  # noqa: F401
    import cloudberry_spark.sql.timeseries_gp  # noqa: F401
    import cloudberry_spark.sql.qp_olap_mdqa_gp  # noqa: F401
    import cloudberry_spark.sql.qp_indexscan_gp  # noqa: F401
    import cloudberry_spark.pipeline.dedup  # noqa: F401
    import cloudberry_spark.pipeline.similarity  # noqa: F401
    import cloudberry_spark.pipeline.text  # noqa: F401
    import cloudberry_spark.pipeline.multimodal  # noqa: F401
    import cloudberry_spark.pipeline.composed  # noqa: F401
    import cloudberry_spark.pipeline.components  # noqa: F401
    import cloudberry_spark.pipeline.curation  # noqa: F401
    import cloudberry_spark.pipeline.classify  # noqa: F401
    import cloudberry_spark.pipeline.graph  # noqa: F401
    import cloudberry_spark.streaming.windows  # noqa: F401
    import cloudberry_spark.streaming.ivm  # noqa: F401
    import cloudberry_spark.streaming.stateful  # noqa: F401


_LOADED = False


def all_queries() -> dict[str, Query]:
    global _LOADED
    if not _LOADED:
        _load_all()
        _LOADED = True
    return dict(_REGISTRY)


def get_query(name: str) -> Query:
    return all_queries()[name]
