"""Query registry: the single source of truth wiring operators to the
driver contract (__spark_entry__.py) and to tests.

Each implemented operator from SURVEY.md §2 registers a named ``Query``:
a ``(spark, sf_dir) -> DataFrame`` callable plus (when the semantics are
SQL-expressible) the equivalent DuckDB SQL oracle. This mirrors the
reference's pg_regress strategy (SURVEY.md §5): every operator has a
golden-comparable end-to-end query.
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



#: Names the correctness driver has already sampled (union of the
#: CORRECTNESS_r01..r11 keys, 485 total). interleaved_queries() demotes
#: these behind never-sampled siblings so each round's 50-query prefix
#: maximizes the number of operators with at least one hard external
#: confirmation.
#: MAINTENANCE (next round): extend this set with CORRECTNESS_r12's keys
#: and rebuild _LEAD with that round's fixes/additions — the rotation
#: only advances if both stay current. After r12's sample, ~1,000
#: queries remain never-sampled; highest-value r13 leads are whatever
#: r12 red rows exist (expect none), then round-13 additions, then the
#: long tail by family depth — `interleaved_queries()` computes the
#: never-sampled hoisting automatically, so updating _DRIVER_SAMPLED
#: alone already rotates; _LEAD is only for priority overrides.
_DRIVER_SAMPLED = frozenset(
    """
    agg_approx_distinct agg_array_agg agg_bitwise agg_cube_grouping_id
    agg_distinct_rows agg_eager_pushdown agg_filter_clause
    agg_grouping_sets agg_having agg_hll_union_rollup
    agg_hypothetical_set agg_mean_family agg_minmax_by_bool
    agg_multi_distinct agg_percentile_approx agg_percentiles agg_pivot
    agg_rollup agg_stats_family agg_string_agg agg_string_agg_distinct
    agg_unpivot_melt analytics_association_rules analytics_rfm_segments
    aqumv_rollup_answer array_basic_ops copy_fixedwidth_parse cte_reuse
    ddl_check_constraints ddl_rebucket_expand dml_scd2_history_build
    events_attribution_last_touch events_pattern_vshape
    graph_link_prediction ivm_count_distinct_refresh join_anti_not_exists
    join_asof_nearest join_cross_small join_full_outer
    join_lasj_notin_nulls join_null_safe_eq join_right_outer
    join_self_window_pairs join_semi_in join_theta_range
    json_path_filter_predicate limit_offset map_hstore_ops
    misc_dense_row_ids ml_multiple_regression recursive_shortest_path
    sample_hash_split sample_weighted_ares scalar_date_bin
    scalar_geometric_ops scalar_regexp_pg15 setop_union_all
    setop_union_distinct sink_multilevel_partitions
    sketch_minhash_set_algebra sql_group_by_all_star_except
    sql_plan_hints srf_generate_series stream_append_mode_finalized
    subq_any_all_quantified subq_select_list_correlated
    text_bpe_merge_round text_tsquery_rank tpcds_rank_delta
    tpcds_store_sales_profile tpch_q1 tpch_q10 tpch_q11 tpch_q12
    tpch_q13 tpch_q14 tpch_q15 tpch_q16 tpch_q17 tpch_q18 tpch_q19
    tpch_q2 tpch_q20 tpch_q21 tpch_q22 tpch_q3 tpch_q4 tpch_q5 tpch_q6
    tpch_q7 tpch_q8 tpch_q9 udaf_geomean udf_pandas_scalar
    udtf_doc_words values_scan win_gap_islands win_moving_median
    agg_equidepth_histogram agg_regression_family analytics_yoy_growth
    ddl_ctas_and_view dedup_minhash_lsh_pairs events_dow_seasonality
    fdw_jdbc graph_degree_assortativity ivm_topk_refresh join_lateral
    join_snowflake_12way map_zip_with_merge misc_row_ids ml_gbdt_stumps
    multimodal_image_bmp_decode pgsql_compat_report
    pipeline_curate_to_sequences recursive_bom_explosion
    sample_deterministic scalar_inet_ops scalar_string_family
    setop_intersect sim_knn_brute sink_partitioned_parquet
    skew_salted_agg srf_generate_series_int srf_unnest_multi
    stream_foreachbatch_upsert text_chunk_windows text_phrase_search
    text_quality_score tpcds_rollup_rank udaf_regression_per_label
    udf_python_rowwise udtf_python_ngrams win_exclude_current_row
    win_groups_frame
    agg_percentile_variable_fraction agg_weighted_median
    analytics_gaps_islands array_higher_order bucket_colocated_join
    copy_execute_pipe ddl_column_profile dedup_exact
    dedup_incremental_index_probe dedup_ngram_jaccard diag_key_skew
    dml_merge_delete dyn_table_scheduled_refresh events_funnel
    graph_pagerank ivm_incremental_refresh join_asof_events
    join_scd2_point_in_time json_containment_ops json_from_json_struct
    ml_pca_power_iteration multimodal_audio_decode
    pgsql_compat_distinct_on pipeline_dataset_card recursive_tree_closure
    regress_agg_grouping_sets regress_join_semi_anti
    regress_srf_series_cross regress_win_frame_options sample_stratified
    scalar_assert_op scalar_numeric_wide scalar_time_of_day
    scalar_trigram_similarity setop_except sim_ivf_knn sim_ivfpq_search
    sim_lsh_recall sim_neardup_lsh_banded sink_zorder_cluster
    sketch_countmin_freq stream_session_window_native
    stream_stateful_sessionize text_vocab_coverage udf_sql_function
    win_exclude_group win_exclude_ties win_linear_interpolate
    win_variable_offset_lag xml_xpath_table
    ddl_information_schema_columns ddl_information_schema_stats
    ddl_information_schema_tables dml_partition_confined_update
    dml_snapshot_merge_upsert dml_update_from_delete_using
    dml_upsert_conditional json_jsonpath_filter_arith
    json_jsonpath_methods pgsql_compat_similar_to regress_agg_array_order
    regress_array_literal_casts regress_bfvcte_nested_window_subq
    regress_bfvsubq_unnest_in regress_casegp_notdistinct_mixed
    regress_csq_crosslevel_exists_in regress_csq_crosslevel_exists_in_agg
    regress_decode_expr_shapes regress_decode_int_battery
    regress_decode_null_semantics regress_float8_special_values
    regress_gpagg_srf_with_agg regress_gs_cube_array_agg
    regress_having_degenerate regress_jira_case_never_window
    regress_join_natural_cross_rename regress_json_length_keys
    regress_jsonb_op_chains regress_lasj_eq_all_battery
    regress_lasj_rowctor_notin_nulls regress_olapwin_lead_offsets
    regress_qpregexp_basics regress_qpregexp_split_array
    regress_qpregexp_split_table regress_qpunion_null_multiplicity
    regress_qpunion_series_prune regress_rcte_in_subquery
    regress_regex_backref_battery regress_regex_lookaround_battery
    regress_regex_nfa_stress regress_regex_substring_pmatch
    regress_with_cte_shadowing stream_stream_full_outer
    text_inverted_index_search text_ts_headline text_tsvector_stemmed
    udf_plpgsql_branching udf_plpgsql_forloop udf_plpgsql_scalar
    udf_plpgsql_while
    aqumv_filter_subsumption dedup_components dml_delete_using_multi
    json_jsonpath_range_exists regress_all_quantified_select_list
    regress_bfvpart_cte_over_partitioned regress_bfvpart_ts_eq_coercions
    regress_bfvsubq_lt_all_empty regress_decode_nested
    regress_dedup_in_exists_nested regress_filter_covar_pop
    regress_filter_window_cumulative regress_gs_empty_input
    regress_gs_empty_input_cube regress_interval_mixed_units
    regress_mdqa_cube_composite_groupid regress_median_selfjoin_having
    regress_multirange_normalize regress_olapgrp2_grouping_join_gs_dups
    regress_olapgrp2_keycol_with_grouping
    regress_olapgrp2_rollup_composite
    regress_olapgrp2_rollup_repeated_col
    regress_olapgrp_cube_rollup_product regress_olapgrp_groupid_dup_sets
    regress_olapwin_forward_frames regress_olapwin_named_empty_window
    regress_olapwin_partition_by_agg regress_qpdpe_partkey_join_count
    regress_qpdpe_quantified_pred regress_qpsubq_array_quantifiers
    regress_qpwith_cte_in_select_list regress_qpwith_cte_three_positions
    regress_qpwith_forward_chain regress_qpwith_nested_cte_pyramid
    regress_quant_correlated_any regress_quant_lt_all_nulls_battery
    regress_rangetypes_canonical_battery regress_rowsfrom_zip_ordinality
    regress_subq_in_pullup_distinct
    regress_timeseries_generate_series_ts regress_with_cycle_detection
    text_setweight_zone_rank tpch_q16_mpph_outer_anti
    tpch_q17_mpph_derived udf_plpgsql_exception_divzero
    udf_plpgsql_query_loop udf_plpgsql_return_query_setof
    udf_sql_function_in_subqueries udf_sql_table_function_from
    udf_sql_table_function_nested_arg
    tpcds_q04_real tpcds_q47_real tpcds_q67_real tpcds_q23_frequent_items
    tpcds_q95_order_warehouses tpcds_q11_real tpcds_q04_shared_cte
    regress_qpdt_derived_in_from regress_qpdt_nested_derived
    regress_qpdt_scalarsub_derived regress_qpdt_loj_in_join_tree
    regress_qpdt_roj_pair regress_qpdt_join_chain_3way
    regress_qpdt_inner_4way regress_qpdt_pair_minmax
    regress_qpdt_loj_groupby regress_qpdt_mixed_4way
    regress_qpdt_pair_wide_tlist regress_qpdt_pair_compact
    regress_qpdt_3way_deep_quals regress_qpdt_multiway_wide
    regress_qpdt_multiway_outer regress_qpff_setof_in_from
    regress_qpff_func_join_table regress_qpff_func_in_select
    regress_qpff_scalar_in_from regress_qpff_nested_func_args
    regress_qpff_read_scalar_in_from regress_qpff_read_setof_in_from
    regress_qpff_scalar_in_with regress_qpff_scalar_in_subqry
    regress_qpff_scalar_notable udf_sirv_in_targetlist udf_sirv_in_from
    udf_sirv_in_where udf_sirv_in_update_set dml_view_insert_simple
    dml_view_update_filtered dml_view_delete_where dml_view_check_option
    regress_numeric_big_agg regress_numeric_big_addsub
    regress_collate_c_order regress_multidim_array_subset
    multimodal_image_png_decode udf_plpgsql_conditional_divzero
    regress_partition_join_pruned regress_qpdml_join_update
    regress_qpdml_join_delete regress_qpdml_join_update_values
    ddl_part_split_exchange ddl_stats_ext_columns
    ddl_storage_compression multimodal_video_avi_decode
    regress_dropped_cols_dml_sequence_int4
    regress_dropped_cols_dml_sequence_int8
    regress_dropped_cols_join_after_drop regress_dropped_cols_readd
    regress_gporca_outerref_countbug_both
    regress_gporca_result_having_const regress_matview_datastatus
    regress_numeric_big_avg_sign regress_olapw_exclude_group
    regress_qpmisc_b00_abs_aggregate_approximate
    regress_qpmisc_b13_is_join_like_ln regress_rowsecurity_policies
    regress_rpt_mpph18 regress_rpt_mpph5 regress_rpt_mpph8
    regress_subgp_distinct_on_in_desc regress_subgp_pullup_count_limit
    regress_tsearch_tsquery_battery tpcds_q02_real tpcds_q05_real
    tpcds_q09_real tpcds_q13_real tpcds_q14_real tpcds_q16_real
    tpcds_q18_real tpcds_q23_real tpcds_q36_real tpcds_q37_real
    tpcds_q41_real tpcds_q49_real tpcds_q51_real tpcds_q59_real
    tpcds_q64_real tpcds_q70a_real tpcds_q71_real tpcds_q72_real
    tpcds_q74_real tpcds_q75_real tpcds_q94_real tpcds_q95_real
    tpcds_q97_real tpch_q2_real udf_plpgsql_continue_when
    udf_plpgsql_exit_label_nested udf_plpgsql_qual_names
    udf_plpgsql_record_into
    ddl_alter_add_check_validate ddl_alter_fk_not_valid_validate
    ddl_alter_set_drop_default ddl_alter_type_rewrite_text
    ddl_alter_type_widen_metadata_only regress_aggpd_diff_group_key
    regress_aggpd_distinct_no_pushdown regress_aggpd_group_other_side
    regress_aggpd_multi_keys regress_aggpd_same_key
    regress_aggpd_subquery_pushdown regress_awg_groupingsets_over_limit
    regress_exttab_error_log regress_exttab_execute_on
    regress_exttab_fill_missing regress_exttab_header_skip
    regress_exttab_null_as regress_exttab_reject_limit_percent
    regress_exttab_reject_limit_rows regress_fj_dist_dist2
    regress_jiras_6027_window_over_agg regress_jiras_7404_substr_zero_in
    regress_jiras_satellite_mixed_joins regress_jua_push_inner_join
    regress_qpdc_changedistpolicy_dml_pttab_int4
    regress_qpdc_defpt_dropcol_addcol_dml_char
    regress_qpdc_drop_distcol_dml_int4
    regress_qpdc_dropcol_addcol_splitpt_dml_int4
    regress_qpdc_dropcol_splitdfpt_dml_char
    regress_qpdc_pttab_addpt_dropcol_addcol_dml_int4
    regress_qpdc_pttab_dropfirstcol_addpt_index_char
    regress_qpdc_reordered_col_dml_int4
    regress_qpdc_xchange_pttab_dropcol_addcol_dml_char
    regress_qpdc_xchange_pttab_dropcol_dml_int4
    regress_qpwith_alleuropean_twice regress_qpwith_cte_scalar_count_or
    regress_qpwith_dml_ctas regress_qpwith_dml_delete_notin_subplan
    regress_qpwith_dml_delete_using_cte regress_qpwith_dml_insert_cte
    regress_qpwith_dml_update_from_cte
    regress_qpwith_fact_union_leftjoin regress_qpwith_from_capitals_join
    regress_qpwith_having_diversecountries
    regress_qpwith_same_name_every_level
    regress_qpwith_shareinput_same_slice
    regress_qpwith_union_having_nested regress_qpwith_where_scalar_max
    tpcds_q69_real tpcds_q76_real_exact
    multimodal_decode_features multimodal_frame_sample
    regress_gen_update_recompute regress_ins_values_subselects
    regress_merge_insert_dup_sources regress_merge_multi_action
    regress_merge_self_merge regress_merge_upsert_with_delete
    regress_merge_wq_cond_chain regress_ows_frame_matrix_range_asc
    regress_ows_frame_matrix_range_desc
    regress_ows_frame_matrix_rows_asc regress_ows_lastval_range_zero
    regress_ows_lead_default_expr regress_ows_mpp1840_grouping_window
    regress_ows_mpp1907_range_equivalents
    regress_ows_rollup_rank_by_grouping
    regress_ows_window_over_groupby_aggs regress_ppr_col2_eq
    regress_ppr_df_gt51 regress_ppr_df_null regress_ppr_mixed_or
    regress_qpdt_c_derived_scalarsub regress_qpdt_c_inner3_tochar
    regress_qpfis_nested_setof_arg regress_qpfis_read_setof_column
    regress_qpfis_setof_column regress_qpfsub_read_setof_column
    regress_qpfsub_setof_column regress_qpwf_csq_exists
    regress_qpwf_mpp19436_window_group regress_qpwf_multilevel_nesting
    regress_qpwf_nested_same_name_renames
    regress_qpwf_quoted_collist_dep regress_qpwf_setop_except_all
    regress_rio_real_fivemin regress_rio_real_vwap_bands
    regress_tf_in_subquery regress_tf_multiset_identity
    regress_tf_order_scatter regress_tf_scalar_tf_in_from
    regress_tf_scatter_by_expr regress_ugp_ctas_union_typmod
    regress_ugp_cte_union_selfjoin regress_ugp_except_symdiff
    regress_ugp_update_returning_except regress_ugp_window_branch_qual
    regress_upd_correlated_self_swap regress_upd_multiset_mixed
    text_bpeish_token_count
    regress_aqumv_agg_battery regress_aqumv_candidates
    regress_aqumv_expr_tree regress_dirtable_content
    regress_dirtable_metadata regress_dirtable_remove_file
    regress_dqa_corr_three_way_mdqa regress_dqa_filter_mixed_14728
    regress_dqa_mdqa_three_cols regress_dqa_null_corner
    regress_gpcopy_text_escapes regress_inh_delete_routing
    regress_inh_scan_diamond regress_inh_update_routing
    regress_part1_add_partition_journey regress_part1_default_partition
    regress_part1_every_days regress_part1_rank_template
    regress_prune_rlp_matrix regress_qpis_where_plus_topk
    regress_qpmdqa_q05 regress_qpmdqa_q08 regress_qpmdqa_q15
    regress_qpmdqa_q57 regress_qpow_percent_rank_rank_b000
    regress_qsub_any_all_array_literals
    regress_qsub_case_in_sum_correlated
    regress_qsub_notin_nested_join_on regress_qsub_notin_union_inner
    regress_qsub_tuple_notin_nulls_8352 regress_regexgp_ilike_battery
    regress_regexgp_matches_captures regress_regexgp_similar_to_battery
    regress_regexgp_substring_sql_escape regress_rngf_lateral_correlated
    regress_rngf_multi_unnest_ordinality regress_tag_describe_objects
    regress_tms_generate_series_ts regress_tms_interval_bound_numeric
    regress_tms_interval_bound_timestamp
    regress_tms_interval_bound_timestamptz regress_tms_interval_div_mod
    regress_tms_li_int4_timestamp regress_tstz_bin_offset_origin
    regress_tstz_date_bin_battery regress_tstz_date_part_iso
    regress_tstz_trunc_bin_equivalence regress_uv_cascaded_chain
    """.split()
)
# ^ the trailing block is CORRECTNESS_r12's 48 passing keys (r13
# rotation maintenance). The 2 r12 FAILURES (regress_tstz_at_time_zone
# _dst, regress_dqa_grouping_sets) are deliberately NOT added: fixed
# this round, they lead _LEAD below so the r13 driver sample re-proves
# them externally.

#: Queries that must lead their family in interleaved_queries():
#: recently fixed or newly added operators whose correctness most needs
#: external (driver-sample) confirmation. Rebuilt for round 5 from the
#: 311 never-sampled queries per the r4 verdict: lead with the regress_*
#: batteries (4/96 confirmed so far), then round-5 additions and bug-fix
#: paths, then window and pipeline.ml depth. Names registered later this
#: round may appear here before their module lands — rank lookups are
#: by name, so unknown names are inert.
_LEAD: list[str] = [
        # round-13 driver-sample leads. First, the two round-12 oracle
        # failures FIXED this round (VERDICT item 1) — the r13 sample
        # must confirm them externally:
        "regress_tstz_at_time_zone_dst",
        "regress_dqa_grouping_sets",
        # then the never-sampled queries whose INTERNALS this
        # optimization round changed (curate() materialization; the
        # Arrow dot/cosine/l2 kernels replacing the interpreted HOF
        # folds; the IVF-PQ pivoted-codes/broadcast-ADC restructure):
        "pipeline_end_to_end",
        "pipeline_curate_to_shards",
        "sim_ivf_multiprobe",
        "sim_cosine_neardup",
        "sim_semdedup_clusters",
        "sim_kmeans_index_build",
        "sim_embedding_outliers",
        "ml_kmeans_silhouette",
        "ml_knn_classifier",
        "emb_matryoshka_recall",
        # remaining high-value never-sampled heads: the other composed
        # pipeline readouts and the streaming/IVM + multimodal families
        # now carrying bench entries:
        "ivm_join_view_refresh",
        "stream_tumbling_daily",
        "multimodal_metadata_stats",
        # §11 continuation: the queries whose internals the second
        # session changed (vectorized decode kernel; one-scan IVM
        # seeds) — external confirmation wanted, same rule as above:
        "multimodal_decode_features",
        "ivm_incremental_refresh",
        "ivm_count_distinct_refresh",
]




def interleaved_queries() -> dict[str, Query]:
    """All queries, round-robin-interleaved across operator families.

    Harnesses that sample a prefix of the query dict (e.g. a correctness
    driver checking the first N) should see one representative of every
    SURVEY §2 family before seeing the second of any — so the ordering
    groups by each query's first tag and interleaves. Within a family,
    registration order is preserved (most canonical example first).
    """
    fams: dict[str, list[Query]] = {}
    for q in all_queries().values():
        fam = q.tags[0] if q.tags else "misc"
        # the pipeline family is ~80 queries wide; splitting it by
        # subfamily (ml/text/dedup/similarity/multimodal/...) gives each
        # subfamily its own slot in the sampled prefix, so dedup and
        # similarity operators actually reach the driver.
        if fam == "pipeline" and len(q.tags) > 1:
            fam = f"pipeline.{q.tags[1]}"
        fams.setdefault(fam, []).append(q)
    rank = {n: i for i, n in enumerate(_LEAD)}
    for b in fams.values():
        # leads first, then oracled queries (never-driver-sampled ahead
        # of already-confirmed), and rows-only queries LAST: a sampled
        # slot spent on an un-oracle-able query scores only the weak
        # `no_oracle` check, so every hash-verifiable sibling outranks it
        b.sort(
            key=lambda q: (
                rank.get(q.name, len(rank)),
                q.oracle is None,
                q.name in _DRIVER_SAMPLED,
            )
        )
    # Emit depth-by-depth round-robin, but hoist never-sampled oracled
    # queries ahead of already-confirmed ones ACROSS depths: once every
    # family's head is confirmed, a sampled prefix should spend its
    # remaining slots on depth-2+ never-sampled queries (e.g. the second
    # and third dedup variants) instead of re-confirming tpch_q1. Family
    # diversity is preserved within each class by the (depth, family)
    # round-robin order; rows-only queries sort last overall.
    ordered: list[tuple[tuple[int, int, int], Query]] = []
    depth = max(len(b) for b in fams.values())
    for i in range(depth):
        for b in fams.values():
            if i < len(b):
                q = b[i]
                cls = (
                    2
                    if q.oracle is None
                    else (1 if q.name in _DRIVER_SAMPLED else 0)
                )
                # _LEAD rank overrides depth so a curated high-risk query
                # reaches the prefix even when it's 2nd+ in its family
                ordered.append(((cls, rank.get(q.name, len(rank)), i, len(ordered)), q))
    ordered.sort(key=lambda t: t[0])
    return {q.name: q for _, q in ordered}


def get_query(name: str) -> Query:
    return all_queries()[name]
