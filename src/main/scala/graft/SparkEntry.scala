package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the declared operator surface (one entry per SURVEY §2
  * operator family + the training-data extensions); `oracleSql` holds
  * the DuckDB-equivalent SQL with identical output column names/types.
  * Queries whose math depends on Spark-internal hashing (xxhash64
  * minhash/simhash/LSH) have no SQL oracle → driver does a rows-only
  * check.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.qEmissionByBrand(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // scans / projections / derived columns
    "q_scan_project" -> (Queries.qScanProject _),
    "q_rename_cast" -> (Queries.qRenameCast _),
    "q_derived_arith" -> (Queries.qDerivedArith _),
    // filters
    "q_filter_pred" -> (Queries.qFilterPred _),
    "q_filter_null" -> (Queries.qFilterNull _),
    // aggregation / dedup / set ops
    "q_agg_pricing" -> (Queries.qAggPricing _),
    "q_count_star" -> (Queries.qCountStar _),
    "q_count_distinct" -> (Queries.qCountDistinct _),
    "q_distinct" -> (Queries.qDistinct _),
    "q_dedup_keep_first" -> (Queries.qDedupKeepFirst _),
    "q_union_distinct" -> (Queries.qUnionDistinct _),
    "q_rollup" -> (Queries.qRollup _),
    "q_cube" -> (Queries.qCube _),
    // joins
    "q_join_inner" -> (Queries.qJoinInner _),
    "q_join_left_chain" -> (Queries.qJoinLeftChain _),
    "q_join_anti" -> (Queries.qJoinAnti _),
    "q_join_semi" -> (Queries.qJoinSemi _),
    "q_join_nullsafe" -> (Queries.qJoinNullsafe _),
    "q_join_salted" -> (Queries.qJoinSalted _),
    "q_bloom_antijoin" -> (Queries.qBloomAntijoin _),
    "q_fk_orphans" -> (Queries.qFkOrphans _),
    "q_star_join_revenue" -> (Queries.qStarJoinRevenue _),
    "q_emission_by_brand" -> (Queries.qEmissionByBrand _),
    // sort / window
    "q_topn_sort" -> (Queries.qTopnSort _),
    "q_window_rank" -> (Queries.qWindowRank _),
    "q_window_lag" -> (Queries.qWindowLag _),
    // date / time
    "q_date_dim" -> (Queries.qDateDim _),
    "q_date_parts" -> (Queries.qDateParts _),
    // streaming-shaped
    "q_events_hourly" -> (Queries.qEventsHourly _),
    "q_sessionize" -> (Queries.qSessionize _),
    "q_tpch_q3" -> (Queries.qTpchQ3 _),
    "q_tpch_q5" -> (Queries.qTpchQ5 _),
    "q_tpch_q10" -> (Queries.qTpchQ10 _),
    "q_tpch_q18" -> (Queries.qTpchQ18 _),
    "q_tpch_q14" -> (Queries.qTpchQ14 _),
    "q_tpch_q7" -> (Queries.qTpchQ7 _),
    "q_tpch_q8" -> (Queries.qTpchQ8 _),
    "q_tpch_q6" -> (Queries.qTpchQ6 _),
    "q_tpch_q19" -> (Queries.qTpchQ19 _),
    "q_tpch_q1" -> (Queries.qTpchQ1 _),
    "q_tpch_q2" -> (Queries.qTpchQ2 _),
    "q_tpch_q4" -> (Queries.qTpchQ4 _),
    "q_tpch_q9" -> (Queries.qTpchQ9 _),
    "q_tpch_q11" -> (Queries.qTpchQ11 _),
    "q_tpch_q12" -> (Queries.qTpchQ12 _),
    "q_tpch_q13" -> (Queries.qTpchQ13 _),
    "q_tpch_q15" -> (Queries.qTpchQ15 _),
    "q_tpch_q16" -> (Queries.qTpchQ16 _),
    "q_tpch_q17" -> (Queries.qTpchQ17 _),
    "q_tpch_q20" -> (Queries.qTpchQ20 _),
    "q_tpch_q21" -> (Queries.qTpchQ21 _),
    "q_tpch_q22" -> (Queries.qTpchQ22 _),
    "q_asof_join" -> (Queries.qAsofJoin _),
    "q_asof_join_fwd" -> (Queries.qAsofJoinFwd _),
    // SQL surface + sketches
    "q_sql_view" -> (Queries.qSqlView _),
    "q_json_extract" -> (Queries.qJsonExtract _),
    "q_variant" -> (Queries.qVariant _),
    "q_recursive_cte" -> (Queries.qRecursiveCte _),
    "q_approx_sketch" -> (Queries.qApproxSketch _),
    "q_sketch_kmv" -> (Queries.qSketchKmv _),
    // text analysis
    "q_txt_tokens" -> (Queries.qTxtTokens _),
    "q_txt_quality" -> (Queries.qTxtQuality _),
    "q_txt_langid" -> (Queries.qTxtLangid _),
    "q_txt_fingerprint" -> (Queries.qTxtFingerprint _),
    "q_txt_bpe_tokens" -> (Queries.qTxtBpeTokens _),
    "q_txt_rollhash" -> (Queries.qTxtRollhash _),
    "q_txt_winnow" -> (Queries.qTxtWinnow _),
    "q_sample_hash" -> (Queries.qSampleHash _),
    "q_sample_mixture" -> (Queries.qSampleMixture _),
    "q_txt_repetition" -> (Queries.qTxtRepetition _),
    "q_txt_chunks" -> (Queries.qTxtChunks _),
    "q_txt_redact" -> (Queries.qTxtRedact _),
    "q_bm25_topk" -> (Queries.qBm25TopK _),
    "q_bm25_ingest" -> (Queries.qBm25Ingest _),
    "q_txt_tfidf" -> (Queries.qTxtTfidf _),
    "q_hybrid_rrf" -> (Queries.qHybridRrf _),
    "q_txt_xent" -> (Queries.qTxtXent _),
    "q_dsir_weights" -> (Queries.qDsirWeights _),
    "q_dsir_resample" -> (Queries.qDsirResample _),
    "q_retention_cohorts" -> (Queries.qRetentionCohorts _),
    "q_join_full" -> (Queries.qJoinFull _),
    "q_split_hash" -> (Queries.qSplitHash _),
    "q_pack_sequences" -> (Queries.qPackSequences _),
    "q_sample_stratified" -> (Queries.qSampleStratified _),
    // dedup extensions
    "q_dedup_exact" -> (Queries.qDedupExact _),
    "q_dedup_minhash" -> (Queries.qDedupMinhash _),
    "q_dedup_minhash_md5" -> (Queries.qDedupMinhashMd5 _),
    "q_dedup_fixpoint_md5" -> (Queries.qDedupFixpointMd5 _),
    "q_dedup_fixpoint_star" -> (Queries.qDedupFixpointStar _),
    "q_dedup_clusters" -> (Queries.qDedupClusters _),
    "q_dedup_incremental_md5" -> (Queries.qDedupIncrementalMd5 _),
    "q_dedup_stream_md5" -> (Queries.qDedupStreamMd5 _),
    "q_dedup_representatives" -> (Queries.qDedupRepresentatives _),
    "q_interleave" -> (Queries.qInterleave _),
    "q_dedup_minhash_recall" -> (Queries.qDedupMinhashRecall _),
    "q_dedup_simhash_md5" -> (Queries.qDedupSimhashMd5 _),
    "q_dedup_simhash" -> (Queries.qDedupSimhash _),
    "q_dedup_spans" -> (Queries.qDedupSpans _),
    "q_dedup_spans_md5" -> (Queries.qDedupSpansMd5 _),
    "q_dedup_spans_clean" -> (Queries.qDedupSpansClean _),
    "q_dedup_runs" -> (Queries.qDedupRuns _),
    "q_dedup_runs_md5" -> (Queries.qDedupRunsMd5 _),
    "q_dedup_simhash_pairs" -> (Queries.qDedupSimhashPairs _),
    "q_dedup_simhash_pairs_md5" -> (Queries.qDedupSimhashPairsMd5 _),
    "q_dedup_ngram_jaccard" -> (Queries.qDedupNgramJaccard _),
    "q_dedup_embcos" -> (Queries.qDedupEmbcos _),
    "q_dedup_semantic" -> (Queries.qDedupSemantic _),
    "q_cluster_sample" -> (Queries.qClusterSample _),
    "q_agg_incremental" -> (Queries.qAggIncremental _),
    "q_agg_topk" -> (Queries.qAggTopk _),
    "q_agg_stream" -> (Queries.qAggStream _),
    "q_scd2" -> (Queries.qScd2 _),
    "q_scd2_asof" -> (Queries.qScd2Asof _),
    "q_scd2_retire" -> (Queries.qScd2Retire _),
    "q_scd2_cdf" -> (Queries.qScd2Cdf _),
    "q_scd2_mv" -> (Queries.qScd2Mv _),
    "q_scd2_mv_minmax" -> (Queries.qScd2MvMinmax _),
    "q_scd2_vacuum" -> (Queries.qScd2Vacuum _),
    "q_events_topk" -> (Queries.qEventsTopk _),
    "q_events_funnel" -> (Queries.qEventsFunnel _),
    "q_events_funnel_any" -> (Queries.qEventsFunnelAny _),
    "q_events_funnel_weekly" -> (Queries.qEventsFunnelWeekly _),
    "q_events_resample" -> (Queries.qEventsResample _),
    "q_events_moving_avg" -> (Queries.qEventsMovingAvg _),
    "q_events_cumulative_users" -> (Queries.qEventsCumulativeUsers _),
    "q_unpivot" -> (Queries.qUnpivot _),
    "q_bucket_join" -> (Queries.qBucketJoin _),
    "q_events_quantile" -> (Queries.qEventsQuantile _),
    "q_zorder" -> (Queries.qZorder _),
    "q_zonemap_prune" -> (Queries.qZonemapPrune _),
    "q_zonemap_string" -> (Queries.qZonemapString _),
    "q_bloomindex_point" -> (Queries.qBloomindexPoint _),
    "q_compact" -> (Queries.qCompact _),
    "q_delete_where" -> (Queries.qDeleteWhere _),
    "q_delete_keys" -> (Queries.qDeleteKeys _),
    "q_upsert_pruned" -> (Queries.qUpsertPruned _),
    "q_upsert_bulk" -> (Queries.qUpsertBulk _),
    "q_delete_bulk" -> (Queries.qDeleteBulk _),
    "q_timetravel" -> (Queries.qTimeTravel _),
    "q_txlog_stream" -> (Queries.qTxlogStream _),
    "q_txlog_diff" -> (Queries.qTxlogDiff _),
    "q_dv_delete" -> (Queries.qDvDelete _),
    "q_dv_materialize" -> (Queries.qDvMaterialize _),
    "q_dv_diff" -> (Queries.qDvDiff _),
    "q_hidden_partition" -> (Queries.qHiddenPartition _),
    "q_partition_evolve" -> (Queries.qPartitionEvolve _),
    "q_export_manifest" -> (Queries.qExportManifest _),
    "q_dv_upsert" -> (Queries.qDvUpsert _),
    "q_dv_stream" -> (Queries.qDvStream _),
    "q_dv_evolve" -> (Queries.qDvEvolve _),
    "q_txlog_mv" -> (Queries.qTxlogMv _),
    "q_txlog_follow" -> (Queries.qTxlogFollow _),
    "q_txlog_stats" -> (Queries.qTxlogStats _),
    "q_hive_dml" -> (Queries.qHiveDml _),
    "q_dblog_txn" -> (Queries.qDblogTxn _),
    "q_dblog_stream" -> (Queries.qDblogStream _),
    "q_dblog_diff" -> (Queries.qDblogDiff _),
    "q_dblog_dv" -> (Queries.qDblogDv _),
    "q_cdc_stream" -> (Queries.qCdcStream _),
    "q_stream_pipe" -> (Queries.qStreamPipe _),
    "q_sql_dml" -> (Queries.qSqlDml _),
    "q_sql_ddl" -> (Queries.qSqlDdl _),
    "q_branch_wap" -> (Queries.qBranchWap _),
    "q_clone" -> (Queries.qClone _),
    "q_clone_dv" -> (Queries.qCloneDv _),
    "q_colmap_rename" -> (Queries.qColmapRename _),
    "q_colmap_drop_readd" -> (Queries.qColmapDropReadd _),
    "q_identity" -> (Queries.qIdentity _),
    "q_identity_default" -> (Queries.qIdentityDefault _),
    "q_rowids" -> (Queries.qRowIds _),
    "q_db_rowids" -> (Queries.qDbRowIds _),
    "q_db_replicate" -> (Queries.qDbReplicate _),
    "q_replicate_rowid" -> (Queries.qReplicateRowid _),
    "q_dblog_colmap" -> (Queries.qDblogColmap _),
    "q_dblog_widen" -> (Queries.qDblogWiden _),
    "q_clone_rename" -> (Queries.qCloneRename _),
    "q_copy_into" -> (Queries.qCopyInto _),
    "q_cluster_by" -> (Queries.qClusterBy _),
    "q_joinmv" -> (Queries.qJoinMv _),
    "q_joinmv_minmax" -> (Queries.qJoinMvMinmax _),
    "q_joinmv_star" -> (Queries.qJoinMvStar _),
    "q_dbmv_star" -> (Queries.qDbMvStar _),
    "q_cdc_autorestart" -> (Queries.qCdcAutorestart _),
    "q_routed_delete" -> (Queries.qRoutedDelete _),
    "q_type_widen" -> (Queries.qTypeWiden _),
    "q_gencol" -> (Queries.qGencol _),
    "q_auto_columns" -> (Queries.qAutoColumns _),
    "q_cdf_images" -> (Queries.qCdfImages _),
    "q_clone_detach" -> (Queries.qCloneDetach _),
    "q_sql_merge_full" -> (Queries.qSqlMergeFull _),
    "q_sql_timetravel" -> (Queries.qSqlTimetravel _),
    "q_txlog_replicate" -> (Queries.qTxlogReplicate _),
    "q_txlog_constraint" -> (Queries.qTxlogConstraint _),
    "q_dq_report" -> (Queries.qDqReport _),
    "q_dq_quarantine" -> (Queries.qDqQuarantine _),
    "q_dq_by_group" -> (Queries.qDqByGroup _),
    "q_agg_quantile" -> (Queries.qAggQuantile _),
    "q_agg_reshard" -> (Queries.qAggReshard _),
    "q_pipeline_funnel" -> (Queries.qPipelineFunnel _),
    "q_pipeline_clean" -> (Queries.qPipelineClean _),
    "q_token_budget" -> (Queries.qTokenBudget _),
    "q_decontaminate" -> (Queries.qDecontaminate _),
    "q_token_budget_group" -> (Queries.qTokenBudgetGroup _),
    // multimodal
    "q_mm_meta" -> (Queries.qMmMeta _),
    "q_mm_features" -> (Queries.qMmFeatures _),
    "q_mm_image_stats" -> (Queries.qMmImageStats _),
    "q_mm_audio_stats" -> (Queries.qMmAudioStats _),
    "q_mm_video_meta" -> (Queries.qMmVideoMeta _),
    // similarity search
    "q_ann_brute" -> (Queries.qAnnBrute _),
    "q_ann_drift" -> (Queries.qAnnDrift _),
    "q_ann_ingest" -> (Queries.qAnnIngest _),
    "q_ann_rebalance" -> (Queries.qAnnRebalance _),
    "q_ann_bloom_health" -> (Queries.qAnnBloomHealth _),
    "q_ann_health" -> (Queries.qAnnHealth _),
    "q_ann_lsh" -> (Queries.qAnnLsh _),
    "q_ann_ivf" -> (Queries.qAnnIvf _),
    "q_ann_filtered" -> (Queries.qAnnFiltered _),
    "q_ann_ivf_full" -> (Queries.qAnnIvfFull _),
    "q_ann_ivf_saved" -> (Queries.qAnnIvfSaved _),
    "q_ann_ivf_split" -> (Queries.qAnnIvfSplit _),
    "q_ann_ivf_recall" -> (Queries.qAnnIvfRecall _),
    "q_ann_lsh_recall" -> (Queries.qAnnLshRecall _),
    "q_ann_pq" -> (Queries.qAnnPq _),
    "q_ann_pq_recall" -> (Queries.qAnnPqRecall _),
    "q_ann_sq8_recall" -> (Queries.qAnnSq8Recall _),
    "q_ann_ivfsq8_recall" -> (Queries.qAnnIvfSq8Recall _),
    "q_ann_sq8_ingest" -> (Queries.qAnnSq8Ingest _),
    "q_ann_ivfpq" -> (Queries.qAnnIvfPq _),
    "q_ann_ivfpq_recall" -> (Queries.qAnnIvfPqRecall _),
    "q_emb_norm" -> (Queries.qEmbNorm _),
    // set ops / pivot / scalar-function surface
    "q_except" -> (Queries.qExcept _),
    "q_intersect" -> (Queries.qIntersect _),
    "q_pivot" -> (Queries.qPivot _),
    "q_string_funcs" -> (Queries.qStringFuncs _),
    "q_array_funcs" -> (Queries.qArrayFuncs _),
    "q_explode_tokens" -> (Queries.qExplodeTokens _),
    // subqueries
    "q_subquery_corr" -> (Queries.qSubqueryCorr _),
    "q_in_subquery" -> (Queries.qInSubquery _),
    // window frames / arg-max / stats
    "q_window_frames" -> (Queries.qWindowFrames _),
    "q_arg_max" -> (Queries.qArgMax _),
    "q_percentile_stats" -> (Queries.qPercentileStats _),
    "q_percentile_group" -> (Queries.qPercentileGroup _),
    // range join
    "q_range_join" -> (Queries.qRangeJoin _),
    // grouping sets / rank windows / histogram / regex / dates / conditionals
    "q_grouping_sets" -> (Queries.qGroupingSets _),
    "q_window_ranks" -> (Queries.qWindowRanks _),
    "q_histogram" -> (Queries.qHistogram _),
    "q_regex_extract" -> (Queries.qRegexExtract _),
    "q_date_arith" -> (Queries.qDateArith _),
    "q_conditional" -> (Queries.qConditional _),
  )

  def oracleSql: Map[String, String] = Oracles.sql
}

/** DuckDB oracle SQL, one per SQL-expressible query. Conventions:
  * DuckDB BIGINT-returning date-parts/len are CAST to INT where Spark
  * yields IntegerType; order-sensitive double aggregates are ROUNDed
  * identically on both sides.
  */
object Oracles {
  val sql: Map[String, String] = Map(
    "q_scan_project" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",

    "q_rename_cast" ->
      """SELECT l_orderkey AS order_key, l_linenumber AS line_no,
         CAST(l_shipdate AS DATE) AS ship_date FROM lineitem""",

    "q_derived_arith" ->
      """SELECT l_orderkey, l_linenumber,
         l_extendedprice * (1.0 - l_discount) AS revenue,
         l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charged
         FROM lineitem""",

    "q_filter_pred" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
         FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'""",

    "q_filter_null" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE o_totalprice IS NOT NULL AND o_totalprice > 300000.0""",

    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
         ROUND(SUM(l_quantity), 2) AS sum_qty,
         ROUND(SUM(l_extendedprice), 2) AS sum_base,
         ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
         ROUND(AVG(l_quantity), 2) AS avg_qty,
         COUNT(*) AS cnt
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",

    "q_count_star" ->
      "SELECT COUNT(*) AS cnt FROM lineitem",

    "q_count_distinct" ->
      """SELECT COUNT(DISTINCT l_partkey) AS n_parts,
         COUNT(DISTINCT l_suppkey) AS n_supps FROM lineitem""",

    "q_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    "q_dedup_keep_first" ->
      """SELECT c_nationkey, c_custkey, c_name FROM (
           SELECT c_nationkey, c_custkey, c_name,
                  row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS rn
           FROM customer) WHERE rn = 1""",

    "q_union_distinct" ->
      """SELECT DISTINCT nationkey FROM (
           SELECT c_nationkey AS nationkey FROM customer
           UNION ALL SELECT s_nationkey FROM supplier)""",

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
         ROUND(SUM(l_quantity), 2) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",

    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""",

    "q_join_inner" ->
      """SELECT o_orderkey, c_custkey, c_name
         FROM orders JOIN customer ON o_custkey = c_custkey""",

    "q_join_left_chain" ->
      """SELECT c_custkey, n_name, r_name FROM customer
         LEFT JOIN nation ON c_nationkey = n_nationkey
         LEFT JOIN region ON n_regionkey = r_regionkey""",

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""",

    "q_join_semi" ->
      """SELECT c_custkey FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""",

    "q_join_full" ->
      """SELECT c.c_custkey, c.c_name, o.o_custkey, o.n_orders, o.total
         FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 1000) c
         FULL OUTER JOIN
              (SELECT o_custkey, COUNT(*) AS n_orders,
                      ROUND(SUM(o_totalprice), 2) AS total
               FROM orders WHERE o_custkey > 500 GROUP BY 1) o
           ON c.c_custkey = o.o_custkey""",

    "q_join_nullsafe" ->
      """SELECT k.rf AS rf, COUNT(*) AS cnt
         FROM (SELECT NULLIF(l_returnflag, 'N') AS rf FROM lineitem) l
         JOIN (SELECT NULLIF(c, 'N') AS rf FROM (VALUES ('A'), ('R'), ('N')) t(c)) k
           ON l.rf IS NOT DISTINCT FROM k.rf
         GROUP BY k.rf""",

    "q_join_salted" ->
      """SELECT o_orderpriority, COUNT(*) AS cnt,
         ROUND(SUM(l_quantity), 2) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority""",

    "q_bloom_antijoin" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""",

    "q_fk_orphans" ->
      """SELECT 'lineitem.l_orderkey->orders' AS fk,
           (SELECT count(*) FROM lineitem c WHERE c.l_orderkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM orders p WHERE p.o_orderkey = c.l_orderkey)) AS orphan_rows
         UNION ALL SELECT 'lineitem.l_partkey->part',
           (SELECT count(*) FROM lineitem c WHERE c.l_partkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = c.l_partkey))
         UNION ALL SELECT 'lineitem.l_suppkey->supplier',
           (SELECT count(*) FROM lineitem c WHERE c.l_suppkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM supplier p WHERE p.s_suppkey = c.l_suppkey))
         UNION ALL SELECT 'probe:lineitem.l_orderkey->nation',
           (SELECT count(*) FROM lineitem c WHERE c.l_orderkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM nation p WHERE p.n_nationkey = c.l_orderkey))
         UNION ALL SELECT 'orders.o_custkey->customer',
           (SELECT count(*) FROM orders c WHERE c.o_custkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM customer p WHERE p.c_custkey = c.o_custkey))
         UNION ALL SELECT 'customer.c_nationkey->nation',
           (SELECT count(*) FROM customer c WHERE c.c_nationkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM nation p WHERE p.n_nationkey = c.c_nationkey))
         UNION ALL SELECT 'nation.n_regionkey->region',
           (SELECT count(*) FROM nation c WHERE c.n_regionkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM region p WHERE p.r_regionkey = c.n_regionkey))
         UNION ALL SELECT 'events.user_id->customer',
           (SELECT count(*) FROM events c WHERE c.user_id IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM customer p WHERE p.c_custkey = c.user_id))""",

    "q_star_join_revenue" ->
      """SELECT r_name,
         ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
         COUNT(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""",

    "q_emission_by_brand" ->
      """SELECT p_brand AS brand,
         ROUND(SUM(l_quantity * p_retailprice), 2) AS total_emission
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand""",

    "q_topn_sort" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
         ORDER BY p_retailprice DESC, p_partkey LIMIT 10""",

    "q_window_rank" ->
      """SELECT p_brand, p_partkey, p_retailprice, rnk FROM (
           SELECT p_brand, p_partkey, p_retailprice,
                  CAST(row_number() OVER (
                    PARTITION BY p_brand
                    ORDER BY p_retailprice DESC, p_partkey) AS INT) AS rnk
           FROM part) WHERE rnk <= 3""",

    "q_window_lag" ->
      """SELECT event_id, user_id,
         value - lag(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS delta
         FROM events""",

    "q_date_dim" ->
      """SELECT CAST(strftime(d, '%Y%m%d') AS INT) AS date_id,
         CAST(d AS DATE) AS date,
         dayname(d) AS week_day,
         CAST(dayofmonth(d) AS INT) AS day,
         CAST(month(d) AS INT) AS month,
         CAST(weekofyear(d) AS INT) AS week,
         CAST(quarter(d) AS INT) AS quarter,
         CAST(year(d) AS INT) AS year
         FROM generate_series(TIMESTAMP '2010-01-01', TIMESTAMP '2030-01-01',
                              INTERVAL 1 DAY) t(d)""",

    "q_date_parts" ->
      """SELECT o_orderkey,
         CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS date_id,
         dayname(o_orderdate) AS week_day,
         CAST(dayofmonth(o_orderdate) AS INT) AS day,
         CAST(month(o_orderdate) AS INT) AS month,
         CAST(weekofyear(o_orderdate) AS INT) AS week,
         CAST(quarter(o_orderdate) AS INT) AS quarter,
         CAST(year(o_orderdate) AS INT) AS year
         FROM orders""",

    "q_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
         COUNT(*) AS cnt, ROUND(SUM(value), 2) AS sum_value
         FROM events GROUP BY 1, 2""",

    "q_retention_cohorts" ->
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort
                    FROM events GROUP BY 1),
         a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
         SELECT f.cohort, CAST(a.day - f.cohort AS BIGINT) AS day_offset,
                count(DISTINCT a.user_id) AS active_users
         FROM a JOIN f USING (user_id)
         GROUP BY 1, 2""",

    "q_json_extract" ->
      """SELECT event_type,
         COUNT(k) AS n_k, CAST(SUM(k) AS BIGINT) AS sum_k,
         MIN(k) AS min_k, MAX(k) AS max_k
         FROM (SELECT event_type,
                 TRY_CAST(NULLIF(regexp_extract(props, '"k": (-?\d+)', 1), '') AS INT) AS k
               FROM events)
         GROUP BY event_type""",

    // VARIANT: typed path extraction recovers the flat columns
    // losslessly, so the oracle is the plain-column algebra
    "q_variant" ->
      """SELECT o_orderstatus AS status,
         ROUND(SUM(o_totalprice), 2) AS total_price,
         COUNT(*) AS n, CAST(0 AS BIGINT) AS n_absent
         FROM orders WHERE o_orderkey % 3 = 0
         GROUP BY o_orderstatus""",

    // recursive CTE: DuckDB replays the same ancestor-chain recursion
    // (// is DuckDB's integer division; sums cast off HUGEINT)
    "q_recursive_cte" ->
      """WITH RECURSIVE chain (node, anc, depth) AS (
           SELECT c_custkey, c_custkey, 0 FROM customer
           UNION ALL
           SELECT node, anc // 10, depth + 1 FROM chain WHERE anc >= 10
         )
         SELECT depth, count(*) AS n,
                CAST(sum(node) AS BIGINT) AS sum_node,
                CAST(sum(anc) AS BIGINT) AS sum_anc
         FROM chain GROUP BY depth""",

    "q_asof_join" ->
      """SELECT e.event_id, e.user_id, e.ts,
         p.value AS purchase_value, p.ts AS purchase_ts
         FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
         ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
           ON e.user_id = p.user_id AND e.ts >= p.ts""",

    "q_asof_join_fwd" ->
      """SELECT e.event_id, e.user_id, e.ts,
         p.value AS next_value, p.ts AS next_ts
         FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
         ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
           ON e.user_id = p.user_id AND e.ts <= p.ts""",

    "q_sql_view" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr,
         CAST(month(o_orderdate) AS INT) AS mo,
         COUNT(*) AS n_orders,
         ROUND(SUM(o_totalprice), 2) AS total
         FROM orders GROUP BY 1, 2""",

    "q_sessionize" ->
      """WITH b AS (
           SELECT user_id, event_id, ts, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
             THEN 1 ELSE 0 END AS boundary
           FROM events),
         sess AS (
           SELECT user_id, ts, value,
             CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
           FROM b)
         SELECT user_id, sid, MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
         FROM sess GROUP BY user_id, sid""",

    "q_tpch_q3" ->
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
         ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
           AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
           AND c_mktsegment = 'BUILDING'
         GROUP BY o_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderkey LIMIT 10""",

    // Q6 forecasting revenue change: pure filter + one-row aggregate
    "q_tpch_q6" ->
      """SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           AND l_discount BETWEEN 0.03 AND 0.05
           AND l_quantity < 24""",

    // Q19 OR-of-ANDs discounted revenue over three brand/size/qty bands
    "q_tpch_q19" ->
      """SELECT ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
                AND l_quantity BETWEEN 20 AND 30)""",

    // Q7 volume shipping: two-nation pair, shipdate window, per-year
    "q_tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM supplier
         JOIN lineitem ON s_suppkey = l_suppkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
             OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
           AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY 1, 2, 3
         ORDER BY 1, 2, 3""",

    // Q8 market share: NATION_5's share of PROMO volume into AMERICA
    "q_tpch_q8" ->
      """SELECT year(o_orderdate) AS o_year,
             ROUND(SUM(CASE WHEN n2.n_name = 'NATION_5'
                            THEN l_extendedprice * (1.0 - l_discount)
                            ELSE 0.0 END)
               / SUM(l_extendedprice * (1.0 - l_discount)), 6) AS mkt_share
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON c_nationkey = n1.n_nationkey
         JOIN region ON n1.n_regionkey = r_regionkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n2 ON s_nationkey = n2.n_nationkey
         WHERE p_type = 'PROMO' AND r_name = 'AMERICA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY 1
         ORDER BY 1""",

    "q_tpch_q5" ->
      """SELECT n_name,
         ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name""",

    "q_tpch_q10" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
         ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1995-10-01 00:00:00'
         GROUP BY c_custkey, c_name, c_acctbal, n_name
         ORDER BY revenue DESC, c_custkey LIMIT 20""",

    "q_tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
         SUM(l_quantity) AS sum_qty
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE l_orderkey IN (SELECT l_orderkey FROM lineitem
                              GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
         GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
         ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100""",

    "q_tpch_q14" ->
      """SELECT
         ROUND(SUM(CASE WHEN p_type = 'PROMO'
                   THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END), 2)
           AS promo_revenue,
         ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS total_revenue,
         ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                           THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)
               / SUM(l_extendedprice * (1.0 - l_discount)), 4) AS promo_pct
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1996-02-01 00:00:00'""",

    // Q1 pricing summary: full 8-aggregate report
    "q_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
         ROUND(SUM(l_quantity), 2) AS sum_qty,
         ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
         ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
         ROUND(SUM(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2)
           AS sum_charge,
         ROUND(AVG(l_quantity), 2) AS avg_qty,
         ROUND(AVG(l_extendedprice), 2) AS avg_price,
         ROUND(AVG(l_discount), 4) AS avg_disc,
         COUNT(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    // Q2 minimum-cost supplier (lineitem-witnessed part/supplier relation)
    "q_tpch_q2" ->
      """WITH offers AS (
           SELECT p_partkey, p_name, s_name, s_acctbal, n_name,
             l_extendedprice AS cost,
             MIN(l_extendedprice) OVER (PARTITION BY p_partkey) AS min_cost
           FROM lineitem
           JOIN part ON l_partkey = p_partkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'EUROPE' AND p_size = 15 AND p_type = 'STANDARD')
         SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name, cost
         FROM offers WHERE cost = min_cost
         ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
         LIMIT 100""",

    // Q4 order-priority checking ("late" = shipped >60 days after order)
    "q_tpch_q4" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",

    // Q9 product-type profit (cost = retail price * qty * 10% margin proxy)
    "q_tpch_q9" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
         ROUND(SUM(l_extendedprice * (1.0 - l_discount)
                   - p_retailprice * l_quantity * 0.1), 2) AS sum_profit
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         WHERE p_name LIKE 'red %'
         GROUP BY 1, 2
         ORDER BY 1 ASC, 2 DESC""",

    // Q11 important stock (shipped value per part, 0.1% HAVING threshold)
    "q_tpch_q11" ->
      """WITH slice AS (
           SELECT l_partkey, l_extendedprice * (1.0 - l_discount) AS value
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           WHERE n_name = 'NATION_3')
         SELECT l_partkey, ROUND(SUM(value), 2) AS value
         FROM slice
         GROUP BY l_partkey
         HAVING SUM(value) > (SELECT SUM(value) * 0.001 FROM slice)
         ORDER BY 2 DESC, 1 ASC""",

    // Q12 shipping audit: urgent vs non-urgent late lines per return flag
    "q_tpch_q12" ->
      """SELECT l_returnflag,
         CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           AND l_shipdate > o_orderdate + INTERVAL 30 DAY
         GROUP BY l_returnflag
         ORDER BY l_returnflag""",

    // Q13 customer order-count distribution (left outer keeps 0-order custs)
    "q_tpch_q13" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
           SELECT c_custkey, COUNT(o_orderkey) AS c_count
           FROM customer
           LEFT OUTER JOIN (SELECT o_orderkey, o_custkey FROM orders
                            WHERE o_orderpriority <> '4-NOT SPECIFIED') o
             ON c_custkey = o_custkey
           GROUP BY c_custkey)
         GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC""",

    // Q15 top supplier: max quarter revenue via scalar re-comparison
    "q_tpch_q15" ->
      """WITH revenue AS (
           SELECT l_suppkey AS supplier_no,
             SUM(l_extendedprice * (1.0 - l_discount)) AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, ROUND(total_revenue, 2) AS total_revenue
         FROM revenue JOIN supplier ON supplier_no = s_suppkey
         WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
         ORDER BY s_suppkey""",

    // Q16 parts/supplier counts (arrears acctbal stands in for complaints)
    "q_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
         COUNT(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
           AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
           AND l_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY p_brand, p_type, p_size
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",

    // Q17 small-quantity-order revenue (per-part avg as a window)
    "q_tpch_q17" ->
      """WITH slice AS (
           SELECT l_partkey, l_quantity, l_extendedprice,
             AVG(l_quantity) OVER (PARTITION BY l_partkey) AS avg_qty
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_brand = 'Brand#23' AND p_type = 'SMALL')
         SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
         FROM slice WHERE l_quantity < 0.2 * avg_qty""",

    // Q20 potential part promotion (threshold = >80 red units in 1996)
    "q_tpch_q20" ->
      """SELECT s_name, s_acctbal
         FROM supplier
         JOIN nation ON s_nationkey = n_nationkey
         WHERE n_name = 'NATION_1'
           AND s_suppkey IN (
             SELECT l_suppkey FROM lineitem
             JOIN part ON l_partkey = p_partkey
             WHERE p_name LIKE 'red %'
               AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
               AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
             GROUP BY l_suppkey, l_partkey
             HAVING SUM(l_quantity) > 80)
         ORDER BY s_name""",

    // Q21 suppliers who kept orders waiting (late = >60 days after order)
    "q_tpch_q21" ->
      """WITH late AS (
           SELECT l_orderkey, l_suppkey
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE o_orderstatus = 'F'
             AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
         SELECT s_name, COUNT(*) AS numwait
         FROM late l1
         JOIN supplier ON l1.l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE n_name = 'NATION_2'
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM late l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey)
         GROUP BY s_name
         ORDER BY numwait DESC, s_name ASC
         LIMIT 100""",

    // Q22 global sales opportunity (mktsegment stands in for phone prefix)
    "q_tpch_q22" ->
      """WITH cust AS (
           SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
           WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'FURNITURE'))
         SELECT c_mktsegment AS cntrycode, COUNT(*) AS numcust,
           ROUND(SUM(c_acctbal), 2) AS totacctbal
         FROM cust
         WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM cust
                            WHERE c_acctbal > 0.0)
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
         GROUP BY c_mktsegment
         ORDER BY cntrycode""",

    "q_txt_tokens" ->
      """SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_tokens
         FROM documents""",

    "q_txt_quality" ->
      """SELECT doc_id,
         CAST(length(text) AS INT) AS len_chars,
         CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[.!?,;:]')) AS INT) AS n_punct,
         CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it)\b')) AS INT) AS n_stop,
         (
           LEAST(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 100.0, 1.0)
           + LEAST(CASE WHEN len(regexp_extract_all(text, '\S+')) > 0
                        THEN CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it)\b')) AS DOUBLE)
                             / CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) * 4.0
                        ELSE 0.0 END, 1.0)
         ) / 2.0 AS quality
         FROM documents""",

    "q_txt_langid" ->
      """SELECT doc_id,
         CASE WHEN GREATEST(en, de, fr, es) = 0 THEN 'und'
              WHEN en >= de AND en >= fr AND en >= es THEN 'en'
              WHEN de >= fr AND de >= es THEN 'de'
              WHEN fr >= es THEN 'fr'
              ELSE 'es' END AS lang_pred
         FROM (SELECT doc_id,
           len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|you|that|it|with)\b')) AS en,
           len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht|ich|ein|mit)\b')) AS de,
           len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|vous|que|pour|dans)\b')) AS fr,
           len(regexp_extract_all(lower(text), '\b(el|los|las|es|una|por|con|para|del)\b')) AS es
           FROM documents)""",

    "q_txt_fingerprint" ->
      """SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
         FROM documents""",

    "q_txt_bpe_tokens" ->
      """SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_ws,
         CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+')) AS INT) AS n_bpe
         FROM documents""",

    "q_txt_rollhash" ->
      """SELECT doc_id, list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(generate_series(1, length(text)),
               i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
           (acc, c) -> (acc * 31 + c) % 1000000007) AS rh
         FROM documents""",

    "q_sample_hash" ->
      """SELECT lang, COUNT(*) AS n_sampled FROM documents
         WHERE substr(md5(text), 1, 1) IN ('0', '1', '2', '3')
         GROUP BY lang""",

    // stratified mixing: fixed-width lowercase hex compares in string
    // order exactly as it does numerically, so both engines evaluate
    // the identical threshold CASE (0.5→80000000, 0.25→40000000,
    // default 0.1→19999999 = hex(floor(0.1*2^32)))
    "q_sample_mixture" ->
      """SELECT lang, COUNT(*) AS n_sampled FROM documents
         WHERE substr(md5(text), 1, 8) <
           CASE lang WHEN 'en' THEN '80000000'
                     WHEN 'de' THEN '40000000'
                     ELSE '19999999' END
         GROUP BY lang""",

    "q_split_hash" ->
      """WITH m AS (SELECT doc_id,
             md5(coalesce(CAST(doc_id AS VARCHAR), '<NULL>')) AS s FROM documents),
         h AS (SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(generate_series(1, length(s)),
                   i -> CAST(ascii(substr(s, CAST(i AS INT), 1)) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % 1000000007) / 1000000007.0 AS bucket
           FROM m)
         SELECT doc_id,
           CASE WHEN bucket < 0.8 THEN 'train'
                WHEN bucket < 0.9 THEN 'val'
                ELSE 'test' END AS split
         FROM h""",

    "q_txt_repetition" ->
      """WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
                     FROM documents),
         uc AS (SELECT doc_id, tok, count(*) AS n
                FROM (SELECT doc_id, UNNEST(toks) AS tok FROM tk) GROUP BY 1, 2),
         us AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
                       CAST(count(*) AS BIGINT) AS uniq_tokens,
                       CAST(max(n) AS BIGINT) AS top_token_n
                FROM uc GROUP BY 1),
         bg AS (SELECT doc_id,
                  toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] AS gram
                FROM tk, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
                WHERE len(toks) >= 2
                UNION ALL
                -- wordShingles contract: sub-w docs yield one whole-doc shingle
                SELECT doc_id, coalesce(toks[1], '') AS gram FROM tk
                WHERE len(toks) <= 1),
         bc AS (SELECT doc_id, gram, count(*) AS n FROM bg GROUP BY 1, 2),
         bs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS uniq_bigrams,
                       CAST(max(n) AS BIGINT) AS top_bigram_n
                FROM bc GROUP BY 1)
         SELECT d.doc_id,
           coalesce(us.n_tokens, 0) AS n_tokens,
           coalesce(us.uniq_tokens, 0) AS uniq_tokens,
           coalesce(us.top_token_n, 0) AS top_token_n,
           coalesce(bs.uniq_bigrams, 0) AS uniq_bigrams,
           coalesce(bs.top_bigram_n, 0) AS top_bigram_n
         FROM documents d
         LEFT JOIN us ON d.doc_id = us.doc_id
         LEFT JOIN bs ON d.doc_id = bs.doc_id""",

    "q_txt_chunks" ->
      """WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
                     FROM documents),
         b AS (SELECT doc_id, toks, len(toks) AS n,
                      (greatest(len(toks) - 32, 0) + 23) // 24 AS m
               FROM tk)
         SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                array_to_string(toks[CAST(i*24+1 AS INT):CAST(least(i*24+32, n) AS INT)], ' ')
                  AS chunk_text,
                CAST(len(toks[CAST(i*24+1 AS INT):CAST(least(i*24+32, n) AS INT)]) AS BIGINT)
                  AS chunk_tokens
         FROM b, UNNEST(generate_series(0, m)) AS g(i)""",

    "q_txt_redact" ->
      """SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 'contact u' || CAST(doc_id AS VARCHAR) || '@mail-example.org or https://ex.example/'
                   || CAST(doc_id AS VARCHAR) || '/x id ' || CAST(doc_id * 1234567 AS VARCHAR)
                   || ' :: ' || text,
                 'https?://\S+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '[0-9]{7,}', '<NUM>', 'g') AS clean
         FROM documents""",

    // unigram-LM cross-entropy: add-1 smoothing against (total, vocab),
    // -avg(ln p) per doc; e0 literals keep the arithmetic DOUBLE
    "q_txt_xent" ->
      """WITH tok AS (SELECT doc_id, t.term
                      FROM (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
                            FROM documents) d,
                           UNNEST(toks) AS t(term)),
         tf AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
         tot AS (SELECT sum(c) AS total, count(*) AS v FROM tf),
         p AS (SELECT term, (c + 1e0) / (tot.total + 1e0 * (tot.v + 1)) AS prob
               FROM tf, tot)
         SELECT doc_id, count(*) AS n_tokens,
                round(-avg(ln(prob)), 4) AS xent
         FROM tok JOIN p USING (term)
         GROUP BY doc_id""",

    // DSIR: target model over every 7th doc, raw model over all;
    // per-doc log likelihood ratio with α-smoothed OOV fallback
    "q_dsir_weights" ->
      """WITH tok AS (SELECT doc_id, t.term
                      FROM (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
                            FROM documents) d,
                           UNNEST(toks) AS t(term)),
         tfr AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
         totr AS (SELECT sum(c) AS total, count(*) AS v FROM tfr),
         pr AS (SELECT term, (c + 1e0) / (totr.total + 1e0 * (totr.v + 1)) AS pr
                FROM tfr, totr),
         tft AS (SELECT term, count(*) AS c FROM tok
                 WHERE doc_id % 7 = 0 GROUP BY 1),
         tott AS (SELECT sum(c) AS total, count(*) AS v FROM tft),
         pt AS (SELECT term, (c + 1e0) / (tott.total + 1e0 * (tott.v + 1)) AS pt
                FROM tft, tott),
         oovt AS (SELECT 1e0 / (tott.total + 1e0 * (tott.v + 1)) AS oovt
                  FROM tott)
         SELECT doc_id, count(*) AS n_tokens,
                round(sum(ln(coalesce(pt.pt, oovt.oovt)) - ln(pr.pr)), 4)
                  AS logw
         FROM tok JOIN pr USING (term) LEFT JOIN pt USING (term), oovt
         GROUP BY doc_id""",

    // DSIR resample: deterministic Gumbel noise from md5(doc_id)'s
    // first 8 hex digits — DuckDB draws the SAME top-100 sample
    "q_dsir_resample" ->
      """WITH tok AS (SELECT doc_id, t.term
                      FROM (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
                            FROM documents) d,
                           UNNEST(toks) AS t(term)),
         tfr AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
         totr AS (SELECT sum(c) AS total, count(*) AS v FROM tfr),
         pr AS (SELECT term, (c + 1e0) / (totr.total + 1e0 * (totr.v + 1)) AS pr
                FROM tfr, totr),
         tft AS (SELECT term, count(*) AS c FROM tok
                 WHERE doc_id % 7 = 0 GROUP BY 1),
         tott AS (SELECT sum(c) AS total, count(*) AS v FROM tft),
         pt AS (SELECT term, (c + 1e0) / (tott.total + 1e0 * (tott.v + 1)) AS pt
                FROM tft, tott),
         oovt AS (SELECT 1e0 / (tott.total + 1e0 * (tott.v + 1)) AS oovt
                  FROM tott),
         w AS (SELECT doc_id, count(*) AS n_tokens,
                      round(sum(ln(coalesce(pt.pt, oovt.oovt)) - ln(pr.pr)), 4)
                        AS logw
               FROM tok JOIN pr USING (term) LEFT JOIN pt USING (term), oovt
               GROUP BY doc_id)
         SELECT doc_id, n_tokens, logw,
                round(logw - ln(-ln(
                  (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                     AS BIGINT) + 0.5) / 4294967296.0)), 4) AS score
         FROM w
         ORDER BY score DESC, doc_id
         LIMIT 100""",

    // BM25: identical postings/df/dl/avgdl arithmetic; scores round
    // to 4 decimals BEFORE the rank so engine-side float summation
    // order cannot flip tied docs (doc_id breaks residual ties)
    "q_bm25_topk" ->
      """WITH q AS (SELECT * FROM (VALUES
             (0, 'fast table scan'), (1, 'window merge batch'),
             (2, 'stream filter group sort'), (3, 'vector hash join'))
           AS v(query_id, query_text)),
         qt AS (SELECT DISTINCT query_id, t.term
                FROM q, UNNEST(regexp_extract_all(lower(query_text), '\S+')) AS t(term)),
         post AS (SELECT doc_id, t.term, count(*) AS tf
                  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
                        FROM documents) d,
                       UNNEST(toks) AS t(term)
                  GROUP BY 1, 2),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM post GROUP BY 1),
         st AS (SELECT count(*) AS n,
                       CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / count(*) AS avgdl
                FROM documents),
         dfp AS (SELECT term, count(*) AS df FROM post
                 WHERE term IN (SELECT term FROM qt) GROUP BY 1),
         -- e0 literals keep every operand DOUBLE (DuckDB bare decimals
         -- are DECIMAL — exact/fixed-scale — which would diverge from
         -- Spark's double-throughout arithmetic in the last ulps)
         sc AS (SELECT qt.query_id, post.doc_id,
                  round(sum(
                    ln(1e0 + (st.n - dfp.df + 5e-1) / (dfp.df + 5e-1)) *
                    (post.tf * 2.2e0) /
                    (post.tf + 1.2e0 * (2.5e-1 + 7.5e-1 * dl.dl / st.avgdl))), 4) AS score
                FROM post
                JOIN qt ON qt.term = post.term
                JOIN dfp ON dfp.term = post.term
                JOIN dl ON dl.doc_id = post.doc_id, st
                GROUP BY 1, 2)
         SELECT query_id, CAST(rn AS INT) AS rank, doc_id, score
         FROM (SELECT query_id, doc_id, score,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, doc_id) AS rn
               FROM sc) r
         WHERE rn <= 10""",

    // BM25 ingest lifecycle: the saved index after create(doc_id<250)
    // + append(200..349) + replay must rank exactly like inline BM25
    // over the distinct union (doc_id < 350). Stats mirror the ledger:
    // N / avgdl over docs with >=1 token (the only rankable docs).
    "q_bm25_ingest" ->
      """WITH corp AS (SELECT doc_id, text FROM documents WHERE doc_id < 350),
         q AS (SELECT * FROM (VALUES
             (0, 'fast table scan'), (1, 'window merge batch'),
             (2, 'stream filter group sort'), (3, 'vector hash join'))
           AS v(query_id, query_text)),
         qt AS (SELECT DISTINCT query_id, t.term
                FROM q, UNNEST(regexp_extract_all(lower(query_text), '\S+')) AS t(term)),
         post AS (SELECT doc_id, t.term, count(*) AS tf
                  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
                        FROM corp) d,
                       UNNEST(toks) AS t(term)
                  GROUP BY 1, 2),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM post GROUP BY 1),
         st AS (SELECT count(*) AS n,
                       CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
                FROM dl),
         dfp AS (SELECT term, count(*) AS df FROM post
                 WHERE term IN (SELECT term FROM qt) GROUP BY 1),
         sc AS (SELECT qt.query_id, post.doc_id,
                  round(sum(
                    ln(1e0 + (st.n - dfp.df + 5e-1) / (dfp.df + 5e-1)) *
                    (post.tf * 2.2e0) /
                    (post.tf + 1.2e0 * (2.5e-1 + 7.5e-1 * dl.dl / st.avgdl))), 4) AS score
                FROM post
                JOIN qt ON qt.term = post.term
                JOIN dfp ON dfp.term = post.term
                JOIN dl ON dl.doc_id = post.doc_id, st
                GROUP BY 1, 2)
         SELECT query_id, CAST(rn AS INT) AS rank, doc_id, score
         FROM (SELECT query_id, doc_id, score,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, doc_id) AS rn
               FROM sc) r
         WHERE rn <= 10""",

    "q_pack_sequences" ->
      """WITH RECURSIVE base AS (
           SELECT doc_id, CAST(doc_id % 8 AS INT) AS bucket,
                  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS tokens,
                  row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
           FROM documents
           WHERE len(regexp_extract_all(text, '\S+')) <= 512),
         p AS (
           SELECT doc_id, bucket, rn, tokens,
                  CAST(0 AS BIGINT) AS pack, tokens AS acc
           FROM base WHERE rn = 1
           UNION ALL
           SELECT b.doc_id, b.bucket, b.rn, b.tokens,
                  CASE WHEN p.acc + b.tokens > 512 THEN p.pack + 1 ELSE p.pack END,
                  CASE WHEN p.acc + b.tokens > 512 THEN b.tokens ELSE p.acc + b.tokens END
           FROM base b JOIN p ON b.bucket = p.bucket AND b.rn = p.rn + 1)
         SELECT doc_id, bucket, pack AS pack_in_bucket,
                CAST(bucket AS BIGINT) * 4294967296 + pack AS pack_id, tokens
         FROM p""",

    "q_sample_stratified" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
         FROM (
           SELECT l_returnflag, l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
                  row_number() OVER (PARTITION BY l_returnflag
                    ORDER BY md5(coalesce(CAST(l_orderkey AS VARCHAR), '<NULL>')
                              || '|' || coalesce(CAST(l_linenumber AS VARCHAR), '<NULL>')
                              || '|' || coalesce(CAST(l_partkey AS VARCHAR), '<NULL>')
                              || '|' || coalesce(CAST(l_suppkey AS VARCHAR), '<NULL>')),
                             l_orderkey, l_linenumber, l_partkey, l_suppkey) AS rn
           FROM lineitem) s
         WHERE rn <= 20""",

    "q_txt_winnow" ->
      """WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                    FROM documents),
         g AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
                 (CAST(ascii(substr(t, CAST(i AS INT), 1)) AS BIGINT) * 27512614111
                + CAST(ascii(substr(t, CAST(i+1 AS INT), 1)) AS BIGINT) * 887503681
                + CAST(ascii(substr(t, CAST(i+2 AS INT), 1)) AS BIGINT) * 28629151
                + CAST(ascii(substr(t, CAST(i+3 AS INT), 1)) AS BIGINT) * 923521
                + CAST(ascii(substr(t, CAST(i+4 AS INT), 1)) AS BIGINT) * 29791
                + CAST(ascii(substr(t, CAST(i+5 AS INT), 1)) AS BIGINT) * 961
                + CAST(ascii(substr(t, CAST(i+6 AS INT), 1)) AS BIGINT) * 31
                + CAST(ascii(substr(t, CAST(i+7 AS INT), 1)) AS BIGINT)) % 1000000007 AS h
               FROM d, UNNEST(generate_series(1, length(t) - 7)) AS u(i)),
         m AS (SELECT doc_id, pos,
                 min(h) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
                 count(*) OVER (PARTITION BY doc_id) AS n
               FROM g)
         SELECT doc_id, CAST(count(DISTINCT wmin) AS BIGINT) AS n_fp,
           MIN(wmin) AS fp_min, MAX(wmin) AS fp_max,
           CAST(SUM(DISTINCT wmin) AS BIGINT) AS fp_sum
         FROM m WHERE pos <= n - 4 GROUP BY doc_id""",

    "q_mm_meta" ->
      """SELECT doc_id AS asset_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
              WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
         CAST((doc_id % 64) * 16 + 64 AS INT) AS width,
         CAST((doc_id % 48) * 16 + 64 AS INT) AS height,
         CAST(CASE WHEN doc_id % 3 = 1 THEN 16000 ELSE 44100 END AS INT) AS sample_rate
         FROM documents""",

    "q_mm_features" ->
      """WITH chars AS (
           SELECT doc_id, ascii(substr(text, CAST(i AS INT), 1)) AS code
           FROM documents, UNNEST(generate_series(1, length(text))) AS u(i)),
         bins AS (SELECT doc_id, code // 16 AS bin, count(*) AS c
                  FROM chars GROUP BY 1, 2),
         lens AS (SELECT doc_id, CAST(length(text) AS DOUBLE) AS n FROM documents),
         ent AS (
           SELECT b.doc_id,
             -SUM((b.c / l.n) * log2(b.c / l.n)) AS entropy
           FROM bins b JOIN lens l USING (doc_id) GROUP BY b.doc_id),
         mb AS (SELECT doc_id, AVG(code) AS mean_byte FROM chars GROUP BY doc_id)
         SELECT d.doc_id AS asset_id,
           CASE CAST(d.doc_id % 3 AS INT) WHEN 0 THEN 'image'
                WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           CAST(length(d.text) AS INT) AS n_bytes,
           ROUND(e.entropy, 6) AS entropy,
           ROUND(m.mean_byte, 6) AS mean_byte
         FROM documents d
         JOIN ent e ON e.doc_id = d.doc_id
         JOIN mb m ON m.doc_id = d.doc_id""",

    // real-codec decode round trip: solid-color PNGs encoded and
    // decoded executor-side; stats are pure doc_id arithmetic
    "q_mm_image_stats" ->
      """SELECT doc_id AS asset_id,
         CAST(2 + doc_id % 7 AS INT) AS px_width,
         CAST(2 + doc_id % 5 AS INT) AS px_height,
         CAST((2 + doc_id % 7) * (2 + doc_id % 5) AS BIGINT) AS n_pixels,
         ROUND(0.2126 * ((doc_id * 37) % 256) + 0.7152 * ((doc_id * 59) % 256)
               + 0.0722 * ((doc_id * 83) % 256), 6) AS mean_luma,
         ROUND(CAST((doc_id * 37) % 256 AS DOUBLE), 6) AS mean_r,
         ROUND(CAST((doc_id * 59) % 256 AS DOUBLE), 6) AS mean_g,
         ROUND(CAST((doc_id * 83) % 256 AS DOUBLE), 6) AS mean_b
         FROM documents WHERE doc_id < 300""",

    // real-codec audio round trip: constant-amplitude PCM WAVs encoded
    // and decoded executor-side; a constant signal's RMS/peak are
    // exactly |amplitude| and duration is the same IEEE division
    "q_mm_audio_stats" ->
      """SELECT doc_id AS asset_id,
         CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
         CAST(1 AS INT) AS channels,
         CAST(100 + doc_id % 50 AS BIGINT) AS n_frames,
         CAST(100 + doc_id % 50 AS DOUBLE)
           / CAST(8000 + (doc_id % 3) * 4000 AS DOUBLE) AS duration_s,
         CAST(abs((doc_id * 131) % 20001 - 10000) AS DOUBLE) AS rms,
         CAST(abs((doc_id * 131) % 20001 - 10000) AS DOUBLE) AS peak
         FROM documents WHERE doc_id < 300""",

    // real container-parse round trip: ISO BMFF headers built
    // byte-by-byte and box-walked back executor-side; every field is
    // doc_id arithmetic and duration is the same IEEE division
    "q_mm_video_meta" ->
      """SELECT doc_id AS asset_id,
         'isom' AS brand,
         600 + (doc_id % 4) * 200 AS timescale,
         1000 + (doc_id % 5000) AS duration_units,
         CAST(1000 + (doc_id % 5000) AS DOUBLE)
           / CAST(600 + (doc_id % 4) * 200 AS DOUBLE) AS duration_s,
         CAST(1 + doc_id % 2 AS INT) AS n_tracks,
         CAST(16 * (2 + doc_id % 8) AS INT) AS width,
         CAST(16 * (2 + doc_id % 6) AS INT) AS height
         FROM documents WHERE doc_id < 300""",

    // ingest behavioral gate: after an overlapping batch append plus a
    // replay through the bloom + pruned anti-join, the table ids must
    // be exactly the distinct corpus ids
    "q_ann_ingest" ->
      """SELECT vec_id AS id FROM embeddings""",

    // SQ8 persisted-lifecycle gate: save half + ingest the rest with
    // an overlap and a replay → ids land exactly once
    "q_ann_sq8_ingest" ->
      """SELECT vec_id FROM embeddings""",

    // the rebalance policy arithmetic over a deterministic skewed
    // assignment: counts, mean, and the 2x-mean split threshold
    "q_ann_rebalance" ->
      """WITH a AS (SELECT CASE WHEN vec_id % 10 < 7 THEN 0
                               ELSE CAST(vec_id % 10 AS INT) - 6 END AS cell
                    FROM embeddings),
         c AS (SELECT cell, count(*) AS n_rows FROM a GROUP BY cell),
         m AS (SELECT avg(n_rows) AS mean_rows FROM c)
         SELECT cell, n_rows, mean_rows,
           CAST(NULL AS BIGINT) AS n_batch, CAST(NULL AS DOUBLE) AS drift_ratio,
           CASE WHEN n_rows > mean_rows * 2.0 THEN 'split' ELSE 'ok' END AS action
         FROM c, m""",

    // the sidecar bloom-health arithmetic over the same deterministic
    // assignment: capacity 64 is the query's literal; num_bits 512 is
    // Spark's BloomFilter.create(64, 0.03).bitSize() (pinned by
    // IndexStoreSpec); k = max(1, round(m/n·ln2)) is its hash count
    // rule, written floor(x+0.5) to match Java Math.round exactly
    "q_ann_bloom_health" ->
      """WITH a AS (SELECT CASE WHEN vec_id % 10 < 7 THEN 0
                               ELSE CAST(vec_id % 10 AS INT) - 6 END AS cell
                    FROM embeddings),
         c AS (SELECT cell, count(*) AS n_ids FROM a GROUP BY cell),
         p AS (SELECT cell, n_ids, CAST(64 AS BIGINT) AS capacity,
                      CAST(512 AS BIGINT) AS num_bits,
                      GREATEST(1, CAST(FLOOR(512 / 64.0 * LN(2) + 0.5) AS BIGINT)) AS k
               FROM c),
         r AS (SELECT cell, n_ids, capacity, num_bits,
                      CAST(n_ids AS DOUBLE) / capacity AS load_factor,
                      POWER(1 - EXP(-CAST(k * n_ids AS DOUBLE) / num_bits), k) AS fpp0
               FROM p)
         SELECT cell, n_ids, capacity, num_bits, load_factor,
                ROUND(fpp0, 6) AS est_fpp,
                CASE WHEN fpp0 > 0.05 THEN 'grow' ELSE 'ok' END AS action
         FROM r""",

    // the combined health view: the rebalance twin joined with the
    // bloom-health twin on cell; severity rank split > retrain > grow
    "q_ann_health" ->
      """WITH a AS (SELECT CASE WHEN vec_id % 10 < 7 THEN 0
                               ELSE CAST(vec_id % 10 AS INT) - 6 END AS cell
                    FROM embeddings),
         c AS (SELECT cell, count(*) AS n_rows FROM a GROUP BY cell),
         m AS (SELECT avg(n_rows) AS mean_rows FROM c),
         rb AS (SELECT cell, n_rows, mean_rows,
                  CASE WHEN n_rows > mean_rows * 2.0 THEN 'split' ELSE 'ok' END
                    AS rebalance_action
                FROM c, m),
         p AS (SELECT cell, n_rows AS n_ids, CAST(64 AS BIGINT) AS capacity,
                      CAST(512 AS BIGINT) AS num_bits,
                      GREATEST(1, CAST(FLOOR(512 / 64.0 * LN(2) + 0.5) AS BIGINT)) AS k
               FROM c),
         bh AS (SELECT cell, CAST(n_ids AS DOUBLE) / capacity AS load_factor,
                       POWER(1 - EXP(-CAST(k * n_ids AS DOUBLE) / num_bits), k) AS fpp0
                FROM p)
         SELECT rb.cell, rb.n_rows, rb.mean_rows,
           CAST(NULL AS BIGINT) AS n_batch, CAST(NULL AS DOUBLE) AS drift_ratio,
           bh.load_factor, ROUND(bh.fpp0, 6) AS est_fpp,
           rb.rebalance_action,
           CASE WHEN bh.fpp0 > 0.05 THEN 'grow' ELSE 'ok' END AS bloom_action,
           CASE WHEN rb.rebalance_action = 'split' THEN 'split'
                WHEN bh.fpp0 > 0.05 THEN 'grow' ELSE 'ok' END AS action
         FROM rb JOIN bh ON rb.cell = bh.cell""",

    "q_emb_norm" ->
      """SELECT vec_id, ROUND(sqrt(list_sum(list_transform(embedding,
         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
         FROM embeddings""",

    "q_ann_brute" ->
      """WITH pairs AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(q.embedding, c.embedding),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
           FROM embeddings q, embeddings c
           WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
         ranked AS (
           SELECT query_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
           FROM pairs)
         SELECT query_id, rank, neighbor_id, ROUND(cos, 6) AS cosine
         FROM ranked WHERE rank <= 5""",

    "q_dedup_exact" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
         MIN(doc_id) AS keep_id, COUNT(*) AS dups
         FROM documents GROUP BY 1""",

    // span-level exact substring dedup: duplicated 8-token grams,
    // keep-first (min doc then min pos), gaps-and-islands span merge
    "q_dedup_spans" ->
      """WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
                    FROM documents WHERE doc_id < 300),
         g AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
                 array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS gram
               FROM d, UNNEST(generate_series(1, greatest(len(toks) - 7, 0))) AS u(i)),
         bg AS (SELECT gram, min(doc_id) AS fid FROM g
                GROUP BY gram HAVING count(*) >= 2),
         fp AS (SELECT g.gram, min(g.pos) AS fpos FROM g
                JOIN bg ON g.gram = bg.gram AND g.doc_id = bg.fid GROUP BY g.gram),
         rem AS (SELECT g.doc_id, g.pos AS s, g.pos + 8 AS e
                 FROM g JOIN bg ON g.gram = bg.gram JOIN fp ON fp.gram = g.gram
                 WHERE NOT (g.doc_id = bg.fid AND g.pos = fp.fpos)),
         isl AS (SELECT doc_id, s, e,
                   CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w
                        THEN 1 ELSE 0 END AS ns
                 FROM rem
                 WINDOW w AS (PARTITION BY doc_id ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         sp AS (SELECT doc_id, s, e, sum(ns) OVER (PARTITION BY doc_id ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                FROM isl)
         SELECT doc_id, CAST(min(s) AS INT) AS start_tok, CAST(max(e) AS INT) AS end_tok
         FROM sp GROUP BY doc_id, sid""",

    // the PRODUCTION (hashed-gram) span shuffle shape, md5-halves key:
    // same pipeline as q_dedup_spans with the gram string replaced by
    // h1*2^30 + h2 (exact BIGINT arithmetic in both engines)
    "q_dedup_spans_md5" ->
      """WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
                    FROM documents WHERE doc_id < 300),
         g0 AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
                  array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS gs
                FROM d, UNNEST(generate_series(1, greatest(len(toks) - 7, 0))) AS u(i)),
         g AS (SELECT doc_id, pos,
                 CAST(('0x' || substr(md5(gs), 1, 8)) AS BIGINT) * 1073741824
                 + CAST(('0x' || substr(md5(gs), 9, 8)) AS BIGINT) AS gram
               FROM g0),
         bg AS (SELECT gram, min(doc_id) AS fid FROM g
                GROUP BY gram HAVING count(*) >= 2),
         fp AS (SELECT g.gram, min(g.pos) AS fpos FROM g
                JOIN bg ON g.gram = bg.gram AND g.doc_id = bg.fid GROUP BY g.gram),
         rem AS (SELECT g.doc_id, g.pos AS s, g.pos + 8 AS e
                 FROM g JOIN bg ON g.gram = bg.gram JOIN fp ON fp.gram = g.gram
                 WHERE NOT (g.doc_id = bg.fid AND g.pos = fp.fpos)),
         isl AS (SELECT doc_id, s, e,
                   CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w
                        THEN 1 ELSE 0 END AS ns
                 FROM rem
                 WINDOW w AS (PARTITION BY doc_id ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         sp AS (SELECT doc_id, s, e, sum(ns) OVER (PARTITION BY doc_id ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                FROM isl)
         SELECT doc_id, CAST(min(s) AS INT) AS start_tok, CAST(max(e) AS INT) AS end_tok
         FROM sp GROUP BY doc_id, sid""",

    // multi-scale duplicated runs (prefix doubling): window streams at
    // widths 4/8/16/32, corpus-wide count>=2 per (level, sig), then
    // per-position max width and a per-doc rollup
    "q_dedup_runs" ->
      """WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
                    FROM documents WHERE doc_id < 300),
         g AS (SELECT doc_id, L.lvl, L.w, CAST(i - 1 AS INT) AS pos,
                 array_to_string(toks[CAST(i AS INT):CAST(i + L.w - 1 AS INT)], ' ') AS sig
               FROM d,
                    (VALUES (0, 4), (1, 8), (2, 16), (3, 32)) AS L(lvl, w),
                    UNNEST(generate_series(1, greatest(len(toks) - L.w + 1, 0))) AS u(i)),
         dup AS (SELECT lvl, sig FROM g GROUP BY lvl, sig HAVING count(*) >= 2),
         dp AS (SELECT g.doc_id, g.pos, max(g.w) AS run_len
                FROM g JOIN dup ON g.lvl = dup.lvl AND g.sig = dup.sig
                GROUP BY g.doc_id, g.pos)
         SELECT doc_id, count(*) AS n_dup_pos, CAST(max(run_len) AS INT) AS max_run
         FROM dp GROUP BY doc_id""",

    // the hashed-key production width (8-byte signatures), md5-halves
    // digest of each wide window — exact BIGINT arithmetic both engines
    "q_dedup_runs_md5" ->
      """WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
                    FROM documents WHERE doc_id < 300),
         g0 AS (SELECT doc_id, L.lvl, L.w, CAST(i - 1 AS INT) AS pos,
                  array_to_string(toks[CAST(i AS INT):CAST(i + L.w - 1 AS INT)], ' ') AS gs
                FROM d,
                     (VALUES (0, 4), (1, 8), (2, 16), (3, 32)) AS L(lvl, w),
                     UNNEST(generate_series(1, greatest(len(toks) - L.w + 1, 0))) AS u(i)),
         g AS (SELECT doc_id, lvl, w, pos,
                 CAST(('0x' || substr(md5(gs), 1, 8)) AS BIGINT) * 1073741824
                 + CAST(('0x' || substr(md5(gs), 9, 8)) AS BIGINT) AS sig
               FROM g0),
         dup AS (SELECT lvl, sig FROM g GROUP BY lvl, sig HAVING count(*) >= 2),
         dp AS (SELECT g.doc_id, g.pos, max(g.w) AS run_len
                FROM g JOIN dup ON g.lvl = dup.lvl AND g.sig = dup.sig
                GROUP BY g.doc_id, g.pos)
         SELECT doc_id, count(*) AS n_dup_pos, CAST(max(run_len) AS INT) AS max_run
         FROM dp GROUP BY doc_id""",

    "q_dedup_spans_clean" ->
      """WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
                    FROM documents WHERE doc_id < 300),
         g AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
                 array_to_string(toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS gram
               FROM d, UNNEST(generate_series(1, greatest(len(toks) - 7, 0))) AS u(i)),
         bg AS (SELECT gram, min(doc_id) AS fid FROM g
                GROUP BY gram HAVING count(*) >= 2),
         fp AS (SELECT g.gram, min(g.pos) AS fpos FROM g
                JOIN bg ON g.gram = bg.gram AND g.doc_id = bg.fid GROUP BY g.gram),
         rem AS (SELECT g.doc_id, g.pos AS s, g.pos + 8 AS e
                 FROM g JOIN bg ON g.gram = bg.gram JOIN fp ON fp.gram = g.gram
                 WHERE NOT (g.doc_id = bg.fid AND g.pos = fp.fpos)),
         isl AS (SELECT doc_id, s, e,
                   CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w
                        THEN 1 ELSE 0 END AS ns
                 FROM rem
                 WINDOW w AS (PARTITION BY doc_id ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         sp AS (SELECT doc_id, s, e, sum(ns) OVER (PARTITION BY doc_id ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                FROM isl),
         spans AS (SELECT doc_id, min(s) AS st, max(e) AS en
                   FROM sp GROUP BY doc_id, sid),
         tok AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[CAST(i AS INT)] AS tok
                 FROM d, UNNEST(generate_series(1, len(toks))) AS u(i)),
         kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t
                  WHERE NOT EXISTS (SELECT 1 FROM spans x
                    WHERE x.doc_id = t.doc_id AND t.pos >= x.st AND t.pos < x.en))
         SELECT d.doc_id, COALESCE(k.clean_text, '') AS clean_text
         FROM d LEFT JOIN (
           SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
           FROM kept GROUP BY doc_id) k USING (doc_id)""",

    "q_dedup_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                    FROM documents WHERE doc_id < 60),
         g AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 3) AS gram
               FROM d, UNNEST(generate_series(1, greatest(length(t)-2, 0))) AS u(i)),
         sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
                   FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT id_a, id_b, ROUND(CAST(ni AS DOUBLE)/(sa.n + sb.n - ni), 6) AS jaccard
         FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
         WHERE CAST(ni AS DOUBLE)/(sa.n + sb.n - ni) >= 0.3""",

    "q_dedup_minhash_md5" ->
      """WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                    FROM documents WHERE doc_id < 200),
         g AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 4) AS gram
               FROM d, UNNEST(generate_series(1, greatest(length(t)-3, 0))) AS u(i)),
         h AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) AS h1,
                 CAST(('0x' || substr(md5(gram), 9, 8)) AS BIGINT) AS h2 FROM g),
         sig AS (SELECT doc_id, s, min(h1 + s * h2) AS mh
                 FROM h, UNNEST(generate_series(0, 15)) AS v(s) GROUP BY doc_id, s)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_agree
         FROM sig a JOIN sig b ON a.s = b.s AND a.mh = b.mh AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 4""",

    "q_dedup_fixpoint_md5" ->
      """WITH RECURSIVE d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                    FROM documents WHERE doc_id < 200),
         g AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 4) AS gram
               FROM d, UNNEST(generate_series(1, greatest(length(t)-3, 0))) AS u(i)),
         h AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) AS h1,
                 CAST(('0x' || substr(md5(gram), 9, 8)) AS BIGINT) AS h2 FROM g),
         sig AS (SELECT doc_id, s, min(h1 + s * h2) AS mh
                 FROM h, UNNEST(generate_series(0, 15)) AS v(s) GROUP BY doc_id, s),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM sig a JOIN sig b ON a.s = b.s AND a.mh = b.mh AND a.doc_id < b.doc_id
                GROUP BY 1, 2 HAVING count(*) >= 10),
         e AS (SELECT id_a AS node, id_b AS nbr FROM pr
               UNION ALL SELECT id_b, id_a FROM pr),
         reach(node, r) AS (
           SELECT node, node FROM e
           UNION
           SELECT e.node, reach.r FROM e JOIN reach ON e.nbr = reach.node),
         lab AS (SELECT node, min(r) AS label FROM reach GROUP BY node)
         SELECT doc_id FROM d
         WHERE doc_id NOT IN (SELECT node FROM lab WHERE label <> node)""",

    "q_dedup_incremental_md5" ->
      """WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                    FROM documents WHERE doc_id < 200),
         f AS (SELECT doc_id, md5(t) AS fp FROM d),
         ed AS (SELECT f.doc_id FROM f
                WHERE f.doc_id >= 100 AND EXISTS (
                  SELECT 1 FROM f g WHERE g.fp = f.fp AND g.doc_id < f.doc_id)),
         s0 AS (SELECT doc_id, t FROM d
                WHERE doc_id NOT IN (SELECT doc_id FROM ed)),
         g AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 4) AS gram
               FROM s0, UNNEST(generate_series(1, greatest(length(t)-3, 0))) AS u(i)),
         h AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) AS h1,
                 CAST(('0x' || substr(md5(gram), 9, 8)) AS BIGINT) AS h2 FROM g),
         sig AS (SELECT doc_id, s, min(h1 + s * h2) AS mh
                 FROM h, UNNEST(generate_series(0, 15)) AS v(s) GROUP BY doc_id, s),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM sig a JOIN sig b ON a.s = b.s AND a.mh = b.mh AND a.doc_id < b.doc_id
                GROUP BY 1, 2 HAVING count(*) >= 10),
         nd AS (SELECT DISTINCT id_b FROM pr WHERE id_b >= 100)
         SELECT doc_id FROM s0
         WHERE doc_id >= 100 AND doc_id NOT IN (SELECT id_b FROM nd)""",

    // the state-backed lifecycle lands the seeded corpus as-is plus
    // exactly q_dedup_incremental_md5's surviving batch docs
    "q_dedup_stream_md5" ->
      """WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                    FROM documents WHERE doc_id < 200),
         f AS (SELECT doc_id, md5(t) AS fp FROM d),
         ed AS (SELECT f.doc_id FROM f
                WHERE f.doc_id >= 100 AND EXISTS (
                  SELECT 1 FROM f g WHERE g.fp = f.fp AND g.doc_id < f.doc_id)),
         s0 AS (SELECT doc_id, t FROM d
                WHERE doc_id NOT IN (SELECT doc_id FROM ed)),
         g AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 4) AS gram
               FROM s0, UNNEST(generate_series(1, greatest(length(t)-3, 0))) AS u(i)),
         h AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) AS h1,
                 CAST(('0x' || substr(md5(gram), 9, 8)) AS BIGINT) AS h2 FROM g),
         sig AS (SELECT doc_id, s, min(h1 + s * h2) AS mh
                 FROM h, UNNEST(generate_series(0, 15)) AS v(s) GROUP BY doc_id, s),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM sig a JOIN sig b ON a.s = b.s AND a.mh = b.mh AND a.doc_id < b.doc_id
                GROUP BY 1, 2 HAVING count(*) >= 10),
         nd AS (SELECT DISTINCT id_b FROM pr WHERE id_b >= 100)
         SELECT doc_id FROM documents WHERE doc_id < 100
         UNION ALL
         SELECT doc_id FROM s0
         WHERE doc_id >= 100 AND doc_id NOT IN (SELECT id_b FROM nd)""",

    // per-node component labels aggregated to cluster stats — the same
    // reachability closure, grouped by its min-label
    "q_dedup_clusters" ->
      """WITH RECURSIVE d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                    FROM documents WHERE doc_id < 200),
         g AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 4) AS gram
               FROM d, UNNEST(generate_series(1, greatest(length(t)-3, 0))) AS u(i)),
         h AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) AS h1,
                 CAST(('0x' || substr(md5(gram), 9, 8)) AS BIGINT) AS h2 FROM g),
         sig AS (SELECT doc_id, s, min(h1 + s * h2) AS mh
                 FROM h, UNNEST(generate_series(0, 15)) AS v(s) GROUP BY doc_id, s),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM sig a JOIN sig b ON a.s = b.s AND a.mh = b.mh AND a.doc_id < b.doc_id
                GROUP BY 1, 2 HAVING count(*) >= 10),
         e AS (SELECT id_a AS node, id_b AS nbr FROM pr
               UNION ALL SELECT id_b, id_a FROM pr),
         reach(node, r) AS (
           SELECT node, node FROM e
           UNION
           SELECT e.node, reach.r FROM e JOIN reach ON e.nbr = reach.node),
         lab AS (SELECT node, min(r) AS label FROM reach GROUP BY node)
         SELECT label, count(*) AS members, min(node) AS min_id, max(node) AS max_id
         FROM lab GROUP BY label""",

    // identical closure oracle: large-star/small-star must keep exactly
    // the same per-component minimum ids as label propagation
    "q_dedup_fixpoint_star" ->
      """WITH RECURSIVE d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                    FROM documents WHERE doc_id < 200),
         g AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 4) AS gram
               FROM d, UNNEST(generate_series(1, greatest(length(t)-3, 0))) AS u(i)),
         h AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) AS h1,
                 CAST(('0x' || substr(md5(gram), 9, 8)) AS BIGINT) AS h2 FROM g),
         sig AS (SELECT doc_id, s, min(h1 + s * h2) AS mh
                 FROM h, UNNEST(generate_series(0, 15)) AS v(s) GROUP BY doc_id, s),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM sig a JOIN sig b ON a.s = b.s AND a.mh = b.mh AND a.doc_id < b.doc_id
                GROUP BY 1, 2 HAVING count(*) >= 10),
         e AS (SELECT id_a AS node, id_b AS nbr FROM pr
               UNION ALL SELECT id_b, id_a FROM pr),
         reach(node, r) AS (
           SELECT node, node FROM e
           UNION
           SELECT e.node, reach.r FROM e JOIN reach ON e.nbr = reach.node),
         lab AS (SELECT node, min(r) AS label FROM reach GROUP BY node)
         SELECT doc_id FROM d
         WHERE doc_id NOT IN (SELECT node FROM lab WHERE label <> node)""",

    // cluster labels from the same recursive closure as the fixpoint
    // oracles; representative = quality-argmax per cluster (quality
    // formula identical to q_txt_quality / q_pipeline_clean)
    "q_dedup_representatives" ->
      """WITH RECURSIVE d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                    FROM documents WHERE doc_id < 200),
         g AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 4) AS gram
               FROM d, UNNEST(generate_series(1, greatest(length(t)-3, 0))) AS u(i)),
         h AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) AS h1,
                 CAST(('0x' || substr(md5(gram), 9, 8)) AS BIGINT) AS h2 FROM g),
         sig AS (SELECT doc_id, s, min(h1 + s * h2) AS mh
                 FROM h, UNNEST(generate_series(0, 15)) AS v(s) GROUP BY doc_id, s),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM sig a JOIN sig b ON a.s = b.s AND a.mh = b.mh AND a.doc_id < b.doc_id
                GROUP BY 1, 2 HAVING count(*) >= 10),
         e AS (SELECT id_a AS node, id_b AS nbr FROM pr
               UNION ALL SELECT id_b, id_a FROM pr),
         reach(node, r) AS (
           SELECT node, node FROM e
           UNION
           SELECT e.node, reach.r FROM e JOIN reach ON e.nbr = reach.node),
         lab AS (SELECT node, min(r) AS label FROM reach GROUP BY node),
         q AS (SELECT doc_id,
             (LEAST(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 100.0, 1.0)
              + LEAST(CASE WHEN len(regexp_extract_all(text, '\S+')) > 0
                           THEN CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it)\b')) AS DOUBLE)
                                / CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) * 4.0
                           ELSE 0.0 END, 1.0)) / 2.0 AS quality
           FROM documents WHERE doc_id < 200),
         lbl AS (SELECT q.doc_id, coalesce(lab.label, q.doc_id) AS cluster, q.quality
                 FROM q LEFT JOIN lab ON q.doc_id = lab.node)
         SELECT cluster, doc_id FROM (
           SELECT cluster, doc_id,
             row_number() OVER (PARTITION BY cluster
               ORDER BY quality DESC, doc_id) AS rn
           FROM lbl) WHERE rn = 1""",

    "q_interleave" ->
      """WITH w AS (SELECT grp, CAST(wt AS DOUBLE) AS wt
                    FROM (VALUES ('0', 1.0), ('1', 2.0), ('2', 4.0)) v(grp, wt)),
         d AS (SELECT doc_id, CAST(doc_id % 3 AS VARCHAR) AS grp FROM documents)
         SELECT doc_id, grp, CAST(rn AS INT) AS pos,
                (CAST(rn AS DOUBLE) - 0.5) / wt AS interleave_key
         FROM (SELECT d.doc_id, d.grp, w.wt,
                 row_number() OVER (PARTITION BY d.grp ORDER BY d.doc_id) AS rn
               FROM d JOIN w USING (grp))""",

    "q_dedup_simhash_md5" ->
      """WITH tk AS (SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '\S+')) AS tok
                     FROM documents WHERE doc_id < 200),
         v AS (SELECT doc_id, j,
                 SUM(ascii(substr(md5(tok), CAST(j AS INT), 1)) % 2 * 2 - 1) AS v
               FROM tk, UNNEST(generate_series(1, 16)) AS u(j) GROUP BY doc_id, j)
         SELECT doc_id,
           CAST(SUM(CASE WHEN v >= 0 THEN CAST(POWER(2, j-1) AS BIGINT) ELSE 0 END) AS BIGINT)
             AS simhash16
         FROM v GROUP BY doc_id""",

    // the banded-pair path at maxHamming 3 with 4 bands is closed-form
    // by the pigeonhole bound: exactly the all-pairs Hamming-<=3 ball
    // over the same 16-bit md5 signatures
    "q_dedup_simhash_pairs_md5" ->
      """WITH tk AS (SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '\S+')) AS tok
                     FROM documents WHERE doc_id < 200),
         v AS (SELECT doc_id, j,
                 SUM(ascii(substr(md5(tok), CAST(j AS INT), 1)) % 2 * 2 - 1) AS v
               FROM tk, UNNEST(generate_series(1, 16)) AS u(j) GROUP BY doc_id, j),
         s AS (SELECT doc_id,
                 CAST(SUM(CASE WHEN v >= 0 THEN CAST(POWER(2, j-1) AS BIGINT) ELSE 0 END) AS BIGINT)
                   AS sig
               FROM v GROUP BY doc_id)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
         FROM s a JOIN s b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sig, b.sig)) <= 3""",

    "q_dedup_embcos" ->
      """WITH p AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(list_zip(a.embedding, b.embedding),
               z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
           FROM embeddings a, embeddings b
           WHERE a.vec_id < b.vec_id AND a.vec_id < 300 AND b.vec_id < 300)
         SELECT id_a, id_b, ROUND(cos, 6) AS cosine FROM p WHERE cos >= 0.35""",

    // TF-IDF keywords: same postings arithmetic as the BM25 oracle,
    // (tf/dl)*ln((1+N)/(1+df)) rounded to 6 before the rank
    "q_txt_tfidf" ->
      """WITH post AS (SELECT doc_id, t.term, count(*) AS tf
                  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
                        FROM documents) d,
                       UNNEST(toks) AS t(term)
                  GROUP BY 1, 2),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM post GROUP BY 1),
         dfp AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         sc AS (SELECT post.doc_id, post.term,
                  round((post.tf * 1e0 / dl.dl)
                        * ln((1e0 + n.n) / (1e0 + dfp.df)), 6) AS score
                FROM post JOIN dl USING (doc_id) JOIN dfp USING (term), n)
         SELECT doc_id, CAST(rn AS INT) AS rank, term, score
         FROM (SELECT doc_id, term, score,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, term) AS rn
               FROM sc) r
         WHERE rn <= 5""",

    // hybrid RRF: BM25 lexical top-20 (the q_bm25_topk recipe, k=20)
    // fused with brute cosine top-20 (the q_ann_brute recipe, queries
    // = vec_id 0..3) by sum(1/(60+rank)), fused top-10 per query
    "q_hybrid_rrf" ->
      """WITH q AS (SELECT * FROM (VALUES
             (0, 'fast table scan'), (1, 'window merge batch'),
             (2, 'stream filter group sort'), (3, 'vector hash join'))
           AS v(query_id, query_text)),
         qt AS (SELECT DISTINCT query_id, t.term
                FROM q, UNNEST(regexp_extract_all(lower(query_text), '\S+')) AS t(term)),
         post AS (SELECT doc_id, t.term, count(*) AS tf
                  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
                        FROM documents) d,
                       UNNEST(toks) AS t(term)
                  GROUP BY 1, 2),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM post GROUP BY 1),
         st AS (SELECT count(*) AS n,
                       CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / count(*) AS avgdl
                FROM documents),
         dfp AS (SELECT term, count(*) AS df FROM post
                 WHERE term IN (SELECT term FROM qt) GROUP BY 1),
         sc AS (SELECT qt.query_id, post.doc_id,
                  round(sum(
                    ln(1e0 + (st.n - dfp.df + 5e-1) / (dfp.df + 5e-1)) *
                    (post.tf * 2.2e0) /
                    (post.tf + 1.2e0 * (2.5e-1 + 7.5e-1 * dl.dl / st.avgdl))), 4) AS score
                FROM post
                JOIN qt ON qt.term = post.term
                JOIN dfp ON dfp.term = post.term
                JOIN dl ON dl.doc_id = post.doc_id, st
                GROUP BY 1, 2),
         lex AS (SELECT query_id, doc_id, rn FROM
                   (SELECT query_id, doc_id,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, doc_id) AS rn FROM sc) r
                 WHERE rn <= 20),
         pairs AS (
           SELECT qe.vec_id AS query_id, c.vec_id AS doc_id,
             list_sum(list_transform(list_zip(qe.embedding, c.embedding),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(qe.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
           FROM embeddings qe, embeddings c
           WHERE qe.vec_id < 4 AND qe.vec_id <> c.vec_id),
         vec AS (SELECT query_id, doc_id, rn FROM
                   (SELECT query_id, doc_id,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, doc_id) AS rn FROM pairs) r
                 WHERE rn <= 20),
         contrib AS (
           SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
                  1e0 / (60e0 + rn) AS c FROM lex
           UNION ALL
           SELECT CAST(query_id AS BIGINT), doc_id, 1e0 / (60e0 + rn) FROM vec),
         fused AS (SELECT query_id, doc_id, round(sum(c), 6) AS rrf
                   FROM contrib GROUP BY 1, 2)
         SELECT query_id, CAST(rn AS INT) AS rank, doc_id, rrf
         FROM (SELECT query_id, doc_id, rrf,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY rrf DESC, doc_id) AS rn FROM fused) r
         WHERE rn <= 10""",

    // incremental rollup (init even half + fold odd half + replay)
    // must equal the one-shot GROUP BY over the whole table
    "q_agg_incremental" ->
      """SELECT l_partkey, count(*) AS n,
           sum(l_quantity) AS sum_qty,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty,
           ROUND(sum(l_extendedprice), 2) AS sum_price,
           sum(l_quantity) / count(*) AS avg_qty,
           count(DISTINCT l_suppkey) AS ndv_supp,
           count(DISTINCT l_orderkey) AS ndv_ord
         FROM lineitem GROUP BY 1""",

    // heavy-hitter rollup state: the Misra-Gries fold across two
    // ingests is EXACT here (distinct suppliers per flag << k=256, no
    // decrement fires), so one-shot GROUP BY + rank oracles it; rank
    // ties break (count desc, key asc) on the STRING key both sides
    "q_agg_topk" ->
      """WITH c AS (SELECT l_returnflag, CAST(l_suppkey AS VARCHAR) AS sk,
                      count(*) AS cnt
                    FROM lineitem GROUP BY 1, 2),
         r AS (SELECT l_returnflag, sk, cnt,
                 row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY cnt DESC, sk ASC) AS rn
               FROM c),
         b AS (SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty
               FROM lineitem GROUP BY 1)
         SELECT b.l_returnflag, b.n, b.sum_qty, r.rn AS rank,
                r.sk AS top_supp, r.cnt AS top_supp_n
         FROM b JOIN r USING (l_returnflag) WHERE r.rn <= 5""",

    // streaming-sink gate for the sketch families: two epochs + a
    // re-delivered epoch through rollupSink must equal the one-shot
    // GROUP BY (both sketches exact-regime; p50 = rank-ceil(q*N))
    "q_agg_stream" ->
      """WITH c AS (SELECT l_returnflag, CAST(l_suppkey AS VARCHAR) AS sk,
                      count(*) AS cnt
                    FROM lineitem GROUP BY 1, 2),
         r AS (SELECT l_returnflag, sk, cnt,
                 row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY cnt DESC, sk ASC) AS rn
               FROM c),
         o AS (SELECT l_returnflag, l_quantity,
                 row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY l_quantity) AS rn2,
                 count(*) OVER (PARTITION BY l_returnflag) AS nn
               FROM lineitem),
         q AS (SELECT l_returnflag,
                 max(CASE WHEN rn2 = CAST(ceil(0.5 * nn) AS BIGINT)
                     THEN l_quantity END) AS p50_l_quantity
               FROM o GROUP BY 1),
         b AS (SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty
               FROM lineitem GROUP BY 1)
         SELECT b.l_returnflag, b.n, b.sum_qty, q.p50_l_quantity,
                r.rn AS rank, r.sk AS top_supp, r.cnt AS top_supp_n
         FROM b JOIN q USING (l_returnflag) JOIN r USING (l_returnflag)
         WHERE r.rn <= 5""",

    // temporal as-of join against the SCD2 history: every as-of
    // attribute and its matched valid_from derive from the version
    // definitions; facts before a key's first interval keep NULLs
    "q_scd2_asof" ->
      """WITH base AS (SELECT c_custkey AS k, c_mktsegment AS seg, c_acctbal AS bal
                       FROM customer WHERE c_custkey < 300),
         newr AS (SELECT k + 10000 AS k FROM base WHERE k < 10),
         facts AS (SELECT k, 1 + k % 3 AS fv FROM base
                   UNION ALL SELECT k, 1 + k % 3 AS fv FROM newr)
         SELECT f.k AS c_custkey, CAST(f.fv AS BIGINT) AS fv,
           CASE WHEN f.k >= 10000 THEN
                  CASE WHEN f.fv >= 2 THEN 'SEG_NEW' END
                WHEN f.k % 3 = 0 AND f.fv >= 2
                  THEN 'SEG_' || CAST(f.k % 5 AS VARCHAR)
                ELSE b.seg END AS c_mktsegment,
           CASE WHEN f.k >= 10000 THEN
                  CASE WHEN f.fv >= 2 THEN
                    CASE WHEN f.k % 4 = 0 AND f.fv >= 3
                         THEN CAST(f.k - 10000 AS DOUBLE) + 10
                         ELSE CAST(f.k - 10000 AS DOUBLE) END END
                WHEN f.k % 4 = 0 AND f.fv >= 3 THEN b.bal + 10
                ELSE b.bal END AS c_acctbal,
           CASE WHEN f.k >= 10000 THEN
                  CASE WHEN f.fv >= 3 AND f.k % 4 = 0 THEN CAST(3 AS BIGINT)
                       WHEN f.fv >= 2 THEN CAST(2 AS BIGINT) END
                WHEN f.fv >= 3 AND f.k % 4 = 0 THEN CAST(3 AS BIGINT)
                WHEN f.fv >= 2 AND f.k % 3 = 0 THEN CAST(2 AS BIGINT)
                ELSE CAST(1 AS BIGINT) END AS valid_from
         FROM facts f LEFT JOIN base b ON b.k = f.k""",

    // windowed heavy hitters: per event-day Misra-Gries top-3 event
    // types (exact regime — tiny type cardinality), rank ties
    // (count desc, type asc) on both sides
    "q_events_topk" ->
      """WITH e AS (SELECT date_trunc('day', ts) AS day, event_type FROM events),
         c AS (SELECT day, event_type, count(*) AS cnt FROM e GROUP BY 1, 2),
         r AS (SELECT day, event_type, cnt,
                 row_number() OVER (PARTITION BY day
                   ORDER BY cnt DESC, event_type ASC) AS rn
               FROM c),
         b AS (SELECT day, count(*) AS n FROM e GROUP BY 1)
         SELECT b.day, b.n, r.rn AS rank,
                r.event_type AS top_type, r.cnt AS top_count
         FROM b JOIN r USING (day) WHERE r.rn <= 3""",

    // Morton interleave of min/max ranks, term by term: rank =
    // floor((v-min)/(max-min) * 255) with the identical IEEE op
    // order, then bit i of rank j lands at position 2i+j
    "q_zorder" ->
      """WITH s AS (SELECT min(l_partkey) AS mnp, max(l_partkey) AS mxp,
                      min(l_suppkey) AS mns, max(l_suppkey) AS mxs
                    FROM lineitem),
         r AS (SELECT l_orderkey, l_linenumber,
                 CAST(floor(CAST(l_partkey - mnp AS DOUBLE)
                   / CAST(mxp - mnp AS DOUBLE) * 255.0) AS BIGINT) AS rp,
                 CAST(floor(CAST(l_suppkey - mns AS DOUBLE)
                   / CAST(mxs - mns AS DOUBLE) * 255.0) AS BIGINT) AS rs
               FROM lineitem, s)
         SELECT l_orderkey, l_linenumber,
           (((rp >> 0) & 1) << 0) + (((rs >> 0) & 1) << 1) +
           (((rp >> 1) & 1) << 2) + (((rs >> 1) & 1) << 3) +
           (((rp >> 2) & 1) << 4) + (((rs >> 2) & 1) << 5) +
           (((rp >> 3) & 1) << 6) + (((rs >> 3) & 1) << 7) +
           (((rp >> 4) & 1) << 8) + (((rs >> 4) & 1) << 9) +
           (((rp >> 5) & 1) << 10) + (((rs >> 5) & 1) << 11) +
           (((rp >> 6) & 1) << 12) + (((rs >> 6) & 1) << 13) +
           (((rp >> 7) & 1) << 14) + (((rs >> 7) & 1) << 15) AS z
         FROM r""",

    // zone-map pruned read must equal the plain range filter — the
    // bounds derive from min/max with integer floor division on both
    // sides (values positive, so // matches Spark's long division)
    "q_zonemap_prune" ->
      """WITH s AS (SELECT min(l_partkey) AS lo,
                      min(l_partkey) + (max(l_partkey) - min(l_partkey)) // 16 AS hi
                    FROM lineitem)
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
         FROM lineitem, s
         WHERE l_partkey >= s.lo AND l_partkey <= s.hi""",

    // targeted range delete: survivors = everything outside [lo, hi];
    // same integer floor-division bounds convention as q_zonemap_prune
    "q_delete_where" ->
      """WITH s AS (SELECT min(l_partkey) AS lo,
                      min(l_partkey) + (max(l_partkey) - min(l_partkey)) // 16 AS hi
                    FROM lineitem)
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
         FROM lineitem, s
         WHERE l_partkey < s.lo OR l_partkey > s.hi""",

    // GDPR key purge: survivors = keys not in the request batch
    "q_delete_keys" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority
         FROM orders
         WHERE o_orderkey % 997 <> 0""",

    // stats-pruned MERGE: doubled prices for the 991-multiples (double
    // *2 is exact in binary FP on both engines), plus shifted inserts
    "q_upsert_pruned" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 991 = 0 THEN o_totalprice * 2
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
         FROM orders
         UNION ALL
         SELECT o_orderkey + 1000000, o_custkey, 'N', 0.0,
         TIMESTAMP '2000-01-01 00:00:00', '9-NEW'
         FROM orders WHERE o_orderkey < 5""",

    // data-sized distributed MERGE: tripled prices for even keys in
    // the first eighth of the key range (*3 is exact in binary FP),
    // plus shifted inserts; same floor-division bound convention as
    // q_delete_where
    "q_upsert_bulk" ->
      """WITH s AS (SELECT min(o_orderkey) +
                      (max(o_orderkey) - min(o_orderkey)) // 8 AS cut
                    FROM orders)
         SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey <= (SELECT cut FROM s)
                   AND o_orderkey % 2 = 0 THEN o_totalprice * 3
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
         FROM orders
         UNION ALL
         SELECT o_orderkey + 2000000, o_custkey, 'N', 0.0,
         TIMESTAMP '2000-01-01 00:00:00', '9-NEW'
         FROM orders WHERE o_orderkey < 5""",

    // data-sized distributed DELETE: odd keys in the second eighth of
    // the key range purged; survivors = the complement
    "q_delete_bulk" ->
      """WITH s AS (SELECT min(o_orderkey) + (max(o_orderkey) - min(o_orderkey)) // 8 AS lo,
                      min(o_orderkey) + ((max(o_orderkey) - min(o_orderkey)) // 8) * 2 AS hi
                    FROM orders)
         SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority
         FROM orders, s
         WHERE NOT (o_orderkey > s.lo AND o_orderkey <= s.hi
                    AND o_orderkey % 2 = 1)""",

    // time travel: three log versions of the same directory — base,
    // after the 991-multiple MERGE (+ shifted inserts), after the
    // 997-multiple purge — each derivable from orders directly
    "q_timetravel" ->
      """SELECT 0 AS version, o_orderkey, o_custkey, o_orderstatus,
                o_totalprice, o_orderdate, o_orderpriority FROM orders
         UNION ALL
         SELECT 1, o_orderkey, o_custkey, o_orderstatus,
                CASE WHEN o_orderkey % 991 = 0 THEN o_totalprice * 2
                     ELSE o_totalprice END,
                o_orderdate, o_orderpriority FROM orders
         UNION ALL
         SELECT 1, o_orderkey + 1000000, o_custkey, 'N', 0.0,
                TIMESTAMP '2000-01-01 00:00:00', '9-NEW'
         FROM orders WHERE o_orderkey < 5
         UNION ALL
         SELECT 2, o_orderkey, o_custkey, o_orderstatus,
                CASE WHEN o_orderkey % 991 = 0 THEN o_totalprice * 2
                     ELSE o_totalprice END,
                o_orderdate, o_orderpriority
         FROM orders WHERE o_orderkey % 997 <> 0
         UNION ALL
         SELECT 2, o_orderkey + 1000000, o_custkey, 'N', 0.0,
                TIMESTAMP '2000-01-01 00:00:00', '9-NEW'
         FROM orders
         WHERE o_orderkey < 5 AND (o_orderkey + 1000000) % 997 <> 0""",

    // multi-table atomic transaction: 'F' orders move to an archive
    // table with a one-row audit record, all in one commit; the pre
    // phase is the whole-database time-travel cut before it
    "q_dblog_txn" ->
      """SELECT 'pre' AS phase, 'orders' AS tbl, o_orderkey,
                o_orderstatus, o_totalprice FROM orders
         UNION ALL
         SELECT 'post', 'orders', o_orderkey, o_orderstatus, o_totalprice
         FROM orders WHERE o_orderstatus <> 'F'
         UNION ALL
         SELECT 'post', 'orders_archive', o_orderkey, o_orderstatus,
                o_totalprice
         FROM orders WHERE o_orderstatus = 'F'
         UNION ALL
         SELECT 'post', 'audit',
                (SELECT count(*) FROM orders WHERE o_orderstatus = 'F'),
                CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)""",

    // cross-table-consistent change feeds over one shared cursor: the
    // deletes leaving orders are exactly the inserts landing in the
    // archive — the move is never torn between the two feeds
    "q_dblog_diff" ->
      """SELECT 'orders' AS tbl, 'delete' AS change, o_orderkey,
                o_orderstatus, o_totalprice
         FROM orders WHERE o_orderstatus = 'F'
         UNION ALL
         SELECT 'orders_archive', 'insert', o_orderkey,
                o_orderstatus, o_totalprice
         FROM orders WHERE o_orderstatus = 'F'""",

    // streaming multi-table fan-out with a replayed epoch: the routed
    // the graft-cdc readStream source: v0 snapshot as inserts, then a
    // MOR upsert (delete+insert pairs for the 991-keys, inserts for the
    // fresh +10M keys) and a keyed delete of the 997-keys, each commit
    // one microbatch stamped with its version
    "q_cdc_stream" ->
      """SELECT 'insert' AS _change_type, 0 AS _commit_version,
                o_orderkey, o_totalprice FROM orders
         UNION ALL
         SELECT 'delete', 1, o_orderkey, o_totalprice
         FROM orders WHERE o_orderkey % 991 = 0
         UNION ALL
         SELECT 'insert', 1, o_orderkey, o_totalprice * 2
         FROM orders WHERE o_orderkey % 991 = 0
         UNION ALL
         SELECT 'insert', 1, o_orderkey + 10000000, 0.0
         FROM orders WHERE o_orderkey < 50
         UNION ALL
         SELECT 'delete', 2, o_orderkey,
                CASE WHEN o_orderkey % 991 = 0 THEN o_totalprice * 2
                     ELSE o_totalprice END
         FROM orders WHERE o_orderkey % 997 = 0
         UNION ALL
         SELECT 'delete', 2, o_orderkey + 10000000, 0.0
         FROM orders
         WHERE o_orderkey < 50 AND (o_orderkey + 10000000) % 997 = 0""",

    // graft-cdc -> graft/apply replication pipeline: the replica's
    // final state = the source's algebra (upsert then keyed delete)
    "q_stream_pipe" ->
      """WITH v1 AS (
           SELECT o_orderkey,
                  CASE WHEN o_orderkey % 991 = 0 THEN o_totalprice * 2
                       ELSE o_totalprice END AS o_totalprice
           FROM orders
           UNION ALL
           SELECT o_orderkey + 10000000, 0.0 FROM orders
           WHERE o_orderkey < 50
         )
         SELECT o_orderkey, o_totalprice FROM v1
         WHERE o_orderkey % 997 <> 0""",

    // SQL DML routed through the log: MERGE (update every 991st key's
    // price to 2x, insert fresh +10M keys at price 0), UPDATE (every
    // 993rd key's priority), DELETE (every 997th key) — the oracle
    // replays the same algebra over the base table
    "q_sql_dml" ->
      """WITH merged AS (
           SELECT o_orderkey, o_orderstatus,
                  CASE WHEN o_orderkey % 991 = 0 THEN o_totalprice * 2
                       ELSE o_totalprice END AS o_totalprice,
                  o_orderpriority
           FROM orders
           UNION ALL
           SELECT o_orderkey + 10000000, o_orderstatus, 0.0,
                  o_orderpriority
           FROM orders WHERE o_orderkey < 50
         )
         SELECT o_orderkey, o_orderstatus, o_totalprice,
                CASE WHEN o_orderkey % 993 = 0 THEN 'X-DML'
                     ELSE o_orderpriority END AS o_orderpriority
         FROM merged WHERE o_orderkey % 997 <> 0""",

    // SQL DDL lifecycle: CTAS, ADD COLUMNS (pre-evolution rows read
    // NULL), INSERT into the widened table, UPDATE across both eras
    "q_sql_ddl" ->
      """WITH base AS (
           SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS flag
           FROM orders WHERE o_orderkey % 3 = 0
           UNION ALL
           SELECT o_orderkey + 20000000, o_totalprice, 'late'
           FROM orders WHERE o_orderkey < 30
         )
         SELECT o_orderkey, o_totalprice,
                CASE WHEN o_totalprice > 200000 THEN 'big' ELSE flag END AS flag
         FROM base""",

    // write-audit-publish: DELETE every 997th key and MERGE (991st
    // keys' price doubled, +10M fresh keys at 0) happen on a branch,
    // then publish lands the batch on main as one commit — the oracle
    // replays the post-publish algebra directly
    "q_branch_wap" ->
      """WITH src AS (
           SELECT o_orderkey, o_orderstatus,
                  o_totalprice * 2 AS o_totalprice, o_orderpriority
           FROM orders WHERE o_orderkey % 991 = 0
           UNION ALL
           SELECT o_orderkey + 10000000, o_orderstatus, 0.0, o_orderpriority
           FROM orders WHERE o_orderkey < 50
         )
         SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
         FROM orders
         WHERE o_orderkey % 997 <> 0
           AND o_orderkey NOT IN (SELECT o_orderkey FROM src)
         UNION ALL
         SELECT * FROM src""",

    // full MERGE surface: F-status matches delete (first clause wins),
    // expensive matches take the guarded partial UPDATE (priority HOT,
    // date/status/custkey KEPT from target), the rest UPDATE SET *,
    // fresh keys insert, and unmatched targets divisible by 13 retire
    "q_sql_merge_full" ->
      """WITH src AS (
           SELECT o_orderkey, o_custkey, o_orderstatus,
                  o_totalprice + 7.0 AS o_totalprice, o_orderdate,
                  o_orderpriority
           FROM orders WHERE o_orderkey <= 2000
           UNION ALL
           SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, 0.0,
                  o_orderdate, '9-NEW'
           FROM orders WHERE o_orderkey < 40
         )
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderdate, o_orderpriority
         FROM (
           SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus,
                  s.o_totalprice AS o_totalprice, t.o_orderdate,
                  CASE WHEN s.o_totalprice > 150000 THEN 'HOT'
                       ELSE s.o_orderpriority END AS o_orderpriority
           FROM orders t JOIN src s USING (o_orderkey)
           WHERE t.o_orderstatus <> 'F'
           UNION ALL
           SELECT * FROM src WHERE o_orderkey >= 10000000
           UNION ALL
           SELECT * FROM orders
           WHERE o_orderkey > 2000 AND o_orderkey % 13 <> 0
         )""",

    // clone detach: pre-clone vectors fold in during localize, the
    // CoW edit localized its own candidates, and the source directory
    // is DELETED before the read — survival is the assertion
    "q_clone_detach" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderdate, o_orderpriority
         FROM orders
         WHERE NOT (o_custkey % 5 = 0)
           AND NOT (o_orderkey BETWEEN 1 AND 1000)""",

    // row-level CDF with update images: v1 is a MERGE (991st keys'
    // price doubled = pre+post pairs; +10M fresh keys = inserts), v2
    // deletes every 997th key of the post-merge state — each commit's
    // rows replayed independently with its version stamped
    "q_cdf_images" ->
      """WITH bump AS (
           SELECT o_orderkey, o_custkey, o_orderstatus,
                  o_totalprice * 2 AS o_totalprice, o_orderdate,
                  o_orderpriority
           FROM orders WHERE o_orderkey % 991 = 0
         ),
         fresh AS (
           SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
                  o_orderstatus, o_totalprice, o_orderdate,
                  o_orderpriority
           FROM orders WHERE o_orderkey < 50
         ),
         v1state AS (
           SELECT * FROM orders WHERE o_orderkey % 991 <> 0
           UNION ALL SELECT * FROM bump
           UNION ALL SELECT * FROM fresh
         )
         SELECT *, 'update_preimage' AS change_type, 1 AS commit_version
         FROM orders WHERE o_orderkey % 991 = 0
         UNION ALL SELECT *, 'update_postimage', 1 FROM bump
         UNION ALL SELECT *, 'insert', 1 FROM fresh
         UNION ALL SELECT *, 'delete', 2 FROM v1state
         WHERE o_orderkey % 997 = 0""",

    // zero-copy shallow clone: the clone takes a CoW range delete, a
    // vectored delete, a MOR merge (991st keys' price doubled — rows
    // the deletes removed re-enter as inserts, SQL MERGE semantics)
    // and an append; the source takes its OWN delete + append after
    // the clone. The oracle replays each side's algebra independently
    // — shared bytes, divergent states.
    "q_clone" ->
      """WITH batch AS (
           SELECT o_orderkey, o_custkey, o_orderstatus,
                  o_totalprice * 2 AS o_totalprice, o_orderdate,
                  o_orderpriority
           FROM orders WHERE o_orderkey % 991 = 0
         ),
         survivors AS (
           SELECT * FROM orders
           WHERE NOT (o_orderkey BETWEEN 1 AND 2000)
             AND NOT (o_custkey % 7 = 0)
         )
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderdate, o_orderpriority, 'clone' AS side
         FROM (
           SELECT * FROM survivors
           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
           UNION ALL SELECT * FROM batch
           UNION ALL
           SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
                  o_totalprice, o_orderdate, o_orderpriority
           FROM orders WHERE o_orderkey < 50
         )
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderdate, o_orderpriority, 'source' AS side
         FROM (
           SELECT * FROM orders WHERE NOT (o_orderkey BETWEEN 1 AND 500)
           UNION ALL
           SELECT o_orderkey + 20000000, o_custkey, o_orderstatus,
                  o_totalprice, o_orderdate, o_orderpriority
           FROM orders WHERE o_orderkey < 30
         )""",

    // column mapping: RENAME COLUMN is metadata-only — post-rename
    // UPDATE / MOR merge / DELETE / append all speak the new name; the
    // oracle replays the algebra with the rename as a projection.
    // Order of operations matters: update doubles 997th keys' price,
    // the merge REPLACES 991st keys' rows with original price + 1,
    // the delete removes custkey%13 rows, the append lands AFTER the
    // delete (so its rows survive regardless of custkey)
    "q_colmap_rename" ->
      """WITH base AS (
           SELECT o_orderkey, o_custkey, o_totalprice AS price,
                  o_orderdate
           FROM orders
         ),
         upd AS (
           SELECT o_orderkey, o_custkey,
                  CASE WHEN o_orderkey % 997 = 0 THEN price * 2
                       ELSE price END AS price,
                  o_orderdate
           FROM base
         ),
         merged AS (
           SELECT * FROM upd WHERE NOT (o_orderkey % 991 = 0)
           UNION ALL
           SELECT o_orderkey, o_custkey, price + 1 AS price, o_orderdate
           FROM base WHERE o_orderkey % 991 = 0
         )
         SELECT * FROM merged WHERE NOT (o_custkey % 13 = 0)
         UNION ALL
         SELECT o_orderkey + 30000000 AS o_orderkey, o_custkey, price,
                o_orderdate
         FROM base WHERE o_orderkey < 100""",

    // column mapping: DROP + re-ADD the same name maps to FRESH
    // physical storage — pre-drop rows read NULL (no resurrection out
    // of old footers); post-add appends carry real values
    "q_colmap_drop_readd" ->
      """SELECT l_orderkey, l_linenumber,
                l_extendedprice AS price,
                CAST(NULL AS DOUBLE) AS l_quantity
         FROM lineitem
         UNION ALL
         SELECT l_orderkey + 50000000 AS l_orderkey, l_linenumber,
                l_extendedprice AS price, l_quantity
         FROM lineitem WHERE l_orderkey < 100""",

    // identity column GENERATED ALWAYS (START 10 STEP 5): two sorted
    // single-partition appends make the assignment deterministic —
    // DuckDB replays with row_number arithmetic, the second batch
    // offset by the first's count (the ledger's high water)
    "q_identity" ->
      """WITH evens AS (
           SELECT c_custkey, c_name, c_acctbal,
                  row_number() OVER (ORDER BY c_custkey) AS rn
           FROM customer WHERE c_custkey % 2 = 0
         ),
         odds AS (
           SELECT c_custkey, c_name, c_acctbal,
                  row_number() OVER (ORDER BY c_custkey) AS rn
           FROM customer WHERE c_custkey % 2 = 1
         )
         SELECT 10 + (rn - 1) * 5 AS row_id, c_custkey, c_name, c_acctbal
         FROM evens
         UNION ALL
         SELECT 10 + (SELECT count(*) FROM evens) * 5 + (rn - 1) * 5
                  AS row_id,
                c_custkey, c_name, c_acctbal
         FROM odds""",

    // clone × schema evolution: the clone renames l_extendedprice →
    // price, CoW-deletes quantity>40 (localizing touched files) and
    // appends +80000000-shifted keys under the new name; the source's
    // row count and key sum ride along as cross-joined scalars — a
    // leak either direction breaks the hash
    "q_clone_rename" ->
      """WITH cl AS (
           SELECT l_orderkey, l_linenumber,
                  l_extendedprice AS price, l_quantity
           FROM lineitem WHERE l_quantity <= 40
           UNION ALL
           SELECT l_orderkey + 80000000 AS l_orderkey, l_linenumber,
                  l_extendedprice AS price, l_quantity
           FROM lineitem WHERE l_orderkey < 100
         ),
         s AS (
           SELECT count(*) AS src_rows,
                  CAST(sum(l_orderkey) AS BIGINT) AS src_keysum
           FROM lineitem
         )
         SELECT cl.l_orderkey, cl.l_linenumber, cl.price, cl.l_quantity,
                s.src_rows, s.src_keysum
         FROM cl CROSS JOIN s""",

    // per-table column mapping in a DbLog database: li renames
    // l_extendedprice→price (metadata-only, sibling ord untouched), a
    // post-rename multi-table txn appends +90000000-shifted keys to
    // both tables, a CoW delete prunes quantity>45; output is the
    // cross-table join snapshot under the new logical name
    "q_dblog_colmap" ->
      """WITH li_all AS (
           SELECT l_orderkey, l_linenumber,
                  l_extendedprice AS price, l_quantity
           FROM lineitem
           UNION ALL
           SELECT l_orderkey + 90000000 AS l_orderkey, l_linenumber,
                  l_extendedprice AS price, l_quantity
           FROM lineitem WHERE l_orderkey < 200
         ),
         li AS (SELECT * FROM li_all WHERE l_quantity <= 45),
         ord AS (
           SELECT o_orderkey, o_totalprice FROM orders
           UNION ALL
           SELECT o_orderkey + 90000000 AS o_orderkey, o_totalprice
           FROM orders WHERE o_orderkey < 200
         )
         SELECT li.l_orderkey, li.l_linenumber, li.price, li.l_quantity,
                ord.o_totalprice
         FROM li LEFT JOIN ord ON li.l_orderkey = ord.o_orderkey""",

    // per-table type widening in a DbLog database: li.l_quantity
    // seeds INT, renames to qty, widens to BIGINT (metadata-only,
    // sibling ord's pin untouched); a post-widen multi-table txn appends
    // beyond-INT qty values; the AS OF cut rides as scalars
    "q_dblog_widen" ->
      """WITH li AS (
           SELECT l_orderkey, l_linenumber,
                  CAST(CAST(l_quantity AS INT) AS BIGINT) AS qty
           FROM lineitem WHERE l_orderkey < 2000
           UNION ALL
           SELECT l_orderkey + 90000000 AS l_orderkey, l_linenumber,
                  CAST(CAST(l_quantity AS INT) AS BIGINT) + 3000000000 AS qty
           FROM lineitem WHERE l_orderkey < 200
         ),
         ord AS (
           SELECT o_orderkey, o_totalprice FROM orders
           UNION ALL
           SELECT o_orderkey + 90000000 AS o_orderkey, o_totalprice
           FROM orders WHERE o_orderkey < 200
         ),
         pre AS (
           SELECT (SELECT count(*) FROM lineitem WHERE l_orderkey < 2000)
                    AS pre_li_rows,
                  (SELECT count(*) FROM orders) AS pre_ord_rows
         )
         SELECT li.l_orderkey, li.l_linenumber, li.qty,
                ord.o_totalprice, pre.pre_li_rows, pre.pre_ord_rows
         FROM li LEFT JOIN ord ON li.l_orderkey = ord.o_orderkey
         CROSS JOIN pre""",

    // join MV with min/max measures: grow advance (fresh 1000000.0
    // prices), a delete of every sub-1000 fact row (dirty-group
    // recompute through the join), then a %97 dim segment move —
    // DuckDB aggregates the final joined state directly
    "q_joinmv_minmax" ->
      """WITH fact AS (
           SELECT o_orderkey, o_custkey, o_totalprice AS price
           FROM orders
           UNION ALL
           SELECT o_orderkey + 1000000 AS o_orderkey, o_custkey,
                  1000000.0 AS price
           FROM orders WHERE o_orderkey < 5
         ),
         f2 AS (SELECT * FROM fact WHERE NOT (price < 1000.0)),
         dim AS (
           SELECT c_custkey AS o_custkey,
                  CASE WHEN c_custkey % 97 = 0
                       THEN 'MOVEDMM' ELSE c_mktsegment END AS seg
           FROM customer
         )
         SELECT seg, count(*) AS n,
                ROUND(SUM(price), 2) AS sum_price,
                MIN(price) AS min_price, MAX(price) AS max_price
         FROM f2 JOIN dim USING (o_custkey)
         GROUP BY seg""",

    // three-table (snowflake) incremental join view: one advance
    // churns facts (re-price %991 + 5 fresh zero-price), customers
    // (%97 move segment AND nation via (k+7)%25) and nations (<3
    // rename) — DuckDB aggregates the final 3-way join directly
    "q_joinmv_star" ->
      """WITH fact AS (
           SELECT o_custkey,
                  CASE WHEN o_orderkey % 991 = 0
                       THEN o_totalprice * 2 ELSE o_totalprice END AS price
           FROM orders
           UNION ALL
           SELECT o_custkey, 0.0 AS price FROM orders WHERE o_orderkey < 5
         ),
         d1 AS (
           SELECT c_custkey AS o_custkey,
                  CASE WHEN c_custkey % 97 = 0
                       THEN 'MOVED' ELSE c_mktsegment END AS seg,
                  CASE WHEN c_custkey % 97 = 0
                       THEN (c_nationkey + 7) % 25
                       ELSE c_nationkey END AS c_nationkey
           FROM customer
         ),
         d2 AS (
           SELECT n_nationkey AS c_nationkey,
                  CASE WHEN n_nationkey < 3
                       THEN 'REN_' || CAST(n_nationkey AS VARCHAR)
                       ELSE n_name END AS nation_name
           FROM nation
         )
         SELECT seg, nation_name, count(*) AS n,
                ROUND(SUM(price), 2) AS sum_price
         FROM fact JOIN d1 USING (o_custkey) JOIN d2 USING (c_nationkey)
         GROUP BY seg, nation_name""",

    // DbMv star: the same three-way shape as q_joinmv_star but inside
    // ONE database with the churn as ONE transaction — fact deletes
    // %997 (dirty min/max recompute), re-prices %991 (minus the
    // deleted overlap), inserts fresh 1.0-price rows; %97 customers
    // move segment and nation; nations <3 rename
    "q_dbmv_star" ->
      """WITH fact AS (
           SELECT o_custkey,
                  (CASE WHEN o_orderkey % 991 = 0
                        THEN o_totalprice * 2 ELSE o_totalprice END)
                  * (CASE WHEN o_orderkey % 983 = 0 THEN 2 ELSE 1 END)
                    AS price
           FROM orders WHERE o_orderkey % 997 <> 0
           UNION ALL
           SELECT o_custkey,
                  1.0 * (CASE WHEN (o_orderkey + 1000000) % 983 = 0
                              THEN 2 ELSE 1 END) AS price
           FROM orders WHERE o_orderkey < 5
         ),
         d1 AS (
           SELECT c_custkey AS o_custkey,
                  CASE WHEN c_custkey % 97 = 0
                       THEN 'MOVED' ELSE c_mktsegment END AS seg,
                  CASE WHEN c_custkey % 97 = 0
                       THEN (c_nationkey + 7) % 25
                       ELSE c_nationkey END AS c_nationkey
           FROM customer
         ),
         d2 AS (
           SELECT n_nationkey AS c_nationkey,
                  CASE WHEN n_nationkey < 3
                       THEN 'REN_' || CAST(n_nationkey AS VARCHAR)
                       ELSE n_name END AS nation_name
           FROM nation
         )
         SELECT seg, nation_name, count(*) AS mv_count,
                ROUND(SUM(price), 2) AS sum_price,
                MIN(price) AS min_price, MAX(price) AS max_price
         FROM fact JOIN d1 USING (o_custkey) JOIN d2 USING (c_nationkey)
         GROUP BY seg, nation_name""",

    // self-healing cdc: ADD COLUMN mid-stream heals via the
    // supervisor (one restart, require()d); replica = source final
    // state, pre-evolution rows NULL in the new column, the
    // post-restart upsert (key 1 -> extra 999) applied once
    "q_cdc_autorestart" ->
      """WITH base AS (
           SELECT n_nationkey, n_name, n_regionkey,
                  CAST(NULL AS BIGINT) AS extra
           FROM nation
           UNION ALL
           SELECT n_nationkey + 100 AS n_nationkey, n_name, n_regionkey,
                  CAST((n_nationkey + 100) * 7 AS BIGINT) AS extra
           FROM nation
         )
         SELECT n_nationkey, n_name, n_regionkey,
                CASE WHEN n_nationkey = 1 THEN 999 ELSE extra END AS extra
         FROM base""",

    // row-group-routed range delete: survivors of the [800, 900]
    // l_partkey band (receipt pruning + estimate bound require()d
    // in-query; the out-of-domain re-route is a no-op)
    "q_routed_delete" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
         FROM lineitem
         WHERE l_partkey IS NULL OR l_partkey < 800 OR l_partkey > 900""",

    // COPY INTO: the ledger makes the replayed load a no-op and the
    // incremental load pick up only the new files — the final
    // snapshot is exactly nation, once
    "q_copy_into" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",

    // declared clustering: a maintenance pass must preserve every row
    // (the layout claim is require()d inside the query itself)
    "q_cluster_by" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders",

    // incremental join view: DuckDB aggregates the FINAL joined state
    // directly (fact re-priced + 5 fresh zero-price rows; %97
    // customers moved to segment MOVED in the same advance)
    "q_joinmv" ->
      """WITH fact AS (
           SELECT o_custkey,
                  CASE WHEN o_orderkey % 991 = 0
                       THEN o_totalprice * 2 ELSE o_totalprice END AS price
           FROM orders
           UNION ALL
           SELECT o_custkey, 0.0 AS price FROM orders WHERE o_orderkey < 5
         ),
         dim AS (
           SELECT c_custkey AS o_custkey,
                  CASE WHEN c_custkey % 97 = 0
                       THEN 'MOVED' ELSE c_mktsegment END AS seg
           FROM customer
         )
         SELECT seg, count(*) AS n,
                ROUND(SUM(price), 2) AS sum_price
         FROM fact JOIN dim USING (o_custkey)
         GROUP BY seg""",

    // row tracking: _row_id = append-order row_number arithmetic, and
    // _row_commit_version = the commit that last MODIFIED the row —
    // three sorted single-partition appends (v1 evens, v2 odds, v3
    // +1000000 copies of keys ≤ 30), then a compaction (v4 — must NOT
    // bump any row's version), a CoW delete of k%7 (v5 — survivors
    // keep id AND version) and a MOR update of k%10 (v6 — updated
    // rows keep their id but take v6)
    "q_rowids" ->
      """WITH evens AS (
           SELECT c_custkey, c_name, c_acctbal,
                  row_number() OVER (ORDER BY c_custkey) AS rn
           FROM customer WHERE c_custkey % 2 = 0
         ),
         odds AS (
           SELECT c_custkey, c_name, c_acctbal,
                  row_number() OVER (ORDER BY c_custkey) AS rn
           FROM customer WHERE c_custkey % 2 = 1
         ),
         news AS (
           SELECT c_custkey + 1000000 AS c_custkey, c_name, c_acctbal,
                  row_number() OVER (ORDER BY c_custkey) AS rn
           FROM customer WHERE c_custkey <= 30
         ),
         base AS (
           SELECT c_custkey, c_name, c_acctbal, rn - 1 AS rid,
                  1 AS born FROM evens
           UNION ALL
           SELECT c_custkey, c_name, c_acctbal,
                  (SELECT count(*) FROM evens) + rn - 1, 2 FROM odds
           UNION ALL
           SELECT c_custkey, c_name, c_acctbal,
                  (SELECT count(*) FROM customer) + rn - 1, 3 FROM news
         )
         SELECT c_custkey, c_name,
                CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000
                     ELSE c_acctbal END AS c_acctbal,
                rid AS "_row_id",
                CAST(CASE WHEN c_custkey % 10 = 0 THEN 6
                          ELSE born END AS BIGINT) AS "_row_commit_version"
         FROM base WHERE c_custkey % 7 <> 0""",

    // per-table row tracking on a DbLog database: ids interleave in
    // staged order within each multi-table commit (cust file then ord
    // file), so row_number arithmetic with cross-table count offsets
    // replays them exactly; versions: cust born 1/2, %10 bumped at v5
    // (CoW upsert re-insert); ord born 1/2, %10 updated at v4 (MOR);
    // cust %7 deleted at v4
    "q_db_rowids" ->
      """WITH ce AS (
           SELECT c_custkey, c_acctbal,
                  row_number() OVER (ORDER BY c_custkey) AS rn
           FROM customer WHERE c_custkey % 2 = 0
         ),
         co AS (
           SELECT c_custkey, c_acctbal,
                  row_number() OVER (ORDER BY c_custkey) AS rn
           FROM customer WHERE c_custkey % 2 = 1
         ),
         o0 AS (
           SELECT o_orderkey, o_totalprice,
                  row_number() OVER (ORDER BY o_orderkey) AS rn
           FROM orders WHERE o_orderkey % 3 = 0
         ),
         o1 AS (
           SELECT o_orderkey, o_totalprice,
                  row_number() OVER (ORDER BY o_orderkey) AS rn
           FROM orders WHERE o_orderkey % 3 = 1
         ),
         cust AS (
           SELECT c_custkey AS k, c_acctbal AS v, rn - 1 AS rid,
                  1 AS born FROM ce
           UNION ALL
           SELECT c_custkey, c_acctbal,
                  (SELECT count(*) FROM ce) + (SELECT count(*) FROM o0)
                    + rn - 1, 2 FROM co
         ),
         ords AS (
           SELECT o_orderkey AS k, o_totalprice AS v,
                  (SELECT count(*) FROM ce) + rn - 1 AS rid, 1 AS born
           FROM o0
           UNION ALL
           SELECT o_orderkey, o_totalprice,
                  (SELECT count(*) FROM ce) + (SELECT count(*) FROM o0)
                    + (SELECT count(*) FROM co) + rn - 1, 2 FROM o1
         )
         SELECT 'cust' AS tbl, k,
                CAST(CASE WHEN k % 10 = 0 THEN v + 1000 ELSE v END
                     AS DOUBLE) AS v,
                rid AS "_row_id",
                CAST(CASE WHEN k % 10 = 0 THEN 5 ELSE born END AS BIGINT)
                  AS "_row_commit_version"
         FROM cust WHERE k % 7 <> 0
         UNION ALL
         SELECT 'ord', k,
                CAST(CASE WHEN k % 10 = 0 THEN v + 1000 ELSE v END
                     AS DOUBLE),
                rid, CAST(CASE WHEN k % 10 = 0 THEN 4 ELSE born END AS BIGINT)
         FROM ords""",

    // keyless replication of one DATABASE table: cust ids are
    // row_number arithmetic over the two sorted appends (the sibling
    // table is untracked — it claims no ids); delete %7 (minus the
    // %10 overlap), +1000 on %10, rename c_acctbal->bal, +7 on %13
    "q_db_replicate" ->
      """WITH evens AS (
           SELECT c_custkey, c_name, c_acctbal,
                  row_number() OVER (ORDER BY c_custkey) AS rn
           FROM customer WHERE c_custkey % 2 = 0
         ),
         odds AS (
           SELECT c_custkey, c_name, c_acctbal,
                  row_number() OVER (ORDER BY c_custkey) AS rn
           FROM customer WHERE c_custkey % 2 = 1
         ),
         base AS (
           SELECT c_custkey, c_name, c_acctbal, rn - 1 AS rid FROM evens
           UNION ALL
           SELECT c_custkey, c_name, c_acctbal,
                  (SELECT count(*) FROM evens) + rn - 1 FROM odds
         )
         SELECT c_custkey, c_name,
                c_acctbal
                + CASE WHEN c_custkey % 10 = 0 THEN 1000 ELSE 0 END
                + CASE WHEN c_custkey % 13 = 0 THEN 7 ELSE 0 END AS bal,
                rid AS "_row_id"
         FROM base
         WHERE NOT (c_custkey % 7 = 0 AND c_custkey % 10 <> 0)""",

    // row-id-keyed replication: the replica equals the source's final
    // state — delete %7, +1000 on %10, rename c_acctbal->bal, +7 on
    // %13 — with every surviving row still wearing its born id
    // (row_number arithmetic over the original append order)
    "q_replicate_rowid" ->
      """WITH evens AS (
           SELECT c_custkey, c_name, c_acctbal,
                  row_number() OVER (ORDER BY c_custkey) AS rn
           FROM customer WHERE c_custkey % 2 = 0
         ),
         odds AS (
           SELECT c_custkey, c_name, c_acctbal,
                  row_number() OVER (ORDER BY c_custkey) AS rn
           FROM customer WHERE c_custkey % 2 = 1
         ),
         news AS (
           SELECT c_custkey + 1000000 AS c_custkey, c_name, c_acctbal,
                  row_number() OVER (ORDER BY c_custkey) AS rn
           FROM customer WHERE c_custkey <= 30
         ),
         base AS (
           SELECT c_custkey, c_name, c_acctbal, rn - 1 AS rid FROM evens
           UNION ALL
           SELECT c_custkey, c_name, c_acctbal,
                  (SELECT count(*) FROM evens) + rn - 1 FROM odds
           UNION ALL
           SELECT c_custkey, c_name, c_acctbal,
                  (SELECT count(*) FROM customer) + rn - 1 FROM news
         )
         SELECT c_custkey, c_name,
                CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000
                     ELSE c_acctbal END
                + CASE WHEN c_custkey % 13 = 0 THEN 7 ELSE 0 END AS bal,
                rid AS "_row_id"
         FROM base WHERE c_custkey % 7 <> 0""",

    // identity GENERATED BY DEFAULT (START 10 STEP 5): batch 1 engine-
    // assigned (sorted single partition → row_number arithmetic),
    // batch 2 fully explicit (1000000 + key, verbatim; ledger re-syncs
    // past its max), batch 3 mixed — explicit 2000000+key on evens,
    // NULL on odds; the NULL rows fill from the re-synced water
    // (2000000 + max even key ≤ 40), stepping by 5 in sorted order
    "q_identity_default" ->
      """WITH evens AS (
           SELECT c_custkey, c_name, c_acctbal,
                  row_number() OVER (ORDER BY c_custkey) AS rn
           FROM customer WHERE c_custkey % 2 = 0
         ),
         mixed AS (
           SELECT c_custkey, c_name, c_acctbal FROM customer
           WHERE c_custkey <= 40
         ),
         mx AS (
           SELECT max(c_custkey) AS m FROM mixed WHERE c_custkey % 2 = 0
         ),
         mixed_nulls AS (
           SELECT c_custkey, c_name, c_acctbal,
                  row_number() OVER (ORDER BY c_custkey) AS rn
           FROM mixed WHERE c_custkey % 2 = 1
         )
         SELECT 10 + (rn - 1) * 5 AS row_id, c_custkey, c_name, c_acctbal
         FROM evens
         UNION ALL
         SELECT 1000000 + c_custkey AS row_id, c_custkey, c_name, c_acctbal
         FROM customer WHERE c_custkey % 2 = 1
         UNION ALL
         SELECT 2000000 + c_custkey AS row_id, c_custkey, c_name, c_acctbal
         FROM mixed WHERE c_custkey % 2 = 0
         UNION ALL
         SELECT 2000000 + (SELECT m FROM mx) + rn * 5 AS row_id,
                c_custkey, c_name, c_acctbal
         FROM mixed_nulls""",

    // type widening: int->bigint / float->double are pin-only; the
    // mixed-era union casts explicitly on the oracle side. Values the
    // narrow era could not hold land only in the post-widen rows
    "q_type_widen" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                CAST(CAST(l_extendedprice AS FLOAT) AS DOUBLE) AS price_f
         FROM lineitem
         UNION ALL
         SELECT l_orderkey + 70000000 AS l_orderkey,
                CAST(l_linenumber AS BIGINT) + 10000000000 AS l_linenumber,
                CAST(CAST(l_extendedprice AS FLOAT) AS DOUBLE) + 1.0
                  AS price_f
         FROM lineitem WHERE l_orderkey < 100""",

    // generated column filled on insert, RECOMPUTED by the keyed
    // update (discount doubled on the slice): the oracle computes the
    // expression per row from the post-update discount
    "q_gencol" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                d AS l_discount,
                l_extendedprice * (1 - d) AS revenue
         FROM (
           SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                  CASE WHEN l_orderkey % 100 = 0 AND l_linenumber = 1
                       THEN l_discount * 2 ELSE l_discount END AS d
           FROM lineitem
         )""",

    // identity + DEFAULT + generated composed on one table: batch 1
    // omits tier (default lands), batch 2 supplies it (supplied wins);
    // identity continues across commits; fee derives per row
    "q_auto_columns" ->
      """WITH b1 AS (
           SELECT c_name, c_acctbal,
                  row_number() OVER (ORDER BY c_custkey) AS rn
           FROM customer WHERE c_custkey % 2 = 0
         ),
         b2 AS (
           SELECT c_name, c_acctbal,
                  row_number() OVER (ORDER BY c_custkey) AS rn
           FROM customer WHERE c_custkey % 2 = 1
         )
         SELECT rn AS row_id, c_name, c_acctbal, 'std' AS tier,
                c_acctbal * 0.01 AS fee
         FROM b1
         UNION ALL
         SELECT (SELECT count(*) FROM b1) + rn AS row_id, c_name,
                c_acctbal, 'vip' AS tier, c_acctbal * 0.01 AS fee
         FROM b2""",

    // clone of a DV-carrying table: inherited vectors apply, a
    // clone-side delete merges them locally, materialize folds them
    // in; the source's post-clone vector never reaches the clone
    "q_clone_dv" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                l_quantity, l_shipdate, 'clone' AS side
         FROM lineitem
         WHERE NOT (l_partkey % 7 = 0) AND NOT (l_quantity >= 45.0)
         UNION ALL
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                l_quantity, l_shipdate, 'source' AS side
         FROM lineitem
         WHERE NOT (l_partkey % 7 = 0) AND NOT (l_quantity <= 2.0)""",

    // deletion vectors inside a DbLog database: one transaction
    // vectors F-status orders out, zeroes every 97th customer's
    // balance via MOR upsert, and appends an audit row — snapshot and
    // change feed replay that algebra
    "q_dblog_dv" ->
      """SELECT 'orders_post' AS tbl, o_orderkey AS k, o_totalprice AS v
         FROM orders WHERE o_orderstatus <> 'F'
         UNION ALL
         SELECT 'orders_deleted', o_orderkey, o_totalprice
         FROM orders WHERE o_orderstatus = 'F'
         UNION ALL
         SELECT 'customer_post', c_custkey,
                CASE WHEN c_custkey % 97 = 0 THEN 0.0 ELSE c_acctbal END
         FROM customer""",

    // tables reassemble to exactly the source relation, the
    // discriminator living in the table name
    "q_dblog_stream" ->
      """SELECT event_type AS tbl, event_id, ts, user_id, value, props
         FROM events""",

    // streaming log append with a replayed epoch + in-line compaction:
    // the snapshot must be exactly the source relation
    "q_txlog_stream" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents""",

    // change feed v0->v2: updated keys = delete+insert pair, purged
    // keys = delete, fresh surviving keys = insert, everything else
    // cancels in the multiset difference
    "q_txlog_diff" ->
      """SELECT 'delete' AS _change_type, o_orderkey, o_custkey,
                o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
         FROM orders WHERE o_orderkey % 991 = 0 OR o_orderkey % 997 = 0
         UNION ALL
         SELECT 'insert', o_orderkey, o_custkey, o_orderstatus,
                o_totalprice * 2, o_orderdate, o_orderpriority
         FROM orders WHERE o_orderkey % 991 = 0 AND o_orderkey % 997 <> 0
         UNION ALL
         SELECT 'insert', o_orderkey + 1000000, o_custkey, 'N', 0.0,
                TIMESTAMP '2000-01-01 00:00:00', '9-NEW'
         FROM orders
         WHERE o_orderkey < 5 AND (o_orderkey + 1000000) % 997 <> 0""",

    // merge-on-read deletes: the vectored snapshot must equal the
    // direct double-NOT filter (no data file was rewritten)
    "q_dv_delete" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                l_quantity, l_shipdate
         FROM lineitem
         WHERE NOT (l_partkey % 7 = 0) AND NOT (l_quantity >= 45.0)""",

    // DV fold-in: the relation is unchanged through materialize+vacuum
    "q_dv_materialize" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderdate, o_orderpriority
         FROM orders
         WHERE NOT (o_orderstatus = 'F' AND o_custkey % 3 = 0)""",

    // change feed across a DV-only commit: exactly the hidden rows,
    // as deletes
    "q_dv_diff" ->
      """SELECT 'delete' AS _change_type, o_orderkey, o_custkey,
                o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
         FROM orders WHERE o_orderkey % 499 = 0""",

    // merge-on-read MERGE: one vectored commit must land on the
    // CASE-rewrite + UNION derivation of the final state
    "q_dv_upsert" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 991 = 0 THEN o_totalprice * 2
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
         FROM orders
         UNION ALL
         SELECT o_orderkey + 1000000, o_custkey, 'N', 0.0,
         TIMESTAMP '2000-01-01 00:00:00', '9-NEW'
         FROM orders WHERE o_orderkey < 5""",

    // streaming CDC MERGE: netted + exactly-once epochs land on the
    // direct CASE-rewrite (the -1.0 stale rows must never surface)
    "q_dv_stream" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 991 = 0 THEN o_totalprice * 2
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
         FROM orders""",

    // schema evolution: the widened relation with NULLs for rows
    // written before the pin
    "q_dv_evolve" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 991 = 0 THEN o_totalprice * 2
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority,
         CASE WHEN o_orderkey % 991 = 0 THEN 'web' ELSE NULL END AS o_channel
         FROM orders""",

    // hidden partitioning: layout-blind predicates land on the direct
    // filters (partitions derived from the data predicate, guarded)
    "q_hidden_partition" ->
      """SELECT event_id, ts, user_id, event_type, value, 'time' AS probe
         FROM events
         WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                      AND TIMESTAMP '2024-01-12 23:59:59'
         UNION ALL
         SELECT event_id, ts, user_id, event_type, value, 'user' AS probe
         FROM events WHERE user_id IN (1, 2)""",

    // snapshot export: after a vectored delete (997th keys) is
    // materialized and a MOR upsert (991st keys' price doubled) is
    // live, the EXTERNAL-style manifest read sees exactly that state
    // — the post-export append must not leak in
    "q_export_manifest" ->
      """SELECT o_orderkey, o_orderstatus,
                CASE WHEN o_orderkey % 991 = 0 THEN o_totalprice * 2
                     ELSE o_totalprice END AS o_totalprice,
                o_orderpriority
         FROM orders WHERE o_orderkey % 997 <> 0""",

    // partition-spec evolution: half the data under days(ts), half
    // under months(ts) after a metadata-only evolve — the mixed-era
    // pruned range read must equal the direct filter
    "q_partition_evolve" ->
      """SELECT event_id, ts, user_id, event_type, value
         FROM events
         WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                      AND TIMESTAMP '2024-01-12 23:59:59'""",

    // incremental MV over the logged lifecycle: two signed refreshes
    // must land on the direct aggregate of the v2 state
    "q_txlog_mv" ->
      """WITH v2 AS (
           SELECT o_orderstatus, o_totalprice FROM orders
           WHERE o_orderkey % 997 <> 0 AND o_orderkey % 991 <> 0
           UNION ALL
           SELECT o_orderstatus, o_totalprice * 2 FROM orders
           WHERE o_orderkey % 991 = 0 AND o_orderkey % 997 <> 0
           UNION ALL
           SELECT 'N', 0.0 FROM orders
           WHERE o_orderkey < 5 AND (o_orderkey + 1000000) % 997 <> 0)
         SELECT o_orderstatus, count(*) AS n,
                ROUND(SUM(o_totalprice), 2) AS sum_price
         FROM v2 GROUP BY o_orderstatus""",

    // CHECK constraints: the valid 991-bump landed, the poisoned
    // batch did not — final state is the bump derivation alone
    "q_txlog_constraint" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 991 = 0 THEN o_totalprice * 2
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
         FROM orders""",

    // replication: the downstream copy equals the source's final
    // state — survivors with the 991-bump, plus surviving inserts
    "q_txlog_replicate" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 991 = 0 THEN o_totalprice * 2
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
         FROM orders WHERE o_orderkey % 997 <> 0
         UNION ALL
         SELECT o_orderkey + 1000000, o_custkey, 'N', 0.0,
         TIMESTAMP '2000-01-01 00:00:00', '9-NEW'
         FROM orders
         WHERE o_orderkey < 5 AND (o_orderkey + 1000000) % 997 <> 0""",

    // SQL time travel through the graft_snapshot TABLE function:
    // v0 = full orders, v1 = after the 997-multiple purge
    "q_sql_timetravel" ->
      """SELECT 0 AS version, o_orderkey, o_custkey, o_totalprice FROM orders
         UNION ALL
         SELECT 1, o_orderkey, o_custkey, o_totalprice FROM orders
         WHERE o_orderkey % 997 <> 0""",

    // hive-partitioned DML: purge the 997-multiples, double the
    // surviving 991-multiples, append shifted inserts into a new
    // partition — final snapshot with the path-encoded status column
    "q_hive_dml" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 991 = 0 THEN o_totalprice * 2
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
         FROM orders WHERE o_orderkey % 997 <> 0
         UNION ALL
         SELECT o_orderkey + 3000000, o_custkey, 'N', 0.0,
         TIMESTAMP '2000-01-01 00:00:00', '9-NEW'
         FROM orders WHERE o_orderkey < 5""",

    // log-planned selective read: stats carried on ADD entries admit
    // exactly the files intersecting the quarter-point sixteenth of
    // the key range; integer-division bounds mirror the Spark side
    "q_txlog_stats" ->
      """WITH s AS (SELECT min(o_orderkey) + (max(o_orderkey) - min(o_orderkey)) // 4 AS lo,
                      min(o_orderkey) + (max(o_orderkey) - min(o_orderkey)) // 4
                        + (max(o_orderkey) - min(o_orderkey)) // 16 AS hi
                    FROM orders)
         SELECT o_orderkey, o_custkey, o_orderstatus,
                o_totalprice, o_orderdate, o_orderpriority
         FROM orders, s
         WHERE o_orderkey >= s.lo AND o_orderkey <= s.hi""",

    // cursor-driven follower lands on the same final state as the
    // hand-advanced q_txlog_mv (same v1 MERGE + v2 purge derivation)
    "q_txlog_follow" ->
      """WITH v2 AS (
           SELECT o_orderstatus, o_totalprice FROM orders
           WHERE o_orderkey % 997 <> 0 AND o_orderkey % 991 <> 0
           UNION ALL
           SELECT o_orderstatus, o_totalprice * 2 FROM orders
           WHERE o_orderkey % 991 = 0 AND o_orderkey % 997 <> 0
           UNION ALL
           SELECT 'N', 0.0 FROM orders
           WHERE o_orderkey < 5 AND (o_orderkey + 1000000) % 997 <> 0)
         SELECT o_orderstatus, count(*) AS n,
                ROUND(SUM(o_totalprice), 2) AS sum_price
         FROM v2 GROUP BY o_orderstatus""",

    // bin-packed rewrite must preserve the relation exactly
    "q_compact" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority
         FROM orders""",

    // string-manifest equality-pruned read must equal the plain filter
    "q_zonemap_string" ->
      """SELECT doc_id, text, lang, source, n_chars
         FROM documents WHERE lang = 'en'""",

    // expectations report: per-rule violation counts + pass flags,
    // rows_checked = table count; count(CASE) keeps BIGINT on both
    // sides (DuckDB sum(CASE) would widen to HUGEINT)
    "q_dq_report" ->
      """WITH t AS (SELECT count(*) AS total FROM orders)
         SELECT 'not_null(o_custkey)' AS rule,
           (SELECT count(CASE WHEN o_custkey IS NULL THEN 1 END) FROM orders) AS violations,
           total AS rows_checked, (SELECT count(CASE WHEN o_custkey IS NULL THEN 1 END) FROM orders) = 0 AS pass FROM t
         UNION ALL
         SELECT 'unique(o_orderkey)',
           (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders),
           total, (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders) = 0 FROM t
         UNION ALL
         SELECT 'accepted_values(o_orderstatus)',
           (SELECT count(CASE WHEN o_orderstatus IS NOT NULL
              AND o_orderstatus NOT IN ('O','F','P') THEN 1 END) FROM orders),
           total, (SELECT count(CASE WHEN o_orderstatus IS NOT NULL
              AND o_orderstatus NOT IN ('O','F','P') THEN 1 END) FROM orders) = 0 FROM t
         UNION ALL
         SELECT 'in_range(o_totalprice)',
           (SELECT count(CASE WHEN o_totalprice IS NOT NULL
              AND (o_totalprice < 0.0 OR o_totalprice > 300000.0) THEN 1 END) FROM orders),
           total, (SELECT count(CASE WHEN o_totalprice IS NOT NULL
              AND (o_totalprice < 0.0 OR o_totalprice > 300000.0) THEN 1 END) FROM orders) = 0 FROM t
         UNION ALL
         SELECT 'matches_regex(o_orderpriority)',
           (SELECT count(CASE WHEN o_orderpriority IS NOT NULL
              AND NOT regexp_matches(o_orderpriority, '^1-') THEN 1 END) FROM orders),
           total, (SELECT count(CASE WHEN o_orderpriority IS NOT NULL
              AND NOT regexp_matches(o_orderpriority, '^1-') THEN 1 END) FROM orders) = 0 FROM t
         UNION ALL
         SELECT 'unique(o_custkey,o_orderdate)',
           (SELECT count(*) - count(DISTINCT (o_custkey, o_orderdate)) FROM orders),
           total, (SELECT count(*) - count(DISTINCT (o_custkey, o_orderdate)) FROM orders) = 0 FROM t""",

    // grouped DQ monitor: q_dq_report's shape per order year;
    // uniqueness scoped within the year
    "q_dq_by_group" ->
      """WITH g AS (SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                      count(*) AS total,
                      count(CASE WHEN o_custkey IS NULL THEN 1 END) AS v0,
                      count(*) - count(DISTINCT o_orderkey) AS v1,
                      count(CASE WHEN o_totalprice IS NOT NULL
                        AND (o_totalprice < 0.0 OR o_totalprice > 300000.0)
                        THEN 1 END) AS v2,
                      count(CASE WHEN o_orderpriority IS NOT NULL
                        AND NOT regexp_matches(o_orderpriority, '^1-')
                        THEN 1 END) AS v3
                    FROM orders GROUP BY 1)
         SELECT o_year, 'not_null(o_custkey)' AS rule, v0 AS violations,
           total AS rows_checked, v0 = 0 AS pass FROM g
         UNION ALL SELECT o_year, 'unique(o_orderkey)', v1, total, v1 = 0 FROM g
         UNION ALL SELECT o_year, 'in_range(o_totalprice)', v2, total, v2 = 0 FROM g
         UNION ALL SELECT o_year, 'matches_regex(o_orderpriority)', v3, total, v3 = 0 FROM g""",

    // quarantine side of the DQ router: violating rows with their
    // '|'-joined declaration-ordered reasons
    "q_dq_quarantine" ->
      """SELECT o_orderkey,
           concat_ws('|',
             CASE WHEN o_totalprice IS NOT NULL
               AND (o_totalprice < 0.0 OR o_totalprice > 300000.0)
               THEN 'in_range(o_totalprice)' END,
             CASE WHEN o_orderpriority IS NOT NULL
               AND NOT regexp_matches(o_orderpriority, '^[1-3]-')
               THEN 'matches_regex(o_orderpriority)' END,
             CASE WHEN o_orderstatus IS NOT NULL
               AND o_orderstatus NOT IN ('O','F')
               THEN 'accepted_values(o_orderstatus)' END) AS dq_reasons
         FROM orders
         WHERE (o_totalprice IS NOT NULL
                AND (o_totalprice < 0.0 OR o_totalprice > 300000.0))
            OR (o_orderpriority IS NOT NULL
                AND NOT regexp_matches(o_orderpriority, '^[1-3]-'))
            OR (o_orderstatus IS NOT NULL
                AND o_orderstatus NOT IN ('O','F'))""",

    // bloom-index pruned point read must equal the plain IN filter;
    // the probed keys are the 3 distinct orderkeys at offset 500 in
    // key order on both sides
    "q_bloomindex_point" ->
      """WITH k AS (SELECT DISTINCT l_orderkey FROM lineitem
                    ORDER BY l_orderkey LIMIT 3 OFFSET 500)
         SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
         FROM lineitem WHERE l_orderkey IN (SELECT l_orderkey FROM k)""",

    // bucketed co-located join: the layout changes the PLAN (zero
    // exchanges, PlanSpec), never the RESULT
    "q_bucket_join" ->
      """SELECT o_orderstatus, count(*) AS n,
           round(sum(l_extendedprice), 2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""",

    // 24h moving stats over the complete hourly grid: rows frame ≡
    // time frame because the spine has no gaps
    "q_events_moving_avg" ->
      """WITH b AS (SELECT date_trunc('hour', ts) AS bucket, count(*) AS n
                    FROM events GROUP BY 1),
         s AS (SELECT unnest(generate_series((SELECT min(bucket) FROM b),
                 (SELECT max(bucket) FROM b), INTERVAL 1 HOUR)) AS bucket),
         g AS (SELECT s.bucket, coalesce(b.n, 0) AS n FROM s LEFT JOIN b USING (bucket))
         SELECT bucket, n,
           CAST(sum(n) OVER w AS BIGINT) AS n_24h,
           round(avg(CAST(n AS DOUBLE)) OVER w, 6) AS avg_24h
         FROM g
         WINDOW w AS (ORDER BY bucket ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)""",

    // each user lands on their first-ever event day; running sum
    "q_events_cumulative_users" ->
      """WITH f AS (SELECT user_id, date_trunc('day', min(ts)) AS day
                    FROM events GROUP BY 1),
         d AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1)
         SELECT day, new_users,
           CAST(sum(new_users) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
         FROM d""",

    // wide→long melt of three per-flag totals
    "q_unpivot" ->
      """WITH a AS (SELECT l_returnflag, round(sum(l_quantity), 2) AS qty,
                      round(sum(l_extendedprice), 2) AS price,
                      round(sum(l_discount), 2) AS disc
                    FROM lineitem GROUP BY 1)
         SELECT l_returnflag, 'qty' AS measure, qty AS value FROM a
         UNION ALL SELECT l_returnflag, 'price', price FROM a
         UNION ALL SELECT l_returnflag, 'disc', disc FROM a""",

    // anchored funnel: first view anchors the 7-day deadline; each
    // later step is the earliest qualifying event after the previous
    "q_events_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                     WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT s1.user_id, s1.t1, min(e.ts) AS t2
                FROM s1 JOIN events e ON e.user_id = s1.user_id
                  AND e.event_type = 'click' AND e.ts > s1.t1
                  AND e.ts <= s1.t1 + INTERVAL 604800 SECOND
                GROUP BY 1, 2),
         s3 AS (SELECT s2.user_id, min(e.ts) AS t3
                FROM s2 JOIN events e ON e.user_id = s2.user_id
                  AND e.event_type = 'purchase' AND e.ts > s2.t2
                  AND e.ts <= s2.t1 + INTERVAL 604800 SECOND
                GROUP BY 1)
         SELECT CAST(1 AS INT) AS step, (SELECT count(*) FROM s1) AS users
         UNION ALL SELECT CAST(2 AS INT), (SELECT count(*) FROM s2)
         UNION ALL SELECT CAST(3 AS INT), (SELECT count(*) FROM s3)""",

    // weekly funnel conversion over the anchored funnel's user rows
    "q_events_funnel_weekly" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                     WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT s1.user_id, s1.t1, min(e.ts) AS t2
                FROM s1 JOIN events e ON e.user_id = s1.user_id
                  AND e.event_type = 'click' AND e.ts > s1.t1
                  AND e.ts <= s1.t1 + INTERVAL 604800 SECOND
                GROUP BY 1, 2),
         s3 AS (SELECT s2.user_id, min(e.ts) AS t3
                FROM s2 JOIN events e ON e.user_id = s2.user_id
                  AND e.event_type = 'purchase' AND e.ts > s2.t2
                  AND e.ts <= s2.t1 + INTERVAL 604800 SECOND
                GROUP BY 1),
         u AS (SELECT s1.user_id, s1.t1,
                 (s2.user_id IS NOT NULL) AS clicked,
                 (s3.user_id IS NOT NULL) AS completed
               FROM s1 LEFT JOIN s2 USING (user_id)
                 LEFT JOIN s3 USING (user_id))
         SELECT date_trunc('week', t1) AS week,
           count(*) AS entered,
           count(CASE WHEN clicked THEN 1 END) AS clicked,
           count(CASE WHEN completed THEN 1 END) AS completed,
           round(CAST(count(CASE WHEN completed THEN 1 END) AS DOUBLE)
             / count(*), 6) AS cvr
         FROM u GROUP BY 1""",

    // unanchored funnel: per-anchor greedy frontier (min qualifying
    // next step per (user, anchor)), best over anchors
    "q_events_funnel_any" ->
      """WITH a AS (SELECT DISTINCT user_id, ts AS t1 FROM events
                    WHERE event_type = 'view'),
         l2 AS (SELECT a.user_id, a.t1, min(e.ts) AS r2
                FROM a JOIN events e ON e.user_id = a.user_id
                  AND e.event_type = 'click' AND e.ts > a.t1
                  AND e.ts <= a.t1 + INTERVAL 172800 SECOND
                GROUP BY 1, 2),
         l3 AS (SELECT l2.user_id, l2.t1, min(e.ts) AS r3
                FROM l2 JOIN events e ON e.user_id = l2.user_id
                  AND e.event_type = 'purchase' AND e.ts > l2.r2
                  AND e.ts <= l2.t1 + INTERVAL 172800 SECOND
                GROUP BY 1, 2),
         best AS (
           SELECT user_id, 1 AS s FROM a
           UNION ALL SELECT user_id, 2 FROM l2
           UNION ALL SELECT user_id, 3 FROM l3)
         SELECT user_id, CAST(max(s) AS INT) AS steps_completed
         FROM best GROUP BY 1""",

    // hourly resample over the complete spine: gaps zero-filled for
    // n/sum, mean forward-filled. avg rounds at 6, not 2: avg of
    // 2-decimal data over n rows is a STRUCTURAL midpoint at 2
    // decimals (x.xx5) where Spark and DuckDB round differently
    "q_events_resample" ->
      """WITH b AS (SELECT date_trunc('hour', ts) AS bucket, count(*) AS n,
                      sum(value) AS sv, round(avg(value), 6) AS av
                    FROM events GROUP BY 1),
         s AS (SELECT unnest(generate_series((SELECT min(bucket) FROM b),
                 (SELECT max(bucket) FROM b), INTERVAL 1 HOUR)) AS bucket)
         SELECT bucket, coalesce(n, 0) AS n,
           round(coalesce(sv, 0), 2) AS sum_value,
           last_value(av IGNORE NULLS) OVER (ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value
         FROM s LEFT JOIN b USING (bucket)""",

    // per-window quantiles: exact regime (daily value cardinality
    // << 8192 bins) → exact rank-ceil(q*N) doubles via window SQL
    "q_events_quantile" ->
      """WITH e AS (SELECT date_trunc('day', ts) AS day, value FROM events),
         o AS (SELECT day, value,
                 row_number() OVER (PARTITION BY day ORDER BY value) AS rn,
                 count(*) OVER (PARTITION BY day) AS nn
               FROM e),
         q AS (SELECT day,
                 max(CASE WHEN rn = CAST(ceil(0.5 * nn) AS BIGINT)
                     THEN value END) AS p50_value,
                 max(CASE WHEN rn = CAST(ceil(0.95 * nn) AS BIGINT)
                     THEN value END) AS p95_value
               FROM o GROUP BY 1),
         b AS (SELECT day, count(*) AS n FROM e GROUP BY 1)
         SELECT b.day, b.n, q.p50_value, q.p95_value
         FROM b JOIN q USING (day)""",

    // quantile rollup state: exact regime (50 distinct quantities
    // << 512 bins), so the sketch reads are exact rank-ceil(q*N)
    // values — reproduced with window SQL, no quantile() semantics
    "q_agg_quantile" ->
      """WITH o AS (SELECT l_returnflag, l_quantity,
                      row_number() OVER (PARTITION BY l_returnflag
                        ORDER BY l_quantity) AS rn,
                      count(*) OVER (PARTITION BY l_returnflag) AS nn
                    FROM lineitem),
         q AS (SELECT l_returnflag,
                 max(CASE WHEN rn = CAST(ceil(0.5 * nn) AS BIGINT)
                     THEN l_quantity END) AS p50_l_quantity,
                 max(CASE WHEN rn = CAST(ceil(0.9 * nn) AS BIGINT)
                     THEN l_quantity END) AS p90_l_quantity
               FROM o GROUP BY 1),
         b AS (SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty
               FROM lineitem GROUP BY 1)
         SELECT b.l_returnflag, b.n, b.sum_qty,
           q.p50_l_quantity, q.p90_l_quantity
         FROM b JOIN q USING (l_returnflag)""",

    // SCD2 history: the three version definitions are pure column
    // expressions over customer, so DuckDB derives every row's
    // validity interval directly — closed v1 states for keys whose
    // segment changed at v2, closed v2 states for keys whose balance
    // changed at v3, currents stamped with their last change
    "q_scd2" ->
      """WITH base AS (SELECT c_custkey AS k, c_mktsegment AS seg, c_acctbal AS bal
                       FROM customer WHERE c_custkey < 300),
         newr AS (SELECT k + 10000 AS k, 'SEG_NEW' AS seg, CAST(k AS DOUBLE) AS bal
                  FROM base WHERE k < 10),
         v1 AS (SELECT * FROM base),
         v2 AS (SELECT k,
                  CASE WHEN k % 3 = 0 THEN 'SEG_' || CAST(k % 5 AS VARCHAR)
                       ELSE seg END AS seg, bal
                FROM base
                UNION ALL SELECT * FROM newr),
         v3 AS (SELECT k, seg,
                  CASE WHEN k % 4 = 0 THEN bal + 10 ELSE bal END AS bal
                FROM v2),
         hist AS (
           SELECT k, seg, bal,
             CAST(CASE WHEN k % 4 = 0 THEN 3
                       WHEN k >= 10000 THEN 2
                       WHEN k % 3 = 0 THEN 2
                       ELSE 1 END AS BIGINT) AS valid_from,
             CAST(NULL AS BIGINT) AS valid_to, TRUE AS is_current
           FROM v3
           UNION ALL
           SELECT k, seg, bal,
             CAST(CASE WHEN k >= 10000 THEN 2
                       WHEN k % 3 = 0 THEN 2
                       ELSE 1 END AS BIGINT),
             CAST(3 AS BIGINT), FALSE
           FROM v2 WHERE k % 4 = 0
           UNION ALL
           SELECT k, seg, bal, CAST(1 AS BIGINT), CAST(2 AS BIGINT), FALSE
           FROM v1 WHERE k % 3 = 0)
         SELECT k AS c_custkey, seg AS c_mktsegment, bal AS c_acctbal,
           valid_from, valid_to, is_current
         FROM hist""",

    // SCD2 delete feed: q_scd2's lifecycle, then keys = 0 (mod 7)
    // retire at v4 — their final interval closes at 4 with the v3
    // state, everything else is q_scd2's history verbatim
    "q_scd2_retire" ->
      """WITH base AS (SELECT c_custkey AS k, c_mktsegment AS seg, c_acctbal AS bal
                       FROM customer WHERE c_custkey < 300),
         newr AS (SELECT k + 10000 AS k, 'SEG_NEW' AS seg, CAST(k AS DOUBLE) AS bal
                  FROM base WHERE k < 10),
         v1 AS (SELECT * FROM base),
         v2 AS (SELECT k,
                  CASE WHEN k % 3 = 0 THEN 'SEG_' || CAST(k % 5 AS VARCHAR)
                       ELSE seg END AS seg, bal
                FROM base
                UNION ALL SELECT * FROM newr),
         v3 AS (SELECT k, seg,
                  CASE WHEN k % 4 = 0 THEN bal + 10 ELSE bal END AS bal
                FROM v2),
         hist AS (
           SELECT k, seg, bal,
             CAST(CASE WHEN k % 4 = 0 THEN 3
                       WHEN k >= 10000 THEN 2
                       WHEN k % 3 = 0 THEN 2
                       ELSE 1 END AS BIGINT) AS valid_from,
             CAST(NULL AS BIGINT) AS valid_to, TRUE AS is_current
           FROM v3 WHERE k % 7 <> 0
           UNION ALL
           SELECT k, seg, bal,
             CAST(CASE WHEN k % 4 = 0 THEN 3
                       WHEN k >= 10000 THEN 2
                       WHEN k % 3 = 0 THEN 2
                       ELSE 1 END AS BIGINT),
             CAST(4 AS BIGINT), FALSE
           FROM v3 WHERE k % 7 = 0
           UNION ALL
           SELECT k, seg, bal,
             CAST(CASE WHEN k >= 10000 THEN 2
                       WHEN k % 3 = 0 THEN 2
                       ELSE 1 END AS BIGINT),
             CAST(3 AS BIGINT), FALSE
           FROM v2 WHERE k % 4 = 0
           UNION ALL
           SELECT k, seg, bal, CAST(1 AS BIGINT), CAST(2 AS BIGINT), FALSE
           FROM v1 WHERE k % 3 = 0)
         SELECT k AS c_custkey, seg AS c_mktsegment, bal AS c_acctbal,
           valid_from, valid_to, is_current
         FROM hist""",

    // change-data-feed over the retire lifecycle: the full (0,4]
    // event stream derives straight from the version definitions —
    // inserts where keys appear, pre/post pairs at each attribute
    // change (new keys' v2 rows are inserts, not postimages), deletes
    // with the final v3 state at the retire
    "q_scd2_cdf" ->
      """WITH base AS (SELECT c_custkey AS k, c_mktsegment AS seg, c_acctbal AS bal
                       FROM customer WHERE c_custkey < 300),
         newr AS (SELECT k + 10000 AS k, 'SEG_NEW' AS seg, CAST(k AS DOUBLE) AS bal
                  FROM base WHERE k < 10),
         v1 AS (SELECT * FROM base),
         v2 AS (SELECT k,
                  CASE WHEN k % 3 = 0 THEN 'SEG_' || CAST(k % 5 AS VARCHAR)
                       ELSE seg END AS seg, bal
                FROM base
                UNION ALL SELECT * FROM newr),
         v3 AS (SELECT k, seg,
                  CASE WHEN k % 4 = 0 THEN bal + 10 ELSE bal END AS bal
                FROM v2),
         chg AS (
           SELECT k, seg, bal, 'insert' AS change_type,
             CAST(1 AS BIGINT) AS commit_version FROM v1
           UNION ALL
           SELECT k, seg, bal, 'update_preimage', CAST(2 AS BIGINT)
           FROM v1 WHERE k % 3 = 0
           UNION ALL
           SELECT k, seg, bal, 'update_postimage', CAST(2 AS BIGINT)
           FROM v2 WHERE k % 3 = 0 AND k < 10000
           UNION ALL
           SELECT k, seg, bal, 'insert', CAST(2 AS BIGINT) FROM newr
           UNION ALL
           SELECT k, seg, bal, 'update_preimage', CAST(3 AS BIGINT)
           FROM v2 WHERE k % 4 = 0
           UNION ALL
           SELECT k, seg, bal, 'update_postimage', CAST(3 AS BIGINT)
           FROM v3 WHERE k % 4 = 0
           UNION ALL
           SELECT k, seg, bal, 'delete', CAST(4 AS BIGINT)
           FROM v3 WHERE k % 7 = 0)
         SELECT k AS c_custkey, seg AS c_mktsegment, bal AS c_acctbal,
           change_type, commit_version
         FROM chg""",

    // incremental MV: seed-at-v1 + signed change delta must equal the
    // direct aggregate of the final surviving state
    "q_scd2_mv" ->
      """WITH base AS (SELECT c_custkey AS k, c_mktsegment AS seg, c_acctbal AS bal
                       FROM customer WHERE c_custkey < 300),
         newr AS (SELECT k + 10000 AS k, 'SEG_NEW' AS seg, CAST(k AS DOUBLE) AS bal
                  FROM base WHERE k < 10),
         v2 AS (SELECT k,
                  CASE WHEN k % 3 = 0 THEN 'SEG_' || CAST(k % 5 AS VARCHAR)
                       ELSE seg END AS seg, bal
                FROM base
                UNION ALL SELECT * FROM newr),
         v3 AS (SELECT k, seg,
                  CASE WHEN k % 4 = 0 THEN bal + 10 ELSE bal END AS bal
                FROM v2)
         SELECT seg AS c_mktsegment, count(*) AS n,
           round(sum(bal), 2) AS sum_bal
         FROM v3 WHERE k % 7 <> 0
         GROUP BY 1""",

    // min/max MV: grow path (v3 bumps) + dirty-recompute path (the
    // retire deletes rows, possibly a group's extreme) must both land
    // on the direct aggregate; min/max are raw data values, no rounding
    "q_scd2_mv_minmax" ->
      """WITH base AS (SELECT c_custkey AS k, c_mktsegment AS seg, c_acctbal AS bal
                       FROM customer WHERE c_custkey < 300),
         newr AS (SELECT k + 10000 AS k, 'SEG_NEW' AS seg, CAST(k AS DOUBLE) AS bal
                  FROM base WHERE k < 10),
         v2 AS (SELECT k,
                  CASE WHEN k % 3 = 0 THEN 'SEG_' || CAST(k % 5 AS VARCHAR)
                       ELSE seg END AS seg, bal
                FROM base
                UNION ALL SELECT * FROM newr),
         v3 AS (SELECT k, seg,
                  CASE WHEN k % 4 = 0 THEN bal + 10 ELSE bal END AS bal
                FROM v2)
         SELECT seg AS c_mktsegment, count(*) AS n,
           round(sum(bal), 2) AS sum_bal,
           min(bal) AS min_bal, max(bal) AS max_bal
         FROM v3 WHERE k % 7 <> 0
         GROUP BY 1""",

    // vacuum(before=3) over the retire lifecycle: q_scd2_retire's
    // history minus every closed interval with valid_to <= 3 — only
    // current rows and the retire-closed (valid_to=4) intervals remain
    "q_scd2_vacuum" ->
      """WITH base AS (SELECT c_custkey AS k, c_mktsegment AS seg, c_acctbal AS bal
                       FROM customer WHERE c_custkey < 300),
         newr AS (SELECT k + 10000 AS k, 'SEG_NEW' AS seg, CAST(k AS DOUBLE) AS bal
                  FROM base WHERE k < 10),
         v2 AS (SELECT k,
                  CASE WHEN k % 3 = 0 THEN 'SEG_' || CAST(k % 5 AS VARCHAR)
                       ELSE seg END AS seg, bal
                FROM base
                UNION ALL SELECT * FROM newr),
         v3 AS (SELECT k, seg,
                  CASE WHEN k % 4 = 0 THEN bal + 10 ELSE bal END AS bal
                FROM v2),
         hist AS (
           SELECT k, seg, bal,
             CAST(CASE WHEN k % 4 = 0 THEN 3
                       WHEN k >= 10000 THEN 2
                       WHEN k % 3 = 0 THEN 2
                       ELSE 1 END AS BIGINT) AS valid_from,
             CAST(NULL AS BIGINT) AS valid_to, TRUE AS is_current
           FROM v3 WHERE k % 7 <> 0
           UNION ALL
           SELECT k, seg, bal,
             CAST(CASE WHEN k % 4 = 0 THEN 3
                       WHEN k >= 10000 THEN 2
                       WHEN k % 3 = 0 THEN 2
                       ELSE 1 END AS BIGINT),
             CAST(4 AS BIGINT), FALSE
           FROM v3 WHERE k % 7 = 0)
         SELECT k AS c_custkey, seg AS c_mktsegment, bal AS c_acctbal,
           valid_from, valid_to, is_current
         FROM hist""",

    // reshard mid-lifecycle (init@4 → reshard→16 → fold odd half)
    // must still equal the one-shot GROUP BY
    "q_agg_reshard" ->
      """SELECT l_partkey, count(*) AS n,
           sum(l_quantity) AS sum_qty,
           sum(l_quantity) / count(*) AS avg_qty,
           count(DISTINCT l_suppkey) AS ndv_supp
         FROM lineitem GROUP BY 1""",

    // SemDeDup under injected centroids (embeddings of vec_id 0..7):
    // argmin-L2 assignment mirrors the kernel's -2*v.c + |c|^2 double
    // arithmetic (|v|^2 is constant per row), ties to the lower cell;
    // groups close recursively over intra-cell cosine edges; keep =
    // lowest centroid similarity, ties to min id
    "q_dedup_semantic" ->
      """WITH RECURSIVE c AS (
           SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         sc AS (SELECT e.vec_id, c.cid,
                  -2e0 * list_sum(list_transform(list_zip(e.embedding, c.cvec),
                      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
                  + list_sum(list_transform(c.cvec,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS s
                FROM embeddings e, c),
         a AS (SELECT vec_id, CAST(cid AS INT) AS cell FROM
                 (SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
                  FROM sc) r
               WHERE rn = 1),
         av AS (SELECT a.vec_id, a.cell, e.embedding
                FROM a JOIN embeddings e USING (vec_id)),
         cs AS (SELECT av.vec_id, av.cell,
                  list_sum(list_transform(list_zip(av.embedding, c.cvec),
                      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
                  / (sqrt(list_sum(list_transform(av.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                   * sqrt(list_sum(list_transform(c.cvec,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS csim
                FROM av JOIN c ON c.cid = av.cell),
         p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b
               FROM av x JOIN av y ON x.cell = y.cell AND x.vec_id < y.vec_id
               WHERE list_sum(list_transform(list_zip(x.embedding, y.embedding),
                       z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
                  / (sqrt(list_sum(list_transform(x.embedding,
                        t -> CAST(t AS DOUBLE) * CAST(t AS DOUBLE))))
                   * sqrt(list_sum(list_transform(y.embedding,
                        t -> CAST(t AS DOUBLE) * CAST(t AS DOUBLE)))))
                  >= 0.35),
         e2 AS (SELECT id_a AS node, id_b AS nbr FROM p
                UNION ALL SELECT id_b, id_a FROM p),
         reach(node, r) AS (
           SELECT node, node FROM e2
           UNION
           SELECT e2.node, reach.r FROM e2 JOIN reach ON e2.nbr = reach.node),
         lab AS (SELECT node, min(r) AS label FROM reach GROUP BY node),
         keepg AS (SELECT node AS keep_id FROM
                     (SELECT l.node, row_number() OVER (PARTITION BY l.label
                        ORDER BY cs.csim, l.node) AS rn
                      FROM lab l JOIN cs ON cs.vec_id = l.node) k
                   WHERE rn = 1)
         SELECT cs.vec_id, cs.cell,
                (cs.vec_id NOT IN (SELECT node FROM lab)
                 OR cs.vec_id IN (SELECT keep_id FROM keepg)) AS kept
         FROM cs""",

    // cluster-balanced sampling under the same injected centroids as
    // q_dedup_semantic: argmin-L2 assignment, then each cell's 5
    // highest-own-centroid-cosine members (ties to the lower id)
    "q_cluster_sample" ->
      """WITH c AS (
           SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         sc AS (SELECT e.vec_id, c.cid,
                  -2e0 * list_sum(list_transform(list_zip(e.embedding, c.cvec),
                      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
                  + list_sum(list_transform(c.cvec,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS s
                FROM embeddings e, c),
         a AS (SELECT vec_id, CAST(cid AS INT) AS cell FROM
                 (SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY s, cid) AS rn
                  FROM sc) r
               WHERE rn = 1),
         cs AS (SELECT a.vec_id, a.cell,
                  list_sum(list_transform(list_zip(e.embedding, c.cvec),
                      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
                  / (sqrt(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                   * sqrt(list_sum(list_transform(c.cvec,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS csim
                FROM a JOIN embeddings e USING (vec_id)
                       JOIN c ON c.cid = a.cell)
         SELECT vec_id, cell FROM
           (SELECT vec_id, cell,
              row_number() OVER (PARTITION BY cell
                ORDER BY csim DESC, vec_id) AS rn
            FROM cs) k
         WHERE rn <= 5""",

    "q_decontaminate" ->
      """WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ts FROM documents),
         g AS (SELECT doc_id,
                 CASE WHEN len(ts) < 8 THEN array_to_string(ts, ' ')
                      ELSE array_to_string(ts[CAST(i AS INT):CAST(i+7 AS INT)], ' ') END AS gram
               FROM tk, UNNEST(generate_series(1, greatest(len(ts)-7, 1))) AS u(i)),
         eg AS (SELECT DISTINCT gram FROM g WHERE doc_id < 50),
         cg AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id >= 50)
         SELECT doc_id, count(*) AS shared_grams
         FROM cg JOIN eg USING (gram) GROUP BY doc_id""",

    "q_token_budget_group" ->
      """WITH s AS (
           SELECT doc_id, CAST(doc_id % 3 AS VARCHAR) AS grp,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS tokens,
             CAST(FLOOR((
               (LEAST(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 100.0, 1.0)
                + LEAST(CASE WHEN len(regexp_extract_all(text, '\S+')) > 0
                             THEN CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it)\b')) AS DOUBLE)
                                  / CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) * 4.0
                             ELSE 0.0 END, 1.0)) / 2.0) * 1000) AS INT) AS lvl
           FROM documents),
         ls AS (SELECT grp, lvl, SUM(tokens) AS t FROM s GROUP BY 1, 2),
         cum AS (SELECT grp, lvl, t, SUM(t) OVER (PARTITION BY grp ORDER BY lvl DESC) AS c FROM ls),
         bud AS (SELECT * FROM (VALUES ('0', 8000), ('1', 5000), ('2', 2000)) v(grp, b)),
         bnd AS (SELECT bud.grp, bud.b,
                   COALESCE(MAX(CASE WHEN c > b THEN lvl END), -2147483648) AS boundary
                 FROM bud JOIN cum ON cum.grp = bud.grp GROUP BY 1, 2),
         bb AS (SELECT bnd.grp, bnd.boundary,
                  COALESCE((SELECT bnd.b - (c - t) FROM cum
                            WHERE cum.grp = bnd.grp AND cum.lvl = bnd.boundary), bnd.b) AS bbud
                FROM bnd)
         SELECT doc_id, s.grp, tokens, lvl FROM s JOIN bb ON s.grp = bb.grp
         WHERE lvl > boundary
         UNION ALL
         SELECT doc_id, grp, tokens, lvl FROM (
           SELECT s.doc_id, s.grp, s.tokens, s.lvl, bb.bbud,
             SUM(s.tokens) OVER (PARTITION BY s.grp ORDER BY s.doc_id) AS rc
           FROM s JOIN bb ON s.grp = bb.grp AND s.lvl = bb.boundary) x
         WHERE rc <= bbud""",

    "q_token_budget" ->
      """WITH s AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS tokens,
             CAST(FLOOR((
               (LEAST(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 100.0, 1.0)
                + LEAST(CASE WHEN len(regexp_extract_all(text, '\S+')) > 0
                             THEN CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it)\b')) AS DOUBLE)
                                  / CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) * 4.0
                             ELSE 0.0 END, 1.0)) / 2.0) * 1000) AS INT) AS lvl
           FROM documents),
         ls AS (SELECT lvl, SUM(tokens) AS t FROM s GROUP BY lvl),
         cum AS (SELECT lvl, t, SUM(t) OVER (ORDER BY lvl DESC) AS c FROM ls),
         b AS (SELECT COALESCE(MAX(lvl), -2147483648) AS boundary FROM cum WHERE c > 20000),
         bb AS (SELECT COALESCE((SELECT 20000 - (c - t) FROM cum, b WHERE lvl = boundary), 0) AS bud)
         SELECT doc_id, tokens, lvl FROM s, b WHERE lvl > boundary
         UNION ALL
         SELECT doc_id, tokens, lvl FROM (
           SELECT s.doc_id, s.tokens, s.lvl,
             SUM(s.tokens) OVER (ORDER BY s.doc_id) AS rc
           FROM s, b WHERE s.lvl = boundary) x, bb WHERE rc <= bud""",

    "q_pipeline_clean" ->
      """WITH scored AS (
           SELECT doc_id, text,
             (LEAST(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 100.0, 1.0)
              + LEAST(CASE WHEN len(regexp_extract_all(text, '\S+')) > 0
                           THEN CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it)\b')) AS DOUBLE)
                                / CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) * 4.0
                           ELSE 0.0 END, 1.0)) / 2.0 AS quality,
             CASE WHEN GREATEST(en, de, fr, es) = 0 THEN 'und'
                  WHEN en >= de AND en >= fr AND en >= es THEN 'en'
                  WHEN de >= fr AND de >= es THEN 'de'
                  WHEN fr >= es THEN 'fr' ELSE 'es' END AS lang_pred
           FROM (SELECT doc_id, text,
               len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|you|that|it|with)\b')) AS en,
               len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht|ich|ein|mit)\b')) AS de,
               len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|vous|que|pour|dans)\b')) AS fr,
               len(regexp_extract_all(lower(text), '\b(el|los|las|es|una|por|con|para|del)\b')) AS es
             FROM documents))
         SELECT doc_id FROM (
           SELECT doc_id, row_number() OVER (
             PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
             ORDER BY doc_id) AS rn
           FROM scored WHERE quality >= 0.3 AND lang_pred = 'en')
         WHERE rn = 1""",

    // the funnel end-to-end: gate counts reuse the q_pipeline_clean
    // scoring; the near-dedup stage counts the distinct higher-id
    // members of the BANDED md5-minhash candidate graph (4 bands x 4
    // seeds, >200-member band buckets dropped, >=10-seed agree verify
    // — the production LSH shape on the portable hash) over the
    // exact-dedup survivors
    "q_pipeline_funnel" ->
      """WITH scored AS (
           SELECT doc_id, text,
             (LEAST(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 100.0, 1.0)
              + LEAST(CASE WHEN len(regexp_extract_all(text, '\S+')) > 0
                           THEN CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it)\b')) AS DOUBLE)
                                / CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) * 4.0
                           ELSE 0.0 END, 1.0)) / 2.0 AS quality,
             CASE WHEN GREATEST(en, de, fr, es) = 0 THEN 'und'
                  WHEN en >= de AND en >= fr AND en >= es THEN 'en'
                  WHEN de >= fr AND de >= es THEN 'de'
                  WHEN fr >= es THEN 'fr' ELSE 'es' END AS lang_pred
           FROM (SELECT doc_id, text,
               len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|you|that|it|with)\b')) AS en,
               len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht|ich|ein|mit)\b')) AS de,
               len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|vous|que|pour|dans)\b')) AS fr,
               len(regexp_extract_all(lower(text), '\b(el|los|las|es|una|por|con|para|del)\b')) AS es
             FROM documents)),
         gated AS (SELECT doc_id, text FROM scored
                   WHERE quality >= 0.3 AND lang_pred = 'en'),
         ex AS (SELECT doc_id, text, row_number() OVER (
             PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
             ORDER BY doc_id) AS rn FROM gated),
         surv AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
                  FROM ex WHERE rn = 1),
         g AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 4) AS gram
               FROM surv, UNNEST(generate_series(1, greatest(length(t)-3, 0))) AS u(i)),
         h AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) AS h1,
                 CAST(('0x' || substr(md5(gram), 9, 8)) AS BIGINT) AS h2 FROM g),
         sig AS (SELECT doc_id, s, min(h1 + s * h2) AS mh
                 FROM h, UNNEST(generate_series(0, 15)) AS v(s) GROUP BY doc_id, s),
         bands AS (SELECT doc_id, CAST(s // 4 AS INT) AS b,
                     string_agg(mh, '|' ORDER BY s) AS bk
                   FROM sig GROUP BY doc_id, s // 4),
         hot AS (SELECT b, bk FROM bands GROUP BY b, bk HAVING count(*) > 200),
         kept AS (SELECT bands.* FROM bands ANTI JOIN hot USING (b, bk)),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
                  FROM kept a JOIN kept c ON a.b = c.b AND a.bk = c.bk
                   AND a.doc_id < c.doc_id),
         ver AS (SELECT cand.id_a, cand.id_b FROM cand
                 JOIN sig x ON x.doc_id = cand.id_a
                 JOIN sig y ON y.doc_id = cand.id_b AND y.s = x.s AND y.mh = x.mh
                 GROUP BY 1, 2 HAVING count(*) >= 10),
         nd AS (SELECT count(DISTINCT id_b) AS c FROM ver)
         SELECT '0_input' AS stage, (SELECT count(*) FROM documents) AS docs
         UNION ALL SELECT '1_quality', (SELECT count(*) FROM scored WHERE quality >= 0.3)
         UNION ALL SELECT '2_language', (SELECT count(*) FROM gated)
         UNION ALL SELECT '3_exact_dedup', (SELECT count(*) FROM surv)
         UNION ALL SELECT '4_near_dedup', (SELECT count(*) FROM surv) - (SELECT c FROM nd)""",

    // filtered ANN at full probe = exact brute force over ONLY the
    // eligible (label <= 2) corpus — the filter is part of the pair
    // generation, not a post-filter
    "q_ann_filtered" ->
      """WITH pairs AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(q.embedding, c.embedding),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
           FROM embeddings q, embeddings c
           WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id AND c.label <= 2),
         ranked AS (
           SELECT query_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
           FROM pairs)
         SELECT query_id, rank, neighbor_id, ROUND(cos, 6) AS cosine
         FROM ranked WHERE rank <= 5""",

    "q_ann_ivf_full" ->
      """WITH pairs AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(q.embedding, c.embedding),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
           FROM embeddings q, embeddings c
           WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
         ranked AS (
           SELECT query_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
           FROM pairs)
         SELECT query_id, rank, neighbor_id, ROUND(cos, 6) AS cosine
         FROM ranked WHERE rank <= 5""",

    // the save/load lifecycle must reproduce exact brute force at
    // full probe — same oracle as q_ann_ivf_full
    "q_ann_ivf_saved" ->
      """WITH pairs AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(q.embedding, c.embedding),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
           FROM embeddings q, embeddings c
           WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
         ranked AS (
           SELECT query_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
           FROM pairs)
         SELECT query_id, rank, neighbor_id, ROUND(cos, 6) AS cosine
         FROM ranked WHERE rank <= 5""",

    // the hot-cell split must also reproduce exact brute force at full
    // probe — any partition of the corpus into cells is exact there
    "q_ann_ivf_split" ->
      """WITH pairs AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(q.embedding, c.embedding),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
           FROM embeddings q, embeddings c
           WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
         ranked AS (
           SELECT query_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
           FROM pairs)
         SELECT query_id, rank, neighbor_id, ROUND(cos, 6) AS cosine
         FROM ranked WHERE rank <= 5""",

    "q_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
         EXCEPT SELECT s_nationkey FROM supplier""",

    "q_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
         INTERSECT SELECT s_nationkey FROM supplier""",

    "q_pivot" ->
      """SELECT l_returnflag,
         ROUND(SUM(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS "F",
         ROUND(SUM(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2) AS "O"
         FROM lineitem GROUP BY l_returnflag""",

    "q_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS uname, substr(p_name, 1, 8) AS prefix,
         CAST(length(p_name) AS INT) AS len, concat_ws('|', p_brand, p_type) AS bt,
         regexp_replace(p_name, '[aeiou]', '', 'g') AS novowels,
         lpad(p_brand, 12, '.') AS padded
         FROM part""",

    "q_array_funcs" ->
      """SELECT doc_id, CAST(len(toks) AS INT) AS n_distinct,
         array_to_string(list_sort(toks)[1:3], ' ') AS first3
         FROM (SELECT doc_id,
                 list_distinct(regexp_extract_all(lower(text), '\S+')) AS toks
               FROM documents)""",

    "q_explode_tokens" ->
      """SELECT token, count(*) AS cnt
         FROM (SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS token
               FROM documents)
         GROUP BY token ORDER BY cnt DESC, token LIMIT 20""",

    "q_subquery_corr" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
         WHERE o_totalprice > 2.0 * (
           SELECT AVG(o2.o_totalprice) FROM orders o2
           WHERE o2.o_custkey = o.o_custkey)""",

    "q_in_subquery" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_nationkey IN (
           SELECT n_nationkey FROM nation
           WHERE n_regionkey IN (
             SELECT r_regionkey FROM region WHERE r_name = 'EUROPE'))""",

    "q_window_frames" ->
      """SELECT event_id, user_id,
         ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mavg,
         ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS csum
         FROM events""",

    "q_arg_max" ->
      """SELECT p_brand, p_partkey AS top_part, ROUND(p_retailprice, 2) AS top_price
         FROM (SELECT p_brand, p_partkey, p_retailprice,
                 row_number() OVER (PARTITION BY p_brand
                   ORDER BY p_retailprice DESC, p_partkey DESC) AS rn
               FROM part)
         WHERE rn = 1""",

    "q_percentile_stats" ->
      """SELECT ROUND(quantile_cont(l_quantity, 0.5), 2) AS med_qty,
         ROUND(quantile_cont(l_extendedprice, 0.95), 2) AS p95_price,
         ROUND(stddev_samp(l_quantity), 2) AS sd_qty,
         ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price
         FROM lineitem""",

    "q_percentile_group" ->
      """SELECT l_returnflag,
         ROUND(quantile_cont(l_quantity, 0.5), 2) AS med_qty,
         ROUND(quantile_cont(l_extendedprice, 0.9), 2) AS p90_price,
         COUNT(*) AS cnt
         FROM lineitem GROUP BY l_returnflag""",

    "q_range_join" ->
      """SELECT a.user_id, COUNT(*) AS n_pairs
         FROM events a JOIN events b
           ON a.user_id = b.user_id AND b.ts > a.ts
          AND epoch_us(b.ts) - epoch_us(a.ts) <= 300000000
         GROUP BY a.user_id""",

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
         CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
         COUNT(*) AS cnt
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""",

    "q_window_ranks" ->
      """SELECT p_partkey,
         CAST(ntile(4) OVER w AS INT) AS quartile,
         percent_rank() OVER w AS pr,
         cume_dist() OVER w AS cd,
         CAST(dense_rank() OVER w AS INT) AS dr
         FROM part WINDOW w AS (ORDER BY p_retailprice, p_partkey)""",

    "q_histogram" ->
      """SELECT CAST(FLOOR(l_extendedprice / 10000.0) AS INT) AS bucket,
         COUNT(*) AS cnt
         FROM lineitem GROUP BY 1""",

    "q_regex_extract" ->
      """SELECT regexp_extract(props, '"k": (-?\d+)', 1) AS k_str, COUNT(*) AS cnt
         FROM events GROUP BY 1""",

    "q_date_arith" ->
      """SELECT o_orderkey,
         CAST(o_orderdate AS DATE) + 30 AS plus30,
         CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS dd,
         last_day(CAST(o_orderdate AS DATE)) AS ld,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS mstart
         FROM orders""",

    "q_conditional" ->
      """SELECT o_orderkey,
         CASE WHEN o_totalprice > 200000.0 THEN 'high'
              WHEN o_totalprice > 100000.0 THEN 'mid'
              ELSE 'low' END AS band,
         COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_x,
         LEAST(o_totalprice, 150000.0) AS lo,
         GREATEST(o_totalprice, 150000.0) AS hi
         FROM orders""",
  )
}
