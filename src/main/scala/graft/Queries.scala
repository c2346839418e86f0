package graft

import graft.functions._
import graft.operators._

/** The engine's query surface: one entry per operator (SURVEY §2) plus the
  * training-data-pipeline extensions, each with a DuckDB oracle where the
  * semantics are ANSI-SQL-expressible (driver correctness gate), rows-only
  * otherwise (covered by ScalaTest instead).
  *
  * Oracle-determinism rules used throughout:
  *  - every query ends in a total ORDER BY over non-null columns (or has
  *    explicit NULLS FIRST/LAST matching Spark's asc-nulls-first default);
  *  - doubles are either raw parquet values, exact int/int divisions, or
  *    expressions mirrored op-for-op between Spark and SQL (+ round only on
  *    genuinely accumulated values);
  *  - counts/ranks are cast to BIGINT on both sides.
  *
  * The definitions live in per-tier traits under `queries/`
  * ([[QueryBase]] → [[IndexQueries]] → [[ExtQueriesA]]/[[ExtQueriesB]]/
  * [[ExtQueriesC]] → [[OracleHelpers]] → [[OraclesExt]] — one linear
  * stack, initialization order identical to the original single file);
  * this object is the aggregation point: the name→query wiring, the
  * headline bench list, and the oracle map.
  */
object Queries extends OraclesExt {

  // ----------------------------------------------------------------- wiring

  val all: Map[String, Q] = Map(
    "idx_build_acctbal" -> idxBuildAcctbal,
    "idx_build_sql" -> idxBuildSql,
    "idx_build_composite_desc" -> idxBuildCompositeDesc,
    "idx_partial_where" -> idxPartialWhere,
    "idx_primary" -> idxPrimary,
    "idx_array_words" -> idxArrayWords,
    "idx_mapfn_multiemit" -> idxMapfnMultiemit,
    "idx_merge_upserts" -> idxMergeUpserts,
    "idx_retain_deleted" -> idxRetainDeleted,
    "idx_delete_broadcast" -> idxDeleteBroadcast,
    "idx_partition_hash" -> idxPartitionHash,
    "idx_partition_range" -> idxPartitionRange,
    "idx_stats" -> idxStats,
    "idx_stats_bins" -> idxStatsBins,
    "idx_scan_range" -> idxScanRange,
    "idx_persist_scan" -> idxPersistScan,
    "sql_shingle_stats" -> sqlShingleStats,
    "sql_lateral_emit" -> sqlLateralEmit,
    "idx_scan_consistency" -> idxScanConsistency,
    "idx_streaming_maintain" -> idxStreamingMaintain,
    "idx_catchup" -> idxCatchup,
    "events_windowed" -> eventsWindowed,
    "events_hopping" -> eventsHopping,
    "events_stream_join" -> eventsStreamJoin,
    "events_stream_dedup" -> eventsStreamDedup,
    "events_sessions" -> eventsSessions,
    "events_asof_orders" -> eventsAsofOrders,
    "events_range_context" -> eventsRangeContext,
    "view_reduce_stats" -> viewReduceStats,
    "idx_collation_mixed" -> idxCollationMixed,
    "idx_collation_scalar" -> idxCollationScalar,
    "idx_collation_array" -> idxCollationArray,
    "idx_collation_object" -> idxCollationObject,
    "idx_collation_desc_order" -> idxCollationDescOrder,
    "dedup_exact" -> dedupExact,
    "corpus_diff" -> corpusDiff,
    "dedup_jaccard_pairs" -> dedupJaccardPairs,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_clusters" -> dedupClusters,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "dedup_incremental" -> dedupIncremental,
    "dedup_streaming" -> dedupStreaming,
    "dedup_streaming_neardup" -> dedupStreamingNeardup,
    "dedup_streaming_spans" -> dedupStreamingSpans,
    "tokenize_streaming" -> tokenizeStreaming,
    "idx_zorder" -> idxZorder,
    "dedup_simhash" -> dedupSimhash,
    "dedup_embedding_exact" -> dedupEmbeddingExact,
    "dedup_embedding_lsh" -> dedupEmbeddingLsh,
    "idx_lsh_buckets" -> idxLshBuckets,
    "sim_topk_bruteforce" -> simTopkBruteforce,
    "sim_ann_lsh" -> simAnnLsh,
    "sim_ann_ivf" -> simAnnIvf,
    "sim_ann_ivf_pq" -> simAnnIvfPq,
    "sim_ann_residual" -> simAnnResidual,
    "sim_ann_persisted" -> simAnnPersisted,
    "sim_ann_ingest" -> simAnnIngest,
    "sim_ann_upsert" -> simAnnUpsert,
    "sim_ann_delete" -> simAnnDelete,
    "sim_ann_retrain" -> simAnnRetrain,
    "sim_ann_stream_maintain" -> simAnnStreamMaintain,
    "sim_ann_filtered" -> simAnnFiltered,
    "ann_build_sql" -> annBuildSql,
    "sim_ann_stats" -> simAnnStats,
    "text_tokens" -> textTokens,
    "text_bpe_tokens" -> textBpeTokens,
    "text_quality" -> textQuality,
    "text_langid" -> textLangid,
    "text_langid_script" -> textLangidScript,
    "text_langid_ngram" -> textLangidNgram,
    "text_tfidf_top" -> textTfidfTop,
    "text_bm25_top" -> textBm25Top,
    "text_bm25_indexed" -> textBm25Indexed,
    "text_bm25_incremental" -> textBm25Incremental,
    "text_phrase_search" -> textPhraseSearch,
    "text_bm25_queries" -> textBm25Queries,
    "text_bm25_stats" -> textBm25Stats,
    "text_rrf_fusion" -> textRrfFusion,
    "text_hybrid_search" -> textHybridSearch,
    "text_hybrid_batch" -> textHybridBatch,
    "text_hybrid_stream" -> textHybridStream,
    "text_hybrid_filtered" -> textHybridFiltered,
    "hybrid_search_sql" -> hybridSearchSql,
    "hybrid_batch_sql" -> hybridBatchSql,
    "text_fingerprint" -> textFingerprint,
    "text_repetition" -> textRepetition,
    "pipeline_gopher_rules" -> pipelineGopherRules,
    "pipeline_c4_filters" -> pipelineC4Filters,
    "text_fingerprint_rolling" -> textFingerprintRolling,
    "text_normalize" -> textNormalize,
    "text_vocab" -> textVocab,
    "text_bpe_train" -> textBpeTrain,
    "text_bpe_encode" -> textBpeEncode,
    "text_bpe_ids" -> textBpeIds,
    "text_unigram_train" -> textUnigramTrain,
    "text_unigram_encode" -> textUnigramEncode,
    "text_unigram_artifact" -> textUnigramArtifact,
    "tokenize_from_artifact" -> tokenizeFromArtifact,
    "sample_topquality" -> sampleTopQuality,
    "sample_fraction" -> sampleFraction,
    "sample_stratified" -> sampleStratified,
    "sample_mixture" -> sampleMixture,
    "sample_token_budget" -> sampleTokenBudget,
    "sample_temperature" -> sampleTemperature,
    "sample_weighted" -> sampleWeighted,
    "sample_streaming" -> sampleStreaming,
    "sample_weighted_stratified" -> sampleWeightedStratified,
    "pack_shards" -> packShards,
    "text_pii" -> textPii,
    "text_unigram_lm" -> textUnigramLm,
    "text_bigram_lm" -> textBigramLm,
    "text_pmi_bigrams" -> textPmiBigrams,
    "text_backoff_lm" -> textBackoffLm,
    "dedup_decontaminate" -> dedupDecontaminate,
    "dedup_substring" -> dedupSubstring,
    "dedup_span_rewrite" -> dedupSpanRewrite,
    "dedup_span_incremental" -> dedupSpanIncremental,
    "dedup_span_rotate" -> dedupSpanRotate,
    "dedup_semantic" -> dedupSemantic,
    "dedup_semantic_incremental" -> dedupSemanticIncremental,
    "dedup_semantic_stream" -> dedupSemanticStream,
    "corpus_sketch" -> corpusSketch,
    "text_chunks" -> textChunks,
    "pack_sequences" -> packSequences,
    "pack_contig" -> packContig,
    "pipeline_curation" -> pipelineCuration,
    "pipeline_ppl_buckets" -> pipelinePplBuckets,
    "pipeline_reprocess" -> pipelineReprocess,
    "pipeline_pretrain" -> pipelinePretrain,
    "pipeline_pretrain_html" -> pipelinePretrainHtml,
    "text_extract_html" -> textExtractHtml,
    "text_extract_main" -> textExtractMain,
    "text_extract_main_artifact" -> textExtractMainArtifact,
    "text_extract_main_cjk" -> textExtractMainCjk,
    "text_extract_main_thai" -> textExtractMainThai,
    "text_extract_main_ruar" -> textExtractMainRuAr,
    "pipeline_pretrain_sjis" -> pipelinePretrainSjis,
    "pipeline_pretrain_detect" -> pipelinePretrainDetect,
    "pipeline_pretrain_main" -> pipelinePretrainMain,
    "text_url_canonicalize" -> textUrlCanonicalize,
    "pipeline_domain_cap" -> pipelineDomainCap,
    "sample_epochs" -> sampleEpochs,
    "pipeline_crawl_stream" -> pipelineCrawlStream,
    "dedup_url" -> dedupUrl,
    "source_warc" -> sourceWarc,
    "source_warc_http" -> sourceWarcHttp,
    "source_warc_gz" -> sourceWarcGz,
    "source_warc_zst" -> sourceWarcZst,
    "pipeline_wet_export" -> pipelineWetExport,
    "pipeline_wet_stream" -> pipelineWetStream,
    "pipeline_wat_export" -> pipelineWatExport,
    "text_extract_pdf" -> textExtractPdf,
    "pipeline_pretrain_pdf" -> pipelinePretrainPdf,
    "text_url_domain_artifact" -> textUrlDomainArtifact,
    "text_langid_artifact" -> textLangidArtifact,
    "pipeline_crawl_e2e" -> pipelineCrawlE2e,
    "pipeline_warc_stream" -> pipelineWarcStream,
    "pipeline_warc_gz_stream" -> pipelineWarcGzStream,
    "pipeline_crawl_mixed" -> pipelineCrawlMixed,
    "text_charset_decode" -> textCharsetDecode,
    "text_charset_legacy" -> textCharsetLegacy,
    "text_charset_singlebyte" -> textCharsetSinglebyte,
    "text_robots_wildcards" -> textRobotsWildcards,
    "pipeline_redirect_resolve" -> pipelineRedirectResolve,
    "pipeline_frontier_store" -> pipelineFrontierStore,
    "source_warc_charset" -> sourceWarcCharset,
    "pipeline_robots_filter" -> pipelineRobotsFilter,
    "text_html_links" -> textHtmlLinks,
    "text_anchor_agg" -> textAnchorAgg,
    "text_script_profile" -> textScriptProfile,
    "pipeline_pagerank" -> pipelinePagerank,
    "pipeline_pagerank_incremental" -> pipelinePagerankIncremental,
    "pipeline_revisit_resolve" -> pipelineRevisitResolve,
    "pipeline_recrawl_conditional" -> pipelineRecrawlConditional,
    "pipeline_crawl_priority" -> pipelineCrawlPriority,
    "pipeline_recrawl_schedule" -> pipelineRecrawlSchedule,
    "pipeline_crawl_frontier" -> pipelineCrawlFrontier,
    "pipeline_frontier_stream" -> pipelineFrontierStream,
    "pipeline_discovery_e2e" -> pipelineDiscoveryE2e,
    "pipeline_polite_schedule" -> pipelinePoliteSchedule,
    "text_robots_directives" -> textRobotsDirectives,
    "text_sitemap_parse" -> textSitemapParse,
    "pipeline_tokenize" -> pipelineTokenize,
    "pipeline_batches" -> pipelineBatches,
    "agg_skew_salted" -> aggSkewSalted,
    "corpus_profile" -> corpusProfile,
    "corpus_drift" -> corpusDrift,
    "pipeline_drift_response" -> pipelineDriftResponse,
    "sim_quantized_recall" -> simQuantizedRecall,
    "source_roundtrip" -> sourceRoundtrip,
    "multimodal_features" -> multimodalFeatures,
    "multimodal_av" -> multimodalAv,
    "multimodal_pixels" -> multimodalPixels,
    "multimodal_pcm" -> multimodalPcm,
    "multimodal_mulaw" -> multimodalMulaw,
    "multimodal_alaw" -> multimodalAlaw,
    "multimodal_mp4_frames" -> multimodalMp4Frames,
    "multimodal_mp4_keyframes" -> multimodalMp4Keyframes,
    "multimodal_jpeg" -> multimodalJpeg,
    "multimodal_gif" -> multimodalGif,
    "multimodal_webp" -> multimodalWebp,
    "multimodal_tiff" -> multimodalTiff,
    "multimodal_mp3" -> multimodalMp3,
    "multimodal_aac" -> multimodalAac,
    "multimodal_webp_lossy" -> multimodalWebpLossy,
    "multimodal_fmp4" -> multimodalFmp4,
    "pipeline_multimodal" -> pipelineMultimodal,
    "text_quality_classifier" -> textQualityClassifier,
    "multimodal_resize" -> multimodalResize,
    "multimodal_frames" -> multimodalFrames)

  /** The round-1/2/3 headline set, frozen for cross-round comparability —
    * [[headline]] extends it; Bench reports this subset's subtotal as
    * `legacy_total`.
    */
  val headlineLegacy: Seq[String] = Seq(
    "idx_build_acctbal", "idx_array_words", "idx_merge_upserts",
    "idx_delete_broadcast", "idx_partition_hash", "idx_stats",
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_embedding_lsh", "sim_topk_bruteforce", "sim_ann_lsh",
    "text_quality", "text_langid", "text_tfidf_top", "multimodal_features",
    "events_windowed", "events_sessions", "view_reduce_stats",
    "sample_stratified", "pipeline_curation")

  /** Headline queries for the per-round bench at sf0.1 — representative of
    * each operator family, excluding the deliberately-O(n²) exactness
    * anchors (`dedup_embedding_exact`) whose scale path is the LSH variant.
    * Re-frozen in round 4 to cover the round-3 additions (span dedup,
    * semantic dedup, incremental near-dup, PII, decontamination, sharding,
    * the pretraining pipeline) so every operator family has a per-query
    * sf0.1 number.
    */
  val headline: Seq[String] = headlineLegacy ++ Seq(
    "dedup_substring", "dedup_span_rewrite", "dedup_span_incremental",
    "dedup_semantic", "dedup_incremental", "text_pii",
    "dedup_decontaminate", "pack_shards", "pipeline_pretrain",
    // round-4 additions (same-round, so benched from their first round)
    "sim_ann_ivf_pq", "text_normalize", "text_vocab", "sample_topquality",
    "pack_contig", "text_bpe_train", "text_bpe_encode", "text_bpe_ids",
    "pipeline_tokenize", "pipeline_batches",
    // round-5 additions
    "sample_token_budget", "sample_temperature", "text_bigram_lm",
    // round-6 additions
    "tokenize_from_artifact", "sim_ann_persisted",
    // round-7 additions
    "sim_ann_ingest", "dedup_span_rotate", "multimodal_av",
    // round-9 additions
    "multimodal_pixels", "multimodal_pcm", "sim_ann_upsert",
    "events_hopping", "multimodal_mp4_frames", "corpus_diff",
    // round-10 additions
    "sim_ann_delete", "pipeline_reprocess", "idx_build_sql",
    "sim_ann_stream_maintain", "multimodal_mp4_keyframes",
    "multimodal_jpeg", "multimodal_gif", "text_quality_classifier",
    "sample_weighted", "text_bm25_top", "sim_ann_residual",
    "events_stream_join", "text_backoff_lm", "text_bm25_indexed",
    "sample_weighted_stratified", "text_rrf_fusion",
    "text_bm25_incremental", "text_phrase_search", "text_bm25_queries",
    "events_stream_dedup", "multimodal_mulaw",
    // round-11 additions
    "ann_build_sql", "text_hybrid_search", "text_hybrid_batch",
    "sim_ann_filtered", "multimodal_alaw", "text_hybrid_filtered",
    "text_pmi_bigrams", "hybrid_search_sql", "text_bm25_stats",
    "sim_ann_stats", "dedup_semantic_incremental",
    "dedup_semantic_stream", "sim_ann_retrain", "text_hybrid_stream",
    "pipeline_ppl_buckets", "sample_streaming", "corpus_drift",
    // round-12 additions
    "idx_streaming_maintain", "idx_catchup", "text_extract_html",
    "multimodal_webp", "hybrid_batch_sql", "pipeline_multimodal",
    "pipeline_drift_response", "pipeline_pretrain_html",
    "text_url_canonicalize", "pipeline_domain_cap", "sample_epochs",
    "pipeline_crawl_stream", "dedup_url", "source_warc",
    "pipeline_robots_filter", "text_charset_decode",
    "source_warc_charset", "pipeline_gopher_rules",
    "pipeline_crawl_e2e", "pipeline_c4_filters",
    "pipeline_warc_stream",
    // round-13 additions
    "source_warc_gz", "pipeline_warc_gz_stream", "text_extract_pdf",
    "pipeline_pretrain_pdf", "text_url_domain_artifact",
    "text_langid_artifact", "pipeline_crawl_mixed",
    // round-13 second wave: the discovery tier
    "text_html_links", "pipeline_crawl_frontier",
    "pipeline_polite_schedule", "text_robots_directives",
    "text_sitemap_parse", "pipeline_discovery_e2e",
    "pipeline_frontier_stream",
    // round-14 additions
    "text_charset_legacy", "text_robots_wildcards",
    "pipeline_redirect_resolve", "pipeline_frontier_store",
    // round-14 second wave: HTTP wire codings + main-content +
    // the scanned-doc and audio-budgeting decoders + the link graph
    "source_warc_http", "text_extract_main", "multimodal_tiff",
    "multimodal_mp3", "text_anchor_agg", "pipeline_pagerank",
    "pipeline_wet_export", "pipeline_crawl_priority",
    "pipeline_pretrain_main", "text_script_profile",
    "text_charset_singlebyte", "text_extract_main_artifact",
    "pipeline_recrawl_schedule", "pipeline_wat_export",
    "multimodal_fmp4", "pipeline_wet_stream",
    // round-15 additions: the CJK char branch + the Shift_JIS e2e,
    // the maintained link-graph store, the revisit/conditional
    // recrawl channels, and the zstd archive source
    "text_extract_main_cjk", "pipeline_pretrain_sjis",
    "pipeline_pagerank_incremental", "pipeline_revisit_resolve",
    "pipeline_recrawl_conditional", "source_warc_zst",
    "text_langid_script", "pipeline_pretrain_detect",
    // round-16 additions: the non-Latin, non-CJK script tier (Thai
    // char branch, ru/ar word stoplists) + the unigram-LM tokenizer
    "text_extract_main_thai", "text_extract_main_ruar",
    "text_unigram_train", "text_unigram_encode",
    "text_unigram_artifact", "multimodal_aac",
    "multimodal_webp_lossy")


  val oracles: Map[String, String] = Map(
    "pipeline_crawl_mixed" -> crawlMixedOracle,
    "idx_build_acctbal" ->
      """SELECT c_acctbal AS key, c_custkey AS docid FROM customer
        |WHERE c_acctbal IS NOT NULL ORDER BY key, docid""".stripMargin,

    // DDL-over-SQL builds the SAME index — same oracle
    "idx_build_sql" ->
      """SELECT c_acctbal AS key, c_custkey AS docid FROM customer
        |WHERE c_acctbal IS NOT NULL ORDER BY key, docid""".stripMargin,

    "idx_build_composite_desc" ->
      """SELECT c_mktsegment AS key1, c_acctbal AS key2, c_custkey AS docid
        |FROM customer WHERE c_mktsegment IS NOT NULL OR c_acctbal IS NOT NULL
        |ORDER BY key1 ASC NULLS FIRST, key2 DESC NULLS LAST, docid""".stripMargin,

    "idx_partial_where" ->
      """SELECT c_acctbal AS key, c_custkey AS docid FROM customer
        |WHERE c_acctbal > 1000.0 AND c_acctbal IS NOT NULL
        |ORDER BY key, docid""".stripMargin,

    "idx_primary" ->
      "SELECT DISTINCT o_orderkey AS docid FROM orders ORDER BY docid",

    "idx_array_words" ->
      """SELECT key, docid FROM (
        |  SELECT unnest(string_split(lower(p_name), ' ')) AS key,
        |         p_partkey AS docid FROM part)
        |WHERE key IS NOT NULL ORDER BY key, docid""".stripMargin,

    "idx_mapfn_multiemit" ->
      """SELECT key, docid FROM (
        |  SELECT 'seg:' || c_mktsegment AS key, c_custkey AS docid FROM customer
        |  WHERE c_mktsegment IS NOT NULL
        |  UNION ALL
        |  SELECT 'bal:' || CAST(CAST(floor(c_acctbal / 100) AS BIGINT) AS VARCHAR),
        |         c_custkey FROM customer WHERE c_acctbal IS NOT NULL)
        |ORDER BY key, docid""".stripMargin,

    "sql_lateral_emit" ->
      """SELECT key, docid FROM (
        |  SELECT 'seg:' || c_mktsegment AS key, c_custkey AS docid FROM customer
        |  WHERE c_mktsegment IS NOT NULL
        |  UNION ALL
        |  SELECT 'bal:' || CAST(CAST(floor(c_acctbal / 100) AS BIGINT) AS VARCHAR),
        |         c_custkey FROM customer WHERE c_acctbal IS NOT NULL)
        |ORDER BY key, docid""".stripMargin,

    "idx_merge_upserts" -> mergeOracle("AND opcode = 'MUTATION'", ""),

    "idx_retain_deleted" -> mergeOracle("", ""),

    "idx_streaming_maintain" -> mergeOracle("AND opcode = 'MUTATION'", ""),

    "idx_catchup" -> mergeOracle("AND opcode = 'MUTATION'", ""),

    "view_reduce_stats" ->
      """SELECT c_mktsegment AS key, round(sum(c_acctbal), 4) AS vsum,
        |       count(*) AS vcount, min(c_acctbal) AS vmin,
        |       max(c_acctbal) AS vmax,
        |       round(sum(c_acctbal * c_acctbal), 2) AS sumsqr
        |FROM customer
        |WHERE c_mktsegment IS NOT NULL AND c_acctbal IS NOT NULL
        |GROUP BY 1 ORDER BY key""".stripMargin,

    "events_asof_orders" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, CAST(ts AS DATE) AS event_date
        |  FROM events),
        |ord AS (
        |  SELECT o_custkey AS user_id, o_orderdate,
        |         max(o_orderkey) AS o_orderkey,
        |         max_by(o_totalprice, o_orderkey) AS o_totalprice
        |  FROM orders GROUP BY 1, 2)
        |SELECT ev.event_id, ev.user_id, ev.event_date,
        |       ord.o_orderkey, ord.o_totalprice
        |FROM ev ASOF LEFT JOIN ord
        |  ON ev.user_id = ord.user_id AND ev.event_date >= ord.o_orderdate
        |ORDER BY event_id""".stripMargin,

    "events_range_context" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events),
        |errs AS (
        |  SELECT event_id AS err_id, user_id, sec AS err_sec
        |  FROM ev WHERE event_type = 'error'),
        |ctx AS (
        |  SELECT event_id AS ctx_id, user_id, sec AS ctx_sec FROM ev)
        |SELECT err_id, errs.user_id, ctx_id, err_sec, ctx_sec
        |FROM errs JOIN ctx USING (user_id)
        |WHERE ctx_sec <= err_sec AND ctx_sec >= err_sec - 3600
        |ORDER BY err_id, ctx_id""".stripMargin,

    "events_sessions" ->
      """WITH e AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                   > INTERVAL '30 minutes' OR
        |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM e)
        |SELECT user_id,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       count(*) AS n_events, round(sum(value), 6) AS sum_value
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,

    "events_windowed" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
        |         AS w_start,
        |       event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    // hopping windows: each event explodes to its 2 containing windows
    // (start = its half-hour bucket, minus 0 or 1 slide) — the same
    // explosion Spark's window(et, '1 hour', '30 minutes') performs
    "events_hopping" ->
      """WITH off AS (SELECT i FROM generate_series(0, 1) t(i)),
        |ev AS (
        |  SELECT time_bucket(INTERVAL '30 minutes', e.ts)
        |           - o.i * INTERVAL '30 minutes' AS w_start,
        |         e.event_type, e.value
        |  FROM events e, off o)
        |SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS w_start,
        |       event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM ev GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    "events_stream_dedup" ->
      """SELECT DISTINCT event_id, user_id, event_type FROM events
        |WHERE event_id IS NOT NULL ORDER BY event_id""".stripMargin,

    "multimodal_mulaw" -> {
      // the CCITT expand as SQL integer math, generated once for the
      // sample and once for its same-channel predecessor (index s - ch)
      def dec(sExpr: String): String = {
        val u = s"(255 - ((b.doc_id * 31 + ($sExpr) * 7) % 256))"
        val t0 = s"((($u % 16) * 8 + 132) * (1 << (($u // 16) % 8)))"
        s"(CASE WHEN $u >= 128 THEN 132 - $t0 ELSE $t0 - 132 END)"
      }
      s"""WITH mb AS (
         |  SELECT doc_id, CAST(doc_id % 3 AS INTEGER) AS kind,
         |         CAST(doc_id % 2 + 1 AS INTEGER) AS ch,
         |         CAST(8000 + doc_id % 5 * 500 AS INTEGER) AS rate,
         |         CAST((doc_id % 37 + 10) * (doc_id % 2 + 1) AS BIGINT) AS n
         |  FROM documents),
         |ser AS (SELECT s FROM generate_series(0, 99) t(s)),
         |vals AS (
         |  SELECT b.doc_id, t.s,
         |         ${dec("t.s")} AS v,
         |         CASE WHEN t.s >= b.ch THEN ${dec("t.s - b.ch")} END AS pv
         |  FROM mb b JOIN ser t ON t.s < b.n
         |  WHERE b.kind <> 2),
         |agg AS (
         |  SELECT doc_id, CAST(sum(v) AS BIGINT) AS s_sum,
         |         CAST(sum(v*v) AS BIGINT) AS s_sumsq,
         |         CAST(sum(CASE WHEN pv IS NOT NULL AND v*pv < 0
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross,
         |         CAST(max(abs(v)) AS INTEGER) AS peak
         |  FROM vals GROUP BY 1)
         |SELECT b.doc_id AS media_id,
         |  CASE WHEN b.kind <> 2 THEN b.rate END AS sample_rate,
         |  CASE WHEN b.kind <> 2 THEN b.ch END AS channels,
         |  CASE WHEN b.kind <> 2 THEN 8 END AS bits,
         |  CASE WHEN b.kind <> 2 THEN b.n END AS n_samples,
         |  a.s_sum, a.s_sumsq, a.zero_cross, a.peak
         |FROM mb b LEFT JOIN agg a USING (doc_id)
         |ORDER BY media_id""".stripMargin
    },

    "multimodal_alaw" -> {
      // the CCITT A-law expand as SQL integer math: 0x55 toggle, 3-bit
      // segment / 4-bit mantissa split, two flat low segments, MSB set
      // meaning POSITIVE (mu-law's complement convention inverted)
      def dec(sExpr: String): String = {
        val a = s"(xor((b.doc_id * 37 + ($sExpr) * 11) % 256, 85))"
        val t0 = s"(($a % 16) * 16)"
        val t = s"(CASE WHEN ($a // 16) % 8 = 0 THEN $t0 + 8" +
          s" WHEN ($a // 16) % 8 = 1 THEN $t0 + 264" +
          s" ELSE ($t0 + 264) * (1 << (($a // 16) % 8 - 1)) END)"
        s"(CASE WHEN $a >= 128 THEN $t ELSE -$t END)"
      }
      s"""WITH ab AS (
         |  SELECT doc_id, CAST(doc_id % 3 AS INTEGER) AS kind,
         |         CAST(doc_id % 2 + 1 AS INTEGER) AS ch,
         |         CAST(8000 + doc_id % 5 * 500 AS INTEGER) AS rate,
         |         CAST((doc_id % 41 + 12) * (doc_id % 2 + 1) AS BIGINT) AS n
         |  FROM documents),
         |aser AS (SELECT s FROM generate_series(0, 119) t(s)),
         |avals AS (
         |  SELECT b.doc_id, t.s,
         |         ${dec("t.s")} AS v,
         |         CASE WHEN t.s >= b.ch THEN ${dec("t.s - b.ch")} END AS pv
         |  FROM ab b JOIN aser t ON t.s < b.n
         |  WHERE b.kind <> 2),
         |aagg AS (
         |  SELECT doc_id, CAST(sum(v) AS BIGINT) AS s_sum,
         |         CAST(sum(v*v) AS BIGINT) AS s_sumsq,
         |         CAST(sum(CASE WHEN pv IS NOT NULL AND v*pv < 0
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross,
         |         CAST(max(abs(v)) AS INTEGER) AS peak
         |  FROM avals GROUP BY 1)
         |SELECT b.doc_id AS media_id,
         |  CASE WHEN b.kind <> 2 THEN b.rate END AS sample_rate,
         |  CASE WHEN b.kind <> 2 THEN b.ch END AS channels,
         |  CASE WHEN b.kind <> 2 THEN 8 END AS bits,
         |  CASE WHEN b.kind <> 2 THEN b.n END AS n_samples,
         |  a.s_sum, a.s_sumsq, a.zero_cross, a.peak
         |FROM ab b LEFT JOIN aagg a USING (doc_id)
         |ORDER BY media_id""".stripMargin
    },

    "events_stream_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, ts AS c_et
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id, ts AS p_et
        |      FROM events WHERE event_type = 'purchase')
        |SELECT c.click_id, p.purchase_id, c.user_id,
        |       date_diff('microsecond', c.c_et, p.p_et) AS gap_us
        |FROM c JOIN p ON c.user_id = p.user_id
        | AND p.p_et > c.c_et
        | AND p.p_et <= c.c_et + INTERVAL 1 HOUR
        |ORDER BY click_id, purchase_id""".stripMargin,

    "idx_scan_consistency" -> mergeOracle("AND opcode = 'MUTATION'",
      "WHERE event_id <= (SELECT CAST(floor(max(event_id) / 2) AS BIGINT) FROM events)"),

    // Scalar collation order (missing < false < true < number < string) as
    // a type-rank CASE; the per-type value columns are non-null only inside
    // their own rank group, so each group sorts by its own value semantics.
    "idx_collation_scalar" ->
      """WITH t AS (
        |  SELECT event_id,
        |         event_id % 4 AS kind,
        |         CASE WHEN event_id % 4 = 1 THEN (user_id % 2 = 0) END AS b,
        |         CASE WHEN event_id % 4 = 2 THEN value END AS n,
        |         CASE WHEN event_id % 4 = 3 THEN event_type END AS s
        |  FROM events)
        |SELECT event_id AS docid,
        |       row_number() OVER (ORDER BY
        |         CASE WHEN kind = 0 THEN 0
        |              WHEN kind = 1 THEN
        |                CASE WHEN b IS NULL THEN 0 WHEN b THEN 2 ELSE 1 END
        |              WHEN kind = 2 THEN CASE WHEN n IS NULL THEN 0 ELSE 3 END
        |              ELSE CASE WHEN s IS NULL THEN 0 ELSE 4 END END,
        |         n NULLS FIRST, s NULLS FIRST, event_id) AS pos
        |FROM t ORDER BY pos""".stripMargin,

    // fixed two-field object key: prefix-free field encodings make the
    // struct codec's byte order exactly field-wise collation, which for
    // (double, varchar) fields is a plain two-column ORDER BY (null tag
    // 0x01 sorts below every value tag -> NULLS FIRST)
    "idx_collation_object" ->
      """SELECT event_id AS docid,
        |       row_number() OVER (ORDER BY
        |         CAST(value AS DOUBLE) ASC NULLS FIRST,
        |         event_type ASC NULLS FIRST,
        |         event_id ASC) AS pos
        |FROM events ORDER BY pos""".stripMargin,

    // dynamic-map collation canonicalized: the codec's map order (entries
    // key-sorted, prefix-free key/value encodings, terminator below every
    // tag) ≡ DuckDB's native ordering of the key-sorted {k, v} STRUCT
    // list — entry-by-entry, shorter-prefix first
    "idx_collation_mixed" ->
      """WITH m AS (
        |  SELECT event_id AS docid, event_type, value,
        |    list_sort(
        |      list_transform(coalesce(json_keys(props), []), k0 ->
        |        {'k': 'p:' || k0,
        |         'v': CAST(json_extract_string(props, k0) AS DOUBLE)})
        |      || CASE WHEN user_id % 2 = 0
        |           THEN [{'k': 'u:' || CAST(user_id % 3 AS VARCHAR),
        |                  'v': CAST(user_id % 7 AS DOUBLE)}]
        |           ELSE [] END
        |      || CASE WHEN value > 50
        |           THEN [{'k': 't:' || event_type, 'v': value * 0.5}]
        |           ELSE [] END) AS entries
        |  FROM events)
        |SELECT docid, row_number() OVER (ORDER BY
        |    event_type ASC NULLS FIRST, value ASC NULLS FIRST,
        |    entries ASC, docid ASC) AS pos
        |FROM m ORDER BY pos""".stripMargin,

    // DuckDB's native list ordering (elementwise memcmp, shorter prefix
    // first) equals the array collation encoding's byte order
    "idx_collation_array" ->
      """SELECT event_id AS docid,
        |       row_number() OVER (ORDER BY string_split(event_type, 'e'),
        |                                   event_id) AS pos
        |FROM events ORDER BY pos""".stripMargin,

    "idx_collation_desc_order" ->
      """SELECT event_id AS docid,
        |       row_number() OVER (ORDER BY event_type ASC NULLS FIRST,
        |                                   value DESC NULLS LAST,
        |                                   event_id ASC) AS pos
        |FROM events ORDER BY pos""".stripMargin,

    "idx_delete_broadcast" ->
      """SELECT c_acctbal AS key, c_custkey AS docid FROM customer c
        |WHERE c_acctbal IS NOT NULL AND NOT EXISTS (
        |  SELECT 1 FROM events e
        |  WHERE e.event_type = 'error' AND e.user_id = c.c_custkey)
        |ORDER BY key, docid""".stripMargin,

    "idx_partition_hash" ->
      """SELECT o_orderkey % 8 AS part_id, o_totalprice AS key,
        |       o_orderkey AS docid
        |FROM orders WHERE o_totalprice IS NOT NULL
        |ORDER BY part_id, key, docid""".stripMargin,

    "idx_partition_range" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS part_month,
        |       o_orderdate AS key, o_orderkey AS docid
        |FROM orders WHERE o_orderdate IS NOT NULL
        |ORDER BY part_month, key, docid""".stripMargin,

    "idx_stats" ->
      """SELECT count(*) AS cnt, min(c_acctbal) AS min_key,
        |       max(c_acctbal) AS max_key,
        |       count(DISTINCT c_acctbal) AS distinct_cnt
        |FROM customer WHERE c_acctbal IS NOT NULL""".stripMargin,

    "idx_stats_bins" ->
      """SELECT CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bin,
        |       count(*) AS cnt
        |FROM customer WHERE c_acctbal IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "idx_scan_range" ->
      """SELECT c_acctbal AS key, c_custkey AS docid FROM customer
        |WHERE c_acctbal >= 0.0 AND c_acctbal < 5000.0
        |ORDER BY key, docid""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_hash,
        |       min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "dedup_jaccard_pairs" ->
      s"""WITH s AS (
         |  SELECT source, doc_id AS id, list_distinct($normToks) AS toks
         |  FROM documents)
         |SELECT id_a, id_b, jaccard FROM (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |         CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
         |         (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
         |           AS jaccard
         |  FROM s a JOIN s b ON a.source = b.source AND a.id < b.id)
         |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE s AS (
         |  SELECT source, doc_id AS id, list_distinct($normToks) AS toks
         |  FROM documents),
         |p AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.id AS id_a, b.id AS id_b,
         |           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
         |           (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
         |             AS j
         |    FROM s a JOIN s b ON a.source = b.source AND a.id < b.id)
         |  WHERE j >= 0.5),
         |e AS (SELECT id_a AS src, id_b AS dst FROM p
         |      UNION ALL SELECT id_b, id_a FROM p),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id)
         |SELECT id AS doc_id, min(r) AS cluster, (min(r) = id) AS keep
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH s AS (
         |  SELECT source, doc_id AS id, ${duckShingles(3)} AS toks
         |  FROM documents)
         |SELECT id_a, id_b, jaccard FROM (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |         CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
         |         (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
         |           AS jaccard
         |  FROM s a JOIN s b ON a.source = b.source AND a.id < b.id)
         |WHERE jaccard >= 0.3 ORDER BY id_a, id_b""".stripMargin,

    "idx_persist_scan" ->
      """SELECT c_acctbal AS key, c_custkey AS docid FROM customer
        |WHERE c_acctbal >= 0.0 AND c_acctbal < 5000.0
        |ORDER BY key, docid""".stripMargin,

    "dedup_minhash_lsh" -> {
      val fam = graft.functions.MinHashFamily
      val sigEntries = (0 until 64).map { k =>
        s"list_min(list_transform(hs, h -> (${fam.A(k)} * h + ${fam.B(k)}) % ${fam.Mod}))"
      }.mkString(",\n         ")
      s"""WITH sh AS (
         |  SELECT doc_id, ${duckShingles(3)} AS shs FROM documents),
         |h AS (
         |  SELECT doc_id, list_distinct(list_transform(shs, s ->
         |    CAST(('0x' || substring(md5(s), 1, 8)) AS BIGINT) & 1073741823)) AS hs
         |  FROM sh WHERE len(shs) > 0),
         |sig AS (
         |  SELECT doc_id, [$sigEntries] AS sig FROM h),
         |bk AS (
         |  SELECT doc_id, b.range AS band,
         |         array_to_string(list_slice(sig, b.range * 4 + 1, b.range * 4 + 4),
         |                         ',') AS bucket
         |  FROM sig CROSS JOIN range(0, 16) b),
         |sized AS (
         |  SELECT doc_id, band, bucket,
         |         count(*) OVER (PARTITION BY band, bucket) AS n
         |  FROM bk),
         |ok AS (SELECT * FROM sized WHERE n BETWEEN 2 AND 64),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM ok a JOIN ok b USING (band, bucket)
         |  WHERE a.doc_id < b.doc_id),
         |verified AS (
         |  SELECT c.id_a, c.id_b,
         |         CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE) /
         |         (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)))
         |           AS jaccard
         |  FROM cand c JOIN h ha ON ha.doc_id = c.id_a
         |              JOIN h hb ON hb.doc_id = c.id_b)
         |SELECT id_a, id_b, jaccard FROM verified
         |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin
    },

    "dedup_incremental" -> {
      val fam = graft.functions.MinHashFamily
      val sigEntries = (0 until 64).map { k =>
        s"list_min(list_transform(hs, h -> (${fam.A(k)} * h + ${fam.B(k)}) % ${fam.Mod}))"
      }.mkString(",\n         ")
      s"""WITH sh AS (
         |  SELECT doc_id, ${duckShingles(3)} AS shs FROM documents),
         |h AS (
         |  SELECT doc_id, list_distinct(list_transform(shs, s ->
         |    CAST(('0x' || substring(md5(s), 1, 8)) AS BIGINT) & 1073741823)) AS hs
         |  FROM sh WHERE len(shs) > 0),
         |sig AS (
         |  SELECT doc_id, [$sigEntries] AS sig FROM h),
         |bk AS (
         |  SELECT doc_id, b.range AS band,
         |         array_to_string(list_slice(sig, b.range * 4 + 1, b.range * 4 + 4),
         |                         ',') AS bucket
         |  FROM sig CROSS JOIN range(0, 16) b),
         |bkC AS (SELECT * FROM bk WHERE doc_id % 10 <> 7),
         |bkB AS (SELECT * FROM bk WHERE doc_id % 10 = 7),
         |sizedC AS (
         |  SELECT doc_id, band, bucket,
         |         count(*) OVER (PARTITION BY band, bucket) AS n
         |  FROM bkC),
         |okC AS (SELECT * FROM sizedC WHERE n <= 64),
         |cand AS (
         |  SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS dup_of
         |  FROM bkB b JOIN okC c USING (band, bucket)),
         |verified AS (
         |  SELECT cand.new_id, cand.dup_of,
         |         CAST(len(list_intersect(hb.hs, hc.hs)) AS DOUBLE) /
         |         (len(hb.hs) + len(hc.hs) - len(list_intersect(hb.hs, hc.hs)))
         |           AS jaccard
         |  FROM cand JOIN h hb ON hb.doc_id = cand.new_id
         |            JOIN h hc ON hc.doc_id = cand.dup_of)
         |SELECT new_id, dup_of, jaccard FROM verified
         |WHERE jaccard >= 0.5 ORDER BY new_id, dup_of""".stripMargin
    },

    "dedup_streaming" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_hash,
        |       min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // the growing-store streaming probe, replayed one-shot: store =
    // guarded corpus buckets + ALL ingest buckets (append-before-probe),
    // candidates = ingest buckets × store, pairs canonical (id_a < id_b)
    "dedup_streaming_neardup" -> {
      val fam = graft.functions.MinHashFamily
      val sigEntries = (0 until 64).map { k =>
        s"list_min(list_transform(hs, h -> (${fam.A(k)} * h + ${fam.B(k)}) % ${fam.Mod}))"
      }.mkString(",\n         ")
      s"""WITH sh AS (
         |  SELECT doc_id, ${duckShingles(3)} AS shs FROM documents),
         |h AS (
         |  SELECT doc_id, list_distinct(list_transform(shs, s ->
         |    CAST(('0x' || substring(md5(s), 1, 8)) AS BIGINT) & 1073741823)) AS hs
         |  FROM sh WHERE len(shs) > 0),
         |sig AS (
         |  SELECT doc_id, [$sigEntries] AS sig FROM h),
         |bk AS (
         |  SELECT doc_id, b.range AS band,
         |         array_to_string(list_slice(sig, b.range * 4 + 1, b.range * 4 + 4),
         |                         ',') AS bucket
         |  FROM sig CROSS JOIN range(0, 16) b),
         |bkC AS (SELECT * FROM bk WHERE doc_id % 10 <> 7),
         |bkB AS (SELECT * FROM bk WHERE doc_id % 10 = 7),
         |sizedC AS (
         |  SELECT doc_id, band, bucket,
         |         count(*) OVER (PARTITION BY band, bucket) AS n
         |  FROM bkC),
         |okC AS (SELECT doc_id, band, bucket FROM sizedC WHERE n <= 64),
         |store0 AS (SELECT * FROM okC UNION ALL SELECT * FROM bkB),
         |sizedS AS (
         |  SELECT doc_id, band, bucket,
         |         count(*) OVER (PARTITION BY band, bucket) AS n
         |  FROM store0),
         |store AS (SELECT doc_id, band, bucket FROM sizedS WHERE n <= 64),
         |cand AS (
         |  SELECT DISTINCT least(b.doc_id, s.doc_id) AS id_a,
         |         greatest(b.doc_id, s.doc_id) AS id_b
         |  FROM bkB b JOIN store s USING (band, bucket)
         |  WHERE b.doc_id <> s.doc_id),
         |verified AS (
         |  SELECT cand.id_a, cand.id_b,
         |         CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE) /
         |         (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs)))
         |           AS jaccard
         |  FROM cand JOIN h ha ON ha.doc_id = cand.id_a
         |            JOIN h hb ON hb.doc_id = cand.id_b)
         |SELECT id_a, id_b, jaccard FROM verified
         |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin
    },

    "idx_zorder" -> {
      val z = ZOrder.oracleSql(21, Seq("o_custkey",
        "date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))"))
      s"""SELECT o_orderkey AS docid, CAST($z AS BIGINT) AS zval
         |FROM orders
         |WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
         |ORDER BY zval, docid""".stripMargin
    },

    "sql_shingle_stats" ->
      s"""SELECT doc_id, CAST(len(${duckShingles(3)}) AS BIGINT) AS n_shingles
         |FROM documents ORDER BY doc_id""".stripMargin,

    "idx_lsh_buckets" -> {
      val planes = Similarity.hyperplanes(dim = 64, tables = 16, bits = 5)
      val perTable = planes.zipWithIndex.map { case (tablePlanes, t) =>
        val bucket = tablePlanes.zipWithIndex.map { case (p, b) =>
          s"(CASE WHEN list_dot_product(v, [${p.mkString(", ")}]) >= 0 " +
            s"THEN ${1L << b} ELSE 0 END)"
        }.mkString(" + ")
        s"SELECT CAST(${t * 32} + ($bucket) AS BIGINT) AS key, vec_id AS docid FROM e"
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT key, docid FROM (
         |  $perTable)
         |ORDER BY key, docid""".stripMargin
    },

    "dedup_embedding_lsh" -> {
      // the same deterministic plane tensor the Spark query uses, inlined
      // as literals (16 tables × 5 bits × 64 dims)
      val planes = Similarity.hyperplanes(dim = 64, tables = 16, bits = 5)
      val perTable = planes.zipWithIndex.map { case (tablePlanes, t) =>
        val bucket = tablePlanes.zipWithIndex.map { case (p, b) =>
          s"(CASE WHEN list_dot_product(v, [${p.mkString(", ")}]) >= 0 " +
            s"THEN ${1L << b} ELSE 0 END)"
        }.mkString(" + ")
        s"SELECT vec_id, v, $t AS t, $bucket AS bkt FROM e"
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |bk AS (
         |  $perTable),
         |p AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bk a JOIN bk b ON a.t = b.t AND a.bkt = b.bkt
         |                      AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, sim FROM (
         |  SELECT p.id_a, p.id_b,
         |         list_dot_product(ea.v, eb.v) /
         |         (sqrt(list_dot_product(ea.v, ea.v)) *
         |          sqrt(list_dot_product(eb.v, eb.v))) AS sim
         |  FROM p JOIN e ea ON ea.vec_id = p.id_a
         |         JOIN e eb ON eb.vec_id = p.id_b)
         |WHERE sim >= 0.4 ORDER BY id_a, id_b""".stripMargin
    },

    "dedup_embedding_exact" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)
        |SELECT id_a, id_b, sim FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         list_dot_product(a.vec, b.vec) /
        |         (sqrt(list_dot_product(a.vec, a.vec)) *
        |          sqrt(list_dot_product(b.vec, b.vec))) AS sim
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |WHERE sim >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    "sim_topk_bruteforce" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
        |           FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        |scored AS (
        |  SELECT q.q_id, c.vec_id AS neighbor_id,
        |         list_dot_product(c.vec, q.q_vec) /
        |         (sqrt(list_dot_product(c.vec, c.vec)) *
        |          sqrt(list_dot_product(q.q_vec, q.q_vec))) AS sim
        |  FROM c CROSS JOIN q WHERE c.vec_id <> q.q_id),
        |ranked AS (
        |  SELECT q_id, neighbor_id, sim,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT q_id, neighbor_id, round(sim, 6) AS sim, rank
        |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "text_tokens" ->
      s"""SELECT doc_id,
         |       len($normToks) AS n_tokens,
         |       CAST(list_sum(list_transform($normToks,
         |         t -> greatest(1, CAST(ceil(length(t) / 4.0) AS BIGINT))))
         |         AS BIGINT) AS n_subwords
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_quality" -> {
      val stop = TextOps.stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, text, $normToks AS toks FROM documents),
         |f AS (
         |  SELECT doc_id,
         |         len(toks) AS n_tokens,
         |         length(text) AS n_chars,
         |         CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
         |           / len(toks) AS avg_token_len,
         |         CAST(len(list_filter(toks, t -> t IN ($stop))) AS DOUBLE)
         |           / len(toks) AS stopword_ratio,
         |         CAST(len(list_distinct(toks)) AS DOUBLE)
         |           / len(toks) AS distinct_ratio
         |  FROM t)
         |SELECT doc_id, n_tokens, n_chars, avg_token_len, stopword_ratio,
         |       distinct_ratio,
         |       round((least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)
         |              + distinct_ratio
         |              + (1.0 - abs(stopword_ratio - 0.4))) / 3.0, 6) AS quality
         |FROM f ORDER BY doc_id""".stripMargin
    },

    "text_langid" -> {
      val conds = TextOps.langProfiles.map { case (lang, markers) =>
        val set = markers.map(w => s"'$w'").mkString(", ")
        (lang, s"len(list_filter(toks, t -> t IN ($set)))")
      }
      val scores = conds.map { case (l, e) => s"$e AS s_$l" }.mkString(", ")
      val langs = conds.map(_._1)
      val cases = langs.init.map { l =>
        val geAll = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
        s"WHEN $geAll THEN '$l'"
      }.mkString(" ")
      s"""WITH t AS (SELECT doc_id, $normToks AS toks FROM documents),
         |s AS (SELECT doc_id, $scores FROM t)
         |SELECT doc_id, CASE $cases ELSE '${langs.last}' END AS lang_pred
         |FROM s ORDER BY doc_id""".stripMargin
    },

    // script routing replayed whole: the reconstructed mixed page,
    // the same regexp-class length deltas, the integer dominance
    // ladder (hangul -> CJK with the 5% kana split -> thai ->
    // cyrillic -> arabic -> word fallback), and the word-marker
    // scorer over the page's tokens
    "text_langid_script" -> {
      import CjkMainFixture.{zhHi, jaHi, koHi}
      import ScriptMainFixture.{thHi, ruHi, arHi, hiHi}
      val conds = TextOps.langProfiles.map { case (lang, markers) =>
        val set = markers.map(w => s"'$w'").mkString(", ")
        (lang, s"len(list_filter(toks, t -> t IN ($set)))")
      }
      val scores = conds.map { case (l, e) => s"$e AS s_$l" }.mkString(", ")
      val langs = conds.map(_._1)
      val cases = langs.init.map { l =>
        val geAll = langs.filter(_ != l).map(o => s"s_$l >= s_$o")
          .mkString(" AND ")
        s"WHEN $geAll THEN '$l'"
      }.mkString(" ")
      val tToks = normToks.replace("trim(text)", "trim(t)")
      s"""WITH b AS (SELECT doc_id,
         |  repeat(CASE doc_id % 8 WHEN 0 THEN ''
         |    WHEN 1 THEN '$zhHi'
         |    WHEN 2 THEN '$jaHi'
         |    WHEN 3 THEN '$koHi'
         |    WHEN 4 THEN '$thHi'
         |    WHEN 5 THEN '$ruHi'
         |    WHEN 6 THEN '$arHi'
         |    ELSE '$hiHi' END,
         |    CAST(doc_id % 3 + 1 AS INTEGER)) || ' ' || text AS t
         |  FROM documents),
         |c AS (SELECT doc_id, t,
         |  CAST(length(t) - length(regexp_replace(t, '[一-鿿]', '',
         |    'g')) AS BIGINT) AS n_han,
         |  CAST(length(t) - length(regexp_replace(t, '[぀-ヿ]', '',
         |    'g')) AS BIGINT) AS n_kana,
         |  CAST(length(t) - length(regexp_replace(t, '[가-힣]', '',
         |    'g')) AS BIGINT) AS n_hangul,
         |  CAST(length(t) - length(regexp_replace(t, '[฀-๿]', '',
         |    'g')) AS BIGINT) AS n_thai,
         |  CAST(length(t) - length(regexp_replace(t, '[ऀ-ॿ]', '',
         |    'g')) AS BIGINT) AS n_devanagari,
         |  CAST(length(t) - length(regexp_replace(t, '[Ѐ-ӿ]', '',
         |    'g')) AS BIGINT) AS n_cyrillic,
         |  CAST(length(t) - length(regexp_replace(t, '[؀-ۿ]', '',
         |    'g')) AS BIGINT) AS n_arabic,
         |  CAST(length(regexp_replace(t, '\\s+', '', 'g')) AS BIGINT)
         |    AS n_nonws
         |  FROM b),
         |w AS (SELECT doc_id, $scores
         |  FROM (SELECT doc_id, $tToks AS toks FROM b))
         |SELECT c.doc_id, c.n_han, c.n_kana, c.n_hangul, c.n_thai,
         |  c.n_devanagari, c.n_cyrillic, c.n_arabic, c.n_nonws,
         |  CASE WHEN 4 * c.n_hangul >= c.n_nonws THEN 'ko'
         |    WHEN 4 * (c.n_han + c.n_kana) >= c.n_nonws THEN
         |      CASE WHEN 20 * c.n_kana >= c.n_han + c.n_kana
         |        THEN 'ja' ELSE 'zh' END
         |    WHEN 4 * c.n_thai >= c.n_nonws THEN 'th'
         |    WHEN 4 * c.n_devanagari >= c.n_nonws THEN 'hi'
         |    WHEN 4 * c.n_cyrillic >= c.n_nonws THEN 'ru'
         |    WHEN 4 * c.n_arabic >= c.n_nonws THEN 'ar'
         |    ELSE CASE $cases ELSE '${langs.last}' END END AS lang
         |FROM c JOIN w ON c.doc_id = w.doc_id
         |ORDER BY c.doc_id""".stripMargin
    },

    "text_tfidf_top" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($normToks) AS term FROM documents),
         |per_doc AS (
         |  SELECT doc_id, term, count(*) AS n FROM toks GROUP BY 1, 2),
         |doc_len AS (SELECT doc_id, sum(n) AS len FROM per_doc GROUP BY 1),
         |dfreq AS (SELECT term, count(*) AS df FROM per_doc GROUP BY 1),
         |n_docs AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
         |scored AS (
         |  SELECT p.doc_id, p.term,
         |         (CAST(p.n AS DOUBLE) / l.len) * ln(nd.n / d.df) AS tfidf
         |  FROM per_doc p JOIN doc_len l USING (doc_id)
         |       JOIN dfreq d USING (term) CROSS JOIN n_docs nd),
         |ranked AS (
         |  SELECT doc_id, term, tfidf,
         |         row_number() OVER (PARTITION BY doc_id
         |           ORDER BY tfidf DESC, term) AS rank
         |  FROM scored)
         |SELECT doc_id, rank, term, round(tfidf, 6) AS tfidf
         |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "text_bm25_top" -> bm25OracleSql,
    // the indexed probe must reproduce the full-scan scorer's rows —
    // one oracle, two execution strategies
    "text_bm25_indexed" -> bm25OracleSql,
    // ...and three: the maintained store's resolved end state IS the
    // documents table (stale docs upserted, junk tombstoned), so the
    // same oracle pins upsert/tombstone/cross-batch-stats resolution
    "text_bm25_incremental" -> bm25OracleSql,

    "text_phrase_search" ->
      s"""WITH t AS (SELECT doc_id, $normToks AS toks FROM documents)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches
         |FROM t, unnest(range(1, len(toks))) AS r(i)
         |WHERE toks[i] = 'key' AND toks[i + 1] = 'order'
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_bm25_queries" -> bm25BatchOracleSql(5),

    "text_rrf_fusion" -> {
      val bmSub = bm25OracleSql(20)
      s"""WITH bm AS (SELECT doc_id, rk FROM ($bmSub)),
         |t AS (SELECT doc_id, $normToks AS toks FROM documents),
         |f AS (SELECT doc_id,
         |        len(toks) AS n_tokens,
         |        CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'an',
         |          'and', 'of', 'to', 'in', 'is', 'on', 'for'))) AS DOUBLE)
         |          / len(toks) AS stopword_ratio,
         |        CAST(len(list_distinct(toks)) AS DOUBLE)
         |          / len(toks) AS distinct_ratio
         |      FROM t),
         |q AS (SELECT doc_id,
         |        CAST(round(round((least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)
         |              + distinct_ratio
         |              + (1.0 - abs(stopword_ratio - 0.4))) / 3.0, 6) * 1e6)
         |          AS BIGINT) AS qi
         |      FROM f),
         |ql AS (SELECT doc_id, rk FROM (
         |         SELECT doc_id,
         |           CAST(row_number() OVER (ORDER BY qi DESC, doc_id)
         |             AS INTEGER) AS rk
         |         FROM q)
         |       WHERE rk <= 20),
         |fu AS (SELECT COALESCE(bm.doc_id, ql.doc_id) AS doc_id,
         |         CAST(round((
         |           (CASE WHEN bm.rk IS NOT NULL
         |              THEN 1.0 / (60 + bm.rk) ELSE 0.0 END)
         |           + (CASE WHEN ql.rk IS NOT NULL
         |              THEN 1.0 / (60 + ql.rk) ELSE 0.0 END))
         |           * 1000000000.0) AS BIGINT) AS rrf_nano
         |       FROM bm FULL JOIN ql ON bm.doc_id = ql.doc_id),
         |r2 AS (SELECT doc_id, rrf_nano,
         |         CAST(row_number() OVER (ORDER BY rrf_nano DESC, doc_id)
         |           AS INTEGER) AS rk
         |       FROM fu)
         |SELECT doc_id, rrf_nano, rk FROM r2 WHERE rk <= 10
         |ORDER BY doc_id""".stripMargin
    },


    // hybrid = BM25 replay (top-20) x exact cosine top-20 from doc 3's
    // embedding (the parity configuration makes the ANN probe provably
    // exact) x the rrfFuse replay (same integer nano-rounding, bm leg
    // first in the fixed a+b order)
    "text_hybrid_search" -> {
      val bmSub = bm25OracleSql(20)
      s"""WITH bm AS (SELECT doc_id, rk FROM ($bmSub)),
         |q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
         |      FROM embeddings WHERE vec_id = 3),
         |c AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
         |scored AS (
         |  SELECT c.vec_id AS doc_id,
         |         list_dot_product(c.vec, q.q_vec) /
         |         (sqrt(list_dot_product(c.vec, c.vec)) *
         |          sqrt(list_dot_product(q.q_vec, q.q_vec))) AS sim
         |  FROM c CROSS JOIN q WHERE c.vec_id <> q.q_id),
         |an AS (SELECT doc_id, rk FROM (
         |         SELECT doc_id,
         |           CAST(row_number() OVER (ORDER BY sim DESC, doc_id)
         |             AS INTEGER) AS rk
         |         FROM scored)
         |       WHERE rk <= 20),
         |fu AS (SELECT COALESCE(bm.doc_id, an.doc_id) AS doc_id,
         |         CAST(round((
         |           (CASE WHEN bm.rk IS NOT NULL
         |              THEN 1.0 / (60 + bm.rk) ELSE 0.0 END)
         |           + (CASE WHEN an.rk IS NOT NULL
         |              THEN 1.0 / (60 + an.rk) ELSE 0.0 END))
         |           * 1000000000.0) AS BIGINT) AS rrf_nano
         |       FROM bm FULL JOIN an ON bm.doc_id = an.doc_id),
         |r2 AS (SELECT doc_id, rrf_nano,
         |         CAST(row_number() OVER (ORDER BY rrf_nano DESC, doc_id)
         |           AS INTEGER) AS rk
         |       FROM fu)
         |SELECT doc_id, rrf_nano, rk FROM r2 WHERE rk <= 10
         |ORDER BY doc_id""".stripMargin
    },

    // filtered hybrid = BM25 replay with corpus-wide stats RANKED among
    // allowed ids x exact cosine over the allowed subset x RRF replay
    "text_hybrid_filtered" -> {
      val bmSub = bm25OracleSql(20, "WHERE doc_id % 3 <> 0")
      s"""WITH bm AS (SELECT doc_id, rk FROM ($bmSub)),
         |q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
         |      FROM embeddings WHERE vec_id = 3),
         |c AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
         |      WHERE vec_id % 3 <> 0),
         |scored AS (
         |  SELECT c.vec_id AS doc_id,
         |         list_dot_product(c.vec, q.q_vec) /
         |         (sqrt(list_dot_product(c.vec, c.vec)) *
         |          sqrt(list_dot_product(q.q_vec, q.q_vec))) AS sim
         |  FROM c CROSS JOIN q WHERE c.vec_id <> q.q_id),
         |an AS (SELECT doc_id, rk FROM (
         |         SELECT doc_id,
         |           CAST(row_number() OVER (ORDER BY sim DESC, doc_id)
         |             AS INTEGER) AS rk
         |         FROM scored)
         |       WHERE rk <= 20),
         |fu AS (SELECT COALESCE(bm.doc_id, an.doc_id) AS doc_id,
         |         CAST(round((
         |           (CASE WHEN bm.rk IS NOT NULL
         |              THEN 1.0 / (60 + bm.rk) ELSE 0.0 END)
         |           + (CASE WHEN an.rk IS NOT NULL
         |              THEN 1.0 / (60 + an.rk) ELSE 0.0 END))
         |           * 1000000000.0) AS BIGINT) AS rrf_nano
         |       FROM bm FULL JOIN an ON bm.doc_id = an.doc_id),
         |r2 AS (SELECT doc_id, rrf_nano,
         |         CAST(row_number() OVER (ORDER BY rrf_nano DESC, doc_id)
         |           AS INTEGER) AS rk
         |       FROM fu)
         |SELECT doc_id, rrf_nano, rk FROM r2 WHERE rk <= 10
         |ORDER BY doc_id""".stripMargin
    },

    // SQL-wire hybrid: same replay as text_hybrid_search but the
    // anonymous wire query (q_id = -1) self-excludes nothing
    "hybrid_search_sql" -> {
      val bmSub = bm25OracleSql(20)
      s"""WITH bm AS (SELECT doc_id, rk FROM ($bmSub)),
         |q AS (SELECT embedding::DOUBLE[] AS q_vec
         |      FROM embeddings WHERE vec_id = 3),
         |c AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
         |scored AS (
         |  SELECT c.vec_id AS doc_id,
         |         list_dot_product(c.vec, q.q_vec) /
         |         (sqrt(list_dot_product(c.vec, c.vec)) *
         |          sqrt(list_dot_product(q.q_vec, q.q_vec))) AS sim
         |  FROM c CROSS JOIN q),
         |an AS (SELECT doc_id, rk FROM (
         |         SELECT doc_id,
         |           CAST(row_number() OVER (ORDER BY sim DESC, doc_id)
         |             AS INTEGER) AS rk
         |         FROM scored)
         |       WHERE rk <= 20),
         |fu AS (SELECT COALESCE(bm.doc_id, an.doc_id) AS doc_id,
         |         CAST(round((
         |           (CASE WHEN bm.rk IS NOT NULL
         |              THEN 1.0 / (60 + bm.rk) ELSE 0.0 END)
         |           + (CASE WHEN an.rk IS NOT NULL
         |              THEN 1.0 / (60 + an.rk) ELSE 0.0 END))
         |           * 1000000000.0) AS BIGINT) AS rrf_nano
         |       FROM bm FULL JOIN an ON bm.doc_id = an.doc_id),
         |r2 AS (SELECT doc_id, rrf_nano,
         |         CAST(row_number() OVER (ORDER BY rrf_nano DESC, doc_id)
         |           AS INTEGER) AS rk
         |       FROM fu)
         |SELECT doc_id, rrf_nano, rk FROM r2 WHERE rk <= 10
         |ORDER BY doc_id""".stripMargin
    },

    // batched hybrid = batched BM25 replay (top-10 per query) x exact
    // cosine top-10 per query (q_vec = embedding of vec_id = q_id, self
    // excluded) x per-query RRF replay. The STREAMING form shares this
    // oracle verbatim: the stores are read-only to the stream, so the
    // micro-batch split is a delivery detail and streamed ≡ batched.
    "text_hybrid_batch" -> hybridBatchOracle,
    "text_hybrid_stream" -> hybridBatchOracle,
    // the SQL-wire batched form, tenant-scoped: the same replay with
    // both legs restricted to the allowed ids (vec_id % 3 != 0) under
    // pre-filter semantics (stats corpus-wide, rank among allowed)
    "hybrid_batch_sql" -> hybridBatchOracleSql(Some("% 3 <> 0")),

    "text_repetition" ->
      s"""WITH f AS (
         |  SELECT doc_id, len($normToks) AS n,
         |         list_max(list_transform(list_distinct($normToks),
         |           t -> len(list_filter($normToks, x -> x = t)))) AS top_cnt,
         |         len(${duckShingles(2)}) AS d2,
         |         greatest(len($normToks) - 1, 0) AS t2
         |  FROM documents)
         |SELECT doc_id,
         |       round(CAST(top_cnt AS DOUBLE) / n, 6) AS top_token_ratio,
         |       round(CASE WHEN t2 = 0 THEN 0.0
         |                  ELSE 1.0 - CAST(d2 AS DOUBLE) / t2 END, 6)
         |         AS dup_bigram_ratio
         |FROM f ORDER BY doc_id""".stripMargin,

    // every Gopher rule replayed over the reconstructed fixture:
    // non-ASCII via chr() (bullet 8226, ellipsis 8230); thresholds
    // applied to the ROUNDED signals exactly as the query does
    "pipeline_gopher_rules" -> {
      val flood = (101 to 132).mkString(" ", " ", "")
      val shortWords = Seq.fill(60)("ok").mkString(" ")
      s"""WITH g AS (SELECT doc_id,
         |  (CASE WHEN doc_id % 29 = 0 THEN chr(8226) || ' one' ||
         |          chr(10) || chr(8226) || ' two'
         |        WHEN doc_id % 19 = 0 THEN '$shortWords'
         |        WHEN doc_id % 17 = 0 THEN 'tiny doc only'
         |        ELSE text END ||
         |   CASE WHEN doc_id % 3 <> 0 THEN ' with that and of'
         |        ELSE '' END ||
         |   CASE WHEN doc_id % 13 = 0 THEN '$flood' ELSE '' END ||
         |   CASE WHEN doc_id % 4 = 0 THEN chr(10) || chr(8226) ||
         |        ' planted bullet ' || doc_id ELSE '' END ||
         |   CASE WHEN doc_id % 5 = 0 THEN chr(10) ||
         |        'trailing thought ' || doc_id || chr(8230) ||
         |        chr(10) || 'second trailing' || chr(8230)
         |        ELSE '' END ||
         |   CASE WHEN doc_id % 6 = 0 THEN chr(10) || '#### tags ## '
         |        || doc_id ELSE '' END) AS t FROM documents),
         |w AS (SELECT doc_id, t,
         |  list_filter(string_split_regex(t, '\\s+'),
         |    x -> len(x) > 0) AS words,
         |  string_split(t, chr(10)) AS lines FROM g),
         |sig AS (SELECT doc_id,
         |  CAST(len(words) AS BIGINT) AS n_words,
         |  round(CAST(list_sum(list_transform(words, x -> len(x)))
         |    AS DOUBLE) / len(words), 6) AS mean_word_len,
         |  round(CAST(length(t) - length(replace(replace(t, '#', ''),
         |    chr(8230), '')) AS DOUBLE) / len(words), 6) AS symbol_ratio,
         |  round(CAST(len(list_filter(lines,
         |    l -> starts_with(l, chr(8226)))) AS DOUBLE) / len(lines), 6)
         |    AS bullet_frac,
         |  round(CAST(len(list_filter(lines,
         |    l -> ends_with(l, chr(8230)) OR ends_with(l, '...')))
         |    AS DOUBLE) / len(lines), 6) AS ellipsis_frac,
         |  round(CAST(len(list_filter(words,
         |    x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
         |    / len(words), 6) AS alpha_frac,
         |  CAST(len(list_intersect(list_distinct(words),
         |    ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']))
         |    AS BIGINT) AS n_stop FROM w),
         |r AS (SELECT *,
         |  CAST((CASE WHEN n_words < 50 OR n_words > 100000
         |          THEN 1 ELSE 0 END +
         |    CASE WHEN mean_word_len < 3.0 OR mean_word_len > 10.0
         |          THEN 2 ELSE 0 END +
         |    CASE WHEN symbol_ratio > 0.1 THEN 4 ELSE 0 END +
         |    CASE WHEN bullet_frac > 0.9 THEN 8 ELSE 0 END +
         |    CASE WHEN ellipsis_frac > 0.3 THEN 16 ELSE 0 END +
         |    CASE WHEN alpha_frac < 0.8 THEN 32 ELSE 0 END +
         |    CASE WHEN n_stop < 2 THEN 64 ELSE 0 END) AS INTEGER)
         |    AS rules FROM sig)
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio,
         |  bullet_frac, ellipsis_frac, alpha_frac, n_stop, rules,
         |  rules = 0 AS keep
         |FROM r ORDER BY doc_id""".stripMargin
    },

    // the C4 line rewrite + page verdict replayed byte-for-byte:
    // same line split, same retention predicate, same terminal-
    // punctuation sentence count over the REJOINED kept text
    "pipeline_c4_filters" ->
      """WITH g AS (SELECT doc_id,
        |  ('First planted sentence ' || doc_id || '.' || chr(10) ||
        |   text ||
        |   CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END ||
        |   CASE WHEN doc_id % 7 = 0 THEN chr(10) ||
        |     'This page uses javascript heavily.' ELSE '' END ||
        |   CASE WHEN doc_id % 11 = 0 THEN chr(10) ||
        |     'Lorem ipsum dolor sit amet.' ELSE '' END ||
        |   CASE WHEN doc_id % 13 = 0 THEN chr(10) ||
        |     'var code = { sample };' ELSE '' END ||
        |   CASE WHEN doc_id % 3 = 0 THEN chr(10) ||
        |     'Second one. Third one. Fourth one. Fifth one.'
        |     ELSE '' END) AS t FROM documents),
        |w AS (SELECT doc_id, t, string_split(t, chr(10)) AS lines
        |      FROM g),
        |k AS (SELECT doc_id, t, lines,
        |  array_to_string(list_filter(lines, l ->
        |    (ends_with(l, '.') OR ends_with(l, '!') OR
        |     ends_with(l, '?') OR ends_with(l, '"')) AND
        |    NOT contains(lower(l), 'javascript')), chr(10)) AS kept,
        |  len(list_filter(lines, l ->
        |    (ends_with(l, '.') OR ends_with(l, '!') OR
        |     ends_with(l, '?') OR ends_with(l, '"')) AND
        |    NOT contains(lower(l), 'javascript'))) AS nk FROM w),
        |x AS (SELECT doc_id,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(nk AS BIGINT) AS n_lines_kept,
        |  CAST(length(kept) - length(replace(replace(replace(kept,
        |    '.', ''), '!', ''), '?', '')) AS BIGINT) AS n_sentences,
        |  contains(lower(t), 'lorem ipsum') AS has_lorem,
        |  contains(t, '{') AS has_brace,
        |  md5(kept) AS kept_md5 FROM k)
        |SELECT doc_id, n_lines, n_lines_kept, n_sentences, has_lorem,
        |  has_brace, kept_md5,
        |  (NOT has_lorem AND NOT has_brace AND n_sentences >= 3)
        |    AS keep
        |FROM x ORDER BY doc_id""".stripMargin,

    "text_bpe_tokens" ->
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(lower(trim(text)),
        |         '[a-z]+|[0-9]+|[^a-z0-9\s]+')) AS BIGINT) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_langid_ngram" -> {
      val norm = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
      val tris = s"list_distinct(list_transform(" +
        s"range(1, greatest(length(s) - 2, 0) + 1), i -> substring(s, i, 3)))"
      val chars = s"list_distinct(list_transform(" +
        s"range(1, length(s) + 1), i -> substring(s, i, 1)))"
      val scores = TextOps.trigramProfiles.map { case (lang, profile) =>
        val set = profile.map(p => s"'${p}'").mkString(", ")
        val src = if (lang == "zh") "chars" else "tris"
        s"len(list_intersect($src, [$set])) AS s_$lang"
      }.mkString(", ")
      val langs = TextOps.trigramProfiles.map(_._1)
      val cases = langs.init.map { l =>
        val geAll = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
        s"WHEN $geAll THEN '$l'"
      }.mkString(" ")
      s"""WITH t AS (SELECT doc_id, $norm AS s FROM documents),
         |g AS (SELECT doc_id, $tris AS tris, $chars AS chars FROM t),
         |sc AS (SELECT doc_id, $scores FROM g)
         |SELECT doc_id, CASE $cases ELSE '${langs.last}' END AS lang_pred
         |FROM sc ORDER BY doc_id""".stripMargin
    },

    "text_fingerprint" ->
      """SELECT doc_id,
        |       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_fingerprint_rolling" ->
      s"""SELECT doc_id,
         |       list_reduce(
         |         list_prepend(CAST(0 AS BIGINT),
         |           list_transform($normToks, t ->
         |             CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT) & 2147483647)),
         |         (acc, h) -> (acc * 31 + h) % 2147483648) AS fp_roll
         |FROM documents ORDER BY doc_id""".stripMargin,

    "dedup_simhash" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_distinct($normToks) AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         |h AS (SELECT doc_id,
         |        CAST(('0x' || substring(md5(tok), 1, 16)) AS UBIGINT) AS hv
         |      FROM tok),
         |bits AS (
         |  SELECT doc_id, b.bit,
         |         sum(CASE WHEN (hv >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
         |  FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS bit) b
         |  GROUP BY 1, 2),
         |sig AS (
         |  SELECT doc_id,
         |         sum(CASE WHEN vote > 0 AND bit >= 32
         |                  THEN CAST(1 AS BIGINT) << CAST(bit - 32 AS INTEGER)
         |                  ELSE 0 END) AS hi,
         |         sum(CASE WHEN vote > 0 AND bit < 32
         |                  THEN CAST(1 AS BIGINT) << CAST(bit AS INTEGER)
         |                  ELSE 0 END) AS lo
         |  FROM bits GROUP BY 1)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
         |            AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    "sim_ann_lsh" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k,
        |       true AS recall_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin,

    "sim_ann_ivf" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k,
        |       true AS recall_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin,

    "sim_ann_ivf_pq" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k,
        |       true AS recall_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin,

    "sim_ann_residual" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k,
        |       true AS recall_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin,

    // the persisted-index probe must clear the SAME recall gate as the
    // in-query-trained sim_ann_ivf_pq (the artifacts round-trip exactly)
    "sim_ann_persisted" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k,
        |       true AS recall_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin,

    // incremental maintenance: build on half the corpus, ingest the rest
    // with the frozen model — the probe over the FULL corpus must clear
    // the same recall gate as the full-build form
    "sim_ann_ingest" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k,
        |       true AS recall_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin,

    "sim_ann_upsert" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k,
        |       true AS recall_ok, true AS compact_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin,

    // deletion: the oracle pins the survivor query count (deleted ids
    // never answer and never query) plus the three gate booleans
    "sim_ann_delete" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k,
        |       true AS recall_ok, true AS no_deleted_ok, true AS compact_ok
        |FROM embeddings WHERE vec_id < 8 AND vec_id % 9 <> 4""".stripMargin,

    // retrain rollover: survivor query count (the %9=4 slice was deleted
    // before the re-fit) plus the three gate booleans — recall on the
    // retrained version, answer preservation vs the source version in
    // the parity configuration, single-batch fresh layout
    "sim_ann_retrain" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k,
        |       true AS recall_ok, true AS retrain_ok, true AS fresh_ok
        |FROM embeddings WHERE vec_id < 8 AND vec_id % 9 <> 4""".stripMargin,

    // mixed change stream: survivors' query count (deletion outranks the
    // overlap upsert at the higher seqno) plus the four gate booleans
    "sim_ann_stream_maintain" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k,
        |       true AS recall_ok, true AS no_deleted_ok, true AS stream_ok,
        |       true AS compact_ok
        |FROM embeddings WHERE vec_id < 8 AND vec_id % 9 <> 4""".stripMargin,

    // filtered vector search: exact cosine top-5 over the allowed
    // subset only (parity configuration makes the probe provably exact)
    "sim_ann_filtered" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
        |           FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
        |      WHERE vec_id % 3 = 1),
        |scored AS (
        |  SELECT q.q_id, c.vec_id AS neighbor_id,
        |         list_dot_product(c.vec, q.q_vec) /
        |         (sqrt(list_dot_product(c.vec, c.vec)) *
        |          sqrt(list_dot_product(q.q_vec, q.q_vec))) AS sim
        |  FROM c CROSS JOIN q WHERE c.vec_id <> q.q_id),
        |ranked AS (
        |  SELECT q_id, neighbor_id, sim,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT q_id, neighbor_id, round(sim, 6) AS sim, rank
        |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    // maintained-store ANN stats replay the modulo formulas: live =
    // non-deleted ids (upserts stay live), deleted = the %9=4 slice
    "sim_ann_stats" ->
      """SELECT CAST(sum(CASE WHEN vec_id % 9 <> 4 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_vectors,
        |       CAST(sum(CASE WHEN vec_id % 9 = 4 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_deleted,
        |       true AS clusters_ok
        |FROM embeddings""".stripMargin,

    // SQL-DDL ANN lifecycle: same survivor-query count as sim_ann_delete
    // (deleted ids never answer and never query) plus the three gates
    "ann_build_sql" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k,
        |       true AS recall_ok, true AS no_deleted_ok, true AS wire_ok
        |FROM embeddings WHERE vec_id < 8 AND vec_id % 9 <> 4""".stripMargin,

    // diff-driven reprocessing: the oracle replays the deterministic
    // snapshot derivation's delta counts; the three invariant booleans
    // (maintained ANN ≡ re-encode, merged index ≡ rebuild, work ∝ delta)
    // are pinned true
    "pipeline_reprocess" ->
      """SELECT
        |  CAST(sum(CASE WHEN doc_id % 7 = 0 AND doc_id % 11 <> 3
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |  CAST(sum(CASE WHEN doc_id % 7 <> 0 AND doc_id % 11 <> 3
        |                 AND doc_id % 5 = 0
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(sum(CASE WHEN doc_id % 7 <> 0 AND doc_id % 11 = 3
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  true AS ann_state_ok, true AS idx_state_ok, true AS delta_sized_ok
        |FROM documents JOIN embeddings ON doc_id = vec_id""".stripMargin,

    "sim_quantized_recall" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k,
        |       true AS recall_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin,

    "agg_skew_salted" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value), 4) AS total
        |FROM events
        |WHERE event_type IS NOT NULL AND value IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "source_roundtrip" ->
      """SELECT doc_id, md5(text) AS md5_json, md5(text) AS md5_orc, source
        |FROM documents ORDER BY doc_id""".stripMargin,

    // snapshot diff by construction: the old snapshot misses doc_id%7=0
    // (-> added), the new one misses doc_id%11=3 (-> removed) and
    // revises doc_id%5=0 (-> changed); unchanged rows don't survive
    "corpus_diff" ->
      """WITH a AS (
        |  SELECT doc_id, md5(text) AS dg FROM documents
        |  WHERE doc_id % 7 <> 0),
        |b AS (
        |  SELECT doc_id, md5(CASE WHEN doc_id % 5 = 0
        |                          THEN text || ' [rev2]'
        |                          ELSE text END) AS dg
        |  FROM documents WHERE doc_id % 11 <> 3)
        |SELECT doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN b.doc_id IS NULL THEN 'removed'
        |       WHEN a.dg <> b.dg THEN 'changed' END AS status,
        |  b.dg AS new_digest
        |FROM a FULL OUTER JOIN b USING (doc_id)
        |WHERE a.doc_id IS NULL OR b.doc_id IS NULL OR a.dg <> b.dg
        |ORDER BY doc_id""".stripMargin,

    "corpus_profile" ->
      s"""WITH t AS (
         |  SELECT source, n_chars, len($normToks) AS n_toks FROM documents)
         |SELECT source, count(*) AS n_docs,
         |       CAST(sum(n_toks) AS BIGINT) AS total_tokens,
         |       round(quantile_cont(n_toks, 0.5), 4) AS p50_tokens,
         |       round(quantile_cont(n_toks, 0.9), 4) AS p90_tokens,
         |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
         |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    "multimodal_features" ->
      s"""WITH $mediaOracleCtes
         |SELECT media_id,
         |  CAST(length(hexstr) // 2 AS BIGINT) AS n_bytes,
         |  CAST(CASE WHEN kind <> 4 THEN w END AS INTEGER) AS width,
         |  CAST(CASE WHEN kind <> 4 THEN h END AS INTEGER) AS height,
         |  CAST(CASE WHEN kind = 2 THEN 1 + extra
         |            WHEN kind <> 4 THEN 1 END AS INTEGER) AS n_frames,
         |  md5(lower(hexstr)) AS payload_hexmd5
         |FROM p ORDER BY media_id""".stripMargin,

    // audio/video facts by construction: WAV rows carry fmt-chunk audio
    // facts and a data/byte-rate duration (= dur_sec * 1000 exactly),
    // MP4 rows carry tkhd dims and the mvhd duration; truncated-WAV
    // (kind 2) and garbage (kind 3) rows null every typed fact
    "multimodal_av" ->
      s"""WITH $avOracleCtes
         |SELECT media_id,
         |  CAST(length(hexstr) // 2 AS BIGINT) AS n_bytes,
         |  CASE kind WHEN 0 THEN 'wav' WHEN 1 THEN 'mp4' END AS container,
         |  CAST(CASE WHEN kind = 0 THEN rate END AS INTEGER) AS sample_rate,
         |  CAST(CASE WHEN kind = 0 THEN ch END AS INTEGER) AS channels,
         |  CAST(CASE WHEN kind = 0 THEN bits END AS INTEGER) AS bits_per_sample,
         |  CAST(CASE WHEN kind = 1 THEN w END AS INTEGER) AS width,
         |  CAST(CASE WHEN kind = 1 THEN h END AS INTEGER) AS height,
         |  CAST(CASE WHEN kind = 0 THEN dur_sec * 1000
         |            WHEN kind = 1 THEN dur_ms END AS BIGINT) AS duration_ms,
         |  md5(lower(hexstr)) AS payload_hexmd5
         |FROM p ORDER BY media_id""".stripMargin,

    // pixel stats by construction: the oracle re-enumerates every source
    // pixel (and every 8x6-resampled pixel via the same floor(t*src/dst)
    // nearest-neighbor index math) from the planted closed form
    // v(i) = (doc_id*31 + i*7) % 256 — no decompressor needed; a hash
    // match proves the engine's deflate->unfilter->resample chain
    // reproduced every byte at its exact offset (px_chk/rz_chk are
    // position-weighted). Garbage rows (kind 4) null all decode facts.
    // pv derives the DECODED raster value at flat index i: the direct
    // closed form for kinds 0-3; for kind 4 (indexed) the palette
    // EXPANSION — entry j = (id·31 + p·7) mod nE, RGB from the palette's
    // flat closed form, alpha from tRNS (last entry opaque). The resize
    // CTE reuses pv by joining on the source index, so the expansion
    // logic exists exactly once.
    "multimodal_pixels" ->
      """WITH base AS (
        |  SELECT doc_id, CAST(doc_id % 6 AS INTEGER) AS kind,
        |         CAST(doc_id % 13 + 1 AS INTEGER) AS w,
        |         CAST(doc_id % 9 + 1 AS INTEGER) AS h,
        |         CAST(CASE doc_id % 6 WHEN 0 THEN 1 WHEN 1 THEN 3
        |              WHEN 2 THEN 2 WHEN 3 THEN 4 WHEN 4 THEN 4
        |              ELSE 0 END AS INTEGER) AS c,
        |         CAST(doc_id % 7 + 2 AS INTEGER) AS ne
        |  FROM documents),
        |ser AS (SELECT i FROM generate_series(0, 467) t(i)),
        |pv AS (
        |  SELECT b.doc_id, t.i,
        |    CAST(CASE
        |      WHEN b.kind < 4 THEN (b.doc_id*31 + t.i*7) % 256
        |      WHEN t.i % 4 < 3 THEN
        |        (b.doc_id*31 +
        |         (((b.doc_id*31 + (t.i // 4)*7) % b.ne)*3 + t.i % 4)*7) % 256
        |      WHEN (b.doc_id*31 + (t.i // 4)*7) % b.ne < b.ne - 1 THEN
        |        (b.doc_id*13 + ((b.doc_id*31 + (t.i // 4)*7) % b.ne)*11) % 256
        |      ELSE 255 END AS BIGINT) AS v
        |  FROM base b JOIN ser t ON t.i < b.w*b.h*b.c
        |  WHERE b.kind < 5),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(sum(v) AS BIGINT) AS px_sum,
        |    CAST(sum((v + 1) * (i + 1)) AS BIGINT) AS px_chk
        |  FROM pv GROUP BY 1),
        |rzidx AS (
        |  SELECT b.doc_id, t.i,
        |         ((t.i // (8*b.c)) * b.h // 6 * b.w
        |          + ((t.i % (8*b.c)) // b.c) * b.w // 8) * b.c
        |          + t.i % b.c AS si
        |  FROM base b JOIN ser t ON t.i < 48*b.c
        |  WHERE b.kind < 5),
        |rz AS (
        |  SELECT z.doc_id,
        |    CAST(sum(p.v) AS BIGINT) AS rz_sum,
        |    CAST(sum((p.v + 1) * (z.i + 1)) AS BIGINT) AS rz_chk
        |  FROM rzidx z JOIN pv p ON p.doc_id = z.doc_id AND p.i = z.si
        |  GROUP BY 1)
        |SELECT b.doc_id AS media_id,
        |  CASE WHEN b.kind < 5 THEN b.w END AS src_w,
        |  CASE WHEN b.kind < 5 THEN b.h END AS src_h,
        |  CASE WHEN b.kind < 5 THEN b.c END AS channels,
        |  f.px_sum, f.px_chk,
        |  CAST(CASE WHEN b.kind < 5 THEN 8 END AS INTEGER) AS rz_w,
        |  CAST(CASE WHEN b.kind < 5 THEN 6 END AS INTEGER) AS rz_h,
        |  r.rz_sum, r.rz_chk
        |FROM base b
        |LEFT JOIN fp f USING (doc_id) LEFT JOIN rz r USING (doc_id)
        |ORDER BY media_id""".stripMargin,

    // MP4 frame addressing by construction: sizes from the planted
    // closed form (per-sample table for kind 0, uniform for kind 1),
    // stride-3 sampling; garbage (kind 2) docs address nothing.
    // chunked addressing: sample i of a K-chunk file lives in chunk
    // c = least(i div spc, K-1); its true offset is the file header
    // (ftyp + moov, closed-form length) plus one 8-byte mdat header per
    // chunk up to AND including c, plus the global size prefix sum —
    // because the fixture's chunks are laid down back-to-back in K mdat
    // runs. A contiguous prefix sum alone (the pre-chunk-walk answer)
    // misses the hdr + 8·(c+1) term and fails the hash.
    "multimodal_mp4_frames" ->
      """WITH base AS (
        |  SELECT doc_id, CAST(doc_id % 3 AS INTEGER) AS kind,
        |         CAST(doc_id % 24 + 8 AS INTEGER) AS n,
        |         CAST(doc_id % 3 + 2 AS INTEGER) AS k,
        |         CAST(doc_id % 4 + 2 AS INTEGER) AS g,
        |         CAST(doc_id % 500 + 50 AS INTEGER) AS usize
        |  FROM documents),
        |ser AS (SELECT i FROM generate_series(0, 31) t(i)),
        |fr AS (
        |  SELECT b.doc_id, b.n, b.k, CAST(b.n // b.k AS INTEGER) AS spc,
        |         CAST(16 + 4*((b.n + b.g - 1) // b.g) +
        |              CASE WHEN b.kind = 0 THEN 252 + 4*b.n + 4*b.k
        |                   ELSE 252 + 4*b.k END AS BIGINT) AS hdr,
        |         t.i,
        |         CAST(CASE WHEN b.kind = 0
        |                   THEN (b.doc_id*13 + t.i*7) % 900 + 100
        |                   ELSE b.usize END AS INTEGER) AS fbytes
        |  FROM base b JOIN ser t ON t.i < b.n
        |  WHERE b.kind < 2),
        |wo AS (
        |  SELECT doc_id, n, i, fbytes,
        |         hdr + 8 * (least(i // spc, k - 1) + 1) +
        |         CAST(coalesce(sum(fbytes) OVER (
        |           PARTITION BY doc_id ORDER BY i
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS byte_offset
        |  FROM fr)
        |SELECT doc_id AS media_id, n AS n_frames,
        |       CAST(i AS INTEGER) AS frame_idx, fbytes AS frame_bytes,
        |       CAST(byte_offset AS BIGINT) AS byte_offset
        |FROM wo WHERE i % 3 = 0
        |ORDER BY media_id, frame_idx""".stripMargin,

    // keyframe sampling: same closed-form replay, restricted to the
    // planted stss sync set (every g-th sample), strided by sync rank
    "multimodal_mp4_keyframes" ->
      """WITH base AS (
        |  SELECT doc_id, CAST(doc_id % 3 AS INTEGER) AS kind,
        |         CAST(doc_id % 24 + 8 AS INTEGER) AS n,
        |         CAST(doc_id % 3 + 2 AS INTEGER) AS k,
        |         CAST(doc_id % 4 + 2 AS INTEGER) AS g,
        |         CAST(doc_id % 500 + 50 AS INTEGER) AS usize
        |  FROM documents),
        |ser AS (SELECT i FROM generate_series(0, 31) t(i)),
        |fr AS (
        |  SELECT b.doc_id, b.n, b.k, b.g,
        |         CAST(b.n // b.k AS INTEGER) AS spc,
        |         CAST(16 + 4*((b.n + b.g - 1) // b.g) +
        |              CASE WHEN b.kind = 0 THEN 252 + 4*b.n + 4*b.k
        |                   ELSE 252 + 4*b.k END AS BIGINT) AS hdr,
        |         t.i,
        |         CAST(CASE WHEN b.kind = 0
        |                   THEN (b.doc_id*13 + t.i*7) % 900 + 100
        |                   ELSE b.usize END AS INTEGER) AS fbytes
        |  FROM base b JOIN ser t ON t.i < b.n
        |  WHERE b.kind < 2),
        |wo AS (
        |  SELECT doc_id, n, g, i, fbytes,
        |         hdr + 8 * (least(i // spc, k - 1) + 1) +
        |         CAST(coalesce(sum(fbytes) OVER (
        |           PARTITION BY doc_id ORDER BY i
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS byte_offset
        |  FROM fr)
        |SELECT doc_id AS media_id, n AS n_frames,
        |       CAST((n + g - 1) // g AS INTEGER) AS n_sync,
        |       CAST(i // g AS INTEGER) AS sync_rank,
        |       CAST(i AS INTEGER) AS frame_idx, fbytes AS frame_bytes,
        |       CAST(byte_offset AS BIGINT) AS byte_offset
        |FROM wo WHERE i % g = 0 AND (i // g) % 2 = 0
        |ORDER BY media_id, frame_idx""".stripMargin,

    // distilled quality classifier: split sizes and the label prior
    // replay closed-form (the same quality chain as text_quality); the
    // two accuracy gates are pinned — the engine must actually recover
    // the separator on both splits
    "text_quality_classifier" -> {
      val stop = TextOps.stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, text, $normToks AS toks FROM documents),
         |f AS (
         |  SELECT doc_id,
         |         round((least(CAST(len(toks) AS DOUBLE) / 64.0, 1.0)
         |           + CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
         |           + (1.0 - abs(CAST(len(list_filter(toks,
         |               t -> t IN ($stop))) AS DOUBLE) / len(toks) - 0.4)))
         |           / 3.0, 6) AS quality
         |  FROM t)
         |SELECT
         |  CAST(sum(CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_train,
         |  CAST(sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_test,
         |  CAST(sum(CASE WHEN quality >= 0.6 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pos,
         |  true AS train_acc_ok, true AS test_acc_ok
         |FROM f""".stripMargin
    },

    // lossless GIF: re-enumerate every expanded RGB byte from the planted
    // closed forms (idx(p) = (id*31+p*7) mod nE, pal(m) = (id*13+m*5)
    // mod 256), position-weighted checksum over the 3-channel buffer
    "multimodal_gif" ->
      """WITH gbase AS (
        |  SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS kind,
        |    CAST(CASE WHEN doc_id % 4 = 2 THEN 256
        |              ELSE doc_id % 51 + 2 END AS BIGINT) AS ne,
        |    CAST(CASE WHEN doc_id % 4 = 2 THEN doc_id % 20 + 16
        |              ELSE doc_id % 19 + 1 END AS INTEGER) AS w,
        |    CAST(CASE WHEN doc_id % 4 = 2 THEN doc_id % 12 + 10
        |              ELSE doc_id % 11 + 1 END AS INTEGER) AS h
        |  FROM documents),
        |gser AS (SELECT i FROM generate_series(0, 2204) t(i)),
        |gpx AS (
        |  SELECT b.doc_id, b.w, b.h, t.i,
        |    (b.doc_id*13 +
        |      (((b.doc_id*31 + (t.i // 3)*7) % b.ne)*3 + t.i % 3)*5) % 256
        |      AS v
        |  FROM gbase b JOIN gser t ON t.i < b.w * b.h * 3
        |  WHERE b.kind < 3)
        |SELECT g.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 4 = 3 THEN NULL ELSE g2.w END AS width,
        |  CASE WHEN d.doc_id % 4 = 3 THEN NULL ELSE g2.h END AS height,
        |  CASE WHEN d.doc_id % 4 = 3 THEN NULL
        |       ELSE CAST(3 AS INTEGER) END AS channels,
        |  px_sum, px_chk
        |FROM (
        |  SELECT doc_id, CAST(sum(v) AS BIGINT) AS px_sum,
        |         CAST(sum((v + 1) * (i + 1)) AS BIGINT) AS px_chk
        |  FROM gpx GROUP BY doc_id
        |  UNION ALL
        |  SELECT doc_id, NULL, NULL FROM gbase WHERE kind = 3) g
        |JOIN documents d ON d.doc_id = g.doc_id
        |JOIN gbase g2 ON g2.doc_id = g.doc_id
        |ORDER BY media_id""".stripMargin,

    // lossless WebP (VP8L) stats by construction: the oracle
    // re-enumerates every RGBA byte from the planted closed forms per
    // kind (doc_id % 6; byte i: pixel i//4, channel i%4 in RGBA
    // order); kinds 4 (garbage), 5 (lossy VP8 / close-neighborhood
    // plane code — the honest-rejection pair) null every fact
    // every decoded TIFF raster replayed from its planted closed form:
    // the inverted WhiteIsZero kinds, the palette expansion through the
    // 16-bit ColorMap's high byte, and the bilevel bit expansion are
    // all re-enumerated pixel-by-pixel; rejection kinds carry their
    // name in err with every fact NULL
    "multimodal_tiff" ->
      """WITH base AS (
        |  SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS kind,
        |         CAST(doc_id % 13 + 1 AS INTEGER) AS w,
        |         CAST(doc_id % 9 + 1 AS INTEGER) AS h,
        |         CAST(CASE doc_id % 8
        |              WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 3
        |              WHEN 3 THEN 1 WHEN 4 THEN 3 WHEN 5 THEN 1
        |              WHEN 6 THEN 3 END AS INTEGER) AS c,
        |         CAST(doc_id % 7 + 2 AS INTEGER) AS ne
        |  FROM documents),
        |ser AS (SELECT i FROM generate_series(0, 350) t(i)),
        |pv AS (
        |  SELECT b.doc_id, t.i,
        |    CAST(CASE
        |      WHEN b.kind IN (0, 1, 2, 6) THEN
        |        (b.doc_id*31 + t.i*7) % 256
        |      WHEN b.kind = 3 THEN 255 - (b.doc_id*31 + t.i*7) % 256
        |      WHEN b.kind = 4 THEN
        |        (b.doc_id*13 + (t.i % 3)*5 +
        |         ((b.doc_id*31 + (t.i // 3)*7) % b.ne)*11) % 256
        |      WHEN (b.doc_id + t.i % b.w + t.i // b.w) % 3 = 0 THEN 0
        |      ELSE 255 END AS BIGINT) AS v
        |  FROM base b JOIN ser t ON t.i < b.w*b.h*b.c
        |  WHERE b.kind < 7),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(sum(v) AS BIGINT) AS px_sum,
        |    CAST(sum((v + 1) * (i + 1)) AS BIGINT) AS px_chk
        |  FROM pv GROUP BY 1)
        |SELECT b.doc_id AS media_id,
        |  CASE WHEN b.kind < 7 THEN b.w END AS width,
        |  CASE WHEN b.kind < 7 THEN b.h END AS height,
        |  CASE WHEN b.kind < 7 THEN b.c END AS channels,
        |  f.px_sum, f.px_chk,
        |  CASE WHEN b.kind = 7 THEN
        |    CASE (b.doc_id // 8) % 4 WHEN 0 THEN 'jpeg'
        |         WHEN 1 THEN 'ccitt'
        |         WHEN 2 THEN 'tiled' ELSE 'malformed' END END AS err
        |FROM base b LEFT JOIN fp f USING (doc_id)
        |ORDER BY media_id""".stripMargin,

    // fragment addressing proven through the data: sizes and sample
    // counts by construction per kind, and the read-back byte stats
    // over ONE global closed form — a wrong base/default resolution
    // reads the wrong bytes and the sums diverge
    "multimodal_fmp4" ->
      """WITH base AS (
        |  SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS kind,
        |    CAST(doc_id % 3 + 2 AS INTEGER) AS k,
        |    CAST(doc_id % 5 + 3 AS INTEGER) AS s
        |  FROM documents),
        |szs AS (
        |  SELECT b.doc_id, t.i AS sg,
        |    CAST(CASE b.kind
        |      WHEN 0 THEN (b.doc_id*13 + t.i*7) % 120 + 8
        |      WHEN 1 THEN b.doc_id % 50 + 20
        |      ELSE b.doc_id % 40 + 16 END AS BIGINT) AS sz
        |  FROM base b JOIN generate_series(0, 27) t(i)
        |    ON t.i < b.k * b.s
        |  WHERE b.kind < 3),
        |tot AS (
        |  SELECT doc_id, CAST(sum(sz) AS BIGINT) AS bytes_total,
        |    CAST(count(*) AS INTEGER) AS n_samples
        |  FROM szs GROUP BY 1),
        |dat AS (
        |  SELECT b.doc_id, g.g,
        |    CAST((b.doc_id*7 + g.g*3) % 256 AS BIGINT) AS v
        |  FROM base b JOIN tot USING (doc_id)
        |  JOIN generate_series(0, 3599) g(g) ON g.g < tot.bytes_total
        |  WHERE b.kind < 3),
        |ds AS (
        |  SELECT doc_id, CAST(sum(v) AS BIGINT) AS data_sum,
        |    CAST(sum((v + 1) * (g + 1)) AS BIGINT) AS data_chk
        |  FROM dat GROUP BY 1)
        |SELECT b.doc_id AS media_id,
        |  CASE WHEN b.kind < 3 THEN b.k END AS n_fragments,
        |  tot.n_samples,
        |  tot.bytes_total,
        |  CASE WHEN b.kind < 3 THEN CAST(1 AS BIGINT) END AS seq_first,
        |  CASE WHEN b.kind < 3 THEN CAST(b.k AS BIGINT) END AS seq_last,
        |  ds.data_sum, ds.data_chk,
        |  CASE WHEN b.kind = 3 THEN 'malformed' END AS err
        |FROM base b LEFT JOIN tot USING (doc_id)
        |LEFT JOIN ds USING (doc_id)
        |ORDER BY media_id""".stripMargin,

    // the frame-walk facts by construction: counts, rates, modes and
    // the integer-floor duration; the padding/VBR kinds prove the
    // length math because a wrong term would desync into `malformed`
    "multimodal_mp3" ->
      """WITH base AS (
        |  SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS kind,
        |         CAST(doc_id % 20 + 5 AS INTEGER) AS n
        |  FROM documents)
        |SELECT doc_id AS media_id,
        |  CASE WHEN kind < 7 THEN n END AS n_frames,
        |  CAST(CASE kind WHEN 0 THEN 44100 WHEN 1 THEN 32000
        |       WHEN 2 THEN 22050 WHEN 3 THEN 44100 WHEN 4 THEN 44100
        |       WHEN 5 THEN 8000 WHEN 6 THEN 48000 END AS INTEGER)
        |    AS sample_rate,
        |  CAST(CASE WHEN kind IN (1, 5) THEN 1
        |       WHEN kind < 7 THEN 2 END AS INTEGER) AS channels,
        |  CASE WHEN kind IN (3, 4) THEN 'vbr'
        |       WHEN kind < 7 THEN 'cbr' END AS mode,
        |  CAST(CASE kind WHEN 0 THEN 128 WHEN 1 THEN 64 WHEN 2 THEN 64
        |       WHEN 5 THEN 40 WHEN 6 THEN 160 END AS INTEGER) AS kbps,
        |  CASE WHEN kind < 7 THEN
        |    CAST(n AS BIGINT) *
        |      (CASE WHEN kind IN (2, 5) THEN 576 ELSE 1152 END) * 1000
        |      // (CASE kind WHEN 0 THEN 44100 WHEN 1 THEN 32000
        |          WHEN 2 THEN 22050 WHEN 3 THEN 44100 WHEN 4 THEN 44100
        |          WHEN 5 THEN 8000 WHEN 6 THEN 48000 END)
        |  END AS duration_ms,
        |  CAST(CASE kind WHEN 4 THEN n - 1 WHEN 6 THEN n END
        |    AS INTEGER) AS vbr_frames,
        |  CASE WHEN kind < 7 THEN kind IN (1, 6) END AS id3v2,
        |  CASE WHEN kind < 7 THEN kind IN (2, 6) END AS id3v1,
        |  CASE WHEN kind = 7 THEN
        |    CASE (doc_id // 8) % 4 WHEN 0 THEN 'free-format'
        |         WHEN 1 THEN 'layer' ELSE 'malformed' END END AS err
        |FROM base ORDER BY media_id""".stripMargin,

    // the planted ADTS header space replayed closed-form: per-kind
    // rates/profiles/channel configs, sample counts (raw data blocks
    // x 1024), integer floor duration, and the rejection arms
    "multimodal_aac" ->
      """WITH abase AS (
        |  SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS kind,
        |         CAST(doc_id % 20 + 5 AS BIGINT) AS n
        |  FROM documents),
        |afacts AS (
        |  SELECT doc_id, kind, n,
        |    CAST(CASE kind WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |      WHEN 2 THEN 22050 WHEN 3 THEN 32000 WHEN 4 THEN 8000
        |      WHEN 5 THEN 16000 WHEN 6 THEN 96000 END AS INTEGER)
        |      AS sample_rate,
        |    n * 1024 * (CASE kind WHEN 3 THEN 2 ELSE 1 END)
        |      AS n_samples
        |  FROM abase)
        |SELECT doc_id AS media_id,
        |  CAST(CASE WHEN kind < 7 THEN n END AS INTEGER) AS n_frames,
        |  sample_rate,
        |  CAST(CASE kind WHEN 1 THEN 1 WHEN 4 THEN 6 WHEN 6 THEN 8
        |    WHEN 7 THEN NULL ELSE 2 END AS INTEGER) AS channels,
        |  CASE kind WHEN 3 THEN 'main' WHEN 5 THEN 'ltp'
        |    WHEN 7 THEN NULL ELSE 'lc' END AS profile,
        |  CASE WHEN kind < 7 THEN kind = 2 END AS mpeg2,
        |  CASE WHEN kind < 7 THEN kind IN (2, 6) END AS crc,
        |  CASE WHEN kind < 7 THEN kind IN (0, 3, 5, 6) END AS vbr,
        |  CASE WHEN kind < 7 THEN n_samples END AS n_samples,
        |  CASE WHEN kind < 7 THEN n_samples * 1000 // sample_rate END
        |    AS duration_ms,
        |  CASE WHEN kind < 7 THEN kind = 1 END AS id3v2,
        |  CASE WHEN kind = 7 THEN
        |    CASE (doc_id // 8) % 4 WHEN 0 THEN 'pce-channels'
        |         WHEN 1 THEN 'layer' ELSE 'malformed' END END AS err
        |FROM afacts ORDER BY media_id""".stripMargin,

    // the planted DC-only VP8 frames replayed closed-form: quantizer
    // lookup (the spec's dc_qlookup table inline), the Y2 inverse-WHT
    // and DC-only inverse-DCT roundings as floor divisions, clamping,
    // crop dims, and the solid planes' sums / position-weighted
    // checksums in one closed form each
    "multimodal_webp_lossy" -> {
      val dcTable = graft.operators.Vp8Tables.dcQ
        .mkString("[", ", ", "]")
      // the spec's >>3 is an ARITHMETIC shift (floor); DuckDB's //
      // truncates toward zero on negatives, so the replay floors
      // explicitly via the positive-remainder form
      def fdiv8(e: String): String =
        s"(($e) - ((($e) % 8 + 8) % 8)) // 8"
      s"""WITH wb AS (
         |  SELECT doc_id, CAST(doc_id % 6 AS INTEGER) AS kind,
         |    CAST(16 + doc_id % 49 AS INTEGER) AS w,
         |    CAST(16 + doc_id % 33 AS INTEGER) AS h,
         |    CAST(doc_id % 128 AS INTEGER) AS qi,
         |    doc_id % 9 - 4 AS ydc,
         |    (doc_id // 2) % 9 - 4 AS udc,
         |    (doc_id // 3) % 9 - 4 AS vdc
         |  FROM documents),
         |wq AS (
         |  SELECT *, $dcTable[qi + 1] AS dcq FROM wb),
         |wv AS (
         |  SELECT *,
         |    least(255, greatest(0,
         |      128 + ${fdiv8(fdiv8("ydc * 2 * dcq + 3") + " + 4")}))
         |      AS yval,
         |    least(255, greatest(0,
         |      128 + ${fdiv8("udc * least(dcq, 132) + 4")})) AS uval,
         |    least(255, greatest(0,
         |      128 + ${fdiv8("vdc * least(dcq, 132) + 4")})) AS vval,
         |    (w + 1) // 2 AS cw, (h + 1) // 2 AS ch
         |  FROM wq)
         |SELECT doc_id AS media_id,
         |  CASE WHEN kind < 4 THEN w END AS width,
         |  CASE WHEN kind < 4 THEN h END AS height,
         |  CASE WHEN kind < 4 THEN
         |    CAST(yval * w * h AS BIGINT) END AS y_sum,
         |  CASE WHEN kind < 4 THEN
         |    CAST((yval + 1) * (CAST(w AS BIGINT) * h)
         |      * (CAST(w AS BIGINT) * h + 1) // 2 AS BIGINT)
         |  END AS y_chk,
         |  CASE WHEN kind < 4 THEN
         |    CAST(uval * cw * ch AS BIGINT) END AS u_sum,
         |  CASE WHEN kind < 4 THEN
         |    CAST(vval * cw * ch AS BIGINT) END AS v_sum,
         |  CASE kind WHEN 4 THEN 'interframe'
         |    WHEN 5 THEN 'malformed' END AS err
         |FROM wv ORDER BY media_id""".stripMargin
    },

    "multimodal_webp" ->
      """WITH wbase AS (
        |  SELECT doc_id, CAST(doc_id % 6 AS INTEGER) AS kind,
        |    CAST(doc_id % 14 + 2 AS INTEGER) AS w,
        |    CAST(doc_id % 9 + 2 AS INTEGER) AS h
        |  FROM documents),
        |wser AS (SELECT i FROM generate_series(0, 599) t(i)),
        |wpx AS (
        |  SELECT b.doc_id, t.i,
        |    CASE
        |      WHEN t.i % 4 = 3 THEN
        |        CASE WHEN b.kind = 3 THEN 255
        |             ELSE (b.doc_id*19) % 256 END
        |      WHEN t.i % 4 = 1 THEN
        |        CASE WHEN b.kind = 1
        |          THEN (b.doc_id*29
        |                + ((b.doc_id + (t.i // 4) % b.w) % 4)*53) % 256
        |          ELSE (b.doc_id*11 + 3
        |                + ((b.doc_id + t.i // 4) % 2)*97) % 256 END
        |      WHEN t.i % 4 = 0 THEN
        |        CASE WHEN b.kind = 3
        |          THEN ((b.doc_id*11 + 3
        |                 + ((b.doc_id + t.i // 4) % 2)*97) % 256
        |                + b.doc_id*7) % 256
        |          ELSE (b.doc_id*13) % 256 END
        |      ELSE
        |        CASE WHEN b.kind = 3
        |          THEN ((b.doc_id*11 + 3
        |                 + ((b.doc_id + t.i // 4) % 2)*97) % 256
        |                + b.doc_id*3) % 256
        |          ELSE (b.doc_id*17) % 256 END
        |    END AS v
        |  FROM wbase b JOIN wser t ON t.i < b.w * b.h * 4
        |  WHERE b.kind IN (0, 1, 2, 3))
        |SELECT b.doc_id AS media_id,
        |  CASE WHEN b.kind >= 4 THEN NULL ELSE b.w END AS width,
        |  CASE WHEN b.kind >= 4 THEN NULL ELSE b.h END AS height,
        |  CASE WHEN b.kind >= 4 THEN NULL
        |       ELSE CAST(4 AS INTEGER) END AS channels,
        |  g.px_sum, g.px_chk
        |FROM wbase b LEFT JOIN (
        |  SELECT doc_id, CAST(sum(v) AS BIGINT) AS px_sum,
        |         CAST(sum((v + 1) * (i + 1)) AS BIGINT) AS px_chk
        |  FROM wpx GROUP BY doc_id) g ON g.doc_id = b.doc_id
        |ORDER BY media_id""".stripMargin,

    // the end-to-end multimodal chain, replayed in full: closed-form
    // pixels per container kind -> the resize's floor-index sample
    // positions -> per-cell gray-sums (the 16-dim vectors) -> exact
    // cosine top-5 per query (parity probe; garbage never indexed,
    // self excluded)
    "pipeline_multimodal" ->
      """WITH mb AS (
        |  SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS kind,
        |    CAST(doc_id % 13 + 4 AS BIGINT) AS w,
        |    CAST(doc_id % 9 + 4 AS BIGINT) AS h,
        |    CAST(doc_id % 51 + 2 AS BIGINT) AS ne
        |  FROM documents WHERE doc_id % 4 <> 3),
        |cell AS (SELECT i FROM generate_series(0, 15) t(i)),
        |vpos AS (
        |  SELECT m.doc_id, t.i, m.kind, m.ne,
        |    ((t.i // 4) * m.h // 4) * m.w + ((t.i % 4) * m.w // 4) AS p
        |  FROM mb m, cell t),
        |vec0 AS (
        |  SELECT doc_id, i,
        |    CASE kind
        |      WHEN 0 THEN
        |        (doc_id*31 + (p*3 + 0)*7) % 256 +
        |        (doc_id*31 + (p*3 + 1)*7) % 256 +
        |        (doc_id*31 + (p*3 + 2)*7) % 256
        |      WHEN 1 THEN
        |        (doc_id*13 + (((doc_id*31 + p*7) % ne)*3 + 0)*5) % 256 +
        |        (doc_id*13 + (((doc_id*31 + p*7) % ne)*3 + 1)*5) % 256 +
        |        (doc_id*13 + (((doc_id*31 + p*7) % ne)*3 + 2)*5) % 256
        |      ELSE
        |        (doc_id*13) % 256 +
        |        (doc_id*11 + 3 + ((doc_id + p) % 2)*97) % 256 +
        |        (doc_id*17) % 256
        |    END AS v
        |  FROM vpos),
        |emb AS (SELECT doc_id, (list(v ORDER BY i))::DOUBLE[] AS vec
        |        FROM vec0 GROUP BY doc_id),
        |q AS (SELECT doc_id AS q_id, vec AS q_vec FROM emb
        |      WHERE doc_id < 6),
        |scored AS (
        |  SELECT q.q_id, c.doc_id AS neighbor_id,
        |         list_dot_product(c.vec, q.q_vec) /
        |         (sqrt(list_dot_product(c.vec, c.vec)) *
        |          sqrt(list_dot_product(q.q_vec, q.q_vec))) AS sim
        |  FROM emb c CROSS JOIN q WHERE c.doc_id <> q.q_id),
        |r AS (SELECT q_id, neighbor_id,
        |        CAST(row_number() OVER (PARTITION BY q_id
        |          ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
        |      FROM scored)
        |SELECT q_id, neighbor_id, rank FROM r WHERE rank <= 5
        |ORDER BY q_id, neighbor_id""".stripMargin,

    // lossy JPEG: the oracle pins the exactly-checkable facts — planted
    // dimensions/channel counts per kind, and the cross-decoder
    // agreement gate computed in-engine against the JDK's independent
    // decoder (true everywhere; garbage kind 4 nulls all facts)
    // kinds (doc_id % 7): 0 own gray+restarts, 1 own 4:4:4 color,
    // 2 ImageIO gray, 3 ImageIO flat-chroma color, 4 garbage,
    // 5 ImageIO PROGRESSIVE gray, 6 ImageIO PROGRESSIVE flat-chroma
    "multimodal_jpeg" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 7 = 4 THEN NULL
        |       ELSE CAST(doc_id % 21 + 1 AS INTEGER) END AS width,
        |  CASE WHEN doc_id % 7 = 4 THEN NULL
        |       ELSE CAST(doc_id % 13 + 1 AS INTEGER) END AS height,
        |  CASE WHEN doc_id % 7 = 4 THEN NULL
        |       WHEN doc_id % 7 IN (0, 2, 5) THEN CAST(1 AS INTEGER)
        |       ELSE CAST(3 AS INTEGER) END AS channels,
        |  CASE WHEN doc_id % 7 = 4 THEN NULL ELSE true END AS agree_ok
        |FROM documents ORDER BY media_id""".stripMargin,

    // PCM stats by construction: the oracle re-enumerates the waveform
    // from the planted closed form (8-bit: (doc_id*17+s*29)%251-125;
    // 16-bit: (doc_id*23+s*97)%60001-30000) and recomputes energy, peak
    // and per-channel strict-sign-flip zero crossings. Truncated-data
    // (kind 2) and garbage (kind 3) rows null every fact.
    "multimodal_pcm" ->
      """WITH pbase AS (
        |  SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS kind,
        |         CAST(doc_id % 2 + 1 AS INTEGER) AS ch,
        |         CAST((doc_id // 2) % 2 * 8 + 8 AS INTEGER) AS bits,
        |         CAST(8000 + doc_id % 7 * 500 AS INTEGER) AS rate,
        |         CAST((doc_id % 41 + 10) * (doc_id % 2 + 1) AS BIGINT) AS n
        |  FROM documents),
        |pser AS (SELECT s FROM generate_series(0, 99) t(s)),
        |pcmidx AS (
        |  SELECT b.doc_id, t.s,
        |    CASE WHEN b.bits = 8 THEN (b.doc_id*17 + t.s*29) % 251 - 125
        |         ELSE (b.doc_id*23 + t.s*97) % 60001 - 30000 END AS v,
        |    CASE WHEN t.s >= b.ch THEN
        |      CASE WHEN b.bits = 8
        |           THEN (b.doc_id*17 + (t.s - b.ch)*29) % 251 - 125
        |           ELSE (b.doc_id*23 + (t.s - b.ch)*97) % 60001 - 30000 END
        |    END AS pv
        |  FROM pbase b JOIN pser t ON t.s < b.n
        |  WHERE b.kind < 2),
        |pagg AS (
        |  SELECT doc_id, CAST(sum(v) AS BIGINT) AS s_sum,
        |         CAST(sum(v*v) AS BIGINT) AS s_sumsq,
        |         CAST(sum(CASE WHEN pv IS NOT NULL AND v*pv < 0
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross,
        |         CAST(max(abs(v)) AS INTEGER) AS peak
        |  FROM pcmidx GROUP BY 1)
        |SELECT b.doc_id AS media_id,
        |  CASE WHEN b.kind < 2 THEN b.rate END AS sample_rate,
        |  CASE WHEN b.kind < 2 THEN b.ch END AS channels,
        |  CASE WHEN b.kind < 2 THEN b.bits END AS bits,
        |  CASE WHEN b.kind < 2 THEN b.n END AS n_samples,
        |  a.s_sum, a.s_sumsq, a.zero_cross, a.peak
        |FROM pbase b LEFT JOIN pagg a USING (doc_id)
        |ORDER BY media_id""".stripMargin,

    "text_normalize" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         replace(replace(text, 'e', 'e' || chr(769)), ' ', '  ')
        |           || chr(7) AS noisy
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(
        |           nfc_normalize(noisy),
        |           '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |         '\s+', ' ', 'g')) AS clean
        |  FROM t)
        |SELECT doc_id, md5(clean) AS md5_clean,
        |       CAST(length(clean) AS BIGINT) AS n_clean
        |FROM c ORDER BY doc_id""".stripMargin,

    "text_bpe_train" -> {
      val steps = 10
      val unions = (1 to steps).map { i =>
        s"""SELECT CAST($i AS BIGINT) AS step,
           |  string_split(substring(pair, 2, length(pair) - 2),
           |    chr(2) || chr(1))[1] AS lhs,
           |  string_split(substring(pair, 2, length(pair) - 2),
           |    chr(2) || chr(1))[2] AS rhs,
           |  pc AS pair_count FROM b$i""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"WITH ${bpeTrainCtes(steps)}\nSELECT * FROM (\n$unions\n) ORDER BY step"
    },

    "text_bpe_encode" -> {
      val steps = 10
      // the trained rules applied to every doc: d0 encodes each doc as the
      // concatenation of its words' wrapped symbol sequences; each step's
      // winning pair (b_i) is one literal replace, chained 10 deep — the
      // same map-only expression Spark runs
      val applied = (1 to steps).foldLeft("enc") { (acc, i) =>
        s"replace($acc, (SELECT pair FROM b$i),\n" +
          s"      (SELECT replace(pair, chr(2) || chr(1), '') FROM b$i))"
      }
      // concatenated, NOT an outer stripMargin: the interpolated CTEs
      // contain lines beginning with `||` whose first pipe a second
      // stripMargin pass would eat
      val tail =
        s"""d0 AS MATERIALIZED (
           |  SELECT doc_id, array_to_string(list_transform(
           |    list_filter($normToks, w -> length(w) > 0),
           |    w -> array_to_string(list_transform(string_split(w, ''),
           |           c -> chr(1) || c || chr(2)), '')
           |         || chr(1) || '</w>' || chr(2)), '') AS enc
           |  FROM documents),
           |e AS (SELECT doc_id, $applied AS enc FROM d0)
           |SELECT doc_id,
           |  CAST(CASE WHEN length(enc) = 0 THEN 0
           |       ELSE len(string_split(substring(enc, 2, length(enc) - 2),
           |                 chr(2) || chr(1))) END AS BIGINT) AS n_bpe,
           |  md5(enc) AS enc_md5
           |FROM e ORDER BY doc_id""".stripMargin
      s"WITH ${bpeTrainCtes(steps)},\n$tail"
    },

    "text_bpe_ids" -> {
      val steps = 10
      val tail =
        s"""tok AS (
           |  SELECT doc_id,
           |    unnest(string_split(substring(enc, 2, length(enc) - 2),
           |      chr(2) || chr(1))) AS symbol,
           |    unnest(range(0, CAST(length(enc)
           |      - length(replace(enc, chr(1), '')) AS BIGINT))) AS pos
           |  FROM e WHERE length(enc) > 0)
           |SELECT doc_id, pos, token_id
           |FROM tok JOIN vocab USING (symbol)
           |ORDER BY doc_id, pos""".stripMargin
      s"WITH ${bpeTrainCtes(steps)},\n${bpeVocabEncodeCtes(steps)},\n$tail"
    },

    // the unigram trainer replayed whole: substring seed, integer
    // costs via bit length, the E-step Viterbi DP as a fixed CTE
    // chain, and the M-step's pruned final vocabulary row for row
    "text_unigram_train" ->
      (s"WITH ${unigramCtes("u_", 24)}\n" +
        "SELECT token, n_count, cost FROM u_v1 ORDER BY token"),

    // independent retrain + final-vocab Viterbi per distinct word,
    // joined back to each doc's word sequence — token-stream bytes
    // verified via md5
    "text_unigram_encode" -> unigramEncodeSql,
    // the artifact round-trip must hash IDENTICALLY to
    // train-and-encode: same oracle, and the match proves the frozen
    // JSON carries the whole model
    "text_unigram_artifact" -> unigramEncodeSql,

    // independent DuckDB retrain-and-encode — a hash match proves the
    // engine's encode-from-persisted-artifact path ≡ train-and-encode
    // (bytes via md5, vocabulary ids via the exact per-doc id sum)
    "tokenize_from_artifact" -> {
      val steps = 10
      val tail =
        s"""tok AS (
           |  SELECT doc_id,
           |    unnest(string_split(substring(enc, 2, length(enc) - 2),
           |      chr(2) || chr(1))) AS symbol
           |  FROM e WHERE length(enc) > 0),
           |sids AS (
           |  SELECT doc_id, CAST(sum(token_id) AS BIGINT) AS sum_ids
           |  FROM tok JOIN vocab USING (symbol) GROUP BY doc_id)
           |SELECT e.doc_id,
           |  CAST(CASE WHEN length(enc) = 0 THEN 0
           |       ELSE len(string_split(substring(enc, 2, length(enc) - 2),
           |                 chr(2) || chr(1))) END AS BIGINT) AS n_bpe,
           |  md5(enc) AS enc_md5,
           |  coalesce(sids.sum_ids, 0) AS sum_ids
           |FROM e LEFT JOIN sids ON e.doc_id = sids.doc_id
           |ORDER BY e.doc_id""".stripMargin
      s"WITH ${bpeTrainCtes(steps)},\n${bpeVocabEncodeCtes(steps)},\n$tail"
    },
  ) ++ oraclesPartB
}
