package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.{Extended, ParityQueries, PipelineQueries, Relational}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every declared query pairs a Spark implementation (built on the
  * graft.operators / graft.dedup / graft.similarity / graft.functions
  * modules) with an exact DuckDB oracle SQL. Column names and types match
  * between the two by construction.
  */
object SparkEntry {

  /** Streaming executions of engine queries — same oracle as their batch
    * twins, but run through Structured Streaming (file source → agg →
    * memory sink, Trigger.AvailableNow). `derived` twins run their batch
    * entry's own body (see [[graft.streaming.StreamingQueries]]). With
    * the query files' own `streamingDefs` this is every entry that
    * starts a stream when called.
    */
  private def streamingDefs: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = {
    val batch = (PipelineQueries.defs ++ PipelineQueries.lateDefs ++ Extended.defs)
      .map(e => e._1 -> e).toMap
    // a rename of a referenced batch entry must fail here, not silently
    // deregister the streaming twin from the correctness gate
    def batchEntry(name: String) = batch.getOrElse(name,
      throw new IllegalStateException(s"streaming twin: no batch entry '$name'"))
    def sharedOracle(name: String): String = batchEntry(name)._3.getOrElse(
      throw new IllegalStateException(s"shared oracle: no oracle SQL found for '$name'"))
    def derived(name: String, from: String) = batchEntry(from) match {
      case (_, graft.queries.Twinned(body), oracle) =>
        (name, (s: SparkSession, d: String) =>
          body(s, d, graft.streaming.StreamingQueries.seams), oracle)
      case _ => throw new IllegalStateException(
        s"streaming twin: batch entry '$from' is not Twinned")
    }
    Seq[(String, (SparkSession, String) => DataFrame, Option[String])](
    ("q30_streaming_window",
      (s, d) => graft.streaming.StreamingQueries.tumblingWindow(s, d),
      Some("""
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             count(*) AS n, round(sum("value"), 2) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),
    derived("q31_streaming_dedup", "p01_dedup_exact"),
    ("q37_stream_stream_join",
      (s, d) => graft.streaming.StreamingQueries.clickToPurchase(s, d),
      Some("""
      SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
      FROM events c JOIN events p
        ON c.user_id = p.user_id
       AND c.event_type = 'click' AND p.event_type = 'purchase'
       AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      ORDER BY 1, 2, 3""")),
    ("q48_streaming_chunk_election",
      (s, d) => graft.streaming.StreamingQueries.chunkElection(s, d),
      Some("""
      WITH t AS (SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
                 FROM documents),
      ch AS (SELECT doc_id,
               unnest(generate_series(0, CAST((len(t)+7)//8 AS BIGINT) - 1)) AS idx, t
             FROM t WHERE len(t) >= 1),
      c2 AS (SELECT doc_id, CAST(idx AS BIGINT) AS idx,
               array_to_string(t[idx*8+1 : idx*8+8], ' ') AS chunk FROM ch),
      fp AS (SELECT doc_id, idx, md5(chunk) AS f FROM c2),
      g AS (SELECT f AS fingerprint, min(doc_id * 1048576 + idx) AS p,
                   count(*) AS n FROM fp GROUP BY 1)
      SELECT fingerprint,
             CAST(p // 1048576 AS BIGINT) AS keeper_doc,
             CAST(p % 1048576 AS BIGINT) AS keeper_idx,
             CAST(n AS BIGINT) AS n_instances
      FROM g ORDER BY fingerprint""")),
    derived("q50_streaming_heavy_hitters", "p38_heavy_hitters"),
    derived("q51_streaming_ann", "p08_embedding_topk"),
    derived("q52_streaming_sample", "p19_stratified_sample"),
    ("q53_tail_read",
      (s, d) => graft.streaming.StreamingQueries.tailReadDocuments(s, d),
      Some("""
      SELECT doc_id, md5(text) AS text_md5 FROM documents ORDER BY doc_id""")),
    derived("q56_streaming_perplexity", "p45_perplexity"),
    ("q59_streaming_hll",
      (s, d) => graft.streaming.StreamingQueries.hllDistinct(s, d),
      Some(sharedOracle("p48_hll_distinct"))),
    ("q60_streaming_bm25",
      (s, d) => graft.streaming.StreamingQueries.bm25TopK(s, d),
      Some(sharedOracle("p49_bm25_topk"))),
    ("q61_streaming_quantiles",
      (s, d) => graft.streaming.StreamingQueries.histQuantiles(s, d),
      Some(sharedOracle("p50_hist_quantiles"))),
    derived("q62_streaming_weighted_sample", "p51_weighted_sample"),
    ("q63_streaming_decontam",
      (s, d) => graft.streaming.StreamingQueries.decontaminate(s, d),
      Some(sharedOracle("p23_decontam"))),
    ("q64_streaming_source_kl",
      (s, d) => graft.streaming.StreamingQueries.sourceKl(s, d),
      Some(sharedOracle("p54_source_kl"))),
    derived("q66_streaming_phash_dedup", "p56_phash_dedup"),
    ("q65_streaming_index_stats",
      (s, d) => graft.streaming.StreamingQueries.indexStats(s, d),
      Some("""
      WITH u AS (SELECT doc_id,
                   unnest(list_filter(regexp_split_to_array(text, '\s+'),
                     t -> t <> '')) AS tok
                 FROM documents),
      tf AS (SELECT tok, doc_id, count(*) AS tf FROM u GROUP BY 1, 2)
      SELECT tok, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
      FROM tf GROUP BY 1 ORDER BY tok""")),
    ("q69_streaming_lsh_candidates",
      (s, d) => graft.streaming.StreamingQueries.lshCandidatePairs(s, d),
      Some(sharedOracle("p05_minhash_pairs"))),
    ("q67_streaming_posting_log",
      (s, d) => graft.streaming.StreamingQueries.logStructuredIndex(s, d),
      Some(sharedOracle("p55_inverted_index"))),
    ("q68_streaming_bm25_fresh",
      (s, d) => graft.streaming.StreamingQueries.bm25FreshStats(s, d),
      Some(sharedOracle("p49_bm25_topk"))),
    derived("q70_streaming_bpe_train", "p58_bpe_train"),
    derived("q71_streaming_rag_chunks", "p60_rag_chunks"),
    derived("q72_streaming_url_dedup", "p63_url_dedup"),
    derived("q73_streaming_bpe_encode", "p64_bpe_encode"),
    ("q74_streaming_phrase_fresh",
      (s, d) => graft.streaming.StreamingQueries.phraseServeFresh(s, d),
      Some(sharedOracle("p62_phrase_search"))),
    ("q75_streaming_ann_append",
      (s, d) => graft.streaming.StreamingQueries.annIndexAppend(s, d),
      Some(sharedOracle("p65_ann_index_append"))),
    ("q76_streaming_tombstone_dedup",
      (s, d) => graft.streaming.StreamingQueries.tombstoneDedup(s, d),
      Some(sharedOracle("p66_tombstone_dedup"))),
    ("q77_streaming_index_tombstones",
      (s, d) => graft.streaming.StreamingQueries.indexTombstones(s, d),
      Some(sharedOracle("p67_index_tombstones"))),
    ("q78_streaming_bm25_deletes",
      (s, d) => graft.streaming.StreamingQueries.bm25Deletes(s, d),
      Some(PipelineQueries.bm25Oracle(
        " WHERE NOT ((doc_id // 20) % 7 = 3)"))),
    ("q79_streaming_corpus_build4",
      (s, d) => graft.streaming.StreamingQueries.corpusBuild4(s, d),
      Some(sharedOracle("p73_corpus_build4"))),
    ("q80_streaming_minhash_append",
      (s, d) => graft.streaming.StreamingQueries.minhashIndexAppend(s, d),
      Some(sharedOracle("p78_minhash_index_verify"))),
    derived("q81_streaming_log_odds", "p81_log_odds_quality"),
    derived("q82_streaming_phash_near", "p80_phash_near_dedup"),
    derived("q83_streaming_sketch_overlap", "p84_sketch_overlap"),
    ("q84_streaming_release_manifest",
      (s, d) => graft.streaming.StreamingQueries.releaseManifestStream(s, d),
      Some(sharedOracle("p88_release_manifest"))),
    ("q85_streaming_span_scrub",
      (s, d) => graft.streaming.StreamingQueries.spanScrubStream(s, d),
      Some(sharedOracle("p87_span_scrub"))),
    derived("q86_streaming_calibration", "p90_quality_calibration"),
    ("q87_streaming_corpus_release",
      (s, d) => graft.streaming.StreamingQueries.corpusReleaseStream(s, d),
      Some(sharedOracle("p91_corpus_release"))),
    ("q88_streaming_hybrid_rrf",
      (s, d) => graft.streaming.StreamingQueries.hybridRrfStream(s, d),
      Some(sharedOracle("p94_hybrid_rrf"))),
    derived("q93_streaming_anomaly", "q92_anomaly_hours"),
    derived("q94_streaming_split", "p96_leakage_safe_split"),
    ("q95_streaming_covariance",
      (s, d) => graft.streaming.StreamingQueries.covarianceStream(s, d),
      Some(sharedOracle("p100_embedding_covariance"))),
    derived("q98_streaming_active", "q97_rolling_active"),
    derived("q101_streaming_trend", "q100_trend_slopes"),
    derived("q102_streaming_prefix", "p103_prefix_index"),
    derived("q103_streaming_quality", "p102_data_quality"),
    ("q106_streaming_sessions",
      (s, d) => graft.streaming.StreamingQueries.sessionExportStream(s, d),
      Some(sharedOracle("q105_session_export"))),
    derived("q107_streaming_ewma", "q99_ewma_hours"),
    derived("q108_streaming_pii", "p109_pii_redact"),
    ("q110_streaming_audio",
      (s, d) => graft.streaming.StreamingQueries.audioStatsStream(s, d),
      Some(sharedOracle("p110_audio_stats"))),
    ("q111_streaming_self_dedup",
      (s, d) => graft.streaming.StreamingQueries.selfDedupStream(s, d),
      Some(sharedOracle("p114_self_dedup"))),
    ("q112_streaming_funnel",
      (s, d) => graft.streaming.StreamingQueries.filterFunnelStream(s, d),
      Some(sharedOracle("p117_filter_funnel"))),
    derived("q113_streaming_dsir", "p115_dsir_weights"),
    ("q114_streaming_span_log",
      (s, d) => graft.streaming.StreamingQueries.spanIndexLog(s, d),
      Some(sharedOracle("p122_span_index_lifecycle"))),
    ("q115_streaming_semantic_decontam",
      (s, d) => graft.streaming.StreamingQueries.semanticDecontamStream(s, d),
      Some(sharedOracle("p118_semantic_decontam"))),
    derived("q116_streaming_normalize", "p120_text_normalize"),
    derived("q117_streaming_script_mix", "p128_script_mix"),
    derived("q118_streaming_html_extract", "p130_html_extract"),
    ("q119_streaming_outlinks",
      (s, d) => graft.streaming.StreamingQueries.outlinksStream(s, d),
      Some(sharedOracle("p131_outlinks"))),
    ("q120_streaming_robots",
      (s, d) => graft.streaming.StreamingQueries.robotsStream(s, d),
      Some(sharedOracle("p138_robots_filter"))),
    derived("q121_streaming_trap", "p142_trap_signals"),
    derived("q122_streaming_anchor_terms", "p134_anchor_terms"),
    ("q123_streaming_change_rates",
      (s, d) => graft.streaming.StreamingQueries.changeRatesStream(s, d),
      Some(sharedOracle("p141_change_rates"))),
    derived("q124_streaming_jsonl", "p143_jsonl_quarantine"),
    derived("q125_streaming_kanon", "p144_kanon_release"),
    ("q126_streaming_worklist",
      (s, d) => graft.streaming.StreamingQueries.crawlWorklistStream(s, d),
      Some(sharedOracle("p145_crawl_worklist"))),
    derived("q127_streaming_snippets", "p146_snippets"),
    derived("q128_streaming_vocab_coverage", "p151_vocab_coverage"),
    derived("q129_streaming_cdc", "p152_cdc_chunks"),
    ("q130_streaming_recrawl",
      (s, d) => graft.streaming.StreamingQueries.recrawlScheduleStream(s, d),
      Some(sharedOracle("p147_recrawl_schedule"))),
    derived("q131_streaming_byte_bpe_train", "p158_bpe_bytes_train"),
    derived("q132_streaming_byte_bpe_encode", "p159_bpe_bytes_encode"),
    ("q133_streaming_per_host_worklist",
      (s, d) => graft.streaming.StreamingQueries.perHostWorklistStream(s, d),
      Some(sharedOracle("p164_worklist_per_host"))),
    derived("q134_streaming_warc", "p167_warc_parse"),
    derived("q135_streaming_crawl_delay", "p161_robots_crawl_delay"),
    derived("q136_streaming_cdx", "p170_cdx_index"),
    derived("q138_streaming_warc_images", "p178_warc_images"),
    derived("q140_streaming_http", "p179_http_split"),
    ("q141_streaming_unigram",
      (s, d) => graft.streaming.StreamingQueries.unigramEncodeStream(s, d),
      Some(sharedOracle("p191_unigram_viterbi"))),
    derived("q142_streaming_wordpiece", "p196_wordpiece_encode"),
    derived("q143_streaming_kn", "p201_kn_perplexity"),
    ("q144_streaming_quality_lr",
      (s, d) => graft.streaming.StreamingQueries.qualityLrScoring(s, d),
      // p203's chain restricted to tokenful docs — the twin's actual
      // domain (token-level scoring has no row for a tokenless doc)
      Some(PipelineQueries.qualityLrScoreTokenfulOracle)),
    ("q145_streaming_robots_wild",
      (s, d) => graft.streaming.StreamingQueries.robotsWildcardStream(s, d),
      Some(sharedOracle("p204_robots_wildcards"))),
    derived("q146_streaming_kn3", "p205_kn_trigram_ppl"),
    ("q147_streaming_wordpiece_train",
      (s, d) => graft.streaming.StreamingQueries.wordPieceTrainStream(s, d),
      Some(sharedOracle("p198_wordpiece_train"))),
    ("q148_streaming_paced_worklist",
      (s, d) => graft.streaming.StreamingQueries.pacedWorklistStream(s, d),
      Some(PipelineQueries.pacedWorklistOracle)),
    derived("q149_streaming_nfc_dedup", "p208_unicode_nfc"),
    ("q150_streaming_unigram_train",
      (s, d) => graft.streaming.StreamingQueries.unigramTrainStream(s, d),
      Some(sharedOracle("p193_unigram_train"))),
    derived("q151_streaming_wat", "p186_wat_metadata"),
    derived("q152_streaming_meta_robots", "p211_meta_robots"),
    derived("q153_streaming_follow_harvest", "p212_follow_harvest"),
    derived("q154_streaming_entropy", "p213_token_entropy"),
    derived("q155_streaming_rel_canonical", "p215_rel_canonical"),
    derived("q156_streaming_meta_refresh", "p216_meta_refresh"),
    ("q157_streaming_alias_chains",
      (s, d) => graft.streaming.StreamingQueries.aliasChainsStream(s, d),
      Some(sharedOracle("p217_canonical_chains"))),
    derived("q158_streaming_gif_frames", "p221_gif_frames"),
    ("q159_streaming_sq8_serve",
      (s, d) => graft.streaming.StreamingQueries.sq8ServeStream(s, d),
      Some(sharedOracle("p218_sq8_lifecycle"))),
    ("q160_streaming_ivf_sq8",
      (s, d) => graft.streaming.StreamingQueries.ivfSq8ServeStream(s, d),
      Some(sharedOracle("p225_ivf_sq8"))),
    derived("q161_streaming_sentence_chunks", "p227_sentence_chunks"),
    derived("q162_streaming_langid_script", "p224_langid_script"),
    ("q139_streaming_cdx_serve",
      (s, d) => graft.streaming.StreamingQueries.cdxServeStream(s, d),
      Some(PipelineQueries.warcFixtureOracleSqlFrom(
        "SELECT doc_id, text, CAST(0 AS BIGINT) AS fno FROM documents", """
      SELECT 'com,src' || CAST(doc_id % 20 AS VARCHAR) || ')/p/'
               || CAST(doc_id AS VARCHAR) AS surt_key,
             target_uri, file_id, record_idx, "offset", record_bytes
      FROM ext WHERE target_uri IS NOT NULL AND doc_id % 97 = 0
      ORDER BY surt_key"""))),
    ("q137_streaming_revisit",
      (s, d) => graft.streaming.StreamingQueries.cdxRevisitStream(s, d),
      Some(PipelineQueries.warcFixtureOracleSqlFrom(
        """SELECT doc_id, text, CAST(0 AS BIGINT) AS fno FROM documents
           UNION ALL
           SELECT doc_id, text, CAST(1 AS BIGINT) AS fno FROM documents
           WHERE doc_id % 5 = 0""", """
        , cdx AS (
          SELECT file_id, "offset", sha256(body) AS digest
          FROM ext WHERE target_uri IS NOT NULL)
        SELECT digest,
               CAST(min(file_id * 1000000000000 + "offset")
                 // 1000000000000 AS BIGINT) AS orig_file,
               CAST(min(file_id * 1000000000000 + "offset")
                 % 1000000000000 AS BIGINT) AS orig_offset,
               count(*) AS n_copies
        FROM cdx GROUP BY digest ORDER BY digest""")))) ++
      ParityQueries.streamingDefs ++ PipelineQueries.streamingDefs ++
      Extended.streamingDefs
  }

  /** The names of every entry that starts a Structured Streaming query
    * when called — the registry [[streamingDefs]] builds.
    */
  private[graft] lazy val streamingNames: Set[String] =
    streamingDefs.map(_._1).toSet

  private lazy val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Relational.defs ++ ParityQueries.defs ++ PipelineQueries.defs ++
      PipelineQueries.lateDefs ++ streamingDefs ++ Extended.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Composite: scan → broadcast join → agg → top-k.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, d)
    val o = Tables.orders(spark, d)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("revenue").desc)
  }

  /** One entry per implemented operator from SURVEY.md §2. Each puts
    * the engine's local filesystem under its session first
    * ([[graft.sources.LocalFs.install]]), so a session the engine did
    * not build runs on it too.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (n, f, _) =>
      n -> { (spark: SparkSession, dir: String) =>
        graft.sources.LocalFs.install(spark)
        f(spark, dir)
      }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    all.collect { case (n, _, Some(sql)) => n -> sql.trim }.toMap

  /** Headline queries for Bench (one per operator family — relational
    * core, window/session analytics, dedup, similarity).
    */
  def benchQueries: Seq[String] = Seq(
    "q01_pricing_summary", "q03_revenue_by_segment", "q04_semi_join",
    "q06_window_topk", "q07_rollup", "q13_scalar_functions",
    "q17_running_sum", "q18_change_groups", "q21_tumbling_window",
    "q22_session_window", "q28_retry_fixpoint",
    "p01_dedup_exact", "p05_minhash_pairs", "p06_simhash", "p08_embedding_topk",
    "p17_ann_pq", "p22_repetition_filter", "p23_decontam", "p27_random_projection",
    "p32_sequence_pack", "p34_ann_ivfpq", "p44_semantic_dedup", "p45_perplexity",
    "p49_bm25_topk", "p50_hist_quantiles", "p52_source_overlap", "p54_source_kl",
    // round-5 batch surface: real-pixel image dedup, family-rollup
    // provenance, BPE training, RAG chunking, phrase serve, URL dedup
    "p56_phash_dedup", "p57_source_family_overlap", "p58_bpe_train",
    "p60_rag_chunks", "p62_phrase_search", "p63_url_dedup",
    // round-6: merge-table tokenizer inference over the corpus, and
    // the tokenize→pack composition that ends the pretraining pipeline
    "p64_bpe_encode", "p70_tokenize_pack",
    // round-7: Hamming-tolerant image near-dedup (real decode + banded
    // code pairing) and the discriminative log-odds quality filter
    "p80_phash_near_dedup", "p81_log_odds_quality",
    // round-7 continued: sketch overlap (one bounded-exchange corpus
    // aggregation), bloom-prefiltered decontam (map-side pruning), the
    // grouping-sets release manifest, filtered vector search, and
    // hybrid RRF retrieval
    "p84_sketch_overlap", "p85_bloom_decontam", "p88_release_manifest",
    "p93_filtered_ann", "p94_hybrid_rrf",
    // round-7 continued: the per-epoch dataloader job (deterministic
    // shuffle → pack, one shared exchange), event-sequence mining, the
    // distributed-prefix-sum sweep, and the rolling-active report
    "p99_epoch_pack", "q91_event_paths",
    "q96_peak_concurrency", "q97_rolling_active",
    // the one-pass typed-Aggregator covariance and the curriculum
    // shuffle→pack composition
    "p100_embedding_covariance", "p105_curriculum_pack",
    // round-8: real-WAV audio decode + integer DSP throughput, and the
    // two-window attribution job (exchange-reuse under a rows + range
    // window pair)
    "p110_audio_stats", "q109_attribution",
    // round-8 continued: span-level self-dedup (packed-key election
    // over every positional shingle + coverage scrub — the heaviest
    // per-token corpus pass in the suite) and the 4-tier ablation
    // report (exact + url + chunk + span machinery in one plan)
    "p114_self_dedup", "p125_dedup_ablation",
    // round-8 continued: the crawl front — WET-step regex extraction
    // throughput (scan-stage codegen chain over the full corpus) and
    // the iterative-join execution class (5-round integer PageRank
    // over the harvested link graph)
    "p130_html_extract", "p132_link_pagerank",
    // round-8 continued: field-fused retrieval (broadcast anchor side
    // + map-side vocab IN-list + one union aggregate)
    "p136_anchor_bm25f",
    // round-8 continued: the full crawl composition (harvest → gate →
    // rank → spend → bounded top-k select), the hit-anchored snippet
    // pair-join (per-doc work bounded by query-term occurrences, not
    // token count), and the line-frequency hygiene pass (two corpus
    // text passes + a (family, line) stats join)
    "p145_crawl_worklist", "p146_snippets", "p148_boilerplate_strip",
    // round-9: byte-level tokenizer inference over the decorated corpus
    // (map-side codegen kernel throughput), the two-level host-cap
    // worklist (double bounded-TopK exchange), WARC container
    // assembly + byte-walk parse (the ingest codec class), and the
    // per-record-gzip member walk (the same class under Common
    // Crawl's compressed layout — inflate dominates)
    "p159_bpe_bytes_encode", "p164_worklist_per_host", "p167_warc_parse",
    "p176_warc_gz_members",
    // round-10: the HTTP message layer over the archive (head parse +
    // charset decode + extract in one scan-stage chain — what every
    // real response record costs), and the CDX LSM lifecycle (two
    // affected-shard compactions + the pruned two-level serve — the
    // index-maintenance cost story)
    "p179_http_split", "p183_cdx_compact",
    // round-10 continued: magic-byte routing over mixed payloads (the
    // sniff kernel + splitHttp in one scan chain) and unigram-LM
    // training + Viterbi serving on the corpus (seed → EM → encode —
    // the tokenizer-training cost class beside p58's BPE)
    "p188_mime_route", "p193_unigram_train",
    // round-10 continued: WordPiece training + greedy serving (the
    // likelihood-merge member of the tokenizer-training class), KN
    // perplexity end to end (count-table train + four-join micro-nat
    // scoring — the model-eval class beside p45's add-one), and two
    // GD iterations of the logistic quality classifier (iterative
    // corpus passes with dim-sized driver state)
    "p198_wordpiece_train", "p201_kn_perplexity", "p202_quality_lr_train",
    // round-11: the NFC-normalized exact dedup (the codegen'd
    // Normalizer projection + corpus-wide election), the CDX shard
    // coalesce lifecycle (takedown compaction + undersized-run merge
    // + pruned serve — the maintenance cost story beside p183), and
    // the SQ8 quantize-serve recall audit (two brute-force rankings
    // over the dequantized store)
    "p208_unicode_nfc", "p209_cdx_coalesce", "p210_sq8_recall",
    // round-12: the directive-gated crawl front (follow harvest +
    // alias pointer resolution riding the p145 chain), page-level
    // directive flags under the scoped X-Robots-Tag grammar, the
    // follow harvest itself, canonical/refresh declaration extraction,
    // alias-chain resolution, and the SQ8 store lifecycle (two gated
    // blue/green publishes + the quantized serve)
    "p211_meta_robots", "p212_follow_harvest", "p213_token_entropy",
    "p214_nfkc_keys", "p215_rel_canonical", "p216_meta_refresh",
    "p217_canonical_chains", "p218_sq8_lifecycle",
    // the interleaved LSM maintenance history (build → append →
    // split → takedown → coalesce → pruned serve) and the complete
    // three-kind alias union (Location ∪ refresh ∪ canonical)
    "p219_cdx_history", "p220_full_alias_frontier",
    // real compressed-animation decode (animated GIF through the JDK
    // LZW codec — structure scan + sampled-frame-only inflate) and the
    // mixed WAV/AIFF archive statistics (container auto-detect)
    "p221_gif_frames", "p222_mixed_audio_stats",
    // RFC 3986 path-relative link resolution through the harvest,
    // script-routed language ID composed with the quality gate, the
    // IVF-SQ8 composition over the packed-codes store, and the
    // delta-frame GIF compositing sampler
    "p223_relative_link_harvest", "p224_langid_script", "p225_ivf_sq8",
    "p226_gif_delta_frames",
    // sentence-budget RAG chunking; SQ8 frozen-model append lifecycle
    "p227_sentence_chunks", "p228_sq8_append")
}
