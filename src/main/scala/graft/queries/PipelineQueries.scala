package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.similarity.SimilaritySearch

/** LLM-training-data pipeline operators as declared queries, each with an
  * exact DuckDB oracle (md5-based hashing keeps MinHash/SimHash portable
  * across engines — see [[graft.functions.HashFunctions]]).
  */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  /** DuckDB SQL fragment: whitespace tokens of `e` with empties dropped —
    * exact dual of [[TextFunctions.tokens]].
    */
  private def sqlToks(e: String): String =
    s"list_filter(regexp_split_to_array($e, '\\s+'), t -> t <> '')"

  /** DuckDB SQL fragment: word 3-gram shingles of column text —
    * exact dual of [[TextFunctions.shingles]].
    */
  private val sqlShingles: String = {
    val toks = sqlToks("text")
    s"""CASE WHEN len($toks) >= 3
          THEN list_transform(generate_series(1, len($toks) - 2),
                 i -> array_to_string(($toks)[i:i+2], ' '))
          ELSE [] END"""
  }

  /** DuckDB SQL fragment: deterministic 40-bit hash in [1, 2^40] — exact
    * dual of [[graft.dedup.Dedup.sketchHash40]] (first 10 hex chars of
    * md5 parsed positionally, +1).
    */
  private def sqlHash40(e: String, off: Int = 0): String =
    s"""(1 + list_aggregate(list_transform(range(10), i ->
          CAST(instr('0123456789abcdef', substr(md5($e), CAST($off + i+1 AS INT), 1)) - 1
               AS BIGINT) * (1::BIGINT << CAST(4*(9-i) AS INT))), 'sum'))"""

  /** DuckDB SQL fragment: the [[graft.dedup.Dedup]] sketch estimator —
    * (2^40·B·(B−1)) div S over B bucket minima summing to S (see
    * Dedup.sketchEst for why sum-of-minima).
    */
  private def sqlSketchEst(b: String, s: String): String =
    s"CAST((1099511627776 * $b * ($b - 1)) // $s AS BIGINT)"

  private val langs = TextFunctions.langStopwords.keys.toSeq.sorted

  /** DuckDB SQL: hash bucket in [0, 10000) from an md5-hex column `m` —
    * exact dual of [[graft.curation.Curation.hashBucket]] (first 6
    * nibbles, base-16, mod 10⁴), parsed positionally.
    */
  private def sqlBucketFromMd5(m: String): String = {
    val nib = (i: Int) => s"(strpos('0123456789abcdef', substr($m, $i, 1)) - 1)"
    s"""CAST((${nib(1)} * 1048576 + ${nib(2)} * 65536 + ${nib(3)} * 4096
            + ${nib(4)} * 256 + ${nib(5)} * 16 + ${nib(6)}) % 10000 AS BIGINT)"""
  }

  /** Oracle for cluster-granular dedup (p18 + p31): each doc's component
    * min over the verified near-dup graph by recursive reachability —
    * the fixpoint BOTH connected-components variants (min-label and
    * large-star/small-star) reach, so one oracle pins both dataflows.
    */
  private lazy val clusterDedupOracle: String = s"""
      WITH RECURSIVE sh0 AS (SELECT doc_id, $sqlShingles AS shingles FROM documents
                   WHERE len($sqlShingles) >= 1),
      sig AS (
        SELECT doc_id, list_transform(generate_series(0, 7),
                 i -> list_min(list_transform(shingles,
                        s -> md5(CAST(i AS VARCHAR) || ':' || s)))) AS sig
        FROM sh0),
      bands AS (
        SELECT doc_id, unnest(list_transform(generate_series(0, 3),
                 b -> CAST(b AS VARCHAR) || '|' ||
                      array_to_string(sig[b*2+1:b*2+2], '|'))) AS band_key
        FROM sig),
      cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
               FROM bands a JOIN bands b
                 ON a.band_key = b.band_key AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
      shd AS (SELECT DISTINCT doc_id, unnest(shingles) AS sh FROM sh0),
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY 1),
      inter AS (SELECT id_a, id_b, count(*) AS n_inter
                FROM cand JOIN shd sa ON id_a = sa.doc_id
                          JOIN shd sb ON id_b = sb.doc_id AND sa.sh = sb.sh
                GROUP BY 1, 2),
      ver AS (SELECT c.id_a, c.id_b,
                round(CAST(coalesce(n_inter, 0) AS DOUBLE) /
                      CAST(na.n_sh + nb.n_sh - coalesce(n_inter, 0) AS DOUBLE), 6) AS j
              FROM cand c
              LEFT JOIN inter ON c.id_a = inter.id_a AND c.id_b = inter.id_b
              JOIN sizes na ON c.id_a = na.doc_id
              JOIN sizes nb ON c.id_b = nb.doc_id),
      edges AS (SELECT id_a AS a, id_b AS b FROM ver WHERE j >= 0.5
                UNION ALL
                SELECT id_b AS a, id_a AS b FROM ver WHERE j >= 0.5),
      reach(src, node) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a),
      comp AS (SELECT src AS doc_id, min(node) AS keeper FROM reach GROUP BY 1)
      SELECT d.doc_id,
             coalesce(c.keeper, d.doc_id) AS keeper_id,
             coalesce(c.keeper, d.doc_id) = d.doc_id AS kept
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
      ORDER BY d.doc_id"""

  def defs: Seq[(String, Q, Option[String])] = Seq(

    ("p01_dedup_exact", Twinned { (s, d, t) =>
      t.cut(Dedup.exactGroups(t.in(Tables.documents(s, d)), col("doc_id"), col("text")))
        .orderBy(col("fingerprint"))
    }, Some(s"""
      SELECT md5(array_to_string(${sqlToks("lower(text)")}, ' ')) AS fingerprint,
             min(doc_id) AS keeper_id, count(*) AS group_size
      FROM documents GROUP BY 1 ORDER BY 1""")),

    ("p02_token_stats", (s, d) => {
      val docs = Tables.documents(s, d)
      docs.select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).cast("long").as("n_chars"),
          round(length(col("text")).cast("double") /
            TextFunctions.tokenCount(col("text")).cast("double"), 4).as("mean_tok_len"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      SELECT doc_id,
             CAST(len(${sqlToks("text")}) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars,
             round(CAST(length(text) AS DOUBLE) /
                   CAST(len(${sqlToks("text")}) AS DOUBLE), 4) AS mean_tok_len
      FROM documents ORDER BY doc_id""")),

    ("p03_lang_id", (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          TextFunctions.langId(col("text")).as("predicted"))
        .withColumn("correct", col("predicted") === col("lang"))
        .orderBy(col("doc_id"))
    }, Some {
      val scoreCols = langs.map { l =>
        val terms = TextFunctions.langStopwords(l)
          .map(w => s"CAST(len(list_filter(toks, t -> t = '$w')) AS BIGINT)")
          .mkString(" + ")
        s"($terms) AS s_$l"
      }.mkString(",\n               ")
      // argmax with alphabetical tiebreak: first lang whose score >= all
      // later langs' scores (langs are alphabetically sorted).
      val caseArms = langs.init.zipWithIndex.map { case (l, i) =>
        val rest = langs.drop(i + 1).map(o => s"s_$l >= s_$o").mkString(" AND ")
        s"WHEN $rest THEN '$l'"
      }.mkString("\n                    ")
      s"""
      WITH toks AS (SELECT doc_id, lang, ${sqlToks("lower(text)")} AS toks FROM documents),
      scored AS (SELECT doc_id, lang,
               $scoreCols
             FROM toks)
      SELECT doc_id, lang,
             CASE $caseArms
                    ELSE '${langs.last}' END AS predicted,
             (CASE $caseArms
                    ELSE '${langs.last}' END) = lang AS correct
      FROM scored ORDER BY doc_id"""
    }),

    ("p04_quality_score", (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }, Some {
      val en = TextFunctions.langStopwords("en")
        .map(w => s"CAST(len(list_filter(ltoks, t -> t = '$w')) AS BIGINT)")
        .mkString(" + ")
      s"""
      WITH base AS (
        SELECT doc_id,
               CAST(len(${sqlToks("text")}) AS DOUBLE) AS n_tok,
               CAST(length(text) AS DOUBLE) AS n_char,
               CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) AS alnum,
               ${sqlToks("lower(text)")} AS ltoks
        FROM documents),
      m AS (
        SELECT doc_id, n_tok, n_char, alnum,
               CASE WHEN n_tok > 0 THEN n_char / n_tok ELSE 0.0 END AS mean_tok_len,
               CASE WHEN n_tok > 0 THEN CAST($en AS DOUBLE) / n_tok ELSE 0.0 END AS stop_ratio,
               CASE WHEN n_char > 0 THEN (n_char - alnum) / n_char ELSE 0.0 END AS punct_ratio
        FROM base)
      SELECT doc_id,
             round(least(greatest(
               least(n_tok / 100.0, 1.0) * 0.4 +
               (CASE WHEN mean_tok_len >= 3 AND mean_tok_len <= 10 THEN 1.0 ELSE 0.5 END) * 0.2 +
               stop_ratio * 0.2 + (1.0 - punct_ratio) * 0.2,
               0.0), 1.0), 4) AS quality
      FROM m ORDER BY doc_id"""
    }),

    ("p05_minhash_pairs", (s, d) => {
      Dedup.minhashCandidates(Tables.documents(s, d), col("doc_id"), col("text"),
          shingleN = 3, numBands = 4, rowsPerBand = 2)
        .orderBy(col("id_a"), col("id_b"))
    }, Some(s"""
      WITH $minhashBandsCtes
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
      GROUP BY 1, 2 ORDER BY 1, 2""")),

    ("p06_simhash", (s, d) => {
      Dedup.simhash(Tables.documents(s, d), col("doc_id"), col("text"), bits = 16)
        .localCheckpoint(eager = false) // one-shot: the sort samples then re-runs its child
        .orderBy(col("doc_id"))
    }, Some {
      val sums = (0 until 16).map { b =>
        val nib = s"(strpos('0123456789abcdef', substr(m, ${b / 4 + 1}, 1)) - 1)"
        val bit = s"CAST(floor($nib / ${1 << (b % 4)}) AS BIGINT) % 2"
        s"sum($bit * 2 - 1) AS s_$b"
      }.mkString(",\n               ")
      val code = (0 until 16)
        .map(b => s"(CASE WHEN s_$b >= 0 THEN ${1L << b} ELSE 0 END)")
        .mkString(" + ")
      s"""
      WITH tok AS (SELECT doc_id, unnest(${sqlToks("lower(text)")}) AS tok FROM documents),
      h AS (SELECT doc_id, md5(tok) AS m FROM tok),
      bits AS (SELECT doc_id,
               $sums
             FROM h GROUP BY 1)
      SELECT doc_id, CAST($code AS BIGINT) AS simhash FROM bits ORDER BY doc_id"""
    }),

    ("p07_ngram_jaccard", (s, d) => {
      val docs = Tables.documents(s, d)
      val a = docs.select(col("source"), col("doc_id").as("id_a"))
      val b = docs.select(col("source"), col("doc_id").as("id_b"))
      val pairs = a.join(b, Seq("source")).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      Dedup.ngramJaccard(docs, col("doc_id"), col("text"), pairs, shingleN = 3)
        .filter(col("n_inter") > 0)
        .orderBy(col("id_a"), col("id_b"))
    }, Some(s"""
      WITH sh0 AS (SELECT doc_id, source, $sqlShingles AS shingles FROM documents),
      shd AS (SELECT DISTINCT doc_id, source, unnest(shingles) AS sh FROM sh0),
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY 1),
      inter AS (SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, count(*) AS n_inter
                FROM shd sa JOIN shd sb
                  ON sa.source = sb.source AND sa.sh = sb.sh AND sa.doc_id < sb.doc_id
                GROUP BY 1, 2)
      SELECT id_a, id_b, n_inter,
             round(CAST(n_inter AS DOUBLE) /
                   CAST(na.n_sh + nb.n_sh - n_inter AS DOUBLE), 6) AS jaccard
      FROM inter JOIN sizes na ON na.doc_id = id_a
                 JOIN sizes nb ON nb.doc_id = id_b
      ORDER BY id_a, id_b""")),

    ("p08_embedding_topk", Twinned { (s, d, t) =>
      val e = Tables.embeddings(s, d)
      t.cut(SimilaritySearch.bruteForceTopK(t.in(e), col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 20), col("vec_id"), col("embedding"), k = 5))
        .orderBy(col("query_id"), col("rank"))
    }, Some(bruteTopkOracle)),

    ("p09_ann_lsh", (s, d) => {
      val e = Tables.embeddings(s, d)
      SimilaritySearch.lshTopK(e, col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 20), col("vec_id"), col("embedding"),
          k = 5, bucketBits = 4)
        .orderBy(col("query_id"), col("rank"))
    }, Some("""
      WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                        array_to_string(list_transform(embedding[1:4],
                          x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
                 FROM embeddings),
      q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 20),
      scored AS (SELECT query_id, c.vec_id AS neighbor_id,
                        round(list_dot_product(c.v, qv) /
                              (sqrt(list_dot_product(c.v, c.v)) *
                               sqrt(list_dot_product(qv, qv))), 6) AS cos
                 FROM b c JOIN q USING (bucket) WHERE c.vec_id <> query_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored)
      SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 5
      ORDER BY query_id, rank""")),

    ("p10_embedding_near_dups", (s, d) => {
      Dedup.embeddingNearDups(Tables.embeddings(s, d), col("vec_id"), col("embedding"),
          threshold = 0.9, bucketBits = 4)
        .orderBy(col("id_a"), col("id_b"))
    }, Some("""
      WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                        array_to_string(list_transform(embedding[1:4],
                          x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
                 FROM embeddings)
      SELECT a.vec_id AS id_a, c.vec_id AS id_b,
             round(list_dot_product(a.v, c.v) /
                   (sqrt(list_dot_product(a.v, a.v)) *
                    sqrt(list_dot_product(c.v, c.v))), 6) AS cos
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
      WHERE round(list_dot_product(a.v, c.v) /
                  (sqrt(list_dot_product(a.v, a.v)) *
                   sqrt(list_dot_product(c.v, c.v))), 6) >= 0.9
      ORDER BY 1, 2""")),

    // REAL image decode (javax.imageio): encode the deterministic pixel
    // formula to true PNG bytes, decode them back per partition, emit
    // dims + the integer luminance total. PNG is lossless, so DuckDB
    // recomputing from the FORMULA matches Spark computing from the
    // DECODED BYTES iff the whole encode→decode chain is faithful.
    ("p11_multimodal_features", (s, d) => {
      import graft.multimodal.ImageCodec
      ImageCodec.decodeMeta(
          ImageCodec.SyntheticImages.pngFixture(Tables.documents(s, d), col("doc_id")),
          col("media_id"), col("payload"))
        .orderBy(col("media_id"))
    }, Some(s"""
      WITH ${graft.multimodal.ImageCodec.SyntheticImages.oracleDims}
      SELECT doc_id AS media_id,
             CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             CAST(w * h AS BIGINT) AS n_pixels,
             CAST(list_sum(list_transform(generate_series(0, w * h - 1),
                    k -> (seed * 31 + k * 7) % 256)) AS BIGINT) AS pix_sum
      FROM dims ORDER BY media_id""")),

    ("p12_ann_ivf", (s, d) => {
      val e = Tables.embeddings(s, d)
      SimilaritySearch.ivfTopK(e, col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 20), col("vec_id"), col("embedding"),
          k = 5, centroidStride = 25, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    }, Some("""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e
               WHERE vec_id % 25 = 0),
      asg0 AS (SELECT e.vec_id, centroid_id,
                      round(list_dot_product(e.v, cv) /
                            (sqrt(list_dot_product(e.v, e.v)) *
                             sqrt(list_dot_product(cv, cv))), 6) AS ccos
               FROM e CROSS JOIN cent),
      asg AS (SELECT vec_id, centroid_id FROM
                (SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY ccos DESC, centroid_id) AS rn FROM asg0)
              WHERE rn = 1),
      q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
      probe0 AS (SELECT query_id, centroid_id,
                        round(list_dot_product(qv, cv) /
                              (sqrt(list_dot_product(qv, qv)) *
                               sqrt(list_dot_product(cv, cv))), 6) AS ccos
                 FROM q CROSS JOIN cent),
      probes AS (SELECT query_id, centroid_id FROM
                   (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY ccos DESC, centroid_id) AS rn FROM probe0)
                 WHERE rn <= 2),
      scored AS (SELECT query_id, a.vec_id AS neighbor_id,
                        round(list_dot_product(c.v, qv) /
                              (sqrt(list_dot_product(c.v, c.v)) *
                               sqrt(list_dot_product(qv, qv))), 6) AS cos
                 FROM probes p
                 JOIN asg a ON p.centroid_id = a.centroid_id
                 JOIN e c ON a.vec_id = c.vec_id
                 JOIN q USING (query_id)
                 WHERE a.vec_id <> query_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored)
      SELECT query_id, neighbor_id, cos, CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= 5 ORDER BY query_id, rank""")),

    // FILTERED vector search — IVF under a metadata predicate, the
    // "where label = X" of every production vector store: quantizer
    // full-corpus (one shared index serves every filter), predicate
    // PRE-filters candidates so the top-k ranks matching vectors only
    // (post-filtering returns < k under selective filters). Oracle =
    // p12's CTE chain with the label predicate on the candidate side.
    ("p93_filtered_ann", (s, d) => {
      val e = Tables.embeddings(s, d)
      SimilaritySearch.ivfTopKFiltered(e, col("vec_id"), col("embedding"),
          keep = col("label") < 3,
          e.filter(col("vec_id") < 20), col("vec_id"), col("embedding"),
          k = 5, centroidStride = 25, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    }, Some("""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e
               WHERE vec_id % 25 = 0),
      asg0 AS (SELECT e.vec_id, centroid_id,
                      round(list_dot_product(e.v, cv) /
                            (sqrt(list_dot_product(e.v, e.v)) *
                             sqrt(list_dot_product(cv, cv))), 6) AS ccos
               FROM e CROSS JOIN cent WHERE e.label < 3),
      asg AS (SELECT vec_id, centroid_id FROM
                (SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY ccos DESC, centroid_id) AS rn FROM asg0)
              WHERE rn = 1),
      q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
      probe0 AS (SELECT query_id, centroid_id,
                        round(list_dot_product(qv, cv) /
                              (sqrt(list_dot_product(qv, qv)) *
                               sqrt(list_dot_product(cv, cv))), 6) AS ccos
                 FROM q CROSS JOIN cent),
      probes AS (SELECT query_id, centroid_id FROM
                   (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY ccos DESC, centroid_id) AS rn FROM probe0)
                 WHERE rn <= 2),
      scored AS (SELECT query_id, a.vec_id AS neighbor_id,
                        round(list_dot_product(c.v, qv) /
                              (sqrt(list_dot_product(c.v, c.v)) *
                               sqrt(list_dot_product(qv, qv))), 6) AS cos
                 FROM probes p
                 JOIN asg a ON p.centroid_id = a.centroid_id
                 JOIN e c ON a.vec_id = c.vec_id
                 JOIN q USING (query_id)
                 WHERE a.vec_id <> query_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored)
      SELECT query_id, neighbor_id, cos, CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= 5 ORDER BY query_id, rank""")),

    // HYBRID retrieval — lexical BM25 + vector ANN fused by reciprocal
    // rank (RRF), the standard production hybrid-search combiner:
    // rank-based credit needs no cross-scale score normalization, and a
    // doc missing from one ranking simply earns no credit there. Query
    // vectors map deterministically to the demo query ids. Oracle nests
    // the p49 BM25 oracle and a depth-15 brute-force vector ranking,
    // then fuses with the identical integer arithmetic.
    ("p94_hybrid_rrf", (s, d) => {
      import graft.text.CorpusOps
      import s.implicits._
      val docs = Tables.documents(s, d)
      val e = Tables.embeddings(s, d)
      val text = CorpusOps.bm25TopK(docs, col("doc_id"), col("text"),
          CorpusOps.bm25DemoQueries, k = 15)
        .select(col("qid"), col("doc_id"), col("rank"))
      val qmap = CorpusOps.bm25DemoQueries.map(_._1).zipWithIndex
        .map { case (q, i) => (q, i.toLong) }.toDF("qid", "query_vec")
      val vec = SimilaritySearch.bruteForceTopK(e, col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 3), col("vec_id"), col("embedding"), k = 15)
        .join(broadcast(qmap), col("query_id") === col("query_vec"))
        .select(col("qid"), col("neighbor_id").as("doc_id"), col("rank"))
      CorpusOps.rrfFuse(Seq(text, vec), k0 = 60, topK = 10)
        .orderBy(col("qid"), col("rank"))
    }, Some(hybridRrfOracle)),

    // The hybrid ranking measured by the SAME evaluation harness as the
    // lexical ranking (p83): retrievalMrr over the fused top-10 against
    // AND-match relevance — "measure, don't guess" applied to fusion
    // itself. Oracle nests the shared hybrid oracle verbatim, so the
    // evaluation cannot drift from the ranking it evaluates.
    ("p95_hybrid_mrr", (s, d) => {
      import graft.text.CorpusOps
      import s.implicits._
      val docs = Tables.documents(s, d)
      val e = Tables.embeddings(s, d)
      val text = CorpusOps.bm25TopK(docs, col("doc_id"), col("text"),
          CorpusOps.bm25DemoQueries, k = 15)
        .select(col("qid"), col("doc_id"), col("rank"))
      val qmap = CorpusOps.bm25DemoQueries.map(_._1).zipWithIndex
        .map { case (q, i) => (q, i.toLong) }.toDF("qid", "query_vec")
      val vec = SimilaritySearch.bruteForceTopK(e, col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 3), col("vec_id"), col("embedding"), k = 15)
        .join(broadcast(qmap), col("query_id") === col("query_vec"))
        .select(col("qid"), col("neighbor_id").as("doc_id"), col("rank"))
      val fused = CorpusOps.rrfFuse(Seq(text, vec), k0 = 60, topK = 10)
      val qt = CorpusOps.bm25DemoQueries
        .flatMap { case (q, ts) => ts.distinct.map((q, _)) }.toDF("qid", "term")
      val qs = qt.groupBy(col("qid")).agg(count(lit(1)).as("nt"))
      val dt = docs.select(col("doc_id"),
        explode(array_distinct(TextFunctions.tokens(col("text")))).as("term"))
      val rel = dt.join(broadcast(qt), Seq("term"))
        .groupBy(col("qid"), col("doc_id")).agg(count(lit(1)).as("m"))
        .join(broadcast(qs), Seq("qid")).filter(col("m") === col("nt"))
        .select(col("qid"), col("doc_id"))
      CorpusOps.retrievalMrr(fused, rel).orderBy(col("qid"))
    }, Some {
      val qtVals = graft.text.CorpusOps.bm25DemoQueries
        .flatMap { case (q, ts) => ts.distinct.map(t => s"('$q', '$t')") }
        .mkString(", ")
      s"""
      WITH r AS ($hybridRrfOracle),
      qt AS (SELECT * FROM (VALUES $qtVals) AS t(qid, term)),
      qs AS (SELECT qid, count(*) AS nt FROM qt GROUP BY 1),
      dt AS (SELECT DISTINCT doc_id, term FROM
               (SELECT doc_id, unnest(${sqlToks("text")}) AS term
                FROM documents)),
      mm AS (SELECT qt.qid, dt.doc_id, count(*) AS m
             FROM qt JOIN dt USING (term) GROUP BY 1, 2),
      rel AS (SELECT mm.qid, mm.doc_id
              FROM mm JOIN qs USING (qid) WHERE m = nt),
      fr AS (SELECT r.qid, min(r.rank) AS frk, count(*) AS n_rel_topk
             FROM r JOIN rel ON r.qid = rel.qid AND r.doc_id = rel.doc_id
             GROUP BY 1),
      qq AS (SELECT DISTINCT qid FROM r)
      SELECT qq.qid, CAST(coalesce(n_rel_topk, 0) AS BIGINT) AS n_rel_topk,
             CAST(coalesce(frk, 0) AS BIGINT) AS first_rel_rank,
             CAST(coalesce(1000000 // frk, 0) AS BIGINT) AS rr_micro
      FROM qq LEFT JOIN fr USING (qid) ORDER BY qq.qid"""
    }),

    // two-stage ANN: PQ shortlist (k·refine from codes alone) → exact
    // cosine rerank on candidates only. Oracle = p17's CTE chain with a
    // rerank tail.
    ("p21_ann_pq_rerank", (s, d) => {
      val e = Tables.embeddings(s, d)
      SimilaritySearch.pqTopKRerank(e, col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 20), col("vec_id"), col("embedding"),
          k = 5, dim = 64, numSubspaces = 4, codeStride = 25, refine = 4)
        .orderBy(col("query_id"), col("rank"))
    }, Some("""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      js AS (SELECT unnest(generate_series(0, 3)) AS j),
      sub AS (SELECT vec_id, j, v[j*16+1 : j*16+16] AS sv FROM e CROSS JOIN js),
      cb AS (SELECT vec_id AS code_id, j, sv AS cw FROM sub WHERE vec_id % 25 = 0),
      d AS (SELECT s.vec_id, s.j, cb.code_id,
                   CAST(round((list_dot_product(s.sv, s.sv)
                             - 2.0 * list_dot_product(s.sv, cb.cw)
                             + list_dot_product(cb.cw, cb.cw)) * 1000000) AS BIGINT) AS d2
            FROM sub s JOIN cb ON s.j = cb.j),
      enc AS (SELECT vec_id, j, code_id FROM
                (SELECT *, row_number() OVER (PARTITION BY vec_id, j
                   ORDER BY d2, code_id) AS rn FROM d)
              WHERE rn = 1),
      qt AS (SELECT vec_id AS query_id, j, code_id, d2 AS qd2
             FROM d WHERE vec_id < 20),
      approx AS (SELECT query_id, enc.vec_id AS neighbor_id, sum(qd2) AS a
                 FROM enc JOIN qt ON enc.j = qt.j AND enc.code_id = qt.code_id
                 WHERE enc.vec_id <> qt.query_id
                 GROUP BY 1, 2),
      shortlist AS (SELECT query_id, neighbor_id FROM
                      (SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY a, neighbor_id) AS rn FROM approx)
                    WHERE rn <= 20),
      q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
      rr AS (SELECT s.query_id, s.neighbor_id,
                    round(list_dot_product(c.v, qv) /
                          (sqrt(list_dot_product(c.v, c.v)) *
                           sqrt(list_dot_product(qv, qv))), 6) AS cos
             FROM shortlist s JOIN e c ON s.neighbor_id = c.vec_id
                  JOIN q ON s.query_id = q.query_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id) AS rank
            FROM rr)
      SELECT query_id, neighbor_id, cos, CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= 5 ORDER BY query_id, rank""")),

    // 48-bit codes / 12-bit bands: 16-bit codes give only 16 bucket
    // values per 4-bit band — quadratic candidate blow-up. 12-bit bands
    // (4096 buckets) keep buckets near-singleton while the pigeonhole
    // guarantee (maxDist 3 < 4 bands) is unchanged.
    // PQ/ADC in exact micro-unit integers: every distance is
    // round(1e6·||a−b||²) computed from the same three list_dot_product
    // folds in both engines, so encode argmins and ADC sums are BIGINT
    // arithmetic — no float merge-order hazard anywhere in the compare.
    ("p17_ann_pq", (s, d) => {
      val e = Tables.embeddings(s, d)
      SimilaritySearch.pqTopK(e, col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 20), col("vec_id"), col("embedding"),
          k = 5, dim = 64, numSubspaces = 4, codeStride = 25)
        .orderBy(col("query_id"), col("rank"))
    }, Some("""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      js AS (SELECT unnest(generate_series(0, 3)) AS j),
      sub AS (SELECT vec_id, j, v[j*16+1 : j*16+16] AS sv FROM e CROSS JOIN js),
      cb AS (SELECT vec_id AS code_id, j, sv AS cw FROM sub WHERE vec_id % 25 = 0),
      d AS (SELECT s.vec_id, s.j, cb.code_id,
                   CAST(round((list_dot_product(s.sv, s.sv)
                             - 2.0 * list_dot_product(s.sv, cb.cw)
                             + list_dot_product(cb.cw, cb.cw)) * 1000000) AS BIGINT) AS d2
            FROM sub s JOIN cb ON s.j = cb.j),
      enc AS (SELECT vec_id, j, code_id FROM
                (SELECT *, row_number() OVER (PARTITION BY vec_id, j
                   ORDER BY d2, code_id) AS rn FROM d)
              WHERE rn = 1),
      qt AS (SELECT vec_id AS query_id, j, code_id, d2 AS qd2
             FROM d WHERE vec_id < 20),
      scored AS (SELECT query_id, enc.vec_id AS neighbor_id,
                        CAST(sum(qd2) AS BIGINT) AS approx_d2_u6
                 FROM enc JOIN qt ON enc.j = qt.j AND enc.code_id = qt.code_id
                 WHERE enc.vec_id <> qt.query_id
                 GROUP BY 1, 2),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY approx_d2_u6, neighbor_id) AS rank
            FROM scored)
      SELECT query_id, neighbor_id, approx_d2_u6, CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= 5 ORDER BY query_id, rank""")),

    ("p13_simhash_candidates", (s, d) => {
      Dedup.simhashCandidates(Tables.documents(s, d), col("doc_id"), col("text"),
          bits = 48, bands = 4, maxDist = 3)
        .orderBy(col("id_a"), col("id_b"))
    }, Some {
      val sums = (0 until 48).map { b =>
        val nib = s"(strpos('0123456789abcdef', substr(m, ${b / 4 + 1}, 1)) - 1)"
        val bit = s"CAST(floor($nib / ${1 << (b % 4)}) AS BIGINT) % 2"
        s"sum($bit * 2 - 1) AS s_$b"
      }.mkString(",\n               ")
      val code = (0 until 48)
        .map(b => s"(CASE WHEN s_$b >= 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
        .mkString(" + ")
      s"""
      WITH tok AS (SELECT doc_id, unnest(${sqlToks("lower(text)")}) AS tok FROM documents),
      h AS (SELECT doc_id, md5(tok) AS m FROM tok),
      bits AS (SELECT doc_id,
               $sums
             FROM h GROUP BY 1),
      codes AS (SELECT doc_id, CAST($code AS BIGINT) AS simhash FROM bits),
      bands AS (SELECT doc_id, simhash, b, (simhash >> (b * 12)) & 4095 AS bv
                FROM codes CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) t)
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
             CAST(bit_count(xor(a.simhash, c.simhash)) AS BIGINT) AS hamming
      FROM bands a JOIN bands c
        ON a.b = c.b AND a.bv = c.bv AND a.doc_id < c.doc_id
      WHERE bit_count(xor(a.simhash, c.simhash)) <= 3
      ORDER BY 1, 2"""
    }),

    ("p14_bpe_tokens", (s, d) => {
      val docs = Tables.documents(s, d)
      docs.select(col("doc_id"),
          TextFunctions.bpeTokenCount(col("text")).as("n_bpe"),
          size(array_distinct(TextFunctions.bpeTokens(col("text")))).cast("long")
            .as("n_distinct"))
        .orderBy(col("doc_id"))
    }, Some {
      // DuckDB single-quoted strings take backslashes literally; only
      // the quote chars of the contraction alternatives need doubling.
      val pat = TextFunctions.bpePattern.replace("'", "''")
      s"""
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_bpe,
             CAST(len(list_distinct(regexp_extract_all(text, '$pat')))
                  AS BIGINT) AS n_distinct
      FROM documents ORDER BY doc_id"""
    }),

    ("p15_winnow_fingerprints", (s, d) => {
      Dedup.winnowFingerprints(Tables.documents(s, d), col("doc_id"), col("text"),
          shingleN = 3, window = 4)
        .orderBy(col("doc_id"), col("fingerprint"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents),
      s0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
                    i -> {'pos': i, 'sh': array_to_string(toks[i:i+2], ' ')})) AS u
             FROM t WHERE len(toks) >= 3),
      h AS (SELECT doc_id, u.pos AS pos, md5(u.sh) AS h FROM s0),
      m AS (SELECT doc_id,
              min(h) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint,
              count(*) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cnt
            FROM h)
      SELECT DISTINCT doc_id, fingerprint FROM m WHERE cnt = 4
      ORDER BY doc_id, fingerprint""")),

    ("p16_fuzzy_dedup", (s, d) => {
      Dedup.fuzzyDedup(Tables.documents(s, d), col("doc_id"), col("text"),
          threshold = 0.5, shingleN = 3, numBands = 4, rowsPerBand = 2)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH sh0 AS (SELECT doc_id, $sqlShingles AS shingles FROM documents
                   WHERE len($sqlShingles) >= 1),
      sig AS (
        SELECT doc_id, list_transform(generate_series(0, 7),
                 i -> list_min(list_transform(shingles,
                        s -> md5(CAST(i AS VARCHAR) || ':' || s)))) AS sig
        FROM sh0),
      bands AS (
        SELECT doc_id, unnest(list_transform(generate_series(0, 3),
                 b -> CAST(b AS VARCHAR) || '|' ||
                      array_to_string(sig[b*2+1:b*2+2], '|'))) AS band_key
        FROM sig),
      cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
               FROM bands a JOIN bands b
                 ON a.band_key = b.band_key AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
      shd AS (SELECT DISTINCT doc_id, unnest(shingles) AS sh FROM sh0),
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY 1),
      inter AS (SELECT id_a, id_b, count(*) AS n_inter
                FROM cand JOIN shd sa ON id_a = sa.doc_id
                          JOIN shd sb ON id_b = sb.doc_id AND sa.sh = sb.sh
                GROUP BY 1, 2),
      ver AS (SELECT c.id_a, c.id_b,
                round(CAST(coalesce(n_inter, 0) AS DOUBLE) /
                      CAST(na.n_sh + nb.n_sh - coalesce(n_inter, 0) AS DOUBLE), 6) AS j
              FROM cand c
              LEFT JOIN inter ON c.id_a = inter.id_a AND c.id_b = inter.id_b
              JOIN sizes na ON c.id_a = na.doc_id
              JOIN sizes nb ON c.id_b = nb.doc_id),
      dropids AS (SELECT DISTINCT id_b FROM ver WHERE j >= 0.5)
      SELECT doc_id, lang, source FROM documents
      WHERE doc_id NOT IN (SELECT id_b FROM dropids)
      ORDER BY doc_id""")),

    // cluster-granular dedup: the oracle computes each doc's component
    // min over the verified near-dup graph by recursive reachability —
    // exactly the fixpoint clusterDedup's min-label propagation reaches.
    ("p18_cluster_dedup", (s, d) => {
      Dedup.clusterDedup(Tables.documents(s, d), col("doc_id"), col("text"),
          threshold = 0.5, shingleN = 3, numBands = 4, rowsPerBand = 2)
        .orderBy(col("doc_id"))
    }, Some(clusterDedupOracle)),

    // the same cluster dedup resolved with the log-round
    // large-star/small-star components instead of min-label propagation:
    // identical labels by construction (both reach component minima), so
    // the identical oracle pins the alternative dataflow end to end
    ("p31_cluster_dedup_star", (s, d) => {
      Dedup.clusterDedup(Tables.documents(s, d), col("doc_id"), col("text"),
          threshold = 0.5, shingleN = 3, numBands = 4, rowsPerBand = 2,
          starCC = true)
        .orderBy(col("doc_id"))
    }, Some(clusterDedupOracle)),

    // deterministic stratified sampling: the md5-bucket "dice roll" is a
    // pure function of doc_id, so both engines agree row by row — no
    // rand(), reproducible across reruns (what a training-set sample
    // needs). The oracle parses the same 6 md5 nibbles positionally.
    ("p19_stratified_sample", Twinned { (s, d, t) =>
      t.cut(graft.curation.Curation.stratifiedSample(t.in(Tables.documents(s, d)),
          col("lang"), col("doc_id"), Map("en" -> 0.5, "de" -> 0.2), defaultRate = 0.1)
        .select(col("doc_id"), col("lang"),
          graft.curation.Curation.hashBucket(col("doc_id")).as("bucket")))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH h AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
      b AS (SELECT doc_id, lang, ${sqlBucketFromMd5("m")} AS bucket
            FROM h)
      SELECT doc_id, lang, bucket FROM b
      WHERE bucket < CASE WHEN lang = 'en' THEN 5000
                          WHEN lang = 'de' THEN 2000
                          ELSE 1000 END
      ORDER BY doc_id""")),

    // per-source token budget: admit docs in doc_id order until the
    // source's cumulative token count crosses the budget — exact
    // sequential capping, one shuffle on source, in-partition window.
    ("p20_token_budget", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.curation.Curation.tokenBudgetPerGroup(
          docs.select(col("doc_id"), col("source"),
            TextFunctions.tokenCount(col("text")).as("n_tokens")),
          col("source"), col("doc_id"), col("n_tokens"), budget = 700L)
        .select(col("doc_id"), col("source"), col("cum_tokens"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, source,
                        CAST(len(${sqlToks("text")}) AS BIGINT) AS n FROM documents),
      c AS (SELECT doc_id, source,
                   CAST(sum(n) OVER (PARTITION BY source ORDER BY doc_id)
                        AS BIGINT) AS cum_tokens
            FROM t)
      SELECT doc_id, source, cum_tokens FROM c WHERE cum_tokens <= 700
      ORDER BY doc_id""")),

    // Gopher-style repetition gates: duplicate-2-gram fraction (array
    // form, no shuffle) + top-token share (two-level agg). Default
    // thresholds flag ~38% of the synthetic corpus.
    ("p22_repetition_filter", (s, d) => {
      graft.text.CorpusOps.repetitionStats(
          Tables.documents(s, d), col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH toks AS (SELECT doc_id, ${sqlToks("text")} AS t FROM documents),
      sh AS (SELECT doc_id, CASE WHEN len(t) >= 2
               THEN list_transform(generate_series(1, len(t)-1),
                      i -> array_to_string(t[i:i+1], ' '))
               ELSE [] END AS s FROM toks),
      dup AS (SELECT doc_id, CASE WHEN len(s) > 0
                THEN round(CAST(len(s) - len(list_distinct(s)) AS DOUBLE)
                           / CAST(len(s) AS DOUBLE), 4)
                ELSE 0.0 END AS dup_ngram_frac FROM sh),
      tc AS (SELECT doc_id, unnest(t) AS tok FROM toks),
      cnt AS (SELECT doc_id, tok, count(*) AS c FROM tc GROUP BY 1, 2),
      md AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 4)
                      AS top_tok_frac FROM cnt GROUP BY 1)
      SELECT d.doc_id, dup.dup_ngram_frac,
             coalesce(md.top_tok_frac, 0.0) AS top_tok_frac,
             (dup.dup_ngram_frac > 0.2 OR coalesce(md.top_tok_frac, 0.0) > 0.1)
               AS repetitive
      FROM documents d JOIN dup ON d.doc_id = dup.doc_id
           LEFT JOIN md ON d.doc_id = md.doc_id
      ORDER BY d.doc_id""")),

    // benchmark decontamination: training docs (doc_id % 97 != 0)
    // sharing any 3-gram shingle with the eval split (doc_id % 97 == 0).
    // Eval shingle hashes are broadcast; only md5s move.
    ("p23_decontam", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.text.CorpusOps.decontaminate(
          docs.filter(col("doc_id") % 97 =!= 0), col("doc_id"), col("text"),
          docs.filter(col("doc_id") % 97 === 0), col("text"), n = 3)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH toks AS (SELECT doc_id, ${sqlToks("text")} AS t FROM documents),
      sh AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 3
               THEN list_transform(generate_series(1, len(t)-2),
                      i -> array_to_string(t[i:i+2], ' '))
               ELSE [] END) AS s FROM toks),
      ev AS (SELECT DISTINCT md5(s) AS h FROM sh WHERE doc_id % 97 = 0),
      tr AS (SELECT DISTINCT doc_id, md5(s) AS h FROM sh WHERE doc_id % 97 <> 0),
      hits AS (SELECT doc_id, count(*) AS n_hits FROM tr JOIN ev USING (h)
               GROUP BY 1)
      SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
             coalesce(h.n_hits, 0) > 0 AS contaminated
      FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      WHERE d.doc_id % 97 <> 0 ORDER BY d.doc_id""")),

    // corpus vocabulary: global top-20 tokens by term frequency with
    // document frequency — two-level agg + TakeOrderedAndProject.
    ("p24_vocab_topk", (s, d) => {
      graft.text.CorpusOps.vocabTopK(
        Tables.documents(s, d), col("doc_id"), col("text"), k = 20)
    }, Some(s"""
      WITH tc AS (SELECT doc_id, unnest(${sqlToks("text")}) AS token FROM documents),
      stats AS (SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df_docs
                FROM tc GROUP BY 1),
      r AS (SELECT *, row_number() OVER (ORDER BY tf DESC, token) AS rank
            FROM stats)
      SELECT CAST(rank AS BIGINT) AS rank, token, CAST(tf AS BIGINT) AS tf,
             CAST(df_docs AS BIGINT) AS df_docs
      FROM r WHERE rank <= 20 ORDER BY rank""")),

    // pattern scrubbing (the PII-redaction dataflow, exercised with
    // denylist terms that actually occur in the synthetic corpus; the
    // PII regex library itself is spec-tested on crafted text).
    ("p25_scrub", (s, d) => {
      graft.text.CorpusOps.scrub(
          Tables.documents(s, d), col("doc_id"), col("text"),
          Seq("engine" -> "\\b(spark|flink)\\b", "entity" -> "\\bcustomer\\b"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
             regexp_replace(regexp_replace(text,
               '\b(spark|flink)\b', '[ENGINE]', 'g'),
               '\bcustomer\b', '[ENTITY]', 'g') AS clean_text,
             CAST(len(regexp_extract_all(text, '\b(spark|flink)\b')) AS BIGINT)
               AS n_engine,
             CAST(len(regexp_extract_all(text, '\bcustomer\b')) AS BIGINT)
               AS n_entity
      FROM documents ORDER BY doc_id""")),

    // Johnson-Lindenstrauss projection 64 -> 16 (md5-derived Achlioptas
    // signs, native codegen expression); flattened to rows for the
    // engine-portable compare.
    ("p27_random_projection", (s, d) => {
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          posexplode(graft.functions.RandomProjection(col("embedding"), 16, 42L))
            .as(Seq("j", "y")))
        .select(col("vec_id"), col("j").cast("long").as("j"), col("y"))
        .orderBy(col("vec_id"), col("j"))
    }, Some("""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      js AS (SELECT unnest(generate_series(0, 15)) AS j),
      ks AS (SELECT unnest(generate_series(0, 63)) AS k),
      sg AS (SELECT j, k,
               CASE WHEN (strpos('0123456789abcdef',
                        substr(md5('42:' || j || ':' || k), 1, 1)) - 1) % 2 = 1
                    THEN 1.0 ELSE -1.0 END AS s
             FROM js CROSS JOIN ks),
      sr AS (SELECT j, list(s ORDER BY k) AS srow FROM sg GROUP BY j)
      SELECT vec_id, CAST(j AS BIGINT) AS j,
             round(list_dot_product(v, srow) / sqrt(16.0), 6) AS y
      FROM e CROSS JOIN sr ORDER BY vec_id, j""")),

    // corpus-relative rare-token fraction (the integer-exact
    // LM-perplexity proxy): tokens with unigram probability < 1/100.
    ("p28_rare_tokens", (s, d) => {
      graft.text.CorpusOps.rareTokenFraction(
          Tables.documents(s, d), col("doc_id"), col("text"), rareFactor = 100L)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH tc AS (SELECT doc_id, unnest(${sqlToks("text")}) AS token FROM documents),
      tf AS (SELECT token, count(*) AS tf FROM tc GROUP BY 1),
      tot AS (SELECT sum(tf) AS total FROM tf)
      SELECT tc.doc_id,
             CAST(sum(CASE WHEN tf.tf * 100 < tot.total THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rare,
             count(*) AS n_tokens,
             round(CAST(sum(CASE WHEN tf.tf * 100 < tot.total THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE), 4) AS rare_frac
      FROM tc JOIN tf USING (token) CROSS JOIN tot
      GROUP BY 1 ORDER BY 1""")),

    // REAL video-frame sampling: parse a length-prefixed multi-frame PNG
    // container, pick min(n_frames, 3) evenly spaced frames
    // (frame_idx = t·n/s), and DECODE each sampled frame — bounded
    // fan-out, one codec per partition, fixed-size stats out. The oracle
    // recomputes the same frames from the per-frame pixel formula.
    ("p29_frame_sample", (s, d) => {
      import graft.multimodal.ImageCodec
      ImageCodec.sampleFrames(
          ImageCodec.SyntheticVideos.containerFixture(Tables.documents(s, d), col("doc_id")),
          col("media_id"), col("payload"), maxFrames = 3)
        .orderBy(col("media_id"), col("frame_idx"))
    }, Some(s"""
      WITH ${graft.multimodal.ImageCodec.SyntheticImages.oracleDims},
      fr AS (SELECT doc_id, seed, w, h, seed % 3 + 2 AS n,
                    least(seed % 3 + 2, 3) AS s FROM dims),
      idx AS (SELECT doc_id, seed, w, h,
                     unnest(list_transform(generate_series(0, s - 1),
                       t -> t * n // s)) AS frame_idx
              FROM fr)
      SELECT doc_id AS media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
             CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             CAST(list_sum(list_transform(generate_series(0, w * h - 1),
                    k -> (seed * 31 + k * 7 + frame_idx * 13) % 256)) AS BIGINT)
               AS pix_sum
      FROM idx ORDER BY media_id, frame_idx""")),

    // THE end-to-end batch corpus build, composed as ONE declarative
    // plan: page-level noindex gate (the round-12 composition — a
    // noindex'd or X-Robots-Tag'd page never feeds the corpus, gated
    // through the real meta/header extraction) -> soft-404 gate (the
    // round-13 composition — a 200-status error page vanishes through
    // the real title/body scoring while a long page merely MENTIONING
    // an error-404 phrase survives) -> exact dedup (keep min-id) ->
    // repetition + length gates -> deterministic stratified sample by
    // language -> per-source token budget. Every stage is an existing
    // operator; Catalyst optimizes across their boundaries (this is
    // the composability the library exists for).
    ("p30_corpus_build", (s, d) => {
      val docs = soft404Gate(noindexGate(Tables.documents(s, d)))
      val deduped = Dedup.dropExactDuplicates(docs, col("doc_id"), col("text"))
      val rep = graft.text.CorpusOps.repetitionStats(deduped, col("doc_id"), col("text"))
      val gated = deduped
        .join(rep.filter(!col("repetitive")).select(col("doc_id")), Seq("doc_id"))
        .withColumn("n_tokens", TextFunctions.tokenCount(col("text")))
        .filter(col("n_tokens").between(20, 200))
      val sampled = graft.curation.Curation.stratifiedSample(gated, col("lang"),
        col("doc_id"), Map("en" -> 0.5, "de" -> 0.2), defaultRate = 0.1)
      graft.curation.Curation.tokenBudgetPerGroup(
          sampled.select(col("doc_id"), col("source"), col("n_tokens")),
          col("source"), col("doc_id"), col("n_tokens"), budget = 700L)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
        .orderBy(col("doc_id"))
    }, Some {
      val nib = (i: Int) =>
        s"(strpos('0123456789abcdef', substr(m, $i, 1)) - 1)"
      s"""
      WITH f AS (SELECT doc_id, lang, source,
                        md5(array_to_string(${sqlToks("lower(text)")}, ' ')) AS fp,
                        ${sqlToks("text")} AS t
                 FROM documents WHERE $noindexKeepSql AND $soft404KeepSql),
      keep AS (SELECT fp, min(doc_id) AS k FROM f GROUP BY 1),
      dd AS (SELECT f.* FROM f JOIN keep ON f.doc_id = keep.k),
      sh AS (SELECT doc_id, CASE WHEN len(t) >= 2
               THEN list_transform(generate_series(1, len(t)-1),
                      i -> array_to_string(t[i:i+1], ' '))
               ELSE [] END AS s FROM dd),
      dup AS (SELECT doc_id, CASE WHEN len(s) > 0
                THEN round(CAST(len(s) - len(list_distinct(s)) AS DOUBLE)
                           / CAST(len(s) AS DOUBLE), 4)
                ELSE 0.0 END AS dupf FROM sh),
      tc AS (SELECT doc_id, unnest(t) AS tok FROM dd),
      cnt AS (SELECT doc_id, tok, count(*) AS c FROM tc GROUP BY 1, 2),
      md AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 4)
                      AS topf FROM cnt GROUP BY 1),
      gated AS (SELECT dd.doc_id, dd.lang, dd.source,
                       CAST(len(dd.t) AS BIGINT) AS n_tokens
                FROM dd JOIN dup ON dd.doc_id = dup.doc_id
                     LEFT JOIN md ON dd.doc_id = md.doc_id
                WHERE NOT (dup.dupf > 0.2 OR coalesce(md.topf, 0.0) > 0.1)
                  AND len(dd.t) BETWEEN 20 AND 200),
      h AS (SELECT *, md5(CAST(doc_id AS VARCHAR)) AS m FROM gated),
      b AS (SELECT doc_id, lang, source, n_tokens,
                   CAST((${nib(1)} * 1048576 + ${nib(2)} * 65536 + ${nib(3)} * 4096
                       + ${nib(4)} * 256 + ${nib(5)} * 16 + ${nib(6)}) % 10000
                        AS BIGINT) AS bucket
            FROM h),
      samp AS (SELECT * FROM b
               WHERE bucket < CASE WHEN lang = 'en' THEN 5000
                                   WHEN lang = 'de' THEN 2000
                                   ELSE 1000 END),
      c AS (SELECT doc_id, source, n_tokens,
                   CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
                        AS BIGINT) AS cum_tokens
            FROM samp)
      SELECT doc_id, source, n_tokens, cum_tokens FROM c
      WHERE cum_tokens <= 700 ORDER BY doc_id"""
    }),

    // concat-and-chunk sequence packing: documents laid end-to-end per
    // source, cut into 512-token training sequences; docs may straddle a
    // cut. Pure integer window arithmetic — both engines agree exactly.
    ("p32_sequence_pack", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.curation.Curation.packSequences(
          docs.select(col("doc_id"), col("source"),
            TextFunctions.tokenCount(col("text")).as("n_tokens")),
          col("source"), col("doc_id"), col("n_tokens"), seqLen = 512L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("seq_id"), col("seq_offset"), col("n_seqs"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, source,
                   CAST(len(${sqlToks("text")}) AS BIGINT) AS n_tokens
                 FROM documents),
      c AS (SELECT doc_id, source, n_tokens,
              CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cp
            FROM t)
      SELECT doc_id, source, n_tokens,
             CAST(cp // 512 AS BIGINT) AS seq_id,
             CAST(cp % 512 AS BIGINT) AS seq_offset,
             CAST(CASE WHEN n_tokens = 0 THEN 0
                  ELSE (cp + n_tokens - 1) // 512 - cp // 512 + 1 END
                  AS BIGINT) AS n_seqs
      FROM c ORDER BY doc_id""")),

    // square-root temperature mixing (α = 0.5) over languages: admission
    // thresholds derived from the lang histogram in pure integer
    // arithmetic (floor sqrt / floor div / 1e-4 rate grains), admission
    // by the same md5 dice roll as p19 — engines agree row by row.
    ("p33_temperature_mix", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.curation.Curation.temperatureMixSqrt(docs, col("lang"), col("doc_id"),
          targetTotal = 250L)
        .select(col("doc_id"), col("lang"),
          graft.curation.Curation.hashBucket(col("doc_id")).as("bucket"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
      w AS (SELECT lang, n,
              CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS wgt FROM cnt),
      tot AS (SELECT CAST(sum(wgt) AS BIGINT) AS sw FROM w),
      th AS (SELECT lang, n,
               (250 * wgt) // (CASE WHEN sw < 1 THEN 1 ELSE sw END) AS tgt
             FROM w, tot),
      t2 AS (SELECT lang,
               CASE WHEN (10000 * tgt) // n > 10000 THEN 10000
                    ELSE (10000 * tgt) // n END AS thresh FROM th),
      h AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
      b AS (SELECT doc_id, lang, ${sqlBucketFromMd5("m")} AS bucket FROM h)
      SELECT b.doc_id, b.lang, b.bucket
      FROM b JOIN t2 USING(lang)
      WHERE b.bucket < t2.thresh
      ORDER BY b.doc_id""")),

    // IVF-PQ: coarse centroid pruning (p12's inverted lists) composed
    // with PQ/ADC integer scoring (p17's codes) — the standard
    // billion-vector index layout; candidates come only from probed
    // lists and are scored from codes alone.
    ("p34_ann_ivfpq", (s, d) => {
      val e = Tables.embeddings(s, d)
      SimilaritySearch.ivfPqTopK(e, col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 20), col("vec_id"), col("embedding"),
          k = 5, dim = 64, numSubspaces = 4, codeStride = 25,
          centroidStride = 25, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    }, Some(ivfPqOracle)),

    // corpus-level chunk dedup (line-level dedup at fixed 8-token
    // granularity): first occurrence of each chunk fingerprint wins
    // corpus-wide; every doc's text is reassembled from its surviving
    // chunks. ~5% of chunk instances in the synthetic corpus are
    // cross-doc repeats.
    ("p35_chunk_dedup", (s, d) => {
      Dedup.chunkDedup(Tables.documents(s, d), col("doc_id"), col("text"),
          chunkTokens = 8)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, ${sqlToks("text")} AS t FROM documents),
      ch AS (SELECT doc_id,
               unnest(generate_series(0, CAST((len(t)+7)//8 AS BIGINT) - 1)) AS idx, t
             FROM t WHERE len(t) >= 1),
      c2 AS (SELECT doc_id, CAST(idx AS BIGINT) AS idx,
               array_to_string(t[idx*8+1 : idx*8+8], ' ') AS chunk FROM ch),
      fp AS (SELECT doc_id, idx, chunk, md5(chunk) AS f FROM c2),
      firsts AS (SELECT f, min(doc_id * 1048576 + idx) AS p FROM fp GROUP BY 1),
      k AS (SELECT fp.doc_id, fp.idx, fp.chunk,
              (fp.doc_id * 1048576 + fp.idx) = firsts.p AS kept
            FROM fp JOIN firsts USING (f)),
      agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
                CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                string_agg(CASE WHEN kept THEN chunk END, ' ' ORDER BY idx)
                  AS text_dedup
              FROM k GROUP BY 1)
      SELECT d.doc_id,
             coalesce(a.n_chunks, 0) AS n_chunks,
             coalesce(a.n_kept, 0) AS n_kept,
             CASE WHEN coalesce(a.n_chunks, 0) = 0 THEN 0.0
                  ELSE round(1.0 - CAST(a.n_kept AS DOUBLE) /
                             CAST(a.n_chunks AS DOUBLE), 4) END AS dup_chunk_frac,
             coalesce(a.text_dedup, '') AS text_dedup
      FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
      ORDER BY d.doc_id""")),

    // deterministic mixture interleave: every doc routed to a weighted
    // mixture bucket off the same md5 dice roll as sampling — the
    // routing dual of p19 (drop) and p33 (rebalance)
    ("p36_interleave", (s, d) => {
      val docs = Tables.documents(s, d)
      docs.select(col("doc_id"),
          coalesce(graft.curation.Curation.interleaveTag(col("doc_id"),
            Seq("web" -> 0.6, "code" -> 0.3)), lit("rest")).as("mix_tag"),
          graft.curation.Curation.hashBucket(col("doc_id")).as("bucket"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
      b AS (SELECT doc_id, ${sqlBucketFromMd5("m")} AS bucket FROM h)
      SELECT doc_id,
             CASE WHEN bucket >= 0 AND bucket < 6000 THEN 'web'
                  WHEN bucket >= 6000 AND bucket < 9000 THEN 'code'
                  ELSE 'rest' END AS mix_tag,
             bucket
      FROM b ORDER BY doc_id""")),

    // multimodal → similarity composition over REAL decoded pixels:
    // per-partition PNG decode to a 16-bucket luminance histogram
    // (bucket = pix·16/256), feeding integer dot-product top-k through
    // the same two-phase rank as the ANN tiers — media similarity search
    // end to end, exact in both engines because the score is a BIGINT
    // dot product of raw luminance-bucket counts.
    ("p37_media_search", (s, d) => {
      import graft.multimodal.ImageCodec
      val feats = ImageCodec.luminanceHistogram(
        ImageCodec.SyntheticImages.pngFixture(Tables.documents(s, d), col("doc_id")),
        col("media_id"), col("payload"))
      val c = feats.select(col("media_id").as("neighbor_id"), col("hist").as("cv"))
      val q = feats.filter(col("media_id") < 10)
        .select(col("media_id").as("query_id"), col("hist").as("qv"))
      val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
        .withColumn("cos", expr(
          "cast(aggregate(zip_with(cv, qv, (x, y) -> x * y), 0L, (a, b) -> a + b) as double)"))
        .select(col("query_id"), col("neighbor_id"), col("cos"))
      SimilaritySearch.rankTopK(scored, k = 5)
        .select(col("query_id"), col("neighbor_id"),
          col("cos").cast("long").as("dot"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }, Some(s"""
      WITH ${graft.multimodal.ImageCodec.SyntheticImages.oracleDims},
      vec AS (SELECT doc_id,
        list_transform(generate_series(0, 15), j ->
          CAST(len(list_filter(generate_series(0, w * h - 1),
                 k -> ((seed * 31 + k * 7) % 256) // 16 = j)) AS BIGINT)) AS v
       FROM dims),
      q AS (SELECT doc_id AS query_id, v AS qv FROM vec WHERE doc_id < 10),
      scored AS (SELECT query_id, c.doc_id AS neighbor_id,
                   CAST(list_dot_product(c.v, qv) AS BIGINT) AS dot
                 FROM vec c CROSS JOIN q WHERE c.doc_id <> q.query_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY dot DESC, neighbor_id) AS rank FROM scored)
      SELECT query_id, neighbor_id, dot, CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= 5 ORDER BY query_id, rank""")),

    // count-min sketch heavy hitters: token frequencies estimated from a
    // FIXED 4×64-cell sketch (vs unbounded per-token groupBy state); the
    // sketch is pure md5 arithmetic, so the oracle rebuilds the exact
    // cells and the never-under-count guarantee is visible in the
    // (est, exact) pairs.
    ("p38_heavy_hitters", Twinned { (s, d, t) =>
      import graft.functions.Aggregators
      val width = 64
      val depth = 4
      val cm = udaf(new Aggregators.CountMin(width, depth))
      val toks = t.in(Tables.documents(s, d))
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      val sk = t.cut(toks.agg(cm(col("tok")).as("sk"))).select(col("sk.cells").as("sk"))
      val probes = Seq("table", "value", "the", "a", "row", "scan")
      val exact = t.cut(toks.filter(col("tok").isin(probes: _*))
        .groupBy(col("tok")).agg(count(lit(1)).as("__exact")))
      Aggregators.CountMin.probeReport(sk, exact, probes, width, depth)
    }, Some(heavyHittersOracle)),

    // Z-order (Morton) codes over (user_id, event-time): the pure
    // per-row interleave that [[graft.sources.Sinks.writeZOrdered]]
    // clusters file layout by — computed here as a query so both engines
    // pin the bit arithmetic exactly (16 bits per dimension).
    ("p39_zorder", (s, d) => {
      import graft.functions.ZOrderCode
      Tables.events(s, d)
        .withColumn("es", col("ts").cast("long"))
        .select(col("event_id"), col("user_id"), col("es"),
          ZOrderCode(col("user_id") % 65536, col("es") % 65536, 16).as("z"))
        .orderBy(col("event_id"))
    }, Some("""
      WITH e AS (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS es
                 FROM events)
      SELECT event_id, user_id, CAST(es AS BIGINT) AS es,
             CAST(list_sum(list_transform(generate_series(0, 15), b ->
               ((((user_id % 65536) >> b) & 1) << (2*b)) +
               ((((es % 65536) >> b) & 1) << (2*b + 1)))) AS BIGINT) AS z
      FROM e ORDER BY event_id""")),

    // winnow-probed decontamination: p23's gate but both sides probe
    // winnow-SELECTED fingerprints (~1/window the probes); the coarser
    // guarantee catches shared runs of >= window+n-1 tokens.
    ("p40_winnow_decontam", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.text.CorpusOps.decontaminateWinnow(
          docs.filter(col("doc_id") % 97 =!= 0), col("doc_id"), col("text"),
          docs.filter(col("doc_id") % 97 === 0), col("doc_id"), col("text"),
          n = 3, window = 4)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents),
      s0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
                    i -> {'pos': i, 'sh': array_to_string(toks[i:i+2], ' ')})) AS u
             FROM t WHERE len(toks) >= 3),
      h AS (SELECT doc_id, u.pos AS pos, md5(u.sh) AS h FROM s0),
      m AS (SELECT doc_id,
              min(h) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint,
              count(*) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cnt
            FROM h),
      w AS (SELECT DISTINCT doc_id, fingerprint FROM m WHERE cnt = 4),
      ew AS (SELECT DISTINCT fingerprint FROM w WHERE doc_id % 97 = 0),
      tw AS (SELECT doc_id, fingerprint FROM w WHERE doc_id % 97 <> 0),
      hits AS (SELECT doc_id, count(*) AS n_hits FROM tw JOIN ew USING (fingerprint)
               GROUP BY 1)
      SELECT d.doc_id, CAST(coalesce(h2.n_hits, 0) AS BIGINT) AS n_hits,
             coalesce(h2.n_hits, 0) > 0 AS contaminated
      FROM documents d LEFT JOIN hits h2 ON d.doc_id = h2.doc_id
      WHERE d.doc_id % 97 <> 0 ORDER BY d.doc_id""")),

    // priority-aware exact dedup: among exact duplicates the copy from
    // the preferred source wins regardless of id. The corpus is the
    // documents table unioned with a simulated re-crawl mirror
    // (doc_id + 10000, priority 0 beats the originals' 1), so the
    // keeper election demonstrably follows priority, not min-id.
    ("p41_priority_dedup", (s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.select(col("doc_id"), col("text"), lit(1L).as("prio"))
        .unionByName(docs.select((col("doc_id") + 10000).as("doc_id"),
          col("text"), lit(0L).as("prio")))
      Dedup.exactGroupsPreferring(corpus, col("doc_id"), col("text"), col("prio"))
        .orderBy(col("fingerprint"))
    }, Some(s"""
      WITH c AS (SELECT doc_id, text, 1 AS prio FROM documents
                 UNION ALL
                 SELECT doc_id + 10000, text, 0 FROM documents),
      f AS (SELECT doc_id, prio,
              md5(array_to_string(${sqlToks("lower(text)")}, ' ')) AS fingerprint
            FROM c),
      g AS (SELECT fingerprint,
              min(prio * 8796093022208 + doc_id) AS p,
              count(*) AS group_size
            FROM f GROUP BY 1)
      SELECT fingerprint,
             CAST(p % 8796093022208 AS BIGINT) AS keeper_id,
             CAST(p // 8796093022208 AS BIGINT) AS keeper_priority,
             CAST(group_size AS BIGINT) AS group_size
      FROM g ORDER BY fingerprint""")),

    // REAL media resize: decode → nearest-neighbor resample to 8×6 →
    // re-encode to PNG → decode the re-encoded bytes for the emitted
    // stats, so (width, height, n_pixels, pix_sum) pin the full
    // decode→resample→encode→decode chain. The oracle recomputes the
    // resample arithmetic (src pixel (x·w/8, y·h/6), integer division)
    // from the formula; n_bytes_out is engine-specific PNG framing and
    // is spec-checked instead.
    ("p42_resize", (s, d) => {
      import graft.multimodal.ImageCodec
      ImageCodec.resize(
          ImageCodec.SyntheticImages.pngFixture(Tables.documents(s, d), col("doc_id")),
          col("media_id"), col("payload"), targetW = 8, targetH = 6)
        .select(col("media_id"), col("width"), col("height"),
          col("n_pixels"), col("pix_sum"))
        .orderBy(col("media_id"))
    }, Some(s"""
      WITH ${graft.multimodal.ImageCodec.SyntheticImages.oracleDims},
      r AS (SELECT doc_id,
              list_transform(generate_series(0, 47),
                c -> (seed * 31
                      + (((c // 8) * h // 6) * w + ((c % 8) * w // 8)) * 7) % 256)
                AS pix
            FROM dims)
      SELECT doc_id AS media_id,
             CAST(8 AS BIGINT) AS width, CAST(6 AS BIGINT) AS height,
             CAST(48 AS BIGINT) AS n_pixels,
             CAST(list_sum(pix) AS BIGINT) AS pix_sum
      FROM r ORDER BY media_id""")),

    // winnow-candidate pairs: docs sharing >= 2 selected fingerprints —
    // the verbatim-passage dual of p05's MinHash-LSH global similarity.
    ("p43_winnow_pairs", (s, d) => {
      Dedup.winnowCandidates(Tables.documents(s, d), col("doc_id"), col("text"),
          shingleN = 3, window = 4, minShared = 2)
        .orderBy(col("id_a"), col("id_b"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents),
      s0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
                    i -> {'pos': i, 'sh': array_to_string(toks[i:i+2], ' ')})) AS u
             FROM t WHERE len(toks) >= 3),
      h AS (SELECT doc_id, u.pos AS pos, md5(u.sh) AS h FROM s0),
      m AS (SELECT doc_id,
              min(h) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint,
              count(*) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cnt
            FROM h),
      w AS (SELECT DISTINCT doc_id, fingerprint FROM m WHERE cnt = 4),
      pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       count(*) AS n_shared
                FROM w a JOIN w b ON a.fingerprint = b.fingerprint
                                  AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared
      FROM pairs WHERE n_shared >= 2 ORDER BY id_a, id_b""")),

    // SemDeDup semantic dedup — nearest-centroid partition + in-cluster
    // min-id cosine domination. The oracle-expressible instance seeds
    // centroids from the 8 lowest-id vectors (the trained-kmeans path is
    // pinned in OperatorsSpec/SimilaritySpec); assignment tiebreak is
    // cos DESC, centroid_id ASC — identical to coarseAssign's packing.
    ("p44_semantic_dedup", (s, d) => {
      val e = Tables.embeddings(s, d)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").cast("array<double>").as("centv"))
      Dedup.semanticDedup(e, col("vec_id"), col("embedding"), cents,
          threshold = 0.35)
        .orderBy(col("vec_id"))
    }, Some("""
      WITH c AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS centv
                 FROM embeddings WHERE vec_id < 8),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      asg AS (SELECT vec_id, centroid_id, row_number() OVER (PARTITION BY vec_id
                ORDER BY round(list_dot_product(v, centv) /
                  (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(centv, centv))), 6) DESC,
                centroid_id) AS rn
              FROM e, c),
      a2 AS (SELECT e.vec_id, v, centroid_id FROM asg JOIN e USING (vec_id) WHERE rn = 1),
      dups AS (SELECT DISTINCT a.vec_id
               FROM a2 a JOIN a2 b ON a.centroid_id = b.centroid_id
                                   AND b.vec_id < a.vec_id
               WHERE round(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35)
      SELECT a2.vec_id, centroid_id, (dups.vec_id IS NULL) AS kept
      FROM a2 LEFT JOIN dups ON a2.vec_id = dups.vec_id
      ORDER BY a2.vec_id""")),

    // Bigram-LM perplexity quality scoring — the corpus' own add-one-
    // smoothed 2-gram model; per-bigram -ln P truncated ONCE to integer
    // micro-units so the per-doc sum is order-independent (integer-exact
    // rule). Oracle recomputes the identical integer arithmetic.
    ("p45_perplexity", Twinned { (s, d, t) =>
      import graft.text.CorpusOps
      val docs = Tables.documents(s, d)
      t.cut(CorpusOps.scoreBigrams(
          CorpusOps.ngramRows(t.in(docs), col("doc_id"), col("text"), 2),
          CorpusOps.bigramLm(docs, col("doc_id"), col("text"))))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents),
      t2 AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
      bg AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
               SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                 i -> {'w1': toks[i], 'w2': toks[i+1]})) AS u
               FROM t2)),
      u1 AS (SELECT unnest(toks) AS w FROM t2),
      c1 AS (SELECT w AS w1, count(*) AS c1 FROM u1 GROUP BY 1),
      c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
      v AS (SELECT count(DISTINCT w) AS vocab FROM u1),
      sc AS (SELECT doc_id,
               CAST(round(-ln(CAST(c12 + 1 AS DOUBLE) /
                 CAST(c1.c1 + vocab AS DOUBLE)) * 1e6, 0) AS BIGINT) AS nll_micro
             FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v)
      SELECT doc_id, count(*) AS n_bigrams,
             round(sum(nll_micro) / count(*) / 1e6, 6) AS nll,
             round(exp(sum(nll_micro) / count(*) / 1e6), 3) AS ppl
      FROM sc GROUP BY 1 ORDER BY doc_id""")),

    // Discriminative log-odds quality filter — the CCNet/GPT-3-family
    // reference classifier beside p45's generative LM: the reference
    // slice here is lang='en'; every doc scores by the mean add-one
    // log-odds of its tokens (reference vs rest), integer micro-units
    // per token so the sum is order-independent. Oracle recomputes the
    // identical arithmetic; the CASE branches mirror Spark's
    // `otherwise` (null predicate counts as non-reference).
    ("p81_log_odds_quality", Twinned { (s, d, t) =>
      import graft.text.CorpusOps
      val docs = Tables.documents(s, d)
      t.cut(CorpusOps.scoreLogOdds(
          CorpusOps.tokenRows(t.in(docs), col("doc_id"), col("text")),
          CorpusOps.logOddsModel(docs, col("text"), col("lang") === "en")))
        .orderBy(col("doc_id"))
    }, Some(logOddsOracle)),

    // Exactly-k deterministic sample per group — distributed reservoir
    // via the ANN ladder's two-phase bounded top-k (k smallest md5 dice
    // rolls per group; no per-group global sort). The 13-hex-char roll
    // is a 52-bit integer, exactly representable in the aggregator's
    // double score, so Spark's order is bit-identical to the oracle's
    // ORDER BY substr(md5(key), 1, 13).
    ("p46_sample_exact_k", (s, d) => {
      graft.curation.Curation.sampleExactPerGroup(
          Tables.documents(s, d), col("lang"), col("doc_id"), k = 25)
        .orderBy(col("group"), col("rank"))
    }, Some("""
      SELECT lang AS "group", doc_id AS "key", rn AS rank FROM (
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang
                 ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 13), doc_id) AS rn
        FROM documents) t
      WHERE rn <= 25 ORDER BY "group", rank""")),

    // End-to-end curation v2 — the round-4 vocabulary composed in ONE
    // declarative plan (Catalyst optimizes the whole pipeline; the
    // oracle recomputes every stage): MinHash-LSH fuzzy dedup (corpus-
    // wide candidates + Jaccard verify) ∩ bigram-LM perplexity gate
    // (nll ≤ 3.41 ≈ corpus median — LM trained on the FULL corpus, the
    // CCNet shape) → exactly-15-per-language reservoir quota.
    ("p47_corpus_build2", (s, d) => {
      // the page-level gates run FIRST (the p30 composition — noindex
      // then soft-404): a gated page neither survives dedup nor
      // contributes to the LM counts the perplexity gate is scored
      // against
      val docs = soft404Gate(noindexGate(Tables.documents(s, d)))
      val surv = Dedup.fuzzyDedup(docs, col("doc_id"), col("text"),
        threshold = 0.5, shingleN = 3, numBands = 4, rowsPerBand = 2)
      val ppl = graft.text.CorpusOps.bigramPerplexity(
        docs, col("doc_id"), col("text"))
      val gated = surv.join(
        ppl.filter(col("nll") <= 3.41).select("doc_id"), "doc_id")
      graft.curation.Curation.sampleExactPerGroup(
          gated, col("lang"), col("doc_id"), k = 15)
        .orderBy(col("group"), col("rank"))
    }, Some(s"""
      WITH dcs AS (SELECT * FROM documents
                   WHERE $noindexKeepSql AND $soft404KeepSql),
      sh0 AS (SELECT doc_id, $sqlShingles AS shingles FROM dcs
              WHERE len($sqlShingles) >= 1),
      sig AS (
        SELECT doc_id, list_transform(generate_series(0, 7),
                 i -> list_min(list_transform(shingles,
                        s -> md5(CAST(i AS VARCHAR) || ':' || s)))) AS sig
        FROM sh0),
      bands AS (
        SELECT doc_id, unnest(list_transform(generate_series(0, 3),
                 b -> CAST(b AS VARCHAR) || '|' ||
                      array_to_string(sig[b*2+1:b*2+2], '|'))) AS band_key
        FROM sig),
      cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
               FROM bands a JOIN bands b
                 ON a.band_key = b.band_key AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
      shd AS (SELECT DISTINCT doc_id, unnest(shingles) AS sh FROM sh0),
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY 1),
      inter AS (SELECT id_a, id_b, count(*) AS n_inter
                FROM cand JOIN shd sa ON id_a = sa.doc_id
                          JOIN shd sb ON id_b = sb.doc_id AND sa.sh = sb.sh
                GROUP BY 1, 2),
      ver AS (SELECT c.id_a, c.id_b,
                round(CAST(coalesce(n_inter, 0) AS DOUBLE) /
                      CAST(na.n_sh + nb.n_sh - coalesce(n_inter, 0) AS DOUBLE), 6) AS j
              FROM cand c
              LEFT JOIN inter ON c.id_a = inter.id_a AND c.id_b = inter.id_b
              JOIN sizes na ON c.id_a = na.doc_id
              JOIN sizes nb ON c.id_b = nb.doc_id),
      dropids AS (SELECT DISTINCT id_b FROM ver WHERE j >= 0.5),
      t AS (SELECT doc_id, ${sqlToks("text")} AS toks FROM dcs),
      t2 AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
      bgr AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
               SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                 i -> {'w1': toks[i], 'w2': toks[i+1]})) AS u
               FROM t2)),
      u1 AS (SELECT unnest(toks) AS w FROM t2),
      c1 AS (SELECT w AS w1, count(*) AS c1 FROM u1 GROUP BY 1),
      c12 AS (SELECT w1, w2, count(*) AS c12 FROM bgr GROUP BY 1, 2),
      v AS (SELECT count(DISTINCT w) AS vocab FROM u1),
      sc AS (SELECT doc_id,
               CAST(round(-ln(CAST(c12 + 1 AS DOUBLE) /
                 CAST(c1.c1 + vocab AS DOUBLE)) * 1e6, 0) AS BIGINT) AS nll_micro
             FROM bgr JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v),
      nll AS (SELECT doc_id, round(sum(nll_micro) / count(*) / 1e6, 6) AS nll
              FROM sc GROUP BY 1),
      keep AS (SELECT doc_id, lang FROM dcs
               WHERE doc_id NOT IN (SELECT id_b FROM dropids)
                 AND doc_id IN (SELECT doc_id FROM nll WHERE nll.nll <= 3.41)),
      r AS (SELECT lang, doc_id,
              row_number() OVER (PARTITION BY lang
                ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 13), doc_id) AS rn
            FROM keep)
      SELECT lang AS "group", doc_id AS "key", rn AS rank FROM r
      WHERE rn <= 15 ORDER BY "group", rank""")),

    // Deterministic HyperLogLog — per-language vocabulary cardinality.
    // The oracle rebuilds the registers bit-for-bit from the same
    // md5-derived integer arithmetic (60-bit hash, 6-bit index,
    // length(bin(rem)) rank — string-exact in both engines) and audits
    // the estimate against the exact distinct count.
    ("p48_hll_distinct", (s, d) => {
      import graft.functions.TextFunctions
      val toks = Tables.documents(s, d)
        .select(col("lang"), explode(TextFunctions.tokens(col("text"))).as("w"))
      val approx = graft.functions.Hll.distinctPerGroup(toks, col("lang"), col("w"))
      val exact = toks.groupBy(col("lang").as("group"))
        .agg(countDistinct(col("w")).as("exact_distinct"))
      approx.join(exact, "group").orderBy(col("group"))
    }, Some(s"""
      WITH toks AS (SELECT lang, unnest(${sqlToks("text")}) AS w FROM documents),
      h AS (SELECT lang, CAST(list_sum(list_transform(generate_series(1, 15),
              i -> CAST(strpos('0123456789abcdef', substr(md5(w), i, 1)) - 1 AS BIGINT)
                   << (4*(15-i)))) AS BIGINT) AS v
            FROM toks),
      r AS (SELECT lang, v >> 54 AS idx,
              CASE WHEN (v & ((1::BIGINT << 54) - 1)) = 0 THEN 55
                   ELSE 55 - length(bin(v & ((1::BIGINT << 54) - 1))) END AS rank
            FROM h),
      regs AS (SELECT lang, idx, max(rank) AS r FROM r GROUP BY 1, 2),
      langs AS (SELECT DISTINCT lang FROM documents),
      grid AS (SELECT lang, i FROM langs, unnest(generate_series(0, 63)) AS t(i)),
      dense AS (SELECT g.lang, g.i, coalesce(regs.r, 0) AS reg
                FROM grid g LEFT JOIN regs ON g.lang = regs.lang AND g.i = regs.idx),
      folded AS (SELECT lang,
                   list_sum(list_transform(list(reg ORDER BY i), x -> 2.0 ** (-x))) AS s,
                   len(list_filter(list(reg ORDER BY i), x -> x = 0)) AS zeros
                 FROM dense GROUP BY 1),
      est AS (SELECT lang, CASE WHEN (0.709 * 64 * 64 / s) <= 160.0 AND zeros > 0
                                THEN 64.0 * ln(64.0 / zeros)
                                ELSE 0.709 * 64 * 64 / s END AS e
              FROM folded),
      ex AS (SELECT lang, count(DISTINCT w) AS exact_distinct FROM toks GROUP BY 1)
      SELECT est.lang AS "group", round(e, 2) AS approx_distinct,
             CAST(exact_distinct AS BIGINT) AS exact_distinct
      FROM est JOIN ex USING (lang) ORDER BY "group"""")),

    // BM25 ranked retrieval — the lexical sibling of the ANN ladder.
    // The oracle recomputes idf/tf normalization with the identical
    // double op chain, truncates to micro-longs, and ranks the integer
    // sums; rank ties break by doc_id in both engines.
    ("p49_bm25_topk", (s, d) => {
      graft.text.CorpusOps.bm25TopK(Tables.documents(s, d),
          col("doc_id"), col("text"),
          queries = graft.text.CorpusOps.bm25DemoQueries, k = 15)
        .orderBy(col("qid"), col("rank"))
    }, Some(bm25Oracle(""))),

    // Fixed-bin histogram quantile sketch — bounded-state rank
    // statistics beside count-min (p38) and HLL (p48). The oracle
    // rebuilds the bin counts with the identical clamped-floor binning
    // and interpolates with the same double op chain.
    ("p50_hist_quantiles", (s, d) => {
      graft.functions.Histogram.quantilesPerGroup(
          Tables.events(s, d), col("event_type"), col("value"),
          quantiles = Seq(0.5, 0.9, 0.99), lo = 0.0, hi = 512.0, bins = 64)
        .orderBy(col("group"), col("quantile"))
    }, Some("""
      WITH b AS (SELECT event_type,
                   least(greatest(CAST(floor((value - 0.0e0) / 8.0e0) AS BIGINT),
                     0), 63) AS bin
                 FROM events WHERE value IS NOT NULL),
      cnt AS (SELECT event_type, bin, count(*) AS c FROM b GROUP BY 1, 2),
      tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
      cum AS (SELECT event_type, bin, c,
                CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bin)
                  AS BIGINT) AS cum
              FROM cnt),
      q(q) AS (VALUES (0.5e0), (0.9e0), (0.99e0)),
      sel AS (SELECT event_type, q, n, bin, c, cum,
                greatest(CAST(ceil(q * n) AS BIGINT), 1) AS t
              FROM cum JOIN tot USING (event_type) CROSS JOIN q)
      SELECT event_type AS "group", q AS quantile, n,
             round(0.0e0 + 8.0e0 * (bin + CAST(t - (cum - c) AS DOUBLE) /
               CAST(c AS DOUBLE)), 4) AS est
      FROM sel WHERE cum >= t AND cum - c < t ORDER BY "group", quantile""")),

    // Weighted reservoir (A-ES) — exactly-k per group, inclusion odds
    // proportional-ish to weight (n_chars here), deterministic via the
    // md5 roll. The oracle rebuilds the 52-bit roll nibble-by-nibble
    // (the p48 trick) and ranks by the identical log-space key.
    ("p51_weighted_sample", Twinned { (s, d, t) =>
      t.cut(graft.curation.Curation.sampleWeightedPerGroup(
          t.in(Tables.documents(s, d)), col("lang"), col("doc_id"),
          col("n_chars"), k = 25))
        .orderBy(col("group"), col("rank"))
    }, Some("""
      WITH r AS (SELECT lang, doc_id, n_chars,
                   CAST(list_sum(list_transform(generate_series(1, 13),
                     i -> CAST(strpos('0123456789abcdef',
                            substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1
                          AS BIGINT) << (4*(13-i)))) AS BIGINT) AS roll
                 FROM documents),
      s AS (SELECT lang, doc_id,
              ln(CAST(roll + 1 AS DOUBLE) / 4503599627370496.0) /
                CAST(n_chars AS DOUBLE) AS es
            FROM r),
      rk AS (SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang
                 ORDER BY es DESC, doc_id) AS rn
             FROM s)
      SELECT lang AS "group", doc_id AS "key", rn AS rank FROM rk
      WHERE rn <= 25 ORDER BY "group", rank""")),

    // Cross-source duplication matrix — which crawl sources mirror each
    // other, by distinct shared shingles and overlap coefficient.
    ("p52_source_overlap", (s, d) => {
      Dedup.sourceOverlap(Tables.documents(s, d), col("source"),
          col("doc_id"), col("text"), shingleN = 3)
        .orderBy(col("source_a"), col("source_b"))
    }, Some(s"""
      WITH sh0 AS (SELECT source, doc_id, $sqlShingles AS shingles FROM documents),
      shd AS (SELECT DISTINCT source, md5(sh) AS h
              FROM (SELECT source, unnest(shingles) AS sh FROM sh0)),
      sizes AS (SELECT source, count(*) AS n FROM shd GROUP BY 1),
      pairs AS (SELECT a.source AS source_a, b.source AS source_b,
                  count(*) AS n_shared
                FROM shd a JOIN shd b
                  ON a.h = b.h AND a.source < b.source
                GROUP BY 1, 2)
      SELECT source_a, source_b, n_shared,
             round(CAST(n_shared AS DOUBLE) /
                   CAST(least(na.n, nb.n) AS DOUBLE), 6) AS overlap,
             round(CAST(n_shared AS DOUBLE) / CAST(na.n AS DOUBLE), 6) AS share_a,
             round(CAST(n_shared AS DOUBLE) / CAST(nb.n AS DOUBLE), 6) AS share_b
      FROM pairs JOIN sizes na ON na.source = source_a
                 JOIN sizes nb ON nb.source = source_b
      ORDER BY source_a, source_b""")),

    // Directed containment on same-source candidate pairs — the subset-
    // duplicate signal symmetric Jaccard (p07) dilutes away.
    ("p53_containment", (s, d) => {
      val docs = Tables.documents(s, d)
      val a = docs.select(col("source"), col("doc_id").as("id_a"))
      val b = docs.select(col("source"), col("doc_id").as("id_b"))
      val pairs = a.join(b, Seq("source")).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      Dedup.ngramContainment(docs, col("doc_id"), col("text"), pairs, shingleN = 3)
        .filter(col("n_inter") > 0)
        .orderBy(col("id_a"), col("id_b"))
    }, Some(s"""
      WITH sh0 AS (SELECT doc_id, source, $sqlShingles AS shingles FROM documents),
      shd AS (SELECT DISTINCT doc_id, source, unnest(shingles) AS sh FROM sh0),
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY 1),
      inter AS (SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, count(*) AS n_inter
                FROM shd sa JOIN shd sb
                  ON sa.source = sb.source AND sa.sh = sb.sh AND sa.doc_id < sb.doc_id
                GROUP BY 1, 2)
      SELECT id_a, id_b, n_inter, na.n_sh AS n_a, nb.n_sh AS n_b,
             round(CAST(n_inter AS DOUBLE) / CAST(na.n_sh AS DOUBLE), 6) AS containment_a,
             round(CAST(n_inter AS DOUBLE) / CAST(nb.n_sh AS DOUBLE), 6) AS containment_b
      FROM inter JOIN sizes na ON na.doc_id = id_a
                 JOIN sizes nb ON nb.doc_id = id_b
      ORDER BY id_a, id_b""")),

    // Per-source unigram KL divergence from the corpus distribution —
    // the mixture-curation drift score; micro-unit truncation keeps the
    // per-source sum order-independent (p45's integer-exact rule).
    ("p54_source_kl", (s, d) => {
      graft.text.CorpusOps.sourceKlDivergence(
          Tables.documents(s, d), col("source"), col("text"))
        .orderBy(col("source"))
    }, Some(s"""
      WITH u AS (SELECT source, unnest(${sqlToks("text")}) AS tok FROM documents),
      st AS (SELECT source, tok, count(*) AS n_st FROM u GROUP BY 1, 2),
      ns AS (SELECT source, CAST(sum(n_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
      ct AS (SELECT tok, CAST(sum(n_st) AS BIGINT) AS n_t FROM st GROUP BY 1),
      tot AS (SELECT CAST(sum(n_st) AS BIGINT) AS n FROM st),
      terms AS (SELECT source, n_s,
                  CAST(round((CAST(n_st AS DOUBLE) / CAST(n_s AS DOUBLE)) *
                    ln((CAST(n_st AS DOUBLE) * CAST(n AS DOUBLE)) /
                       (CAST(n_s AS DOUBLE) * CAST(n_t AS DOUBLE))) * 1e6, 0)
                    AS BIGINT) AS kl_micro
                FROM st JOIN ns USING (source) JOIN ct USING (tok), tot)
      SELECT source, max(n_s) AS n_tokens,
             round(sum(kl_micro) / 1e6, 6) AS kl
      FROM terms GROUP BY 1 ORDER BY source""")),

    // Inverted-index artifact — df/cf + doc_id-ordered posting lists
    // (full postings here; the stopword-ceiling prune is spec-pinned —
    // this corpus' tiny synthetic vocab makes any absolute df cap
    // degenerate at one SF or the other).
    ("p55_inverted_index", (s, d) => {
      graft.text.CorpusOps.invertedIndex(
          Tables.documents(s, d), col("doc_id"), col("text"))
        .orderBy(col("tok"))
    }, Some(s"""
      WITH u AS (SELECT doc_id, unnest(${sqlToks("text")}) AS tok FROM documents),
      tf AS (SELECT tok, doc_id, count(*) AS tf FROM u GROUP BY 1, 2)
      SELECT tok, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
             array_to_string(list_transform(
               list_sort(list({'doc_id': doc_id, 'tf': tf})),
               e -> CAST(e.doc_id AS VARCHAR) || ':' || CAST(e.tf AS VARCHAR)), ',')
               AS postings
      FROM tf GROUP BY 1 ORDER BY tok""")),

    // Perceptual-hash media dedup over REAL pixels — textbook 8×8
    // average-hash on decoded PNGs (bit c set iff cell luminance·64 ≥
    // the 64-cell sum, pure integers); min-id keeper election on the
    // 64-bit code. Ids sharing a fixture seed carry byte-identical
    // PNGs, so the election has true duplicate structure.
    ("p56_phash_dedup", Twinned { (s, d, t) =>
      import graft.multimodal.ImageCodec
      val docs = Tables.documents(s, d)
      ImageCodec.exactElection(phashFixtureCodes(docs),
          t.cut(ImageCodec.codeGroups(phashFixtureCodes(t.in(docs)))))
        .orderBy(col("media_id"))
    }, Some(phashOracle)),

    // Source-FAMILY overlap: p52's cross-source duplication matrix with
    // graft.functions.SourceFamily composed in front — the "group
    // sources into families first" contract as an operator. The fixture
    // derives URL-ish provenance ids deterministically from
    // (source, doc_id): cdn subdomains, a co.uk multi-part suffix, a
    // port to strip, and plain shard ids — MANY raw sources rolling up
    // to FEW registered-domain families, so the matrix is O(F²) not
    // O(S²). The oracle applies SourceFamily.familyOfSql (the same
    // rules rendered in SQL) and p52's shingle-overlap chain.
    ("p57_source_family_overlap", (s, d) => {
      import graft.functions.SourceFamily
      Dedup.sourceOverlap(
          Tables.documents(s, d).withColumn("__src", familyUrlFixture),
          SourceFamily.familyOf(col("__src")), col("doc_id"), col("text"),
          shingleN = 3)
        .orderBy(col("source_a"), col("source_b"))
    }, Some(s"""
      WITH urls AS (SELECT doc_id, text, $familyUrlFixtureSql AS src
        FROM documents),
      f AS (SELECT doc_id, text,
              ${graft.functions.SourceFamily.familyOfSql("src")} AS source
            FROM urls),
      sh0 AS (SELECT source, doc_id, $sqlShingles AS shingles FROM f),
      shd AS (SELECT DISTINCT source, md5(sh) AS h
              FROM (SELECT source, unnest(shingles) AS sh FROM sh0)),
      sizes AS (SELECT source, count(*) AS n FROM shd GROUP BY 1),
      pairs AS (SELECT a.source AS source_a, b.source AS source_b,
                  count(*) AS n_shared
                FROM shd a JOIN shd b
                  ON a.h = b.h AND a.source < b.source
                GROUP BY 1, 2)
      SELECT source_a, source_b, n_shared,
             round(CAST(n_shared AS DOUBLE) /
                   CAST(least(na.n, nb.n) AS DOUBLE), 6) AS overlap,
             round(CAST(n_shared AS DOUBLE) / CAST(na.n AS DOUBLE), 6) AS share_a,
             round(CAST(n_shared AS DOUBLE) / CAST(nb.n AS DOUBLE), 6) AS share_b
      FROM pairs JOIN sizes na ON na.source = source_a
                 JOIN sizes nb ON nb.source = source_b
      ORDER BY source_a, source_b""")),

    // BPE tokenizer TRAINING (Sennrich merges over word frequencies):
    // one corpus-sized (word, count) shuffle, then bounded driver rounds
    // on the vocabulary artifact. The oracle unrolls the same rounds as
    // CTE stages: symbols ride a '/sym/ /sym/' string so the
    // simultaneous left-to-right merge is one leftmost-nonoverlapping
    // regexp_replace per round in both engines; tie-break is
    // (count DESC, left, right) — engine-identical on ASCII.
    ("p58_bpe_train", Twinned { (s, d, t) =>
      import graft.text.CorpusOps
      CorpusOps.bpeMergesFromVocabDf(t.cut(CorpusOps.tokenCounts(
          t.in(Tables.documents(s, d)), col("text"), "w", "cnt")), numMerges = 8)
        .orderBy(col("rank"))
    }, Some(bpeOracle(8))),

    // Merge-table BPE ENCODING (tokenizer inference — p58's missing
    // half): train the 8-merge table, then encode every document
    // map-side with the broadcast table in a codegen JVM kernel with a
    // per-task word memo; zero shuffle. The oracle never applies the
    // table — it reads each word's encoding off the final unrolled
    // TRAINING state and reassembles documents positionally, so
    // agreement proves merge application == training evolution.
    ("p64_bpe_encode", Twinned { (s, d, t) =>
      val docs = Tables.documents(s, d)
      val merges = graft.text.CorpusOps.bpeMergeTable(
        graft.text.CorpusOps.bpeTrainMerges(docs, col("text"), numMerges = 8))
      t.cut(graft.text.CorpusOps.bpeEncode(t.in(docs), col("doc_id"), col("text"), merges))
        .orderBy(col("doc_id"))
    }, Some(bpeEncodeOracle(8))),

    // Boolean (conjunctive) retrieval served from the inverted-index
    // artifact: query-vocab IN-list prunes the index first, posting
    // lists explode to (query, doc) counting matches — n_matched =
    // |terms| keeps AND semantics without iterative list intersection.
    // The oracle recomputes membership from the raw corpus.
    ("p61_boolean_search", (s, d) => {
      val idx = graft.text.CorpusOps.invertedIndex(
        Tables.documents(s, d), col("doc_id"), col("text"))
      graft.text.CorpusOps.booleanSearch(idx,
          graft.text.CorpusOps.bm25DemoQueries, mode = "and")
        .orderBy(col("qid"), col("doc_id"))
    }, Some(s"""
      WITH u AS (SELECT DISTINCT doc_id, tok FROM
                   (SELECT doc_id, unnest(${sqlToks("text")}) AS tok
                    FROM documents)),
      q(qid, tok) AS (VALUES
        ('q_hash_join', 'hash'), ('q_hash_join', 'join'), ('q_hash_join', 'merge'),
        ('q_window', 'window'), ('q_window', 'sort'), ('q_window', 'order'),
        ('q_scan', 'vector'), ('q_scan', 'scan'), ('q_scan', 'filter')),
      m AS (SELECT qid, doc_id, count(*) AS n_matched
            FROM u JOIN q USING (tok) GROUP BY 1, 2),
      qc AS (SELECT qid, count(*) AS nt FROM q GROUP BY 1)
      SELECT qid, doc_id, CAST(n_matched AS BIGINT) AS n_matched
      FROM m JOIN qc USING (qid)
      WHERE n_matched = nt
      ORDER BY qid, doc_id""")),

    // URL canonicalization → exact URL dedup (the crawl-dedup first
    // step): five messy variants per target page — case-folded host,
    // explicit :443, tracking params, fragments, userinfo, shuffled
    // param order — must collide on ONE canonical key. The fixture
    // derives the variants from (source, doc_id); the ORACLE recomputes
    // the canonical form from the generative formula directly (an
    // independent recompute of intent, not the canonicalizer run
    // twice), then elects the min-id keeper per key.
    ("p63_url_dedup", Twinned { (s, d, t) =>
      def canon(docs: DataFrame): DataFrame = docs
        .select(col("doc_id"),
          graft.functions.SourceFamily.canonicalizeUrl(messyUrlFixture)
            .as("canonical_url"))
      val docs = Tables.documents(s, d)
      val groups = t.cut(canon(t.in(docs)).groupBy(col("canonical_url"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("group_size")))
      canon(docs).join(groups, Seq("canonical_url"))
        .select(col("doc_id"), col("canonical_url"), col("keeper_id"),
          (col("doc_id") === col("keeper_id")).as("kept"), col("group_size"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH c AS (SELECT doc_id,
               'https://www.' || source || '.com/a/b?x=1&y=2' AS canonical_url
             FROM documents),
      g AS (SELECT canonical_url, min(doc_id) AS keeper_id,
              count(*) AS group_size
            FROM c GROUP BY 1)
      SELECT doc_id, canonical_url, keeper_id,
             doc_id = keeper_id AS kept, group_size
      FROM c JOIN g USING (canonical_url)
      ORDER BY doc_id""")),

    // Exact phrase retrieval from the POSITIONAL index: each term
    // occurrence votes for candidate start pos−offset; a start whose
    // distinct-offset votes reach the phrase length is a match. The
    // oracle recomputes occurrences from the raw corpus.
    ("p62_phrase_search", (s, d) => {
      val idx = graft.text.CorpusOps.invertedIndexPositional(
        Tables.documents(s, d), col("doc_id"), col("text"))
      graft.text.CorpusOps.phraseSearch(idx,
          graft.text.CorpusOps.phraseDemoQueries)
        .orderBy(col("qid"), col("doc_id"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents),
      occ AS (SELECT doc_id, pr.tok AS tok, pr.pos AS pos FROM
               (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
                  i -> {'tok': toks[i], 'pos': i})) AS pr FROM t)),
      q(qid, i, tok) AS (VALUES
        ('ph_table_hash', 0, 'table'), ('ph_table_hash', 1, 'hash'),
        ('ph_part_filter', 0, 'part'), ('ph_part_filter', 1, 'filter'),
        ('ph_table_hash_join', 0, 'table'), ('ph_table_hash_join', 1, 'hash'),
        ('ph_table_hash_join', 2, 'join')),
      cand AS (SELECT qid, doc_id, pos - i AS start, count(DISTINCT i) AS ni
               FROM occ JOIN q USING (tok) GROUP BY 1, 2, 3),
      qm AS (SELECT qid, count(*) AS m FROM q GROUP BY 1)
      SELECT qid, doc_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM cand JOIN qm USING (qid) WHERE ni = m
      GROUP BY 1, 2 ORDER BY qid, doc_id""")),

    // Sliding-window RAG chunking: token windows of 32 advancing by 24
    // (overlap 8), last window short, no redundant tails — pure
    // map-side HOFs, chunk boundaries token-exact in both engines.
    ("p60_rag_chunks", Twinned { (s, d, t) =>
      t.cut(graft.text.CorpusOps.chunkForRag(t.in(Tables.documents(s, d)),
          col("doc_id"), col("text"), window = 32, stride = 24))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents),
      b AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
      c AS (SELECT doc_id, toks, n,
              unnest(generate_series(0, CASE WHEN n <= 32 THEN 0
                ELSE CAST(ceil((n - 32)::DOUBLE / 24) AS BIGINT) END)) AS chunk_idx
            FROM b)
      SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
             array_to_string(toks[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ')
               AS chunk_text,
             CAST(least(32, n - chunk_idx * 24) AS BIGINT) AS n_tokens
      FROM c ORDER BY doc_id, chunk_idx""")),

    // Materialized ANN index: build the IVF-PQ artifacts once
    // (centroids + codebooks broadcast-sized, code postings PARTITIONED
    // BY coarse list), then serve the p34 workload FROM the artifacts —
    // no corpus access at query time, the probed-list prune happening
    // as partition pruning on the postings scan. Same quantizers as
    // p34, so the served ranking shares its oracle verbatim.
    ("p59_ann_index_serve", (s, d) => {
      val e = Tables.embeddings(s, d)
      val dir = graft.sources.Sinks.tempArtifactDir("graft_ivfpq_idx")
      val cent = e.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
      val cb = SimilaritySearch.strideCodebook(e, col("vec_id"), col("embedding"),
        dim = 64, numSubspaces = 4, codeStride = 25)
      SimilaritySearch.buildIvfPqIndex(e, col("vec_id"), col("embedding"),
        cent, cb, dim = 64, numSubspaces = 4, indexDir = dir)
      SimilaritySearch.searchIvfPqIndex(dir,
          e.filter(col("vec_id") < 20), col("vec_id"), col("embedding"),
          k = 5, dim = 64, numSubspaces = 4, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    }, Some(ivfPqOracle)),

    // INCREMENTAL index maintenance: build the index over 80% of the
    // corpus, then APPEND the held-out 20% — encoded against the frozen
    // quantizer artifacts, landed as new segment files inside the
    // existing coarse-list partitions, no rebuild. Serving base+appended
    // must equal the inline build on the union corpus (p34/p59's oracle
    // verbatim): freezing the quantizers promises exactly that, and any
    // placement/encoding drift in the append path breaks the hash.
    ("p65_ann_index_append", (s, d) => {
      val e = Tables.embeddings(s, d)
      val dir = graft.sources.Sinks.tempArtifactDir("graft_ivfpq_app")
      val cent = e.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
      val cb = SimilaritySearch.strideCodebook(e, col("vec_id"), col("embedding"),
        dim = 64, numSubspaces = 4, codeStride = 25)
      SimilaritySearch.buildIvfPqIndex(e.filter(col("vec_id") % 5 =!= 4),
        col("vec_id"), col("embedding"),
        cent, cb, dim = 64, numSubspaces = 4, indexDir = dir)
      SimilaritySearch.appendToIvfPqIndex(e.filter(col("vec_id") % 5 === 4),
        col("vec_id"), col("embedding"), dim = 64, numSubspaces = 4, indexDir = dir,
        segment = "delta0")
      SimilaritySearch.searchIvfPqIndex(dir,
          e.filter(col("vec_id") < 20), col("vec_id"), col("embedding"),
          k = 5, dim = 64, numSubspaces = 4, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    }, Some(ivfPqOracle)),

    // DELETION support in the dedup history — the recrawl/takedown
    // path: the history is a ledger of (fingerprint, epoch, op) rows,
    // live = highest-epoch op is 'add'. Scenario: full ingest (epoch 0)
    // → tombstone a deterministic slice (epoch 1) → full RE-ingest
    // (epoch 2), where exactly the retracted fingerprints re-admit and
    // everything still-live is rejected. The oracle recomputes the
    // ledger outcome set-theoretically from the corpus.
    ("p66_tombstone_dedup", (s, d) => {
      val docs = Tables.documents(s, d)
      val emptyHist = docs.limit(0)
        .select(TextFunctions.fingerprint(col("text")).as("fingerprint"),
          lit(0L).as("epoch"), lit("add").as("op"))
      val s0 = Dedup.incrementalDedup(docs, col("doc_id"), col("text"),
        Dedup.liveFingerprints(emptyHist))
      val h1 = Dedup.admissions(s0, 0L).unionByName(
        Dedup.tombstones(docs.filter(expr("floor(doc_id / 20) % 7 = 3")),
          col("text"), 1L))
      Dedup.incrementalDedup(docs, col("doc_id"), col("text"),
          Dedup.liveFingerprints(h1))
        .select(col("doc_id"), col("fingerprint"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH f AS (SELECT doc_id,
                   md5(array_to_string(${sqlToks("lower(text)")}, ' '))
                     AS fingerprint
                 FROM documents),
      del AS (SELECT DISTINCT fingerprint FROM f WHERE (doc_id // 20) % 7 = 3),
      s2 AS (SELECT fingerprint, min(doc_id) AS doc_id FROM f
             WHERE fingerprint IN (SELECT fingerprint FROM del)
             GROUP BY 1)
      SELECT doc_id, fingerprint FROM s2 ORDER BY doc_id""")),

    // DELETION support in the posting log: compaction takes a
    // tombstoned doc_id set and drops every entry of a deleted doc
    // before aggregating, so the compacted index == a direct build on
    // the SURVIVING corpus (df/cf included — the oracle builds from the
    // survivors and never sees the log). Tombstones are input to the
    // one existing rewrite point, not a new mutation path.
    ("p67_index_tombstones", (s, d) => {
      val docs = Tables.documents(s, d)
      val segs = (0 to 2).map(r => graft.text.CorpusOps.invertedIndex(
          docs.filter(col("doc_id") % 3 === r), col("doc_id"), col("text")))
        .reduce(_ unionAll _)
      val deletes = docs.filter(expr("floor(doc_id / 20) % 7 = 3"))
        .select(col("doc_id"))
      graft.text.CorpusOps.compactPostingSegments(segs, deletes = Some(deletes))
        .orderBy(col("tok"))
    }, Some(s"""
      WITH u AS (SELECT doc_id, unnest(${sqlToks("text")}) AS tok FROM documents
                 WHERE NOT ((doc_id // 20) % 7 = 3)),
      tf AS (SELECT tok, doc_id, count(*) AS tf FROM u GROUP BY 1, 2)
      SELECT tok, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
             array_to_string(list_transform(
               list_sort(list({'doc_id': doc_id, 'tf': tf})),
               e -> CAST(e.doc_id AS VARCHAR) || ':' || CAST(e.tf AS VARCHAR)), ',')
               AS postings
      FROM tf GROUP BY 1 ORDER BY tok""")),

    // End-to-end curation v3 — the MULTIMODAL pipeline in ONE
    // declarative plan: URL-canonicalization dedup (p63, the crawl
    // first step) → exact text dedup (p01) among URL keepers →
    // perceptual-hash image dedup over REAL decoded pixels (p56) among
    // text keepers → token-count gate → exact per-language quota. Each
    // stage elects min-id keepers over the PREVIOUS stage's survivors,
    // and the oracle recomputes every stage independently (URL keys
    // from the generative formula, fingerprints from normalized text,
    // aHash codes from the pixel formula — never the engine run twice).
    ("p68_corpus_build3", (s, d) => {
      import graft.multimodal.ImageCodec
      val docs = Tables.documents(s, d)
      val canon = docs.select(col("doc_id"),
        graft.functions.SourceFamily.canonicalizeUrl(messyUrlFixture).as("cu"))
      val s1 = docs.join(canon.groupBy(col("cu"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      val s2 = s1.join(s1.groupBy(TextFunctions.fingerprint(col("text")).as("f"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      val codes = ImageCodec.aHashCodes(
        ImageCodec.SyntheticImages.pngFixture(s2, col("doc_id")),
        col("media_id"), col("payload"))
      val s3 = s2.join(codes.groupBy(col("phash"))
        .agg(min(col("media_id")).as("doc_id")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      val gated = s3.filter(TextFunctions.tokenCount(col("text")) >= 20)
      graft.curation.Curation.sampleExactPerGroup(
          gated, col("lang"), col("doc_id"), k = 10)
        .orderBy(col("group"), col("rank"))
    }, Some(s"""
      WITH c AS (SELECT doc_id, lang, text,
                   'https://www.' || source || '.com/a/b?x=1&y=2' AS cu
                 FROM documents),
      u1 AS (SELECT min(doc_id) AS doc_id FROM c GROUP BY cu),
      s1 AS (SELECT c.doc_id, c.lang, c.text FROM c JOIN u1 USING (doc_id)),
      fp AS (SELECT doc_id, lang, text,
               md5(array_to_string(${sqlToks("lower(text)")}, ' ')) AS f
             FROM s1),
      t1 AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
      s2 AS (SELECT fp.doc_id, fp.lang, fp.text FROM fp JOIN t1 USING (doc_id)),
      $phashCodedCtes,
      i1 AS (SELECT min(media_id) AS doc_id FROM coded
             WHERE media_id IN (SELECT doc_id FROM s2) GROUP BY phash),
      s3 AS (SELECT s2.doc_id, s2.lang, s2.text FROM s2 JOIN i1 USING (doc_id)),
      g AS (SELECT doc_id, lang FROM s3 WHERE len(${sqlToks("text")}) >= 20),
      r AS (SELECT lang, doc_id,
              row_number() OVER (PARTITION BY lang
                ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 13), doc_id) AS rn
            FROM g)
      SELECT lang AS "group", doc_id AS "key", rn AS rank FROM r
      WHERE rn <= 10 ORDER BY "group", rank""")),

    // Per-FAMILY KL drift — what a curation dashboard actually watches:
    // p54's drift monitor with SourceFamily.familyOf composed in front
    // (p57's rollup pattern), so 200 shard/cdn/port provenance variants
    // score as their ~80 registered-domain families instead of diluting
    // the signal across raw source ids. The oracle applies familyOfSql
    // (the same rules rendered in SQL) and p54's integer-micro KL chain.
    ("p69_family_kl", (s, d) => {
      import graft.functions.SourceFamily
      graft.text.CorpusOps.sourceKlDivergence(
          Tables.documents(s, d).withColumn("__src", familyUrlFixture),
          SourceFamily.familyOf(col("__src")), col("text"))
        .orderBy(col("source"))
    }, Some(s"""
      WITH urls AS (SELECT doc_id, text, $familyUrlFixtureSql AS src
        FROM documents),
      fam AS (SELECT ${graft.functions.SourceFamily.familyOfSql("src")} AS source,
                text
              FROM urls),
      u AS (SELECT source, unnest(${sqlToks("text")}) AS tok FROM fam),
      st AS (SELECT source, tok, count(*) AS n_st FROM u GROUP BY 1, 2),
      ns AS (SELECT source, CAST(sum(n_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
      ct AS (SELECT tok, CAST(sum(n_st) AS BIGINT) AS n_t FROM st GROUP BY 1),
      tot AS (SELECT CAST(sum(n_st) AS BIGINT) AS n FROM st),
      terms AS (SELECT source, n_s,
                  CAST(round((CAST(n_st AS DOUBLE) / CAST(n_s AS DOUBLE)) *
                    ln((CAST(n_st AS DOUBLE) * CAST(n AS DOUBLE)) /
                       (CAST(n_s AS DOUBLE) * CAST(n_t AS DOUBLE))) * 1e6, 0)
                    AS BIGINT) AS kl_micro
                FROM st JOIN ns USING (source) JOIN ct USING (tok), tot)
      SELECT source, max(n_s) AS n_tokens,
             round(sum(kl_micro) / 1e6, 6) AS kl
      FROM terms GROUP BY 1 ORDER BY source""")),

    // Tokenize → pack: the END of the pretraining data pipeline — BPE
    // merge-table inference over every document (p64), then concat-and-
    // chunk packing of the TOKENIZED lengths into fixed 256-token
    // training sequences per source (p32's layout over n_bpe_tokens,
    // not whitespace counts — the packer must budget what the model
    // actually consumes). Plan shape: train (one (word,count) shuffle)
    // → encode map-side IN THE SCAN STAGE with the source key riding
    // the same projection (no self-join back for provenance) → pack's
    // single per-source window shuffle. The oracle recomputes the
    // per-word symbol counts off the final unrolled TRAINING state and
    // runs the same integer pack arithmetic.
    ("p70_tokenize_pack", (s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.text.CorpusOps.bpeMergeTable(
        graft.text.CorpusOps.bpeTrainMerges(docs, col("text"), numMerges = 8))
      val enc = graft.text.CorpusOps.bpeEncode(docs, col("doc_id"), col("text"),
        merges, col("source"))
      graft.curation.Curation.packSequences(enc, col("source"), col("doc_id"),
          col("n_bpe_tokens"), seqLen = 256L)
        .select(col("doc_id"), col("source"), col("n_bpe_tokens"),
          col("seq_id"), col("seq_offset"), col("n_seqs"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH ${bpeStagesSql(8)},
      enc AS (SELECT w, replace(seq, '/', '') AS ew FROM seqs_8),
      t AS (SELECT doc_id, source, ${sqlToks("text")} AS toks FROM documents),
      occ AS (SELECT doc_id, unnest(toks) AS w FROM t),
      wc AS (SELECT o.doc_id, CAST(sum(len(string_split(e.ew, ' '))) AS BIGINT) AS n
             FROM occ o JOIN enc e ON e.w = o.w GROUP BY 1),
      n AS (SELECT t.doc_id, t.source, CAST(coalesce(wc.n, 0) AS BIGINT) AS n_bpe_tokens
            FROM t LEFT JOIN wc USING (doc_id)),
      c AS (SELECT doc_id, source, n_bpe_tokens,
              CAST(coalesce(sum(n_bpe_tokens) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cp
            FROM n)
      SELECT doc_id, source, n_bpe_tokens,
             CAST(cp // 256 AS BIGINT) AS seq_id,
             CAST(cp % 256 AS BIGINT) AS seq_offset,
             CAST(CASE WHEN n_bpe_tokens = 0 THEN 0
                  ELSE (cp + n_bpe_tokens - 1) // 256 - cp // 256 + 1 END
                  AS BIGINT) AS n_seqs
      FROM c ORDER BY doc_id""")),

    // DELETION in the ANN index — the takedown path for a live
    // similarity service: tombstones land as data segments
    // (tombstones/segment=S/, the p66 ledger rule), the serve path
    // masks them with one anti-join (deletions surface immediately),
    // and compactIvfPqIndex later drops them physically. The oracle is
    // the p34 chain with tombstoned NEIGHBORS excluded from the
    // candidate set only — quantizers, probes, and encodings are
    // full-build artifacts and must stay bit-identical.
    ("p71_ann_tombstones", (s, d) => {
      val e = Tables.embeddings(s, d)
      val dir = graft.sources.Sinks.tempArtifactDir("graft_ivfpq_del")
      val cent = e.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
      val cb = SimilaritySearch.strideCodebook(e, col("vec_id"), col("embedding"),
        dim = 64, numSubspaces = 4, codeStride = 25)
      SimilaritySearch.buildIvfPqIndex(e, col("vec_id"), col("embedding"),
        cent, cb, dim = 64, numSubspaces = 4, indexDir = dir)
      SimilaritySearch.tombstoneIvfPqIndex(e.filter(col("vec_id") % 7 === 3),
        col("vec_id"), indexDir = dir, segment = "t0")
      SimilaritySearch.searchIvfPqIndex(dir,
          e.filter(col("vec_id") < 20), col("vec_id"), col("embedding"),
          k = 5, dim = 64, numSubspaces = 4, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    }, Some(ivfPqOracleCand(" AND NOT (a.vec_id % 7 = 3)"))),

    // The SERVED dedup index — "does the corpus already hold a near-dup
    // of THIS page?" without a corpus scan (the crawl-frontier lookup):
    // LSH band postings materialize as a band_key-BUCKETED table
    // (co-location paid at write time; the serve probe join plans no
    // exchange on the corpus side), banding config rides a params
    // sidecar the probe READS (a mismatched probe cannot be expressed).
    // The oracle recomputes both sides' band keys from the shared CTE
    // prelude and pins the probe == all pairs touching the query batch.
    ("p72_minhash_index_serve", (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.buildMinhashIndex(docs, col("doc_id"), col("text"),
        indexDir = graft.sources.Sinks.tempArtifactDir("graft_mh_idx"),
        table = "graft_mh_index", nBuckets = 8)
      Dedup.queryMinhashIndex(s, "graft_mh_index",
          docs.filter(col("doc_id") % 10 === 7), col("doc_id"), col("text"))
        .orderBy(col("query_id"), col("candidate_id"))
    }, Some(s"""
      WITH $minhashBandsCtes,
      qb AS (SELECT * FROM bands WHERE doc_id % 10 = 7)
      SELECT qb.doc_id AS query_id, b.doc_id AS candidate_id
      FROM qb JOIN bands b
        ON qb.band_key = b.band_key AND b.doc_id <> qb.doc_id
      GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Corpus-build v4 — the INCREMENTAL daily-crawl cycle, composing
    // the round's ledger machinery into the pipeline that actually runs
    // every day: day-1 crawl (half the corpus) feeds exact dedup and
    // its admissions enter the ledger (epoch 0); a takedown feed
    // tombstones a slice (epoch 1, appended data); day-2 recrawls
    // EVERYTHING against the ledger's live set — still-live dupes
    // reject, the new half and exactly the retracted pages admit with
    // no special case — then the survivors pass the token gate and the
    // exact per-language quota. ONE declarative plan; the oracle
    // recomputes every stage set-theoretically from raw text.
    ("p73_corpus_build4", (s, d) => {
      val docs = Tables.documents(s, d)
      val emptyHist = docs.limit(0)
        .select(TextFunctions.fingerprint(col("text")).as("fingerprint"),
          lit(0L).as("epoch"), lit("add").as("op"))
      val day1 = docs.filter(expr("floor(doc_id / 20) % 2 = 0"))
      val s1 = Dedup.incrementalDedup(day1, col("doc_id"), col("text"),
        Dedup.liveFingerprints(emptyHist))
      val ledger = Dedup.admissions(s1, 0L).unionByName(
        Dedup.tombstones(day1.filter(expr("floor(doc_id / 20) % 7 = 3")),
          col("text"), 1L))
      val fresh = Dedup.incrementalDedup(docs, col("doc_id"), col("text"),
        Dedup.liveFingerprints(ledger))
      val gated = fresh.filter(
        TextFunctions.tokenCount(col("text")).between(20, 200))
      graft.curation.Curation.sampleExactPerGroup(
          gated, col("lang"), col("doc_id"), k = 15)
        .orderBy(col("group"), col("rank"))
    }, Some(s"""
      WITH f AS (SELECT doc_id, lang, text,
                   md5(array_to_string(${sqlToks("lower(text)")}, ' '))
                     AS fingerprint
                 FROM documents),
      d1 AS (SELECT * FROM f WHERE (doc_id // 20) % 2 = 0),
      adm1 AS (SELECT DISTINCT fingerprint FROM d1),
      del AS (SELECT DISTINCT fingerprint FROM d1 WHERE (doc_id // 20) % 7 = 3),
      live AS (SELECT fingerprint FROM adm1
               WHERE fingerprint NOT IN (SELECT fingerprint FROM del)),
      fresh AS (SELECT fingerprint, min(doc_id) AS doc_id FROM f
                WHERE fingerprint NOT IN (SELECT fingerprint FROM live)
                GROUP BY 1),
      keep AS (SELECT f.doc_id, f.lang
               FROM f JOIN fresh ON f.doc_id = fresh.doc_id
               WHERE len(${sqlToks("text")}) BETWEEN 20 AND 200),
      r AS (SELECT lang, doc_id,
              row_number() OVER (PARTITION BY lang
                ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 13), doc_id) AS rn
            FROM keep)
      SELECT lang AS "group", doc_id AS "key", rn AS rank FROM r
      WHERE rn <= 15 ORDER BY "group", rank""")),

    // Blue/green index RETRAIN — what actually happens when
    // ivfPqIndexDrift fires retrain_advised: the new quantizers build a
    // COMPLETE index in the next version directory (retraining changes
    // what every code row MEANS, so it cannot be an in-place append),
    // and an atomic CURRENT pointer swap (FileContext OVERWRITE rename)
    // flips serving; readers resolve a complete old or complete new
    // version, never a torn one, and rollback is repointing. The full
    // lifecycle that FIRES a retrain: v1 builds on 80% of the corpus,
    // the remaining 20% arrives as an appended segment under the frozen
    // quantizers (the drift the monitor measures), then
    // retrainIndexVersion derives its build input from the index's OWN
    // live membership (base + appends − tombstones) — the caller never
    // re-derives that set from ingest bookkeeping. Serving CURRENT must
    // equal the inline full build (p34's oracle verbatim).
    ("p75_ann_index_retrain", (s, d) => {
      val e = Tables.embeddings(s, d)
      val base = graft.sources.Sinks.tempArtifactDir("graft_ivfpq_ver")
      val cent = e.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
      val cb = SimilaritySearch.strideCodebook(e, col("vec_id"), col("embedding"),
        dim = 64, numSubspaces = 4, codeStride = 25)
      SimilaritySearch.publishIndexVersion(s, base) { dir =>
        SimilaritySearch.buildIvfPqIndex(e.filter(col("vec_id") % 5 =!= 4),
          col("vec_id"), col("embedding"), cent, cb,
          dim = 64, numSubspaces = 4, indexDir = dir)
      }
      SimilaritySearch.appendToIvfPqIndex(e.filter(col("vec_id") % 5 === 4),
        col("vec_id"), col("embedding"), dim = 64, numSubspaces = 4,
        indexDir = SimilaritySearch.currentIndexDir(s, base), segment = "day1")
      SimilaritySearch.retrainIndexVersion(s, base, e,
        col("vec_id"), col("embedding"), cent, cb,
        dim = 64, numSubspaces = 4)
      SimilaritySearch.searchIvfPqIndex(
          SimilaritySearch.currentIndexDir(s, base),
          e.filter(col("vec_id") < 20), col("vec_id"), col("embedding"),
          k = 5, dim = 64, numSubspaces = 4, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    }, Some(ivfPqOracle)),

    // VERIFIED near-dup serving — the full crawl-frontier check from
    // the artifact alone: the LSH probe (p72, recall) followed by
    // exact n-gram Jaccard against the index's shingle-HASH sidecar
    // (precision), corpus text never re-read at serve time (md5 is
    // one-way, so the artifact can't reconstruct content either). The
    // oracle recomputes candidates AND both shingle-hash sets from raw
    // text via the shared CTE prelude.
    ("p78_minhash_index_verify", (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.buildMinhashIndex(docs, col("doc_id"), col("text"),
        indexDir = graft.sources.Sinks.tempArtifactDir("graft_mh_vidx"),
        table = "graft_mh_vindex", nBuckets = 8)
      Dedup.queryMinhashIndexVerified(s, "graft_mh_vindex",
          docs.filter(col("doc_id") % 10 === 7), col("doc_id"), col("text"),
          threshold = 0.25)
        .orderBy(col("query_id"), col("candidate_id"))
    }, Some(s"""
      WITH $minhashBandsCtes,
      qb AS (SELECT * FROM bands WHERE doc_id % 10 = 7),
      cand AS (SELECT qb.doc_id AS query_id, b.doc_id AS candidate_id
               FROM bands b JOIN qb
                 ON qb.band_key = b.band_key AND b.doc_id <> qb.doc_id
               GROUP BY 1, 2),
      shd AS (SELECT DISTINCT doc_id, md5(s) AS h FROM
                (SELECT doc_id, unnest(shingles) AS s FROM sh)),
      sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
      inter AS (SELECT query_id, candidate_id, count(*) AS n_inter
                FROM cand JOIN shd a ON a.doc_id = query_id
                          JOIN shd b ON b.doc_id = candidate_id AND a.h = b.h
                GROUP BY 1, 2),
      j AS (SELECT c.query_id, c.candidate_id,
              CAST(coalesce(n_inter, 0) AS BIGINT) AS n_inter,
              round(CAST(coalesce(n_inter, 0) AS DOUBLE) /
                    CAST(sa.n + sb.n - coalesce(n_inter, 0) AS DOUBLE), 6)
                AS jaccard
            FROM cand c
            LEFT JOIN inter ON c.query_id = inter.query_id
                           AND c.candidate_id = inter.candidate_id
            JOIN sizes sa ON sa.doc_id = c.query_id
            JOIN sizes sb ON sb.doc_id = c.candidate_id)
      SELECT query_id, candidate_id, n_inter, jaccard FROM j
      WHERE jaccard >= 0.25 ORDER BY query_id, candidate_id""")),

    // NEAR-duplicate image election — p56's exact election extended
    // with Hamming tolerance (re-encoded/resampled copies land a few
    // bits away, never code-equal): distinct-code groups pair via
    // 8-band pigeonhole candidates (maxDist 7 < 8 bands guarantees
    // recall), the codegen HammingBits kernel verifies, and a group
    // whose code sits within tolerance of a smaller-keeper group is
    // dominated (pair-local, the fuzzyDedup rule). The oracle
    // recomputes codes from the pixel formula and does the ALL-PAIRS
    // Hamming over distinct codes — banding must lose nothing.
    ("p80_phash_near_dedup", Twinned { (s, d, t) =>
      import graft.multimodal.ImageCodec
      val docs = Tables.documents(s, d)
      ImageCodec.nearElection(phashFixtureCodes(docs),
          t.cut(ImageCodec.codeGroups(phashFixtureCodes(t.in(docs)))),
          maxDist = 7, bands = 8)
        .orderBy(col("media_id"))
    }, Some(s"""
      WITH $phashCodedCtes,
      grp AS (SELECT phash, min(media_id) AS keeper_id,
                count(*) AS group_size
              FROM coded GROUP BY 1),
      near AS (SELECT a.phash AS pa, a.keeper_id AS ka,
                 b.phash AS pb, b.keeper_id AS kb
               FROM grp a JOIN grp b ON a.phash < b.phash
               WHERE len(list_filter(generate_series(1, 64),
                       i -> substr(a.phash, i, 1) <> substr(b.phash, i, 1))) <= 7),
      dom AS (SELECT DISTINCT CASE WHEN ka <= kb THEN pb ELSE pa END AS phash
              FROM near)
      SELECT c.media_id, c.phash, g.keeper_id,
             c.media_id = g.keeper_id
               AND c.phash NOT IN (SELECT phash FROM dom) AS kept,
             g.group_size,
             c.phash IN (SELECT phash FROM dom) AS dominated
      FROM coded c JOIN grp g USING (phash)
      ORDER BY c.media_id""")),

    // The TOKENIZER MODEL lifecycle — train rarely, encode forever:
    // the learned merge table persists as a model artifact
    // (saveBpeModel) and a separate serving job loads it back
    // (loadBpeModel re-orders by rank — rank order IS the model) and
    // encodes the corpus. Must be indistinguishable from encoding with
    // the in-memory table: shares p64's oracle, which reads encodings
    // off the final unrolled TRAINING state and never sees the
    // artifact.
    ("p77_bpe_model_serve", (s, d) => {
      val docs = Tables.documents(s, d)
      val dir = graft.sources.Sinks.tempArtifactDir("graft_bpe_model")
      graft.text.CorpusOps.saveBpeModel(
        graft.text.CorpusOps.bpeTrainMerges(docs, col("text"), numMerges = 8), dir)
      graft.text.CorpusOps.bpeEncode(docs, col("doc_id"), col("text"),
          graft.text.CorpusOps.loadBpeModel(s, dir))
        .orderBy(col("doc_id"))
    }, Some(bpeEncodeOracle(8))),

    // The served dedup index LIFECYCLE — p72/p78's artifact as a live
    // service, mirroring the ANN index's maintenance story: base build
    // on 80% of the corpus, the day's crawl appended as its own
    // bucketed segment partition (static-partition overwrite =
    // per-label idempotence), a takedown tombstoned (masked at serve
    // the moment it lands), then COMPACTED physically (two provenance
    // segments, crash-safe swap, tombstone log dropped) — and the
    // verified probe after all of it must equal the exact recompute
    // over the live membership from raw text (candidates restricted to
    // live docs; the oracle never sees segments or tombstones).
    ("p79_minhash_index_lifecycle", (s, d) => {
      val docs = Tables.documents(s, d)
      val dir = graft.sources.Sinks.tempArtifactDir("graft_mh_life")
      Dedup.buildMinhashIndex(docs.filter(col("doc_id") % 5 =!= 4),
        col("doc_id"), col("text"),
        indexDir = dir, table = "graft_mh_lifeidx", nBuckets = 8)
      Dedup.appendToMinhashIndex(docs.filter(col("doc_id") % 5 === 4),
        col("doc_id"), col("text"), table = "graft_mh_lifeidx",
        segment = "day1")
      Dedup.tombstoneMinhashIndex(docs.filter(col("doc_id") % 10 === 3),
        col("doc_id"), table = "graft_mh_lifeidx", segment = "t0")
      Dedup.compactMinhashIndex(s, "graft_mh_lifeidx")
      Dedup.queryMinhashIndexVerified(s, "graft_mh_lifeidx",
          docs.filter(col("doc_id") % 10 === 7), col("doc_id"), col("text"),
          threshold = 0.25)
        .orderBy(col("query_id"), col("candidate_id"))
    }, Some(s"""
      WITH $minhashBandsCtes,
      live AS (SELECT * FROM bands WHERE doc_id % 10 <> 3),
      qb AS (SELECT * FROM bands WHERE doc_id % 10 = 7),
      cand AS (SELECT qb.doc_id AS query_id, b.doc_id AS candidate_id
               FROM live b JOIN qb
                 ON qb.band_key = b.band_key AND b.doc_id <> qb.doc_id
               GROUP BY 1, 2),
      shd AS (SELECT DISTINCT doc_id, md5(s) AS h FROM
                (SELECT doc_id, unnest(shingles) AS s FROM sh)),
      sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1),
      inter AS (SELECT query_id, candidate_id, count(*) AS n_inter
                FROM cand JOIN shd a ON a.doc_id = query_id
                          JOIN shd b ON b.doc_id = candidate_id AND a.h = b.h
                GROUP BY 1, 2),
      j AS (SELECT c.query_id, c.candidate_id,
              CAST(coalesce(n_inter, 0) AS BIGINT) AS n_inter,
              round(CAST(coalesce(n_inter, 0) AS DOUBLE) /
                    CAST(sa.n + sb.n - coalesce(n_inter, 0) AS DOUBLE), 6)
                AS jaccard
            FROM cand c
            LEFT JOIN inter ON c.query_id = inter.query_id
                           AND c.candidate_id = inter.candidate_id
            JOIN sizes sa ON sa.doc_id = c.query_id
            JOIN sizes sb ON sb.doc_id = c.candidate_id)
      SELECT query_id, candidate_id, n_inter, jaccard FROM j
      WHERE jaccard >= 0.25 ORDER BY query_id, candidate_id""")),

    // ANN recall EVALUATION — "measure, don't guess" as an operator:
    // recall@5 of the IVF-PQ tier against brute-force ground truth,
    // per query, zero-hit queries included. Both oracle sides reuse
    // the exact strings that gate p08 and p34 (nested as CTE
    // subqueries), so the evaluation cannot drift from the rankings it
    // evaluates.
    ("p76_ann_recall", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 20)
      val exact = SimilaritySearch.bruteForceTopK(e, col("vec_id"), col("embedding"),
        q, col("vec_id"), col("embedding"), k = 5)
      val approx = SimilaritySearch.ivfPqTopK(e, col("vec_id"), col("embedding"),
        q, col("vec_id"), col("embedding"), k = 5, dim = 64, nprobe = 2)
      SimilaritySearch.recallAtK(exact, approx, k = 5)
        .orderBy(col("query_id"))
    }, Some(s"""
      WITH bf AS ($bruteTopkOracle),
      ivf AS ($ivfPqOracle),
      hits AS (SELECT bf.query_id AS query_id, count(*) AS n_hits
               FROM bf JOIN ivf ON bf.query_id = ivf.query_id
                              AND bf.neighbor_id = ivf.neighbor_id
               GROUP BY 1),
      ne AS (SELECT query_id, count(*) AS n_exact FROM bf GROUP BY 1)
      SELECT ne.query_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
             CAST(n_exact AS BIGINT) AS n_exact,
             round(CAST(coalesce(n_hits, 0) AS DOUBLE) / n_exact, 6) AS recall
      FROM ne LEFT JOIN hits USING (query_id)
      ORDER BY query_id""")),

    // Retrieval EVALUATION — p76's "measure, don't guess" loop for the
    // TEXT ranking stack: MRR@15 inputs per query for the p49 BM25
    // ranking, against AND-match ground truth (docs containing every
    // query term — p61's boolean-search semantics as the relevance
    // fixture). Reciprocal rank stays in exact integer micro-units
    // (1e6 div rank); zero-hit queries kept. The oracle nests the p49
    // oracle string verbatim, so the evaluation cannot drift from the
    // ranking it evaluates.
    ("p83_bm25_mrr", (s, d) => {
      import graft.text.CorpusOps
      import s.implicits._
      val docs = Tables.documents(s, d)
      val ranking = CorpusOps.bm25TopK(docs, col("doc_id"), col("text"),
        queries = CorpusOps.bm25DemoQueries, k = 15)
      val qt = CorpusOps.bm25DemoQueries
        .flatMap { case (q, ts) => ts.distinct.map((q, _)) }.toDF("qid", "term")
      val qs = qt.groupBy(col("qid")).agg(count(lit(1)).as("nt"))
      val dt = docs.select(col("doc_id"),
        explode(array_distinct(TextFunctions.tokens(col("text")))).as("term"))
      val rel = dt.join(broadcast(qt), Seq("term"))
        .groupBy(col("qid"), col("doc_id")).agg(count(lit(1)).as("m"))
        .join(broadcast(qs), Seq("qid")).filter(col("m") === col("nt"))
        .select(col("qid"), col("doc_id"))
      CorpusOps.retrievalMrr(ranking, rel).orderBy(col("qid"))
    }, Some {
      val qtVals = graft.text.CorpusOps.bm25DemoQueries
        .flatMap { case (q, ts) => ts.distinct.map(t => s"('$q', '$t')") }
        .mkString(", ")
      s"""
      WITH r AS (${bm25Oracle("")}),
      qt AS (SELECT * FROM (VALUES $qtVals) AS t(qid, term)),
      qs AS (SELECT qid, count(*) AS nt FROM qt GROUP BY 1),
      dt AS (SELECT DISTINCT doc_id, term FROM
               (SELECT doc_id, unnest(${sqlToks("text")}) AS term
                FROM documents)),
      mm AS (SELECT qt.qid, dt.doc_id, count(*) AS m
             FROM qt JOIN dt USING (term) GROUP BY 1, 2),
      rel AS (SELECT mm.qid, mm.doc_id
              FROM mm JOIN qs USING (qid) WHERE m = nt),
      fr AS (SELECT r.qid, min(r.rank) AS frk, count(*) AS n_rel_topk
             FROM r JOIN rel ON r.qid = rel.qid AND r.doc_id = rel.doc_id
             GROUP BY 1),
      qq AS (SELECT DISTINCT qid FROM r)
      SELECT qq.qid, CAST(coalesce(n_rel_topk, 0) AS BIGINT) AS n_rel_topk,
             CAST(coalesce(frk, 0) AS BIGINT) AS first_rel_rank,
             CAST(coalesce(1000000 // frk, 0) AS BIGINT) AS rr_micro
      FROM qq LEFT JOIN fr USING (qid) ORDER BY qq.qid"""
    }),

    // The pack MANIFEST — the dataloader's view of p32's layout: one
    // row per (training sequence, document span), with the span's
    // position inside the sequence and inside the document. What a
    // training job consumes to cut attention masks at document
    // boundaries and trace a loss spike to its source document. Pure
    // integer arithmetic exploded map-side off the pack columns (no
    // shuffle beyond the one packSequences paid); the oracle runs the
    // identical interval arithmetic off its own pack recompute.
    ("p74_pack_manifest", (s, d) => {
      val docs = Tables.documents(s, d)
      val packed = graft.curation.Curation.packSequences(
        docs.select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).as("n_tokens")),
        col("source"), col("doc_id"), col("n_tokens"), seqLen = 512L)
      graft.curation.Curation.packManifest(packed, col("doc_id"),
          col("n_tokens"), seqLen = 512L, col("source"))
        .orderBy(col("source"), col("seq"), col("seq_pos"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, source,
                   CAST(len(${sqlToks("text")}) AS BIGINT) AS n_tokens
                 FROM documents),
      c AS (SELECT doc_id, source, n_tokens,
              CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cp
            FROM t),
      m AS (SELECT doc_id, source, n_tokens, cp,
              unnest(generate_series(cp // 512, (cp + n_tokens - 1) // 512)) AS seq
            FROM c WHERE n_tokens > 0)
      SELECT doc_id, CAST(seq AS BIGINT) AS seq,
             CAST(greatest(cp, seq * 512) - seq * 512 AS BIGINT) AS seq_pos,
             CAST(greatest(cp, seq * 512) - cp AS BIGINT) AS doc_pos,
             CAST(least(cp + n_tokens, (seq + 1) * 512)
                  - greatest(cp, seq * 512) AS BIGINT) AS n_span,
             source
      FROM m ORDER BY source, seq, seq_pos""")),

    // Sketch-based cross-source overlap — p52's triage matrix from
    // fixed-size mergeable bucket-min sketches (KMV with stochastic
    // averaging): ONE map-side-combinable aggregation shuffle carrying
    // ≤ partitions×sources×k rows instead of every distinct shingle
    // hash, integer-deterministic so the oracle reproduces the
    // estimates bit-for-bit (no tolerance band).
    ("p84_sketch_overlap", Twinned { (s, d, t) =>
      Dedup.sketchOverlapFromSketch(t.cut(Dedup.sourceSketch(t.in(Tables.documents(s, d)),
          col("source"), col("text"), shingleN = 3, k = 256)))
        .orderBy(col("source_a"), col("source_b"))
    }, Some(sketchOverlapOracle)),

    // Incremental sketch lifecycle — the overlap monitor maintained
    // across crawl segments: day-1 and day-2 sketches land as their own
    // segment artifacts (append-only; old text never re-read) and the
    // matrix serves from the bucket-min merge of all segments. Shares
    // p84's full-corpus oracle: serving from the incrementally-built
    // artifact must equal the one-pass build exactly.
    ("p89_sketch_lifecycle", (s, d) => {
      import graft.dedup.Dedup
      val docs = Tables.documents(s, d)
      val dir = graft.sources.Sinks.tempArtifactDir("graft_sketch_ovl")
      Dedup.writeSketchSegment(Dedup.sourceSketch(
        docs.filter(col("doc_id") % 2 === 0), col("source"), col("text")),
        dir, "day1")
      Dedup.writeSketchSegment(Dedup.sourceSketch(
        docs.filter(col("doc_id") % 2 === 1), col("source"), col("text")),
        dir, "day2")
      Dedup.servedSketchOverlap(s, dir)
        .orderBy(col("source_a"), col("source_b"))
    }, Some(sketchOverlapOracle)),

    // Bloom-prefiltered decontamination — p23's exact gate, but the
    // training shingles are tested against a broadcast Bloom sketch of
    // the eval set IN THE SCAN STAGE, so the first exchange carries only
    // hits + fpp false positives instead of the whole corpus' n-gram
    // stream; survivors verify against the exact eval set, so the
    // output (and oracle) is the exact computation — no tolerance.
    ("p85_bloom_decontam", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.text.CorpusOps.bloomDecontaminate(
          docs.filter(col("doc_id") % 101 =!= 0), col("doc_id"), col("text"),
          docs.filter(col("doc_id") % 101 === 0), col("text"), n = 3)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH toks AS (SELECT doc_id, ${sqlToks("text")} AS t FROM documents),
      sh AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 3
               THEN list_transform(generate_series(1, len(t)-2),
                      i -> array_to_string(t[i:i+2], ' '))
               ELSE [] END) AS s FROM toks),
      ev AS (SELECT DISTINCT md5(s) AS h FROM sh WHERE doc_id % 101 = 0),
      tr AS (SELECT DISTINCT doc_id, md5(s) AS h FROM sh WHERE doc_id % 101 <> 0),
      hits AS (SELECT doc_id, count(*) AS n_hits FROM tr JOIN ev USING (h)
               GROUP BY 1)
      SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
             coalesce(h.n_hits, 0) > 0 AS contaminated
      FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      WHERE d.doc_id % 101 <> 0 ORDER BY d.doc_id""")),

    // Span-level decontamination — maximal contaminated token spans per
    // training doc (gaps-and-islands over positional n-gram hits), the
    // shape surgical scrubbing needs: drop the leaked passage, keep the
    // document. Positions ride the explodedShinglesPos window shuffle;
    // islands + span agg stay on the same doc_id partitioning.
    ("p86_decontam_spans", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.text.CorpusOps.decontaminateSpans(
          docs.filter(col("doc_id") % 101 =!= 0), col("doc_id"), col("text"),
          docs.filter(col("doc_id") % 101 === 0), col("text"), n = 3)
        .orderBy(col("doc_id"), col("span_start"))
    }, Some(s"""
      WITH toks AS (SELECT doc_id, ${sqlToks("text")} AS t FROM documents),
      sh AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 3
               THEN generate_series(1, len(t)-2) ELSE [] END) AS i, t
             FROM toks),
      s2 AS (SELECT doc_id, i - 1 AS pos,
               md5(array_to_string(t[i:i+2], ' ')) AS h FROM sh),
      ev AS (SELECT DISTINCT h FROM s2 WHERE doc_id % 101 = 0),
      hits AS (SELECT doc_id, pos, pos + 2 AS e
               FROM s2 JOIN ev USING (h) WHERE doc_id % 101 <> 0),
      isl AS (SELECT doc_id, pos, e,
                max(e) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
              FROM hits),
      i2 AS (SELECT *, CASE WHEN pe IS NULL OR pos > pe + 1
                       THEN 1 ELSE 0 END AS ns FROM isl),
      i3 AS (SELECT *, sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS span_id FROM i2)
      SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
             CAST(max(e) AS BIGINT) AS span_end,
             count(*) AS n_grams
      FROM i3 GROUP BY doc_id, span_id ORDER BY doc_id, span_start""")),

    // Surgical scrubbing — every training doc re-emitted with its
    // contaminated spans REMOVED (p86's remediation): tokens inside any
    // span drop, survivors rejoin in order; clean docs pass through
    // whitespace-normalized. The yield-preserving alternative to p23's
    // whole-doc drop.
    ("p87_span_scrub", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.text.CorpusOps.scrubSpans(
          docs.filter(col("doc_id") % 101 =!= 0), col("doc_id"), col("text"),
          docs.filter(col("doc_id") % 101 === 0), col("text"), n = 3)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH toks AS (SELECT doc_id, ${sqlToks("text")} AS t FROM documents),
      sh AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 3
               THEN generate_series(1, len(t)-2) ELSE [] END) AS i, t
             FROM toks),
      s2 AS (SELECT doc_id, i - 1 AS pos,
               md5(array_to_string(t[i:i+2], ' ')) AS h FROM sh),
      ev AS (SELECT DISTINCT h FROM s2 WHERE doc_id % 101 = 0),
      hits AS (SELECT doc_id, pos, pos + 2 AS e
               FROM s2 JOIN ev USING (h) WHERE doc_id % 101 <> 0),
      isl AS (SELECT doc_id, pos, e,
                max(e) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
              FROM hits),
      i2 AS (SELECT *, CASE WHEN pe IS NULL OR pos > pe + 1
                       THEN 1 ELSE 0 END AS ns FROM isl),
      i3 AS (SELECT *, sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS span_id FROM i2),
      sp AS (SELECT doc_id, min(pos) AS ss, max(e) AS se
             FROM i3 GROUP BY doc_id, span_id),
      tk AS (SELECT doc_id, unnest(generate_series(1, len(t))) AS i, t
             FROM toks WHERE doc_id % 101 <> 0 AND len(t) >= 1),
      t2 AS (SELECT doc_id, i - 1 AS pos, t[i] AS tok FROM tk),
      dr AS (SELECT t2.doc_id, t2.pos, t2.tok,
               EXISTS(SELECT 1 FROM sp WHERE sp.doc_id = t2.doc_id
                      AND t2.pos BETWEEN sp.ss AND sp.se) AS d
             FROM t2)
      SELECT doc_id,
             CAST(sum(CASE WHEN d THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
             coalesce(array_to_string(list(tok ORDER BY pos) FILTER (WHERE NOT d), ' '),
                      '') AS scrubbed
      FROM dr GROUP BY doc_id ORDER BY doc_id""")),

    // Release manifest — the data card + integrity checksum a corpus
    // release ships with: per (source, lang) / per source / total in
    // ONE grouping-sets pass over the deduped corpus, with an
    // order-independent two-lane xor fingerprint any consumer can
    // recompute shard-parallel to verify the delivery.
    ("p88_release_manifest", (s, d) => {
      val docs = Tables.documents(s, d)
      val deduped = Dedup.dropExactDuplicates(docs, col("doc_id"), col("text"))
      graft.curation.Curation.releaseManifest(deduped,
          col("source"), col("lang"), col("text"))
        .orderBy(col("lvl"), col("source").asc_nulls_first,
          col("lang").asc_nulls_first)
    }, Some(s"""
      WITH f AS (SELECT doc_id, lang, source, text,
                   md5(array_to_string(${sqlToks("lower(text)")}, ' ')) AS fp
                 FROM documents),
      keep AS (SELECT fp, min(doc_id) AS k FROM f GROUP BY 1),
      dd AS (SELECT f.* FROM f JOIN keep ON f.doc_id = keep.k),
      m AS (SELECT source, lang,
              CAST(len(${sqlToks("text")}) AS BIGINT) AS nt,
              CAST(length(text) AS BIGINT) AS nc,
              ${sqlHash40("text")} AS h_lo,
              ${sqlHash40("text", off = 10)} AS h_hi
            FROM dd)
      SELECT CAST(grouping(source) * 2 + grouping(lang) AS BIGINT) AS lvl,
             source, lang, count(*) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS n_tokens,
             CAST(sum(nc) AS BIGINT) AS n_chars,
             CAST(bit_xor(h_lo) AS BIGINT) AS fp_lo,
             CAST(bit_xor(h_hi) AS BIGINT) AS fp_hi
      FROM m GROUP BY GROUPING SETS ((source, lang), (source), ())
      ORDER BY lvl, source NULLS FIRST, lang NULLS FIRST""")),

    // Exact per-group keep-rate calibration — "keep the best 40% per
    // language" with an engine-reproducible boundary and NO global
    // sort: one histogram aggregation (exchange carries distinct score
    // values), cumulative window over the histogram, broadcast cutoffs,
    // map-side flags. Any integer micro-unit score plugs in (p45
    // perplexity, p81 log-odds); the entry calibrates on token count.
    ("p90_quality_calibration", Twinned { (s, d, t) =>
      import graft.curation.Curation
      def rows(docs: DataFrame): DataFrame = Curation.scoreRows(docs, col("doc_id"),
        col("lang"), TextFunctions.tokenCount(col("text")))
      val docs = Tables.documents(s, d)
      Curation.calibrateFromHist(t.cut(Curation.scoreHist(rows(t.in(docs)))), rows(docs),
          rateMicro = 400000L, keepLowest = true)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH sc AS (SELECT doc_id, lang,
                    CAST(len(${sqlToks("text")}) AS BIGINT) AS score
                  FROM documents),
      h AS (SELECT lang, score, count(*) AS c FROM sc GROUP BY 1, 2),
      cum AS (SELECT lang, score,
                sum(c) OVER (PARTITION BY lang ORDER BY score
                  ROWS UNBOUNDED PRECEDING) AS cm
              FROM h),
      n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM sc GROUP BY 1),
      k AS (SELECT lang, (n * 400000 + 999999) // 1000000 AS k FROM n),
      cut AS (SELECT cum.lang, min(score) AS cutoff
              FROM cum JOIN k USING (lang)
              WHERE k > 0 AND cm >= k GROUP BY 1)
      SELECT doc_id, sc.lang AS "group", score,
             CAST(cutoff AS BIGINT) AS cutoff,
             coalesce(score <= cutoff, false) AS kept
      FROM sc LEFT JOIN cut ON sc.lang = cut.lang
      ORDER BY doc_id""")),

    // Corpus RELEASE v5 — the whole release pipeline as ONE declarative
    // plan: exact dedup → surgical span scrub against the eval set
    // (map-side kernel) → per-lang quality gate (keep the longest 80%
    // of scrubbed docs — exact calibration) → the shipped manifest with
    // integrity fingerprints. Every stage is an already-oracle-gated
    // operator; this entry pins their COMPOSITION, which is what a
    // production release actually runs.
    ("p91_corpus_release", (s, d) => {
      import graft.curation.Curation
      import graft.text.CorpusOps
      val docs = Tables.documents(s, d)
      val train = docs.filter(col("doc_id") % 101 =!= 0)
      val eval_ = docs.filter(col("doc_id") % 101 === 0)
      val dd = Dedup.dropExactDuplicates(train, col("doc_id"), col("text"))
      val scrubbed = CorpusOps.scrubSpansMapSide(dd, col("doc_id"), col("text"),
          CorpusOps.evalShingleHashes(eval_, col("text"), n = 3), n = 3)
        .join(dd.select(col("doc_id"), col("source"), col("lang")), Seq("doc_id"))
      val flags = Curation.calibrateKeepRate(scrubbed, col("doc_id"), col("lang"),
          TextFunctions.tokenCount(col("scrubbed")), rateMicro = 800000L,
          keepLowest = false)
        .filter(col("kept")).select(col("doc_id"))
      Curation.releaseManifest(scrubbed.join(flags, Seq("doc_id")),
          col("source"), col("lang"), col("scrubbed"))
        .orderBy(col("lvl"), col("source").asc_nulls_first,
          col("lang").asc_nulls_first)
    }, Some(s"""
      WITH tr AS (SELECT * FROM documents WHERE doc_id % 101 <> 0),
      f AS (SELECT doc_id, lang, source, text,
              md5(array_to_string(${sqlToks("lower(text)")}, ' ')) AS fp
            FROM tr),
      k0 AS (SELECT fp, min(doc_id) AS kid FROM f GROUP BY 1),
      dd AS (SELECT f.* FROM f JOIN k0 ON f.doc_id = k0.kid),
      tD AS (SELECT doc_id, ${sqlToks("text")} AS t FROM dd),
      shE AS (SELECT unnest(CASE WHEN len(t) >= 3
                THEN list_transform(generate_series(1, len(t)-2),
                       i -> array_to_string(t[i:i+2], ' '))
                ELSE [] END) AS s
              FROM (SELECT ${sqlToks("text")} AS t FROM documents
                    WHERE doc_id % 101 = 0)),
      evh AS (SELECT DISTINCT md5(s) AS h FROM shE),
      shD AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 3
                THEN generate_series(1, len(t)-2) ELSE [] END) AS i, t
              FROM tD),
      hitsD AS (SELECT doc_id, i - 1 AS pos, i + 1 AS e
                FROM (SELECT doc_id, i,
                        md5(array_to_string(t[i:i+2], ' ')) AS h FROM shD)
                JOIN evh USING (h)),
      tk AS (SELECT doc_id, unnest(generate_series(1, len(t))) AS i, t
             FROM tD WHERE len(t) >= 1),
      t2 AS (SELECT doc_id, i - 1 AS pos, t[i] AS tok FROM tk),
      dr AS (SELECT t2.doc_id, t2.pos, t2.tok,
               EXISTS(SELECT 1 FROM hitsD h WHERE h.doc_id = t2.doc_id
                      AND t2.pos BETWEEN h.pos AND h.e) AS dp
             FROM t2),
      sc AS (SELECT dr.doc_id,
               coalesce(array_to_string(list(tok ORDER BY pos)
                 FILTER (WHERE NOT dp), ' '), '') AS scrubbed
             FROM dr GROUP BY dr.doc_id),
      sc2 AS (SELECT sc.doc_id, dd.lang, dd.source, scrubbed,
                CAST(len(${sqlToks("scrubbed")}) AS BIGINT) AS score
              FROM sc JOIN dd ON sc.doc_id = dd.doc_id),
      hh AS (SELECT lang, score, count(*) AS c FROM sc2 GROUP BY 1, 2),
      cm AS (SELECT lang, score,
               sum(c) OVER (PARTITION BY lang ORDER BY score DESC
                 ROWS UNBOUNDED PRECEDING) AS cm
             FROM hh),
      nn AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM sc2 GROUP BY 1),
      kk AS (SELECT lang, (n * 800000 + 999999) // 1000000 AS k FROM nn),
      cut AS (SELECT cm.lang, max(score) AS cutoff
              FROM cm JOIN kk USING (lang)
              WHERE k > 0 AND cm >= k GROUP BY 1),
      kept AS (SELECT sc2.* FROM sc2 JOIN cut ON sc2.lang = cut.lang
               WHERE score >= cutoff),
      m AS (SELECT source, lang, score AS nt,
              CAST(length(scrubbed) AS BIGINT) AS nc,
              ${sqlHash40("scrubbed")} AS h_lo,
              ${sqlHash40("scrubbed", off = 10)} AS h_hi
            FROM kept)
      SELECT CAST(grouping(source) * 2 + grouping(lang) AS BIGINT) AS lvl,
             source, lang, count(*) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS n_tokens,
             CAST(sum(nc) AS BIGINT) AS n_chars,
             CAST(bit_xor(h_lo) AS BIGINT) AS fp_lo,
             CAST(bit_xor(h_hi) AS BIGINT) AS fp_hi
      FROM m GROUP BY GROUPING SETS ((source, lang), (source), ())
      ORDER BY lvl, source NULLS FIRST, lang NULLS FIRST""")),

    // Manifest DIFF — the release audit: per (source, lang) leaf, doc
    // and token deltas between two releases plus a content-change flag
    // from the xor fingerprints (catches silent edits that leave
    // counts identical). Consumes two manifests — manifest-sized
    // inputs, no corpus access, so a version diff costs nothing at
    // scale. Old release = the docs with doc_id % 5 != 4 (a prior
    // partial crawl), new = the full corpus.
    ("p92_manifest_diff", (s, d) => {
      import graft.curation.Curation
      val docs = Tables.documents(s, d)
      val m = (df: org.apache.spark.sql.DataFrame) =>
        Curation.releaseManifest(df, col("source"), col("lang"), col("text"))
      Curation.manifestDiff(m(docs.filter(col("doc_id") % 5 =!= 4)), m(docs))
        .orderBy(col("source"), col("lang"))
    }, Some(s"""
      WITH mo AS (
        SELECT source, lang, count(*) AS d,
               CAST(sum(len(${sqlToks("text")})) AS BIGINT) AS t,
               CAST(bit_xor(${sqlHash40("text")}) AS BIGINT) AS l,
               CAST(bit_xor(${sqlHash40("text", off = 10)}) AS BIGINT) AS h
        FROM documents WHERE doc_id % 5 <> 4 GROUP BY 1, 2),
      mn AS (
        SELECT source, lang, count(*) AS d,
               CAST(sum(len(${sqlToks("text")})) AS BIGINT) AS t,
               CAST(bit_xor(${sqlHash40("text")}) AS BIGINT) AS l,
               CAST(bit_xor(${sqlHash40("text", off = 10)}) AS BIGINT) AS h
        FROM documents GROUP BY 1, 2)
      SELECT coalesce(mo.source, mn.source) AS source,
             coalesce(mo.lang, mn.lang) AS lang,
             CAST(coalesce(mn.d, 0) - coalesce(mo.d, 0) AS BIGINT) AS n_docs_delta,
             CAST(coalesce(mn.t, 0) - coalesce(mo.t, 0) AS BIGINT) AS n_tokens_delta,
             CASE WHEN mo.source IS NULL THEN 'added'
                  WHEN mn.source IS NULL THEN 'removed'
                  WHEN mo.l = mn.l AND mo.h = mn.h THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM mo FULL OUTER JOIN mn
        ON mo.source = mn.source AND mo.lang = mn.lang
      ORDER BY 1, 2""")),

    // leakage-safe train/val split: the split decision hashes the exact-
    // dup CONTENT fingerprint, never the doc_id, so duplicated text can
    // never straddle train and val (a doc_id split trains on one crawl
    // copy and validates on the other — val loss silently measures
    // memorization). Pure scan-stage column program: zero shuffles.
    ("p96_leakage_safe_split", Twinned { (s, d, t) =>
      t.cut(graft.curation.Curation.leakageSafeSplit(
          t.in(Tables.documents(s, d)), col("text"))
        .select(col("doc_id"), col("fingerprint"), col("split")))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH f AS (SELECT doc_id,
                   md5(array_to_string(${sqlToks("lower(text)")}, ' ')) AS fingerprint
                 FROM documents),
      b AS (SELECT doc_id, fingerprint, md5(fingerprint) AS m FROM f)
      SELECT doc_id, fingerprint,
             CASE WHEN ${sqlBucketFromMd5("m")} < 9000
                  THEN 'train' ELSE 'val' END AS split
      FROM b ORDER BY doc_id""")),

    // the split's data card: per (split, lang) and per-split doc/token
    // totals in ONE rollup pass over p96's scan-stage assignment — the
    // table a release publishes so the split's composition is auditable
    // (no class of documents quietly missing from val). Composition:
    // map-side split + tokenCount, a single aggregation exchange.
    ("p97_split_manifest", (s, d) => {
      graft.curation.Curation.leakageSafeSplit(
          Tables.documents(s, d), col("text"))
        .select(col("split"), col("lang"),
          graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens"))
        .rollup(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .select(coalesce(col("split"), lit("ALL")).as("split"),
          coalesce(col("lang"), lit("ALL")).as("lang"),
          col("n_docs"), col("n_tokens"))
        .orderBy(col("split"), col("lang"))
    }, Some(s"""
      WITH f AS (SELECT lang,
                   CAST(len(${sqlToks("text")}) AS BIGINT) AS n,
                   md5(md5(array_to_string(${sqlToks("lower(text)")}, ' '))) AS m
                 FROM documents),
      t AS (SELECT CASE WHEN ${sqlBucketFromMd5("m")} < 9000
                        THEN 'train' ELSE 'val' END AS split, lang, n
            FROM f)
      SELECT coalesce(split, 'ALL') AS split, coalesce(lang, 'ALL') AS lang,
             count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens
      FROM t GROUP BY ROLLUP (split, lang) ORDER BY 1, 2""")),

    // deterministic epoch shuffle: the seeded md5(seed:id) global order
    // realized as 256 ordered hash-prefix buckets + broadcast prefix
    // offsets + in-bucket ranks — a bit-reproducible total order with
    // NO single-partition window (Curation.epochShuffle).
    ("p98_epoch_shuffle", (s, d) => {
      graft.curation.Curation.epochShuffle(
          Tables.documents(s, d), col("doc_id"), seed = 42L)
        .select(col("doc_id"), col("pos"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
             CAST(row_number() OVER (
               ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id)
               AS BIGINT) AS pos
      FROM documents ORDER BY doc_id""")),

    // the per-epoch dataloader job itself: deterministic shuffle (p98)
    // feeding the sequence packer (p32) — docs laid end-to-end in epoch
    // order, cut into fixed 512-token sequences. Packing is per shuffle
    // BUCKET (the natural distributed layout: a global serial pack would
    // serialize the corpus), so a sequence is addressed (bucket, seq_id).
    // Scale shape: the packer's window REUSES the shuffle's bucket
    // partitioning — ONE hash exchange serves both (plan-pinned).
    ("p99_epoch_pack", (s, d) => {
      import graft.curation.Curation
      val shuffled = Curation.epochShuffle(
          Tables.documents(s, d).select(col("doc_id"),
            TextFunctions.tokenCount(col("text")).as("n_tokens")),
          col("doc_id"), seed = 42L)
      Curation.packSequences(shuffled, col("bucket"), col("pos"),
          col("n_tokens"), seqLen = 512L)
        .select(col("doc_id"), col("bucket"), col("pos"), col("n_tokens"),
          col("seq_id"), col("seq_offset"), col("n_seqs"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH k AS (SELECT doc_id,
                   md5('42:' || CAST(doc_id AS VARCHAR)) AS key,
                   CAST(len(${sqlToks("text")}) AS BIGINT) AS n_tokens
                 FROM documents),
      p AS (SELECT doc_id, substr(key, 1, 2) AS bucket, n_tokens,
              CAST(row_number() OVER (ORDER BY key, doc_id) AS BIGINT) AS pos
            FROM k),
      c AS (SELECT doc_id, bucket, pos, n_tokens,
              CAST(coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cp
            FROM p)
      SELECT doc_id, bucket, pos, n_tokens,
             CAST(cp // 512 AS BIGINT) AS seq_id,
             CAST(cp % 512 AS BIGINT) AS seq_offset,
             CAST(CASE WHEN n_tokens = 0 THEN 0
                  ELSE (cp + n_tokens - 1) // 512 - cp // 512 + 1 END
                  AS BIGINT) AS n_seqs
      FROM c ORDER BY doc_id""")),

    // exact embedding covariance (upper triangle, integer micro²-unit
    // NUMERATORS n·Σxy − Σx·Σy — no division, no float after the
    // map-side quantization) via ONE typed-Aggregator pass: the
    // exchange carries a single ~d²/2-long buffer per partition, never
    // per-row pairs. Feeds PCA/whitening (EmbeddingStats.dominant-
    // Component + project, spec-verified — eigensolves have no SQL dual).
    ("p100_embedding_covariance", (s, d) => {
      graft.similarity.EmbeddingStats.covarianceNumerators(
          Tables.embeddings(s, d), col("embedding"), dim = 64)
        .orderBy(col("i"), col("j"))
    }, Some(covarianceOracle)),

    // incremental embedding statistics: per-crawl-day moment SEGMENTS
    // (one (n, sums, prods) row each — moments are associative, exactly
    // like the p89 sketch segments) merged at serve time through the
    // SAME finalize as the one-pass build. New embeddings append a
    // segment; old embeddings are never re-read. Shares p100's oracle:
    // the served result is an identity, not an approximation.
    ("p101_moment_lifecycle", (s, d) => {
      import graft.similarity.EmbeddingStats
      val e = Tables.embeddings(s, d)
      val dir = graft.sources.Sinks.tempArtifactDir("graft_moments")
      Seq(0, 1, 2).foreach { day =>
        EmbeddingStats.writeMomentSegment(
          e.filter(col("vec_id") % 3 === day), col("embedding"),
          dim = 64, dir, s"day$day")
      }
      EmbeddingStats.servedCovariance(s, dir, dim = 64)
        .orderBy(col("i"), col("j"))
    }, Some(covarianceOracle)),

    // declarative data-quality report — the constraint gate a pipeline
    // runs before promoting a batch: row-local rules fold per-table in
    // ONE conditional aggregation over ONE pruned scan; key uniqueness
    // is one map-combined agg; referential rules are single anti-joins.
    // Clean rules report 0, not absence — the report's shape never
    // depends on the data.
    ("p102_data_quality", Twinned { (s, d, t) =>
      import graft.operators.DataQuality._
      val li = Tables.lineitem(s, d); val o = Tables.orders(s, d)
      report(
        rowRules(li, Seq(
          "lineitem_discount_above_policy" -> (col("l_discount") > 0.06),
          "lineitem_nonpos_quantity" -> (col("l_quantity") <= 0))),
        t.cut(rowRules(t.in(Tables.events(s, d)), Seq(
          "events_value_out_of_range" -> (col("value") < 0 || col("value") > 20)))),
        t.cut(rowRules(t.in(Tables.documents(s, d)), Seq(
          "documents_nchars_mismatch" -> (col("n_chars") =!= length(col("text")))))),
        uniqueKeyRule("orders_pk_unique", o, col("o_orderkey")),
        orphanRule("lineitem_orphan_order", li, col("l_orderkey"),
          o, col("o_orderkey")),
        orphanRule("orders_childless", o, col("o_orderkey"),
          li, col("l_orderkey")),
        orphanRule("customer_without_orders", Tables.customer(s, d),
          col("c_custkey"), o, col("o_custkey")))
        .orderBy(col("rule"))
    }, Some("""
      WITH r AS (
        SELECT 'customer_without_orders' AS rule,
               (SELECT count(*) FROM customer c WHERE NOT EXISTS
                 (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS violations
        UNION ALL SELECT 'documents_nchars_mismatch',
               (SELECT count(*) FROM documents WHERE n_chars <> length(text))
        UNION ALL SELECT 'events_value_out_of_range',
               (SELECT count(*) FROM events WHERE "value" < 0 OR "value" > 20)
        UNION ALL SELECT 'lineitem_discount_above_policy',
               (SELECT count(*) FROM lineitem WHERE l_discount > 0.06)
        UNION ALL SELECT 'lineitem_nonpos_quantity',
               (SELECT count(*) FROM lineitem WHERE l_quantity <= 0)
        UNION ALL SELECT 'lineitem_orphan_order',
               (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                 (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        UNION ALL SELECT 'orders_childless',
               (SELECT count(*) FROM orders o WHERE NOT EXISTS
                 (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey))
        UNION ALL SELECT 'orders_pk_unique',
               (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders))
      SELECT rule, CAST(violations AS BIGINT) AS violations
      FROM r ORDER BY rule""")),

    // query auto-completion index: top-3 completions by corpus
    // frequency for every 1..4-char prefix — ONE corpus-sized token
    // count, then everything (prefix explode, rank) is vocabulary-sized.
    ("p103_prefix_index", Twinned { (s, d, t) =>
      import graft.text.CorpusOps
      CorpusOps.prefixIndexFromVocab(t.cut(CorpusOps.tokenCounts(
          t.in(Tables.documents(s, d)), lower(col("text")), "tok", "cnt")), maxLen = 4, k = 3)
        .orderBy(col("prefix"), col("rank"))
    }, Some(s"""
      WITH v AS (SELECT tok, count(*) AS cnt
                 FROM (SELECT unnest(${sqlToks("lower(text)")}) AS tok
                       FROM documents) GROUP BY 1),
      p AS (SELECT tok, cnt,
              unnest(list_transform(generate_series(1, least(length(tok), 4)),
                i -> substr(tok, 1, CAST(i AS INT)))) AS prefix FROM v),
      r AS (SELECT prefix, tok, cnt,
              CAST(row_number() OVER (PARTITION BY prefix
                ORDER BY cnt DESC, tok) AS BIGINT) AS rank FROM p)
      SELECT prefix, tok, cnt, rank FROM r WHERE rank <= 3
      ORDER BY prefix, rank""")),

    // SymSpell spell-correction candidates: vocabulary and probes both
    // expand to deletion-1 neighborhoods; sharing a variant is the
    // cheap candidate key (hash join, no quadratic vocab×probe scan),
    // true Levenshtein verifies and ranks — generate-and-verify, like
    // the Bloom/LSH families.
    ("p104_symspell", (s, d) => {
      graft.text.CorpusOps.symspellCandidates(
          Tables.documents(s, d), col("text"),
          probes = Seq("tabl", "scann", "grup", "window", "qwery", "vallue"),
          maxDistance = 1, k = 3)
        .orderBy(col("probe"), col("rank"))
    }, Some(symspellOracle))
  )

  /** Entries that start a Structured Streaming query when called —
    * registered in [[graft.SparkEntry.streamingNames]]. */
  def streamingDefs: Seq[(String, Q, Option[String])] = Seq(
    // end-to-end STREAMING curation: scrub -> token/quality gates ->
    // exact dedup, run on the Structured Streaming engine (file source,
    // AvailableNow) and checked against the batch oracle below — the
    // parity proof that gate composition doesn't change results between
    // live ingest and backfill.
    ("p26_streaming_curation", (s, d) => {
      graft.streaming.StreamingQueries.curationPipeline(s, d,
        Seq("engine" -> "\\b(spark|flink)\\b", "entity" -> "\\bcustomer\\b"),
        minTokens = 20L, maxTokens = 200L, minQuality = 0.5)
    }, Some {
      val en = TextFunctions.langStopwords("en")
        .map(w => s"CAST(len(list_filter(ltoks, t -> t = '$w')) AS BIGINT)")
        .mkString(" + ")
      s"""
      WITH sc AS (
        SELECT doc_id,
               regexp_replace(regexp_replace(text,
                 '\\b(spark|flink)\\b', '[ENGINE]', 'g'),
                 '\\bcustomer\\b', '[ENTITY]', 'g') AS ct
        FROM documents),
      base AS (
        SELECT doc_id, ct,
               CAST(len(${sqlToks("ct")}) AS DOUBLE) AS n_tok,
               CAST(length(ct) AS DOUBLE) AS n_char,
               CAST(length(regexp_replace(ct, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) AS alnum,
               ${sqlToks("lower(ct)")} AS ltoks
        FROM sc),
      m AS (
        SELECT doc_id, ct, n_tok,
               CASE WHEN n_tok > 0 THEN n_char / n_tok ELSE 0.0 END AS mean_tok_len,
               CASE WHEN n_tok > 0 THEN CAST($en AS DOUBLE) / n_tok ELSE 0.0 END AS stop_ratio,
               CASE WHEN n_char > 0 THEN (n_char - alnum) / n_char ELSE 0.0 END AS punct_ratio
        FROM base),
      q AS (
        SELECT doc_id, ct, n_tok,
               round(least(greatest(
                 least(n_tok / 100.0, 1.0) * 0.4 +
                 (CASE WHEN mean_tok_len >= 3 AND mean_tok_len <= 10 THEN 1.0 ELSE 0.5 END) * 0.2 +
                 stop_ratio * 0.2 + (1.0 - punct_ratio) * 0.2,
                 0.0), 1.0), 4) AS quality
        FROM m),
      kept AS (SELECT * FROM q WHERE n_tok BETWEEN 20 AND 200 AND quality >= 0.5)
      SELECT md5(array_to_string(${sqlToks("lower(ct)")}, ' ')) AS fingerprint,
             min(doc_id) AS keeper_id, count(*) AS group_size
      FROM kept GROUP BY 1 ORDER BY 1"""
    })
  )

  /** DuckDB dual of the deletion-1 neighborhood {s} ∪ del1(s). */
  private def sqlDeletions(c: String): String =
    s"""list_distinct(list_append(list_transform(generate_series(1, length($c)),
          i -> substr($c, 1, CAST(i - 1 AS INT)) || substr($c, CAST(i + 1 AS INT))), $c))"""

  private lazy val symspellOracle: String = s"""
      WITH v AS (SELECT tok, count(*) AS cnt
                 FROM (SELECT unnest(${sqlToks("lower(text)")}) AS tok
                       FROM documents) GROUP BY 1),
      vv AS (SELECT tok, cnt, unnest(${sqlDeletions("tok")}) AS variant FROM v),
      probes(probe) AS (VALUES ('tabl'), ('scann'), ('grup'), ('window'),
                               ('qwery'), ('vallue')),
      pv AS (SELECT probe, unnest(${sqlDeletions("probe")}) AS variant FROM probes),
      c AS (SELECT DISTINCT probe, tok, cnt FROM vv JOIN pv USING (variant)),
      d AS (SELECT probe, tok, cnt,
              CAST(levenshtein(probe, tok) AS BIGINT) AS distance
            FROM c WHERE levenshtein(probe, tok) <= 1),
      r AS (SELECT probe, tok, cnt, distance,
              CAST(row_number() OVER (PARTITION BY probe
                ORDER BY distance, cnt DESC, tok) AS BIGINT) AS rank FROM d)
      SELECT probe, tok, distance, cnt, rank FROM r WHERE rank <= 3
      ORDER BY probe, rank"""

  /** Late additions appended to [[defs]] by SparkEntry (kept separate:
    * Scala 2 won't propagate the expected element type into the
    * receiver of a `Seq(...) ++` appended inside [[defs]] itself).
    */
  lazy val lateDefs: Seq[(String, Q, Option[String])] = Seq(
    // curriculum ordering + pack — the easy→hard dataloader job: tier
    // by doc length (short→long, fixed thresholds), seeded-random
    // WITHIN each tier, pack per composite bucket. Same distributed
    // prefix-offset machinery as p98/p99 (the composite tier:hex bucket
    // still sorts lexicographically in global order), same ONE shared
    // exchange for shuffle + pack.
    ("p105_curriculum_pack", (s, d) => {
      import graft.curation.Curation
      val docs = Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
      val tier = when(col("n_tokens") < 40, 0)
        .when(col("n_tokens") < 65, 1).otherwise(2)
      val shuffled = Curation.curriculumShuffle(
        docs.withColumn("tier", tier), col("doc_id"), col("tier"), seed = 7L)
      Curation.packSequences(shuffled, col("bucket"), col("pos"),
          col("n_tokens"), seqLen = 512L)
        .select(col("doc_id"), col("tier").cast("long").as("tier"),
          col("bucket"), col("pos"), col("n_tokens"),
          col("seq_id"), col("seq_offset"), col("n_seqs"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH k AS (SELECT doc_id,
                   md5('7:' || CAST(doc_id AS VARCHAR)) AS key,
                   CAST(len(${sqlToks("text")}) AS BIGINT) AS n_tokens
                 FROM documents),
      t AS (SELECT doc_id, key, n_tokens,
              CASE WHEN n_tokens < 40 THEN 0
                   WHEN n_tokens < 65 THEN 1 ELSE 2 END AS tier
            FROM k),
      p AS (SELECT doc_id, tier, n_tokens,
              CAST(tier AS VARCHAR) || ':' || substr(key, 1, 2) AS bucket,
              CAST(row_number() OVER (ORDER BY tier, key, doc_id) AS BIGINT) AS pos
            FROM t),
      c AS (SELECT doc_id, tier, bucket, pos, n_tokens,
              CAST(coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS cp
            FROM p)
      SELECT doc_id, CAST(tier AS BIGINT) AS tier, bucket, pos, n_tokens,
             CAST(cp // 512 AS BIGINT) AS seq_id,
             CAST(cp % 512 AS BIGINT) AS seq_offset,
             CAST(CASE WHEN n_tokens = 0 THEN 0
                  ELSE (cp + n_tokens - 1) // 512 - cp // 512 + 1 END
                  AS BIGINT) AS n_seqs
      FROM c ORDER BY doc_id""")),

    // leakage-aware deterministic negative sampling for contrastive
    // pairs: per eval-slice query, 5 negatives by the md5(qid:docid)
    // dice roll from a 20% candidate pool, with exact-duplicate
    // candidates excluded by content fingerprint (an exact copy of the
    // query can never serve as its own "negative" — p96's rule applied
    // to pair construction). Queries broadcast; the pool threshold is
    // the map-side knob bounding per-query work.
    ("p106_negative_sampling", (s, d) => {
      import graft.functions.TextFunctions
      val docsFp = Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"))
      graft.curation.Curation.negativeSamples(
          docsFp.filter(col("doc_id") % 101 =!= 0), col("doc_id"), col("fp"),
          docsFp.filter(col("doc_id") % 101 === 0), col("doc_id"), col("fp"),
          poolPermille = 2000, k = 5)
        .orderBy(col("qid"), col("rank"))
    }, Some(s"""
      WITH d AS (SELECT doc_id,
                   md5(array_to_string(${sqlToks("lower(text)")}, ' ')) AS fp
                 FROM documents),
      e AS (SELECT doc_id AS qid, fp AS qfp FROM d WHERE doc_id % 101 = 0),
      t AS (SELECT doc_id, fp FROM d WHERE doc_id % 101 <> 0),
      c AS (SELECT e.qid, t.doc_id,
              md5(CAST(e.qid AS VARCHAR) || ':' || CAST(t.doc_id AS VARCHAR)) AS m
            FROM e CROSS JOIN t WHERE t.fp <> e.qfp),
      b AS (SELECT qid, doc_id, m FROM c WHERE ${sqlBucketFromMd5("m")} < 2000),
      r AS (SELECT qid, doc_id,
              CAST(row_number() OVER (PARTITION BY qid ORDER BY m, doc_id)
                AS BIGINT) AS rank
            FROM b)
      SELECT qid, doc_id, rank FROM r WHERE rank <= 5
      ORDER BY qid, rank""")),

    // Blue/green retrain FROM the index's own compacted segments — the
    // production path once takedowns have accumulated: v1 builds on the
    // full corpus, a takedown feed tombstones a slice, then
    // retrainFromCompactedIndex compacts v1 (the tombstone log folds
    // into the postings physically), derives the rebuild's membership
    // from the compacted postings ALONE (id-only, no mask anti-join, no
    // ingest bookkeeping re-run), re-reads the vector store only for
    // the vectors being re-encoded, and publishes v2 behind the atomic
    // CURRENT swap. Serving CURRENT must equal the inline build on
    // corpus-minus-takedowns (p34's oracle with the candidate
    // exclusion) — a rebuild that resurrected a tombstoned vector is
    // the deletion bug this membership rule exists to prevent.
    ("p107_ann_retrain_compacted", (s, d) => {
      val e = Tables.embeddings(s, d)
      val base = graft.sources.Sinks.tempArtifactDir("graft_ivfpq_cver")
      val cent = e.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
      val cb = SimilaritySearch.strideCodebook(e, col("vec_id"), col("embedding"),
        dim = 64, numSubspaces = 4, codeStride = 25)
      SimilaritySearch.publishIndexVersion(s, base) { dir =>
        SimilaritySearch.buildIvfPqIndex(e, col("vec_id"), col("embedding"),
          cent, cb, dim = 64, numSubspaces = 4, indexDir = dir)
      }
      SimilaritySearch.tombstoneIvfPqIndex(e.filter(col("vec_id") % 9 === 5),
        col("vec_id"), SimilaritySearch.currentIndexDir(s, base),
        segment = "takedown1")
      SimilaritySearch.retrainFromCompactedIndex(s, base, e,
        col("vec_id"), col("embedding"), cent, cb,
        dim = 64, numSubspaces = 4)
      SimilaritySearch.searchIvfPqIndex(
          SimilaritySearch.currentIndexDir(s, base),
          e.filter(col("vec_id") < 20), col("vec_id"), col("embedding"),
          k = 5, dim = 64, numSubspaces = 4, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    }, Some(ivfPqOracleCand(" AND NOT (a.vec_id % 9 = 5)"))),

    // Graded-relevance nDCG@10 of the hybrid ranking — p95's MRR
    // harness extended past binary relevance: grade = number of matched
    // query terms (a 3-of-3 doc at rank 1 counts more than a 1-of-3),
    // gains × the shared LITERAL discount table in integer micro-units
    // (ndcgDiscountMicro — no per-engine log2 at the oracle boundary),
    // ideal DCG from the query's k best grades over ALL graded docs,
    // quotient via the half-up integer rule. Oracle nests the shared
    // hybrid oracle verbatim (p95's pattern) so the evaluation cannot
    // drift from the ranking it evaluates.
    ("p108_hybrid_ndcg", (s, d) => {
      import graft.text.CorpusOps
      import s.implicits._
      val docs = Tables.documents(s, d)
      val e = Tables.embeddings(s, d)
      val text = CorpusOps.bm25TopK(docs, col("doc_id"), col("text"),
          CorpusOps.bm25DemoQueries, k = 15)
        .select(col("qid"), col("doc_id"), col("rank"))
      val qmap = CorpusOps.bm25DemoQueries.map(_._1).zipWithIndex
        .map { case (q, i) => (q, i.toLong) }.toDF("qid", "query_vec")
      val vec = SimilaritySearch.bruteForceTopK(e, col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 3), col("vec_id"), col("embedding"), k = 15)
        .join(broadcast(qmap), col("query_id") === col("query_vec"))
        .select(col("qid"), col("neighbor_id").as("doc_id"), col("rank"))
      val fused = CorpusOps.rrfFuse(Seq(text, vec), k0 = 60, topK = 10)
      val qt = CorpusOps.bm25DemoQueries
        .flatMap { case (q, ts) => ts.distinct.map((q, _)) }.toDF("qid", "term")
      val dt = docs.select(col("doc_id"),
        explode(array_distinct(TextFunctions.tokens(col("text")))).as("term"))
      val graded = dt.join(broadcast(qt), Seq("term"))
        .groupBy(col("qid"), col("doc_id")).agg(count(lit(1)).as("grade"))
      CorpusOps.retrievalNdcg(fused, graded, k = 10).orderBy(col("qid"))
    }, Some {
      val qtVals = graft.text.CorpusOps.bm25DemoQueries
        .flatMap { case (q, ts) => ts.distinct.map(t => s"('$q', '$t')") }
        .mkString(", ")
      val discVals = graft.text.CorpusOps.ndcgDiscountMicro(10)
        .map { case (r, m) => s"($r, $m)" }.mkString(", ")
      s"""
      WITH r AS ($hybridRrfOracle),
      qt AS (SELECT * FROM (VALUES $qtVals) AS t(qid, term)),
      dt AS (SELECT DISTINCT doc_id, term FROM
               (SELECT doc_id, unnest(${sqlToks("text")}) AS term
                FROM documents)),
      g AS (SELECT qt.qid, dt.doc_id, count(*) AS grade
            FROM qt JOIN dt USING (term) GROUP BY 1, 2),
      disc AS (SELECT * FROM (VALUES $discVals) AS t(rank, disc_micro)),
      dcg AS (SELECT r.qid,
                CAST(sum(g.grade * disc.disc_micro) AS BIGINT) AS dcg_micro
              FROM r JOIN g ON r.qid = g.qid AND r.doc_id = g.doc_id
                   JOIN disc ON disc.rank = r.rank
              WHERE r.rank <= 10 GROUP BY 1),
      ig AS (SELECT qid, grade, doc_id,
               row_number() OVER (PARTITION BY qid
                 ORDER BY grade DESC, doc_id) AS irank
             FROM g),
      idcg AS (SELECT qid,
                 CAST(sum(grade * disc_micro) AS BIGINT) AS idcg_micro
               FROM ig JOIN disc ON disc.rank = ig.irank
               WHERE irank <= 10 GROUP BY 1),
      qq AS (SELECT DISTINCT qid FROM r)
      SELECT qq.qid,
             CAST(coalesce(dcg_micro, 0) AS BIGINT) AS dcg_micro,
             CAST(coalesce(idcg_micro, 0) AS BIGINT) AS idcg_micro,
             CAST(coalesce(CASE WHEN idcg_micro > 0
                  THEN (2 * 1000000 * dcg_micro + idcg_micro)
                       // (2 * idcg_micro) END, 0) AS BIGINT) AS ndcg_micro
      FROM qq LEFT JOIN dcg USING (qid) LEFT JOIN idcg USING (qid)
      ORDER BY qq.qid"""
    }),

    // The REAL PII patterns through the oracle gate: p25 exercises the
    // scrub dataflow with denylist terms (the synthetic corpus is
    // digit-free, so the PII library itself only had spec coverage on
    // crafted strings). This entry plants a deterministic contact
    // block — email + phone + IPv4 derived from doc_id — in BOTH
    // engines (p56's formula-duality pattern) and runs
    // CorpusOps.scrub with its stock piiPatterns; the oracle
    // re-synthesizes the identical block and mirrors the replace
    // cascade with the same regex literals (a Java-regex/RE2-common
    // subset by construction: classes, bounded quantifiers, ASCII \b —
    // no lookaround).
    ("p109_pii_redact", Twinned { (s, d, t) =>
      t.cut(graft.text.CorpusOps.scrub(
          t.in(Tables.documents(s, d)).select(col("doc_id"),
            piiFixtureText.as("text")),
          col("doc_id"), col("text")))
        .orderBy(col("doc_id"))
    }, Some(piiOracle)),

    // REAL-container audio statistics — the audio kind leaves the
    // FakeCodec stub tier: the fixture writes actual RIFF/WAVE PCM
    // s16le bytes whose samples follow a doc_id formula
    // (AudioCodec.SyntheticAudio), the engine walks the chunk list and
    // decodes real bytes, and the oracle recomputes every statistic
    // from the formula (ImageCodec's decode-vs-formula duality).
    // Integer-exact DSP: peak, energy Σs², clip counts, and the
    // leading/trailing silence runs a trim pass would cut.
    ("p110_audio_stats", (s, d) => {
      import graft.multimodal.AudioCodec
      AudioCodec.audioStats(
          AudioCodec.SyntheticAudio.wavFixture(Tables.documents(s, d), col("doc_id")),
          col("media_id"), col("payload"))
        .orderBy(col("media_id"))
    }, Some(s"""
      WITH ${graft.multimodal.AudioCodec.SyntheticAudio.oracleClips},
      u AS (SELECT media_id, n, unnest(sm) AS s,
              unnest(generate_series(0, CAST(n - 1 AS INT))) AS k
            FROM clips),
      g AS (SELECT media_id, count(*) AS n_samples,
              CAST(max(abs(s)) AS BIGINT) AS peak,
              CAST(sum(s * s) AS BIGINT) AS energy,
              CAST(sum(CASE WHEN abs(s) >= 15000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped,
              min(CASE WHEN abs(s) > 1600 THEN k END) AS fl,
              max(CASE WHEN abs(s) > 1600 THEN k END) AS ll
            FROM u GROUP BY 1)
      SELECT media_id, CAST(8000 AS BIGINT) AS sample_rate, n_samples,
             peak, energy, n_clipped,
             CAST(coalesce(fl, n_samples) AS BIGINT) AS lead_silence,
             CAST(CASE WHEN fl IS NULL THEN 0
                       ELSE n_samples - 1 - ll END AS BIGINT) AS trail_silence
      FROM g ORDER BY media_id""")),

    // the per-frame energy grid (non-overlapping 20-sample frames,
    // last frame short) — what VAD / loudness normalization consumes;
    // same real-decode path, same formula oracle.
    ("p111_audio_frames", (s, d) => {
      import graft.multimodal.AudioCodec
      AudioCodec.frameEnergy(
          AudioCodec.SyntheticAudio.wavFixture(Tables.documents(s, d), col("doc_id")),
          col("media_id"), col("payload"), frameLen = 20)
        .orderBy(col("media_id"), col("frame_idx"))
    }, Some(s"""
      WITH ${graft.multimodal.AudioCodec.SyntheticAudio.oracleClips},
      u AS (SELECT media_id, unnest(sm) AS s,
              unnest(generate_series(0, CAST(n - 1 AS INT))) AS k
            FROM clips)
      SELECT media_id, CAST(k // 20 AS BIGINT) AS frame_idx,
             count(*) AS n_in_frame, CAST(sum(s * s) AS BIGINT) AS energy
      FROM u GROUP BY 1, 2 ORDER BY media_id, frame_idx""")),

    // int8 scalar quantization audit — the serving dtype an ANN shard
    // actually ships: symmetric per-vector codes q = halfup(127·x/m)
    // with m = max|x_micro|, and EXACT ×127-scaled residual numerators
    // (err = 127·x − q·m), so Σerr²/Σq/Σ|q|/saturation-count pin every
    // code integer-exactly (signed half-up via the magnitude (2a+b)
    // div 2b idiom — the p81 rule). Pure map-side column program,
    // zero shuffles.
    ("p112_int8_quantize", (s, d) => {
      graft.similarity.EmbeddingStats.int8Quantize(
          Tables.embeddings(s, d), col("vec_id"), col("embedding"))
        .orderBy(col("vec_id"))
    }, Some("""
      WITH m0 AS (SELECT vec_id,
              list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS em
            FROM embeddings),
      m1 AS (SELECT vec_id, em,
              coalesce(list_max(list_transform(em, x -> abs(x))), 0) AS mam
            FROM m0),
      m2 AS (SELECT vec_id, em, mam,
              list_transform(em, x -> CASE WHEN mam = 0 THEN 0
                WHEN x >= 0 THEN (2 * 127 * x + mam) // (2 * mam)
                ELSE -((2 * 127 * -x + mam) // (2 * mam)) END) AS q
            FROM m1)
      SELECT vec_id, CAST(mam AS BIGINT) AS max_abs_micro,
             CAST(list_sum(q) AS BIGINT) AS sum_q,
             CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT)
               AS sum_abs_q,
             CAST(list_sum(list_transform(q,
               x -> CASE WHEN abs(x) = 127 THEN 1 ELSE 0 END)) AS BIGINT)
               AS n_saturated,
             CAST(list_sum(list_transform(range(1, len(em) + 1),
               i -> (127 * em[i] - q[i] * mam) * (127 * em[i] - q[i] * mam)))
               AS BIGINT) AS sq_err_num
      FROM m2 ORDER BY vec_id""")),

    // Dataset-mixture plan — the data-mixing config table (Pile/LLaMA
    // source weighting): target permille shares against a token
    // budget, a repetition cap per source, ONE integer-exact
    // headroom-proportional redistribution of the capped shortfall,
    // and the division remainder emitted as an explicit __UNASSIGNED
    // row (no silent caps). At sf0.01 the skewed sources saturate the
    // 2-epoch cap and redistribution moves real mass; at sf0.1 the
    // same fixed budget sits under every cap — both regimes ride one
    // oracle. Loud contracts: weight↔group mismatch raises; an
    // infeasible budget (deficit > total headroom) raises instead of
    // silently over-repeating data.
    ("p113_mixture_plan", (s, d) => {
      graft.curation.Curation.mixturePlan(
          Tables.documents(s, d), col("source"),
          TextFunctions.tokenCount(col("text")),
          mixtureWeights, budget = 40000L, capMilliEpochs = 2000L)
        .orderBy(col("group"))
    }, Some {
      val wVals = mixtureWeights
        .map { case (g, p) => s"('$g', $p)" }.mkString(", ")
      s"""
      WITH t AS (SELECT source AS grp,
                   CAST(sum(len(${sqlToks("text")})) AS BIGINT) AS n_tokens
                 FROM documents GROUP BY 1),
      w AS (SELECT * FROM (VALUES $wVals) AS w(grp, permille)),
      g AS (SELECT t.grp AS "group", n_tokens,
              CAST(permille AS BIGINT) AS target_permille,
              permille * 40000 // 1000 AS ideal,
              2000 * n_tokens // 1000 AS cap
            FROM t JOIN w ON t.grp = w.grp),
      g2 AS (SELECT *, least(ideal, cap) AS take1,
               cap - least(ideal, cap) AS head FROM g),
      tot AS (SELECT CAST(sum(take1) AS BIGINT) AS sum_take,
                CAST(sum(head) AS BIGINT) AS sum_head FROM g2),
      g4 AS (SELECT "group", n_tokens, target_permille,
               take1 + CASE WHEN sum_head > 0
                 THEN (40000 - sum_take) * head // sum_head
                 ELSE 0 END AS planned_tokens,
               ideal > cap AS capped
             FROM g2, tot)
      SELECT "group", n_tokens, target_permille,
             CAST(planned_tokens AS BIGINT) AS planned_tokens,
             CAST(planned_tokens * 1000 // n_tokens AS BIGINT)
               AS milli_epochs, capped
      FROM g4
      UNION ALL
      SELECT '__UNASSIGNED', 0, 0,
             CAST(40000 - sum(planned_tokens) AS BIGINT), 0, false
      FROM g4
      ORDER BY "group""""
    }),

    // Alignment-free corpus SELF-dedup at span granularity (ExactSubstr:
    // repeated passages hurt LMs beyond repeated documents, and doc-level
    // near-dup filters miss a boilerplate block pasted into distinct
    // docs): every 8-token span occurring more than once in the corpus
    // keeps its globally-first occurrence — total order (doc_id, pos),
    // elected as ONE map-side-combinable min of a packed doc_id·2^20+pos
    // BIGINT per shingle hash — and every later occurrence scrubs (p87's
    // coverage rule). Hot spans pre-aggregate before the exchange; only
    // the multi-occurrence sliver rejoins.
    ("p114_self_dedup", (s, d) => {
      graft.text.CorpusOps.selfDedupSpans(
          Tables.documents(s, d), col("doc_id"), col("text"), n = 8)
        .orderBy(col("doc_id"))
    }, Some(selfDedupOracle(""))),

    // DSIR importance weights — domain matching via hashed bigram
    // features: the target slice (doc_id % 101 = 0, the in-domain
    // sample) and the raw crawl each become add-one-smoothed
    // categoricals over a FIXED 4096-bucket hashed feature space, and
    // each raw doc scores the summed per-occurrence log importance
    // ratio in integer micro-units (p81's truncate-once rule). The
    // model is ≤ 4096 rows at ANY corpus size — training is one
    // tiny-key count aggregate per side, scoring a broadcast join.
    ("p115_dsir_weights", Twinned { (s, d, t) =>
      val docs = Tables.documents(s, d)
      val model = graft.text.CorpusOps.dsirModel(
        docs.filter(col("doc_id") % 101 =!= 0), col("doc_id"), col("text"),
        docs.filter(col("doc_id") % 101 === 0), col("doc_id"), col("text"),
        buckets = 4096)
      t.cut(graft.text.CorpusOps.dsirLogWeights(
          t.in(docs).filter(col("doc_id") % 101 =!= 0), col("doc_id"), col("text"),
          model))
        .orderBy(col("doc_id"))
    }, Some(dsirOracle)),

    // DSIR's resampling half: k docs drawn without replacement with
    // probability ∝ exp(logw) via Gumbel-top-k (A-ES in LOG space —
    // exp(logw) would overflow long before a real corpus stops needing
    // it): rank ascending by ln(−ln u) − logw with the same
    // deterministic 52-bit md5 dice roll the weighted reservoir uses.
    // Two-phase bounded TopK, no global sort; output is integer-only,
    // so only the ORDER crosses the engine boundary.
    ("p116_dsir_resample", (s, d) => {
      val docs = Tables.documents(s, d)
      val model = graft.text.CorpusOps.dsirModel(
        docs.filter(col("doc_id") % 101 =!= 0), col("doc_id"), col("text"),
        docs.filter(col("doc_id") % 101 === 0), col("doc_id"), col("text"),
        buckets = 4096)
      val w = graft.text.CorpusOps.dsirLogWeights(
        docs.filter(col("doc_id") % 101 =!= 0), col("doc_id"), col("text"),
        model)
      graft.text.CorpusOps.dsirResample(w, k = 100)
        .orderBy(col("rank"))
    }, Some(s"""
      WITH $dsirCtes
      SELECT doc_id, CAST(row_number() OVER (ORDER BY
               ln(-ln(LEAST(${sqlRoll52("CAST(doc_id AS VARCHAR)")} + 1,
                            4503599627370495) / 4503599627370496.0))
               - CAST(logw_micro AS DOUBLE) / 1e6, doc_id) AS BIGINT) AS rank
      FROM sc QUALIFY rank <= 100 ORDER BY rank""")),

    // C4/Gopher filter funnel with per-gate attribution — the
    // curation observability report: gates in fixed order (short-doc →
    // lang → repetition → stopword density → token shape), each doc
    // attributed to the FIRST gate that kills it, one row per stage
    // plus an explicit __RETAINED row (shape never depends on data; a
    // clean gate reports 0, not absence). Thresholds compare UNROUNDED
    // exact-IEEE fractions — rounding at a comparison boundary is the
    // p81 trap. One map-side metric pass + the repetition doc-keyed
    // agg + ONE one-row conditional aggregation.
    ("p117_filter_funnel", (s, d) => {
      graft.text.CorpusOps.filterFunnel(
          Tables.documents(s, d), col("doc_id"), col("text"), col("lang"))
        .orderBy(col("stage"))
    }, Some {
      val stopExpr = graft.functions.TextFunctions.langStopwords("en")
        .map(w => s"CAST(len(list_filter(ltoks, x -> x = '$w')) AS BIGINT)")
        .mkString(" + ")
      s"""
      WITH toks AS (SELECT doc_id, lang, ${sqlToks("text")} AS t,
              CAST(length(text) AS DOUBLE) AS n_char,
              ${sqlToks("lower(text)")} AS ltoks FROM documents),
      sh AS (SELECT doc_id, CASE WHEN len(t) >= 2
               THEN list_transform(generate_series(1, len(t)-1),
                      i -> array_to_string(t[i:i+1], ' '))
               ELSE [] END AS s FROM toks),
      dup AS (SELECT doc_id, CASE WHEN len(s) > 0
                THEN CAST(len(s) - len(list_distinct(s)) AS DOUBLE)
                     / CAST(len(s) AS DOUBLE)
                ELSE 0.0 END AS dupf FROM sh),
      tc AS (SELECT doc_id, unnest(t) AS tok FROM toks),
      cnt AS (SELECT doc_id, tok, count(*) AS c FROM tc GROUP BY 1, 2),
      md AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
                      AS topf FROM cnt GROUP BY 1),
      m AS (SELECT t2.doc_id, lang, len(t2.t) AS n_tok, n_char,
              CAST($stopExpr AS DOUBLE) AS stop_hits,
              dupf, coalesce(topf, 0.0) AS topf
            FROM toks t2 JOIN dup USING (doc_id) LEFT JOIN md USING (doc_id)),
      k AS (SELECT CASE WHEN n_tok < 20 THEN 1
                   WHEN lang <> 'en' THEN 2
                   WHEN dupf > 0.08 OR topf > 0.1 THEN 3
                   WHEN stop_hits / n_tok < 0.03 THEN 4
                   WHEN n_char / n_tok < 3.0 OR n_char / n_tok > 10.0 THEN 5
                   ELSE 0 END AS k FROM m),
      a AS (SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
              CAST(sum(CASE WHEN k = 2 THEN 1 ELSE 0 END) AS BIGINT) AS k2,
              CAST(sum(CASE WHEN k = 3 THEN 1 ELSE 0 END) AS BIGINT) AS k3,
              CAST(sum(CASE WHEN k = 4 THEN 1 ELSE 0 END) AS BIGINT) AS k4,
              CAST(sum(CASE WHEN k = 5 THEN 1 ELSE 0 END) AS BIGINT) AS k5
            FROM k)
      SELECT CAST(stage AS BIGINT) AS stage, gate,
             CAST(n_in AS BIGINT) AS n_in,
             CAST(n_killed AS BIGINT) AS n_killed,
             CAST(n_out AS BIGINT) AS n_out
      FROM (
        SELECT 1 AS stage, 'min_tokens' AS gate, n AS n_in,
               k1 AS n_killed, n - k1 AS n_out FROM a
        UNION ALL SELECT 2, 'lang', n - k1, k2, n - k1 - k2 FROM a
        UNION ALL SELECT 3, 'repetition', n - k1 - k2, k3,
               n - k1 - k2 - k3 FROM a
        UNION ALL SELECT 4, 'stopword_ratio', n - k1 - k2 - k3, k4,
               n - k1 - k2 - k3 - k4 FROM a
        UNION ALL SELECT 5, 'mean_token_length', n - k1 - k2 - k3 - k4, k5,
               n - k1 - k2 - k3 - k4 - k5 FROM a
        UNION ALL SELECT 6, '__RETAINED', n - k1 - k2 - k3 - k4 - k5, 0,
               n - k1 - k2 - k3 - k4 - k5 FROM a)
      ORDER BY stage"""
    }),

    // Semantic decontamination — the embedding-space companion to the
    // n-gram leakage gates (a paraphrase shares no 3-gram but sits next
    // to its source in embedding space): every train vector reports its
    // nearest vector in the eval panel (vec_id % 97 = 0) via the
    // packed-argmax election (rounded cosine, smallest eval id on ties)
    // and whether that reaches the threshold; clean vectors stay in the
    // report. Eval panel broadcast — one map-side score + one vec-keyed
    // max, no corpus-sized vector shuffle.
    ("p118_semantic_decontam", (s, d) => {
      val embs = Tables.embeddings(s, d)
      Dedup.semanticDecontam(
          embs.filter(col("vec_id") % 97 =!= 0), col("vec_id"), col("embedding"),
          embs.filter(col("vec_id") % 97 === 0), col("vec_id"), col("embedding"),
          threshold = 0.35)
        .orderBy(col("vec_id"))
    }, Some("""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      t AS (SELECT * FROM e WHERE vec_id % 97 <> 0),
      ev AS (SELECT vec_id AS eval_id, v AS evv FROM e WHERE vec_id % 97 = 0),
      c AS (SELECT t.vec_id, ev.eval_id,
              round(list_dot_product(t.v, ev.evv) /
                    (sqrt(list_dot_product(t.v, t.v)) *
                     sqrt(list_dot_product(ev.evv, ev.evv))), 6) AS cos
            FROM t, ev),
      r AS (SELECT vec_id, eval_id, cos,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY cos DESC, eval_id ASC) AS rn
            FROM c)
      SELECT vec_id, eval_id, cos AS max_eval_cos,
             cos >= 0.35 AS contaminated
      FROM r WHERE rn = 1 ORDER BY vec_id""")),

    // LSH recall S-curve — measure, don't guess, for the dedup stack:
    // every overlapping within-source pair banded by EXACT Jaccard
    // (integer (10·inter) div union — no float at the boundary), then
    // how many per band the REAL banded-MinHash candidate generator
    // (incl. maxBucket cap) surfaces. Recall should rise steeply across
    // the configured threshold band; low bands near zero = selectivity.
    // The report to read before committing an LSH config to a 100 TB
    // pass.
    ("p119_lsh_recall", (s, d) => {
      val docs = Tables.documents(s, d)
      val a = docs.select(col("source"), col("doc_id").as("id_a"))
      val b = docs.select(col("source"), col("doc_id").as("id_b"))
      val pairs = a.join(b, Seq("source")).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      Dedup.lshRecallByBand(docs, col("doc_id"), col("text"), pairs)
        .orderBy(col("band"))
    }, Some(s"""
      WITH $minhashBandsCtes,
      cd AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b
               ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
      shd AS (SELECT DISTINCT s.doc_id, d.source, unnest(s.shingles) AS g
              FROM sh s JOIN documents d USING (doc_id)),
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY 1),
      inter AS (SELECT sa.doc_id AS id_a, sb.doc_id AS id_b,
                  count(*) AS n_inter
                FROM shd sa JOIN shd sb
                  ON sa.source = sb.source AND sa.g = sb.g
                 AND sa.doc_id < sb.doc_id
                GROUP BY 1, 2),
      tr AS (SELECT id_a, id_b,
               (10 * n_inter) // (na.n_sh + nb.n_sh - n_inter) AS band
             FROM inter JOIN sizes na ON na.doc_id = id_a
                        JOIN sizes nb ON nb.doc_id = id_b)
      SELECT CAST(band AS BIGINT) AS band, count(*) AS n_true,
             CAST(sum(CASE WHEN cd.id_a IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_found
      FROM tr LEFT JOIN cd ON tr.id_a = cd.id_a AND tr.id_b = cd.id_b
      GROUP BY 1 ORDER BY 1""")),

    // Unicode normalization at ingest — the multilingual prerequisite:
    // the same visible text arrives composed (é) and decomposed
    // (e+U+0301) across crawls, and every downstream hash (dedup
    // fingerprints, shingles, URL keys) sees DIFFERENT bytes unless
    // ingest canonicalizes. Fixture (p109's formula-duality pattern —
    // the synthetic corpus is pure ASCII): every 4th doc gains a
    // DECOMPOSED accent block, identical bytes in both engines; Spark
    // normalizes via java.text.Normalizer, the oracle via
    // nfc_normalize/strip_accents (utf8proc) — agreement pins that the
    // canonical form is engine-portable, not an implementation quirk.
    ("p120_text_normalize", Twinned { (s, d, t) =>
      val docs = t.in(Tables.documents(s, d))
        .select(col("doc_id"),
          when(col("doc_id") % 4 === 0,
            concat(col("text"), lit(" " + decomposedFixture)))
            .otherwise(col("text")).as("text"))
      t.cut(docs.select(col("doc_id"),
          TextFunctions.nfcNormalize(col("text")).as("norm"),
          TextFunctions.stripAccents(col("text")).as("folded"),
          (TextFunctions.nfcNormalize(col("text")) =!= col("text")).as("changed")))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH fx AS (SELECT doc_id, CASE WHEN doc_id % 4 = 0
                    THEN text || ' $decomposedFixture' ELSE text END AS text
                  FROM documents)
      SELECT doc_id, nfc_normalize(text) AS norm,
             strip_accents(text) AS folded,
             nfc_normalize(text) <> text AS changed
      FROM fx ORDER BY doc_id""")),

    // Incremental span self-dedup — the production ExactSubstr cycle:
    // the existing corpus's first-occurrence election is a frozen disk
    // INDEX (built once, artifact round-trip oracle-gated like p77),
    // and the new crawl batch dedups against it without re-reading the
    // corpus — indexed shingles always beat batch occurrences (the
    // crawl-order contract, loud per-row), new shingles elect within
    // the batch. Result == p114 over the union, restricted to the
    // batch (old ids < 250 ≤ new ids makes the orders agree).
    ("p121_span_index_serve", (s, d) => {
      import graft.text.CorpusOps
      val docs = Tables.documents(s, d)
      val dir = graft.sources.Sinks.tempArtifactDir("graft_span_idx")
      CorpusOps.buildSpanIndex(docs.filter(col("doc_id") < 250),
        col("doc_id"), col("text"), n = 8, dir)
      CorpusOps.selfDedupIncremental(docs.filter(col("doc_id") >= 250),
          col("doc_id"), col("text"), s.read.parquet(dir), n = 8)
        .orderBy(col("doc_id"))
    }, Some(selfDedupOracle("WHERE doc_id >= 250"))),

    // Span-index LIFECYCLE — log-structured segments (the
    // bm25IndexSegment shape): each crawl batch lands its own election
    // as an append-only segment=<label> partition; the merged election
    // is one h-keyed min/sum aggregation at serve time (associative —
    // segment count never changes the answer) and equals the
    // whole-corpus election, pinned here with two segments. Serve cost
    // scales with INDEX size; the corpus is never re-read.
    ("p122_span_index_lifecycle", (s, d) => {
      import graft.text.CorpusOps
      val docs = Tables.documents(s, d)
      val dir = graft.sources.Sinks.tempArtifactDir("graft_span_seg")
      CorpusOps.appendSpanSegment(docs.filter(col("doc_id") < 250),
        col("doc_id"), col("text"), n = 8, dir, segment = "s1")
      CorpusOps.appendSpanSegment(docs.filter(col("doc_id") >= 250),
        col("doc_id"), col("text"), n = 8, dir, segment = "s2")
      CorpusOps.serveSpanIndex(s, dir).orderBy(col("h"))
    }, Some(spanElectionOracle)),

    // Span-index COMPACTION — the lifecycle's rewrite point, matching
    // the posting/sketch compactors: N segments fold into ONE
    // segment-equivalent table (w/c by min/sum; the runner-up by
    // two-smallest-of-the-candidate-union, exact because the global
    // top-2 always lies in the union of segment top-2s). Serving the
    // compacted table equals serving the segments equals the
    // whole-corpus election — the same oracle pins all three. Takedown
    // serving over a compacted table narrows to the global top-2
    // (conservative, never a wrong promotion — spec-pinned): apply
    // takedowns BEFORE compacting.
    ("p127_span_index_compact", (s, d) => {
      import graft.text.CorpusOps
      val docs = Tables.documents(s, d)
      val dir = graft.sources.Sinks.tempArtifactDir("graft_span_cmp")
      CorpusOps.appendSpanSegment(docs.filter(col("doc_id") < 250),
        col("doc_id"), col("text"), n = 8, dir, segment = "s1")
      CorpusOps.appendSpanSegment(docs.filter(col("doc_id") >= 250),
        col("doc_id"), col("text"), n = 8, dir, segment = "s2")
      val cdir = graft.sources.Sinks.tempArtifactDir("graft_span_cmp_out")
      CorpusOps.compactSpanSegments(s.read.parquet(dir))
        .write.mode("overwrite").parquet(s"$cdir/segment=c0")
      CorpusOps.serveSpanIndex(s, cdir).orderBy(col("h"))
    }, Some(spanElectionOracle)),

    // Span-index TAKEDOWN serve — a removed document must stop being
    // the canonical copy: a tombstoned winner promotes to the global
    // runner-up EXACTLY (segment top-2s always contain the global
    // top-2 — no corpus re-read), and a shingle whose two smallest
    // occurrences are BOTH tombstoned is emitted as an explicit dirty
    // row (keeper −1), never silently dropped. n_instances stays the
    // pre-takedown upper bound (documented). Tombstones: doc_id % 13.
    ("p124_span_takedown", (s, d) => {
      import graft.text.CorpusOps
      val docs = Tables.documents(s, d)
      val dir = graft.sources.Sinks.tempArtifactDir("graft_span_td")
      CorpusOps.appendSpanSegment(docs.filter(col("doc_id") < 250),
        col("doc_id"), col("text"), n = 8, dir, segment = "s1")
      CorpusOps.appendSpanSegment(docs.filter(col("doc_id") >= 250),
        col("doc_id"), col("text"), n = 8, dir, segment = "s2")
      CorpusOps.serveSpanIndexWithTombstones(s, dir,
          docs.filter(col("doc_id") % 13 === 0).select(col("doc_id")))
        .orderBy(col("h"))
    }, Some(s"""
      WITH toks AS (SELECT doc_id, ${sqlToks("text")} AS t FROM documents),
      sh AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 8
               THEN generate_series(1, len(t)-7) ELSE [] END) AS i, t
             FROM toks),
      occ AS (SELECT doc_id * 1048576 + (i - 1) AS k,
                CASE WHEN doc_id < 250 THEN 0 ELSE 1 END AS seg,
                md5(array_to_string(t[i:i+7], ' ')) AS h FROM sh),
      sgf AS (SELECT h, seg, min(k) AS w, count(*) AS c
              FROM occ GROUP BY 1, 2),
      sg2 AS (SELECT o.h, o.seg, min(o.k) AS w2
              FROM occ o JOIN sgf ON o.h = sgf.h AND o.seg = sgf.seg
              WHERE o.k > sgf.w GROUP BY 1, 2),
      sgs AS (SELECT sgf.h, sgf.seg, w, w2, c
              FROM sgf LEFT JOIN sg2 ON sgf.h = sg2.h AND sgf.seg = sg2.seg),
      f1 AS (SELECT h, min(w) AS w1, CAST(sum(c) AS BIGINT) AS n_instances
             FROM sgs GROUP BY h HAVING CAST(sum(c) AS BIGINT) > 1),
      cand AS (SELECT h, w AS k FROM sgs
               UNION ALL SELECT h, w2 FROM sgs WHERE w2 IS NOT NULL),
      surv AS (SELECT h, min(k) AS ans FROM cand
               WHERE (k // 1048576) % 13 <> 0 GROUP BY h),
      risk AS (SELECT h, min(w2) AS rmin FROM sgs
               WHERE c > 2 AND (w // 1048576) % 13 = 0
                 AND (w2 // 1048576) % 13 = 0 GROUP BY h),
      fin AS (SELECT f1.h, w1, n_instances, ans, rmin,
                ans IS NULL OR (rmin IS NOT NULL AND rmin < ans) AS dirty
              FROM f1 LEFT JOIN surv ON f1.h = surv.h
                      LEFT JOIN risk ON f1.h = risk.h)
      SELECT h,
             CAST(CASE WHEN dirty THEN -1 ELSE ans // 1048576 END AS BIGINT)
               AS keeper_doc,
             CAST(CASE WHEN dirty THEN -1 ELSE ans % 1048576 END AS BIGINT)
               AS keeper_idx,
             n_instances,
             (NOT dirty AND ans <> w1) AS repaired,
             dirty
      FROM fin ORDER BY h""")),

    // SimHash Hamming-band recall curve — p119's sibling for the
    // pigeonhole generator: within-source pairs grouped by EXACT
    // Hamming distance between simhash codes vs what the real banded
    // candidate operator surfaces per distance. Pigeonhole guarantee
    // measurable: recall below the band count must read 1.0; past
    // maxDist reads 0 — the filter boundary visible, not implied.
    ("p126_simhash_recall", (s, d) => {
      val docs = Tables.documents(s, d)
      val a = docs.select(col("source"), col("doc_id").as("id_a"))
      val b = docs.select(col("source"), col("doc_id").as("id_b"))
      val pairs = a.join(b, Seq("source")).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      Dedup.simhashRecallByDistance(docs, col("doc_id"), col("text"), pairs)
        .orderBy(col("hamming"))
    }, Some {
      val sums = (0 until 48).map { b =>
        val nib = s"(strpos('0123456789abcdef', substr(m, ${b / 4 + 1}, 1)) - 1)"
        val bit = s"CAST(floor($nib / ${1 << (b % 4)}) AS BIGINT) % 2"
        s"sum($bit * 2 - 1) AS s_$b"
      }.mkString(",\n               ")
      val code = (0 until 48)
        .map(b => s"(CASE WHEN s_$b >= 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
        .mkString(" + ")
      s"""
      WITH tok AS (SELECT doc_id, unnest(${sqlToks("lower(text)")}) AS tok
                   FROM documents),
      hsh AS (SELECT doc_id, md5(tok) AS m FROM tok),
      bits AS (SELECT doc_id,
               $sums
             FROM hsh GROUP BY 1),
      codes AS (SELECT doc_id, CAST($code AS BIGINT) AS simhash FROM bits),
      bands AS (SELECT doc_id, simhash, b, (simhash >> (b * 12)) & 4095 AS bv
                FROM codes CROSS JOIN
                  (SELECT unnest(generate_series(0, 3)) AS b) t),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
               FROM bands a JOIN bands c
                 ON a.b = c.b AND a.bv = c.bv AND a.doc_id < c.doc_id
               WHERE bit_count(xor(a.simhash, c.simhash)) <= 3),
      pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
             FROM documents a JOIN documents b
               ON a.source = b.source AND a.doc_id < b.doc_id),
      tr AS (SELECT pr.id_a, pr.id_b,
               CAST(bit_count(xor(ca.simhash, cb.simhash)) AS BIGINT)
                 AS hamming
             FROM pr JOIN codes ca ON ca.doc_id = pr.id_a
                     JOIN codes cb ON cb.doc_id = pr.id_b)
      SELECT hamming, count(*) AS n_true,
             CAST(sum(CASE WHEN cand.id_a IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_found
      FROM tr LEFT JOIN cand
        ON tr.id_a = cand.id_a AND tr.id_b = cand.id_b
      GROUP BY 1 ORDER BY 1"""
    }),

    // Tokenizer FERTILITY per source — BPE symbols per whitespace word,
    // the tokenizer-selection metric (fertility 2.8 vs 1.3 prices one
    // source's tokens at 2x the compute). Rides the same trained-merges
    // encode kernel as p64; integer-permille ratio; one map-side encode
    // + one group aggregate.
    ("p129_tokenizer_fertility", (s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.text.CorpusOps.bpeMergeTable(
        graft.text.CorpusOps.bpeTrainMerges(docs, col("text"), numMerges = 8))
      graft.text.CorpusOps.tokenizerFertility(docs, col("doc_id"),
          col("text"), col("source"), merges)
        .orderBy(col("group"))
    }, Some(s"""
      WITH ${bpeStagesSql(8)},
      enc AS (SELECT w, replace(seq, '/', '') AS ew FROM seqs_8),
      tt AS (SELECT doc_id, source, ${sqlToks("text")} AS toks FROM documents),
      occ AS (SELECT doc_id, source, unnest(toks) AS w FROM tt
              WHERE len(toks) > 0),
      ewn AS (SELECT o.source,
                len(list_filter(string_split(e.ew, ' '), x -> x <> ''))
                  AS nbp
              FROM occ o JOIN enc e ON e.w = o.w),
      gd AS (SELECT source AS "group", count(*) AS n_docs
             FROM documents GROUP BY 1),
      ga AS (SELECT source AS "group",
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(nbp) AS BIGINT) AS n_bpe_tokens
             FROM ewn GROUP BY 1)
      SELECT gd."group", gd.n_docs,
             CAST(coalesce(ga.n_words, 0) AS BIGINT) AS n_words,
             CAST(coalesce(ga.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
             CAST(CASE WHEN coalesce(ga.n_words, 0) > 0
               THEN (1000 * ga.n_bpe_tokens) // ga.n_words
               ELSE 0 END AS BIGINT) AS fertility_permille
      FROM gd LEFT JOIN ga ON gd."group" = ga."group"
      ORDER BY gd."group"""")),

    // Script-mix detection — the multilingual ROUTING signal lang-id
    // cannot give (stopword lists need a per-language vocabulary; the
    // script histogram needs nothing): per doc, code-point counts of
    // the four major scripts + the dominant one (fixed tie priority).
    // Fixture REPLACES every 5th doc's text with a Cyrillic/Han/Greek
    // block (the ASCII corpus has no non-Latin text, and a Russian doc
    // IS Russian — appending would leave everything latin-dominant);
    // Java regex \\p{IsX} vs RE2 \\p{X} pinned equal — both count
    // code points.
    ("p128_script_mix", Twinned { (s, d, t) =>
      val docs = t.in(Tables.documents(s, d))
        .select(col("doc_id"), scriptFixtureText.as("text"))
      t.cut(docs.select((col("doc_id") +: TextFunctions.scriptMix(col("text"))): _*))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH fx AS (SELECT doc_id, CASE
              WHEN doc_id % 5 = 1 THEN '$cyrillicFixture'
              WHEN doc_id % 5 = 2 THEN '$hanFixture'
              WHEN doc_id % 5 = 3 THEN '$greekFixture'
              ELSE text END AS text FROM documents),
      m AS (SELECT doc_id,
              CAST(length(regexp_replace(text, '[^\\p{Latin}]', '', 'g'))
                   AS BIGINT) AS n_latin,
              CAST(length(regexp_replace(text, '[^\\p{Cyrillic}]', '', 'g'))
                   AS BIGINT) AS n_cyrillic,
              CAST(length(regexp_replace(text, '[^\\p{Han}]', '', 'g'))
                   AS BIGINT) AS n_han,
              CAST(length(regexp_replace(text, '[^\\p{Greek}]', '', 'g'))
                   AS BIGINT) AS n_greek
            FROM fx)
      SELECT doc_id, n_latin, n_cyrillic, n_han, n_greek,
             CASE WHEN n_latin = 0 AND n_cyrillic = 0 AND n_han = 0
                       AND n_greek = 0 THEN 'none'
                  WHEN n_latin >= n_cyrillic AND n_latin >= n_han
                       AND n_latin >= n_greek THEN 'latin'
                  WHEN n_cyrillic >= n_han AND n_cyrillic >= n_greek
                       THEN 'cyrillic'
                  WHEN n_han >= n_greek THEN 'han'
                  ELSE 'greek' END AS dominant
      FROM m ORDER BY doc_id""")),

    // Dedup ABLATION table — the report dedup papers publish: each
    // tier (exact fingerprint, canonical URL, fixed-token chunk,
    // repeated span) measured INDEPENDENTLY on the raw corpus — docs
    // touched and tokens it would remove. 4 fixed integer rows; a tier
    // removing nothing reports 0. The numbers a pipeline owner reads
    // before choosing which tiers to pay for at 100 TB.
    ("p125_dedup_ablation", (s, d) => {
      // the ablation reads the noindex-gated corpus (the p30
      // composition): a policy-dropped page is not a dedup casualty,
      // so its tokens must not inflate any tier's removal count
      Dedup.dedupAblation(noindexGate(Tables.documents(s, d)), col("doc_id"),
          col("text"), graft.functions.SourceFamily
            .canonicalizeUrl(messyUrlFixture))
        .orderBy(col("tier"))
    }, Some(s"""
      WITH dcs AS (SELECT * FROM documents WHERE $noindexKeepSql),
      ${selfDedupCtesFrom("dcs")},
      ntk AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS ntok FROM toks),
      fpx AS (SELECT doc_id,
                md5(array_to_string(${sqlToks("lower(text)")}, ' ')) AS f
              FROM dcs),
      eg AS (SELECT f, min(doc_id) AS k FROM fpx GROUP BY 1),
      ex AS (SELECT fpx.doc_id FROM fpx JOIN eg USING (f) WHERE doc_id <> k),
      u AS (SELECT doc_id,
              'https://www.' || source || '.com/a/b?x=1&y=2' AS cu
            FROM dcs),
      ug AS (SELECT cu, min(doc_id) AS k FROM u GROUP BY 1),
      ur AS (SELECT u.doc_id FROM u JOIN ug USING (cu) WHERE doc_id <> k),
      chz AS (SELECT doc_id,
                unnest(generate_series(0, CAST((len(t)+7)//8 AS BIGINT) - 1))
                  AS idx, t
              FROM toks WHERE len(t) >= 1),
      cz2 AS (SELECT doc_id, CAST(idx AS BIGINT) AS idx,
                array_to_string(t[idx*8+1 : idx*8+8], ' ') AS chunk FROM chz),
      fpc AS (SELECT doc_id, idx, chunk, md5(chunk) AS f FROM cz2),
      gc AS (SELECT f, min(doc_id * 1048576 + idx) AS p FROM fpc GROUP BY 1),
      nk AS (SELECT fpc.doc_id, chunk FROM fpc JOIN gc USING (f)
             WHERE doc_id * 1048576 + idx <> p),
      sdoc AS (SELECT doc_id,
                 CAST(sum(CASE WHEN d THEN 1 ELSE 0 END) AS BIGINT) AS nd
               FROM dr GROUP BY doc_id)
      SELECT tier, docs_affected, tokens_removed FROM (
        SELECT 'exact' AS tier, CAST(count(*) AS BIGINT) AS docs_affected,
               CAST(coalesce(sum(ntok), 0) AS BIGINT) AS tokens_removed
        FROM ex JOIN ntk USING (doc_id)
        UNION ALL
        SELECT 'url', CAST(count(*) AS BIGINT),
               CAST(coalesce(sum(ntok), 0) AS BIGINT)
        FROM ur JOIN ntk USING (doc_id)
        UNION ALL
        SELECT 'chunk', CAST(count(DISTINCT doc_id) AS BIGINT),
               CAST(coalesce(sum(len(${sqlToks("chunk")})), 0) AS BIGINT)
        FROM nk
        UNION ALL
        SELECT 'span', CAST(count(*) AS BIGINT),
               CAST(coalesce(sum(nd), 0) AS BIGINT)
        FROM sdoc WHERE nd > 0)
      ORDER BY tier""")),

    // Packing-efficiency report — the dataloader observability beside
    // p74's manifest: per source, sequences yielded (last one padded),
    // tokens the padding wastes, integer-permille efficiency, and how
    // many docs SPAN a boundary (each spanning doc is an attention-mask
    // cut — what a sequence-length sweep trades against padding). Pure
    // integer arithmetic on the p32 pack columns; one group agg riding
    // the pack's own exchange.
    ("p123_packing_efficiency", (s, d) => {
      graft.curation.Curation.packingEfficiency(
          Tables.documents(s, d).select(col("doc_id"), col("source"),
            TextFunctions.tokenCount(col("text")).as("n_tokens")),
          col("source"), col("doc_id"), col("n_tokens"), seqLen = 512L)
        .orderBy(col("group"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, source,
                   CAST(len(${sqlToks("text")}) AS BIGINT) AS n FROM documents),
      c AS (SELECT doc_id, source, n,
              coalesce(sum(n) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cp
            FROM t),
      sq AS (SELECT source, n,
               CASE WHEN n = 0 THEN 0
                 ELSE (cp + n - 1) // 512 - cp // 512 + 1 END AS nseqs
             FROM c),
      g AS (SELECT source AS "group", count(*) AS n_docs,
              CAST(sum(n) AS BIGINT) AS total_tokens,
              CAST(sum(CASE WHEN nseqs > 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_spanning
            FROM sq GROUP BY 1)
      SELECT "group", n_docs, total_tokens, n_spanning,
             CAST((total_tokens + 511) // 512 AS BIGINT) AS n_seqs,
             CAST((total_tokens + 511) // 512 * 512 - total_tokens AS BIGINT)
               AS pad_tokens,
             CAST(CASE WHEN total_tokens > 0
               THEN total_tokens * 1000 // ((total_tokens + 511) // 512 * 512)
               ELSE 0 END AS BIGINT) AS efficiency_permille
      FROM g ORDER BY "group"""")),

    // HTML boilerplate extraction — the WET step, the FIRST transform
    // of a crawl pipeline (everything downstream fingerprints the
    // bytes this step emits). Fixture wraps each doc's text in a full
    // deterministic page (head/title/style/script payloads, nav and
    // footer boilerplate zones, entity-encoded punctuation, five
    // href targets); the oracle is GENERATIVE (the p63 rule): it
    // writes down the clean text the template contains, so the whole
    // regex chain — zone removal, tag strip, entity decode, collapse
    // — is gated against authored intent, not a shared formula.
    ("p130_html_extract", Twinned { (s, d, t) =>
      val pages = t.in(htmlPages(s, d))
      t.cut(pages.select(col("doc_id"),
          TextFunctions.htmlTitle(col("html")).as("title"),
          TextFunctions.htmlExtract(col("html")).as("text"),
          size(TextFunctions.extractHrefs(col("html"))).cast("long")
            .as("n_links")))
        .localCheckpoint(eager = false) // one-shot: the sort samples then re-runs its child
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, 'Doc ' || doc_id AS title,
             'Doc ' || doc_id || ' ' || text ||
               ' Compare A & B <quoted> it''s fine more' AS text,
             CAST(5 AS BIGINT) AS n_links
      FROM documents ORDER BY doc_id""")),

    // Outlink harvest → the domain-family LINK GRAPH (the crawl
    // frontier's input): hrefs regex-harvested from the RAW markup
    // (nav links are real crawl edges), canonicalized (messy
    // variants of one page — case, :443, tracking params, shuffled
    // query order — collide into one frontier key: n_links counts
    // fetches, n_urls counts pages), families via the registered-
    // domain extractor (cdn subdomains stripped, co.uk honored).
    // Oracle derives every edge generatively from the fixture
    // arithmetic — the harvest/canonicalize/family chain is checked
    // against intent.
    ("p131_outlinks", (s, d) => {
      graft.graph.LinkGraph.outlinkEdges(htmlPages(s, d),
          col("page_url"), col("html"))
        .orderBy(col("src_family"), col("dst_family"))
    }, Some(s"""
      WITH $outlinkCtesSql
      SELECT src_family, dst_family, CAST(count(*) AS BIGINT) AS n_links,
             CAST(count(DISTINCT cu) AS BIGINT) AS n_urls
      FROM lk GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Frontier priority: bounded-iteration integer PageRank over the
    // p131 link graph — which domains deserve the crawl's politeness-
    // limited request budget. Exact micro-unit arithmetic (per-edge
    // floor, damped-sum floor — order-independent, engine-portable);
    // the oracle unrolls the five iterations as chained CTEs (the
    // p58 staged-SQL pattern). The fixture graph has real structure:
    // a nav hub every page links (src0.com), mid-degree targets, and
    // pure-sink .co.uk/example.com domains that receive rank but
    // re-emit none (the dangling case, mass-leak documented).
    ("p132_link_pagerank", (s, d) => {
      val edges = graft.graph.LinkGraph.linkRows(htmlPages(s, d),
          col("page_url"), col("html"))
        .select(col("src_family").as("src"), col("dst_family").as("dst"))
      graft.graph.LinkGraph.pageRank(edges, iters = 5)
        .orderBy(col("rank_micro").desc, col("node"))
    }, Some(s"""
      WITH $outlinkCtesSql,
      e AS (SELECT DISTINCT src_family AS src, dst_family AS dst FROM lk),
      nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      od AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
      r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nd),
      ${pageRankStagesSql(5)}
      SELECT node, r AS rank_micro FROM r5
      ORDER BY rank_micro DESC, node""")),

    // Spend the crawl's politeness-limited request budget by rank —
    // the step that makes p132 actionable: requests ∝ rank, capped
    // per domain (no rank justifies hammering one host), capped
    // surplus redistributed across headroom in ONE integer-exact
    // pass, the division remainder an explicit __UNASSIGNED row
    // (mixturePlan's rules, with DATA as the weights). The fixture's
    // budget/cap are chosen so both branches bind: the hub tier caps,
    // the tail tier absorbs the redistribution.
    ("p133_crawl_budget", (s, d) => {
      val edges = graft.graph.LinkGraph.linkRows(htmlPages(s, d),
          col("page_url"), col("html"))
        .select(col("src_family").as("src"), col("dst_family").as("dst"))
      val ranks = graft.graph.LinkGraph.pageRank(edges, iters = 5)
      graft.graph.LinkGraph.crawlBudget(ranks, budget = 100000L,
          maxPerDomain = 5000L)
        .orderBy(col("node"))
    }, Some(s"""
      WITH $outlinkCtesSql,
      e AS (SELECT DISTINCT src_family AS src, dst_family AS dst FROM lk),
      nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      od AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
      r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nd),
      ${pageRankStagesSql(5)},
      tot AS (SELECT sum(r) AS sr FROM r5),
      a AS (SELECT node, r, CAST(100000 * r // sr AS BIGINT) AS ideal
            FROM r5, tot),
      b AS (SELECT node, r, ideal, least(ideal, 5000) AS take1,
              5000 - least(ideal, 5000) AS head FROM a),
      t2 AS (SELECT sum(take1) AS st, sum(head) AS sh FROM b),
      c AS (SELECT node, r AS rank_micro,
              CAST(take1 + CASE WHEN sh > 0
                THEN (100000 - st) * head // sh ELSE 0 END AS BIGINT)
                AS n_requests,
              ideal > 5000 AS capped
            FROM b, t2)
      SELECT * FROM (
        SELECT node, rank_micro, n_requests, capped FROM c
        UNION ALL
        SELECT '__UNASSIGNED', CAST(0 AS BIGINT),
               CAST(100000 - (SELECT sum(n_requests) FROM c) AS BIGINT),
               false)
      ORDER BY node""")),

    // Anchor-text harvest — what the web CALLS each domain, the
    // classic off-page retrieval signal (anchor terms describe the
    // target better than its own text; search stacks fold them into
    // the target's index fields): (target family, anchor term)
    // counts, the inner markup cleaned through the same htmlExtract
    // kernel (the fixture's footer anchor carries an entity and a
    // <b> to prove it). Oracle generative, like the rest of the arc.
    ("p134_anchor_terms", Twinned { (s, d, t) =>
      t.cut(graft.graph.LinkGraph.anchorTerms(t.in(htmlPages(s, d)), col("html")))
        .orderBy(col("dst_family"), col("term"))
    }, Some("""
      WITH an AS (
        SELECT 'src0.com' AS dst_family, 'home' AS term FROM documents
        UNION ALL
        SELECT 'src' || (doc_id * 7 % 20) || '.com', 'A' FROM documents
        UNION ALL
        SELECT 'src' || (doc_id % 7) || '.com', 'B' FROM documents
        UNION ALL
        SELECT 'src' || (doc_id % 4) || '.co.uk', 'more' FROM documents
        UNION ALL
        SELECT 'example.com', t FROM documents,
          (SELECT unnest(['data', '&', 'crawl', 'hub']) AS t) u)
      SELECT dst_family, term, CAST(count(*) AS BIGINT) AS n
      FROM an GROUP BY 1, 2 ORDER BY 1, 2""")),

    // HITS hubs & authorities over the p131 link graph — PageRank's
    // complement for frontier curation: authorities are fetch
    // targets, hubs are link-discovery seeds, and one score cannot
    // serve both roles. Mutual recursion (auth = Σ hub over in-edges,
    // hub = Σ auth over out-edges), each half re-scaled so max =
    // 1 000 000 — integer-exact max-normalization instead of the
    // textbook L2 (no float boundary; the ranking is identical). The
    // oracle unrolls five iterations as generated chained CTEs, two
    // halves per round (the p132 pattern). On the fixture the
    // separation is real: crawl sources emit links but receive none
    // (pure hubs, auth 0) while .co.uk/example.com sinks receive but
    // emit none (pure authorities, hub 0).
    ("p135_link_hits", (s, d) => {
      val edges = graft.graph.LinkGraph.linkRows(htmlPages(s, d),
          col("page_url"), col("html"))
        .select(col("src_family").as("src"), col("dst_family").as("dst"))
      graft.graph.LinkGraph.hits(edges, iters = 5)
        .orderBy(col("auth_micro").desc, col("hub_micro").desc, col("node"))
    }, Some(s"""
      WITH $outlinkCtesSql,
      e AS MATERIALIZED (
        SELECT DISTINCT src_family AS src, dst_family AS dst FROM lk),
      nd AS MATERIALIZED (
        SELECT src AS node FROM e UNION SELECT dst FROM e),
      h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nd),
      ${hitsStagesSql(5)}
      SELECT nd.node, a5.a AS auth_micro, h5.h AS hub_micro
      FROM nd JOIN a5 ON nd.node = a5.node JOIN h5 ON nd.node = h5.node
      ORDER BY auth_micro DESC, hub_micro DESC, nd.node""")),

    // BM25F with the anchor-text field — p134's harvest folded into
    // ranking the way web search does: per-field length-normalized,
    // weighted tf combined FIRST, saturation applied ONCE (the
    // published simple-BM25F form; a per-field BM25 sum would
    // double-saturate). A doc's anchor field is its domain family's
    // harvested bag — off-page evidence reaches every page of the
    // family. The query set makes all three regimes bind: q_anchor
    // matches ONLY anchor terms (body tf 0 everywhere), q_body only
    // body terms, q_mixed both. Oracle derives the anchor bag
    // generatively from the fixture arithmetic and mirrors the
    // double op chain verbatim.
    ("p136_anchor_bm25f", (s, d) => {
      // the anchor harvest is a pipeline STAGE whose output is a
      // bounded (domain × term) artifact — materialize it once (the
      // p165 artifact pattern; sub-corpus-cardinality, so pinning is
      // inside the checkpoint rule) so the three consumers inside
      // bm25fTopK (field lengths, the anchor term union, per-doc dla)
      // scan a tiny parquet instead of re-running the corpus-wide
      // href harvest under each broadcast
      val aDir = graft.sources.Sinks.tempArtifactDir("anchor_terms")
      graft.graph.LinkGraph
        .anchorTerms(htmlPages(s, d), col("html"))
        .select(col("dst_family").as("field_key"), col("term"), col("n"))
        .write.mode("overwrite").parquet(aDir)
      val anchors = s.read.parquet(aDir)
      graft.text.CorpusOps.bm25fTopK(Tables.documents(s, d),
          col("doc_id"), col("text"),
          concat(col("source"), lit(".com")), anchors,
          queries = Seq(("q_anchor", Seq("A", "home")),
            ("q_mixed", Seq("B", "hash", "join")),
            ("q_body", Seq("merge", "window"))), k = 15)
        .orderBy(col("qid"), col("rank"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, source || '.com' AS fk,
                        ${sqlToks("text")} AS toks FROM documents),
      an AS (
        SELECT 'src0.com' AS fk, 'home' AS term FROM documents
        UNION ALL
        SELECT 'src' || (doc_id * 7 % 20) || '.com', 'A' FROM documents
        UNION ALL
        SELECT 'src' || (doc_id % 7) || '.com', 'B' FROM documents
        UNION ALL
        SELECT 'src' || (doc_id % 4) || '.co.uk', 'more' FROM documents
        UNION ALL
        SELECT 'example.com', u.t FROM documents,
          (SELECT unnest(['data', '&', 'crawl', 'hub']) AS t) u),
      anc AS (SELECT fk, term, CAST(count(*) AS BIGINT) AS n
              FROM an GROUP BY 1, 2),
      adl AS (SELECT fk, CAST(sum(n) AS BIGINT) AS dla FROM anc GROUP BY 1),
      lens AS (SELECT doc_id, t.fk AS fk, CAST(len(toks) AS BIGINT) AS dlb,
                      coalesce(adl.dla, 0) AS dla
               FROM t LEFT JOIN adl ON t.fk = adl.fk),
      stats AS (SELECT count(*) AS n,
                  CAST(sum(dlb) AS DOUBLE) / count(*) AS avgb,
                  CAST(sum(dla) AS DOUBLE) / count(*) AS avga,
                  CAST(sum(dla) AS BIGINT) AS sum_dla
                FROM lens),
      raw AS (
        SELECT doc_id, token AS term, 1 AS tfb, 0 AS tfa FROM
          (SELECT doc_id, unnest(toks) AS token FROM t)
        WHERE token IN ('A', 'home', 'B', 'hash', 'join', 'merge', 'window')
        UNION ALL
        SELECT l.doc_id, anc.term, 0, anc.n
        FROM lens l JOIN anc ON l.fk = anc.fk
        WHERE anc.term IN ('A', 'home', 'B', 'hash', 'join', 'merge',
                           'window')),
      cmb AS (SELECT doc_id, term, CAST(sum(tfb) AS BIGINT) AS tfb,
                     CAST(sum(tfa) AS BIGINT) AS tfa
              FROM raw GROUP BY 1, 2),
      dfq AS (SELECT term, count(*) AS df FROM cmb GROUP BY 1),
      q(qid, term) AS (VALUES
        ('q_anchor', 'A'), ('q_anchor', 'home'),
        ('q_mixed', 'B'), ('q_mixed', 'hash'), ('q_mixed', 'join'),
        ('q_body', 'merge'), ('q_body', 'window')),
      tn AS (SELECT qid, cmb.doc_id AS doc_id, df, n,
                1.0 * tfb / (0.25 + 0.75 * dlb / avgb) +
                CASE WHEN sum_dla = 0 THEN 0.0
                     ELSE 2.0 * tfa / (0.5 + 0.5 * dla / avga) END AS tfn
              FROM cmb JOIN lens USING (doc_id) JOIN dfq USING (term)
                   JOIN q USING (term), stats),
      sc AS (SELECT qid, doc_id,
               CAST(round(ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
                 tfn / (1.2 + tfn) * 1e6, 0) AS BIGINT) AS m
             FROM tn),
      agg AS (SELECT qid, doc_id, CAST(sum(m) AS BIGINT) AS score_micro
              FROM sc GROUP BY 1, 2)
      SELECT qid, rank, doc_id, score_micro FROM (
        SELECT qid, doc_id, score_micro,
               row_number() OVER (PARTITION BY qid
                 ORDER BY score_micro DESC, doc_id) AS rank
        FROM agg) r
      WHERE rank <= 15 ORDER BY qid, rank""")),

    // Personalized PageRank — the FOCUSED-crawl ranking: teleport
    // mass lands only on the seed domains the pipeline already
    // trusts, so the score reads "authority as reachable from what we
    // trust" (and a link farm nobody trusted links into scores
    // exactly 0, where global PageRank grants every node base). Same
    // integer micro-unit rounds as p132 with the seed-membership CASE
    // as the teleport term and seed-only init; the oracle reuses the
    // SAME generated round SQL with that CASE substituted — the
    // global entry is the every-node-is-a-seed special case.
    ("p137_topical_pagerank", (s, d) => {
      import s.implicits._
      val edges = graft.graph.LinkGraph.linkRows(htmlPages(s, d),
          col("page_url"), col("html"))
        .select(col("src_family").as("src"), col("dst_family").as("dst"))
      val seeds = Seq("src0.com", "src1.com").toDF("node")
      graft.graph.LinkGraph.personalizedPageRank(edges, seeds, iters = 5)
        .orderBy(col("rank_micro").desc, col("node"))
    }, Some(s"""
      WITH $outlinkCtesSql,
      e AS (SELECT DISTINCT src_family AS src, dst_family AS dst FROM lk),
      nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      od AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
      r0 AS (SELECT node,
               CAST(CASE WHEN node IN ('src0.com', 'src1.com')
                 THEN 1000000 ELSE 0 END AS BIGINT) AS r FROM nd),
      ${pageRankStagesSql(5, "CASE WHEN nd.node IN ('src0.com', " +
        "'src1.com') THEN 150000 ELSE 0 END")}
      SELECT node, r AS rank_micro FROM r5
      ORDER BY rank_micro DESC, node""")),

    // Robots-rule gate over the harvested frontier — the step a crawl
    // legally cannot skip, under the FULL RFC 9309 grammar (real
    // robots.txt almost always carry wildcards, so the composed front
    // gates through the pattern tier, not the prefix sub-grammar):
    // most-specific match by OCTET length, ties to allow, no match
    // allows. The rule fixture makes every branch bind: src0.com
    // disallows '/' but allows the LONGER '/hub' (override) and its
    // interior-star '*?id=*' out-elects the bare '/' on content URLs,
    // example.com blocks everything, src1.com blocks its content
    // pages EXCEPT the one URL its anchored '/p?id=8$' re-allows (a
    // verdict no prefix rule can express), src2.co.uk carries a
    // contradictory same-length pair (the tie → allow rule). The rule
    // table is parseRobotsPatterns output over the raw fixture FILES
    // — the text-to-verdict chain, not a pre-parsed table. Rules
    // broadcast at domain cardinality; the election is a scan-stage
    // fold over the codegen'd RobotsMatch kernel on the deduped URL
    // key.
    ("p138_robots_filter", (s, d) => {
      import s.implicits._
      val urls = graft.graph.LinkGraph.linkRows(htmlPages(s, d),
        col("page_url"), col("html"))
        .select(col("canonical"), col("dst_family")).distinct()
      val rules = graft.graph.LinkGraph.parseRobotsPatterns(
        robotsWildTxtFixture.toDF("family", "txt"),
        col("family"), col("txt"))
      graft.graph.LinkGraph.robotsFilterWildcard(urls, rules)
        .orderBy(col("canonical"))
    }, Some(s"""
      WITH $outlinkCtesSql,
      $robotsCtesSql
      SELECT canonical, dst_family, allowed, rule_pattern FROM gate
      ORDER BY canonical""")),

    // The composed CRAWL SCHEDULE — harvest under the page-level
    // gates, alias-resolve, gate, rank, then spend: edges come from
    // the FOLLOW harvest (a nofollow'd page or anchor never mints an
    // edge — p212's gate IN the chain, not beside it), the frontier is
    // rewritten through the page-published alias map (meta-refresh +
    // rel=canonical through ONE pointer chain: collapsed keys merge
    // BEFORE the gate counts them, a collapse into a robots-blocked
    // root gates out, loop keys leave the frontier), and each
    // domain's cap is the TIGHTER of the politeness constant and its
    // gate-allowed distinct key count. Every signal changes the
    // answer: the nofollow stripes shift PageRank mass, the src12
    // loop empties a family's frontier, src8's collapse moves its
    // hub's count into a blocked key. The oracle recomputes the whole
    // chain from the fixture arithmetic plus the written-down alias
    // resolution.
    ("p139_crawl_schedule", (s, d) => {
      import s.implicits._
      val links = crawlLinksFixture(s, d)
      val allowed = gateAllowedOf(s, links)
      val allowedCounts = allowed
        .groupBy(col("dst_family")).agg(count(lit(1)).as("n_allowed"))
      val edges = links
        .select(col("src_family").as("src"), col("dst_family").as("dst"))
      val ranks = graft.graph.LinkGraph.pageRank(edges, iters = 5)
      val withCaps = ranks
        .join(allowedCounts, ranks("node") === allowedCounts("dst_family"),
          "left")
        .select(col("node"), col("rank_micro"),
          least(lit(200L), coalesce(col("n_allowed"), lit(0L))).as("cap"))
      graft.graph.LinkGraph.crawlBudgetWithCaps(withCaps, budget = 200L)
        .orderBy(col("node"))
    }, Some(s"""
      WITH $followLkCtesSql,
      $robotsCtesSql,
      $crawlScheduleCtesSql
      SELECT * FROM (
        SELECT node, rank_micro, n_requests, capped FROM c
        UNION ALL
        SELECT '__UNASSIGNED', CAST(0 AS BIGINT),
               CAST(200 - (SELECT sum(n_requests) FROM c) AS BIGINT),
               false)
      ORDER BY node""")),

    // The fetch WORKLIST — the crawl arc's LAST materialization: the
    // p139 schedule's per-domain request counts turned into the URL
    // list a fetcher consumes this round, over the SAME gated chain
    // (follow harvest → alias resolution → robots gate → rank →
    // spend): a collapsed frontier key appears ONCE under its
    // terminal form (the fetcher never spends two requests on URLs
    // the pages themselves declared identical), and a loop key never
    // appears. Per-domain priority is md5(canonical) —
    // engine-portable, retry-reproducible, and free of path-order
    // bias; each domain takes its first n_requests gate-allowed URLs
    // in that order. Because p139 builds caps from the allowed-key
    // counts, n_requests ≤ n_allowed — the worklist spends EXACTLY
    // the scheduled budget. The oracle recomputes the entire chain
    // through the SAME shared CTEs as p139 (the sharedOracle rule at
    // SQL level).
    ("p145_crawl_worklist", (s, d) => {
      crawlWorklistFixture(s, d)
        .orderBy(col("dst_family"), col("pos"))
    }, Some(s"""
      WITH $followLkCtesSql,
      $robotsCtesSql,
      $crawlScheduleCtesSql,
      wl AS (SELECT g.canonical, g.dst_family, c.n_requests,
               row_number() OVER (PARTITION BY g.dst_family
                 ORDER BY md5(g.canonical), g.canonical) AS pos
             FROM gate g JOIN c ON g.dst_family = c.node
             WHERE g.allowed)
      SELECT canonical, dst_family, CAST(pos AS BIGINT) AS pos
      FROM wl WHERE pos <= n_requests
      ORDER BY dst_family, pos""")),

    // Query-biased SNIPPETS — the serving feature beside ranking: for
    // each (query, matching doc), the 8-token span showing the most
    // DISTINCT query terms, ties leftmost. Hit-anchored candidate
    // starts are EXACT (sliding any span's start right to its first
    // hit never loses coverage), occurrences are query-vocab-filtered
    // in the scan stage (the p49 IN-list rule) so the in-window
    // coverage pair-join touches hit rows only, and the emitted
    // snippet is the literal token slice — both engines rejoin the
    // same tokens, so the text itself is oracle-checked.
    ("p146_snippets", Twinned { (s, d, t) =>
      t.cut(graft.text.CorpusOps.snippets(t.in(Tables.documents(s, d)),
          col("doc_id"), col("text"),
          queries = graft.text.CorpusOps.bm25DemoQueries, window = 8))
        .localCheckpoint(eager = false) // one-shot: the sort samples then re-runs its child
        .orderBy(col("qid"), col("doc_id"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents),
      occ AS (SELECT doc_id, pr.tok AS term, pr.pos AS pos FROM
               (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
                  i -> {'tok': toks[i], 'pos': i})) AS pr FROM t)
              WHERE pr.tok IN ('hash', 'join', 'merge', 'window', 'sort',
                               'order', 'vector', 'scan', 'filter')),
      q(qid, term) AS (VALUES
        ('q_hash_join', 'hash'), ('q_hash_join', 'join'),
        ('q_hash_join', 'merge'),
        ('q_window', 'window'), ('q_window', 'sort'), ('q_window', 'order'),
        ('q_scan', 'vector'), ('q_scan', 'scan'), ('q_scan', 'filter')),
      hits AS (SELECT q.qid, occ.doc_id, occ.pos, occ.term
               FROM occ JOIN q USING (term)),
      cov AS (SELECT h1.qid, h1.doc_id, h1.pos AS start,
                count(DISTINCT h2.term) AS n_terms
              FROM hits h1 JOIN hits h2
                ON h1.qid = h2.qid AND h1.doc_id = h2.doc_id
               AND h2.pos BETWEEN h1.pos AND h1.pos + 7
              GROUP BY 1, 2, 3),
      best AS (SELECT qid, doc_id, start, n_terms,
                 row_number() OVER (PARTITION BY qid, doc_id
                   ORDER BY n_terms DESC, start) AS rn
               FROM cov)
      SELECT b.qid, b.doc_id, CAST(b.start AS BIGINT) AS start,
             CAST(b.n_terms AS BIGINT) AS n_terms,
             array_to_string(t.toks[b.start : b.start + 7], ' ') AS snippet
      FROM best b JOIN t ON b.doc_id = t.doc_id WHERE rn = 1
      ORDER BY b.qid, b.doc_id""")),

    // Redirect-chain resolution by POINTER DOUBLING — ⌈log₂ depth⌉
    // self-join rounds instead of depth sequential ones (the PRAM
    // pointer-jumping classic; a new execution class for the suite).
    // The fixture plants per-doc chains of 1..5 hops ending in a
    // shared terminal, plus a 2-cycle loop every 13th doc; maxDepth=4
    // makes every status bind: chain tails resolve in 1..4 hops, the
    // 5-hop heads exceed the give-up bound (unresolved-deep), loops
    // never terminate (unresolved). The oracle derives every row
    // generatively from the chain arithmetic — final target, EXACT
    // hop count, and the ≤4 give-up rule written down from intent,
    // never re-walked.
    ("p140_redirect_resolve", (s, d) => {
      graft.graph.CrawlOps.resolveRedirects(
          redirectFixtureFrom(Tables.documents(s, d)), maxDepth = 4)
        .orderBy(col("url"))
    }, Some("""
      WITH ch AS (
        SELECT doc_id, i, doc_id % 5 AS L, doc_id % 7 AS k
        FROM documents, range(5) t(i) WHERE i <= doc_id % 5),
      res AS (
        SELECT 'https://r.src' || k || '.com/c/' || doc_id || '/' || i AS url,
               L - i + 1 AS need,
               'https://dst' || k || '.com/' || (doc_id % 11) AS tgt
        FROM ch),
      lp AS (
        SELECT 'https://loop.src.com/' || s.side || '/' || doc_id AS url
        FROM documents, (SELECT unnest(['a', 'b']) AS side) s
        WHERE doc_id % 13 = 0)
      SELECT url,
             CASE WHEN need <= 4 THEN tgt ELSE '' END AS final_url,
             CAST(CASE WHEN need <= 4 THEN need ELSE 0 END AS BIGINT)
               AS hops,
             need <= 4 AS resolved
      FROM res
      UNION ALL
      SELECT url, '', CAST(0 AS BIGINT), false FROM lp
      ORDER BY url""")),

    // Per-URL change-rate estimation over the crawl ledger — the
    // freshness half of recrawl scheduling (Cho & Garcia-Molina's
    // incremental-crawler problem): adjacent-fetch fingerprint diffs
    // (NOT distinct-fingerprint counts — A→B→A flapping is two
    // changes), Laplace-smoothed to an integer micro-unit rate
    // ((changes+1)·10⁶ div (visits+1): a single-visit URL reports the
    // prior mean 500 000, never a fake certainty), and a linear-
    // hazard recrawl priority rate·staleness capped at 10⁶ (the
    // integer-exact bound of the Poisson 1−e^(−λt)). The fixture's
    // 3-day ledger makes every branch bind: visit sets differ by
    // doc_id parity/thirds, every-visit changers vs never-changers by
    // doc_id%5, and the cap binds for stale fast-changers.
    ("p141_change_rates", (s, d) => {
      graft.graph.CrawlOps.changeRates(
          crawlLedgerFixtureFrom(Tables.documents(s, d)), asofDay = 5L)
        .orderBy(col("url"))
    }, Some("""
      WITH f AS (
        SELECT doc_id,
               'https://src' || (doc_id % 7) || '.com/p/' || doc_id AS url,
               1 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
                 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS visits,
               CASE WHEN doc_id % 3 = 0 THEN 2
                    WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS last_day
        FROM documents),
      g AS (
        SELECT url, CAST(visits AS BIGINT) AS visits,
               CAST(CASE WHEN doc_id % 5 < 2 THEN visits - 1 ELSE 0 END
                 AS BIGINT) AS changes,
               CAST(5 - last_day AS BIGINT) AS staleness_days
        FROM f)
      SELECT url, visits, changes,
             CAST((changes + 1) * 1000000 // (visits + 1) AS BIGINT)
               AS rate_micro,
             staleness_days,
             CAST(least(1000000,
               (changes + 1) * 1000000 // (visits + 1) * staleness_days)
               AS BIGINT) AS score_micro
      FROM g ORDER BY url""")),

    // Crawler-trap detection — the frontier guard against domains
    // minting unbounded URL spaces over a handful of contents
    // (calendar pages, session ids, faceted grids): per family over
    // the deduped fetch log, distinct-URL : distinct-content ratio in
    // integer micro-units; trapped requires BOTH n_urls ≥ minUrls (a
    // 3-URL domain cannot evidence a trap) and ratio > threshold.
    // The fixture plants all three regimes: healthy 1:1 families
    // (ratio exactly 10⁶), a 500-URL 3-content trap, and a high-ratio
    // domain under the minUrls floor at sf0.01 (the floor binds —
    // and at sf0.1 its 100 URLs cross it, which the oracle computes
    // consistently from the same counts).
    ("p142_trap_signals", Twinned { (s, d, t) =>
      import graft.graph.CrawlOps
      CrawlOps.trapSignalsFromDistinct(t.cut(CrawlOps.trapTriples(
          fetchLogFixtureFrom(t.in(Tables.documents(s, d))))),
          minUrls = 20L, thresholdMicro = 2000000L)
        .orderBy(col("family"))
    }, Some("""
      WITH fl AS (
        SELECT 'src' || (doc_id % 7) || '.com' AS family,
               'https://src' || (doc_id % 7) || '.com/a/' || doc_id
                 AS canonical,
               'S' || doc_id AS fingerprint
        FROM documents
        UNION ALL
        SELECT 'trap.com', 'https://trap.com/p?id=' || doc_id,
               'T' || (doc_id % 3)
        FROM documents
        UNION ALL
        SELECT 'tiny.com', 'https://tiny.com/' || doc_id, 'X'
        FROM documents WHERE doc_id % 50 = 0),
      t AS (SELECT DISTINCT family, canonical, fingerprint FROM fl),
      a AS (SELECT family,
              CAST(count(DISTINCT canonical) AS BIGINT) AS n_urls,
              CAST(count(DISTINCT fingerprint) AS BIGINT) AS n_fp
            FROM t GROUP BY 1)
      SELECT family, n_urls, n_fp,
             CAST(n_urls * 1000000 // n_fp AS BIGINT) AS ratio_micro,
             n_urls >= 20 AND n_urls * 1000000 // n_fp > 2000000 AS trapped
      FROM a ORDER BY family""")),

    // JSONL ingest with a quarantine lane — the parse step at the
    // pipeline's mouth: every raw payload comes out exactly once,
    // tagged ok / malformed (the parser's corrupt-record channel) /
    // missing:<field> (first absent required field, one deterministic
    // reason per row — the filter-funnel attribution rule). The
    // fixture plants both failure modes arithmetically (every 17th
    // payload truncated mid-object, every 23rd missing its required
    // lang field) and the oracle writes the verdicts down from that
    // arithmetic — the parse is checked against intent. All
    // scan-stage (codegen'd Jackson parse + null probes): no shuffle,
    // no state.
    ("p143_jsonl_quarantine", Twinned { (s, d, t) =>
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("lang", StringType), StructField("nc", LongType)))
      t.cut(graft.sources.JsonlIngest.parseWithQuarantine(
          jsonlFixtureFrom(t.in(Tables.documents(s, d))).select(col("doc_id"),
            col("payload")),
          col("payload"), schema, required = Seq("id", "lang"))
        .select(col("doc_id"), col("ingest_status"),
          coalesce(col("lang"), lit("")).as("lang"),
          coalesce(col("nc"), lit(0L)).as("nc")))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
             CASE WHEN doc_id % 17 = 0 THEN 'malformed'
                  WHEN doc_id % 23 = 0 THEN 'missing:lang'
                  ELSE 'ok' END AS ingest_status,
             CASE WHEN doc_id % 17 = 0 OR doc_id % 23 = 0 THEN ''
                  ELSE lang END AS lang,
             CAST(CASE WHEN doc_id % 17 = 0 THEN 0
                  ELSE n_chars END AS BIGINT) AS nc
      FROM documents ORDER BY doc_id""")),

    // Small-group suppression over the release rollup — the privacy
    // floor every public data card applies (aggregate k-anonymity): a
    // (lang, bucket) row with fewer than k docs collapses into the
    // always-present __SUPPRESSED row (summed remainder — totals stay
    // exact, small groups stay invisible, zeros when clean). At
    // sf0.01 the ~12-doc average makes both branches bind; the oracle
    // recomputes the same floor from the same counts at any SF.
    ("p144_kanon_release", Twinned { (s, d, t) =>
      val stats = t.in(Tables.documents(s, d))
        .groupBy(col("lang"), (col("doc_id") % 7).cast("string").as("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      graft.curation.Curation.suppressSmallGroups(t.cut(stats),
          keyCols = Seq("lang", "bucket"), nCol = "n_docs", k = 10L)
        .orderBy(col("lang"), col("bucket"))
    }, Some("""
      WITH g AS (SELECT lang, CAST(doc_id % 7 AS VARCHAR) AS bucket,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS n_chars
                 FROM documents GROUP BY 1, 2)
      SELECT lang, bucket, n_docs, n_chars FROM g WHERE n_docs >= 10
      UNION ALL
      SELECT '__SUPPRESSED', '',
             CAST(coalesce(sum(n_docs), 0) AS BIGINT),
             CAST(coalesce(sum(n_chars), 0) AS BIGINT)
      FROM g WHERE n_docs < 10
      ORDER BY lang, bucket""")),

    // The RECRAWL schedule — freshness turned into spend, the Cho &
    // Garcia-Molina punchline: p141's per-URL recrawl priorities roll
    // up to domain families (the grain politeness binds at) and feed
    // the SAME largest-remainder allocator as the discovery-crawl
    // schedule — requests ∝ summed change-pressure, politeness-
    // capped, remainder explicit. A never-changing domain still
    // carries its smoothed prior mass (rates never report fake
    // certainty), so it is revisited — just last.
    ("p147_recrawl_schedule", (s, d) => {
      val rates = graft.graph.CrawlOps.changeRates(
        crawlLedgerFixtureFrom(Tables.documents(s, d)), asofDay = 5L)
      val fam = rates
        .select(graft.functions.SourceFamily.familyOf(col("url")).as("node"),
          col("score_micro"))
        .groupBy(col("node")).agg(sum(col("score_micro")).as("rank_micro"))
      graft.graph.LinkGraph.crawlBudget(fam, budget = 10000L,
          maxPerDomain = 2000L)
        .orderBy(col("node"))
    }, Some("""
      WITH fam AS (
        SELECT 'src' || (doc_id % 7) || '.com' AS node,
               least(1000000,
                 (CASE WHEN doc_id % 5 < 2 THEN visits - 1 ELSE 0 END + 1)
                   * 1000000 // (visits + 1) * (5 - last_day)) AS sc
        FROM (SELECT doc_id,
                1 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
                  + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS visits,
                CASE WHEN doc_id % 3 = 0 THEN 2
                     WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS last_day
              FROM documents)),
      r AS (SELECT node, CAST(sum(sc) AS BIGINT) AS r FROM fam GROUP BY 1),
      tot AS (SELECT sum(r) AS sr FROM r),
      a AS (SELECT node, r, CAST(10000 * r // sr AS BIGINT) AS ideal
            FROM r, tot),
      b AS (SELECT node, r, ideal, least(ideal, 2000) AS take1,
              2000 - least(ideal, 2000) AS head FROM a),
      t2 AS (SELECT sum(take1) AS st, sum(head) AS sh FROM b),
      c AS (SELECT node, r AS rank_micro,
              CAST(take1 + CASE WHEN sh > 0
                THEN (10000 - st) * head // sh ELSE 0 END AS BIGINT)
                AS n_requests,
              ideal > 2000 AS capped
            FROM b, t2)
      SELECT * FROM (
        SELECT node, rank_micro, n_requests, capped FROM c
        UNION ALL
        SELECT '__UNASSIGNED', CAST(0 AS BIGINT),
               CAST(10000 - (SELECT sum(n_requests) FROM c) AS BIGINT),
               false)
      ORDER BY node""")),

    // Line-frequency BOILERPLATE strip — the CCNet hygiene pass
    // between HTML extraction and fingerprinting: a line recurring
    // across >= minDocs docs of one domain family at >= 50% doc ratio
    // (exact integer micro-units) is chrome, and every occurrence is
    // dropped; survivors rejoin in order. The fixture plants all
    // regimes arithmetically: a global nav line (ratio 10⁶), a
    // per-family copyright line (10⁶), a ~60% newsletter line (above
    // threshold via doc_id%5), a ~13% promo line (below, via the
    // %5/%3 split), and the unique body line. The cleaned TEXT itself
    // is oracle-checked, not just the counts.
    ("p148_boilerplate_strip", (s, d) => {
      graft.text.CorpusOps.boilerplateStrip(
          Tables.documents(s, d).select(col("doc_id"),
            concat(lit("src"), (col("doc_id") % 7).cast("string"),
              lit(".com")).as("family"),
            linesFixtureText.as("page")),
          col("doc_id"), col("family"), col("page"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH pages AS (SELECT doc_id, 'src' || (doc_id % 7) || '.com' AS fam,
             'home | about | contact' || chr(10) ||
             '(c) 2026 fam' || (doc_id % 7) || chr(10) ||
             (CASE WHEN doc_id % 5 < 3 THEN 'subscribe to our newsletter'
                   ELSE 'promo ' || (doc_id % 3) END) || chr(10) ||
             'body: ' || text AS page
           FROM documents),
      l AS (SELECT doc_id, fam, u.line AS line, u.pos AS pos FROM
             (SELECT doc_id, fam, unnest(list_transform(
                generate_series(1, len(string_split(page, chr(10)))),
                i -> {'line': string_split(page, chr(10))[i], 'pos': i}))
                AS u
              FROM pages)),
      fd AS (SELECT fam, count(DISTINCT doc_id) AS nd FROM l GROUP BY 1),
      lf AS (SELECT fam, line, count(DISTINCT doc_id) AS df
             FROM l GROUP BY 1, 2),
      b AS (SELECT lf.fam, lf.line,
              (df >= 2 AND df * 1000000 // nd >= 500000) AS boiler
            FROM lf JOIN fd ON lf.fam = fd.fam)
      SELECT l.doc_id, l.fam AS family,
             coalesce(string_agg(l.line, chr(10) ORDER BY l.pos)
               FILTER (WHERE NOT boiler), '') AS text_clean,
             CAST(count(*) FILTER (WHERE NOT boiler) AS BIGINT) AS n_kept,
             CAST(count(*) FILTER (WHERE boiler) AS BIGINT) AS n_removed
      FROM l JOIN b ON l.fam = b.fam AND l.line = b.line
      GROUP BY 1, 2 ORDER BY l.doc_id""")),

    // The takedown BLAST RADIUS on the TRAINING side — packManifest
    // run in reverse: which packed training sequences did a bad-doc
    // list reach, and how many of each sequence's tokens are theirs
    // (the retrain-vs-drop decision number; p124 answers the SERVING
    // side of the same takedown). The bad list is takedown-sized and
    // broadcast, and the semi-join runs BEFORE the covered-sequence
    // explode, so the corpus-sized manifest never materializes. The
    // oracle re-derives the pack layout through p123's cumulative-sum
    // CTE and intersects intervals directly.
    ("p149_pack_blast_radius", (s, d) => {
      val enc = Tables.documents(s, d).select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
      val packed = graft.curation.Curation.packSequences(enc, col("source"),
        col("doc_id"), col("n_tokens"), seqLen = 512L)
      val bad = Tables.documents(s, d).select(col("doc_id"))
        .filter(col("doc_id") % 97 === 0)
      graft.curation.Curation.packBlastRadius(packed, col("doc_id"),
          col("n_tokens"), bad, col("doc_id"), seqLen = 512L, col("source"))
        .orderBy(col("source"), col("seq"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, source,
                   CAST(len(${sqlToks("text")}) AS BIGINT) AS n
                 FROM documents),
      c AS (SELECT doc_id, source, n,
              CAST(coalesce(sum(n) OVER (PARTITION BY source
                ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING), 0) AS BIGINT) AS cp
            FROM t),
      bad AS (SELECT * FROM c WHERE doc_id % 97 = 0 AND n > 0),
      e AS (SELECT source, doc_id, n, cp,
              unnest(generate_series(cp // 512, (cp + n - 1) // 512)) AS seq
            FROM bad),
      sp AS (SELECT source, seq,
               least(cp + n, (seq + 1) * 512) - greatest(cp, seq * 512)
                 AS n_span
             FROM e)
      SELECT source, CAST(seq AS BIGINT) AS seq,
             CAST(count(*) AS BIGINT) AS n_bad_docs,
             CAST(sum(n_span) AS BIGINT) AS bad_tokens
      FROM sp GROUP BY 1, 2 ORDER BY source, seq""")),

    // HARD-NEGATIVE mining — the contrastive-training complement of
    // p106's random negative draw: per query, the k NEAREST vectors
    // that are not labeled positives, skipping the single nearest
    // survivor (the top-band hedge against unlabeled positives).
    // Exclusion runs BEFORE ranking so positives never occupy rank
    // slots. The positive set is realistic: the retrieval top-2 (what
    // a click log labels) plus an arithmetic deep positive
    // (vec_id+137 — a labeled pair the ranking never surfaced), so
    // the anti-join binds at both ends of the ranking.
    ("p150_hard_negatives", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 20)
      val pos = SimilaritySearch.bruteForceTopK(e, col("vec_id"),
          col("embedding"), q, col("vec_id"), col("embedding"), k = 2)
        .select(col("query_id"), col("neighbor_id"))
        .union(q.select(col("vec_id"), col("vec_id") + lit(137L)))
      SimilaritySearch.hardNegatives(e, col("vec_id"), col("embedding"),
          q, col("vec_id"), col("embedding"),
          pos, col("query_id"), col("neighbor_id"), k = 5, skip = 1)
        .orderBy(col("query_id"), col("rank"))
    }, Some("""
      WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                 FROM embeddings WHERE vec_id < 20),
      c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
            FROM embeddings),
      scored AS (SELECT query_id, neighbor_id,
                   round(list_dot_product(cv, qv) /
                         (sqrt(list_dot_product(cv, cv)) *
                          sqrt(list_dot_product(qv, qv))), 6) AS cos
                 FROM c, q WHERE neighbor_id <> query_id),
      r0 AS (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, neighbor_id) AS rank FROM scored),
      pos AS (SELECT query_id, neighbor_id FROM r0 WHERE rank <= 2
              UNION ALL
              SELECT vec_id, vec_id + 137 FROM embeddings
              WHERE vec_id < 20),
      neg AS (SELECT s.* FROM scored s ANTI JOIN pos p
                ON s.query_id = p.query_id
               AND s.neighbor_id = p.neighbor_id),
      rr AS (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, neighbor_id) AS rank FROM neg)
      SELECT query_id, neighbor_id, cos, CAST(rank - 1 AS BIGINT) AS rank
      FROM rr WHERE rank > 1 AND rank <= 6 ORDER BY query_id, rank""")),

    // The VOCAB-COVERAGE curve — the Zipf observable a tokenizer
    // vocabulary or stopword budget is sized against: at k ∈ {10,
    // 100, 1000}, the micro-unit fraction of all corpus tokens the k
    // most frequent types cover. Rides p24's bounded top-k (no global
    // sort or window — rank via the distributed zipWithIndex);
    // checkpoints are config literals range-joined against the
    // ≤1000-row artifact.
    ("p151_vocab_coverage", Twinned { (s, d, t) =>
      import graft.text.CorpusOps
      CorpusOps.vocabCoverageFromTf(t.cut(CorpusOps.tokenCounts(
          t.in(Tables.documents(s, d)), col("text"), "token", "tf")), Seq(10L, 100L, 1000L))
        .orderBy(col("k"))
    }, Some(s"""
      WITH toks AS (SELECT doc_id, unnest(${sqlToks("text")}) AS token
                    FROM documents),
      tf AS (SELECT token, CAST(count(*) AS BIGINT) AS tf
             FROM toks GROUP BY 1),
      r AS (SELECT token, tf,
              row_number() OVER (ORDER BY tf DESC, token) AS rank
            FROM tf),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS total_tokens FROM toks),
      kk(k) AS (VALUES (10), (100), (1000)),
      cov AS (SELECT k, CAST(coalesce(sum(tf), 0) AS BIGINT)
                AS covered_tokens
              FROM kk LEFT JOIN r ON r.rank <= kk.k GROUP BY 1)
      SELECT CAST(k AS BIGINT) AS k, covered_tokens, total_tokens,
             CAST(CASE WHEN total_tokens > 0
               THEN covered_tokens * 1000000 // total_tokens
               ELSE 0 END AS BIGINT) AS share_micro
      FROM cov, tot ORDER BY k""")),

    // CONTENT-DEFINED chunking — the boundary-stable complement of
    // p35's fixed-token chunker: boundaries fall after any word
    // 3-gram whose md5 starts with a hex zero (expected chunk ≈ 16
    // gram starts), so a one-token insertion perturbs only the chunk
    // it lands in — every later chunk re-aligns and keeps its
    // fingerprint (the rsync/production-dedup property a fixed grid
    // cannot have; spec-pinned). Shuffle-free: gram hashing, boundary
    // election, and slicing are per-row array functions (the p146
    // rule). The chunk TEXT itself is oracle-checked.
    ("p152_cdc_chunks", Twinned { (s, d, t) =>
      t.cut(graft.dedup.Dedup.cdcChunks(t.in(Tables.documents(s, d)),
          col("doc_id"), col("text")))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents),
      b AS (SELECT doc_id, toks,
              list_concat(list_concat([0],
                CASE WHEN len(toks) < 3 THEN []
                ELSE list_filter(list_transform(
                  generate_series(1, len(toks) - 2),
                  i -> CASE WHEN substr(md5(
                              array_to_string(toks[i:i+2], ' ')), 1, 1)
                              = '0'
                             AND i + 2 < len(toks)
                       THEN i + 2 END),
                  e -> e IS NOT NULL) END),
                [len(toks)]) AS bounds
            FROM t WHERE len(toks) >= 1),
      c AS (SELECT doc_id, toks,
              unnest(list_transform(generate_series(1, len(bounds) - 1),
                j -> {'idx': j - 1, 'a': bounds[j], 'b': bounds[j + 1]}))
                AS ch
            FROM b)
      SELECT doc_id, CAST(ch.idx AS BIGINT) AS chunk_idx,
             CAST(ch.b - ch.a AS BIGINT) AS n_tokens,
             array_to_string(toks[ch.a + 1 : ch.b], ' ') AS chunk,
             md5(array_to_string(toks[ch.a + 1 : ch.b], ' ')) AS f
      FROM c ORDER BY doc_id, chunk_idx""")),

    // The CDC payoff in one row: how much of the corpus duplicates at
    // content-defined chunk grain. Occurrences fold per fingerprint
    // (ONE f-keyed exchange), then a bounded one-row finalize; a
    // dup-free corpus reports zeros, never absence.
    ("p153_cdc_dedup", (s, d) => {
      graft.dedup.Dedup.chunkDedupStats(
        graft.dedup.Dedup.cdcChunks(Tables.documents(s, d),
          col("doc_id"), col("text")))
    }, Some(s"""
      WITH t AS (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents),
      b AS (SELECT doc_id, toks,
              list_concat(list_concat([0],
                CASE WHEN len(toks) < 3 THEN []
                ELSE list_filter(list_transform(
                  generate_series(1, len(toks) - 2),
                  i -> CASE WHEN substr(md5(
                              array_to_string(toks[i:i+2], ' ')), 1, 1)
                              = '0'
                             AND i + 2 < len(toks)
                       THEN i + 2 END),
                  e -> e IS NOT NULL) END),
                [len(toks)]) AS bounds
            FROM t WHERE len(toks) >= 1),
      c AS (SELECT doc_id, toks,
              unnest(list_transform(generate_series(1, len(bounds) - 1),
                j -> {'idx': j - 1, 'a': bounds[j], 'b': bounds[j + 1]}))
                AS ch
            FROM b),
      ch AS (SELECT md5(array_to_string(toks[ch.a + 1 : ch.b], ' ')) AS f,
               CAST(ch.b - ch.a AS BIGINT) AS n_tokens
             FROM c),
      g AS (SELECT f, CAST(count(*) AS BIGINT) AS o,
              CAST(min(n_tokens) AS BIGINT) AS nt
            FROM ch GROUP BY 1)
      SELECT CAST(coalesce(sum(o), 0) AS BIGINT) AS n_chunks,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(coalesce(sum(o - 1), 0) AS BIGINT) AS dup_chunks,
             CAST(coalesce(sum((o - 1) * nt), 0) AS BIGINT) AS dup_tokens
      FROM g""")),

    // robots.txt PARSING — the step the whole gate arc assumed as a
    // given: raw per-family robots.txt text → the (family, prefix,
    // allow) rule table, honoring RFC 9309's group grammar (header
    // sets of consecutive User-agent lines, wildcard-agent matching,
    // groups re-opened by a UA line after rules, blank lines ignored,
    // inline comments, empty Disallow = no restriction). One
    // higher-order line fold per file — shuffle-free. The oracle is
    // GENERATIVE (the p130 rule): it writes down the rules the
    // authored fixture intends, so the parse chain is gated against
    // intent, not a shared formula — and the expected rows ARE
    // p138's rule fixture (spec-pinned gate equivalence).
    ("p154_robots_parse", (s, d) => {
      import s.implicits._
      graft.graph.LinkGraph.parseRobots(
          robotsTxtFixture.toDF("family", "robots_txt"),
          col("family"), col("robots_txt"))
        .orderBy(col("family"), col("rule_idx"))
    }, Some("""
      SELECT * FROM (VALUES
        ('example.com', CAST(0 AS BIGINT), '/', false),
        ('src0.com', 0, '/', false),
        ('src0.com', 1, '/hub', true),
        ('src1.com', 0, '/p', false),
        ('src2.co.uk', 0, '/', true),
        ('src2.co.uk', 1, '/', false))
        AS t(family, rule_idx, prefix, allow)
      ORDER BY family, rule_idx""")),

    // MATRYOSHKA truncation audit — the dim-vs-recall tradeoff table
    // an embedding-storage decision reads (MRL-style models make the
    // leading dims carry the meaning; this measures what truncation
    // actually costs on THIS corpus): recall@5 of truncated-dim
    // cosine against the full 64-dim ground truth, at 8/16/32/64
    // dims, in integer micro-units. dim=64 is the built-in sanity
    // row (recall exactly 10⁶); a dim with zero hits still reports
    // its zero row. Bounded two-phase TopK per dim — no global sort.
    ("p155_matryoshka_recall", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 20)
      val full = SimilaritySearch.bruteForceTopK(e, col("vec_id"),
          col("embedding"), q, col("vec_id"), col("embedding"), k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = false)
      val dims = Seq(8, 16, 32, 64)
      val truncated = dims.map { dm =>
        SimilaritySearch.bruteForceTopK(e, col("vec_id"),
            slice(col("embedding"), 1, dm),
            q, col("vec_id"), slice(col("embedding"), 1, dm), k = 5)
          .select(lit(dm.toLong).as("dim"), col("query_id"),
            col("neighbor_id"))
      }.reduce(_ union _)
      val hits = truncated.join(full, Seq("query_id", "neighbor_id"))
        .groupBy(col("dim")).agg(count(lit(1)).as("n_hits"))
      val denom = full.agg(count(lit(1)).as("n_truth"))
      import s.implicits._
      dims.map(_.toLong).toDF("dim")
        .join(hits, Seq("dim"), "left")
        .select(col("dim"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .crossJoin(broadcast(denom))
        .withColumn("recall_micro", expr("n_hits * 1000000 div n_truth"))
        .orderBy(col("dim"))
    }, Some("""
      WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                 FROM embeddings WHERE vec_id < 20),
      c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
            FROM embeddings),
      dims(dim) AS (VALUES (8), (16), (32), (64)),
      fs AS (SELECT query_id, neighbor_id,
               round(list_dot_product(cv, qv) /
                     (sqrt(list_dot_product(cv, cv)) *
                      sqrt(list_dot_product(qv, qv))), 6) AS cos
             FROM c, q WHERE neighbor_id <> query_id),
      truth AS (SELECT query_id, neighbor_id FROM
                 (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS rank FROM fs)
                WHERE rank <= 5),
      ts AS (SELECT dim, query_id, neighbor_id,
               round(list_dot_product(cv[1:dim], qv[1:dim]) /
                     (sqrt(list_dot_product(cv[1:dim], cv[1:dim])) *
                      sqrt(list_dot_product(qv[1:dim], qv[1:dim]))), 6)
                 AS cos
             FROM c, q, dims WHERE neighbor_id <> query_id),
      tk AS (SELECT dim, query_id, neighbor_id FROM
              (SELECT *, row_number() OVER (PARTITION BY dim, query_id
                 ORDER BY cos DESC, neighbor_id) AS rank FROM ts)
             WHERE rank <= 5),
      h AS (SELECT dim, CAST(count(*) AS BIGINT) AS n_hits
            FROM tk JOIN truth USING (query_id, neighbor_id)
            GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth)
      SELECT CAST(dims.dim AS BIGINT) AS dim,
             CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits, n_truth,
             CAST(coalesce(n_hits, 0) * 1000000 // n_truth AS BIGINT)
               AS recall_micro
      FROM dims LEFT JOIN h ON dims.dim = h.dim, tot
      ORDER BY dims.dim""")),

    // sitemap.xml PARSING — the third discovery input beside the
    // outlink harvest (p131) and the robots gate (p138/p154): <loc>
    // values entity-decoded and canonicalized with the SAME
    // canonicalizeUrl as the harvest, so a sitemap row collides with
    // a crawl-discovered messy variant of the same page; <lastmod>
    // optional (null, never a fake date); loc-less blocks drop,
    // leaving their idx gap as provenance. Generative oracle — the
    // expected rows are written down from the authored fixture.
    ("p156_sitemap_parse", (s, d) => {
      import s.implicits._
      graft.graph.LinkGraph.parseSitemap(
          sitemapXmlFixture.toDF("family", "xml"),
          col("family"), col("xml"))
        .orderBy(col("family"), col("url_idx"))
    }, Some("""
      SELECT * FROM (VALUES
        ('src0.com', CAST(0 AS BIGINT),
         'https://www.src0.com/hub?a=1&b=2', '2026-08-01'),
        ('src0.com', 1, 'https://src0.com/fresh', '2026-08-14'),
        ('src0.com', 2, 'https://src0.com/nolastmod', CAST(NULL AS VARCHAR)),
        ('src2.co.uk', 0, 'https://src2.co.uk/a', NULL))
        AS t(family, url_idx, canonical, lastmod)
      ORDER BY family, url_idx""")),

    // The UNIFIED frontier — the closing composition of the discovery
    // trio: crawl-harvested outlinks UNION p156's sitemap keys (same
    // canonical space, so shared pages collide into one frontier
    // row), the whole union through the robots gate, allowed counts
    // re-capping the p139 schedule, the spend selected by the bounded
    // worklist fold. The sitemap contributes exactly what it should:
    // a new allowed URL the crawl never discovered (src2.co.uk/a —
    // its '/' allow/disallow tie resolves allow) joins the worklist;
    // robots-blocked sitemap rows (src0's /fresh, /nolastmod under
    // 'Disallow: /') do NOT. Oracle redefines `u` over the union and
    // reuses the identical gate + schedule CTE chains.
    ("p157_frontier_worklist", (s, d) => {
      import s.implicits._
      // links are already follow-harvested and alias-resolved (the
      // composed chain); sitemap keys join the union through the SAME
      // alias rewrite — a no-op on keys no page re-declares, and
      // idempotent on the already-resolved link rows (a resolved
      // terminal is never itself an alias src)
      val links = crawlLinksFixture(s, d)
      val sm = graft.graph.CrawlOps.resolveFrontierAliases(
        graft.graph.LinkGraph.parseSitemap(
            sitemapXmlFixture.toDF("family", "xml"),
            col("family"), col("xml"))
          .select(col("canonical"), col("family").as("dst_family")),
        frontierAliasResolved(s))
      val unioned = links.select(col("canonical"), col("dst_family"))
        .union(sm)
      val allowed = gateAllowedOf(s, unioned)
      graft.graph.CrawlOps.crawlWorklist(allowed,
          crawlScheduleOf(links, allowed))
        .orderBy(col("dst_family"), col("pos"))
    }, Some(s"""
      WITH $followLkCtesSql,
      sm(canonical, dst_family) AS (VALUES
        ('https://www.src0.com/hub?a=1&b=2', 'src0.com'),
        ('https://src0.com/fresh', 'src0.com'),
        ('https://src0.com/nolastmod', 'src0.com'),
        ('https://src2.co.uk/a', 'src2.co.uk')),
      u AS (SELECT DISTINCT canonical, dst_family FROM
             (SELECT cu AS canonical, dst_family FROM lk
              UNION ALL SELECT canonical, dst_family FROM sm)),
      $robotsGateAfterUSql,
      $crawlScheduleCtesSql,
      wl AS (SELECT g.canonical, g.dst_family, c.n_requests,
               row_number() OVER (PARTITION BY g.dst_family
                 ORDER BY md5(g.canonical), g.canonical) AS pos
             FROM gate g JOIN c ON g.dst_family = c.node
             WHERE g.allowed)
      SELECT canonical, dst_family, CAST(pos AS BIGINT) AS pos
      FROM wl WHERE pos <= n_requests
      ORDER BY dst_family, pos""")),

    // BYTE-LEVEL BPE training (the GPT-2-family tokenizer: words seed
    // as UTF-8 bytes mapped through the bytes↔unicode alphabet, so no
    // input is ever out-of-vocabulary) over the multilingual fixture —
    // the decoration guarantees byte pairs like (¼,b) enter the top-8,
    // so the oracle's independent SQL byte seeding (hex(encode(w))
    // through the 256-entry alphabet literal) gates the byte path.
    // Same bounded-artifact scale shape as p58: one (word, count)
    // shuffle, then driver rounds on the vocabulary.
    ("p158_bpe_bytes_train", Twinned { (s, d, t) =>
      import graft.text.CorpusOps
      CorpusOps.bpeMergesFromVocabDf(t.cut(CorpusOps.tokenCounts(
          t.in(Tables.documents(s, d)), byteTextFixture, "w", "cnt")),
          numMerges = 8, byteLevel = true)
        .orderBy(col("rank"))
    }, Some(byteBpeOracle(8))),

    // Byte-level merge-table ENCODING — p64's round-trip property at
    // byte level: the oracle reads each word's encoding off the final
    // byte-seeded training state, so agreement proves byte-level merge
    // application == byte-level training evolution, and the emitted
    // symbol streams (e.g. 'Ã ©' for 'é' pre-merge) pin the seeding
    // byte-for-byte. Map-side codegen kernel, zero shuffle.
    ("p159_bpe_bytes_encode", Twinned { (s, d, t) =>
      val docs = Tables.documents(s, d)
      val merges = graft.text.CorpusOps.bpeMergeTable(
        graft.text.CorpusOps.bpeTrainMerges(docs, byteTextFixture,
          numMerges = 8, byteLevel = true))
      t.cut(graft.text.CorpusOps.bpeEncodeAt(t.in(docs), col("doc_id"), byteTextFixture,
          merges, byteLevel = true))
        .orderBy(col("doc_id"))
    }, Some(byteBpeEncodeOracle(8))),

    // Byte-level tokenizer FERTILITY per source — the metric the
    // byte/char choice actually moves: a 3-char CJK word is 9 byte
    // symbols before any merge, so byte-level fertility on non-ASCII
    // corpora reads higher than p129's char-level number (which
    // understated exactly this cost — the reason production pack
    // budgets are priced byte-level).
    ("p160_bpe_bytes_fertility", (s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.text.CorpusOps.bpeMergeTable(
        graft.text.CorpusOps.bpeTrainMerges(docs, byteTextFixture,
          numMerges = 8, byteLevel = true))
      graft.text.CorpusOps.tokenizerFertility(docs, col("doc_id"),
          byteTextFixture, col("source"), merges, byteLevel = true)
        .orderBy(col("group"))
    }, Some(byteBpeFertilityOracle(8))),

    // robots.txt Crawl-delay for the wildcard agent — the politeness
    // knob p163 wires into the budget: group grammar is parseRobots'
    // own, so a delay in a foreign-agent group does NOT apply, a
    // groupless delay is ignored, fractional seconds land as integer
    // ms, and several applicable delays keep the MAX. Generative
    // oracle over the authored fixture (the p154/p156 pattern).
    ("p161_robots_crawl_delay", Twinned { (s, d, t) =>
      import s.implicits._
      t.cut(graft.graph.LinkGraph.robotsCrawlDelay(
          t.in(robotsMetaFixture.toDF("family", "txt")),
          col("family"), col("txt")))
        .orderBy(col("family"))
    }, Some("""
      SELECT * FROM (VALUES
        ('polite.net', CAST(10000 AS BIGINT)),
        ('src0.com', 5000))
        AS t(family, crawl_delay_ms)
      ORDER BY family""")),

    // Sitemap DISCOVERY end-to-end: robots `Sitemap:` directives
    // (group-INDEPENDENT per RFC 9309 §2.3) name the roots, and the
    // tree expands through nested <sitemapindex> layers to page URLs
    // — the dominant real-world format's actual shape, which p156's
    // single-<urlset> parse never reached. Latest lastmod wins across
    // sitemaps that mention one page; an unfetched child contributes
    // nothing; a cyclic index terminates. Generative oracle.
    ("p162_sitemap_expand", (s, d) => {
      import s.implicits._
      val roots = graft.graph.LinkGraph.robotsSitemaps(
        robotsMetaFixture.toDF("family", "txt"), col("family"), col("txt"))
      graft.graph.LinkGraph.expandSitemaps(
          sitemapTreeFixture.toDF("family", "url", "xml"), roots)
        .orderBy(col("family"), col("canonical"))
    }, Some("""
      SELECT * FROM (VALUES
        ('polite.net', 'https://polite.net/q1', '2026-07-30'),
        ('src0.com', 'https://src0.com/p1', '2026-08-10'),
        ('src0.com', 'https://src0.com/p2?a=1&b=2', CAST(NULL AS VARCHAR)),
        ('src0.com', 'https://src0.com/p3', NULL))
        AS t(family, canonical, lastmod)
      ORDER BY family, canonical""")),

    // Crawl-delay wired into the SCHEDULE — the arc the two ends of
    // which already existed (parse gates p161, budget gates p139):
    // published delays compile to per-domain caps (window div delay,
    // bounded by the politeness default) and the largest-remainder
    // budget provably redistributes the capped domains' spend. src0
    // (5 s) and polite.net (10 s) bind at 12 and 6 of a 60-request
    // budget over a 60 s window; the remainder flows to the un-delayed
    // families. The oracle recomputes caps and the proportioning chain
    // from the authored delays — integer div semantics end-to-end.
    ("p163_delay_schedule", (s, d) => {
      import s.implicits._
      val ranks = Seq(("src0.com", 500000L), ("polite.net", 300000L),
        ("foreign.org", 150000L), ("example.com", 50000L))
        .toDF("node", "rank_micro")
      val delays = graft.graph.LinkGraph.robotsCrawlDelay(
        robotsMetaFixture.toDF("family", "txt"), col("family"), col("txt"))
      graft.graph.LinkGraph.crawlBudgetWithCaps(
          graft.graph.LinkGraph.crawlDelayCaps(ranks, delays,
            windowMs = 60000L, defaultCap = 40L),
          budget = 60L)
        .orderBy(col("node"))
    }, Some("""
      WITH ranks(node, rank_micro) AS (VALUES
        ('src0.com', CAST(500000 AS BIGINT)),
        ('polite.net', 300000), ('foreign.org', 150000),
        ('example.com', 50000)),
      delays(family, d) AS (VALUES
        ('src0.com', CAST(5000 AS BIGINT)), ('polite.net', 10000)),
      cp AS (SELECT node, rank_micro,
               CASE WHEN d IS NULL OR d <= 0 THEN 40
                    ELSE least(40, 60000 // d) END AS cap
             FROM ranks LEFT JOIN delays ON node = family),
      tot AS (SELECT sum(rank_micro) AS sr FROM cp),
      a AS (SELECT node, rank_micro, cap,
              CAST(60 * rank_micro // sr AS BIGINT) AS ideal
            FROM cp, tot),
      b AS (SELECT node, rank_micro, cap, ideal,
              least(ideal, cap) AS take1,
              cap - least(ideal, cap) AS head FROM a),
      t2 AS (SELECT sum(take1) AS st, sum(head) AS sh FROM b),
      c AS (SELECT node, rank_micro,
              CAST(take1 + CASE WHEN sh > 0
                THEN (60 - st) * head // sh ELSE 0 END AS BIGINT)
                AS n_requests,
              ideal > cap AS capped
            FROM b, t2)
      SELECT node, rank_micro, n_requests, capped FROM (
        SELECT * FROM c
        UNION ALL
        SELECT '__UNASSIGNED', CAST(0 AS BIGINT),
               CAST(60 - (SELECT sum(n_requests) FROM c) AS BIGINT), false)
      ORDER BY node""")),

    // PER-HOST politeness under the family budget — the two-level cap
    // a real fetcher enforces: twohost.com's 10 requests must split
    // across its three hosts at ≤ 4 each (no host absorbs the family
    // budget), while single-host solo.net spends through one host
    // untouched. URL space derives from doc_id arithmetic so volume
    // scales with SF; selection order is the same md5 priority as
    // p145, recomputed verbatim by the oracle's two-level row_number
    // chain.
    ("p164_worklist_per_host", (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val id = col("doc_id").cast("string")
      val allowed = docs.select(
          concat(lit("https://h"), (col("doc_id") % 3).cast("string"),
            lit(".twohost.com/p/"), id).as("canonical"),
          lit("twohost.com").as("dst_family"))
        .unionByName(docs.select(
          concat(lit("https://one.solo.net/p/"), id).as("canonical"),
          lit("solo.net").as("dst_family")))
      val sched = Seq(("twohost.com", 10L), ("solo.net", 4L))
        .toDF("node", "n_requests")
      graft.graph.CrawlOps.crawlWorklistPerHost(allowed, sched,
          hostCap = 4, maxPerDomain = 100)
        .orderBy(col("dst_family"), col("pos"))
    }, Some("""
      WITH u AS (
        SELECT 'https://h' || CAST(doc_id % 3 AS VARCHAR)
                 || '.twohost.com/p/' || CAST(doc_id AS VARCHAR) AS canonical,
               'twohost.com' AS dst_family,
               'h' || CAST(doc_id % 3 AS VARCHAR) || '.twohost.com' AS host
        FROM documents
        UNION ALL
        SELECT 'https://one.solo.net/p/' || CAST(doc_id AS VARCHAR),
               'solo.net', 'one.solo.net'
        FROM documents),
      sched(node, n_requests) AS (VALUES
        ('twohost.com', CAST(10 AS BIGINT)), ('solo.net', 4)),
      ph AS (SELECT canonical, dst_family,
               row_number() OVER (PARTITION BY dst_family, host
                 ORDER BY md5(canonical), canonical) AS hpos
             FROM u),
      surv AS (SELECT canonical, dst_family FROM ph WHERE hpos <= 4),
      wl AS (SELECT canonical, dst_family,
               row_number() OVER (PARTITION BY dst_family
                 ORDER BY md5(canonical), canonical) AS pos
             FROM surv)
      SELECT canonical, dst_family, CAST(pos AS BIGINT) AS pos
      FROM wl JOIN sched ON dst_family = node
      WHERE pos <= n_requests
      ORDER BY dst_family, pos""")),

    // Incremental PageRank WARM-START — the epoch shape a live crawl
    // runs: last epoch's rank table is a saved ARTIFACT (parquet
    // round-trip, the p77 model-serve lifecycle), and this epoch
    // resumes iterating FROM it instead of from uniform. Because the
    // warm rounds are the same code path as the cold ones,
    // warm(artifact(k rounds), m rounds) IS the (k+m)-round cold run
    // — the identity the oracle gates by unrolling all 10 rounds from
    // uniform; the convergence payoff (same fixpoint, fewer rounds on
    // a perturbed graph) is spec-pinned in GraphSpec.
    ("p165_pagerank_warmstart", (s, d) => {
      val edges = graft.graph.LinkGraph.linkRows(htmlPages(s, d),
          col("page_url"), col("html"))
        .select(col("src_family").as("src"), col("dst_family").as("dst"))
      val dir = graft.sources.Sinks.tempArtifactDir("pr_warm_artifact")
      graft.graph.LinkGraph.pageRank(edges, iters = 5)
        .coalesce(1).write.mode("overwrite").parquet(dir)
      graft.graph.LinkGraph.pageRankFrom(edges, s.read.parquet(dir),
          iters = 5)
        .orderBy(col("rank_micro").desc, col("node"))
    }, Some(s"""
      WITH $outlinkCtesSql,
      e AS (SELECT DISTINCT src_family AS src, dst_family AS dst FROM lk),
      nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      od AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
      r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nd),
      ${pageRankStagesSql(10)}
      SELECT node, r AS rank_micro FROM r10
      ORDER BY rank_micro DESC, node""")),

    // BYTE-LEVEL tokenize → pack — p70's pipeline-closing composition
    // priced in the units production packers actually budget: byte
    // tokens. On the multilingual fixture the byte-level lengths run
    // higher than char level (every non-ASCII char is 2-4 symbols
    // before merges), so sequence ids/offsets shift — exactly the
    // pack-budget misstatement the char-level p70 would make on a
    // non-ASCII corpus. Same plan shape: one (word, count) train
    // shuffle → map-side encode with provenance riding the projection
    // → the packer's single per-source window shuffle.
    ("p166_byte_tokenize_pack", (s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.text.CorpusOps.bpeMergeTable(
        graft.text.CorpusOps.bpeTrainMerges(docs, byteTextFixture,
          numMerges = 8, byteLevel = true))
      val enc = graft.text.CorpusOps.bpeEncodeAt(docs, col("doc_id"),
        byteTextFixture, merges, byteLevel = true, col("source"))
      graft.curation.Curation.packSequences(enc, col("source"), col("doc_id"),
          col("n_bpe_tokens"), seqLen = 256L)
        .select(col("doc_id"), col("source"), col("n_bpe_tokens"),
          col("seq_id"), col("seq_offset"), col("n_seqs"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH ${bpeByteStagesSql(8)},
      enc AS (SELECT w, replace(seq, '/', '') AS ew FROM seqs_8),
      t AS (SELECT doc_id, source, ${sqlToks(byteTextFixtureSql)} AS toks
            FROM documents),
      occ AS (SELECT doc_id, unnest(toks) AS w FROM t),
      wc AS (SELECT o.doc_id, CAST(sum(len(string_split(e.ew, ' '))) AS BIGINT) AS n
             FROM occ o JOIN enc e ON e.w = o.w GROUP BY 1),
      n AS (SELECT t.doc_id, t.source, CAST(coalesce(wc.n, 0) AS BIGINT) AS n_bpe_tokens
            FROM t LEFT JOIN wc USING (doc_id)),
      c AS (SELECT doc_id, source, n_bpe_tokens,
              CAST(coalesce(sum(n_bpe_tokens) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cp
            FROM n)
      SELECT doc_id, source, n_bpe_tokens,
             CAST(cp // 256 AS BIGINT) AS seq_id,
             CAST(cp % 256 AS BIGINT) AS seq_offset,
             CAST(CASE WHEN n_bpe_tokens = 0 THEN 0
                  ELSE (cp + n_bpe_tokens - 1) // 256 - cp // 256 + 1 END
                  AS BIGINT) AS n_seqs
      FROM c ORDER BY doc_id""")),

    // WARC container ingestion — the byte layer the whole crawl arc
    // reads from (Common Crawl ships .warc/.wet): each fixture file
    // packs a warcinfo record plus its docs' conversion records with
    // REAL Content-Length byte framing; the engine's per-partition
    // byte walk re-slices them. The oracle never parses — it
    // recomputes every record's fields from the same doc_id
    // arithmetic the fixture assembled them with (the htmlExtract
    // generative-oracle rule), so agreement proves the parser walks
    // the container faithfully.
    ("p167_warc_parse", Twinned { (s, d, t) =>
      t.cut(graft.sources.Warc.parseWarc(
          t.in(warcFixtureFrom(Tables.documents(s, d))),
          col("file_id"), col("payload")))
        .orderBy(col("file_id"), col("record_idx"))
    }, Some(warcFixtureOracleSql("""
      SELECT file_id, record_idx, warc_type, target_uri, content_length,
             body, "offset", record_bytes, warc_date, content_type,
             record_id
      FROM ext ORDER BY file_id, record_idx"""))),

    // The INGEST composition the crawl arc actually runs: WARC files
    // in, extracted text out — parseWarc's byte walk feeding p130's
    // extract chain, with provenance RECOVERED from each record's
    // WARC-Target-URI (the /p/<doc_id> suffix), never trusted from
    // row order. Same oracle as p130: the container layer must be
    // invisible to the extract's results.
    ("p168_warc_extract", (s, d) => {
      val warcs = warcFixtureFrom(Tables.documents(s, d)
        .select(col("doc_id"), htmlFixtureText.as("text")))
      graft.sources.Warc.parseWarc(warcs, col("file_id"), col("payload"))
        .filter(col("warc_type") === "conversion")
        .select(fixtureDocId.as("doc_id"),
          TextFunctions.htmlTitle(col("body")).as("title"),
          TextFunctions.htmlExtract(col("body")).as("text"),
          size(TextFunctions.extractHrefs(col("body"))).cast("long")
            .as("n_links"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, 'Doc ' || doc_id AS title,
             'Doc ' || doc_id || ' ' || text ||
               ' Compare A & B <quoted> it''s fine more' AS text,
             CAST(5 AS BIGINT) AS n_links
      FROM documents ORDER BY doc_id""")),

    // The mixture plan priced in BYTE tokens — p113's config table
    // with n_tokens from the byte-level tokenizer instead of
    // whitespace counts: source shares, repetition caps, and the
    // redistribution all shift with each source's byte fertility,
    // which is the number a compute budget actually buys (p160's
    // point applied to the mixing table — a whitespace-priced plan
    // over-serves the scripts whose words explode into many byte
    // symbols). Same integer-exact redistribution chain, oracle
    // recomputes token mass off the byte-seeded training state.
    ("p169_byte_budget_mix", (s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.text.CorpusOps.bpeMergeTable(
        graft.text.CorpusOps.bpeTrainMerges(docs, byteTextFixture,
          numMerges = 8, byteLevel = true))
      val enc = graft.text.CorpusOps.bpeEncodeAt(docs, col("doc_id"),
        byteTextFixture, merges, byteLevel = true, col("source"))
      graft.curation.Curation.mixturePlan(enc, col("source"),
          col("n_bpe_tokens"), mixtureWeights, budget = 40000L,
          capMilliEpochs = 2000L)
        .orderBy(col("group"))
    }, Some {
      val wVals = mixtureWeights
        .map { case (g, p) => s"('$g', $p)" }.mkString(", ")
      s"""
      WITH ${bpeByteStagesSql(8)},
      enc AS (SELECT w, replace(seq, '/', '') AS ew FROM seqs_8),
      tt AS (SELECT doc_id, source, ${sqlToks(byteTextFixtureSql)} AS toks
             FROM documents),
      occ AS (SELECT doc_id, source, unnest(toks) AS w FROM tt),
      t AS (SELECT o.source AS grp,
              CAST(sum(len(string_split(e.ew, ' '))) AS BIGINT) AS n_tokens
            FROM occ o JOIN enc e ON e.w = o.w GROUP BY 1),
      w AS (SELECT * FROM (VALUES $wVals) AS w(grp, permille)),
      g AS (SELECT t.grp AS "group", n_tokens,
              CAST(permille AS BIGINT) AS target_permille,
              permille * 40000 // 1000 AS ideal,
              2000 * n_tokens // 1000 AS cap
            FROM t JOIN w ON t.grp = w.grp),
      g2 AS (SELECT *, least(ideal, cap) AS take1,
               cap - least(ideal, cap) AS head FROM g),
      tot AS (SELECT CAST(sum(take1) AS BIGINT) AS sum_take,
                CAST(sum(head) AS BIGINT) AS sum_head FROM g2),
      g4 AS (SELECT "group", n_tokens, target_permille,
               take1 + CASE WHEN sum_head > 0
                 THEN (40000 - sum_take) * head // sum_head
                 ELSE 0 END AS planned_tokens,
               ideal > cap AS capped
             FROM g2, tot)
      SELECT "group", n_tokens, target_permille,
             CAST(planned_tokens AS BIGINT) AS planned_tokens,
             CAST(planned_tokens * 1000 // n_tokens AS BIGINT)
               AS milli_epochs, capped
      FROM g4
      UNION ALL
      SELECT '__UNASSIGNED', 0, 0,
             CAST(40000 - sum(planned_tokens) AS BIGINT), 0, false
      FROM g4
      ORDER BY "group""""
    }),

    // CDX-style archive index — the random-access layer over the WARC
    // corpus: one row per addressable record, SURT-keyed (one site =
    // one contiguous key range, the ordering every public web-archive
    // index uses), carrying the byte extent a ranged read needs and a
    // sha256 content digest. The oracle recomputes EVERYTHING
    // independently: surt keys from doc_id arithmetic, extents from
    // writeWarc's rendered-framing formula (prefix sum over record
    // sizes), digests from DuckDB's own sha256 — one gate over the
    // parser's offsets, the SURT transform, and the digest at once.
    ("p170_cdx_index", Twinned { (s, d, t) =>
      val recs = graft.sources.Warc.parseWarc(
        t.in(warcFixtureFrom(Tables.documents(s, d))),
        col("file_id"), col("payload"))
      t.cut(graft.sources.Warc.cdxIndex(recs))
        .orderBy(col("surt_key"))
    }, Some(warcFixtureOracleSql("""
      SELECT 'com,src' || CAST(doc_id % 20 AS VARCHAR) || ')/p/'
               || CAST(doc_id AS VARCHAR) AS surt_key,
             target_uri, warc_date, file_id, record_idx, "offset",
             record_bytes, sha256(body) AS digest
      FROM ext WHERE target_uri IS NOT NULL
      ORDER BY surt_key"""))),

    // The index-driven random access itself: a MESSY url panel
    // (scheme/host case, default :443, utm param, fragment) resolves
    // through the SAME surt transform the index was built with, each
    // hit's extent slices its file's bytes, and the slice re-parses
    // ALONE (Warc.fetchRecords — at 100 TB this is a ranged GET, never
    // a full-archive parse). The oracle is the panel's documents rows
    // directly: the whole index+fetch machinery must be invisible to
    // the content that comes back.
    ("p171_cdx_fetch", (s, d) => {
      val docs = Tables.documents(s, d)
      val warcs = warcFixtureFrom(docs)
      val cdx = graft.sources.Warc.cdxIndex(
        graft.sources.Warc.parseWarc(warcs, col("file_id"), col("payload")))
      val panel = docs.filter(col("doc_id") % 97 === 0)
        .select(concat(lit("HTTPS://WWW.SRC"),
          (col("doc_id") % 20).cast("string"), lit(".COM:443/p/"),
          col("doc_id").cast("string"), lit("?utm_source=x#frag")).as("url"))
      val hits = panel
        .select(graft.functions.SourceFamily.surtKey(col("url")).as("surt_key"))
        .join(cdx, Seq("surt_key"))
      graft.sources.Warc.fetchRecords(warcs, col("file_id"), col("payload"),
          hits.select(col("file_id"), col("record_idx"), col("offset"),
            col("record_bytes")))
        .select(fixtureDocId.as("doc_id"),
          col("content_length"), col("body"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
             text AS body
      FROM documents WHERE doc_id % 97 = 0 ORDER BY doc_id""")),

    // Archive maintenance: re-pack the 8-file fixture into ~16 KiB
    // byte-budget shards — parse → global greedy pack (the
    // distributed prefix-sum, Warc.reshardByBytes) → writeWarc per
    // shard → RE-PARSE; the output reads off the re-parsed frame, so
    // the oracle (pure pack arithmetic over documents) gates the
    // whole parse→plan→write→parse pipeline, not just the plan.
    ("p172_warc_reshard", (s, d) => {
      val recs = graft.sources.Warc.parseWarc(
          warcFixtureFrom(Tables.documents(s, d)),
          col("file_id"), col("payload"))
        .filter(col("warc_type") === "conversion")
        .select(fixtureDocId.as("doc_id"),
          col("warc_type"), col("target_uri"),
          col("content_length"), col("body"))
      val planned = graft.sources.Warc.reshardByBytes(recs, col("doc_id"),
        col("content_length"), budget = 16384L)
      val rewritten = graft.sources.Warc.writeWarc(planned, col("shard"),
        col("doc_id"), col("warc_type"), col("target_uri"), col("body"))
      graft.sources.Warc.parseWarc(rewritten, col("file_id"), col("payload"))
        .select(fixtureDocId.as("doc_id"),
          col("file_id").as("shard"), col("record_idx"),
          col("content_length"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH c AS (SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS nb
                 FROM documents),
      w AS (SELECT doc_id, nb,
              coalesce(sum(nb) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cp
            FROM c)
      SELECT doc_id, CAST(cp // 16384 AS BIGINT) AS shard,
             CAST(row_number() OVER (PARTITION BY cp // 16384
               ORDER BY doc_id) - 1 AS BIGINT) AS record_idx,
             nb AS content_length
      FROM w ORDER BY doc_id""")),

    // Revisit detection — archive-level exact dedup at ingest: a
    // second fetch batch (every doc_id % 5 = 0 page, identical
    // content, files 8-15) re-lands every fifth page; the
    // digest-grouped min-extent election (map-side-combinable packed
    // min, never a window) marks later copies as revisits of the
    // first-stored extent. Identical content under DIFFERENT URIs
    // collapses too — digest is identity, the URI is provenance —
    // which the oracle reproduces by grouping on DuckDB's own sha256.
    ("p173_cdx_revisit", (s, d) => {
      val docs = Tables.documents(s, d)
      val warcs = warcFixtureFrom(docs).unionByName(
        warcFixtureFrom(docs.filter(col("doc_id") % 5 === 0), fileBase = 8L))
      val cdx = graft.sources.Warc.cdxIndex(
        graft.sources.Warc.parseWarc(warcs, col("file_id"), col("payload")))
      graft.sources.Warc.cdxRevisits(cdx)
        .select(fixtureDocId.as("doc_id"),
          col("file_id"), col("offset"), col("is_revisit"),
          col("orig_file"), col("orig_offset"))
        .orderBy(col("file_id"), col("offset"))
    }, Some(warcFixtureOracleSqlFrom(
      """SELECT doc_id, text, CAST(0 AS BIGINT) AS fno FROM documents
         UNION ALL
         SELECT doc_id, text, CAST(1 AS BIGINT) AS fno FROM documents
         WHERE doc_id % 5 = 0""", """
      , cdx AS (
        SELECT doc_id, file_id, "offset", sha256(body) AS digest
        FROM ext WHERE target_uri IS NOT NULL),
      orig AS (
        SELECT digest,
               min(file_id * 1000000000000 + "offset") AS packed
        FROM cdx GROUP BY 1)
      SELECT c.doc_id, c.file_id, c."offset",
             (c.file_id * 1000000000000 + c."offset") <> o.packed
               AS is_revisit,
             CAST(o.packed // 1000000000000 AS BIGINT) AS orig_file,
             CAST(o.packed % 1000000000000 AS BIGINT) AS orig_offset
      FROM cdx c JOIN orig o USING (digest)
      ORDER BY c.file_id, c."offset""""))),

    // The two-level serve path — what a lookup against a 100 TB
    // archive actually does: sorted CDX shards on disk (range
    // partitioned, shard=<id> directories), a config-sized cluster
    // index of first keys routes each query key to ONE shard via a
    // scan-stage array HOF (no join, no shuffle), the lookup batch's
    // shard ids prune the shard scan to those directories (static
    // partition pruning — a lookup reads its shards, never the whole
    // index), and the hits' extents drive ranged fetches. The oracle
    // is the panel's documents rows verbatim: the entire two-level
    // machinery must be invisible to what comes back.
    ("p174_cdx_pruned_serve", (s, d) => {
      val docs = Tables.documents(s, d)
      val warcs = warcFixtureFrom(docs)
      val cdx = graft.sources.Warc.cdxIndex(
        graft.sources.Warc.parseWarc(warcs, col("file_id"), col("payload")))
      val dir = graft.sources.Sinks.tempArtifactDir("cdx_shards")
      graft.sources.Warc.writeCdxShards(cdx, dir, numShards = 8)
      val panel = docs.filter(col("doc_id") % 97 === 0)
        .select(concat(lit("HTTPS://WWW.SRC"),
          (col("doc_id") % 20).cast("string"), lit(".COM:443/p/"),
          col("doc_id").cast("string"), lit("?utm_source=x#frag")).as("url"))
        .select(graft.functions.SourceFamily.surtKey(col("url")).as("surt_key"))
      val hits = graft.sources.Warc.serveCdx(
        graft.sources.Warc.readCdxShards(s, dir, cdx.schema), panel)
      graft.sources.Warc.fetchRecords(warcs, col("file_id"), col("payload"),
          hits.select(col("file_id"), col("record_idx"), col("offset"),
            col("record_bytes")))
        .select(fixtureDocId.as("doc_id"), col("body"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, text AS body
      FROM documents WHERE doc_id % 97 = 0 ORDER BY doc_id""")),

    // WET derivation — Common Crawl's extracted-text sibling format,
    // produced here the way the real pipeline produces it: response
    // records parse out of the archive, the extract chain (p130's
    // htmlExtract) strips each page map-side, and the results WRITE
    // BACK as conversion records whose Content-Length reframes the
    // extracted (multi-byte) text exactly; the gate reads off a FULL
    // re-parse of the written WET files. Oracle: p168's generative
    // extract expectation plus its independently-computed byte length
    // — write→parse must be invisible to both.
    ("p175_wet_write", (s, d) => {
      val warcs = warcFixtureFrom(Tables.documents(s, d)
          .select(col("doc_id"), htmlFixtureText.as("text")),
        recordType = "response")
      val resp = graft.sources.Warc.parseWarc(warcs,
          col("file_id"), col("payload"))
        .filter(col("warc_type") === "response")
      val wet = graft.sources.Warc.writeWarc(
        resp.select(col("file_id"), col("record_idx"),
          lit("conversion").as("t"), col("target_uri"),
          TextFunctions.htmlExtract(col("body")).as("b")),
        col("file_id"), col("record_idx"), col("t"), col("target_uri"),
        col("b"))
      graft.sources.Warc.parseWarc(wet, col("file_id"), col("payload"))
        .select(fixtureDocId.as("doc_id"),
          col("warc_type"), col("content_length"), col("body"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH x AS (
        SELECT doc_id,
               'Doc ' || doc_id || ' ' || text ||
                 ' Compare A & B <quoted> it''s fine more' AS body
        FROM documents)
      SELECT doc_id, 'conversion' AS warc_type,
             CAST(octet_length(encode(body)) AS BIGINT) AS content_length,
             body
      FROM x ORDER BY doc_id""")),

    // Common Crawl's ACTUAL archive layout — each record its own gzip
    // MEMBER, members concatenated — parsed by the member walk that
    // reports extents in the COMPRESSED domain (the offsets a public
    // CDX really stores, because a ranged GET must name compressed
    // bytes). Compressed sizes are deflate facts no oracle can
    // recompute, so the gate here is the record CONTENT off the
    // member walk (generative, incl. the capture date); SourcesSpec
    // pins the extent arithmetic itself (members tile the file,
    // slice ∘ inflate ∘ parse is identity).
    ("p176_warc_gz_members", (s, d) => {
      val warcs = warcFixtureFrom(Tables.documents(s, d), gzMembers = true)
      graft.sources.Warc.parseWarcMembers(warcs, col("file_id"),
          col("payload"))
        .filter(col("warc_type") === "conversion")
        .select(fixtureDocId.as("doc_id"),
          col("warc_type"), col("content_length"), col("body"),
          col("warc_date"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, 'conversion' AS warc_type,
             CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
             text AS body,
             strftime(epoch_ms((1767225600 + doc_id) * 1000),
               '%Y-%m-%dT%H:%M:%SZ') AS warc_date
      FROM documents ORDER BY doc_id""")),

    // The compressed-domain ranged fetch over that layout: the
    // panel's member extents slice RAW gz bytes and ONLY those
    // members inflate — the whole-file stream is never decompressed,
    // which is the entire point of the member-extent CDX at 100 TB.
    ("p177_gz_ranged_fetch", (s, d) => {
      val docs = Tables.documents(s, d)
      val warcs = warcFixtureFrom(docs, gzMembers = true)
      val cdx = graft.sources.Warc.cdxIndex(
        graft.sources.Warc.parseWarcMembers(warcs, col("file_id"),
          col("payload")))
      val panel = docs.filter(col("doc_id") % 97 === 0)
        .select(concat(lit("https://www.src"),
          (col("doc_id") % 20).cast("string"), lit(".com/p/"),
          col("doc_id").cast("string")).as("url"))
        .select(graft.functions.SourceFamily.surtKey(col("url"))
          .as("surt_key"))
      val hits = panel.join(cdx, Seq("surt_key"))
      graft.sources.Warc.fetchMemberRecords(warcs, col("file_id"),
          col("payload"),
          hits.select(col("file_id"), col("record_idx"), col("offset"),
            col("record_bytes")))
        .select(fixtureDocId.as("doc_id"),
          col("content_length"), col("body"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
             text AS body
      FROM documents WHERE doc_id % 97 = 0 ORDER BY doc_id""")),

    // Binary payloads ride the archive unharmed — the reason the
    // container layer has a BINARY walk: PNG image records write into
    // WARC files (writeWarcBin: text headers, verbatim body bytes)
    // and parse back out (parseWarcBinary) to decode to the SAME
    // stats p11 derives from the pixel formula. A UTF-8 body round
    // trip would corrupt every non-UTF-8 byte sequence in the PNG
    // stream — exactly the corruption this oracle would catch.
    // Provenance recovered from the URI, never row order.
    ("p178_warc_images", Twinned { (s, d, t) =>
      import graft.multimodal.ImageCodec
      val imgs = ImageCodec.SyntheticImages.pngFixture(
        Tables.documents(s, d), col("doc_id"))
      val warcs = graft.sources.Warc.writeWarcBin(imgs,
        col("media_id") % 8, col("media_id"), lit("resource"),
        concat(lit("https://www.src"), (col("media_id") % 20).cast("string"),
          lit(".com/img/"), col("media_id").cast("string")),
        col("payload"))
      val recs = graft.sources.Warc.parseWarcBinary(t.in(warcs),
        col("file_id"), col("payload"))
      t.cut(ImageCodec.decodeMeta(recs,
          regexp_extract(col("target_uri"), "/img/([0-9]+)$", 1)
            .cast("long"),
          col("body")))
        .orderBy(col("media_id"))
    }, Some(s"""
      WITH ${graft.multimodal.ImageCodec.SyntheticImages.oracleDims}
      SELECT doc_id AS media_id,
             CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             CAST(w * h AS BIGINT) AS n_pixels,
             CAST(list_sum(list_transform(generate_series(0, w * h - 1),
                    k -> (seed * 31 + k * 7) % 256)) AS BIGINT) AS pix_sum
      FROM dims ORDER BY media_id""")),

    // The HTTP message layer a REAL archive forces: a Common Crawl
    // response record's block is a full HTTP message, so the extract
    // chain fed raw blocks would prepend 'HTTP/1.1 200 OK...' to
    // every document. Fixture wraps each page in an honest response
    // (status line, Server/Content-Type/Content-Length headers, the
    // HTML as payload; every 31st doc a text/plain 404 instead);
    // Warc.splitHttp parses the head, resolves the charset from the
    // Content-Type parameter, and projects the text — the oracle is
    // p168's generative extract expectation, PROVING no header bytes
    // leak into any document, plus the status/mime/charset columns
    // from the same doc_id arithmetic.
    ("p179_http_split", Twinned { (s, d, t) =>
      val docs = Tables.documents(s, d)
      val isMiss = col("doc_id") % 31 === 0
      val body = when(isMiss,
        concat(lit("missing /p/"), col("doc_id").cast("string")))
        .otherwise(htmlFixtureText)
      val ct = when(isMiss, lit("text/plain; charset=utf-8"))
        .otherwise(lit("text/html; charset=utf-8"))
      val status = when(isMiss, lit("404 Not Found")).otherwise(lit("200 OK"))
      val msg = cast_bin(concat(
        lit("HTTP/1.1 "), status,
        lit("\r\nServer: graft/0.1\r\nContent-Type: "), ct,
        lit("\r\nContent-Length: "), octet_length(body).cast("string"),
        lit("\r\n\r\n"), body))
      val warcs = httpResponseWarcFrom(docs.select(col("doc_id"),
        msg.as("msg")))
      val recs = graft.sources.Warc.parseWarcBinary(t.in(warcs),
          col("file_id"), col("payload"))
        .filter(col("warc_type") === "response" &&
          col("content_type").startsWith("application/http"))
      t.cut(graft.sources.Warc.splitHttp(recs)
        .select(fixtureDocId.as("doc_id"),
          col("http_status"), col("mime_type"), col("charset"),
          when(col("http_status") === 200 &&
              col("mime_type") === "text/html",
            TextFunctions.htmlExtract(col("text")))
            .otherwise(col("text")).as("text_out")))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
             CAST(CASE WHEN doc_id % 31 = 0 THEN 404 ELSE 200 END
               AS BIGINT) AS http_status,
             CASE WHEN doc_id % 31 = 0 THEN 'text/plain'
                  ELSE 'text/html' END AS mime_type,
             'utf-8' AS charset,
             CASE WHEN doc_id % 31 = 0
                  THEN 'missing /p/' || CAST(doc_id AS VARCHAR)
                  ELSE 'Doc ' || doc_id || ' ' || text ||
                    ' Compare A & B <quoted> it''s fine more' END AS text_out
      FROM documents ORDER BY doc_id""")),

    // Transfer/content encodings as a real crawl stores them — the
    // fetched representation rides the WARC block VERBATIM, so the
    // split must undo `Transfer-Encoding: chunked` (hex-size framing)
    // and `Content-Encoding: gzip`/`deflate`/`zstd` (bounded
    // inflates; the deflate sniff accepts BOTH the zlib-wrapped form
    // RFC 9110 means and the raw RFC 1951 stream misbehaving servers
    // send; zstd rides the zstd-jni Spark itself ships) before any
    // text work. One fixture, six encodings by doc_id % 6 (identity
    // / gzip / chunked / deflate-zlib / deflate-raw / zstd), one
    // oracle: the decoded text equals the authored document
    // byte-for-byte whichever wire form it rode.
    ("p180_http_encodings", (s, d) => {
      val docs = Tables.documents(s, d)
      val v = col("doc_id") % 6
      val gz = graft.functions.GzipBytes(encode(col("text"), "UTF-8"))
      val defZ = graft.functions.DeflateBytes(encode(col("text"), "UTF-8"),
        raw = false)
      val defR = graft.functions.DeflateBytes(encode(col("text"), "UTF-8"),
        raw = true)
      val zst = graft.functions.ZstdBytes(encode(col("text"), "UTF-8"))
      val n = octet_length(col("text"))
      val lastChunk = floor((n - 1) / lit(100)).cast("int")
      val chunked = concat(
        array_join(transform(sequence(lit(0), lastChunk), i =>
          concat(lower(hex(least(lit(100), n - i * 100))), lit("\r\n"),
            col("text").substr(i * 100 + 1, lit(100)), lit("\r\n"))), ""),
        lit("0\r\n\r\n"))
      val head = (extra: Column, clen: Column) => concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8"),
        extra, lit("\r\nContent-Length: "), clen.cast("string"),
        lit("\r\n\r\n"))
      val msg = when(v === 0,
          cast_bin(concat(head(lit(""), n), col("text"))))
        .when(v === 1, concat(
          cast_bin(head(lit("\r\nContent-Encoding: gzip"),
            octet_length(gz))), gz))
        // deflate in BOTH wire forms: zlib-wrapped (what RFC 9110
        // means) and the raw stream misbehaving servers send — the
        // read-side sniff must decode both to the same oracle text
        .when(v === 3, concat(
          cast_bin(head(lit("\r\nContent-Encoding: deflate"),
            octet_length(defZ))), defZ))
        .when(v === 4, concat(
          cast_bin(head(lit("\r\nContent-Encoding: deflate"),
            octet_length(defR))), defR))
        .when(v === 5, concat(
          cast_bin(head(lit("\r\nContent-Encoding: zstd"),
            octet_length(zst))), zst))
        .otherwise(cast_bin(concat(
          head(lit("\r\nTransfer-Encoding: chunked"),
            octet_length(chunked)), chunked)))
      val warcs = httpResponseWarcFrom(docs.select(col("doc_id"),
        msg.as("msg")))
      graft.sources.Warc.splitHttp(
          graft.sources.Warc.parseWarcBinary(warcs, col("file_id"),
            col("payload")))
        .select(fixtureDocId.as("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    }, Some("SELECT doc_id, text FROM documents ORDER BY doc_id")),

    // The charset path — the fix for the web's actual byte reality:
    // an ISO-8859-1 page decoded as UTF-8 corrupts every accented
    // byte. Three declarations by doc_id % 3: a UTF-8 header param, an
    // ISO-8859-1 header param, and NO param with an HTML
    // `<meta charset="iso-8859-1">` the prescan must sniff. Every
    // body carries a non-ASCII suffix (café nº …) so a wrong decode
    // CANNOT hash-match; the oracle authors the expected text as
    // UTF-8 SQL literals — byte-domain encodings in, one clean
    // string column out.
    ("p181_http_charset", (s, d) => {
      val docs = Tables.documents(s, d)
      val v = col("doc_id") % 3
      val full = concat(col("text"), lit(" café nº "),
        col("doc_id").cast("string"))
      val html = concat(
        lit("<html><head><meta charset=\"iso-8859-1\"></head><body><p>"),
        full, lit("</p></body></html>"))
      val mkMsg = (ct: String, payload: Column) => concat(
        cast_bin(concat(lit("HTTP/1.1 200 OK\r\nContent-Type: "), lit(ct),
          lit("\r\nContent-Length: "), octet_length(payload).cast("string"),
          lit("\r\n\r\n"))), payload)
      val msg = when(v === 0,
          mkMsg("text/plain; charset=utf-8", encode(full, "UTF-8")))
        .when(v === 1,
          mkMsg("text/plain; charset=iso-8859-1",
            encode(full, "ISO-8859-1")))
        .otherwise(mkMsg("text/html", encode(html, "ISO-8859-1")))
      val warcs = httpResponseWarcFrom(docs.select(col("doc_id"),
        msg.as("msg")))
      graft.sources.Warc.splitHttp(
          graft.sources.Warc.parseWarcBinary(warcs, col("file_id"),
            col("payload")))
        .select(fixtureDocId.as("doc_id"), col("charset"), col("text"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH x AS (SELECT doc_id,
             text || ' café nº ' || CAST(doc_id AS VARCHAR) AS suffixed
           FROM documents)
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'utf-8'
                  ELSE 'iso-8859-1' END AS charset,
             CASE WHEN doc_id % 3 = 2
                  THEN '<html><head><meta charset="iso-8859-1"></head>' ||
                    '<body><p>' || suffixed || '</p></body></html>'
                  ELSE suffixed END AS text
      FROM x ORDER BY doc_id""")),

    // Record routing over a MIXED archive — what WARC Content-Type
    // exists for: a real crawl interleaves request, response,
    // metadata, and warcinfo records, and only `response` +
    // `application/http` blocks are extractable (a request block
    // starts 'GET ...', a metadata block is warc-fields — feeding
    // either to the HTTP split would be garbage). The fixture plants
    // decoy text in every non-response record; the oracle is p168's
    // exact expectation, so ONE leaked decoy row or byte fails the
    // gate.
    ("p182_warc_mixed_routing", (s, d) => {
      val docs = Tables.documents(s, d)
      val k = (col("doc_id") % 20).cast("string")
      val uri = concat(lit("https://www.src"), k, lit(".com/p/"),
        col("doc_id").cast("string"))
      val page = htmlFixtureText
      val respMsg = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8" +
          "\r\nContent-Length: "), octet_length(page).cast("string"),
        lit("\r\n\r\n"), page)
      val reqMsg = concat(lit("GET /p/"), col("doc_id").cast("string"),
        lit(" HTTP/1.1\r\nHost: www.src"), k,
        lit(".com\r\nUser-Agent: graft Doc decoy\r\n\r\n"))
      val metaMsg = concat(lit("fetchTimeMs: 7\r\nnote: Doc "),
        col("doc_id").cast("string"),
        lit(" decoy body that must not leak into extract"))
      val base = (i: Column, t: String, ct: String, b: Column,
                  tag: String) =>
        docs.select((col("doc_id") % 8).as("f"), i.as("i"), lit(t).as("t"),
          uri.as("u"), cast_bin(b).as("b"), lit(ct).as("ct"),
          concat(lit("<urn:graft:"), col("doc_id").cast("string"),
            lit(s":$tag>")).as("rid"))
      val recs =
        base(col("doc_id") * 3, "request",
            "application/http; msgtype=request", reqMsg, "q")
          .unionByName(base(col("doc_id") * 3 + 1, "response",
            "application/http; msgtype=response", respMsg, "r"))
          .unionByName(base(col("doc_id") * 3 + 2, "metadata",
            "application/warc-fields", metaMsg, "m"))
      val warcs = graft.sources.Warc.writeWarcBin(recs, col("f"), col("i"),
        col("t"), col("u"), col("b"), lit(null).cast("string"), col("ct"),
        col("rid"))
      val routed = graft.sources.Warc.parseWarcBinary(warcs,
          col("file_id"), col("payload"))
        .filter(col("warc_type") === "response" &&
          col("content_type").startsWith("application/http"))
      graft.sources.Warc.splitHttp(routed)
        .filter(col("http_status") === 200 &&
          col("mime_type") === "text/html")
        .select(fixtureDocId.as("doc_id"),
          TextFunctions.htmlTitle(col("text")).as("title"),
          TextFunctions.htmlExtract(col("text")).as("text"),
          size(TextFunctions.extractHrefs(col("text"))).cast("long")
            .as("n_links"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, 'Doc ' || doc_id AS title,
             'Doc ' || doc_id || ' ' || text ||
               ' Compare A & B <quoted> it''s fine more' AS text,
             CAST(5 AS BIGINT) AS n_links
      FROM documents ORDER BY doc_id""")),

    // CDX LSM lifecycle — the maintenance story that keeps a 100 TB
    // archive's index fresh WITHOUT re-sorting history: build the
    // two-level layout from batch 1 (every doc_id % 5 != 0 — which
    // excludes ALL of src0's pages, so batch 2's src0 keys sort BELOW
    // the cluster-index floor and prove the lowest shard's open
    // range); stream batch 2's index rows in as an append-only
    // segment log and compact them into the layout (only affected
    // shards rewrite — a per-shard local sort, never a global range
    // exchange); land batch 3 (identical re-fetches of every 10th
    // doc), derive extent tombstones from the REVISIT ledger, and
    // compact again — the duplicates leave the index as part of the
    // merge; then serve the p174 pruned lookup against the compacted
    // layout. Oracle: the panel's documents rows, EXACTLY once each —
    // one surviving revisit duplicate or one mis-routed below-floor
    // key breaks the row count or the hash.
    ("p183_cdx_compact", (s, d) => {
      import graft.sources.Warc
      val docs = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" page "),
          col("doc_id").cast("string")).as("text"))
      // the lifecycle consumes each fixture archive several times
      // (index build, segment cut, tombstone derivation, the fetch's
      // prune collect AND its join) — checkpoint the FILE-cardinality
      // frames (8 rows each; the "sub-corpus-cardinality only" rule)
      // so the per-file assembly aggregation runs once, not five times.
      // ONE checkpoint for all three fetch batches (disjoint file_id
      // ranges tell them apart): three eager checkpoints paid three
      // jobs' planning/commit latency to materialize 24 rows
      val wAll = warcFixtureFrom(docs.filter(col("doc_id") % 5 =!= 0))
        .unionByName(warcFixtureFrom(docs.filter(col("doc_id") % 5 === 0),
          fileBase = 8L))
        .unionByName(warcFixtureFrom(docs.filter(col("doc_id") % 10 === 0),
          fileBase = 16L))
        .localCheckpoint()
      val w1 = wAll.filter(col("file_id") < 8L)
      val w2 = wAll.filter(col("file_id") >= 8L && col("file_id") < 16L)
      val w3 = wAll.filter(col("file_id") >= 16L)
      def cdxOf(w: DataFrame) = Warc.cdxIndex(
        Warc.parseWarc(w, col("file_id"), col("payload")))
      val dir = graft.sources.Sinks.tempArtifactDir("cdx_lsm")
      Warc.writeCdxShards(cdxOf(w1), dir, numShards = 8)
      Warc.compactCdxShards(dir, cdxOf(w2))
      // delta-sized by the segment contract; consumed by the revisit
      // election AND the compaction — index the batch-3 parse once
      val seg3 = cdxOf(w3).localCheckpoint(eager = false)
      val tomb = Warc.cdxRevisits(
          s.read.parquet(dir).drop("shard").unionByName(seg3))
        .filter(col("is_revisit"))
        .select(col("file_id"), col("offset"))
      Warc.compactCdxShards(dir, seg3, tombstones = Some(tomb))
      val panel = docs.filter(col("doc_id") % 97 === 0)
        .select(concat(lit("https://www.src"),
          (col("doc_id") % 20).cast("string"), lit(".com/p/"),
          col("doc_id").cast("string")).as("url"))
        .select(graft.functions.SourceFamily.surtKey(col("url"))
          .as("surt_key"))
      // layout schema is fixed by the write contract: read it given,
      // not inferred (skips the per-open driver footer pass)
      val hits = Warc.serveCdx(Warc.readCdxShards(s, dir, seg3.schema), panel)
      Warc.fetchRecords(wAll, col("file_id"), col("payload"),
          hits.select(col("file_id"), col("record_idx"), col("offset"),
            col("record_bytes")))
        .select(fixtureDocId.as("doc_id"), col("body"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, text || ' page ' || CAST(doc_id AS VARCHAR) AS body
      FROM documents WHERE doc_id % 97 = 0 ORDER BY doc_id""")),

    // WET derivation through the REAL response path — p175 with the
    // HTTP layer in place: response blocks are full HTTP messages
    // (what a crawler actually stores), so the pipeline is parse →
    // route (response + application/http) → splitHttp (status 200,
    // text/html, charset decode) → extract → write back as
    // Content-Type: text/plain conversion records → FULL re-parse.
    // The oracle is p175's: the written WET must carry exactly the
    // authored clean text with exact byte reframing — if one HTTP
    // header byte survived the split, the content_length or the body
    // hash breaks.
    ("p184_wet_from_http", (s, d) => {
      val docs = Tables.documents(s, d)
      val page = htmlFixtureText
      val msg = cast_bin(concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8" +
          "\r\nContent-Length: "), octet_length(page).cast("string"),
        lit("\r\n\r\n"), page))
      val warcs = httpResponseWarcFrom(docs.select(col("doc_id"),
        msg.as("msg")))
      val resp = graft.sources.Warc.splitHttp(
          graft.sources.Warc.parseWarcBinary(warcs, col("file_id"),
              col("payload"))
            .filter(col("warc_type") === "response" &&
              col("content_type").startsWith("application/http")))
        .filter(col("http_status") === 200 &&
          col("mime_type") === "text/html")
      val wet = graft.sources.Warc.writeWarc(
        resp.select(col("file_id"), col("record_idx"),
          lit("conversion").as("t"), col("target_uri"),
          TextFunctions.htmlExtract(col("text")).as("b")),
        col("file_id"), col("record_idx"), col("t"), col("target_uri"),
        col("b"), contentType = lit("text/plain"))
      graft.sources.Warc.parseWarc(wet, col("file_id"), col("payload"))
        .select(fixtureDocId.as("doc_id"),
          col("warc_type"), col("content_type"), col("content_length"),
          col("body"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH x AS (
        SELECT doc_id,
               'Doc ' || doc_id || ' ' || text ||
                 ' Compare A & B <quoted> it''s fine more' AS body
        FROM documents)
      SELECT doc_id, 'conversion' AS warc_type,
             'text/plain' AS content_type,
             CAST(octet_length(encode(body)) AS BIGINT) AS content_length,
             body
      FROM x ORDER BY doc_id""")),

    // The LSM READ path between compactions: batch 1 lives in the
    // sorted shard layout, batch 2 is the un-compacted segment TAIL
    // (q136's append-only log, nothing merged yet) — and the lookup
    // must see BOTH, or freshness waits for the next maintenance
    // window. serveCdxWithTail probes the pruned shards exactly as
    // p174 does AND broadcast-probes the delta-sized tail; below-
    // floor panel keys (all of src0 lives in the tail) degrade to a
    // clamped shard probe instead of a refused lookup. Oracle: every
    // panel doc exactly once, whichever level its index row lives in.
    ("p185_cdx_tail_serve", (s, d) => {
      import graft.sources.Warc
      val docs = Tables.documents(s, d)
      val w1 = warcFixtureFrom(docs.filter(col("doc_id") % 5 =!= 0))
      val w2 = warcFixtureFrom(docs.filter(col("doc_id") % 5 === 0),
        fileBase = 8L)
      def cdxOf(w: DataFrame) = Warc.cdxIndex(
        Warc.parseWarc(w, col("file_id"), col("payload")))
      val dir = graft.sources.Sinks.tempArtifactDir("cdx_tail")
      val cdx1 = cdxOf(w1)
      Warc.writeCdxShards(cdx1, dir, numShards = 8)
      val panel = docs.filter(col("doc_id") % 97 === 0)
        .select(concat(lit("https://www.src"),
          (col("doc_id") % 20).cast("string"), lit(".com/p/"),
          col("doc_id").cast("string")).as("url"))
        .select(graft.functions.SourceFamily.surtKey(col("url"))
          .as("surt_key"))
      val hits = Warc.serveCdxWithTail(
        Warc.readCdxShards(s, dir, cdx1.schema), cdxOf(w2), panel)
      Warc.fetchRecords(w1.unionByName(w2), col("file_id"), col("payload"),
          hits.select(col("file_id"), col("record_idx"), col("offset"),
            col("record_bytes")))
        .select(fixtureDocId.as("doc_id"), col("body"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, text AS body
      FROM documents WHERE doc_id % 97 = 0 ORDER BY doc_id""")),

    // WAT derivation — Common Crawl's metadata sibling (WARC holds
    // the fetch, WET the text, WAT the per-record metadata JSON):
    // each response splits, its envelope projects to a JSON object
    // (url, status, mime, title, outlink count — the fields a link
    // researcher reads WITHOUT touching payload bytes), and the
    // objects write back as `metadata` records with Content-Type
    // application/json; the gate reads a FULL re-parse of the written
    // WAT files and the oracle reconstructs the exact JSON strings
    // from doc_id arithmetic — field order, quoting, and the
    // unquoted integers all pinned.
    ("p186_wat_metadata", Twinned { (s, d, t) =>
      val docs = Tables.documents(s, d)
      val page = htmlFixtureText
      val msg = cast_bin(concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8" +
          "\r\nContent-Length: "), octet_length(page).cast("string"),
        lit("\r\n\r\n"), page))
      val warcs = httpResponseWarcFrom(docs.select(col("doc_id"),
        msg.as("msg")))
      val split = graft.sources.Warc.splitHttp(
        graft.sources.Warc.parseWarcBinary(t.in(warcs), col("file_id"),
          col("payload")))
      val wat = graft.sources.Warc.writeWarc(
        t.cut(split.select(col("file_id"), col("record_idx"),
          lit("metadata").as("t"), col("target_uri"),
          to_json(struct(col("target_uri").as("url"),
            col("http_status").as("status"),
            col("mime_type").as("mime"),
            TextFunctions.htmlTitle(col("text")).as("title"),
            size(TextFunctions.extractHrefs(col("text"))).as("n_links")))
            .as("b"))),
        col("file_id"), col("record_idx"), col("t"), col("target_uri"),
        col("b"), contentType = lit("application/json"))
      graft.sources.Warc.parseWarc(wat, col("file_id"), col("payload"))
        .select(fixtureDocId.as("doc_id"),
          col("warc_type"), col("content_type"), col("body"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, 'metadata' AS warc_type,
             'application/json' AS content_type,
             '{"url":"https://www.src' || CAST(doc_id % 20 AS VARCHAR)
               || '.com/p/' || CAST(doc_id AS VARCHAR)
               || '","status":200,"mime":"text/html","title":"Doc '
               || CAST(doc_id AS VARCHAR) || '","n_links":5}' AS body
      FROM documents ORDER BY doc_id""")),

    // Redirect following through the index — the crawl-graph edge the
    // HTTP layer unlocks: 301 responses carry their target in the
    // Location header (the http_headers map's first consumer), the
    // target url is MESSY (case/:443/utm/fragment) so resolution must
    // run the same SURT canonicalization the index uses, and the hop
    // lands on the target's 200 record. Every 7th doc redirects to
    // doc_id + 1 (never itself a redirect — consecutive ids); the
    // oracle joins documents to documents, so one mis-canonicalized
    // Location or one header-map miss is a lost row.
    ("p187_redirect_follow", (s, d) => {
      val docs = Tables.documents(s, d)
      val isRedir = col("doc_id") % 7 === 0
      val loc = concat(lit("HTTPS://WWW.SRC"),
        ((col("doc_id") + 1) % 20).cast("string"), lit(".COM:443/p/"),
        (col("doc_id") + 1).cast("string"), lit("?utm_source=r#frag"))
      val msg = when(isRedir, cast_bin(concat(
          lit("HTTP/1.1 301 Moved Permanently\r\nLocation: "), loc,
          lit("\r\nContent-Type: text/plain; charset=utf-8" +
            "\r\nContent-Length: 0\r\n\r\n"))))
        .otherwise(cast_bin(concat(
          lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain; " +
            "charset=utf-8\r\nContent-Length: "),
          octet_length(col("text")).cast("string"), lit("\r\n\r\n"),
          col("text"))))
      val warcs = httpResponseWarcFrom(docs.select(col("doc_id"),
        msg.as("msg")))
      val split = graft.sources.Warc.splitHttp(
        graft.sources.Warc.parseWarcBinary(warcs, col("file_id"),
          col("payload")))
      val hops = split.filter(col("http_status") === 301)
        .select(fixtureDocId.as("doc_id"),
          graft.functions.SourceFamily.surtKey(
            element_at(col("http_headers"), "location")).as("surt_key"))
      val targets = split.filter(col("http_status") === 200)
        .select(graft.functions.SourceFamily.surtKey(col("target_uri"))
            .as("surt_key"), col("text").as("body"))
      hops.join(targets, Seq("surt_key"))
        .select(col("doc_id"), col("body"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT d.doc_id, t.text AS body
      FROM documents d JOIN documents t ON t.doc_id = d.doc_id + 1
      WHERE d.doc_id % 7 = 0 ORDER BY d.doc_id""")),

    // Magic-byte MIME routing — real archives LIE in Content-Type
    // (misconfigured servers label PNGs text/html and gzip blobs
    // text/plain all over a real crawl), so extraction routes on the
    // payload's FIRST BYTES ([[graft.functions.MimeSniff]], the
    // WHATWG table), never on the declared header alone. The fixture
    // plants six payload kinds — real HTML, prefixed plain text, REAL
    // PNG bytes (the SyntheticImages codec), real gzip members, a
    // %PDF- document, and an HTML page hidden behind
    // application/octet-stream — with the declared header WRONG for
    // four of the six; the extract gate fires on the sniffed type, so
    // the octet-stream-declared page still yields its title and the
    // text/html-declared PNG yields none. Oracle: kind arithmetic —
    // one header-trusting route and the titles desync.
    ("p188_mime_route", (s, d) => {
      val docs = Tables.documents(s, d)
      val kind = col("doc_id") % 6
      val pngs = graft.multimodal.ImageCodec.SyntheticImages.pngFixture(
          docs.filter(kind === 2), col("doc_id"))
        .select(col("media_id").as("doc_id"), col("payload").as("png"))
      val base = docs.join(pngs, Seq("doc_id"), "left")
      val payload = when(kind === 0, cast_bin(htmlFixtureText))
        .when(kind === 1, cast_bin(concat(lit("plain "), col("text"))))
        .when(kind === 2, col("png"))
        .when(kind === 3, graft.functions.GzipBytes(cast_bin(col("text"))))
        .when(kind === 4, cast_bin(concat(lit("%PDF-1.4\n"), col("text"))))
        .otherwise(cast_bin(concat(lit("\n  "), htmlFixtureText)))
      val declared = when(kind === 3, lit("text/plain"))
        .when(kind === 4, lit("application/pdf"))
        .when(kind === 5, lit("application/octet-stream"))
        .otherwise(lit("text/html"))
      val msg = concat(cast_bin(concat(
          lit("HTTP/1.1 200 OK\r\nContent-Type: "), declared,
          lit("\r\nContent-Length: "),
          octet_length(payload).cast("string"), lit("\r\n\r\n"))),
        payload)
      val warcs = httpResponseWarcFrom(base.select(col("doc_id"),
        msg.as("msg")))
      val split = graft.sources.Warc.splitHttp(
        graft.sources.Warc.parseWarcBinary(warcs, col("file_id"),
          col("payload")))
      split.withColumn("sniffed_mime",
          graft.functions.MimeSniff(col("payload")))
        .select(fixtureDocId.as("doc_id"),
          col("mime_type").as("declared_mime"), col("sniffed_mime"),
          when(col("sniffed_mime") === "text/html",
            TextFunctions.htmlTitle(coalesce(col("text"),
              decode(col("payload"), "UTF-8")))).as("title"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
        CASE CAST(doc_id % 6 AS INTEGER)
          WHEN 3 THEN 'text/plain' WHEN 4 THEN 'application/pdf'
          WHEN 5 THEN 'application/octet-stream'
          ELSE 'text/html' END AS declared_mime,
        CASE CAST(doc_id % 6 AS INTEGER)
          WHEN 0 THEN 'text/html' WHEN 1 THEN 'text/plain'
          WHEN 2 THEN 'image/png' WHEN 3 THEN 'application/gzip'
          WHEN 4 THEN 'application/pdf' ELSE 'text/html' END AS sniffed_mime,
        CASE WHEN doc_id % 6 IN (0, 5)
          THEN 'Doc ' || CAST(doc_id AS VARCHAR) END AS title
      FROM documents ORDER BY doc_id""")),

    // Conditional recrawl — the revalidation economics every
    // production crawler runs on top of the HTTP layer: batch 1
    // stores every page with an ETag validator; the scheduler derives
    // the conditional-request plan from the STORED headers
    // ([[graft.graph.CrawlOps.conditionalRequests]] — latest record
    // per URL, If-None-Match from the header map); the server answers
    // 304 Not Modified (no body bytes — the entire point at 100 TB of
    // recrawl traffic) exactly when the plan's validator matches its
    // current state (every 3rd doc unchanged), 200 with the new
    // representation otherwise; and the current corpus view merges
    // 304s back to their STORED copies. A plan that sends the wrong
    // validator flips a fetch kind; a merge that loses the stored
    // pointer loses the body — either breaks the oracle.
    ("p189_conditional_recrawl", (s, d) => {
      val docs = Tables.documents(s, d)
      val uriOf = concat(lit("https://www.src"),
        (col("doc_id") % 20).cast("string"), lit(".com/p/"),
        col("doc_id").cast("string"))
      val et1 = concat(lit("\"v"), col("doc_id").cast("string"), lit("\""))
      val msg1 = cast_bin(concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8" +
          "\r\nETag: "), et1, lit("\r\nContent-Length: "),
        octet_length(col("text")).cast("string"), lit("\r\n\r\n"),
        col("text")))
      // file-cardinality frames consumed twice (plan + stored merge):
      // the p183 checkpoint rule
      val warc1 = httpResponseWarcFrom(docs.select(col("doc_id"),
        msg1.as("msg"))).localCheckpoint()
      def splitOf(w: DataFrame) = graft.sources.Warc.splitHttp(
        graft.sources.Warc.parseWarcBinary(w, col("file_id"),
          col("payload")))
      val split1 = splitOf(warc1)
      val plan = graft.graph.CrawlOps.conditionalRequests(split1)
      // server truth: every 3rd doc unchanged (same ETag), the rest
      // re-rendered with a bumped validator
      val unchanged = col("doc_id") % 3 === 0
      val server = docs.select(col("doc_id"), uriOf.as("target_uri"),
        when(unchanged, et1).otherwise(concat(lit("\"v"),
          col("doc_id").cast("string"), lit(".2\""))).as("cur_etag"),
        when(unchanged, col("text"))
          .otherwise(concat(col("text"), lit(" v2"))).as("cur_text"))
      val fetched = plan.join(server, Seq("target_uri"))
      val msg2 = when(col("if_none_match") === col("cur_etag"), cast_bin(
          concat(lit("HTTP/1.1 304 Not Modified\r\nETag: "),
            col("cur_etag"), lit("\r\nContent-Length: 0\r\n\r\n"))))
        .otherwise(cast_bin(concat(
          lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain; " +
            "charset=utf-8\r\nETag: "), col("cur_etag"),
          lit("\r\nContent-Length: "),
          octet_length(col("cur_text")).cast("string"), lit("\r\n\r\n"),
          col("cur_text"))))
      val warc2 = httpResponseWarcFrom(
        fetched.select(col("doc_id"), msg2.as("msg")), fileBase = 8L)
      val split2 = splitOf(warc2)
      val fresh = split2.filter(col("http_status") === 200)
        .select(col("target_uri"), lit("fresh").as("fetch"),
          col("text").as("body"))
      val stored = split2.filter(col("http_status") === 304)
        .select(col("target_uri"), lit("stored").as("fetch"))
        .join(split1.select(col("target_uri"), col("text").as("body")),
          Seq("target_uri"))
      fresh.unionByName(stored)
        .join(plan.select(col("target_uri"),
          col("if_none_match").as("sent_if_none_match")),
          Seq("target_uri"))
        .select(fixtureDocId.as("doc_id"),
          col("fetch"), col("body"), col("sent_if_none_match"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 0 THEN 'stored' ELSE 'fresh' END AS fetch,
        CASE WHEN doc_id % 3 = 0 THEN text ELSE text || ' v2' END AS body,
        '"v' || CAST(doc_id AS VARCHAR) || '"' AS sent_if_none_match
      FROM documents ORDER BY doc_id""")),

    // Soft-404 detection — the 200-status error page the HTTP layer
    // cannot catch (misconfigured servers answer "Page Not Found"
    // with status 200): integer phrase/thinness scoring
    // ([[graft.graph.CrawlOps.soft404Score]] — title markers weigh 2,
    // body markers 1, a sub-20-token body 1, flag at >= 3). Every
    // 11th doc's page is a planted error page; the oracle recomputes
    // the SCORE formula over the same reconstructed title/body text
    // (LIKE chain + the token-count dual), so ordinary documents that
    // happen to mention a marker phrase or run short stay agreed on
    // both engines — formula duality, not fixture arithmetic alone.
    ("p190_soft404", (s, d) => {
      val docs = Tables.documents(s, d)
      val isErr = col("doc_id") % 11 === 0
      val page = when(isErr,
          lit("<html><head><title>404 Page Not Found</title></head>" +
            "<body><p>The page you requested does not exist.</p>" +
            "</body></html>"))
        .otherwise(htmlFixtureText)
      docs.select(col("doc_id"),
          TextFunctions.htmlTitle(page).as("title"),
          TextFunctions.htmlExtract(page).as("body"))
        .select(col("doc_id"),
          graft.graph.CrawlOps.soft404Score(col("title"), col("body"))
            .as("score"))
        .select(col("doc_id"), col("score"),
          (col("score") >= graft.graph.CrawlOps.Soft404Threshold)
            .as("soft404"))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH pages AS (
        SELECT doc_id,
          CASE WHEN doc_id % 11 = 0 THEN '404 Page Not Found'
               ELSE 'Doc ' || CAST(doc_id AS VARCHAR) END AS title,
          CASE WHEN doc_id % 11 = 0
               THEN 'The page you requested does not exist.'
               ELSE 'Doc ' || CAST(doc_id AS VARCHAR) || ' ' || text
                 || ' Compare A & B <quoted> it''s fine more' END AS body
        FROM documents),
      scored AS (
        SELECT doc_id,
          CAST(CASE WHEN lower(title) LIKE '%not found%'
                 OR lower(title) LIKE '%does not exist%'
                 OR lower(title) LIKE '%no longer available%'
                 OR lower(title) LIKE '%error 404%' THEN 2 ELSE 0 END
            + CASE WHEN lower(body) LIKE '%not found%'
                 OR lower(body) LIKE '%does not exist%'
                 OR lower(body) LIKE '%no longer available%'
                 OR lower(body) LIKE '%error 404%' THEN 1 ELSE 0 END
            + CASE WHEN len(${sqlToks("body")}) < 20
                 THEN 1 ELSE 0 END AS BIGINT) AS score
        FROM pages)
      SELECT doc_id, score, score >= 3 AS soft404
      FROM scored ORDER BY doc_id""")),

    // Unigram-LM (SentencePiece-family) SERVING — Viterbi over the
    // segmentation lattice with integer micro-nat scores
    // ([[graft.functions.UnigramEncode]]): the fixture vocabulary
    // plants TRAP pieces ('ba', 'aba') that a greedy-longest or
    // buggy DP would take, on words ab^k a^m whose unique optimum is
    // k×'ab' + m×'a' (every alternative is strictly worse under the
    // planted scores — 12 distinct words, exhaustively covered at any
    // SF). n_pieces and score_micro derive from the SEGMENTATION
    // itself (explode + inner join to the score table — a piece
    // outside the vocabulary loses rows), never from the kernel's
    // internal DP value; the oracle reconstructs all three columns
    // from the k/m arithmetic. Vocabulary constants are shared
    // verbatim with the oracle (the ByteAlphabet rule).
    ("p191_unigram_viterbi",
      (s, d) => unigramViterbiBody(s, d, unigramTrapVocab),
      Some(unigramViterbiOracle)),

    // Unigram-LM TRAINING's E-step, oracle-gated in closed form: on
    // words (ab)^k with vocabulary {a, b, ab} every segmentation
    // chooses [ab] or [a,b] independently per block (no piece can
    // cross a block boundary), so the lattice posterior is exactly
    //   P(block = [ab]) = p_ab / (p_ab + p_a·p_b)
    // and the expected counts are k·q for 'ab' and k·(1-q) for each
    // single — the forward–backward kernel
    // ([[graft.text.UnigramLm.docExpectedCounts]]) must reproduce the
    // analytic lattice sum to 1e-6, which is what makes the full EM
    // trainer's E-step a gated component, not a trusted one.
    ("p192_unigram_estep", (s, d) => {
      val docs = Tables.documents(s, d)
      val probs = Seq(("a", 0.2), ("b", 0.25), ("ab", 0.4))
      val k = (col("doc_id") % 4 + 1).cast("int")
      val words = docs.select(col("doc_id"),
        repeat(lit("ab"), k).as("w"))
      graft.text.UnigramLm.docExpectedCounts(words, col("doc_id"),
          col("w"), probs)
        .select(col("id").as("doc_id"), col("piece"),
          round(col("e_count"), 6).as("e_count"))
        .orderBy(col("doc_id"), col("piece"))
    }, Some("""
      WITH kk AS (SELECT doc_id, CAST(doc_id % 4 + 1 AS DOUBLE) AS k
                  FROM documents),
      p(piece, per_block) AS (VALUES
        ('a', (0.2 * 0.25) / (0.4 + 0.2 * 0.25)),
        ('ab', 0.4 / (0.4 + 0.2 * 0.25)),
        ('b', (0.2 * 0.25) / (0.4 + 0.2 * 0.25)))
      SELECT doc_id, piece, round(k * per_block, 6) AS e_count
      FROM kk CROSS JOIN p ORDER BY doc_id, piece""")),

    // Full unigram-LM training on the corpus (seed → EM → prune,
    // [[graft.text.UnigramLm.unigramTrain]]) then serving with the
    // trained vocabulary: the oracle-gated property is TOTAL COVERAGE
    // — every document's segmentation reassembles to exactly its
    // token stream (replace the separators, compare to the
    // whitespace-joined tokens), so a piece boundary that drops,
    // duplicates, or reorders one character anywhere in the corpus is
    // a red row. The EM internals (likelihood monotonicity, prune
    // semantics, vocab bounds) are spec-pinned; the E-step itself is
    // p192's closed-form gate.
    ("p193_unigram_train", (s, d) => {
      val docs = Tables.documents(s, d)
      val (vocab, _) = graft.text.UnigramLm.unigramTrain(docs, col("text"),
        vocabTarget = 400, seedMaxLen = 4, seedSize = 1500, iters = 2)
      val pieces = graft.text.UnigramLm.toMicro(vocab)
      docs.select(col("doc_id"),
          graft.functions.UnigramEncode(col("text"), pieces).as("seg"),
          TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          (regexp_replace(col("seg"), "\\|", "") ===
            array_join(col("toks"), "")).as("ok"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, CAST(1 AS BOOLEAN) AS ok
      FROM documents ORDER BY doc_id""")),

    // Denylist / phrase-watchlist scan — Aho–Corasick multi-pattern
    // counting ([[graft.functions.MultiMatchCounts]]): ONE text pass
    // for the whole phrase list where regexp-alternation and
    // per-phrase replace are O(phrases × text) per row — at 100 TB
    // with a 10k-phrase denylist that factor IS the job. The phrase
    // list draws from the corpus vocabulary (real nonzero counts,
    // including two-word phrases the tokenizer would split) and every
    // phrase is border-free (no proper prefix = suffix), so the
    // all-occurrences automaton count equals the non-overlapping
    // count the oracle recomputes with replace() arithmetic — formula
    // duality across two completely different algorithms.
    ("p194_denylist_scan", (s, d) => {
      val phrases = Seq("big table", "customer", "hash join", "merge",
        "scan", "slow fast", "spark")
      val docs = Tables.documents(s, d)
      docs.select(col("doc_id"),
          graft.functions.MultiMatchCounts(col("text"), phrases).as("cnts"))
        .select(col("doc_id"),
          posexplode(col("cnts")).as(Seq("__p", "n")))
        .select(col("doc_id"),
          element_at(array(phrases.map(lit): _*), col("__p") + 1)
            .as("phrase"),
          col("n"))
        .orderBy(col("doc_id"), col("phrase"))
    }, Some("""
      SELECT doc_id, phrase,
        CAST((length(text) - length(replace(text, phrase, '')))
          // length(phrase) AS BIGINT) AS n
      FROM documents CROSS JOIN (VALUES ('big table'), ('customer'),
        ('hash join'), ('merge'), ('scan'), ('slow fast'), ('spark'))
        AS p(phrase)
      ORDER BY doc_id, phrase""")),

    // The unigram MODEL lifecycle — train rarely, encode forever
    // (p77's story for the lattice tokenizer): the (piece,
    // score_micro) artifact persists, a separate serving job loads it
    // back and segments. Shares p191's FULLY generative oracle, so
    // one score corrupted in the save→load hop flips a segmentation
    // and breaks the hash — artifact fidelity gated end to end, never
    // against the in-memory table that wrote it.
    ("p195_unigram_model_serve", (s, d) => {
      val dir = graft.sources.Sinks.tempArtifactDir("unigram_model")
      graft.text.UnigramLm.saveUnigramModel(s, unigramTrapVocab, dir)
      unigramViterbiBody(s, d, graft.text.UnigramLm.loadUnigramModel(s, dir))
    }, Some(unigramViterbiOracle)),

    // WordPiece SERVING — greedy longest-match-first with `##`
    // continuations ([[graft.functions.WordPieceEncode]], the
    // tokenizer family's fourth member). The fixture pins BOTH
    // defining behaviors: on (ab)^k a^m the greedy walk must emit
    // ab ##ab^{k-1} ##a^m (taking '##ab' where a finer '##a','##b'
    // split exists — longest-match, not finest), and on 'abc' greedy
    // dead-ends ('ab' consumes, no '##c' exists) so the WHOLE word is
    // one [UNK] even though the segmentation a ##bc EXISTS — the
    // all-or-nothing rule that distinguishes greedy WordPiece from
    // the unigram Viterbi lattice, which would find it. n_pieces
    // derives from the segmentation itself; the oracle reconstructs
    // everything from k/m arithmetic. Vocabulary constants shared
    // verbatim with the oracle (the ByteAlphabet rule).
    ("p196_wordpiece_encode", Twinned { (s, d, t) =>
      t.cut(wordPieceSegCols(
          t.in(wordPieceFixtureWords(Tables.documents(s, d))), wordPieceTrapVocab))
        .orderBy(col("doc_id"))
    }, Some(wordPieceEncodeOracle)),

    // WordPiece TRAINING's merge criterion, oracle-gated in closed
    // form: the first-iteration score table over the seed state —
    // score(l, r) = count(l,r) / (count(l)·count(r)), the
    // LM-likelihood surrogate that is WordPiece's defining contrast
    // with BPE's raw pair frequency. Seed symbols (first code point
    // bare, later ones ##-prefixed), pair counts, symbol counts, and
    // the 9-decimal score all recompute independently in SQL off the
    // same (word, freq) reduction — formula duality for the election
    // rule itself; WordPieceSpec pins a corpus where likelihood and
    // frequency elect DIFFERENT merges.
    ("p197_wordpiece_scores", (s, d) => {
      graft.text.WordPiece.pairScores(Tables.documents(s, d), col("text"))
        .orderBy(col("pair_left"), col("pair_right"))
    }, Some(s"""
      WITH words AS (
        SELECT w AS word, count(*) AS freq
        FROM (SELECT unnest(${sqlToks("text")}) AS w FROM documents)
        GROUP BY 1),
      symcnt AS (
        SELECT CASE WHEN i = 1 THEN substr(word, 1, 1)
                    ELSE '##' || substr(word, i, 1) END AS sym,
               sum(freq) AS cnt
        FROM (SELECT word, freq,
                unnest(generate_series(1, length(word))) AS i
              FROM words)
        GROUP BY 1),
      pairs AS (
        SELECT CASE WHEN i = 1 THEN substr(word, 1, 1)
                    ELSE '##' || substr(word, i, 1) END AS pair_left,
               '##' || substr(word, i + 1, 1) AS pair_right,
               sum(freq) AS pair_cnt
        FROM (SELECT word, freq,
                unnest(generate_series(1, length(word) - 1)) AS i
              FROM words WHERE length(word) >= 2)
        GROUP BY 1, 2)
      SELECT p.pair_left, p.pair_right,
             CAST(p.pair_cnt AS BIGINT) AS pair_cnt,
             CAST(l.cnt AS BIGINT) AS cnt_left,
             CAST(r.cnt AS BIGINT) AS cnt_right,
             round(CAST(p.pair_cnt AS DOUBLE) / (l.cnt * r.cnt), 9)
               AS score_r9
      FROM pairs p
      JOIN symcnt l ON l.sym = p.pair_left
      JOIN symcnt r ON r.sym = p.pair_right
      ORDER BY pair_left, pair_right""")),

    // Full WordPiece training on the corpus (likelihood merges,
    // [[graft.text.WordPiece.wordPieceTrain]]) then greedy serving
    // with the trained vocabulary: the oracle-gated property is TOTAL
    // COVERAGE — every document's segmentation reassembles to exactly
    // its token stream (strip each piece boundary's separator plus
    // the injected ## prefix, compare to the whitespace-joined
    // tokens; the corpus is #-free, so the strip is unambiguous), so
    // a greedy dead-end ([UNK] anywhere on training data — the seed
    // alphabet makes that impossible by construction) or a merge that
    // corrupts one boundary is a red row. The election rule is p197's
    // closed-form gate; merge-state internals are WordPieceSpec's.
    ("p198_wordpiece_train", (s, d) => {
      val docs = Tables.documents(s, d)
      val (_, vocab) = graft.text.WordPiece.wordPieceTrainAndVocab(
        docs, col("text"), numMerges = 150)
      wordPieceRoundTrip(docs, vocab)
    }, Some(wordPieceRoundTripOracle)),

    // The WordPiece MODEL lifecycle — train rarely, encode forever
    // (p195's story for the greedy tokenizer): the piece-vocabulary
    // artifact persists, a separate serving job loads it back and
    // segments. Shares p196's fully generative oracle, so one piece
    // dropped or corrupted in the save→load hop flips a greedy match
    // (or turns a word [UNK]) and breaks the hash — artifact fidelity
    // gated end to end.
    ("p199_wordpiece_model_serve", (s, d) => {
      val dir = graft.sources.Sinks.tempArtifactDir("wordpiece_model")
      graft.text.WordPiece.saveWordPieceModel(s, wordPieceTrapVocab, dir)
      wordPieceSegCols(wordPieceFixtureWords(Tables.documents(s, d)),
          graft.text.WordPiece.loadWordPieceModel(s, dir))
        .orderBy(col("doc_id"))
    }, Some(wordPieceEncodeOracle)),

    // Interpolated Kneser–Ney bigram model rendered AS DATA — the
    // smoothing a production perplexity filter ships (CCNet-family),
    // gated term by term: bigram count, context total, distinct
    // continuations per context, per-word continuation count, and the
    // 9-decimal interpolated probability
    //   max(c12−D,0)/ctx + D·N1+(w1·)/ctx · N1+(·w2)/N1+(··)
    // all recomputed independently in SQL off the same token stream.
    // The continuation counts (bigram TYPES, not tokens) are the
    // KN-defining terms — an implementation that counted tokens would
    // agree on c12/ctx and red-row on n1p/p_r9. CorpusOpsSpec pins
    // that per-context probabilities sum to 1 over the vocabulary.
    ("p200_kn_bigram_probs", (s, d) => {
      graft.text.CorpusOps.knBigramProbs(graft.text.CorpusOps.kneserNeyLm(
          Tables.documents(s, d), col("doc_id"), col("text"), 2))
        .orderBy(col("w1"), col("w2"))
    }, Some(s"""
      WITH t AS (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents),
      t2 AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
      bg AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
               SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                 i -> {'w1': toks[i], 'w2': toks[i+1]})) AS u
               FROM t2)),
      c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
      ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS ctx_total,
                count(*) AS n1p_left FROM c12 GROUP BY 1),
      cont AS (SELECT w2, count(*) AS n1p_right FROM c12 GROUP BY 1),
      v AS (SELECT count(*) AS n_types FROM c12)
      SELECT w1, w2, c12, ctx_total, n1p_left, n1p_right,
        round(greatest(c12 - 0.75, 0) / ctx_total
          + 0.75 * n1p_left / ctx_total
            * (CAST(n1p_right AS DOUBLE) / n_types), 9) AS p_r9
      FROM c12 JOIN ctx USING (w1) JOIN cont USING (w2), v
      ORDER BY w1, w2""")),

    // KN perplexity end to end — p45's add-one scorer upgraded to the
    // production smoother, same integer micro-nat discipline (−ln P
    // truncates once per bigram, the per-doc sum is an exact integer
    // aggregate): train on the corpus snapshot, score every document
    // against the frozen tables. The oracle recomputes the entire
    // model AND the scoring chain; a discount slip, a token-counted
    // continuation, or a float summed before truncation is a red row.
    ("p201_kn_perplexity", Twinned { (s, d, t) =>
      import graft.text.CorpusOps
      val docs = Tables.documents(s, d)
      t.cut(CorpusOps.scoreKneserNey(
          CorpusOps.ngramRows(t.in(docs), col("doc_id"), col("text"), 2),
          CorpusOps.kneserNeyLm(docs, col("doc_id"), col("text"), 2)))
        .orderBy(col("doc_id"))
    }, Some(knPerplexityOracle)),

    // Quality-classifier TRAINING, oracle-gated end to end — two
    // full-batch logistic-regression GD iterations over hashed
    // token-count features ([[graft.text.QualityLr]]), the
    // fastText-style quality-filter trainer. The micro-unit
    // discipline makes TRAINING ITSELF gatable (no float ever
    // accumulates across rows: margins are exact integer dot
    // products, residuals truncate once per doc, updates round once
    // per iteration — and `round` is half-away-from-zero on both
    // engines): iteration 1 is closed form (w₀=0 ⇒ σ=½ ⇒ residual
    // ±500000), iteration 2 runs through σ, and the oracle replays
    // both as chained CTEs off the same hash40-bucketed features.
    // The output is the weight table — a single weight off by one
    // micro-unit anywhere in the chain is a red row.
    ("p202_quality_lr_train", (s, d) => {
      graft.text.QualityLr.trainLr(Tables.documents(s, d),
          col("doc_id"), col("text"), col("lang") === "en",
          dim = 16, iters = 2, lr = 0.5)
        .orderBy(col("bucket"))
    }, Some(s"""
      $qualityLrChain
      SELECT * FROM (
        SELECT CAST(-1 AS BIGINT) AS bucket, w_micro FROM w2b
        UNION ALL SELECT bucket, w_micro FROM w2)
      ORDER BY bucket""")),

    // The trained classifier SERVING — score every document against
    // the frozen weight table: exact integer margin, 6-decimal
    // probability, sign decision. The oracle extends p202's CTE chain
    // by one scoring join, so a serving-side drift (a bucket hashed
    // differently, a bias dropped, a margin overflow) desyncs even
    // when training agreed.
    ("p203_quality_lr_score", (s, d) => {
      val docs = Tables.documents(s, d)
      val w = graft.text.QualityLr.trainLr(docs, col("doc_id"),
        col("text"), col("lang") === "en", dim = 16, iters = 2, lr = 0.5)
      graft.text.QualityLr.scoreLr(docs, col("doc_id"), col("text"), w,
          dim = 16)
        .orderBy(col("doc_id"))
    }, Some(qualityLrScoreOracle)),

    // The robots gate under the FULL RFC 9309 wildcard grammar — the
    // tier the prefix parse loudly refuses: `*` anywhere, trailing
    // `$` anchors, most-specific-match precedence (longest pattern,
    // ties to allow), default allow. The fixture robots.txt parses
    // through [[graft.graph.LinkGraph.parseRobotsPatterns]] (a decoy
    // `User-agent: bot / Disallow: /` group pins group selection —
    // mis-applied, every no-match row flips), and the path family
    // exercises every clause: the Allow/Disallow LENGTH TIE on
    // /p/fish/salmon, the anchor beating the allow on /p/fish.php
    // (9 > 8), the anchor NOT over-matching /p/cat.php?x=1, and the
    // interior `*` spanning /p/deep/cat.php. The oracle recomputes
    // matching AND election with a completely different matcher —
    // LIKE translation + packed arg_max — formula duality for the
    // gate itself.
    ("p204_robots_wildcards", (s, d) => {
      import s.implicits._
      val rules = graft.graph.LinkGraph.parseRobotsPatterns(
        Seq(("x.com", robotsWildcardTxt)).toDF("family", "txt"),
        col("family"), col("txt"))
      graft.graph.LinkGraph.robotsFilterWildcard(
          robotsWildcardUrls(Tables.documents(s, d)), rules)
        .select(col("canonical"), col("allowed"), col("rule_pattern"))
        .orderBy(col("canonical"))
    }, Some(s"""
      WITH u AS (SELECT doc_id,
          CASE CAST(doc_id % 8 AS INT)
            ${robotsWildcardPaths.zipWithIndex.map { case (p, i) =>
              s"WHEN $i THEN '$p'" }.mkString(" ")}
          END AS path FROM documents),
      r(pattern, allow) AS (VALUES
        ('/p/fish*', CAST(1 AS BOOLEAN)), ('/p/fish/', CAST(0 AS BOOLEAN)),
        ('/p/*.php$$', CAST(0 AS BOOLEAN))),
      m AS (SELECT doc_id, path, pattern, allow,
              strlen(pattern) AS l
            FROM u JOIN r ON
              CASE WHEN pattern LIKE '%$$'
                   THEN path LIKE replace(rtrim(pattern, '$$'), '*', '%')
                   ELSE path LIKE replace(pattern, '*', '%') || '%' END),
      best AS (SELECT doc_id,
                 max(l * 2 + CAST(allow AS INT)) AS k,
                 arg_max(pattern,
                   printf('%08d', l * 2 + CAST(allow AS INT)) || pattern)
                   AS rule
               FROM m GROUP BY 1)
      SELECT 'https://x.com' || u.path AS canonical,
             coalesce(k % 2 = 1, CAST(1 AS BOOLEAN)) AS allowed,
             coalesce(rule, '') AS rule_pattern
      FROM u LEFT JOIN best USING (doc_id)
      ORDER BY canonical""")),

    // TRIGRAM interpolated Kneser–Ney — the recursion p200/p201's
    // bigram model bottoms out (Chen & Goodman 1999): the top level
    // discounts raw trigram counts, the MIDDLE level discounts
    // CONTINUATION counts (distinct preceding words of each bigram —
    // the level a raw-count backoff implementation gets wrong and
    // red-rows), the bottom is the bigram-type Pcont. Every level is
    // a count ratio off the trigram/bigram type tables; the oracle
    // recomputes the whole recursion and the micro-nat scoring chain.
    // CorpusOpsSpec pins hand-computed probabilities, per-context
    // mass closing to 1, and the three-deep degradation chain.
    ("p205_kn_trigram_ppl", Twinned { (s, d, t) =>
      import graft.text.CorpusOps
      val docs = Tables.documents(s, d)
      t.cut(CorpusOps.scoreKneserNey(
          CorpusOps.ngramRows(t.in(docs), col("doc_id"), col("text"), 3),
          CorpusOps.kneserNeyLm(docs, col("doc_id"), col("text"), 3)))
        .orderBy(col("doc_id"))
    }, Some(kn3PerplexityOracle)),

    // HELD-OUT KN scoring — the deployment shape that p201's
    // self-corpus entry cannot gate: train on the even documents,
    // score the odd ones, so UNSEEN events flow through the LEFT-join
    // degradation chain under the oracle (unseen pair → backoff mass
    // λ(w1)·Pcont, unseen context → bare Pcont, and any exact-zero
    // full-OOV → the 1/(N1+(··)+1) floor). The oracle recomputes the
    // train-slice model AND the whole CASE/coalesce chain — a scorer
    // that add-one-smooths unseen events, drops them, or floors
    // anything but the exact zero is a red row.
    ("p206_kn_heldout", (s, d) => {
      import graft.text.CorpusOps
      val docs = Tables.documents(s, d)
      val lm = CorpusOps.kneserNeyLm(docs.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), 2)
      CorpusOps.scoreKneserNey(
          CorpusOps.ngramRows(docs.filter(col("doc_id") % 2 === 1),
            col("doc_id"), col("text"), 2), lm)
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH tr AS (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents
                  WHERE doc_id % 2 = 0),
      tr2 AS (SELECT doc_id, toks FROM tr WHERE len(toks) >= 2),
      bgt AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
               SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                 i -> {'w1': toks[i], 'w2': toks[i+1]})) AS u
               FROM tr2)),
      c12 AS MATERIALIZED (SELECT w1, w2, count(*) AS c12
              FROM bgt GROUP BY 1, 2),
      ctx AS MATERIALIZED (SELECT w1, CAST(sum(c12) AS BIGINT) AS ctx_total,
                count(*) AS n1p_left FROM c12 GROUP BY 1),
      cont AS MATERIALIZED (SELECT w2, count(*) AS n1p_right
               FROM c12 GROUP BY 1),
      v AS MATERIALIZED (SELECT count(*) AS n_types FROM c12),
      ho AS (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents
             WHERE doc_id % 2 = 1),
      ho2 AS (SELECT doc_id, toks FROM ho WHERE len(toks) >= 2),
      bg AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
               SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                 i -> {'w1': toks[i], 'w2': toks[i+1]})) AS u
               FROM ho2)),
      raw AS (SELECT bg.doc_id, c12.c12 AS c12, ctx.ctx_total,
                ctx.n1p_left, cont.n1p_right, v.n_types
              FROM bg
              LEFT JOIN c12 ON c12.w1 = bg.w1 AND c12.w2 = bg.w2
              LEFT JOIN ctx ON ctx.w1 = bg.w1
              LEFT JOIN cont ON cont.w2 = bg.w2, v),
      pr AS (SELECT doc_id,
               CASE WHEN ctx_total IS NOT NULL
                    THEN greatest(coalesce(c12, 0) - 0.75, 0) / ctx_total
                       + 0.75 * n1p_left / ctx_total
                         * (coalesce(CAST(n1p_right AS DOUBLE), 0.0)
                            / n_types)
                    ELSE coalesce(CAST(n1p_right AS DOUBLE), 0.0) / n_types
               END AS p,
               n_types
             FROM raw),
      sc AS (SELECT doc_id,
               CAST(round(-ln(CASE WHEN p > 0 THEN p
                                   ELSE 1.0 / (n_types + 1) END) * 1e6, 0)
                 AS BIGINT) AS nll_micro
             FROM pr)
      SELECT doc_id, count(*) AS n_bigrams,
             round(sum(nll_micro) / count(*) / 1e6, 6) AS nll,
             round(exp(sum(nll_micro) / count(*) / 1e6), 3) AS ppl
      FROM sc GROUP BY 1 ORDER BY doc_id""")),

    // HELD-OUT quality-classifier scoring — the frozen-classifier
    // deploy shape (train on the labeled snapshot, score the
    // firehose): two GD iterations on the EVEN documents, every ODD
    // document scored against the frozen weight table. Tokens hashing
    // to buckets the training slice never saw contribute exactly 0
    // (an untrained weight IS 0 — the scorer's inner join and the
    // oracle's agree by the same argument), and a held-out doc with
    // no trained-bucket tokens rides at the bare bias. The oracle
    // replays training on the even slice and scoring on the odd one.
    ("p207_quality_lr_heldout", (s, d) => {
      import graft.text.QualityLr
      val docs = Tables.documents(s, d)
      val w = QualityLr.trainLr(docs.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), col("lang") === "en",
        dim = 16, iters = 2, lr = 0.5)
      QualityLr.scoreLr(docs.filter(col("doc_id") % 2 === 1),
          col("doc_id"), col("text"), w, dim = 16)
        .orderBy(col("doc_id"))
    }, Some(s"""
      ${qualityLrChainFor("WHERE doc_id % 2 = 0")},
      toksH AS (SELECT doc_id, unnest(${sqlToks("text")}) AS tok
                FROM documents WHERE doc_id % 2 = 1),
      featH AS (SELECT doc_id, CAST(${sqlHash40("tok")} % 16 AS BIGINT)
                  AS bucket, count(*) AS x
                FROM toksH GROUP BY 1, 2),
      m3 AS (SELECT h.doc_id,
               (SELECT w_micro FROM w2b) + coalesce(s.s, 0) AS m_micro
             FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) h
             LEFT JOIN (SELECT f.doc_id, sum(w_micro * x) AS s
                        FROM featH f JOIN w2 USING (bucket)
                        GROUP BY 1) s
               ON s.doc_id = h.doc_id)
      SELECT doc_id, CAST(m_micro AS BIGINT) AS m_micro,
             round(1.0 / (1.0 + exp(-(m_micro / 1e6))), 6) AS p_r6,
             m_micro > 0 AS good_pred
      FROM m3 ORDER BY doc_id""")),

    // Unicode NFC normalization feeding exact dedup — the collapse a
    // multilingual corpus needs before ANY byte-keyed operator: the
    // fixture plants composed/decomposed TWIN pairs (U+00E9 vs
    // e+U+0301 — same visible text, different bytes) and a singleton
    // carrying U+212B (the Angstrom sign, whose NFC form is the
    // DIFFERENT code point U+00C5), over an otherwise-ASCII corpus.
    // Under graft.functions.UnicodeNormalize (codegen'd JDK
    // Normalizer, identity-returning on already-normalized input)
    // each twin pair collapses to ONE dedup group, the Angstrom
    // singleton's key carries the composed bytes, and every ASCII doc
    // passes through BYTE-IDENTICAL — all three facts oracle-checked
    // against DuckDB's independent nfc_normalize, including the
    // normalized STRING itself and its whitespace tokenization (the
    // tokens downstream seeding consumes). Pure scan-stage
    // projection; the dedup election is the p01 hash-groupBy.
    ("p208_unicode_nfc", Twinned { (s, d, t) =>
      import graft.functions.UnicodeNormalize
      t.cut(t.in(Tables.documents(s, d))
        .select(col("doc_id"), nfcFixtureText.as("raw"))
        .select(col("doc_id"), UnicodeNormalize.nfc(col("raw")).as("norm"))
        .groupBy(col("norm"))
        .agg(min(col("doc_id")).as("keeper_doc"),
          count(lit(1)).as("n_docs")))
        .select(col("keeper_doc"), col("n_docs"), col("norm"),
          array_join(graft.functions.TextFunctions.tokens(col("norm")),
            "|").as("toks"))
        .orderBy(col("keeper_doc"))
    }, Some(s"""
      WITH raw AS (SELECT doc_id, $nfcFixtureSql AS raw FROM documents),
      n AS (SELECT doc_id, nfc_normalize(raw) AS norm FROM raw)
      SELECT min(doc_id) AS keeper_doc,
             CAST(count(*) AS BIGINT) AS n_docs, norm,
             array_to_string(${sqlToks("norm")}, '|') AS toks
      FROM n GROUP BY norm ORDER BY keeper_doc""")),

    // Shard COALESCE closing the CDX maintenance triple (append-
    // compact p183, split, now merge): a TAKEDOWN tombstones every
    // src10..src19 record out of the index — a contiguous middle of
    // the surt key space (com,src1 < com,src10..19 < com,src2), so
    // the compaction leaves a run of undersized/empty shard
    // directories between adequate neighbors — and coalesceCdxShards
    // merges those runs into fresh sorted shards: cost proportional
    // to the MERGED rows only, untouched shards never move (spec
    // pins them byte-identical), the cluster index re-derives. The
    // gate is the p174 pruned serve run AGAINST the coalesced
    // layout: surviving panel keys route through the re-derived
    // index to their merged-or-original shards and fetch exact
    // payload bytes; the oracle is the generative surviving-slice
    // expectation.
    ("p209_cdx_coalesce", (s, d) => {
      import graft.sources.Warc
      val docs = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" page "),
          col("doc_id").cast("string")).as("text"))
      val warcs = warcFixtureFrom(docs).localCheckpoint()
      val cdx = Warc.cdxIndex(
          Warc.parseWarc(warcs, col("file_id"), col("payload")))
        .localCheckpoint()
      val dir = graft.sources.Sinks.tempArtifactDir("cdx_coalesce")
      Warc.writeCdxShards(cdx, dir, numShards = 16)
      val did = fixtureDocId
      // partial takedown: 4 of every 5 records of the src10..19
      // families leave — the middle shards SHRINK (to ~a fifth)
      // rather than vanish, so coalesce faces a genuine undersized
      // RUN, not a hole of deleted directories
      Warc.compactCdxShards(dir, cdx.filter(lit(false)),
        tombstones = Some(cdx.filter(did % 20 >= 10 && did % 5 =!= 0)
          .select(col("file_id"), col("offset"))))
      Warc.coalesceCdxShards(dir, cdx.schema, minRows = live => math.max(2L, live / 12))
      val panel = docs
        .filter(col("doc_id") % 43 === 0 && col("doc_id") % 20 < 10)
        .select(concat(lit("https://www.src"),
          (col("doc_id") % 20).cast("string"), lit(".com/p/"),
          col("doc_id").cast("string")).as("url"))
        .select(graft.functions.SourceFamily.surtKey(col("url"))
          .as("surt_key"))
      // layout schema is fixed by the write contract: read it given,
      // not inferred (skips the per-open driver footer pass)
      val hits = Warc.serveCdx(Warc.readCdxShards(s, dir, cdx.schema), panel)
      Warc.fetchRecords(warcs, col("file_id"), col("payload"),
          hits.select(col("file_id"), col("record_idx"), col("offset"),
            col("record_bytes")))
        .select(fixtureDocId.as("doc_id"), col("body"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, text || ' page ' || CAST(doc_id AS VARCHAR) AS body
      FROM documents WHERE doc_id % 43 = 0 AND doc_id % 20 < 10
      ORDER BY doc_id""")),

    // INT8 scalar quantization (SQ8) recall — the memory knob an
    // embedding store turns before any index change: per-dimension
    // min/max over the corpus is the quantizer MODEL (a 64-row
    // artifact, legitimately collected — the bounded-model rule),
    // each component codes to floor((x−lo)·255/(hi−lo)+0.5) — the
    // floor(+0.5) spelling because floor agrees across engines where
    // round's half-rule does not — and serving ranks on the
    // RECONSTRUCTED vectors (lo + code·(hi−lo)/255 — what an SQ8
    // store actually computes against). The audit is p155's harness:
    // recall@5 of quantized-serve against full-precision truth, in
    // integer micro-units; the oracle recomputes the min/max model,
    // the code arithmetic (identical operation order, so the doubles
    // are bit-equal), both rankings, and the hit count. 4 bytes/dim →
    // 1 byte/dim is the difference between an in-memory and a
    // spilled ANN tier at 100 TB.
    ("p210_sq8_recall", (s, d) => {
      import graft.similarity.SimilaritySearch
      val e = Tables.embeddings(s, d)
      // the model in ONE map-side aggregate (VecMinMax — identical
      // per-dim min/max to the exploded form, without the 64× explode
      // shuffle), served through the fused codegen round-trip kernel
      // (bit-identical arithmetic, pinned in SimilaritySpec)
      val mm = udaf(graft.functions.Aggregators.VecMinMax)
      val st = e.agg(mm(col("embedding").cast("array<double>")))
        .collect()(0).getStruct(0)
      val lo = st.getSeq[Double](0).toArray
      val hi = st.getSeq[Double](1).toArray
      def dequant(c: Column): Column =
        graft.functions.Sq8Codec.roundTrip(c, lo, hi)
      val q = e.filter(col("vec_id") < 20)
      val full = SimilaritySearch.bruteForceTopK(e, col("vec_id"),
          col("embedding"), q, col("vec_id"), col("embedding"), k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(eager = false)
      val sq = SimilaritySearch.bruteForceTopK(e, col("vec_id"),
          dequant(col("embedding")), q, col("vec_id"),
          dequant(col("embedding")), k = 5)
        .select(col("query_id"), col("neighbor_id"))
      // both rankings are (panel × k)-sized by construction — the
      // truth side broadcasts (a checkpointed frame has no stats, so
      // without the hint this 100-row join plans as a sort-merge)
      val hits = sq.join(broadcast(full), Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
      val denom = full.agg(count(lit(1)).as("n_truth"))
      hits.crossJoin(broadcast(denom))
        .select(col("n_hits"), col("n_truth"),
          expr("n_hits * 1000000 div n_truth").as("recall_micro"))
    }, Some("""
      WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      st AS (SELECT i AS dim, min(v[i]) AS lo, max(v[i]) AS hi
             FROM c, generate_series(1, 64) t(i) GROUP BY 1),
      m AS (SELECT list(lo ORDER BY dim) AS lo, list(hi ORDER BY dim) AS hi
            FROM st),
      dq AS (SELECT vec_id, list_transform(v, (x, i) ->
               CASE WHEN m.hi[i] = m.lo[i] THEN m.lo[i]
                    ELSE m.lo[i] + floor((x - m.lo[i]) * 255.0
                           / (m.hi[i] - m.lo[i]) + 0.5)
                         * (m.hi[i] - m.lo[i]) / 255.0 END) AS v
             FROM c, m),
      qf AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 20),
      fs AS (SELECT query_id, c.vec_id AS neighbor_id,
               round(list_dot_product(c.v, qv) /
                     (sqrt(list_dot_product(c.v, c.v)) *
                      sqrt(list_dot_product(qv, qv))), 6) AS cos
             FROM c, qf WHERE c.vec_id <> query_id),
      truth AS (SELECT query_id, neighbor_id FROM
                 (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS rank FROM fs)
                WHERE rank <= 5),
      qd AS (SELECT vec_id AS query_id, v AS qv FROM dq WHERE vec_id < 20),
      ds AS (SELECT query_id, dq.vec_id AS neighbor_id,
               round(list_dot_product(dq.v, qv) /
                     (sqrt(list_dot_product(dq.v, dq.v)) *
                      sqrt(list_dot_product(qv, qv))), 6) AS cos
             FROM dq, qd WHERE dq.vec_id <> query_id),
      sq AS (SELECT query_id, neighbor_id FROM
              (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS rank FROM ds)
             WHERE rank <= 5),
      h AS (SELECT CAST(count(*) AS BIGINT) AS n_hits
            FROM sq JOIN truth USING (query_id, neighbor_id)),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth)
      SELECT n_hits, n_truth,
             CAST(n_hits * 1000000 // n_truth AS BIGINT) AS recall_micro
      FROM h, tot""")),

    // Page-level indexing directives — the gate BESIDE robots.txt
    // (which controls FETCH; these control what a fetched page may
    // feed): `<meta name="robots">` tokens from the page unioned with
    // the `X-Robots-Tag` response header, most restrictive wins,
    // `none` = noindex+nofollow. The fixture binds every clause:
    // case-variant metas with padded content, TWO metas folding, the
    // attribute order reversed (content before name), a
    // `name="description"` decoy whose content says "noindex,
    // nofollow" on EVERY page (must never bind), and a header-only
    // noindex on the %7 stripe so the union is visible where the meta
    // said nothing. Runs through the real HTTP path (header map from
    // splitHttp), flags are one codegen'd regex/HOF chain per row.
    ("p211_meta_robots", Twinned { (s, d, t) =>
      t.cut(directiveFlagsOf(graft.sources.Warc.splitHttp(
          graft.sources.Warc.parseWarcBinary(
            t.in(metaRobotsWarcFixture(Tables.documents(s, d))),
            col("file_id"), col("payload")))))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
             CAST(doc_id % 5 AS INT) IN (1, 3, 4) OR doc_id % 7 = 0
               OR (doc_id % 7 <> 0 AND CAST(doc_id % 19 AS INT) IN (4, 12))
               AS noindex,
             CAST(doc_id % 5 AS INT) IN (2, 3, 4)
               OR (doc_id % 7 <> 0 AND doc_id % 19 = 2) AS nofollow
      FROM documents ORDER BY doc_id""")),

    // The FOLLOW harvest — p131's outlink extraction under indexing
    // directives, the edge set a ranking crawl actually builds: a
    // page-level `<meta name="robots" nofollow>` drops the whole
    // page's edges, and per-anchor `rel` no-weight tokens (nofollow /
    // sponsored / the multi-token "ugc me") drop single anchors;
    // `rel="noopener"` is a planted decoy that must keep its edge,
    // and the description-meta decoy from p211 rides every page. Same
    // canonicalization chain as the full harvest — the oracle writes
    // the surviving canonical edges down from the fixture arithmetic
    // and aggregates.
    ("p212_follow_harvest", Twinned { (s, d, t) =>
      val pages = t.in(Tables.documents(s, d)).select(col("doc_id"),
        messyUrlFixture.as("page_url"), nofollowHtmlFixture.as("html"))
      t.cut(graft.graph.LinkGraph.linkRowsFollow(pages, col("page_url"),
          col("html"))
        .groupBy(col("src_family"), col("dst_family"))
        .agg(count(lit(1)).as("n_links")))
        .orderBy(col("src_family"), col("dst_family"))
    }, Some("""
      WITH base AS (SELECT doc_id, source || '.com' AS sf FROM documents
                    WHERE doc_id % 9 <> 1),
      flk AS (
        SELECT sf AS src_family, 'src0.com' AS dst_family FROM base
        UNION ALL
        SELECT sf, 'src' || (doc_id * 7 % 20) || '.com' FROM base
        WHERE doc_id % 2 <> 1
        UNION ALL
        SELECT sf, 'src' || (doc_id % 7) || '.com' FROM base
        WHERE doc_id % 3 <> 0
        UNION ALL
        SELECT sf, 'src' || (doc_id % 4) || '.co.uk' FROM base
        WHERE doc_id % 5 <> 0
        UNION ALL
        SELECT sf, 'example.com' FROM base)
      SELECT src_family, dst_family, CAST(count(*) AS BIGINT) AS n_links
      FROM flk GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Token-distribution ENTROPY + type/token ratio + top-token share
    // — the information-theoretic quality triple (the CCNet/
    // RefinedWeb-family signal beside p04's surface ratios): gibberish
    // and template spam sit at the entropy extremes, a low TTR or a
    // dominant top token flags boilerplate/repetition. Integer
    // micro-nat discipline (the p45 rule): each distinct token's
    // c·ln(N/c) term rounds ONCE to micro-nats, the per-doc sum is an
    // exact integer aggregate, ratios are integer div — so the whole
    // column is engine-portable and oracle-gated. Two aggregations on
    // the SAME doc_id key (Catalyst reuses the exchange); tokenless
    // docs report zeros, never nulls.
    ("p213_token_entropy", Twinned { (s, d, t) =>
      val docs = Tables.documents(s, d)
      val cnt = t.in(docs).select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      tokenEntropyFromCounts(docs.select(col("doc_id")), t.cut(cnt))
        .orderBy(col("doc_id"))
    }, Some(s"""
      WITH toks AS (SELECT doc_id, unnest(${sqlToks("text")}) AS t
                    FROM documents),
      cnt AS (SELECT doc_id, t, count(*) AS c FROM toks GROUP BY 1, 2),
      per AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                CAST(count(*) AS BIGINT) AS n_types,
                CAST(max(c) AS BIGINT) AS top_c
              FROM cnt GROUP BY 1),
      h AS (SELECT cnt.doc_id,
              sum(CAST(round(c * ln(CAST(n_tokens AS DOUBLE) / c) * 1e6, 0)
                AS BIGINT)) AS hsum
            FROM cnt JOIN per USING (doc_id) GROUP BY 1)
      SELECT d.doc_id,
             coalesce(n_tokens, 0) AS n_tokens,
             coalesce(n_types, 0) AS n_types,
             CAST(coalesce(n_types * 1000000 // n_tokens, 0) AS BIGINT)
               AS ttr_micro,
             CAST(coalesce(top_c * 1000000 // n_tokens, 0) AS BIGINT)
               AS top_tok_micro,
             CAST(coalesce(hsum // n_tokens, 0) AS BIGINT) AS entropy_micro
      FROM documents d LEFT JOIN per USING (doc_id) LEFT JOIN h USING (doc_id)
      ORDER BY d.doc_id""")),

    // NFKC + casefold as the aggressive DEDUP KEY — what p208's
    // canonical NFC deliberately does not do: compatibility folding
    // (the ligature ﬁ, the fullwidth forms, the № sign) plus
    // root-locale case folding collapse visually-equivalent spam
    // variants that NFC keeps distinct. DuckDB has no NFKC, so the
    // oracle is GENERATIVE (the p154 rule): the fixture routes five
    // authored variants of the same logical text by doc_id%6 — NFC
    // twins, a ligature form, a fullwidth+case form, a №-sign form —
    // and the oracle writes down the expected per-pair collapse
    // (every variant of pair k in ONE group of its expected size)
    // while the NFC key from the same rows keeps the compatibility
    // variants apart (both keyings emitted — the collapse DELTA is
    // the gated fact).
    ("p214_nfkc_keys", (s, d) => {
      import graft.functions.UnicodeNormalize
      Tables.documents(s, d)
        .select(col("doc_id"), nfkcFixtureText.as("raw"))
        .select(col("doc_id"),
          UnicodeNormalize.nfkcCasefold(col("raw")).as("k_nfkc"),
          UnicodeNormalize.nfc(col("raw")).as("k_nfc"))
        .groupBy((col("doc_id") % 6 === 0).as("is_base"),
          expr("doc_id div 6").as("pair"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("k_nfkc")).as("n_nfkc_keys"),
          countDistinct(col("k_nfc")).as("n_nfc_keys"))
        .filter(!col("is_base"))
        .select(col("pair"), col("n_docs"), col("n_nfkc_keys"),
          col("n_nfc_keys"))
        .orderBy(col("pair"))
    }, Some("""
      WITH v AS (SELECT doc_id // 6 AS pair,
                   CAST(doc_id % 6 AS INT) AS m
                 FROM documents WHERE doc_id % 6 <> 0),
      g AS (SELECT pair, CAST(count(*) AS BIGINT) AS n_docs,
              -- all five variants fold to ONE nfkc+casefold key;
              -- under bare NFC the ligature, fullwidth, and sign
              -- variants stay distinct from the two NFC twins:
              -- variants present = m in 1..5, nfc keys =
              -- {twin(1,2 collapse), 3, 4, 5} sized by presence
              CAST(1 AS BIGINT) AS n_nfkc_keys,
              CAST(count(DISTINCT CASE WHEN m <= 2 THEN 0
                                       ELSE m END) AS BIGINT)
                AS n_nfc_keys
            FROM v GROUP BY 1)
      SELECT pair, n_docs, n_nfkc_keys, n_nfc_keys
      FROM g ORDER BY pair""")),

    // rel=canonical dedup — the collapse signal the page ITSELF
    // publishes, one tier above any fingerprint: each 4k+2 page
    // declares the 4k+1 page as canonical (cross-page pair collapse),
    // 4k+1 declares its OWN messy variant (case/:443/utm — must
    // canonicalize to self, pinning the shared URL transform), 4k+3
    // carries no link element (self by default), and 4k+0 plants the
    // hazards: a stylesheet <link> decoy, a data-rel decoy, and a
    // SECOND canonical whose target must lose (first wins — the
    // browser/search-engine convention). The election is the p01
    // hash-groupBy on the declared target.
    ("p215_rel_canonical", Twinned { (s, d, t) =>
      t.cut(graft.graph.LinkGraph.relCanonical(
          relCanonicalPages(t.in(Tables.documents(s, d))),
          col("page_url"), col("html"), col("doc_id"))
        .groupBy(col("canonical_target"))
        .agg(count(lit(1)).as("n_pages"), min(col("doc_id")).as("keeper_doc")))
        .orderBy(col("canonical_target"))
    }, Some("""
      WITH t AS (SELECT doc_id,
          CASE WHEN CAST(doc_id % 8 AS INT) = 2
               THEN 'https://www.src' || ((doc_id - 1) % 20) || '.com/p/'
                    || (doc_id - 1)
               WHEN CAST(doc_id % 16 AS INT) = 12
               THEN 'https://alt.src' || (doc_id % 20) || '.com/p/'
                    || doc_id || 'v2'
               WHEN CAST(doc_id % 8 AS INT) = 4
               THEN 'https://www.src' || (doc_id % 20) || '.com/p/'
                    || doc_id || 'v2'
               WHEN CAST(doc_id % 8 AS INT) = 5
               THEN 'https://www.src' || ((doc_id + 2) % 20) || '.com/p/'
                    || (doc_id + 2)
               ELSE 'https://www.src' || (doc_id % 20) || '.com/p/'
                    || doc_id END AS canonical_target
        FROM documents)
      SELECT canonical_target, CAST(count(*) AS BIGINT) AS n_pages,
             min(doc_id) AS keeper_doc
      FROM t GROUP BY 1 ORDER BY 1""")),

    // meta-refresh redirects resolved through the SAME pointer-
    // doubling chain as the header kind (p140) — the HTML redirect a
    // status-200 page smuggles past any Location-only crawler: every
    // %5≡1 page zero-refreshes to the NEXT page (messy target — the
    // canonicalization makes the hop land on the next page's map
    // key), which being %5≡2 five-second-refreshes (quoted URL form)
    // to its terminal — so the m1 rows resolve in exactly TWO hops
    // and the m2 rows in one. The m2 TARGET FORM varies by doc_id%4:
    // absolute / root-relative (binds on the page's authority) /
    // protocol-relative (inherits the scheme — same resolved value as
    // absolute) / PATH-relative, which emits NO edge and stops its m1
    // predecessor at the dead page in ONE hop. The non-edges all
    // bind: a bare-delay reload (content="30"), a 600 s slow refresh
    // above the redirect threshold, a Content-Type http-equiv decoy,
    // and pages with no meta at all. The oracle recomputes
    // extraction, thresholding, target RESOLUTION, and every hop
    // count.
    ("p216_meta_refresh", Twinned { (s, d, t) =>
      graft.graph.CrawlOps.resolveRedirects(
          t.cut(graft.graph.CrawlOps.metaRefreshEdges(
            metaRefreshPages(t.in(Tables.documents(s, d))), col("page_url"),
            col("html"), maxDelaySeconds = 10L)),
          maxDepth = 4)
        .orderBy(col("url"))
    }, Some("""
      WITH m1 AS (SELECT doc_id,
          'https://www.src' || (doc_id % 20) || '.com/p/' || doc_id AS src,
          'https://www.src' || ((doc_id + 1) % 20) || '.com/p/'
            || (doc_id + 1) AS dst
        FROM documents WHERE doc_id % 5 = 1),
      m2 AS (SELECT doc_id,
          'https://www.src' || (doc_id % 20) || '.com/p/' || doc_id AS src,
          -- the target FORM by doc_id%4: root-relative resolves onto
          -- the page's own authority; protocol-relative onto the
          -- page's scheme (same value as absolute); path-relative is
          -- NO edge (NULL here)
          CASE WHEN doc_id % 4 = 1 AND doc_id % 3 = 0
               THEN 'https://b.dst' || (doc_id % 11) || '.com/t' || doc_id
               WHEN doc_id % 4 = 1
               THEN 'https://www.src' || (doc_id % 20) || '.com/t'
                    || doc_id
               WHEN doc_id % 4 = 3 THEN NULL
               ELSE 'https://dst' || (doc_id % 11) || '.com/t' || doc_id
          END AS dst
        FROM documents WHERE doc_id % 5 = 2)
      SELECT m1.src AS url,
             -- a boundary m1 doc whose successor page does not exist
             -- (corpus sizes are multiples of 5 so this never binds,
             -- but the oracle must not ASSUME it) — or whose successor
             -- published only a PATH-relative target (no edge) —
             -- stops at the dead page URL in ONE hop
             CASE WHEN d2.doc_id IS NULL OR m2x.dst IS NULL THEN m1.dst
                  ELSE m2x.dst END AS final_url,
             CAST(CASE WHEN d2.doc_id IS NULL OR m2x.dst IS NULL THEN 1
                       ELSE 2 END AS BIGINT) AS hops,
             true AS resolved
      FROM m1 LEFT JOIN documents d2 ON d2.doc_id = m1.doc_id + 1
              LEFT JOIN m2 m2x ON m2x.doc_id = m1.doc_id + 1
      UNION ALL
      SELECT src, dst, CAST(1 AS BIGINT), true FROM m2
      WHERE dst IS NOT NULL
      ORDER BY url""")),

    // rel=canonical CHAINS through the shared pointer chain — the
    // round-11 gap closed: a canonical pointing at a page that itself
    // declares a canonical (routine when a CMS migrates twice), and a
    // canonical pointing at a META-REFRESH page, both resolve through
    // ONE resolveRedirects pass over the UNIONED alias map
    // (pageAliasEdges). The fixture builds 3-hop canonical chains
    // (m6=1 → m6=2 → m6=3 → terminal), canonical→refresh mixes
    // (m6=4 → m6=5's zero-refresh → terminal), single declarations
    // that stay 1-hop, a both-forms page whose canonical must LOSE to
    // its refresh (precedence), and a slow-refresh decoy beside a
    // binding canonical; quote forms vary (single-quoted link/meta on
    // two stripes) so the widened attribute grammar is oracle-gated,
    // and TARGET forms vary so resolution is too: m6=4 declares
    // protocol-relatively (the chain only connects if the scheme
    // inherits), m6=3's terminal is root-relative on the %12=3 half,
    // and m6=0 declares PATH-relatively — the safe self-default, so
    // m0 stays absent from the chain output.
    // Corpus-boundary successors (doc_id+1 past the last doc) stop
    // the chain early — the oracle derives hops from successor
    // EXISTENCE, never from an assumed corpus size.
    ("p217_canonical_chains", (s, d) => {
      val pages = canonicalChainPages(Tables.documents(s, d))
      graft.graph.CrawlOps.resolveRedirects(
          graft.graph.CrawlOps.pageAliasEdges(pages, col("page_url"),
            col("html"), maxDelaySeconds = 10L),
          maxDepth = 4)
        .orderBy(col("url"))
    }, Some("""
      WITH mx AS (SELECT max(doc_id) AS md FROM documents),
      b AS (SELECT doc_id, CAST(doc_id % 6 AS INT) AS m,
              'https://www.src' || (doc_id % 20) || '.com/c/' || doc_id AS u
            FROM documents)
      SELECT u AS url,
             CASE
               WHEN m = 1 AND doc_id + 1 > md THEN
                 'https://www.src' || ((doc_id + 1) % 20) || '.com/c/'
                   || (doc_id + 1)
               WHEN m = 1 AND doc_id + 2 > md THEN
                 'https://www.src' || ((doc_id + 2) % 20) || '.com/c/'
                   || (doc_id + 2)
               -- the chain-end m3 terminal: root-relative on the
               -- %12=3 half (resolves onto the declaring page's own
               -- authority), absolute on the rest
               WHEN m = 1 AND (doc_id + 2) % 12 = 3 THEN
                 'https://www.src' || ((doc_id + 2) % 20) || '.com/x'
                   || (doc_id + 2)
               WHEN m = 1 THEN 'https://t.example.com/x' || (doc_id + 2)
               WHEN m = 2 AND doc_id + 1 > md THEN
                 'https://www.src' || ((doc_id + 1) % 20) || '.com/c/'
                   || (doc_id + 1)
               WHEN m = 2 AND (doc_id + 1) % 12 = 3 THEN
                 'https://www.src' || ((doc_id + 1) % 20) || '.com/x'
                   || (doc_id + 1)
               WHEN m = 2 THEN 'https://t.example.com/x' || (doc_id + 1)
               WHEN m = 3 AND doc_id % 12 = 3 THEN
                 'https://www.src' || (doc_id % 20) || '.com/x' || doc_id
               WHEN m = 3 THEN 'https://t.example.com/x' || doc_id
               WHEN m = 4 AND doc_id + 1 > md THEN
                 'https://www.src' || ((doc_id + 1) % 20) || '.com/c/'
                   || (doc_id + 1)
               WHEN m = 4 THEN 'https://final.example.com/f' || (doc_id + 1)
               ELSE 'https://final.example.com/f' || doc_id
             END AS final_url,
             CAST(CASE
               WHEN m = 1 AND doc_id + 1 > md THEN 1
               WHEN m = 1 AND doc_id + 2 > md THEN 2
               WHEN m = 1 THEN 3
               WHEN m IN (2, 4) AND doc_id + 1 > md THEN 1
               WHEN m IN (2, 4) THEN 2
               ELSE 1
             END AS BIGINT) AS hops,
             true AS resolved
      FROM b, mx WHERE m IN (1, 2, 3, 4, 5)
      ORDER BY url""")),

    // The SQ8 SERVING tier through the blue/green lifecycle — p210's
    // memory knob promoted from an audit to a store: v1 publishes
    // model + codes built on an 80% slice, v2 RETRAINS on the full
    // corpus (new per-dim min/max, every code re-minted — the
    // codes-invalidate-on-retrain rule), each publish gated on
    // recall@5 vs full-precision truth BEFORE its .complete marker
    // lands (a below-floor quantizer never reaches readers — the
    // refusal path is spec-pinned in SimilaritySpec), and the served
    // ranking comes from the CURRENT version's store artifact: codes
    // read back from parquet, reconstructed lo + code·(hi−lo)/255,
    // queries through the SAME stored model (symmetric). The oracle
    // recomputes v2's model, the quantize-reconstruct arithmetic
    // (identical operation order — bit-equal doubles), and the full
    // ranking.
    ("p218_sq8_lifecycle", (s, d) => {
      import graft.similarity.SimilaritySearch
      val e = Tables.embeddings(s, d)
      val base = graft.sources.Sinks.tempArtifactDir("sq8_store")
      val panel = e.filter(col("vec_id") < 20).localCheckpoint(eager = false)
      SimilaritySearch.publishSq8Store(s, base,
        e.filter(col("vec_id") % 5 =!= 4), col("vec_id"), col("embedding"),
        panel, col("vec_id"), col("embedding"), k = 5,
        recallFloorMicro = 500000L)
      SimilaritySearch.publishSq8Store(s, base,
        e, col("vec_id"), col("embedding"),
        panel, col("vec_id"), col("embedding"), k = 5,
        recallFloorMicro = 500000L)
      SimilaritySearch.sq8TopKCurrent(s, base, panel, col("vec_id"),
          col("embedding"), k = 5)
        .orderBy(col("query_id"), col("rank"))
    }, Some("""
      WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      st AS (SELECT i AS dim, min(v[i]) AS lo, max(v[i]) AS hi
             FROM c, generate_series(1, 64) t(i) GROUP BY 1),
      m AS (SELECT list(lo ORDER BY dim) AS lo, list(hi ORDER BY dim) AS hi
            FROM st),
      dq AS (SELECT vec_id, list_transform(v, (x, i) ->
               CASE WHEN m.hi[i] = m.lo[i] THEN m.lo[i]
                    ELSE m.lo[i] + floor((x - m.lo[i]) * 255.0
                           / (m.hi[i] - m.lo[i]) + 0.5)
                         * (m.hi[i] - m.lo[i]) / 255.0 END) AS v
             FROM c, m),
      qd AS (SELECT vec_id AS query_id, v AS qv FROM dq WHERE vec_id < 20),
      ds AS (SELECT query_id, dq.vec_id AS neighbor_id,
               round(list_dot_product(dq.v, qv) /
                     (sqrt(list_dot_product(dq.v, dq.v)) *
                      sqrt(list_dot_product(qv, qv))), 6) AS cos
             FROM dq, qd WHERE dq.vec_id <> query_id),
      sq AS (SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS rank
             FROM ds)
      SELECT query_id, neighbor_id, cos, CAST(rank AS BIGINT) AS rank
      FROM sq WHERE rank <= 5 ORDER BY query_id, rank""")),

    // The COMPLETE alias union — all THREE redirect kinds an archive
    // holds (HTTP Location, meta-refresh, rel=canonical) through ONE
    // pointer chain with protocol precedence: the header beats both
    // body declarations (m7=4 carries all three — the evil body
    // targets must never appear), the refresh beats the canonical
    // (m7=5), and chains CROSS layers (m7=6's header redirect lands
    // on the m7=3 canonical-declaring page of its own group — two
    // hops through two different protocol layers in one resolution).
    // The oracle writes the full resolution down from the stripe
    // arithmetic.
    ("p220_full_alias_frontier", (s, d) => {
      val docs = Tables.documents(s, d)
      val k = col("doc_id").cast("string")
      def u(i: Column) = concat(lit("https://www.src"),
        (i % 20).cast("string"), lit(".com/f/"), i.cast("string"))
      val m7 = col("doc_id") % 7
      val head = when(m7 === 2, concat(
          lit("<meta http-equiv=\"refresh\" " +
            "content=\"0; url=https://r.example.com/t"), k, lit("\">")))
        .when(m7 === 4, concat(
          lit("<meta http-equiv=\"refresh\" " +
            "content=\"0; url=https://evil.example/r"), k,
          lit("\"><link rel=\"canonical\" href=\"https://evil.example/c"),
          k, lit("\">")))
        .when(m7 === 3, concat(
          lit("<link rel=\"canonical\" href=\"https://c.example.com/t"),
          k, lit("\">")))
        .when(m7 === 5, concat(
          lit("<meta http-equiv=\"refresh\" " +
            "content=\"0;url=https://r.example.com/w"), k,
          lit("\"><link rel=\"canonical\" href=\"https://evil.example/c"),
          k, lit("\">")))
        .otherwise(lit(""))
      val pages = docs.select(col("doc_id"), u(col("doc_id")).as("page_url"),
        concat(lit("<html><head>"), head, lit("</head><body><p>"),
          col("text"), lit("</p></body></html>")).as("html"))
      val hdr = docs.filter(m7.isin(1L, 4L, 6L))
        .select(u(col("doc_id")).as("src"),
          when(m7 === 1, concat(lit("https://h.example.com/t"), k))
            .when(m7 === 4, concat(lit("https://h.example.com/w"), k))
            .otherwise(u(col("doc_id") - 3)).as("dst"))
      graft.graph.CrawlOps.resolveRedirects(
          graft.graph.CrawlOps.fullAliasEdges(hdr, pages, col("page_url"),
            col("html"), maxDelaySeconds = 10L),
          maxDepth = 4)
        .orderBy(col("url"))
    }, Some("""
      WITH b AS (SELECT doc_id, CAST(doc_id % 7 AS INT) AS m,
              'https://www.src' || (doc_id % 20) || '.com/f/' || doc_id AS u
            FROM documents)
      SELECT u AS url,
             CASE m
               WHEN 1 THEN 'https://h.example.com/t' || doc_id
               WHEN 2 THEN 'https://r.example.com/t' || doc_id
               WHEN 3 THEN 'https://c.example.com/t' || doc_id
               WHEN 4 THEN 'https://h.example.com/w' || doc_id
               WHEN 5 THEN 'https://r.example.com/w' || doc_id
               ELSE 'https://c.example.com/t' || (doc_id - 3)
             END AS final_url,
             CAST(CASE WHEN m = 6 THEN 2 ELSE 1 END AS BIGINT) AS hops,
             true AS resolved
      FROM b WHERE m IN (1, 2, 3, 4, 5, 6)
      ORDER BY url""")),

    // MIXED-container audio statistics — p110's integer DSP over an
    // archive whose even clips ship RIFF/WAVE (little-endian) and odd
    // clips FORM/AIFF (big-endian s16, the 80-bit-extended sample
    // rate decoded exactly): the operator auto-detects by container
    // magic (decodeS16Any), the samples follow ONE formula, and the
    // oracle is p110's verbatim — container-independent by
    // construction, so agreement pins that every statistic comes from
    // the DECODE (a byte-order slip on the AIFF side would flip every
    // odd clip's samples and hash-fail instantly).
    ("p222_mixed_audio_stats", (s, d) => {
      import graft.multimodal.AudioCodec
      AudioCodec.audioStats(
          AudioCodec.SyntheticAudio.mixedFixture(Tables.documents(s, d),
            col("doc_id")),
          col("media_id"), col("payload"))
        .orderBy(col("media_id"))
    }, Some(s"""
      WITH ${graft.multimodal.AudioCodec.SyntheticAudio.oracleClips},
      u AS (SELECT media_id, n, unnest(sm) AS s,
              unnest(generate_series(0, CAST(n - 1 AS INT))) AS k
            FROM clips),
      g AS (SELECT media_id, count(*) AS n_samples,
              CAST(max(abs(s)) AS BIGINT) AS peak,
              CAST(sum(s * s) AS BIGINT) AS energy,
              CAST(sum(CASE WHEN abs(s) >= 15000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped,
              min(CASE WHEN abs(s) > 1600 THEN k END) AS fl,
              max(CASE WHEN abs(s) > 1600 THEN k END) AS ll
            FROM u GROUP BY 1)
      SELECT media_id, CAST(8000 AS BIGINT) AS sample_rate, n_samples,
             peak, energy, n_clipped,
             CAST(coalesce(fl, n_samples) AS BIGINT) AS lead_silence,
             CAST(CASE WHEN fl IS NULL THEN 0
                       ELSE n_samples - 1 - ll END AS BIGINT) AS trail_silence
      FROM g ORDER BY media_id""")),

    // PATH-relative link RESOLUTION through the harvest — real markup
    // links mostly relatively, and the RFC 3986 resolver
    // (ResolveHref: directory merge + dot-segment removal, codegen'd)
    // is what turns `x/y` / `../y` / `./y` into frontier keys a crawl
    // can fetch. Every doc's page sits at depth-2 (/a/b/page{id}) and
    // links all seven resolvable forms — descend, ascend, same-dir,
    // root-relative, protocol-relative, query-only (the pagination
    // link), and an EXCESS-dotdot that must clamp at the root — plus
    // the three non-edges (javascript:, bare fragment, mailto:) that
    // must keep dropping. ODD pages carry a <base href="/b/"> that
    // REBASES the relative forms (with a commented-out base and a
    // losing second base as hazards) — the HTML mechanism templated
    // sites use, resolved per RFC 3986 §5.1.1. The oracle writes
    // every resolved URL down from the fixture arithmetic — the
    // resolver is recomputed by hand, never by the engine.
    ("p223_relative_link_harvest", (s, d) => {
      // the final global sort's range exchange SAMPLES its child for
      // boundaries and then runs it again to place rows — with the
      // harvest directly under the sort, the whole regex+resolve
      // kernel executed twice. Materialize the narrow edge rows once.
      graft.graph.LinkGraph.linkRows(
          relativeHrefPages(Tables.documents(s, d)),
          col("page_url"), col("html"))
        .localCheckpoint(eager = false)
        .orderBy(col("canonical"))
    }, Some("""
      WITH f AS (SELECT doc_id,
          'src' || (doc_id % 20) || '.com' AS fam,
          'https://www.src' || (doc_id % 20) || '.com' AS h,
          -- odd docs are REBASED by their <base href="/b/">
          CASE WHEN doc_id % 2 = 1 THEN '/b/' ELSE '/a/b/' END AS dir,
          CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '/a/' END AS up
        FROM documents),
      e AS (
        SELECT fam AS src_family, h || dir || 'x/' || doc_id AS canonical,
               fam AS dst_family FROM f
        UNION ALL SELECT fam, h || up || 'up' || doc_id, fam FROM f
        UNION ALL SELECT fam, h || dir || 'same/' || doc_id, fam FROM f
        UNION ALL SELECT fam, h || '/root' || doc_id, fam FROM f
        UNION ALL SELECT fam,
          'https://cdn.src' || (doc_id % 20) || '.com/c' || doc_id, fam
          FROM f
        UNION ALL SELECT fam,
          CASE WHEN doc_id % 2 = 1 THEN h || '/b/?page=' || (doc_id % 5)
               ELSE h || '/a/b/page' || doc_id || '?page=' || (doc_id % 5)
          END, fam
          FROM f
        UNION ALL SELECT fam, h || '/deep' || doc_id, fam FROM f)
      SELECT src_family, canonical, dst_family FROM e
      ORDER BY canonical""")),

    // Script-aware language ID composed with the quality gate — the
    // multilingual routing fix: the stopword argmax scores every
    // non-Latin page as noise (zero hits on every Latin list), and
    // the English-centric quality gate would then drop exactly the
    // pages a multilingual corpus wants. langIdScript routes by
    // code-point ranges first (cyrillic/han/arabic/greek -> ru/zh/ar/
    // el), falls back to the stopword argmax for Latin text (en/fr/
    // es/de stripes that only the stopwords can tell apart), and
    // reports 'und' for letterless junk; the composed gate then
    // BYPASSES the English-centric quality score for routed non-Latin
    // docs (their per-script quality models live downstream) while
    // latin and 'und' docs still face it — the junk stripe drops, the
    // Cyrillic stripe survives. Oracle: langs from the stripe
    // arithmetic, quality recomputed via the p04 dual over the same
    // fixture text.
    ("p224_langid_script", Twinned { (s, d, t) =>
      val docs = t.in(Tables.documents(s, d))
        .select(col("doc_id"), langScriptFixtureText.as("text"))
      t.cut(docs.select(col("doc_id"),
          TextFunctions.langIdScript(col("text")).as("lang"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        .withColumn("gate_keep",
          !col("lang").isin("en", "fr", "es", "de", "und") ||
            col("quality") >= 0.3))
        .orderBy(col("doc_id"))
    }, Some {
      val en = TextFunctions.langStopwords("en")
        .map(w => s"CAST(len(list_filter(ltoks, t -> t = '$w')) AS BIGINT)")
        .mkString(" + ")
      s"""
      WITH fx AS (SELECT doc_id,
          CASE CAST(doc_id % 9 AS INT)
            WHEN 1 THEN '$cyrillicFixture'
            WHEN 2 THEN '$hanFixture'
            WHEN 3 THEN '$greekFixture'
            WHEN 4 THEN '$arabicFixture'
            WHEN 5 THEN '$frenchFixture'
            WHEN 6 THEN '$spanishFixture'
            WHEN 7 THEN '$germanFixture'
            WHEN 8 THEN '$undFixture'
            ELSE '$englishFixture' END AS text,
          CASE CAST(doc_id % 9 AS INT)
            WHEN 1 THEN 'ru' WHEN 2 THEN 'zh' WHEN 3 THEN 'el'
            WHEN 4 THEN 'ar' WHEN 5 THEN 'fr' WHEN 6 THEN 'es'
            WHEN 7 THEN 'de' WHEN 8 THEN 'und'
            ELSE 'en' END AS lang
        FROM documents),
      base AS (SELECT doc_id, lang,
          CAST(len(${sqlToks("text")}) AS DOUBLE) AS n_tok,
          CAST(length(text) AS DOUBLE) AS n_char,
          CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
            AS DOUBLE) AS alnum,
          ${sqlToks("lower(text)")} AS ltoks
        FROM fx),
      m AS (SELECT doc_id, lang, n_tok, n_char, alnum,
          CASE WHEN n_tok > 0 THEN n_char / n_tok ELSE 0.0 END
            AS mean_tok_len,
          CASE WHEN n_tok > 0 THEN CAST($en AS DOUBLE) / n_tok
            ELSE 0.0 END AS stop_ratio,
          CASE WHEN n_char > 0 THEN (n_char - alnum) / n_char
            ELSE 0.0 END AS punct_ratio
        FROM base),
      q AS (SELECT doc_id, lang, round(least(greatest(
          least(n_tok / 100.0, 1.0) * 0.4 +
          (CASE WHEN mean_tok_len >= 3 AND mean_tok_len <= 10
            THEN 1.0 ELSE 0.5 END) * 0.2 +
          stop_ratio * 0.2 + (1.0 - punct_ratio) * 0.2,
          0.0), 1.0), 4) AS quality
        FROM m)
      SELECT doc_id, lang, quality,
             lang NOT IN ('en', 'fr', 'es', 'de', 'und')
               OR quality >= 0.3 AS gate_keep
      FROM q ORDER BY doc_id"""
    }),

    // IVF-SQ8 — the production vector-store shape (FAISS `IVF…,SQ8`):
    // the SQ8 serving tier composed UNDER coarse pruning, from a
    // PUBLISHED store whose codes live as packed bytes (1 byte/dim on
    // disk). The oracle recomputes the whole composition: the
    // quantizer model, the quantize-reconstruct arithmetic (identical
    // operation order — bit-equal doubles), the stride coarse
    // quantizer OVER THE RECONSTRUCTED store, per-query probe lists,
    // and the pruned ranking — p12's IVF chain run on p218's
    // dequantized vectors. The full-nprobe equality to the brute SQ8
    // serve is spec-pinned (pruning may remove candidates, never
    // change a score).
    ("p225_ivf_sq8", (s, d) => {
      import graft.similarity.SimilaritySearch
      val e = Tables.embeddings(s, d)
      val base = graft.sources.Sinks.tempArtifactDir("ivf_sq8_store")
      val panel = e.filter(col("vec_id") < 20).localCheckpoint(eager = false)
      SimilaritySearch.publishSq8Store(s, base,
        e, col("vec_id"), col("embedding"),
        panel, col("vec_id"), col("embedding"), k = 5,
        recallFloorMicro = 500000L)
      SimilaritySearch.ivfSq8TopKCurrent(s, base, panel, col("vec_id"),
          col("embedding"), k = 5, centroidStride = 25, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    }, Some("""
      WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      st AS (SELECT i AS dim, min(v[i]) AS lo, max(v[i]) AS hi
             FROM c, generate_series(1, 64) t(i) GROUP BY 1),
      m AS (SELECT list(lo ORDER BY dim) AS lo, list(hi ORDER BY dim) AS hi
            FROM st),
      dq AS (SELECT vec_id, list_transform(v, (x, i) ->
               CASE WHEN m.hi[i] = m.lo[i] THEN m.lo[i]
                    ELSE m.lo[i] + floor((x - m.lo[i]) * 255.0
                           / (m.hi[i] - m.lo[i]) + 0.5)
                         * (m.hi[i] - m.lo[i]) / 255.0 END) AS v
             FROM c, m),
      cent AS (SELECT vec_id AS centroid_id, v AS cv FROM dq
               WHERE vec_id % 25 = 0),
      asg0 AS (SELECT dq.vec_id, centroid_id,
                      round(list_dot_product(dq.v, cv) /
                            (sqrt(list_dot_product(dq.v, dq.v)) *
                             sqrt(list_dot_product(cv, cv))), 6) AS ccos
               FROM dq CROSS JOIN cent),
      asg AS (SELECT vec_id, centroid_id FROM
                (SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY ccos DESC, centroid_id) AS rn FROM asg0)
              WHERE rn = 1),
      q AS (SELECT vec_id AS query_id, v AS qv FROM dq WHERE vec_id < 20),
      probe0 AS (SELECT query_id, centroid_id,
                        round(list_dot_product(qv, cv) /
                              (sqrt(list_dot_product(qv, qv)) *
                               sqrt(list_dot_product(cv, cv))), 6) AS ccos
                 FROM q CROSS JOIN cent),
      probes AS (SELECT query_id, centroid_id FROM
                   (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY ccos DESC, centroid_id) AS rn FROM probe0)
                 WHERE rn <= 2),
      scored AS (SELECT query_id, a.vec_id AS neighbor_id,
                        round(list_dot_product(dv.v, qv) /
                              (sqrt(list_dot_product(dv.v, dv.v)) *
                               sqrt(list_dot_product(qv, qv))), 6) AS cos
                 FROM probes p
                 JOIN asg a ON p.centroid_id = a.centroid_id
                 JOIN dq dv ON a.vec_id = dv.vec_id
                 JOIN q USING (query_id)
                 WHERE a.vec_id <> query_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id)
                        AS rank
            FROM scored)
      SELECT query_id, neighbor_id, cos, CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= 5 ORDER BY query_id, rank""")),

    // REAL compressed-ANIMATION decode — the video path's first
    // standards-track wire format: the p29 synthetic animation
    // re-encoded as an animated GIF (LZW-compressed frames over an
    // exact 256-gray palette, so the round trip is lossless by
    // construction), sampled through the JDK GIF reader with a
    // structure-only scan first and ONLY the sampled frames
    // LZW-decoding. Same pixel formula, same sampling arithmetic,
    // same oracle as p29 — one fixture intent, two containers, which
    // pins that the sampler's numbers come from the DECODE, not the
    // container. Compressed audio/video beyond GIF (H.264, MP3 …)
    // remain FakeCodec-stubbed behind requireRealDecode — no JDK
    // codec exists; GIF moves the honest line one real format
    // forward.
    ("p221_gif_frames", Twinned { (s, d, t) =>
      import graft.multimodal.ImageCodec
      t.cut(ImageCodec.sampleGifFrames(
          ImageCodec.SyntheticVideos.gifFixture(t.in(Tables.documents(s, d)),
            col("doc_id")),
          col("media_id"), col("payload"), maxFrames = 3))
        .orderBy(col("media_id"), col("frame_idx"))
    }, Some(s"""
      WITH ${graft.multimodal.ImageCodec.SyntheticImages.oracleDims},
      fr AS (SELECT doc_id, seed, w, h, seed % 3 + 2 AS n,
                    least(seed % 3 + 2, 3) AS s FROM dims),
      idx AS (SELECT doc_id, seed, w, h,
                     unnest(list_transform(generate_series(0, s - 1),
                       t -> t * n // s)) AS frame_idx
              FROM fr)
      SELECT doc_id AS media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
             CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             CAST(list_sum(list_transform(generate_series(0, w * h - 1),
                    k -> (seed * 31 + k * 7 + frame_idx * 13) % 256)) AS BIGINT)
               AS pix_sum
      FROM idx ORDER BY media_id, frame_idx""")),

    // DELTA-coded animated GIF — the wire shape real-world animations
    // actually use (a full canvas per frame defeats the format):
    // frame 0 is a full keyframe, every later frame a PARTIAL
    // two-row rect drawn at its offset under doNotDispose, so the
    // sampler must COMPOSITE per the GIF89a model to see the right
    // pixels (reading frame f's rect alone would miss the base and
    // every other band). Bands are disjoint across frames, so the
    // composited frame F is pure arithmetic — base everywhere, each
    // band showing its own f's formula — and the oracle writes the
    // per-frame pixel sums down from that arithmetic. A wrong
    // disposal walk, offset, or keyframe-window cut changes every
    // sampled sum.
    ("p226_gif_delta_frames", (s, d) => {
      import graft.multimodal.ImageCodec
      ImageCodec.sampleGifFrames(
          ImageCodec.SyntheticVideos.gifDeltaFixture(Tables.documents(s, d),
            col("doc_id")),
          col("media_id"), col("payload"), maxFrames = 3)
        .orderBy(col("media_id"), col("frame_idx"))
    }, Some {
      val w = graft.multimodal.ImageCodec.SyntheticVideos.deltaW
      val h = graft.multimodal.ImageCodec.SyntheticVideos.deltaH
      val di = graft.multimodal.ImageCodec.SyntheticImages.distinctImages
      s"""
      WITH fr AS (SELECT doc_id, doc_id % $di AS seed,
                         CAST(doc_id % $di AS INT) % 3 + 2 AS n
                  FROM documents),
      fx AS (SELECT doc_id, seed, n, least(n, 3) AS s FROM fr),
      idx AS (SELECT doc_id, seed,
                     unnest(list_transform(generate_series(0, s - 1),
                       t -> t * n // s)) AS fi
              FROM fx),
      px AS (SELECT doc_id, seed, fi,
                    unnest(generate_series(0, ${w * h - 1})) AS k
             FROM idx),
      v AS (SELECT doc_id, fi, k,
              CASE WHEN k // $w >= 2 AND k // $w < 2 * fi + 2
                   THEN (seed * 17 + k * 5 + (k // $w // 2) * 29) % 256
                   ELSE (seed * 31 + k * 7) % 256 END AS pv
            FROM px)
      SELECT doc_id AS media_id, CAST(fi AS BIGINT) AS frame_idx,
             CAST($w AS BIGINT) AS width, CAST($h AS BIGINT) AS height,
             CAST(sum(pv) AS BIGINT) AS pix_sum
      FROM v GROUP BY 1, 2 ORDER BY 1, 2"""
    }),

    // SQ8 store APPEND — the serving tier's ingest path: the store
    // publishes on the EVEN half (whose min/max define the model),
    // then the odd half appends with codes minted against the FROZEN
    // model — components outside the build range CLAMP to the
    // boundary code (the FAISS convention; odd vectors routinely
    // exceed an even-only min/max, so the clamp genuinely bites).
    // The served ranking over the merged store is the gated output:
    // the oracle recomputes the even-only model, the CLAMPED encode
    // arithmetic for every stored vector (identity for the in-range
    // build half), the unclamped query dequant, and the full ranking
    // — a model leak from the appended half (retraining on append)
    // or a missing clamp flips scores and hash-fails.
    ("p228_sq8_append", (s, d) => {
      import graft.similarity.SimilaritySearch
      val e = Tables.embeddings(s, d)
      val base = graft.sources.Sinks.tempArtifactDir("sq8_append")
      val build = e.filter(col("vec_id") % 2 === 0)
      val panel = e.filter(col("vec_id") < 20).localCheckpoint(eager = false)
      SimilaritySearch.publishSq8Store(s, base,
        build, col("vec_id"), col("embedding"),
        panel, col("vec_id"), col("embedding"), k = 5,
        recallFloorMicro = 500000L)
      SimilaritySearch.appendToSq8Store(s, base,
        e.filter(col("vec_id") % 2 === 1), col("vec_id"), col("embedding"))
      SimilaritySearch.sq8TopKCurrent(s, base, panel, col("vec_id"),
          col("embedding"), k = 5)
        .orderBy(col("query_id"), col("rank"))
    }, Some("""
      WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      b AS (SELECT * FROM c WHERE vec_id % 2 = 0),
      st AS (SELECT i AS dim, min(v[i]) AS lo, max(v[i]) AS hi
             FROM b, generate_series(1, 64) t(i) GROUP BY 1),
      m AS (SELECT list(lo ORDER BY dim) AS lo, list(hi ORDER BY dim) AS hi
            FROM st),
      dq AS (SELECT vec_id, list_transform(v, (x, i) ->
               CASE WHEN m.hi[i] = m.lo[i] THEN m.lo[i]
                    ELSE m.lo[i] + floor(
                           (least(m.hi[i], greatest(m.lo[i], x)) - m.lo[i])
                           * 255.0 / (m.hi[i] - m.lo[i]) + 0.5)
                         * (m.hi[i] - m.lo[i]) / 255.0 END) AS v
             FROM c, m),
      qd AS (SELECT vec_id AS query_id, list_transform(v, (x, i) ->
               CASE WHEN m.hi[i] = m.lo[i] THEN m.lo[i]
                    ELSE m.lo[i] + floor((x - m.lo[i]) * 255.0
                           / (m.hi[i] - m.lo[i]) + 0.5)
                         * (m.hi[i] - m.lo[i]) / 255.0 END) AS qv
             FROM c, m WHERE vec_id < 20),
      ds AS (SELECT query_id, dq.vec_id AS neighbor_id,
               round(list_dot_product(dq.v, qv) /
                     (sqrt(list_dot_product(dq.v, dq.v)) *
                      sqrt(list_dot_product(qv, qv))), 6) AS cos
             FROM dq, qd WHERE dq.vec_id <> query_id),
      sq AS (SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS rank
             FROM ds)
      SELECT query_id, neighbor_id, cos, CAST(rank AS BIGINT) AS rank
      FROM sq WHERE rank <= 5 ORDER BY query_id, rank""")),

    // SENTENCE-budget RAG chunking — p60's retrieval-quality sibling:
    // rule-based sentence segmentation (abbreviation + single-initial
    // periods never split — the Dr./J./Fig. hazard stripe pins it
    // through the oracle gate), then greedy packing of CONSECUTIVE
    // sentences into <= 10-token chunks, never splitting a sentence.
    // The formulaic stripes make the greedy boundaries pure
    // arithmetic (all of a doc's sentences share one token count, so
    // chunks are fixed-size groups); the hazard stripe's expected
    // rows are written down by hand from the splitter's stated rules.
    ("p227_sentence_chunks", Twinned { (s, d, t) =>
      t.cut(graft.text.CorpusOps.chunkBySentence(
          t.in(Tables.documents(s, d))
            .select(col("doc_id"), sentenceFixtureText.as("text")),
          col("doc_id"), col("text"), maxTokens = 10))
        .localCheckpoint(eager = false) // one-shot: the sort samples then re-runs its child
        .orderBy(col("doc_id"), col("chunk_idx"))
    }, Some("""
      WITH base AS (SELECT doc_id, CAST(doc_id % 3 + 3 AS BIGINT) AS s,
                           CAST(doc_id % 5 + 2 AS BIGINT) AS n,
                           CASE CAST(doc_id % 3 AS INT)
                             WHEN 0 THEN ' f1 f2'
                             WHEN 1 THEN ' f1 f2 f3'
                             ELSE ' f1 f2 f3 f4' END AS fil
                    FROM documents WHERE doc_id % 7 <> 3),
      k AS (SELECT *, 10 // s AS k FROM base),
      c AS (SELECT doc_id, s, n, fil, k,
                   unnest(generate_series(0,
                     CAST((n + k - 1) // k - 1 AS INT))) AS ci
            FROM k),
      r AS (SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
                   array_to_string(list_transform(
                     generate_series(CAST(ci * k AS INT),
                       CAST(least(n, (ci + 1) * k) - 1 AS INT)),
                     j -> 'd' || doc_id || 's' || j || fil || '.'),
                     ' ') AS chunk_text,
                   least(n, (ci + 1) * k) - ci * k AS n_sentences,
                   (least(n, (ci + 1) * k) - ci * k) * s AS n_tokens
            FROM c),
      hz AS (SELECT d.doc_id, t.chunk_idx, t.chunk_text, t.n_sentences,
                    t.n_tokens
             FROM (VALUES
               (CAST(0 AS BIGINT),
                'Dr. Smith met J. Jones today. It was fine.',
                CAST(2 AS BIGINT), CAST(9 AS BIGINT)),
               (CAST(1 AS BIGINT), 'See Fig. 2 now.',
                CAST(1 AS BIGINT), CAST(4 AS BIGINT)))
               t(chunk_idx, chunk_text, n_sentences, n_tokens),
             (SELECT doc_id FROM documents WHERE doc_id % 7 = 3) d)
      SELECT doc_id, chunk_idx, chunk_text, n_sentences, n_tokens FROM r
      UNION ALL
      SELECT doc_id, chunk_idx, chunk_text, n_sentences, n_tokens FROM hz
      ORDER BY doc_id, chunk_idx""")),

    // ONE maintenance HISTORY interleaving the whole LSM triple —
    // build on half the archive, the other half arrives as an append
    // batch (compact), the hottest shard SPLITS, a takedown
    // tombstones the src10..19 middle (compact again), the resulting
    // undersized run COALESCES — and the p174 pruned serve against
    // the final layout returns exactly the surviving slice,
    // byte-exact. The gated fact is history-independence: the serve
    // expectation is written down from the LOGICAL deltas alone
    // (which docs exist, which were taken down), never from the
    // maintenance order — the SourcesSpec order-idempotence pin
    // proves three different op orders end in the same logical
    // table; this entry gates one full interleaving end-to-end
    // against DuckDB. Every step's cost stays ∝ its delta (append
    // routes via the shard table's literal HOF, split moves one
    // shard, coalesce rewrites only the undersized run).
    ("p219_cdx_history", (s, d) => {
      import graft.sources.Warc
      val docs = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" hist "),
          col("doc_id").cast("string")).as("text"))
      val warcs = warcFixtureFrom(docs).localCheckpoint()
      val cdx = Warc.cdxIndex(
          Warc.parseWarc(warcs, col("file_id"), col("payload")))
        .localCheckpoint()
      val did = fixtureDocId
      val dir = graft.sources.Sinks.tempArtifactDir("cdx_history")
      Warc.writeCdxShards(cdx.filter(did % 2 === 0), dir, numShards = 8)
      Warc.compactCdxShards(dir, cdx.filter(did % 2 === 1))
      val hottest = Warc.readCdxShards(s, dir, cdx.schema).groupBy(col("shard"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("shard")).collect().head.getInt(0)
      Warc.splitCdxShard(dir, cdx.schema, hottest, n = 3)
      Warc.compactCdxShards(dir, cdx.filter(lit(false)),
        tombstones = Some(cdx.filter(did % 20 >= 10 && did % 5 =!= 0)
          .select(col("file_id"), col("offset"))))
      Warc.coalesceCdxShards(dir, cdx.schema, minRows = live => math.max(2L, live / 10))
      val panel = docs.filter(col("doc_id") % 37 === 0 &&
          (col("doc_id") % 20 < 10 || col("doc_id") % 5 === 0))
        .select(concat(lit("https://www.src"),
          (col("doc_id") % 20).cast("string"), lit(".com/p/"),
          col("doc_id").cast("string")).as("url"))
        .select(graft.functions.SourceFamily.surtKey(col("url"))
          .as("surt_key"))
      // layout schema is fixed by the write contract: read it given,
      // not inferred (skips the per-open driver footer pass)
      val hits = Warc.serveCdx(Warc.readCdxShards(s, dir, cdx.schema), panel)
      Warc.fetchRecords(warcs, col("file_id"), col("payload"),
          hits.select(col("file_id"), col("record_idx"), col("offset"),
            col("record_bytes")))
        .select(fixtureDocId.as("doc_id"), col("body"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id, text || ' hist ' || CAST(doc_id AS VARCHAR) AS body
      FROM documents
      WHERE doc_id % 37 = 0 AND (doc_id % 20 < 10 OR doc_id % 5 = 0)
      ORDER BY doc_id""")))

  /** p205/q146's oracle: the full trigram-KN recursion recomputed in
    * SQL — trigram counts, context totals, middle-level CONTINUATION
    * counts (distinct preceding words, the level where a raw-count
    * implementation red-rows), the bigram-type bottom level, and the
    * same one-truncation-per-trigram micro-nat chain. The count CTEs
    * are MATERIALIZED and the scoring joins carry explicit ON
    * conditions: DuckDB's join-order optimizer turns the inlined
    * 6-way USING chain into CROSS_PRODUCTs (measured: 90 GB of spill
    * at sf0.01); the fences keep every join the keyed hash join it
    * is.
    */
  private[graft] val kn3PerplexityOracle: String = s"""
      WITH t AS (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents),
      t3 AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 3),
      tg AS MATERIALIZED (SELECT doc_id, u.w1 AS w1, u.w2 AS w2, u.w3 AS w3 FROM (
               SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
                 i -> {'w1': toks[i], 'w2': toks[i+1], 'w3': toks[i+2]})) AS u
               FROM t3)),
      c123 AS MATERIALIZED (SELECT w1, w2, w3, count(*) AS c123
               FROM tg GROUP BY 1, 2, 3),
      ctx12 AS MATERIALIZED (SELECT w1, w2,
                  CAST(sum(c123) AS BIGINT) AS ctx_total,
                  count(*) AS n1p_ctx FROM c123 GROUP BY 1, 2),
      midc AS MATERIALIZED (SELECT w2, w3, count(*) AS n1p_mid
               FROM c123 GROUP BY 1, 2),
      midx AS MATERIALIZED (SELECT w2,
                 CAST(sum(n1p_mid) AS BIGINT) AS mid_total,
                 count(*) AS n1p_w2 FROM midc GROUP BY 1),
      t2 AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
      bg AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
               SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                 i -> {'w1': toks[i], 'w2': toks[i+1]})) AS u
               FROM t2)),
      c12 AS MATERIALIZED (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
      cont AS MATERIALIZED (SELECT w2 AS w3, count(*) AS n1p_right
               FROM c12 GROUP BY 1),
      v AS MATERIALIZED (SELECT count(*) AS n_types FROM c12),
      sc AS (SELECT tg.doc_id,
               CAST(round(-ln(greatest(c123.c123 - 0.75, 0) / ctx12.ctx_total
                 + 0.75 * ctx12.n1p_ctx / ctx12.ctx_total
                   * (greatest(midc.n1p_mid - 0.75, 0) / midx.mid_total
                      + 0.75 * midx.n1p_w2 / midx.mid_total
                        * (CAST(cont.n1p_right AS DOUBLE) / v.n_types))) * 1e6, 0)
                 AS BIGINT) AS nll_micro
             FROM tg
             JOIN c123 ON c123.w1 = tg.w1 AND c123.w2 = tg.w2
                      AND c123.w3 = tg.w3
             JOIN ctx12 ON ctx12.w1 = tg.w1 AND ctx12.w2 = tg.w2
             JOIN midc ON midc.w2 = tg.w2 AND midc.w3 = tg.w3
             JOIN midx ON midx.w2 = tg.w2
             JOIN cont ON cont.w3 = tg.w3, v)
      SELECT doc_id, count(*) AS n_trigrams,
             round(sum(nll_micro) / count(*) / 1e6, 6) AS nll,
             round(exp(sum(nll_micro) / count(*) / 1e6), 3) AS ppl
      FROM sc GROUP BY 1 ORDER BY doc_id"""

  /** p204/q145's fixture paths, one per doc_id residue — constants
    * shared verbatim with the oracle's CASE (the ByteAlphabet rule).
    */
  private[graft] val robotsWildcardPaths: Seq[String] = Seq(
    "/p/fish", "/p/fish/salmon", "/p/cat.php", "/p/cat.php?x=1",
    "/p/fish.php", "/q/other", "/p/fishheads/x", "/p/deep/cat.php")

  /** The fixture-URL projection p204 and q145 share (one definition,
    * batch and stream). Family derives FROM the URL, as production
    * would — a literal family would constant-fold out of the rules
    * join's equi-key and demote the broadcast hash join to a
    * nested-loop one.
    */
  private[graft] def robotsWildcardUrls(df: DataFrame): DataFrame =
    df.select(concat(lit("https://x.com"),
        element_at(array(robotsWildcardPaths.map(lit): _*),
          (col("doc_id") % 8).cast("int") + 1)).as("canonical"))
      .select(col("canonical"),
        regexp_extract(col("canonical"), "^https?://([^/]*)", 1)
          .as("dst_family"))

  /** p204/q145's fixture robots.txt — the wildcard group the oracle's
    * VALUES mirrors, plus a decoy non-`*` group that must NOT apply.
    */
  private[graft] val robotsWildcardTxt: String =
    "User-agent: bot\nDisallow: /\n\n" +
      "User-agent: *\nAllow: /p/fish*\nDisallow: /p/fish/\n" +
      "Disallow: /p/*.php$\n"

  /** The shared CTE chain of p202/p203/p207's oracles: hash40-
    * bucketed token-count features, labels, and TWO logistic GD
    * iterations in closed form — iteration 1 from w₀ = 0 (residual =
    * 500000 − 1000000·y exactly), iteration 2 through σ with the same
    * one-truncation-per-doc micro discipline as
    * [[graft.text.QualityLr.trainLr]]. `where` restricts the TRAINING
    * slice (p207 trains on the even documents).
    */
  private def qualityLrChainFor(where: String): String = s"""
      WITH toks AS (SELECT doc_id, unnest(${sqlToks("text")}) AS tok
                    FROM documents $where),
      feat AS (SELECT doc_id, CAST(${sqlHash40("tok")} % 16 AS BIGINT)
                 AS bucket, count(*) AS x
               FROM toks GROUP BY 1, 2),
      lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
              FROM documents $where),
      nn AS (SELECT count(*) AS n FROM lab),
      r1 AS (SELECT doc_id, CAST(500000 - 1000000 * y AS BIGINT) AS r
             FROM lab),
      g1 AS (SELECT bucket, sum(r * x) AS g
             FROM feat JOIN r1 USING (doc_id) GROUP BY 1),
      w1 AS (SELECT bucket, CAST(0 - round(0.5 * g / n, 0) AS BIGINT) AS w
             FROM g1, nn),
      w1b AS (SELECT CAST(0 - round(0.5 * (SELECT sum(r) FROM r1) / n, 0)
                AS BIGINT) AS w FROM nn),
      m2 AS (SELECT l.doc_id, l.y,
               (SELECT w FROM w1b) + coalesce(s.s, 0) AS m
             FROM lab l LEFT JOIN (
               SELECT f.doc_id, sum(w * x) AS s
               FROM feat f JOIN w1 USING (bucket) GROUP BY 1) s
               ON s.doc_id = l.doc_id),
      r2 AS (SELECT doc_id,
               CAST(round((1.0 / (1.0 + exp(-(m / 1e6))) - y) * 1e6, 0)
                 AS BIGINT) AS r
             FROM m2),
      g2 AS (SELECT bucket, sum(r * x) AS g
             FROM feat JOIN r2 USING (doc_id) GROUP BY 1),
      w2 AS (SELECT bucket,
               CAST(w - round(0.5 * g / n, 0) AS BIGINT) AS w_micro
             FROM w1 JOIN g2 USING (bucket), nn),
      w2b AS (SELECT CAST((SELECT w FROM w1b)
                 - round(0.5 * (SELECT sum(r) FROM r2) / n, 0)
                 AS BIGINT) AS w_micro FROM nn)"""

  private val qualityLrChain: String = qualityLrChainFor("")

  private[graft] val qualityLrScoreOracle: String = s"""
      $qualityLrChain,
      m3 AS (SELECT l.doc_id,
               (SELECT w_micro FROM w2b) + coalesce(s.s, 0) AS m_micro
             FROM lab l LEFT JOIN (
               SELECT f.doc_id, sum(w_micro * x) AS s
               FROM feat f JOIN w2 USING (bucket) GROUP BY 1) s
               ON s.doc_id = l.doc_id)
      SELECT doc_id, CAST(m_micro AS BIGINT) AS m_micro,
             round(1.0 / (1.0 + exp(-(m_micro / 1e6))), 6) AS p_r6,
             m_micro > 0 AS good_pred
      FROM m3 ORDER BY doc_id"""

  /** q144's oracle: p203's scoring chain restricted to documents WITH
    * tokens — the streaming twin scores token-level off the stream
    * (one stateful aggregate), so a tokenless document has no row to
    * aggregate; the batch entry's LEFT-JOIN bias rows exist only
    * batch-side where the doc spine is a static frame. The corpora
    * here have no tokenless docs, but the oracle states the twin's
    * actual domain rather than borrowing one it only accidentally
    * matches.
    */
  private[graft] val qualityLrScoreTokenfulOracle: String = s"""
      $qualityLrChain,
      m3 AS (SELECT s.doc_id,
               (SELECT w_micro FROM w2b) + s.s AS m_micro
             FROM (SELECT f.doc_id, sum(w_micro * x) AS s
                   FROM feat f JOIN w2 USING (bucket) GROUP BY 1) s)
      SELECT doc_id, CAST(m_micro AS BIGINT) AS m_micro,
             round(1.0 / (1.0 + exp(-(m_micro / 1e6))), 6) AS p_r6,
             m_micro > 0 AS good_pred
      FROM m3 ORDER BY doc_id"""

  private[graft] val knPerplexityOracle: String = s"""
      WITH t AS (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents),
      t2 AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
      bg AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
               SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                 i -> {'w1': toks[i], 'w2': toks[i+1]})) AS u
               FROM t2)),
      c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
      ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS ctx_total,
                count(*) AS n1p_left FROM c12 GROUP BY 1),
      cont AS (SELECT w2, count(*) AS n1p_right FROM c12 GROUP BY 1),
      v AS (SELECT count(*) AS n_types FROM c12),
      sc AS (SELECT doc_id,
               CAST(round(-ln(greatest(c12 - 0.75, 0) / ctx_total
                 + 0.75 * n1p_left / ctx_total
                   * (CAST(n1p_right AS DOUBLE) / n_types)) * 1e6, 0)
                 AS BIGINT) AS nll_micro
             FROM bg JOIN c12 USING (w1, w2) JOIN ctx USING (w1)
                     JOIN cont USING (w2), v)
      SELECT doc_id, count(*) AS n_bigrams,
             round(sum(nll_micro) / count(*) / 1e6, 6) AS nll,
             round(exp(sum(nll_micro) / count(*) / 1e6), 3) AS ppl
      FROM sc GROUP BY 1 ORDER BY doc_id"""

  /** p191/p195's trap vocabulary — constants shared verbatim with
    * [[unigramViterbiOracle]] (the ByteAlphabet rule): 'ba'/'aba' are
    * the pieces a greedy-longest segmenter would take; the planted
    * scores make k×'ab' + m×'a' the unique optimum on every fixture
    * word.
    */
  private[graft] val unigramTrapVocab: Seq[(String, Long)] = Seq(
    ("a", -2000000L), ("b", -2100000L), ("ab", -1500000L),
    ("ba", -1600000L), ("aba", -3900000L))

  /** The Viterbi serving body p191 and p195 share: segment the
    * ab^k a^m fixture words, then derive n_pieces/score_micro from
    * the SEGMENTATION via an inner join to the score table (a piece
    * outside the vocabulary loses rows) — never from the kernel's
    * internal DP value.
    */
  private def unigramViterbiBody(s: SparkSession, d: String,
                                 vocab: Seq[(String, Long)]): DataFrame = {
    val docs = Tables.documents(s, d)
    val k = (col("doc_id") % 4 + 1).cast("int")
    val m = (col("doc_id") % 3).cast("int")
    val words = docs.select(col("doc_id"),
      concat(repeat(lit("ab"), k), repeat(lit("a"), m)).as("w"))
    val seg = words.select(col("doc_id"),
      graft.functions.UnigramEncode(col("w"), vocab).as("seg"))
    import s.implicits._
    val scoreDf = vocab.toDF("piece", "piece_score")
    seg.select(col("doc_id"), col("seg"),
        explode(split(col("seg"), "\\|")).as("piece"))
      .join(broadcast(scoreDf), Seq("piece"))
      .groupBy(col("doc_id"), col("seg"))
      .agg(count(lit(1)).as("n_pieces"),
        sum(col("piece_score")).as("score_micro"))
      .orderBy(col("doc_id"))
  }

  private[graft] val unigramViterbiOracle: String = """
      SELECT doc_id,
        rtrim(repeat('ab|', k) || repeat('a|', m), '|') AS seg,
        CAST(k + m AS BIGINT) AS n_pieces,
        CAST(-(1500000 * k + 2000000 * m) AS BIGINT) AS score_micro
      FROM (SELECT doc_id, doc_id % 4 + 1 AS k, doc_id % 3 AS m
            FROM documents)
      ORDER BY doc_id"""

  /** p196/p199's trap vocabulary — constants shared verbatim with
    * [[wordPieceEncodeOracle]] (the ByteAlphabet rule): '##b' is
    * deliberately ABSENT, so on (ab)^k a^m only the longest-match
    * path ('##ab' jumps) segments at all — an encoder that matched
    * short-first would dead-end at every interior 'b'; and '##bc'
    * without '##c' is the greedy dead-end — 'abc' has the
    * segmentation a ##bc, but greedy consumes 'ab' first and strands
    * 'c', so the whole word is [UNK].
    */
  private[graft] val wordPieceTrapVocab: Seq[String] =
    Seq("a", "ab", "##a", "##ab", "##bc")

  /** The round-trip gate p198 and q147 share: segment every corpus
    * document with the trained vocabulary and reassemble (strip each
    * piece boundary's separator plus the injected ## prefix; the
    * corpus is #-free, so the strip is unambiguous). Served with the
    * long-word guard lifted past any corpus token — the guard [UNK]s
    * words over maxWordCp code points BEFORE the vocabulary is
    * consulted, and the oracle asserts the round-trip unconditionally.
    */
  private[graft] def wordPieceRoundTrip(docs: DataFrame,
                                        vocab: Seq[String]): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.WordPieceEncode(col("text"), vocab, "[UNK]",
          "|", maxWordCp = 1 << 20).as("seg"),
        TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        (regexp_replace(col("seg"), "\\|(##)?", "") ===
          array_join(col("toks"), "")).as("ok"))
      .orderBy(col("doc_id"))

  private[graft] val wordPieceRoundTripOracle: String = """
      SELECT doc_id, CAST(1 AS BOOLEAN) AS ok
      FROM documents ORDER BY doc_id"""

  /** The fixture-word projection p196/p199/q142 ALL read (batch and
    * stream run one definition, so the words cannot drift from the
    * oracle's k/m arithmetic): (ab)^k a^m plus the constant dead-end
    * word 'abc'.
    */
  private[graft] def wordPieceFixtureWords(df: DataFrame): DataFrame = {
    val k = (col("doc_id") % 4 + 1).cast("int")
    val m = (col("doc_id") % 3).cast("int")
    df.select(col("doc_id"),
      concat(repeat(lit("ab"), k), repeat(lit("a"), m)).as("w1"),
      lit("abc").as("w2"))
  }

  /** The shared serving projection over [[wordPieceFixtureWords]]:
    * n_pieces derives from the SEGMENTATION (split + size), never
    * from kernel internals. No sort — streams order at the sink.
    */
  private[graft] def wordPieceSegCols(words: DataFrame,
                                      vocab: Seq[String]): DataFrame =
    words.select(col("doc_id"),
        graft.functions.WordPieceEncode(col("w1"), vocab).as("seg"),
        graft.functions.WordPieceEncode(col("w2"), vocab).as("seg2"))
      .select(col("doc_id"), col("seg"),
        size(split(col("seg"), "\\|")).cast("long").as("n_pieces"),
        col("seg2"))

  private[graft] val wordPieceEncodeOracle: String = """
      SELECT doc_id,
        'ab' || repeat('|##ab', k - 1) || repeat('|##a', m) AS seg,
        CAST(k + m AS BIGINT) AS n_pieces,
        '[UNK]' AS seg2
      FROM (SELECT doc_id, doc_id % 4 + 1 AS k, doc_id % 3 AS m
            FROM documents)
      ORDER BY doc_id"""

  /** Oracle-side twin of [[warcFixtureFrom]] PLUS the byte-extent
    * arithmetic of [[graft.sources.Warc.writeWarc]]'s rendering: CTE
    * `ext` carries every fixture record with its `record_bytes`
    * (21 + |type| + [19 + |uri|] + [13 + |date|] + [18 + |rid|] +
    * [16 + |ct|] + 18 + digits(len) + 4 + len + 4 — the exact rendered
    * framing, counted in BYTES via encode()) and
    * `offset` (prefix sum within the file), so entries over the
    * parsed archive gate byte extents against INDEPENDENT doc_id
    * arithmetic, never against the parser itself. `conv` keeps the
    * doc_id so downstream archive entries (CDX fetch panel, re-shard)
    * can anchor their own arithmetic to it.
    */
  private def warcFixtureOracleSql(select: String): String =
    warcFixtureOracleSqlFrom(
      "SELECT doc_id, text, CAST(0 AS BIGINT) AS fno FROM documents", select)

  /** The refetch-aware form: `dsrcSql` yields (doc_id, text, fno)
    * rows; fetch k's records land in file `doc_id % 8 + 8k` — the
    * oracle twin of calling [[warcFixtureFrom]] once per fetch batch
    * with `fileBase = 8k`.
    */
  private[graft] def warcFixtureOracleSqlFrom(dsrcSql: String,
                                       select: String): String = s"""
      WITH dsrc AS ($dsrcSql),
      conv AS (
        SELECT doc_id % 8 + 8 * fno AS file_id,
               CAST(row_number() OVER (PARTITION BY doc_id % 8 + 8 * fno
                 ORDER BY doc_id) AS BIGINT) AS record_idx,
               'conversion' AS warc_type,
               'https://www.src' || CAST(doc_id % 20 AS VARCHAR)
                 || '.com/p/' || CAST(doc_id AS VARCHAR) AS target_uri,
               CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
               text AS body, doc_id,
               strftime(epoch_ms((1767225600 + doc_id + fno * 86400) * 1000),
                 '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
               'text/plain' AS content_type,
               '<urn:graft:' || CAST(doc_id AS VARCHAR) || ':'
                 || CAST(fno AS VARCHAR) || '>' AS record_id
        FROM dsrc),
      info AS (
        SELECT DISTINCT doc_id % 8 + 8 * fno AS file_id,
               CAST(0 AS BIGINT) AS record_idx,
               'warcinfo' AS warc_type, CAST(NULL AS VARCHAR) AS target_uri,
               CAST(13 AS BIGINT) AS content_length,
               'graft-crawler' AS body, CAST(NULL AS BIGINT) AS doc_id,
               CAST(NULL AS VARCHAR) AS warc_date,
               CAST(NULL AS VARCHAR) AS content_type,
               CAST(NULL AS VARCHAR) AS record_id
        FROM dsrc),
      base AS (SELECT * FROM info UNION ALL SELECT * FROM conv),
      sized AS (
        SELECT *, CAST(21 + octet_length(encode(warc_type))
            + CASE WHEN target_uri IS NULL THEN 0
                   ELSE 19 + octet_length(encode(target_uri)) END
            + CASE WHEN warc_date IS NULL THEN 0
                   ELSE 13 + octet_length(encode(warc_date)) END
            + CASE WHEN record_id IS NULL THEN 0
                   ELSE 18 + octet_length(encode(record_id)) END
            + CASE WHEN content_type IS NULL THEN 0
                   ELSE 16 + octet_length(encode(content_type)) END
            + 18 + length(CAST(content_length AS VARCHAR))
            + 4 + content_length + 4 AS BIGINT) AS record_bytes
        FROM base),
      ext AS (
        SELECT *, CAST(coalesce(sum(record_bytes) OVER (
            PARTITION BY file_id ORDER BY record_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS "offset"
        FROM sized)
      $select"""

  private def cast_bin(c: Column): Column = c.cast("binary")

  /** The HTTP entries' WARC wrap: each (doc_id, msg BINARY) row lands
    * as a `response` record (`Content-Type: application/http;
    * msgtype=response` — the WARC-level media type real crawls stamp)
    * in file doc_id % 8, with the p167 uri/date/urn arithmetic so the
    * oracles anchor to doc_id alone.
    */
  private[graft] def httpResponseWarcFrom(msgs: DataFrame,
                                          fileBase: Long = 0L): DataFrame = {
    val uri = concat(lit("https://www.src"),
      (col("doc_id") % 20).cast("string"), lit(".com/p/"),
      col("doc_id").cast("string"))
    // fetch batch k (fileBase/8) lands one day later, in files 8k..8k+7,
    // with batch-unique record ids — the warcFixtureFrom refetch rule
    val date = date_format(timestamp_seconds(
        lit(1767225600L) + col("doc_id") + lit(fileBase / 8 * 86400L)),
      "yyyy-MM-dd'T'HH:mm:ss'Z'")
    val rid = concat(lit("<urn:graft:"), col("doc_id").cast("string"),
      lit(":"), lit(fileBase / 8).cast("string"), lit(">"))
    graft.sources.Warc.writeWarcBin(
      msgs.select((col("doc_id") % 8 + fileBase).as("f"),
        col("doc_id").as("i"),
        uri.as("u"), col("msg"), date.as("dt"), rid.as("rid")),
      col("f"), col("i"), lit("response"), col("u"), col("msg"),
      col("dt"), lit("application/http; msgtype=response"), col("rid"))
  }

  /** p167's WARC fixture: docs pack into 8 files (doc_id % 8), each a
    * warcinfo record (idx -1 sorts first) followed by one `conversion`
    * record per doc in doc_id order. Rendering goes through the
    * ENGINE's own sink half ([[graft.sources.Warc.writeWarc]] — one
    * assembly definition, parse∘write identity spec-pinned); the
    * generative oracle recomputes the fields from the same doc_id
    * arithmetic.
    */
  private[graft] def warcFixtureFrom(docs: DataFrame,
                                     fileBase: Long = 0L,
                                     recordType: String = "conversion",
                                     gzMembers: Boolean = false): DataFrame = {
    val uri = concat(lit("https://www.src"),
      (col("doc_id") % 20).cast("string"), lit(".com/p/"),
      col("doc_id").cast("string"))
    val file = (col("doc_id") % 8) + fileBase
    // capture time: fixture epoch + doc_id seconds, one day later per
    // fetch batch (fileBase/8) — CC's WARC-Date, ISO 8601 in UTC
    val date = date_format(timestamp_seconds(
        lit(1767225600L) + col("doc_id") + lit(fileBase / 8 * 86400L)),
      "yyyy-MM-dd'T'HH:mm:ss'Z'")
    // block media type + record id on the doc records (the WET
    // convention: conversion blocks are text/plain; ids unique per
    // RECORD, so the fetch-batch number rides the urn) — warcinfo
    // keeps nulls, exercising the optional-header render path
    val ctype = lit("text/plain")
    val rid = concat(lit("<urn:graft:"), col("doc_id").cast("string"),
      lit(":"), lit(fileBase / 8).cast("string"), lit(">"))
    val recs = docs.select(file.as("f"), col("doc_id").as("i"),
        lit(recordType).as("t"), uri.as("u"), col("text").as("b"),
        date.as("dt"), ctype.as("ct"), rid.as("rid"))
      .unionByName(docs.select(file.as("f")).distinct()
        .select(col("f"), lit(-1L).as("i"), lit("warcinfo").as("t"),
          lit(null).cast("string").as("u"), lit("graft-crawler").as("b"),
          lit(null).cast("string").as("dt"),
          lit(null).cast("string").as("ct"),
          lit(null).cast("string").as("rid")))
    if (gzMembers)
      graft.sources.Warc.writeWarcGz(recs, col("f"), col("i"), col("t"),
        col("u"), col("b"), col("dt"), col("ct"), col("rid"))
    else
      graft.sources.Warc.writeWarc(recs, col("f"), col("i"), col("t"),
        col("u"), col("b"), col("dt"), col("ct"), col("rid"))
  }

  /** The inverse of the fixtures' page URI (`…/p/<doc_id>`, written by
    * [[warcFixtureFrom]] and [[httpResponseWarcFrom]]): the doc id a
    * record's `target_uri` names, null for the warcinfo records.
    */
  private[graft] def fixtureDocId: Column =
    regexp_extract(col("target_uri"), "/p/([0-9]+)$", 1).cast("long")

  /** p130/p131/p132's HTML page fixture — each doc's text wrapped in a
    * full deterministic page. The head block (title/style/script with
    * planted `<`, `&`, quotes in the payloads), a nav zone whose link
    * makes src0.com the graph's hub, the doc text as the content
    * zone, an entity-laden sentence with two content links, a bare
    * third link, and a footer with a tracker link. href targets
    * derive from doc_id arithmetic — (doc_id·7)%20 spreads, doc_id%7
    * concentrates (hubs), doc_id%4 hits .co.uk sinks — and the first
    * is messy on even ids (case, :443, utm, fragment) so
    * canonicalization provably collides it with the odd ids' clean
    * form. The oracles never synthesize this HTML: they derive the
    * expected text/edges generatively from the same arithmetic.
    */
  private[graft] def htmlFixtureText: Column = {
    val id = col("doc_id").cast("string")
    val k0 = (col("doc_id") * 7 % 20).cast("string")
    val k1 = (col("doc_id") % 7).cast("string")
    val k2 = (col("doc_id") % 4).cast("string")
    val href0 = when(col("doc_id") % 2 === 0,
        concat(lit("https://WWW.Src"), k0,
          lit(".COM:443/hub?b=2&a=1&utm_source=feed#top")))
      .otherwise(concat(lit("https://www.src"), k0, lit(".com/hub?a=1&b=2")))
    val href1 = concat(lit("http://cdn3.src"), k1, lit(".com:80/p?id="), id,
      lit("&fbclid=x"))
    val href2 = concat(lit("https://src"), k2, lit(".co.uk/"))
    concat(
      lit("<html><head><title> Doc "), id, lit(" </title>\n" +
        "<style>body { color: #333 }</style>\n" +
        "<script>if (1 < 2) { x = \"a&b\"; }</script>\n" +
        "</head><body>\n" +
        "<nav><a href=\"https://www.src0.com/\">home</a> | menu</nav>\n" +
        "<h1>Doc "), id, lit("</h1>\n<p>"), col("text"),
      lit("</p>\n<p>Compare <a href=\""), href0,
      lit("\">A</a> &amp; <a href=\""), href1,
      lit("\">B</a> &lt;quoted&gt; it&#39;s <b>fine</b></p>\n<a href=\""),
      href2,
      lit("\">more</a>\n<footer>(c) 2026 <a href=\"" +
        "https://tracker.example.com/\">data &amp; crawl <b>hub</b>" +
        "</a> corp</footer>\n</body></html>"))
  }

  /** The (doc_id, page_url, html) page frame p130/p131/p132 share:
    * provenance from the p63 messy-URL fixture, markup from
    * [[htmlFixtureText]].
    */
  private def htmlPages(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      messyUrlFixture.as("page_url"), htmlFixtureText.as("html"))

  /** The composed crawl front's DIRECTIVE-DECORATED pages: provenance
    * from the p63 messy-URL fixture, markup from p212's
    * [[nofollowHtmlFixture]] (per-anchor rel no-weight tokens on
    * three stripes, a page-level robots-meta nofollow on the %9≡1
    * stripe, the noopener and description-meta decoys). The crawl
    * front harvests THESE — real pages carry directives, and a
    * schedule built from a harvest that ignores them spends budget on
    * edges a ranking crawl must not count. p130/p131/p132 keep the
    * undecorated [[htmlFixtureText]]: they pin the RAW-harvest
    * semantics (extraction, every-href edges) that the follow harvest
    * is defined against.
    */
  private[graft] def directiveCrawlPages(s: SparkSession,
                                         d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      messyUrlFixture.as("page_url"), nofollowHtmlFixture.as("html"))

  /** The page-level NOINDEX gate over the corpus — what a corpus
    * build must drop BEFORE any dedup/quality/sampling stage reads a
    * byte (a noindex'd page feeding a training corpus is the same
    * policy violation as feeding a search index): each doc's fetched
    * page carries a `<meta name="robots">` (single-quoted on the
    * %11≡3 stripe — the widened attribute grammar rides the corpus
    * gate), a `none` meta on %17≡5, an `X-Robots-Tag: noindex`
    * response header on %13≡2 (the header-only side of the union),
    * and the description-meta decoy everywhere; the flags run through
    * the REAL extraction ([[graft.functions.TextFunctions.metaRobots]]
    * → [[graft.graph.LinkGraph.robotsDirectiveFlags]]) — the oracle
    * keeps [[noindexKeepSql]]'s written-down arithmetic. Scan-stage
    * projection + filter: the gate costs one regex chain per row,
    * never a shuffle. Directive-free corpora pass untouched
    * (robotsDirectiveFlags defaults false/false — spec-pinned).
    */
  private[graft] def noindexGate(docs: DataFrame): DataFrame = {
    val meta = when(col("doc_id") % 11 === 3,
        lit("<meta name='robots' content='noindex'>"))
      .when(col("doc_id") % 17 === 5,
        lit("<meta name=\"robots\" content=\"none\">"))
      .otherwise(lit(""))
    val html = concat(lit("<html><head>"), meta,
      lit("<meta name=\"description\" content=\"noindex\"></head><body>"),
      col("text"), lit("</body></html>"))
    val hdr = when(col("doc_id") % 13 === 2, lit("noindex"))
      .otherwise(lit(null).cast("string"))
    docs.withColumn("__flags",
        graft.graph.LinkGraph.robotsDirectiveFlags(
          graft.functions.TextFunctions.metaRobots(html), hdr))
      .filter(!col("__flags.noindex")).drop("__flags")
  }

  /** [[noindexGate]]'s keep-condition, written down from the fixture
    * arithmetic — the generative-oracle side of the gate.
    */
  private[graft] val noindexKeepSql: String =
    "NOT (doc_id % 11 = 3 OR doc_id % 17 = 5 OR doc_id % 13 = 2)"

  /** The SOFT-404 gate over the corpus — the second page-level drop a
    * corpus build runs beside [[noindexGate]]: a 200-status error
    * page (misconfigured servers answer "Page Not Found" with status
    * 200, so the HTTP layer never catches it) must not feed dedup,
    * LM counts, or sampling. Each doc's fetched page is synthesized
    * so both outcomes bind through the REAL chain
    * ([[graft.functions.TextFunctions.htmlTitle]] /
    * [[graft.functions.TextFunctions.htmlExtract]] →
    * [[graft.graph.CrawlOps.soft404Score]]): the %19≡7 stripe is a
    * planted error page (marker title ×2 + marker body + thin body =
    * score 4 — DROPPED), the %23≡11 stripe is a LEGITIMATE long page
    * whose body merely mentions an error-404 phrase (score 1 —
    * survives: one weak signal never kills a page), everything else
    * carries a clean "Doc {id}" title, so even a corpus text that
    * happens to contain a marker phrase AND run thin tops out at
    * 2 < [[graft.graph.CrawlOps.Soft404Threshold]] — the keep
    * condition is exactly [[soft404KeepSql]]'s arithmetic by
    * construction, title control, not text luck. Scan-stage
    * projection + filter, zero shuffle, same cost shape as
    * [[noindexGate]].
    */
  private[graft] def soft404Gate(docs: DataFrame): DataFrame = {
    val isErr = col("doc_id") % 19 === 7
    val mentions = col("doc_id") % 23 === 11
    val page = when(isErr,
        lit("<html><head><title>Oops — Page Not Found</title></head>" +
          "<body><p>Error 404. It does not exist.</p></body></html>"))
      .otherwise(concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title></head><body><p>"),
        when(mentions, lit("A long guide discussing how to build a " +
          "helpful error 404 page for readers who land on a missing " +
          "resource; ")).otherwise(lit("")),
        col("text"), lit("</p></body></html>")))
    docs.withColumn("__s404",
        graft.graph.CrawlOps.soft404Score(
          graft.functions.TextFunctions.htmlTitle(page),
          graft.functions.TextFunctions.htmlExtract(page)))
      .filter(col("__s404") < graft.graph.CrawlOps.Soft404Threshold)
      .drop("__s404")
  }

  /** [[soft404Gate]]'s keep-condition — fixture arithmetic, exact by
    * the title-control argument in the gate's doc.
    */
  private[graft] val soft404KeepSql: String = "doc_id % 19 <> 7"

  /** The crawl front's page-published ALIAS declarations — hub pages
    * fetched in an earlier round whose markup declares rel=canonical
    * or meta-refresh, authored so every alias behavior binds on the
    * harvested frontier: a hub collapsing to its own root (src4, a
    * NEW frontier key), a CROSS-family collapse into the nav root
    * (src8 → src0's robots-BLOCKED root: the collapse must gate OUT),
    * a refresh merging into another EXISTING frontier key (src6 →
    * src14's hub), a 2-hop refresh→canonical chain (src2 hub → moved
    * → final), a refresh LOOP whose hub must drop from the frontier
    * (src12), a both-forms page whose canonical loses to its refresh
    * (src16 — whose refresh in turn loses to its
    * [[frontierHeaderRedirectsFixture]] HTTP redirect: the full
    * precedence ladder on one page), and a MESSY self-declaration
    * that must canonicalize to self and emit no edge (src18 — whose
    * header redirect then chains it CROSS-LAYER into src2's
    * refresh→canonical tail). At 100 TB this map is the archive's
    * declaration table — corpus-sized, resolved once per crawl round
    * by [[graft.graph.CrawlOps.resolveRedirects]]'s pointer doubling
    * and hash-joined against the frontier; here it is authored and
    * bounded.
    */
  private[graft] val frontierAliasPagesFixture: Seq[(String, String)] = Seq(
    ("https://www.src4.com/hub?a=1&b=2",
      "<html><head><link rel=\"canonical\" " +
        "href=\"https://www.src4.com/\"></head></html>"),
    ("https://www.src8.com/hub?a=1&b=2",
      "<html><head><link rel='canonical' " +
        "href='https://www.src0.com/'></head></html>"),
    ("https://www.src6.com/hub?a=1&b=2",
      "<html><head><meta http-equiv=\"refresh\" " +
        "content=\"0; url=https://www.src14.com/hub?a=1&b=2\">" +
        "</head></html>"),
    ("https://www.src2.com/hub?a=1&b=2",
      "<html><head><meta http-equiv=\"refresh\" " +
        "content=\"3;URL='https://www.src2.com/moved'\"></head></html>"),
    ("https://www.src2.com/moved",
      "<html><head><link rel=\"canonical\" " +
        "href=\"https://www.src2.com/final\"></head></html>"),
    ("https://www.src12.com/hub?a=1&b=2",
      "<html><head><meta http-equiv=\"refresh\" " +
        "content=\"0; url=https://www.src12.com/loop1\"></head></html>"),
    ("https://www.src12.com/loop1",
      "<html><head><meta http-equiv=\"refresh\" " +
        "content=\"0; url=https://www.src12.com/hub?a=1&b=2\">" +
        "</head></html>"),
    ("https://www.src16.com/hub?a=1&b=2",
      "<html><head><link rel=\"canonical\" " +
        "href=\"https://evil.example/never\">" +
        "<meta http-equiv=\"refresh\" " +
        "content=\"0; url=https://www.src16.com/hub2\"></head></html>"),
    ("https://www.src18.com/hub?a=1&b=2",
      "<html><head><link rel=\"canonical\" " +
        "href=\"https://WWW.Src18.COM:443/hub?b=2&a=1&utm_source=x\">" +
        "</head></html>"))

  /** The HTTP half of the composed alias map — the 3xx rows the
    * archive's ledger holds for frontier keys, authored so the HEADER
    * layer changes the worklist in every way it can: a 301 rewriting
    * a hub to a NEW frontier key (src10 — no page-published alias at
    * all, so only the header layer explains the rewrite), a header
    * redirect on the BOTH-FORMS page (src16 — the header must beat
    * the refresh that itself beats the canonical: protocol
    * precedence, visibly), and a CROSS-LAYER chain head (src18's
    * header lands on src2's hub, whose refresh lands on a
    * canonical-declaring page — three hops through three different
    * protocol layers; src18's own messy self-canonical must lose to
    * the header). (src, dst) in the shared canonical key space, like
    * p140's ledger rows.
    */
  private[graft] val frontierHeaderRedirectsFixture: Seq[(String, String)] =
    Seq(
      ("https://www.src10.com/hub?a=1&b=2", "https://www.src10.com/moved"),
      ("https://www.src16.com/hub?a=1&b=2", "https://www.src16.com/hdr"),
      ("https://www.src18.com/hub?a=1&b=2",
        "https://www.src2.com/hub?a=1&b=2"))

  /** The COMPLETE alias map — [[frontierHeaderRedirectsFixture]]'s
    * HTTP layer ∪ [[frontierAliasPagesFixture]]'s page-published
    * pair, protocol precedence via [[graft.graph.CrawlOps
    * .fullAliasEdges]] — parsed and pointer-resolved: the (url,
    * final_url, hops, resolved) table the frontier rewrite
    * consumes, checkpointed because three compositions read it, and
    * BROADCAST-hinted: the authored map is rows-countable-on-one-hand
    * small, but a checkpointed frame carries no stats, so without the
    * hint the rewrite join plans as a SortMergeJoin that shuffles the
    * whole harvest against nine rows (the p210 stats-less-checkpoint
    * hazard). The hint is FIXTURE knowledge — resolveFrontierAliases
    * itself stays strategy-neutral because at 100 TB the alias map is
    * archive-sized and the hash join is the right plan.
    */
  private val aliasResolvedCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, DataFrame]()

  private[graft] def frontierAliasResolved(s: SparkSession): DataFrame = {
    // evict entries of STOPPED sessions on access: the cached frame
    // strongly references its session (so weak keys could never
    // collect the pair), and without eviction a long-lived JVM that
    // churns sessions retains every stopped one and its checkpointed
    // broadcast forever
    val it = aliasResolvedCache.keySet.iterator
    while (it.hasNext) if (it.next().sparkContext.isStopped) it.remove()
    // memoized per session so the three compositions (and p157's two
    // reads) genuinely SHARE one checkpoint instead of re-running the
    // parse + pointer doubling per call
    aliasResolvedCache.computeIfAbsent(s, s2 => {
      import s2.implicits._
      broadcast(graft.graph.CrawlOps.resolveRedirects(
          graft.graph.CrawlOps.fullAliasEdges(
            frontierHeaderRedirectsFixture.toDF("src", "dst"),
            frontierAliasPagesFixture.toDF("page_url", "html"),
            col("page_url"), col("html"), maxDelaySeconds = 10L),
          maxDepth = 8)
        .localCheckpoint(eager = false))
    })
  }

  /** The composed crawl front's link rows — the FOLLOW harvest over
    * the directive-decorated pages, rewritten through the resolved
    * alias map (meta-refresh + rel=canonical, refresh precedence),
    * lineage-truncated (the LinkGraph rule): the regex harvest +
    * canonicalize chain is the expensive scan-stage pass, and the
    * worklist composition consumes it THREE ways (the gate, the
    * gate's counts, the rank edges) — one checkpoint makes those
    * three consumers one pass. This is where the round-11 page-level
    * gates COMPOSE: nofollow'd anchors and nofollow'd pages never
    * mint edges, collapsed/redirected frontier keys merge before the
    * gate counts them, loop keys leave the frontier entirely.
    */
  private[graft] def crawlLinksFixture(s: SparkSession,
                                       d: String): DataFrame =
    graft.graph.CrawlOps.resolveFrontierAliases(
        graft.graph.LinkGraph.linkRowsFollow(directiveCrawlPages(s, d),
          col("page_url"), col("html")),
        frontierAliasResolved(s))
      .localCheckpoint(eager = false)

  /** The robots-gate's ALLOWED slice — (canonical, dst_family) —
    * shared by p145 and q126's streaming frontier (which folds the
    * same rows batch-by-batch). Checkpointed: both the worklist fold
    * and the schedule's caps read it.
    */
  private[graft] def gateAllowedOf(s: SparkSession,
                                   links: DataFrame): DataFrame = {
    import s.implicits._
    graft.graph.LinkGraph
      .robotsFilterWildcard(
        links.select(col("canonical"), col("dst_family")).distinct(),
        graft.graph.LinkGraph.parseRobotsPatterns(
          robotsWildTxtFixture.toDF("family", "txt"),
          col("family"), col("txt")))
      .filter(col("allowed"))
      .select(col("canonical"), col("dst_family"))
      .localCheckpoint(eager = false)
  }

  private[graft] def gateAllowedFixture(s: SparkSession,
                                        d: String): DataFrame =
    gateAllowedOf(s, crawlLinksFixture(s, d))

  /** p139's schedule chain as ONE definition — harvest-gated caps,
    * 5 PageRank rounds, the largest-remainder spend, remainder row
    * dropped — shared by p145's worklist and q126's streaming twin
    * (where it is the FROZEN schedule a frontier consumes while
    * discovery streams: budget allocation is a periodic batch job,
    * the worklist build is not).
    */
  private[graft] def crawlScheduleOf(links: DataFrame,
                                     allowed: DataFrame): DataFrame = {
    val allowedCounts = allowed
      .groupBy(col("dst_family")).agg(count(lit(1)).as("n_allowed"))
    val edges = links
      .select(col("src_family").as("src"), col("dst_family").as("dst"))
    val ranks = graft.graph.LinkGraph.pageRank(edges, iters = 5)
    val withCaps = ranks
      .join(allowedCounts, ranks("node") === allowedCounts("dst_family"),
        "left")
      .select(col("node"), col("rank_micro"),
        least(lit(200L), coalesce(col("n_allowed"), lit(0L))).as("cap"))
    graft.graph.LinkGraph.crawlBudgetWithCaps(withCaps, budget = 200L)
      .filter(col("node") =!= "__UNASSIGNED")
      .select(col("node"), col("n_requests"))
  }

  private[graft] def crawlScheduleFixture(s: SparkSession,
                                          d: String): DataFrame = {
    val links = crawlLinksFixture(s, d)
    crawlScheduleOf(links, gateAllowedOf(s, links))
  }

  /** p145's worklist as ONE shared definition — the (canonical,
    * dst_family, pos) frame a fetcher consumes this round, reused by
    * the q148 paced-release twin so the pacer's input cannot drift
    * from the audited worklist (the sharedOracle rule in Scala).
    */
  private[graft] def crawlWorklistFixture(s: SparkSession,
                                          d: String): DataFrame = {
    val links = crawlLinksFixture(s, d)
    val allowed = gateAllowedOf(s, links)
    graft.graph.CrawlOps.crawlWorklist(allowed,
      crawlScheduleOf(links, allowed))
  }

  /** q148's oracle: the ENTIRE harvest → wildcard gate → schedule →
    * worklist chain (the shared CTEs), then the pacing arithmetic —
    * each domain releases at `greatest(1, trigger div crawl_delay)`
    * per round (delays are p161's generative VALUES — the published
    * Crawl-delay table of the wildcard-bearing fixture files),
    * un-delayed domains at the default burst 4, so item `pos` of a
    * domain's md5-ordered worklist releases in round
    * `ceil(pos / rate)`. The pacer's micro-batch release SCHEDULE is
    * itself the gated output, not just the delay table feeding it.
    */
  private[graft] lazy val pacedWorklistOracle: String = s"""
      WITH $followLkCtesSql,
      $robotsCtesSql,
      $crawlScheduleCtesSql,
      wl AS (SELECT g.canonical, g.dst_family, c.n_requests,
               row_number() OVER (PARTITION BY g.dst_family
                 ORDER BY md5(g.canonical), g.canonical) AS pos
             FROM gate g JOIN c ON g.dst_family = c.node
             WHERE g.allowed),
      sel AS (SELECT canonical, dst_family, CAST(pos AS BIGINT) AS pos
              FROM wl WHERE pos <= n_requests),
      delays(family, ms) AS (VALUES
        ('src0.com', 5000), ('polite.net', 10000)),
      rr AS (SELECT s.*, greatest(1, coalesce(10000 // d.ms, 4)) AS rate
             FROM sel s LEFT JOIN delays d ON s.dst_family = d.family)
      SELECT canonical, dst_family, pos,
             CAST((pos + rate - 1) // rate AS BIGINT) AS round
      FROM rr ORDER BY dst_family, pos"""

  /** p148's extracted-page fixture: each doc's text as a body line
    * under three planted chrome lines — a global nav line (every doc:
    * ratio 10⁶), a per-family copyright line (10⁶), and a split line
    * that is the ~60% newsletter banner on doc_id%5 < 3 (above the
    * 50% strip threshold) or a ~13% `promo k` variant otherwise
    * (below it) — so the boiler flag's both outcomes bind on
    * same-shaped lines. The oracle synthesizes the identical page
    * from the same arithmetic.
    */
  private[graft] def linesFixtureText: Column =
    concat_ws("\n",
      lit("home | about | contact"),
      concat(lit("(c) 2026 fam"), (col("doc_id") % 7).cast("string")),
      when(col("doc_id") % 5 < 3, lit("subscribe to our newsletter"))
        .otherwise(concat(lit("promo "), (col("doc_id") % 3).cast("string"))),
      concat(lit("body: "), col("text")))

  /** p139's full schedule chain as shared CTEs ending in `c` (node,
    * rank_micro, n_requests, capped) — harvest-gated caps, 5 PageRank
    * rounds, the largest-remainder spend. Reused verbatim by p145's
    * worklist so the two executions of the chain cannot drift (the
    * sharedOracle rule at the SQL level). Requires `lk` and `gate`
    * (from [[outlinkCtesSql]] + [[robotsCtesSql]]) upstream.
    */
  private lazy val crawlScheduleCtesSql: String = s"""
      na AS (SELECT dst_family, CAST(count(*) AS BIGINT) AS n_allowed
             FROM gate WHERE allowed GROUP BY 1),
      e AS (SELECT DISTINCT src_family AS src, dst_family AS dst FROM lk),
      nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      od AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
      r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nd),
      ${pageRankStagesSql(5)},
      cp AS (SELECT node, r,
               least(200, coalesce(na.n_allowed, 0)) AS cap
             FROM r5 LEFT JOIN na ON r5.node = na.dst_family),
      tot AS (SELECT sum(r) AS sr FROM cp),
      a AS (SELECT node, r, cap, CAST(200 * r // sr AS BIGINT) AS ideal
            FROM cp, tot),
      b AS (SELECT node, r, cap, ideal, least(ideal, cap) AS take1,
              cap - least(ideal, cap) AS head FROM a),
      t2 AS (SELECT sum(take1) AS st, sum(head) AS sh FROM b),
      c AS (SELECT node, r AS rank_micro,
              CAST(take1 + CASE WHEN sh > 0
                THEN (200 - st) * head // sh ELSE 0 END AS BIGINT)
                AS n_requests,
              ideal > cap AS capped
            FROM b, t2)"""

  /** p140's redirect-map fixture over any (doc_id) frame (batch or
    * streaming — the scriptFixtureText sharing rule): per doc a chain
    * `c_0 → … → c_L → terminal` with L = doc_id%5 (so resolution
    * needs 1..5 hops — maxDepth 4 leaves the 5-hop heads unresolved),
    * terminals shared across docs but never redirect sources, and a
    * planted 2-cycle `a ↔ b` every 13th doc (the redirect-loop
    * misconfiguration). Chain/loop URLs embed doc_id, so the map's
    * unique-src contract holds by construction.
    */
  private[graft] def redirectFixtureFrom(docs: DataFrame): DataFrame = {
    val id = col("doc_id").cast("string")
    val k = (col("doc_id") % 7).cast("string")
    def cUrl(i: Column) = concat(lit("https://r.src"), k, lit(".com/c/"),
      id, lit("/"), i.cast("string"))
    val chain = docs
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("doc_id") % 5)).as("i"))
      .select(cUrl(col("i")).as("src"),
        when(col("i") < col("doc_id") % 5, cUrl(col("i") + 1))
          .otherwise(concat(lit("https://dst"), k, lit(".com/"),
            (col("doc_id") % 11).cast("string"))).as("dst"))
    val loopDocs = docs.filter(col("doc_id") % 13 === 0)
    def lUrl(side: String) = concat(lit("https://loop.src.com/" + side + "/"),
      id)
    chain
      .unionByName(loopDocs.select(lUrl("a").as("src"), lUrl("b").as("dst")))
      .unionByName(loopDocs.select(lUrl("b").as("src"), lUrl("a").as("dst")))
  }

  /** p141's 3-day crawl-ledger fixture over any (doc_id) frame: every
    * doc fetched day 0, evens again day 1, thirds again day 2 (visit
    * sets of size 1..3); docs with doc_id%5<2 change content every
    * visit (fingerprint embeds the day), the rest never do — so
    * adjacency counting, Laplace smoothing, staleness (asof day 5),
    * and the priority cap all bind.
    */
  private[graft] def crawlLedgerFixtureFrom(docs: DataFrame): DataFrame = {
    val id = col("doc_id").cast("string")
    val url = concat(lit("https://src"), (col("doc_id") % 7).cast("string"),
      lit(".com/p/"), id)
    def day(n: Int, visited: DataFrame) = visited.select(url.as("url"),
      lit(n.toLong).as("day"),
      concat(lit("f"), id, lit(":"),
        when(col("doc_id") % 5 < 2, lit(n.toString)).otherwise(lit("0")))
        .as("fingerprint"))
    day(0, docs)
      .unionByName(day(1, docs.filter(col("doc_id") % 2 === 0)))
      .unionByName(day(2, docs.filter(col("doc_id") % 3 === 0)))
  }

  /** p143's JSONL payload fixture over any (doc_id, lang, n_chars)
    * frame: the honest payload `{"id":…,"lang":"…","nc":…}`, with
    * every 17th truncated mid-object (unparseable) and every 23rd
    * missing its required `lang` field — both failure modes planted
    * arithmetically so the oracle writes verdicts down from intent.
    */
  private[graft] def jsonlFixtureFrom(docs: DataFrame): DataFrame = {
    val id = col("doc_id").cast("string")
    val good = concat(lit("{\"id\":"), id, lit(",\"lang\":\""),
      col("lang"), lit("\",\"nc\":"), col("n_chars").cast("string"),
      lit("}"))
    val noLang = concat(lit("{\"id\":"), id, lit(",\"nc\":"),
      col("n_chars").cast("string"), lit("}"))
    val base = when(col("doc_id") % 23 === 0 && col("doc_id") % 17 =!= 0,
      noLang).otherwise(good)
    docs.withColumn("payload",
      when(col("doc_id") % 17 === 0,
        base.substr(lit(1), length(base) - 1)).otherwise(base))
  }

  /** aHash codes of the synthetic PNG fixture over any (doc_id) frame:
    * p56's and p80's media.
    */
  private def phashFixtureCodes(docs: DataFrame): DataFrame =
    graft.multimodal.ImageCodec.aHashCodes(
      graft.multimodal.ImageCodec.SyntheticImages.pngFixture(docs, col("doc_id")),
      col("media_id"), col("payload"))

  /** p142's fetch-log fixture over any (doc_id) frame: healthy 1:1
    * families (every URL its own content), a trap domain serving 3
    * contents under one URL per doc, and a high-ratio domain kept
    * under the minUrls floor at sf0.01 (every 50th doc, one shared
    * content).
    */
  private[graft] def fetchLogFixtureFrom(docs: DataFrame): DataFrame = {
    val id = col("doc_id").cast("string")
    val k = (col("doc_id") % 7).cast("string")
    docs.select(concat(lit("src"), k, lit(".com")).as("family"),
        concat(lit("https://src"), k, lit(".com/a/"), id).as("canonical"),
        concat(lit("S"), id).as("fingerprint"))
      .unionByName(docs.select(lit("trap.com").as("family"),
        concat(lit("https://trap.com/p?id="), id).as("canonical"),
        concat(lit("T"), (col("doc_id") % 3).cast("string"))
          .as("fingerprint")))
      .unionByName(docs.filter(col("doc_id") % 50 === 0)
        .select(lit("tiny.com").as("family"),
          concat(lit("https://tiny.com/"), id).as("canonical"),
          lit("X").as("fingerprint")))
  }

  /** The link-graph oracle prelude: every edge the fixture plants,
    * derived GENERATIVELY (src family is `source || '.com'` because
    * that is what the messy provenance must canonicalize to; dst
    * families and canonical URLs are written down from the href
    * arithmetic, not re-parsed). Shared by p131 and p132.
    */
  private val outlinkCtesSql: String = """
      lk AS (
        SELECT source || '.com' AS src_family, 'src0.com' AS dst_family,
               'https://www.src0.com/' AS cu FROM documents
        UNION ALL
        SELECT source || '.com', 'src' || (doc_id * 7 % 20) || '.com',
               'https://www.src' || (doc_id * 7 % 20) || '.com/hub?a=1&b=2'
        FROM documents
        UNION ALL
        SELECT source || '.com', 'src' || (doc_id % 7) || '.com',
               'http://cdn3.src' || (doc_id % 7) || '.com/p?id=' || doc_id
        FROM documents
        UNION ALL
        SELECT source || '.com', 'src' || (doc_id % 4) || '.co.uk',
               'https://src' || (doc_id % 4) || '.co.uk/' FROM documents
        UNION ALL
        SELECT source || '.com', 'example.com',
               'https://tracker.example.com/' FROM documents)"""

  /** The COMPOSED crawl front's link rows as shared CTEs ending in
    * `lk` (src_family, dst_family, cu) — the FOLLOW harvest over the
    * directive-decorated pages ([[nofollowHtmlFixture]]'s arithmetic:
    * the %9≡1 page-level nofollow drops whole pages, the odd/%3/%5
    * rel stripes drop single anchors), REWRITTEN through the alias
    * map's written-down resolution (`al`): collapsed keys replace cu
    * and dst_family, loop keys (ok=false) drop. Shared by p139, p145,
    * p157, the q126/q148 streaming twins — the sharedOracle rule at
    * SQL level, the Scala side being [[crawlLinksFixture]].
    */
  private lazy val followLkCtesSql: String = """
      lk0 AS (
        SELECT source || '.com' AS src_family, 'src0.com' AS dst_family,
               'https://www.src0.com/' AS cu FROM documents
        WHERE doc_id % 9 <> 1
        UNION ALL
        SELECT source || '.com', 'src' || (doc_id * 7 % 20) || '.com',
               'https://www.src' || (doc_id * 7 % 20) || '.com/hub?a=1&b=2'
        FROM documents WHERE doc_id % 9 <> 1 AND doc_id % 2 <> 1
        UNION ALL
        SELECT source || '.com', 'src' || (doc_id % 7) || '.com',
               'http://cdn3.src' || (doc_id % 7) || '.com/p?id=' || doc_id
        FROM documents WHERE doc_id % 9 <> 1 AND doc_id % 3 <> 0
        UNION ALL
        SELECT source || '.com', 'src' || (doc_id % 4) || '.co.uk',
               'https://src' || (doc_id % 4) || '.co.uk/' FROM documents
        WHERE doc_id % 9 <> 1 AND doc_id % 5 <> 0
        UNION ALL
        SELECT source || '.com', 'example.com',
               'https://tracker.example.com/' FROM documents
        WHERE doc_id % 9 <> 1),
      al(asrc, fin, fam, ok) AS (VALUES
        ('https://www.src4.com/hub?a=1&b=2',
         'https://www.src4.com/', 'src4.com', true),
        ('https://www.src8.com/hub?a=1&b=2',
         'https://www.src0.com/', 'src0.com', true),
        ('https://www.src6.com/hub?a=1&b=2',
         'https://www.src14.com/hub?a=1&b=2', 'src14.com', true),
        ('https://www.src2.com/hub?a=1&b=2',
         'https://www.src2.com/final', 'src2.com', true),
        ('https://www.src12.com/hub?a=1&b=2', NULL, NULL, false),
        -- header beats refresh beats canonical on the all-forms page
        ('https://www.src16.com/hub?a=1&b=2',
         'https://www.src16.com/hdr', 'src16.com', true),
        -- header-only rewrite: no page-published alias explains it
        ('https://www.src10.com/hub?a=1&b=2',
         'https://www.src10.com/moved', 'src10.com', true),
        -- cross-layer chain: header -> src2 hub's refresh -> moved
        -- page's canonical (3 hops through 3 protocol layers)
        ('https://www.src18.com/hub?a=1&b=2',
         'https://www.src2.com/final', 'src2.com', true)),
      lk AS (SELECT src_family,
               coalesce(al.fam, lk0.dst_family) AS dst_family,
               coalesce(al.fin, lk0.cu) AS cu
             FROM lk0 LEFT JOIN al ON lk0.cu = al.asrc
             WHERE al.ok IS NULL OR al.ok)"""

  /** p132's oracle iterations: `r1..rk` chained CTEs, each one
    * integer-PageRank round over `e`/`nd`/`od`/`r{i-1}` (the p58
    * staged-SQL pattern — generated, so the rounds cannot drift).
    * `baseSql` is the per-node teleport term — a constant for global
    * PageRank, a seed-membership CASE over `nd.node` for the
    * personalized variant (p137).
    */
  private def pageRankStagesSql(k: Int,
                                baseSql: String = "150000"): String =
    (1 to k).map { i =>
      s"""r$i AS (SELECT nd.node,
             CAST($baseSql + (850 * coalesce(s.c, 0)) // 1000 AS BIGINT) AS r
           FROM nd LEFT JOIN (
             SELECT e.dst AS node, sum(r.r // od.deg) AS c
             FROM e JOIN r${i - 1} r ON e.src = r.node
                    JOIN od ON od.src = e.src
             GROUP BY 1) s ON nd.node = s.node)"""
    }.mkString(",\n      ")

  /** The PREFIX robots rule fixture — the sub-grammar form p154's
    * parse entry pins and the both-tiers-agree spec replays (the
    * crawl front itself gates through [[robotsPatternRulesFixture]]'s
    * full RFC 9309 grammar — real robots.txt carry wildcards, so the
    * composed chain cannot run on a parser that refuses them).
    */
  private[graft] val robotsRulesFixture: Seq[(String, String, Boolean)] =
    Seq(("src0.com", "/", false), ("src0.com", "/hub", true),
      ("example.com", "/", false), ("src1.com", "/p", false),
      ("src2.co.uk", "/", true), ("src2.co.uk", "/", false))

  /** The crawl front's robots rules under the FULL RFC 9309 pattern
    * grammar — ONE Scala definition for p138, p139, and the q120/q126
    * streaming twins (the scriptFixtureText rule: every execution of
    * [[robotsCtesSql]]'s VALUES must gate against the same rules).
    * The wildcard additions BIND on the harvested frontier: src0's
    * interior-star `*?id=*` elects over its bare `/` on every content
    * URL (same verdict, new winning rule — visible in rule_pattern),
    * and src1's anchored `/p?id=8$` re-ALLOWS exactly one URL out of
    * its `/p` disallow (a verdict the prefix tier cannot express).
    * This is [[robotsWildTxtFixture]] parsed — spec-pinned equal to
    * `parseRobotsPatterns` over the text form.
    */
  private[graft] val robotsPatternRulesFixture: Seq[(String, String, Boolean)] =
    Seq(("src0.com", "/", false), ("src0.com", "/hub", true),
      ("src0.com", "*?id=*", false),
      ("example.com", "/", false),
      ("src1.com", "/p", false), ("src1.com", "/p?id=8$", true),
      ("src2.co.uk", "/", true), ("src2.co.uk", "/", false))

  /** [[robotsPatternRulesFixture]] as the raw robots.txt TEXT the
    * crawl front actually ingests — [[robotsTxtFixture]]'s hazard set
    * (foreign-agent groups, case variants, comments, blank-line-split
    * headers, empty Disallow) plus the wildcard rules the prefix
    * parser loudly refuses; the sitemap/delay directives stay so the
    * p161-165 politeness family reads wildcard-bearing files too.
    */
  private[graft] val robotsWildTxtFixture: Seq[(String, String)] = Seq(
    ("src0.com",
      "# src0 crawl policy\n" +
        "User-agent: megabot\n" +
        "Disallow: /no-mega*\n" +
        "User-agent: *\n" +
        "Disallow: /\n" +
        "Allow: /hub\n" +
        "Disallow: *?id=*\n" +
        "Crawl-delay: 5\n" +
        "Disallow:\n"),
    ("example.com",
      "User-Agent: graftbot\n" +
        "\n" +
        "user-agent: *\n" +
        "disallow: / # everything\n"),
    ("src1.com",
      "User-agent: *\n" +
        "Disallow: /p\n" +
        "Allow: /p?id=8$\n" +
        "User-agent: otherbot\n" +
        "Disallow: /secret\n"),
    ("src2.co.uk",
      "User-agent: *\n" +
        "Allow: /\n" +
        "Disallow: /\n"))

  /** p156's sitemap.xml fixture — the hazards planted: an XML
    * declaration and namespace, whitespace-padded multi-line `<loc>`
    * values, XML entities inside a MESSY url (the p63 collide case:
    * its canonical form must equal the clean crawl-discovered one), a
    * url without `<lastmod>` (null, not a fake date), and a url block
    * with no `<loc>` at all (dropped, leaving an idx gap).
    */
  private[graft] val sitemapXmlFixture: Seq[(String, String)] = Seq(
    ("src0.com",
      "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
        "  <url><loc> https://WWW.Src0.COM:443/hub?b=2&amp;a=1" +
        "&amp;utm_source=feed#top </loc>\n" +
        "    <lastmod>2026-08-01</lastmod></url>\n" +
        "  <url><loc>https://src0.com/fresh</loc>" +
        "<lastmod>2026-08-14</lastmod></url>\n" +
        "  <url><loc>https://src0.com/nolastmod</loc></url>\n" +
        "  <url><lastmod>2026-08-02</lastmod></url>\n" +
        "</urlset>\n"),
    ("src2.co.uk",
      "<urlset>\n" +
        "  <url>\n    <loc>\n      https://src2.co.uk/a\n    </loc>\n" +
        "  </url>\n</urlset>\n"))

  /** p154's raw robots.txt fixture — the TEXT form of
    * [[robotsRulesFixture]] with the parse hazards planted: a foreign
    * agent section, a multi-agent header that includes `*` (split by a
    * blank line, which RFC 9309 ignores), case-variant directives,
    * full-line and inline comments, an unknown directive inside the
    * group body, and an empty `Disallow:` ("no restriction"). Parsing
    * it must yield exactly [[robotsRulesFixture]] — spec-pinned, plus
    * gate equivalence through [[graft.graph.LinkGraph.robotsFilter]].
    */
  private[graft] val robotsTxtFixture: Seq[(String, String)] = Seq(
    ("src0.com",
      "# src0 crawl policy\n" +
        "User-agent: megabot\n" +
        "Disallow: /no-mega\n" +
        "User-agent: *\n" +
        "Disallow: /\n" +
        "Allow: /hub\n" +
        "Crawl-delay: 5\n" +
        "Disallow:\n"),
    ("example.com",
      "User-Agent: graftbot\n" +
        "\n" +
        "user-agent: *\n" +
        "disallow: / # everything\n"),
    ("src1.com",
      "User-agent: *\n" +
        "Disallow: /p\n" +
        "User-agent: otherbot\n" +
        "Disallow: /secret\n"),
    ("src2.co.uk",
      "User-agent: *\n" +
        "Allow: /\n" +
        "Disallow: /\n"))

  /** p161/p162/p163's robots fixture: the shared
    * [[robotsWildTxtFixture]] families (WILDCARD-bearing, like real
    * robots.txt — the directive folds must read past rules the prefix
    * grammar refuses) plus the directive hazards those entries gate — a
    * `Sitemap:` line standing alone (group-independent), a BOM+CRLF
    * file with a fractional delay AND a second wildcard group whose
    * larger delay must win (MAX), a messy-cased sitemap URL that must
    * canonicalize, and a family whose delay sits ONLY in a foreign
    * agent group (no delay row) but whose sitemap directive still
    * applies (pointing at a never-fetched file, which expansion must
    * silently skip — the fetch ledger owns that gap).
    */
  private[graft] lazy val robotsMetaFixture: Seq[(String, String)] =
    robotsWildTxtFixture ++ Seq(
      ("src0.com", "Sitemap: https://src0.com/smidx.xml\n"),
      ("polite.net",
        "﻿User-agent: *\r\n" +
          "Crawl-Delay: 2.5\r\n" +
          "Disallow: /tmp\r\n" +
          "\r\n" +
          "User-agent: *\n" +
          "Crawl-delay: 10\n" +
          "Sitemap: https://POLITE.NET/sm.xml?b=2&a=1#x\n"),
      ("foreign.org",
        "User-agent: megabot\n" +
          "Crawl-delay: 9\n" +
          "Sitemap: https://foreign.org/unfetched.xml\n"))

  /** p162's sitemap FETCH TABLE — a two-level `<sitemapindex>` tree
    * for src0.com (root index → a `<urlset>` + a nested index that
    * also points back at the root: the cycle must terminate; the
    * nested level re-mentions p1 with a LATER lastmod: max wins; one
    * child is never fetched: skipped), and polite.net's single
    * `<urlset>` keyed by the CANONICALIZED form of its messy robots
    * directive URL.
    */
  private[graft] lazy val sitemapTreeFixture: Seq[(String, String, String)] = Seq(
    ("src0.com", "https://src0.com/smidx.xml",
      "<?xml version=\"1.0\"?>\n<sitemapindex>\n" +
        "  <sitemap><loc>https://src0.com/sm-a.xml</loc></sitemap>\n" +
        "  <sitemap><loc>https://src0.com/deep.xml</loc></sitemap>\n" +
        "  <sitemap><loc>https://src0.com/missing.xml</loc></sitemap>\n" +
        "</sitemapindex>\n"),
    ("src0.com", "https://src0.com/sm-a.xml",
      "<urlset>\n" +
        "  <url><loc>https://src0.com/p1</loc>" +
        "<lastmod>2026-08-01</lastmod></url>\n" +
        "  <url><loc> https://Src0.com/p2?b=2&amp;a=1 </loc></url>\n" +
        "</urlset>\n"),
    ("src0.com", "https://src0.com/deep.xml",
      "<sitemapindex>\n" +
        "  <sitemap><loc>https://src0.com/sm-b.xml</loc></sitemap>\n" +
        "  <sitemap><loc>https://src0.com/smidx.xml</loc></sitemap>\n" +
        "</sitemapindex>\n"),
    ("src0.com", "https://src0.com/sm-b.xml",
      "<urlset>\n" +
        "  <url><loc>https://src0.com/p1</loc>" +
        "<lastmod>2026-08-10</lastmod></url>\n" +
        "  <url><loc>https://src0.com/p3</loc></url>\n" +
        "</urlset>\n"),
    ("polite.net", "https://polite.net/sm.xml?a=1&b=2",
      "<urlset><url><loc>https://polite.net/q1</loc>" +
        "<lastmod>2026-07-30</lastmod></url></urlset>\n"))

  /** p138's robots gate as shared CTEs ending in `gate` (canonical,
    * dst_family, allowed, rule_pattern) — reused verbatim by p139's
    * composed schedule so the two executions of the rule fixture
    * cannot drift (the sharedOracle rule, at the SQL level).
    */
  private val robotsCtesSql: String =
    "u AS (SELECT DISTINCT cu AS canonical, dst_family FROM lk),\n" +
      robotsGateAfterUSql

  /** The gate chain AFTER the `u` frontier CTE — split out so p157's
    * unioned frontier (links ∪ sitemap) can redefine `u` and reuse the
    * identical gate arithmetic (the sharedOracle rule at SQL level).
    * The matcher is the p204 LIKE translation of the RFC 9309 pattern
    * grammar (a different matcher from the engine's byte-walk kernel
    * — formula duality for the gate itself), the election the octet-
    * length/allow/pattern total order [[graft.graph.LinkGraph
    * .robotsFilterWildcard]] shares.
    */
  private lazy val robotsGateAfterUSql: String = """
      up AS (SELECT canonical, dst_family,
               regexp_replace(canonical, '^[a-z][a-z0-9+.-]*://[^/]*', '')
                 AS path
             FROM u),
      rules(family, pattern, allow) AS (VALUES
        ('src0.com', '/', false), ('src0.com', '/hub', true),
        ('src0.com', '*?id=*', false),
        ('example.com', '/', false),
        ('src1.com', '/p', false), ('src1.com', '/p?id=8$', true),
        ('src2.co.uk', '/', true), ('src2.co.uk', '/', false)),
      m AS (SELECT canonical, pattern, allow,
              row_number() OVER (PARTITION BY canonical
                ORDER BY strlen(pattern) DESC, allow DESC, pattern DESC)
                AS rn
            FROM up JOIN rules ON dst_family = family
              AND CASE WHEN pattern LIKE '%$'
                       THEN path LIKE replace(rtrim(pattern, '$'), '*', '%')
                       ELSE path LIKE replace(pattern, '*', '%') || '%' END),
      gate AS (SELECT up.canonical, up.dst_family,
                 coalesce(m.allow, true) AS allowed,
                 coalesce(m.pattern, '') AS rule_pattern
               FROM up LEFT JOIN (SELECT canonical, pattern, allow FROM m
                                  WHERE rn = 1) m USING (canonical))"""

  /** p135's oracle iterations: `a1/h1..ak/hk` chained CTEs, one
    * auth-then-hub HITS round each with integer max-normalization
    * (the [[pageRankStagesSql]] pattern — generated, so the halves
    * cannot drift). `coalesce(sum,0)*1000000` rides DuckDB's HUGEINT
    * widening; the final CAST lands it back in BIGINT. The raw-sum
    * and round-output CTEs are MATERIALIZED: each is referenced twice
    * (once for values, once for its max / the next half), so default
    * inlining would expand the chain EXPONENTIALLY in the round count
    * — 2⁵ re-reads of the base table exhausts file handles.
    */
  private def hitsStagesSql(k: Int): String =
    (1 to k).map { i =>
      s"""a${i}r AS MATERIALIZED (SELECT e.dst AS node, sum(h.h) AS s
             FROM e JOIN h${i - 1} h ON e.src = h.node GROUP BY 1),
      a${i}m AS (SELECT max(s) AS m FROM a${i}r),
      a$i AS MATERIALIZED (SELECT nd.node,
             CAST(coalesce(r.s, 0) * 1000000 // m AS BIGINT) AS a
           FROM nd LEFT JOIN a${i}r r ON nd.node = r.node, a${i}m),
      h${i}r AS MATERIALIZED (SELECT e.src AS node, sum(a.a) AS s
             FROM e JOIN a$i a ON e.dst = a.node GROUP BY 1),
      h${i}m AS (SELECT max(s) AS m FROM h${i}r),
      h$i AS MATERIALIZED (SELECT nd.node,
             CAST(coalesce(r.s, 0) * 1000000 // m AS BIGINT) AS h
           FROM nd LEFT JOIN h${i}r r ON nd.node = r.node, h${i}m)"""
    }.mkString(",\n      ")

  /** p128's planted script blocks — the corpus is pure ASCII, so the
    * script detector needs non-Latin text to classify (the p120
    * fixture pattern); shared verbatim with the oracle.
    */
  private[graft] val cyrillicFixture = "привет мир данные корпус очистка текст"
  private[graft] val hanFixture = "数据 质量 清洗 语料 去重 文本处理 训练集"
  private[graft] val greekFixture = "δεδομένα ποιότητα καθαρισμός κείμενο"
  private[graft] val arabicFixture = "بيانات جودة تنظيف نص تدريب لغة"

  /** p224's fixture texts, one per doc_id%9 stripe: the four
    * non-Latin scripts (routed by code-point range), three
    * Latin-script languages the stopword argmax must tell apart, an
    * UNDETERMINED digits/punctuation doc, and a fixed English
    * sentence on the default stripe — every stripe's expected lang is
    * decidable from the arithmetic alone, which is what makes the
    * oracle generative.
    */
  private[graft] val frenchFixture = "le chat et la mer de paris un jour"
  private[graft] val spanishFixture = "el perro y el gato de madrid un dia"
  private[graft] val germanFixture = "der hund und die katze das haus ein tag"
  private[graft] val englishFixture = "the cat and the dog of the house to a tree"
  private[graft] val undFixture = "!!!! ???? %%%% ^^^^"

  private[graft] def langScriptFixtureText: Column = {
    val m9 = col("doc_id") % 9
    when(m9 === 1, lit(cyrillicFixture))
      .when(m9 === 2, lit(hanFixture))
      .when(m9 === 3, lit(greekFixture))
      .when(m9 === 4, lit(arabicFixture))
      .when(m9 === 5, lit(frenchFixture))
      .when(m9 === 6, lit(spanishFixture))
      .when(m9 === 7, lit(germanFixture))
      .when(m9 === 8, lit(undFixture))
      .otherwise(lit(englishFixture))
  }

  /** p208's Unicode fixture — composed/decomposed twin PAIRS (docs
    * 4k+1 and 4k+2 render the same text, one precomposed U+00E9/…,
    * one with combining marks U+0301/U+0308), a per-pair suffix so
    * the pairs collapse pairwise (not into one giant group), a
    * singleton whose U+212B Angstrom sign NFC-composes to the
    * DIFFERENT code point U+00C5, and the base ASCII text everywhere
    * else (the unchanged-bytes pin). Shared Scala/SQL synthesis (the
    * scriptFixtureText rule).
    */
  private[graft] def nfcFixtureText: Column =
    when(col("doc_id") % 4 === 1,
      concat(lit("café résumé naïve pair "),
        expr("cast(doc_id div 4 as string)")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("café résumé naïve pair "),
          expr("cast(doc_id div 4 as string)")))
      .when(col("doc_id") % 4 === 3,
        concat(lit("Ångström singleton "), expr("cast(doc_id div 4 as string)")))
      .otherwise(col("text"))

  private[graft] val nfcFixtureSql: String =
    "CASE CAST(doc_id % 4 AS INT) " +
      "WHEN 1 THEN 'café résumé naïve pair ' || " +
      "CAST(doc_id // 4 AS VARCHAR) " +
      "WHEN 2 THEN 'café résumé naïve pair ' || " +
      "CAST(doc_id // 4 AS VARCHAR) " +
      "WHEN 3 THEN 'Ångström singleton ' || " +
      "CAST(doc_id // 4 AS VARCHAR) " +
      "ELSE text END"

  /** p213's finalize off the (doc_id, token, c) count table — the
    * micro-nat entropy, TTR, and top-token share, with tokenless docs
    * at zeros. SHARED by the batch entry and the q154 streaming twin
    * (whose cross-batch state IS the count table — the finest-grain
    * fold, the q119 rule); `docIds` supplies the doc universe.
    */
  private[graft] def tokenEntropyFromCounts(docIds: DataFrame,
                                            cnt: DataFrame): DataFrame = {
    // the count table joins BACK to its own aggregate — fresh aliases
    // on one side keep the self-join resolvable when `cnt` is a
    // memory-sink view whose attribute ids appear on both sides (the
    // q154 twin's shape)
    val per = cnt.groupBy(col("doc_id")).agg(
      sum(col("c")).as("n_tokens"),
      count(lit(1)).as("n_types"),
      max(col("c")).as("top_c"))
    val h = cnt.select(col("doc_id").as("__hd"), col("c").as("__hc"))
      .join(per, col("__hd") === per("doc_id"))
      .select(col("__hd"),
        round(col("__hc") * log(col("n_tokens").cast("double")
          / col("__hc")) * lit(1e6), 0).cast("long").as("term"))
      .groupBy(col("__hd")).agg(sum(col("term")).as("hsum"))
    docIds.join(per, Seq("doc_id"), "left")
      .join(h, col("doc_id") === col("__hd"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        coalesce(expr("n_types * 1000000 div n_tokens"), lit(0L))
          .as("ttr_micro"),
        coalesce(expr("top_c * 1000000 div n_tokens"), lit(0L))
          .as("top_tok_micro"),
        coalesce(expr("hsum div n_tokens"), lit(0L)).as("entropy_micro"))
  }

  /** p211's directive-bearing response ARCHIVE — meta variants by
    * doc_id%5 (case/padding, two folding metas, reversed attribute
    * order, `none`), the description-meta decoy on every page, and
    * the X-Robots-Tag grammar by stripe: a flat `noindex` on %7≡0, a
    * header SCOPED to our agent on %19≡4 (binds), one scoped to a
    * foreign agent on %19≡8 (must NOT bind — including its nofollow),
    * an `unavailable_after` already past on %19≡12 (binds as
    * noindex), and one still in the future on %19≡16 (must not
    * bind). ONE definition for the batch entry and the q152 ingest
    * twin (the scriptFixtureText rule).
    */
  private[graft] def metaRobotsWarcFixture(docs: DataFrame): DataFrame = {
    val m5 = col("doc_id") % 5
    val metaPart = when(m5 === 1,
        lit("<meta name=\"robots\" content=\"noindex\">"))
      .when(m5 === 2, lit("<META NAME=\"ROBOTS\" CONTENT=\" NoFollow \">"))
      .when(m5 === 3, lit("<meta name=\"robots\" content=\"noindex\">" +
        "<meta content=\"nofollow\" name=\"robots\">"))
      .when(m5 === 4, lit("<meta name=\"robots\" content=\"none\">"))
      .otherwise(lit(""))
    val page = concat(lit("<html><head>"), metaPart,
      lit("<meta name=\"description\" content=\"noindex, nofollow\">" +
        "</head><body><p>"), col("text"), lit("</p></body></html>"))
    val m19 = col("doc_id") % 19
    val xrobots = when(col("doc_id") % 7 === 0,
        lit("\r\nX-Robots-Tag: noindex"))
      .when(m19 === 4, lit("\r\nX-Robots-Tag: Graftbot: NoIndex"))
      .when(m19 === 8, lit("\r\nX-Robots-Tag: megabot: noindex, nofollow"))
      .when(m19 === 12,
        lit("\r\nX-Robots-Tag: unavailable_after: 2026-01-15"))
      .when(m19 === 16,
        lit("\r\nX-Robots-Tag: unavailable_after: 2099-01-01"))
      // REPEATED header lines — the documented multi-header form: the
      // foreign-scoped first line is inert, but the unscoped SECOND
      // line must still bind (a first-value-wins header map, or a
      // comma-fold that re-scopes it, both fail OPEN here)
      .when(m19 === 2, lit("\r\nX-Robots-Tag: megabot: noindex" +
        "\r\nX-Robots-Tag: nofollow"))
      .otherwise(lit(""))
    val msg = cast_bin(concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8"),
      xrobots, lit("\r\nContent-Length: "),
      octet_length(page).cast("string"), lit("\r\n\r\n"), page))
    httpResponseWarcFrom(docs.select(col("doc_id"), msg.as("msg")))
  }

  /** The flag projection off a [[graft.sources.Warc.splitHttp]] frame
    * — shared by p211 and its ingest twin: meta tokens from the page
    * text unioned with the X-Robots-Tag header through the SCOPED
    * grammar ([[graft.graph.LinkGraph.robotsDirectiveFlagsScoped]]
    * — per-agent scopes and dated `unavailable_after`, our agent
    * "graftbot", the crawl's own clock as a FIXED asof date: retry
    * reproducibility forbids reading the machine clock in a gate).
    */
  private[graft] def directiveFlagsOf(split: DataFrame): DataFrame =
    split.select(
        fixtureDocId.as("doc_id"),
        graft.graph.LinkGraph.robotsDirectiveFlagsScoped(
          graft.functions.TextFunctions.metaRobots(col("text")),
          element_at(col("http_headers"), "x-robots-tag"),
          agent = "graftbot",
          asofDate = lit("2026-08-01").cast("date")).as("f"))
      .select(col("doc_id"), col("f.noindex").as("noindex"),
        col("f.nofollow").as("nofollow"))

  /** p215's page fixture over any (doc_id, text) frame (batch or
    * streaming — the scriptFixtureText sharing rule): per-doc page
    * URLs with canonical declarations by doc_id%8 — a MESSY
    * self-declaration (case/:443/utm — pins the shared URL
    * transform), a cross-page declaration of the previous doc, no
    * link element (self by default), a ROOT-relative declaration that
    * must bind against the page's authority, a PROTOCOL-relative one
    * that must inherit the page's scheme, a PATH-relative one that
    * must still safely default to self (directory-context aliasing is
    * a collapse gamble), and the hazard page (stylesheet link,
    * data-rel decoy, a SECOND canonical that must lose to the first).
    */
  private[graft] def relCanonicalPages(docs: DataFrame): DataFrame = {
    val k = col("doc_id").cast("string")
    val url = concat(lit("https://www.src"),
      (col("doc_id") % 20).cast("string"), lit(".com/p/"), k)
    val m8 = col("doc_id") % 8
    val canonSelfMessy = concat(
      lit("<link rel=\"canonical\" href=\"https://WWW.Src"),
      (col("doc_id") % 20).cast("string"), lit(".COM:443/p/"), k,
      lit("?utm_source=x\">"))
    val canonPrev = concat(
      lit("<link rel=\"canonical\" href=\"https://www.src"),
      ((col("doc_id") - 1) % 20).cast("string"), lit(".com/p/"),
      (col("doc_id") - 1).cast("string"), lit("\">"))
    val head = when(m8 === 1, canonSelfMessy)
      .when(m8 === 2, canonPrev)
      .when(m8 === 3 || m8 === 7, lit(""))
      .when(m8 === 4, concat(
        when(col("doc_id") % 16 === 12, concat(
            lit("<base href=\"https://alt.src"),
            (col("doc_id") % 20).cast("string"), lit(".com/\">")))
          .otherwise(lit("")),
        lit("<link rel=\"canonical\" href=\"/p/"), k, lit("v2\">")))
      .when(m8 === 5, concat(
        lit("<link rel=\"canonical\" href=\"//www.src"),
        ((col("doc_id") + 2) % 20).cast("string"), lit(".com/p/"),
        (col("doc_id") + 2).cast("string"), lit("\">")))
      .when(m8 === 6, concat(
        lit("<link rel=\"canonical\" href=\"alt/"), k, lit("\">")))
      .otherwise(concat(
        lit("<link rel=\"stylesheet\" href=\"https://cdn.example/s.css\">" +
          "<link data-rel=\"canonical\" href=\"https://evil.example/d\">"),
        canonSelfMessy,
        lit("<link rel=\"canonical\" href=\"https://evil.example/x\">")))
    docs.select(col("doc_id"), url.as("page_url"),
      concat(lit("<html><head>"), head, lit("</head><body><p>"),
        col("text"), lit("</p></body></html>")).as("html"))
  }

  /** p216's refresh fixture over any (doc_id, text) frame (batch or
    * streaming — the scriptFixtureText sharing rule): %5≡1 pages
    * zero-refresh to the NEXT page (messy target — canonicalization
    * lands the hop on the next page's map key), %5≡2 five-second-
    * refresh (quoted URL form) to their terminals with the TARGET
    * FORM varied by doc_id%4 — absolute, ROOT-relative `/t{id}`
    * (binds against the page's authority), PROTOCOL-relative
    * `//dst…` (inherits the scheme — resolves to the SAME value as
    * the absolute form), and PATH-relative `t/{id}` which emits NO
    * edge (the alias-declaration safe default), leaving its %5≡1
    * predecessor to stop at the dead page in ONE hop — and the
    * non-edges all planted: a bare-delay reload, a 600 s slow
    * refresh, a Content-Type http-equiv decoy.
    */
  private[graft] def metaRefreshPages(docs: DataFrame): DataFrame = {
    val k = col("doc_id").cast("string")
    val url = concat(lit("https://www.src"),
      (col("doc_id") % 20).cast("string"), lit(".com/p/"), k)
    val m5 = col("doc_id") % 5
    val m4 = col("doc_id") % 4
    val m2target = when(m4 === 1, concat(lit("/t"), k))
      .when(m4 === 2, concat(lit("//dst"),
        (col("doc_id") % 11).cast("string"), lit(".com/t"), k))
      .when(m4 === 3, concat(lit("t/"), k))
      .otherwise(concat(lit("https://dst"),
        (col("doc_id") % 11).cast("string"), lit(".com/t"), k))
    val head = when(m5 === 1, concat(
        lit("<meta http-equiv=\"refresh\" content=\"0; url=HTTPS://WWW.Src"),
        ((col("doc_id") + 1) % 20).cast("string"), lit(".COM:443/p/"),
        (col("doc_id") + 1).cast("string"), lit("?utm_source=r\">")))
      .when(m5 === 2, concat(
        when(m4 === 1 && col("doc_id") % 3 === 0, concat(
            lit("<base href=\"https://b.dst"),
            (col("doc_id") % 11).cast("string"), lit(".com/\">")))
          .otherwise(lit("")),
        lit("<META HTTP-EQUIV=\"Refresh\" CONTENT=\"5;URL='"), m2target,
        lit("'\">")))
      .when(m5 === 3, lit("<meta http-equiv=\"Content-Type\" " +
        "content=\"text/html\">"))
      .when(m5 === 4, lit("<meta http-equiv=\"refresh\" content=\"30\">"))
      .otherwise(lit("<meta http-equiv=\"refresh\" " +
        "content=\"600; url=https://slow.example/x\">"))
    docs.select(col("doc_id"), url.as("page_url"),
      concat(lit("<html><head>"), head, lit("</head><body><p>"),
        col("text"), lit("</p></body></html>")).as("html"))
  }

  /** p217's chain fixture over any (doc_id, text) frame: page m6=1
    * declares page m6=2 canonical, which declares m6=3, which declares
    * a unique terminal — a 3-hop canonical chain; m6=4 declares the
    * m6=5 page PROTOCOL-relatively (`//host/c/…` — the resolver must
    * inherit the scheme for the chain to connect at all), which
    * ZERO-REFRESHES to its terminal — the canonical→refresh mix;
    * m6=5 also carries a canonical that must lose to its refresh
    * (precedence) and m6=3 a 600 s slow-refresh decoy beside its
    * binding canonical. m6=3's terminal declaration is ROOT-relative
    * (`/x{id}`, resolving onto the page's own authority) on the
    * doc_id%12=3 half and absolute on the rest — both forms feed the
    * same chain; m6=0 pages declare a PATH-relative canonical that
    * must safely default to self (no edge — the m0 rows stay absent).
    * m6=2's link and m6=5's meta use SINGLE quotes — the widened
    * attribute grammar rides the oracle gate.
    */
  private[graft] def canonicalChainPages(docs: DataFrame): DataFrame = {
    val k = col("doc_id").cast("string")
    def u(i: Column) = concat(lit("https://www.src"),
      (i % 20).cast("string"), lit(".com/c/"), i.cast("string"))
    val m = col("doc_id") % 6
    val m3target = when(col("doc_id") % 12 === 3,
        concat(lit("/x"), k))
      .otherwise(concat(lit("https://t.example.com/x"), k))
    val head = when(m === 1, concat(
        lit("<link rel=\"canonical\" href=\""), u(col("doc_id") + 1),
        lit("\">")))
      .when(m === 2, concat(
        lit("<link rel='canonical' href='"), u(col("doc_id") + 1),
        lit("'>")))
      .when(m === 3, concat(
        lit("<meta http-equiv=\"refresh\" " +
          "content=\"600; url=https://slow.example/s\">" +
          "<link rel=\"canonical\" href=\""), m3target,
        lit("\">")))
      .when(m === 4, concat(
        lit("<link rel=\"canonical\" href=\"//www.src"),
        ((col("doc_id") + 1) % 20).cast("string"), lit(".com/c/"),
        (col("doc_id") + 1).cast("string"),
        lit("\">")))
      .when(m === 5, concat(
        lit("<link rel=\"canonical\" href=\"https://evil.example/c"), k,
        lit("\">" +
          "<meta http-equiv='refresh' " +
          "content='0; url=https://final.example.com/f"), k, lit("'>")))
      .otherwise(concat(
        lit("<link rel=\"canonical\" href=\"rel/x"), k, lit("\">")))
    docs.select(col("doc_id"), u(col("doc_id")).as("page_url"),
      concat(lit("<html><head>"), head, lit("</head><body><p>"),
        col("text"), lit("</p></body></html>")).as("html"))
  }

  /** p223's page fixture: every doc a depth-2 page
    * (`/a/b/page{id}`) linking the seven resolvable href forms
    * (descend `x/{id}`, ascend `../up{id}`, same-dir `./same/{id}`,
    * root `/root{id}`, protocol `//cdn…`, query-only `?page=…`, and
    * an excess-dotdot `../../../deep{id}` that must clamp at the
    * root) plus the three classic non-edges (javascript:, bare
    * fragment, mailto:) — so the RFC 3986 resolver's whole rule table
    * binds on one page.
    */
  private[graft] def relativeHrefPages(docs: DataFrame): DataFrame = {
    val k = (col("doc_id") % 20).cast("string")
    val id = col("doc_id").cast("string")
    val url = concat(lit("https://www.src"), k, lit(".com/a/b/page"), id)
    // ODD docs carry a <base href="/b/"> that REBASES every relative
    // link (plus the two hazards: a commented-out base that must not
    // bind and a second live base that must lose to the first)
    val head = when(col("doc_id") % 2 === 1,
        lit("<head><!-- <base href=\"/dead/\"> --><base href=\"/b/\">" +
          "<base href=\"/evil/\"></head>"))
      .otherwise(lit(""))
    val html = concat(
      lit("<html>"), head,
      lit("<body><a href=\"x/"), id,
      lit("\">1</a><a href=\"../up"), id,
      lit("\">2</a><a href=\"./same/"), id,
      lit("\">3</a><a href=\"/root"), id,
      lit("\">4</a><a href=\"//cdn.src"), k, lit(".com/c"), id,
      lit("\">5</a><a href=\"?page="), (col("doc_id") % 5).cast("string"),
      lit("\">6</a><a href=\"../../../deep"), id,
      lit("\">7</a><a href=\"javascript:void(0)\">j</a>" +
        "<a href=\"#frag\">f</a>" +
        "<a href=\"mailto:x@y.example\">m</a></body></html>"))
    docs.select(col("doc_id"), url.as("page_url"), html.as("html"))
  }

  /** p227's sentence fixture: per doc, `n = doc_id%5+2` sentences of
    * `s = doc_id%3+3` whitespace tokens each (sentence j =
    * `d{i}s{j} f1 …` with the period attached to the last filler), so
    * the greedy 10-token chunking packs exactly `10 div s` sentences
    * per chunk — boundaries pure arithmetic; the %7≡3 stripe is the
    * splitter-hazard text (Dr./single-initial/Fig. periods that must
    * NOT split) whose expected chunks are written down by hand.
    */
  private[graft] def sentenceFixtureText: Column = {
    val i = col("doc_id")
    val n = i % 5 + 2
    val fillers = when(i % 3 === 0, lit(" f1 f2"))
      .when(i % 3 === 1, lit(" f1 f2 f3"))
      .otherwise(lit(" f1 f2 f3 f4"))
    val formulaic = array_join(
      transform(sequence(lit(0L), n - 1), j =>
        concat(lit("d"), i.cast("string"), lit("s"), j.cast("string"),
          fillers, lit("."))), " ")
    when(i % 7 === 3,
        lit("Dr. Smith met J. Jones today. It was fine. See Fig. 2 now."))
      .otherwise(formulaic)
  }

  /** p212's rel-decorated page fixture — [[htmlFixtureText]]'s five
    * anchors with indexing-directive hazards planted: href0 carries
    * `rel="nofollow"` on odd docs, href1 `REL="sponsored"` (case) on
    * the %3 stripe, href2 the multi-token `rel="ugc me"` on the %5
    * stripe, the footer anchor a `rel="noopener"` DECOY that must
    * keep its edge, a page-level robots-meta `nofollow` on the %9≡1
    * stripe dropping the whole page, and p211's description-meta
    * decoy on every page.
    */
  private[graft] def nofollowHtmlFixture: Column = {
    val id = col("doc_id").cast("string")
    val k0 = (col("doc_id") * 7 % 20).cast("string")
    val k1 = (col("doc_id") % 7).cast("string")
    val k2 = (col("doc_id") % 4).cast("string")
    val rel0 = when(col("doc_id") % 2 === 1, lit(" rel=\"nofollow\""))
      .otherwise(lit(""))
    val rel1 = when(col("doc_id") % 3 === 0, lit(" REL=\"sponsored\""))
      .otherwise(lit(""))
    val rel2 = when(col("doc_id") % 5 === 0, lit(" rel=\"ugc me\""))
      .otherwise(lit(""))
    val meta = when(col("doc_id") % 9 === 1,
      lit("<meta name=\"robots\" content=\"nofollow\">")).otherwise(lit(""))
    concat(
      lit("<html><head>"), meta,
      lit("<meta name=\"description\" content=\"noindex, nofollow\">" +
        "</head><body>\n" +
        "<nav><a href=\"https://www.src0.com/\">home</a></nav>\n<a"),
      rel0, lit(" href=\"https://WWW.Src"), k0,
      lit(".COM:443/hub?b=2&a=1&utm_source=feed#top\">A</a>\n<a"),
      rel1, lit(" href=\"http://cdn3.src"), k1, lit(".com:80/p?id="), id,
      lit("&fbclid=x\">B</a>\n<a"),
      rel2, lit(" href=\"https://src"), k2, lit(".co.uk/\">more</a>\n" +
        "<footer><a rel=\"noopener\" href=\"" +
        "https://tracker.example.com/\">hub</a></footer>\n</body></html>"))
  }

  /** p214's compatibility-variant fixture — five spellings of the
    * same logical text per pair (doc_id div 6), all folding to ONE
    * NFKC+casefold key while bare NFC keeps the compatibility forms
    * apart: an NFC composed/decomposed twin (m=1/2), the ﬁ ligature
    * U+FB01 (m=3), the № sign U+2116 (m=4), and fullwidth OFFICE
    * (m=5); m=0 keeps the base ASCII text.
    */
  private[graft] def nfkcFixtureText: Column = {
    val k = expr("cast(doc_id div 6 as string)")
    val m = col("doc_id") % 6
    when(m === 1, concat(lit("fiancé No5 office pair "), k))
      .when(m === 2, concat(lit("fiancé No5 office pair "), k))
      .when(m === 3, concat(lit("ﬁancé No5 office pair "), k))
      .when(m === 4, concat(lit("fiancé №5 office pair "), k))
      .when(m === 5, concat(lit("fiancé No5 ＯＦＦＩＣＥ pair "), k))
      .otherwise(col("text"))
  }

  /** The p128 fixture SYNTHESIS (not just the strings) — shared with
    * the q117 ingest twin so the modulo routing cannot drift between
    * the two executions of the shared oracle (the piiFixtureText
    * rule).
    */
  private[graft] def scriptFixtureText: Column =
    when(col("doc_id") % 5 === 1, lit(cyrillicFixture))
      .when(col("doc_id") % 5 === 2, lit(hanFixture))
      .when(col("doc_id") % 5 === 3, lit(greekFixture))
      .otherwise(col("text"))

  /** The whole-corpus span election in served form — (h, keeper,
    * n_instances) for duplicated shingles. Pins p122 (segmented serve),
    * p127 (compacted serve), and q114 (streaming segment log): all
    * three must equal this because their folds are associative.
    */
  private lazy val spanElectionOracle: String = s"""
      WITH toks AS (SELECT doc_id, ${sqlToks("text")} AS t FROM documents),
      sh AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 8
               THEN generate_series(1, len(t)-7) ELSE [] END) AS i, t
             FROM toks),
      s2 AS (SELECT doc_id, i - 1 AS pos,
               md5(array_to_string(t[i:i+7], ' ')) AS h FROM sh),
      fw AS (SELECT h, min(doc_id * 1048576 + pos) AS w, count(*) AS c
             FROM s2 GROUP BY h)
      SELECT h, CAST(w // 1048576 AS BIGINT) AS keeper_doc,
             CAST(w % 1048576 AS BIGINT) AS keeper_idx,
             CAST(c AS BIGINT) AS n_instances
      FROM fw WHERE c > 1 ORDER BY h"""

  /** The span self-dedup oracle (p114), parameterized by a final WHERE
    * over the scrub output — the election always runs corpus-wide; the
    * incremental serve twin (p121) restricts the OUTPUT to the new
    * crawl batch (`finalWhere = "WHERE doc_id >= 250"`), which equals
    * the index-serve result because old ids precede new ids in the
    * (doc_id, pos) total order.
    */
  private def selfDedupOracle(finalWhere: String): String = s"""
      WITH $selfDedupCtes
      SELECT doc_id,
             CAST(sum(CASE WHEN d THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
             coalesce(array_to_string(list(tok ORDER BY pos) FILTER (WHERE NOT d), ' '),
                      '') AS deduped
      FROM dr $finalWhere GROUP BY doc_id ORDER BY doc_id"""

  /** The CTE chain of [[selfDedupOracle]] up to `dr` (per-token drop
    * verdicts) — shared with the ablation report's span tier, which
    * runs it over the noindex-gated corpus (`docsRel` = the gated
    * CTE; p114/p121 keep the raw table).
    */
  private lazy val selfDedupCtes: String = selfDedupCtesFrom("documents")

  private def selfDedupCtesFrom(docsRel: String): String = s"""
      toks AS (SELECT doc_id, ${sqlToks("text")} AS t FROM $docsRel),
      sh AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 8
               THEN generate_series(1, len(t)-7) ELSE [] END) AS i, t
             FROM toks),
      s2 AS (SELECT doc_id, i - 1 AS pos,
               md5(array_to_string(t[i:i+7], ' ')) AS h FROM sh),
      fw AS (SELECT h, min(doc_id * 1048576 + pos) AS w, count(*) AS c
             FROM s2 GROUP BY h),
      hits AS (SELECT doc_id, pos, pos + 7 AS e
               FROM s2 JOIN fw USING (h)
               WHERE c > 1 AND doc_id * 1048576 + pos <> w),
      isl AS (SELECT doc_id, pos, e,
                max(e) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
              FROM hits),
      i2 AS (SELECT *, CASE WHEN pe IS NULL OR pos > pe + 1
                       THEN 1 ELSE 0 END AS ns FROM isl),
      i3 AS (SELECT *, sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS span_id FROM i2),
      sp AS (SELECT doc_id, min(pos) AS ss, max(e) AS se
             FROM i3 GROUP BY doc_id, span_id),
      tk AS (SELECT doc_id, unnest(generate_series(1, len(t))) AS i, t
             FROM toks WHERE len(t) >= 1),
      t2 AS (SELECT doc_id, i - 1 AS pos, t[i] AS tok FROM tk),
      dr AS (SELECT t2.doc_id, t2.pos, t2.tok,
               EXISTS(SELECT 1 FROM sp WHERE sp.doc_id = t2.doc_id
                      AND t2.pos BETWEEN sp.ss AND sp.se) AS d
             FROM t2)"""

  /** p120's planted accent block in DECOMPOSED form (combining marks,
    * not precomposed code points) — the byte sequence both engines
    * synthesize and then normalize.
    */
  private[graft] val decomposedFixture: String =
    "de\u0301cor cafe\u0301 nai\u0308ve fac\u0327ade A\u0308pfel"

  /** p113's mixture weights — skewed so the repetition cap actually
    * bites at small SF; shared verbatim with the oracle's VALUES list.
    */
  private[graft] val mixtureWeights: Seq[(String, Int)] =
    Seq("src0" -> 320, "src1" -> 100) ++
      (2 to 18).map(i => s"src$i" -> 30) :+ ("src19" -> 70)

  /** The deterministic PII fixture SHARED by p109 and its streaming
    * twin: every third document gains a contact block (email + IPv4 +
    * phone) derived from doc_id — the corpus itself is digit-free, so
    * the redactor would otherwise be a no-op; the oracle re-derives
    * the identical block in SQL ([[piiFixtureSqlCte]]).
    */
  private[graft] def piiFixtureText: Column =
    when(col("doc_id") % 3 === 0, concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com ip 10."), (col("doc_id") % 250).cast("string"),
      lit(".0."), (col("doc_id") % 100).cast("string"),
      lit(" tel +1 555 123 "),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .otherwise(col("text"))

  private lazy val piiFixtureSqlCte: String = """
      pii AS (SELECT doc_id,
                CASE WHEN doc_id % 3 = 0 THEN text || ' contact user' ||
                  CAST(doc_id AS VARCHAR) || '@example.com ip 10.' ||
                  CAST(doc_id % 250 AS VARCHAR) || '.0.' ||
                  CAST(doc_id % 100 AS VARCHAR) || ' tel +1 555 123 ' ||
                  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                ELSE text END AS text
              FROM documents)"""

  /** p109's oracle: the same fixture synthesis, then
    * [[graft.text.CorpusOps.scrub]]'s exact semantics with the SAME
    * stock piiPatterns literals — replacements folded in pattern
    * order, counts measured against the ORIGINAL text (scrub's
    * documented contract).
    */
  lazy val piiOracle: String = {
    val pats = graft.text.CorpusOps.piiPatterns
    val cleaned = pats.foldLeft("text") { case (acc, (name, re)) =>
      s"regexp_replace($acc, '$re', '[${name.toUpperCase}]', 'g')"
    }
    val counts = pats.map { case (name, re) =>
      s"CAST(len(regexp_extract_all(text, '$re')) AS BIGINT) AS n_$name"
    }.mkString(",\n             ")
    s"""
      WITH $piiFixtureSqlCte
      SELECT doc_id, $cleaned AS clean_text,
             $counts
      FROM pii ORDER BY doc_id"""
  }

  /** p100's covariance oracle — shared with p101 (segment lifecycle)
    * and q95 (streaming twin): every maintenance path must reproduce
    * the one-pass fold bit-for-bit.
    */
  private lazy val covarianceOracle: String = """
      WITH m AS (SELECT list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS em
                 FROM embeddings),
      cnt AS (SELECT count(*) AS n FROM m),
      idx AS (SELECT unnest(generate_series(1, 64)) AS i),
      prods AS (SELECT a.i AS i, b.i AS j,
                  CAST(sum(em[a.i] * em[b.i]) AS BIGINT) AS sxy
                FROM m CROSS JOIN idx a CROSS JOIN idx b
                WHERE a.i <= b.i GROUP BY 1, 2),
      sums AS (SELECT a.i AS i, CAST(sum(em[a.i]) AS BIGINT) AS sx
               FROM m CROSS JOIN idx a GROUP BY 1)
      SELECT p.i, p.j,
             CAST(cnt.n * p.sxy - si.sx * sj.sx AS BIGINT) AS cov_num
      FROM prods p, cnt, sums si, sums sj
      WHERE si.i = p.i AND sj.i = p.j
      ORDER BY p.i, p.j"""

  /** p84's sketch-overlap oracle — shared with p89 (incremental
    * lifecycle) and q83 (streaming twin): every maintenance path must
    * reproduce the one-pass build bit-for-bit.
    */
  private lazy val sketchOverlapOracle: String = s"""
      WITH sh AS (SELECT source, unnest($sqlShingles) AS sh FROM documents),
      hh AS (SELECT source, ${sqlHash40("sh")} AS h FROM sh),
      sk AS (SELECT source, h % 256 AS bucket, min(h) AS mh
             FROM hh GROUP BY 1, 2),
      est AS (SELECT source,
                ${sqlSketchEst("count(*)", "sum(mh)")} AS est
              FROM sk GROUP BY 1),
      pairs AS (SELECT a.source AS source_a, b.source AS source_b
                FROM (SELECT DISTINCT source FROM sk) a,
                     (SELECT DISTINCT source FROM sk) b
                WHERE a.source < b.source),
      contrib AS (
        SELECT p.source_a, p.source_b, s.bucket, s.mh
        FROM pairs p JOIN sk s ON s.source = p.source_a
        UNION ALL
        SELECT p.source_a, p.source_b, s.bucket, s.mh
        FROM pairs p JOIN sk s ON s.source = p.source_b),
      usk AS (SELECT source_a, source_b, bucket, min(mh) AS mh
              FROM contrib GROUP BY 1, 2, 3),
      uest AS (SELECT source_a, source_b,
                 ${sqlSketchEst("count(*)", "sum(mh)")} AS est_union
               FROM usk GROUP BY 1, 2),
      j AS (SELECT p.source_a, p.source_b, ea.est AS est_a, eb.est AS est_b,
              u.est_union,
              greatest(0, ea.est + eb.est - u.est_union) AS est_inter
            FROM pairs p
            JOIN est ea ON ea.source = p.source_a
            JOIN est eb ON eb.source = p.source_b
            JOIN uest u USING (source_a, source_b))
      SELECT source_a, source_b, est_a, est_b, est_union,
             CAST(est_inter AS BIGINT) AS est_inter,
             CAST(CASE WHEN est_union > 0
                  THEN (1000000 * est_inter) // est_union
                  ELSE 0 END AS BIGINT) AS jaccard_micro
      FROM j ORDER BY 1, 2"""

  /** The IVF-PQ oracle, shared by p34 (inline build) and p59 (served
    * from the materialized artifacts) — the two executions must rank
    * identically.
    */
  /** The shingles → 8-minhash signature → 4×2 band-key CTE prelude
    * shared by p05 (all-pairs candidates) and p72 (the served index
    * probe) — one generator so the two recomputed band keys cannot
    * drift.
    */
  private lazy val minhashBandsCtes: String = s"""sh AS (
        SELECT doc_id, $sqlShingles AS shingles FROM documents
        WHERE len($sqlShingles) >= 1),
      sig AS (
        SELECT doc_id, list_transform(generate_series(0, 7),
                 i -> list_min(list_transform(shingles,
                        s -> md5(CAST(i AS VARCHAR) || ':' || s)))) AS sig
        FROM sh),
      bands AS (
        SELECT doc_id, unnest(list_transform(generate_series(0, 3),
                 b -> CAST(b AS VARCHAR) || '|' ||
                      array_to_string(sig[b*2+1:b*2+2], '|'))) AS band_key
        FROM sig)"""

  /** The BM25 oracle with an optional WHERE over the corpus — p49 is
    * `bm25Oracle("")`; the deletion twin (q78) scores the SURVIVING
    * corpus only, n/avgdl/df included, by filtering the very first CTE
    * (the oracle never sees the log or the tombstones — it recomputes
    * the survivors' ranking from raw text).
    */
  def bm25Oracle(where: String): String = s"""
      WITH t AS (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents$where),
      stats AS (SELECT count(*) AS n,
                  CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl FROM t),
      tf AS (SELECT doc_id, dl, token, count(*) AS tf FROM
              (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
                      unnest(toks) AS token FROM t)
             WHERE token IN ('hash', 'join', 'merge', 'window', 'sort',
                             'order', 'vector', 'scan', 'filter')
             GROUP BY 1, 2, 3),
      df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      q(qid, token) AS (VALUES
        ('q_hash_join', 'hash'), ('q_hash_join', 'join'), ('q_hash_join', 'merge'),
        ('q_window', 'window'), ('q_window', 'sort'), ('q_window', 'order'),
        ('q_scan', 'vector'), ('q_scan', 'scan'), ('q_scan', 'filter')),
      sc AS (SELECT qid, tf.doc_id AS doc_id,
               CAST(round(ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
                 (tf * (1.2 + 1)) /
                 (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) * 1e6, 0)
                 AS BIGINT) AS m
             FROM tf JOIN df USING (token) JOIN q USING (token), stats),
      agg AS (SELECT qid, doc_id, CAST(sum(m) AS BIGINT) AS score_micro
              FROM sc GROUP BY 1, 2)
      SELECT qid, rank, doc_id, score_micro FROM (
        SELECT qid, doc_id, score_micro,
               row_number() OVER (PARTITION BY qid
                 ORDER BY score_micro DESC, doc_id) AS rank
        FROM agg) r
      WHERE rank <= 15 ORDER BY qid, rank"""

  /** p94's hybrid-RRF oracle — shared with p95 (the fused ranking's own
    * MRR evaluation) and the streaming twin q88: every execution of the
    * hybrid ranking must reproduce the same fusion bit-for-bit.
    */
  lazy val hybridRrfOracle: String = s"""
      WITH tr AS (${bm25Oracle("")}),
      vq AS (SELECT vec_id AS query_vec, embedding::DOUBLE[] AS qv
             FROM embeddings WHERE vec_id < 3),
      vc AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
             FROM embeddings),
      vs AS (SELECT query_vec, neighbor_id,
                    round(list_dot_product(cv, qv) /
                          (sqrt(list_dot_product(cv, cv)) *
                           sqrt(list_dot_product(qv, qv))), 6) AS cos
             FROM vc, vq WHERE neighbor_id <> query_vec),
      vr AS (SELECT * FROM (
               SELECT query_vec, neighbor_id,
                      row_number() OVER (PARTITION BY query_vec
                        ORDER BY cos DESC, neighbor_id) AS rank
               FROM vs) WHERE rank <= 15),
      vmap(qid, query_vec) AS (VALUES
        ('q_hash_join', 0), ('q_window', 1), ('q_scan', 2)),
      vrank AS (SELECT qid, neighbor_id AS doc_id, rank
                FROM vr JOIN vmap USING (query_vec)),
      u AS (SELECT qid, doc_id, 1000000 // (60 + rank) AS c FROM tr
            UNION ALL
            SELECT qid, doc_id, 1000000 // (60 + rank) AS c FROM vrank),
      f AS (SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro
            FROM u GROUP BY 1, 2),
      fr AS (SELECT *, row_number() OVER (PARTITION BY qid
               ORDER BY rrf_micro DESC, doc_id) AS rank FROM f)
      SELECT qid, CAST(rank AS BIGINT) AS rank, doc_id, rrf_micro
      FROM fr WHERE rank <= 10 ORDER BY qid, rank"""

  /** p08's brute-force cosine top-5 — also the EXACT side of the p76
    * recall evaluation (one string so the ground truth cannot drift).
    */
  lazy val bruteTopkOracle: String = """
      WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                 FROM embeddings WHERE vec_id < 20),
      c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
      scored AS (SELECT query_id, neighbor_id,
                        round(list_dot_product(cv, qv) /
                              (sqrt(list_dot_product(cv, cv)) *
                               sqrt(list_dot_product(qv, qv))), 6) AS cos
                 FROM c, q WHERE neighbor_id <> query_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored)
      SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 5
      ORDER BY query_id, rank"""

  lazy val ivfPqOracle: String = ivfPqOracleCand("")

  /** The IVF-PQ oracle with an extra predicate on the NEIGHBOR
    * candidate set — `candExtra` is ANDed where candidates form, so
    * p71's deletions exclude tombstoned neighbors while quantizers,
    * probes, and encodings (full-build artifacts) stay untouched, which
    * is exactly what serve-time masking promises.
    */
  def ivfPqOracleCand(candExtra: String): String = s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e
               WHERE vec_id % 25 = 0),
      asg0 AS (SELECT e.vec_id, centroid_id,
                      round(list_dot_product(e.v, cv) /
                            (sqrt(list_dot_product(e.v, e.v)) *
                             sqrt(list_dot_product(cv, cv))), 6) AS ccos
               FROM e CROSS JOIN cent),
      asg AS (SELECT vec_id, centroid_id FROM
                (SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY ccos DESC, centroid_id) AS rn FROM asg0)
              WHERE rn = 1),
      q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
      probe0 AS (SELECT query_id, centroid_id,
                        round(list_dot_product(qv, cv) /
                              (sqrt(list_dot_product(qv, qv)) *
                               sqrt(list_dot_product(cv, cv))), 6) AS ccos
                 FROM q CROSS JOIN cent),
      probes AS (SELECT query_id, centroid_id FROM
                   (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY ccos DESC, centroid_id) AS rn FROM probe0)
                 WHERE rn <= 2),
      js AS (SELECT unnest(generate_series(0, 3)) AS j),
      sub AS (SELECT vec_id, j, v[j*16+1 : j*16+16] AS sv FROM e CROSS JOIN js),
      cb AS (SELECT vec_id AS code_id, j, sv AS cw FROM sub WHERE vec_id % 25 = 0),
      d AS (SELECT s.vec_id, s.j, cb.code_id,
                   CAST(round((list_dot_product(s.sv, s.sv)
                             - 2.0 * list_dot_product(s.sv, cb.cw)
                             + list_dot_product(cb.cw, cb.cw)) * 1000000) AS BIGINT) AS d2
            FROM sub s JOIN cb ON s.j = cb.j),
      enc AS (SELECT vec_id, j, code_id FROM
                (SELECT *, row_number() OVER (PARTITION BY vec_id, j
                   ORDER BY d2, code_id) AS rn FROM d)
              WHERE rn = 1),
      qt AS (SELECT vec_id AS query_id, j, code_id, d2 AS qd2
             FROM d WHERE vec_id < 20),
      cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
               FROM probes p JOIN asg a USING (centroid_id)
               WHERE a.vec_id <> p.query_id$candExtra),
      scored AS (SELECT c.query_id, c.neighbor_id,
                        CAST(sum(qd2) AS BIGINT) AS approx_d2_u6
                 FROM cand c JOIN enc ON enc.vec_id = c.neighbor_id
                      JOIN qt ON qt.query_id = c.query_id AND qt.j = enc.j
                             AND qt.code_id = enc.code_id
                 GROUP BY 1, 2),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY approx_d2_u6, neighbor_id) AS rank FROM scored)
      SELECT query_id, neighbor_id, approx_d2_u6, CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= 5 ORDER BY query_id, rank"""

  /** The messy-URL provenance fixture SHARED by p63 and its streaming
    * twin (q72): five variants per target page derived from
    * (source, doc_id) — case-folded host, explicit :443, tracking
    * params, fragments, userinfo, shuffled param order — all of which
    * must canonicalize to 'https://www.<source>.com/a/b?x=1&y=2' (the
    * form the oracle derives from the formula directly). Branches key
    * on the doc_id/20 quotient (the p57 decorrelation rule).
    */
  /** p57/p69's provenance fixture: URL-ish source ids derived from
    * (source, doc_id) — cdn subdomains, a co.uk multi-part suffix, a
    * port to strip, and plain shard ids — so MANY raw sources roll up
    * to FEW registered-domain families. Branches on the doc_id/20
    * quotient, NOT doc_id % 4: the testdata's source is doc_id % 20, so
    * a %4 branch would be constant per source (4 | 20) and each source
    * would land in exactly one family — the quotient cycles branches
    * WITHIN each source. The SQL twin below must stay in lockstep.
    */
  private[graft] def familyUrlFixture: Column = {
    val m4 = floor(col("doc_id") / 20) % 4
    when(m4 === 0, concat(lit("https://cdn"),
        (col("doc_id") % 3).cast("string"), lit("."), col("source"),
        lit(".com/p/"), col("doc_id").cast("string")))
      .when(m4 === 1, concat(lit("http://www."), col("source"), lit(".co.uk/x?y=1")))
      .when(m4 === 2, concat(lit("https://"), col("source"), lit(".org:8080/y")))
      .otherwise(concat(col("source"), lit("-"), (col("doc_id") % 5).cast("string")))
  }

  /** DuckDB rendering of [[familyUrlFixture]] — shared by the p57 and
    * p69 oracles.
    */
  private val familyUrlFixtureSql: String =
    """CASE (doc_id // 20) % 4
          WHEN 0 THEN 'https://cdn' || CAST(doc_id % 3 AS VARCHAR) || '.'
                      || source || '.com/p/' || CAST(doc_id AS VARCHAR)
          WHEN 1 THEN 'http://www.' || source || '.co.uk/x?y=1'
          WHEN 2 THEN 'https://' || source || '.org:8080/y'
          ELSE source || '-' || CAST(doc_id % 5 AS VARCHAR) END"""

  private[graft] def messyUrlFixture: Column = {
    val m5 = floor(col("doc_id") / 20) % 5
    val base = concat(col("source"), lit(".com"))
    when(m5 === 0,
        concat(lit("https://www."), base, lit("/a/b?x=1&y=2")))
      .when(m5 === 1,
        concat(lit("HTTPS://WWW."), upper(base), lit(":443/a/b?y=2&x=1")))
      .when(m5 === 2,
        concat(lit("https://www."), base, lit("/a/b?utm_source=t&x=1&y=2#frag")))
      .when(m5 === 3,
        // the utm value carries a literal '?' (legal per RFC 3986):
        // pins the FIRST-'?' query anchor — a greedy last-'?' extract
        // would read the query as 'c&y=2' and produce a wrong key
        concat(lit("https://www."), base, lit("/a/b?x=1&utm_campaign=c?c&y=2")))
      .otherwise(
        concat(lit("https://user:pw@www."), base, lit("/a/b?y=2&x=1&gclid=g")))
  }

  /** Oracle for p58: `k` unrolled BPE rounds. Stage i counts adjacent
    * symbol pairs of stage i-1's sequences (weighted by word count),
    * picks the (count DESC, left, right) top pair, and applies it with
    * a slash-delimited regexp_replace — '/l/ /r/' → '/lr/' is exactly
    * the simultaneous leftmost-nonoverlapping merge, and '/' can't
    * collide with corpus symbols ([a-z] words) or regex metachars.
    */
  def bpeOracle(k: Int): String =
    s"""
      WITH ${bpeStagesSql(k)}
      SELECT CAST(rank AS BIGINT) AS rank, pair_left, pair_right,
             pair_left || pair_right AS merged,
             CAST(total AS BIGINT) AS pair_count
      FROM (${(1 to k).map(i => s"SELECT * FROM p_$i").mkString(" UNION ALL ")})
      ORDER BY rank"""

  /** The shared k unrolled training rounds (vocab → seqs_0 → … →
    * seqs_k), used by both the p58 merge-table oracle and the p64
    * encode oracle — one generator so the two cannot drift.
    */
  private def bpeStagesSql(k: Int): String =
    s"""vocab AS (SELECT w, count(*) AS cnt FROM
                       (SELECT unnest(${sqlToks("text")}) AS w FROM documents)
                     GROUP BY 1),
      seqs_0 AS (SELECT w, cnt,
                   array_to_string(list_transform(generate_series(1, length(w)),
                     i -> '/' || substr(w, i, 1) || '/'), ' ') AS seq
                 FROM vocab),
      ${bpeRoundsSql(k)}"""

  /** The k merge ROUNDS alone (seqs_0 → … → seqs_k) — seeding-agnostic,
    * shared between the char-level ([[bpeStagesSql]]) and byte-level
    * ([[bpeByteStagesSql]]) stage chains: the two tokenizer families
    * differ ONLY in how seqs_0 is seeded, in the oracle exactly as in
    * the engine ([[graft.functions.BpeKernel.seed]] vs
    * [[graft.functions.ByteAlphabet.seed]]).
    */
  private def bpeRoundsSql(k: Int): String =
    // seqs_i / p_i are each referenced TWICE downstream; MATERIALIZED
    // keeps DuckDB's CTE inlining from recomputing the chain
    // exponentially in k (the byte-level seeding made that blow-up
    // visible: >120 s vs <1 s at sf0.1 on identical stage logic)
    (1 to k).map { i =>
      s"""syms_$i AS (SELECT cnt, list_transform(string_split(seq, ' '),
                        x -> x[2 : len(x) - 1]) AS syms
                 FROM seqs_${i - 1}),
      raw_$i AS (SELECT cnt, unnest(list_transform(generate_series(1, len(syms) - 1),
                        j -> {'l': syms[j], 'r': syms[j + 1]})) AS pr
                 FROM syms_$i WHERE len(syms) > 1),
      p_$i AS MATERIALIZED (SELECT $i AS rank, pr.l AS pair_left, pr.r AS pair_right,
                      sum(cnt) AS total
               FROM raw_$i GROUP BY 1, 2, 3
               ORDER BY total DESC, pair_left, pair_right LIMIT 1),
      seqs_$i AS MATERIALIZED (SELECT w, cnt,
                    regexp_replace(seq,
                      '/' || p.pair_left || '/ /' || p.pair_right || '/',
                      '/' || p.pair_left || p.pair_right || '/', 'g') AS seq
                  FROM seqs_${i - 1}, p_$i p)"""
    }.mkString(",\n      ")

  /** Deterministic MULTILINGUAL decoration of the corpus for the
    * byte-level BPE entries (p158/p159/p160): the raw documents are
    * pure printable ASCII (where byte-level and char-level BPE agree
    * by construction), so each doc appends one doc_id-selected word
    * with 2- and 3-byte UTF-8 characters (Latin accents + CJK) plus
    * six repeats of 'über' — enough pair mass (6/doc vs the corpus
    * top pair's ~9/doc at every SF, both linear in corpus size) that
    * byte pairs like (¼,b) provably enter the learned top-8 merges,
    * making the oracle gate the byte path, not just reproduce the
    * ASCII one.
    */
  private[graft] val byteFixtureWords =
    Seq("café", "naïve", "日本語", "smörgås", "данные")

  private[graft] def byteTextFixture: Column =
    concat(col("text"), lit(" "),
      element_at(array(byteFixtureWords.map(lit): _*),
        (col("doc_id") % byteFixtureWords.size + 1).cast("int")),
      lit(" über über über über über über"))

  private lazy val byteTextFixtureSql: String = {
    val lst = byteFixtureWords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""(text || ' ' || ($lst)[CAST(doc_id % ${byteFixtureWords.size} + 1 AS INT)]
        || ' über über über über über über')"""
  }

  /** Byte-level stage chain: the SAME k rounds over a seqs_0 seeded
    * from raw UTF-8 BYTES — hex(encode(w)) splits the word into byte
    * values, each mapped through the GPT-2 byte↔unicode alphabet
    * rendered as a 256-entry list literal from the one JVM table
    * ([[graft.functions.ByteAlphabet.sqlList]]); an independent SQL
    * execution of byte seeding, not a re-print of the engine's.
    */
  private def bpeByteStagesSql(k: Int): String =
    s"""vocab AS (SELECT w, count(*) AS cnt FROM
                       (SELECT unnest(${sqlToks(byteTextFixtureSql)}) AS w
                        FROM documents)
                     GROUP BY 1),
      hx AS (SELECT w, cnt, hex(encode(w)) AS h FROM vocab),
      seqs_0 AS MATERIALIZED (SELECT w, cnt,
                   array_to_string(list_transform(generate_series(1, length(h) // 2),
                     i -> '/' || substr(${graft.functions.ByteAlphabet.sqlString},
                         CAST(instr('0123456789ABCDEF', substr(h, 2*i - 1, 1)) * 16
                            + instr('0123456789ABCDEF', substr(h, 2*i, 1))
                            - 16 AS INT), 1) || '/'), ' ') AS seq
                 FROM hx),
      ${bpeRoundsSql(k)}"""

  /** Oracle for p158: k unrolled BYTE-LEVEL rounds — [[bpeOracle]]'s
    * select over [[bpeByteStagesSql]]'s byte-seeded stages.
    */
  def byteBpeOracle(k: Int): String =
    s"""
      WITH ${bpeByteStagesSql(k)}
      SELECT CAST(rank AS BIGINT) AS rank, pair_left, pair_right,
             pair_left || pair_right AS merged,
             CAST(total AS BIGINT) AS pair_count
      FROM (${(1 to k).map(i => s"SELECT * FROM p_$i").mkString(" UNION ALL ")})
      ORDER BY rank"""

  /** Oracle for p159: byte-level encode read off the final training
    * state (the [[bpeEncodeOracle]] machinery over byte-seeded stages
    * and the decorated corpus) — agreement proves the engine's
    * byte-level merge application reproduces the byte-level training
    * evolution, the same round-trip property p64 pins for char level.
    */
  def byteBpeEncodeOracle(k: Int): String =
    s"""
      WITH ${bpeByteStagesSql(k)},
      enc AS (SELECT w, replace(seq, '/', '') AS ew FROM seqs_$k),
      t AS (SELECT doc_id, ${sqlToks(byteTextFixtureSql)} AS toks FROM documents),
      occ AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
                i -> {'w': toks[i], 'pos': i})) AS pr
              FROM t WHERE len(toks) > 0),
      ew AS (SELECT doc_id, pr.pos AS pos, e.ew AS ew
             FROM occ JOIN enc e ON e.w = pr.w),
      agg AS (SELECT doc_id, string_agg(ew, ' ' ORDER BY pos) AS bpe_text
              FROM ew GROUP BY 1)
      SELECT d.doc_id, coalesce(a.bpe_text, '') AS bpe_text,
             CAST(len(list_filter(string_split(coalesce(a.bpe_text, ''), ' '),
                      x -> x <> '')) AS BIGINT) AS n_bpe_tokens
      FROM documents d LEFT JOIN agg a USING (doc_id)
      ORDER BY d.doc_id"""

  /** Oracle for p160: per-source fertility of the BYTE-LEVEL tokenizer
    * over the decorated corpus — p129's chain over byte-seeded stages.
    * On the non-ASCII decoration the ratio provably differs from char
    * level (a 3-char CJK word is 9 byte symbols before any merge).
    */
  def byteBpeFertilityOracle(k: Int): String =
    s"""
      WITH ${bpeByteStagesSql(k)},
      enc AS (SELECT w, replace(seq, '/', '') AS ew FROM seqs_$k),
      tt AS (SELECT doc_id, source, ${sqlToks(byteTextFixtureSql)} AS toks
             FROM documents),
      occ AS (SELECT doc_id, source, unnest(toks) AS w FROM tt
              WHERE len(toks) > 0),
      ewn AS (SELECT o.source,
                len(list_filter(string_split(e.ew, ' '), x -> x <> ''))
                  AS nbp
              FROM occ o JOIN enc e ON e.w = o.w),
      gd AS (SELECT source AS "group", count(*) AS n_docs
             FROM documents GROUP BY 1),
      ga AS (SELECT source AS "group",
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(nbp) AS BIGINT) AS n_bpe_tokens
             FROM ewn GROUP BY 1)
      SELECT gd."group", gd.n_docs,
             CAST(coalesce(ga.n_words, 0) AS BIGINT) AS n_words,
             CAST(coalesce(ga.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
             CAST(CASE WHEN coalesce(ga.n_words, 0) > 0
               THEN (1000 * ga.n_bpe_tokens) // ga.n_words
               ELSE 0 END AS BIGINT) AS fertility_permille
      FROM gd LEFT JOIN ga ON gd."group" = ga."group"
      ORDER BY gd."group""""

  /** Oracle for p64 + q73: an INDEPENDENT recompute of the encoding —
    * where the engine applies the merge table to raw text, the oracle
    * unrolls the k training rounds over the VOCABULARY (p58's shared
    * stage machinery) and reads each word's encoding off the final
    * training state seqs_k, then reassembles documents by positional
    * word lookup. Agreement proves the engine's merge APPLICATION
    * reproduces the training evolution exactly (the round-trip
    * property) — not merely that two copies of the same code agree.
    */
  def bpeEncodeOracle(k: Int): String =
    s"""
      WITH ${bpeStagesSql(k)},
      enc AS (SELECT w, replace(seq, '/', '') AS ew FROM seqs_$k),
      t AS (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents),
      occ AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
                i -> {'w': toks[i], 'pos': i})) AS pr
              FROM t WHERE len(toks) > 0),
      ew AS (SELECT doc_id, pr.pos AS pos, e.ew AS ew
             FROM occ JOIN enc e ON e.w = pr.w),
      agg AS (SELECT doc_id, string_agg(ew, ' ' ORDER BY pos) AS bpe_text
              FROM ew GROUP BY 1)
      SELECT d.doc_id, coalesce(a.bpe_text, '') AS bpe_text,
             CAST(len(list_filter(string_split(coalesce(a.bpe_text, ''), ' '),
                      x -> x <> '')) AS BIGINT) AS n_bpe_tokens
      FROM documents d LEFT JOIN agg a USING (doc_id)
      ORDER BY d.doc_id"""

  /** Oracle for the aHash election (p56 + q66): DuckDB recomputes the
    * 8×8 nearest-neighbor sample and the integer mean threshold from
    * the [[graft.multimodal.ImageCodec.SyntheticImages]] pixel formula
    * — Spark computes the same code from the DECODED PNG bytes.
    */
  /** The dims → sampled-pixels → aHash-code CTE prelude shared by the
    * p56/q66 election oracle and the corpus-build-v3 media stage — one
    * generator so the recomputed codes cannot drift between them.
    */
  private lazy val phashCodedCtes: String = s"""${graft.multimodal.ImageCodec.SyntheticImages.oracleDims},
      samp AS (SELECT doc_id,
                 list_transform(generate_series(0, 63),
                   c -> (seed * 31
                         + (((c // 8) * h // 8) * w + ((c % 8) * w // 8)) * 7) % 256)
                   AS sp
               FROM dims),
      coded AS (SELECT doc_id AS media_id,
                  array_to_string(list_transform(sp,
                    p -> CASE WHEN p * 64 >= list_sum(sp)
                              THEN '1' ELSE '0' END), '') AS phash
                FROM samp)"""

  /** Oracle for the log-odds reference classifier (p81 + its streaming
    * twin): the same add-one log-odds weights in integer micro-units,
    * recomputed from raw text. CASE branches mirror Spark's
    * when/otherwise pair exactly (null predicate → non-reference).
    */
  /** DuckDB SQL fragment: deterministic 52-bit integer from the first
    * 13 hex chars of md5 — exact dual of the dice roll
    * [[graft.curation.Curation.aesKey]] and
    * [[graft.text.CorpusOps.dsirResample]] use (positional hex parse,
    * the [[sqlHash40]] idiom widened to 13 chars).
    */
  private def sqlRoll52(e: String): String =
    s"""(list_aggregate(list_transform(range(13), i ->
          CAST(instr('0123456789abcdef', substr(md5($e), CAST(i+1 AS INT), 1)) - 1
               AS BIGINT) * (1::BIGINT << CAST(4*(12-i) AS INT))), 'sum'))"""

  /** Shared CTE chain for the DSIR pair (p115/p116): hashed bigram
    * features (4096 buckets via [[sqlHash40]] mod), per-side add-one
    * smoothed counts, micro-truncated log importance ratios, per-doc
    * integer sums — the exact dual of
    * [[graft.text.CorpusOps.dsirModel]]/[[graft.text.CorpusOps.dsirLogWeights]]
    * with target = doc_id % 101 = 0.
    */
  private lazy val dsirCtes: String = s"""
      t AS (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents),
      t2 AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
      bg AS (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks)-1),
                 i -> array_to_string(toks[i:i+1], ' '))) AS b FROM t2),
      f AS (SELECT doc_id, ${sqlHash40("b")} % 4096 AS bucket FROM bg),
      ct AS (SELECT bucket, count(*) AS c FROM f WHERE doc_id % 101 = 0
             GROUP BY 1),
      cr AS (SELECT bucket, count(*) AS c FROM f WHERE doc_id % 101 <> 0
             GROUP BY 1),
      nt AS (SELECT count(*) AS n FROM f WHERE doc_id % 101 = 0),
      nr AS (SELECT count(*) AS n FROM f WHERE doc_id % 101 <> 0),
      w AS (SELECT bucket,
              CAST(round((ln(CAST(coalesce(ct.c, 0) + 1 AS DOUBLE)
                           / CAST(nt.n + 4096 AS DOUBLE))
                        - ln(CAST(coalesce(cr.c, 0) + 1 AS DOUBLE)
                           / CAST(nr.n + 4096 AS DOUBLE))) * 1e6, 0)
                   AS BIGINT) AS m
            FROM ct FULL OUTER JOIN cr USING (bucket), nt, nr),
      sc AS (SELECT doc_id, count(*) AS n_feats,
               CAST(sum(m) AS BIGINT) AS logw_micro
             FROM f JOIN w USING (bucket) WHERE doc_id % 101 <> 0
             GROUP BY 1)"""

  lazy val dsirOracle: String = s"""
      WITH $dsirCtes
      SELECT doc_id, n_feats, logw_micro FROM sc ORDER BY doc_id"""

  lazy val logOddsOracle: String = s"""
      WITH t AS (SELECT doc_id, lang = 'en' AS good,
                   ${sqlToks("text")} AS toks FROM documents),
      t1 AS (SELECT * FROM t WHERE len(toks) >= 1),
      u AS (SELECT doc_id, good, unnest(toks) AS tok FROM t1),
      c AS (SELECT tok,
              sum(CASE WHEN good THEN 1 ELSE 0 END) AS cg,
              sum(CASE WHEN good THEN 0 ELSE 1 END) AS cb
            FROM u GROUP BY 1),
      tot AS (SELECT sum(cg) AS ng, sum(cb) AS nb, count(*) AS v FROM c),
      w AS (SELECT tok,
              CAST(round((ln(CAST(cg + 1 AS DOUBLE) / CAST(ng + v AS DOUBLE))
                        - ln(CAST(cb + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE)))
                   * 1e6, 0) AS BIGINT) AS w_micro
            FROM c, tot),
      sc AS (SELECT doc_id, count(*) AS n_tokens, sum(w_micro) AS s
             FROM u JOIN w USING (tok) GROUP BY 1)
      SELECT doc_id, n_tokens,
             CAST(CASE WHEN s >= 0 THEN (2 * s + n_tokens) // (2 * n_tokens)
                       ELSE -((2 * -s + n_tokens) // (2 * n_tokens)) END
                  AS BIGINT) AS log_odds_micro,
             CAST(CASE WHEN s >= 0 THEN (2 * s + n_tokens) // (2 * n_tokens)
                       ELSE -((2 * -s + n_tokens) // (2 * n_tokens)) END
                  AS BIGINT) / 1e6 AS log_odds
      FROM sc ORDER BY doc_id"""

  lazy val phashOracle: String = s"""
      WITH $phashCodedCtes,
      grp AS (SELECT phash, min(media_id) AS keeper_id,
                count(*) AS group_size
              FROM coded GROUP BY 1)
      SELECT media_id, phash, keeper_id,
             media_id = keeper_id AS kept, group_size
      FROM coded JOIN grp USING (phash)
      ORDER BY media_id"""

  /** Oracle for the count-min estimates (p38 + q50): DuckDB rebuilds the
    * exact sketch cells from the same md5-bucket arithmetic and takes
    * the per-row min — batch and streaming executions both match it.
    */
  lazy val heavyHittersOracle: String = {
    val bucketOf = (e: String) => {
      val nib = (i: Int) => s"(strpos('0123456789abcdef', substr(md5($e), $i, 1)) - 1)"
      s"""CAST((${nib(1)} * 1048576 + ${nib(2)} * 65536 + ${nib(3)} * 4096
             + ${nib(4)} * 256 + ${nib(5)} * 16 + ${nib(6)}) % 64 AS BIGINT)"""
    }
    s"""
      WITH toks AS (SELECT unnest(${sqlToks("text")}) AS tok FROM documents),
      js AS (SELECT unnest(generate_series(0, 3)) AS j),
      tb AS (SELECT j, ${bucketOf("CAST(j AS VARCHAR) || ':' || tok")} AS bucket
             FROM toks CROSS JOIN js),
      cnt AS (SELECT j, bucket, count(*) AS c FROM tb GROUP BY 1, 2),
      probes AS (SELECT unnest(['table', 'value', 'the', 'a', 'row', 'scan']) AS token),
      pb AS (SELECT token, j,
               ${bucketOf("CAST(j AS VARCHAR) || ':' || token")} AS bucket
             FROM probes CROSS JOIN js),
      est AS (SELECT token, CAST(min(coalesce(c, 0)) AS BIGINT) AS est
              FROM pb LEFT JOIN cnt USING (j, bucket) GROUP BY 1),
      ex AS (SELECT tok, count(*) AS c2 FROM toks
             WHERE tok IN ('table', 'value', 'the', 'a', 'row', 'scan') GROUP BY 1)
      SELECT e.token, e.est, CAST(coalesce(ex.c2, 0) AS BIGINT) AS exact
      FROM est e LEFT JOIN ex ON e.token = ex.tok
      ORDER BY e.token"""
  }
}
