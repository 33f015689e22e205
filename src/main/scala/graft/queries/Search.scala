package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns

/** Keyword-search operators over the documents corpus: BM25 relevance
  * ranking and inverted-index construction — the retrieval half of a
  * training-data pipeline (quality-by-retrieval, contamination probes,
  * eval-set mining all start from "rank the corpus for this query").
  *
  * Determinism discipline: both operators are INTEGER-ONLY end to end.
  * BM25's log-idf is replaced by the rational idf (N-df+1)·10⁶/(df+1) —
  * a strictly-decreasing function of df like Robertson's
  * log((N-df+0.5)/(df+0.5)), so per-term ordering is identical and the
  * saturation shape in tf/dl is the classic k₁=1.2, b=0.75 curve, but
  * every division is a Long floor-div at ppm scale, bit-equal in DuckDB
  * (`//`) and Spark (`div`) — no float ever enters the pipeline (the
  * q96 ppm discipline; cross-engine `ln()` drift is the reason the
  * textbook formula can't be hash-verified).
  */
object Search {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** (query_id, term) pairs — the literal "query log" both engines rank
    * against. Terms chosen from the corpus vocabulary: `dup` is the one
    * rare term (df≈25/500), the rest are df≈380-400 common terms, so
    * scores exercise both the idf extremes and tf saturation. */
  private[graft] val QueryTerms: Seq[(String, String)] = Seq(
    "ann_dedup"     -> "dup", "ann_dedup" -> "vector", "ann_dedup" -> "hash",
    "stream_join"   -> "stream", "stream_join" -> "join", "stream_join" -> "window",
    "scan_pushdown" -> "scan", "scan_pushdown" -> "filter", "scan_pushdown" -> "batch",
  )

  private def sqlQueryTerms: String =
    QueryTerms.map { case (q, t) => s"('$q', '$t')" }.mkString(", ")

  /** Non-empty lowercase whitespace tokens of `text`. */
  private def toks(s: SparkSession) = {
    import s.implicits._
    filter(TextFns.tokens($"text"), t => char_length(t) > 0)
  }

  /** Per-(query, doc) BM25 candidate scores — the shared core of q278
    * (ranking) and q290 (ranking-quality evaluation). Columns:
    * (query_id, doc_id, n_terms_matched, score_ppm).
    *
    * Shape at scale: tokens are exploded ONCE and immediately
    * semi-filtered to the broadcast query-term set, so the per-(doc,
    * term) tf table is |queries|-bounded, not vocabulary-bounded; df
    * and the corpus globals (N, avgdl) are term-count / singleton-sized
    * and broadcast back; the only shuffle proportional to the corpus is
    * the tf groupBy, keyed on (doc, term).
    *
    * Overflow bounds (Long): idf_ppm ≤ N·10⁶ and contrib multiplies it
    * by tf_sat_ppm÷1000 ≤ 2200, so the pipeline is exact while
    * N < 4·10⁹ docs; beyond that, drop idf to centi-units (same shape,
    * documented here rather than silently saturating). */
  private def bm25Scored(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
      .select($"doc_id", toks(s).as("t"))
    val queries = s.createDataFrame(QueryTerms).toDF("query_id", "term")
    val terms = QueryTerms.map(_._2).distinct
    // Globals: one singleton row, broadcast via crossJoin.
    val globals = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size($"t")).as("len_sum"))
      .select($"n_docs",
        expr("len_sum * 1000000L div n_docs").as("avgdl_ppm"))
    // tf over query terms only — the explode is pruned at the scan.
    val tf = docs
      .select($"doc_id", size($"t").as("dl"), explode($"t").as("term"))
      .filter($"term".isin(terms: _*))
      .groupBy($"doc_id", $"dl", $"term")
      .agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    tf
      .join(broadcast(df_), "term")
      .join(broadcast(queries), "term")
      .crossJoin(broadcast(globals))
      .withColumn("dl_norm_ppm",
        expr("250000L + (750000L * dl * 1000000L) div avgdl_ppm"))
      .withColumn("tf_sat_ppm",
        expr("(tf * 2200000L * 1000000L) div (tf * 1000000L + (12L * dl_norm_ppm) div 10L)"))
      .withColumn("idf_ppm",
        expr("((n_docs - df + 1) * 1000000L) div (df + 1)"))
      .withColumn("contrib_ppm",
        expr("(idf_ppm * (tf_sat_ppm div 1000L)) div 1000L"))
      .groupBy($"query_id", $"doc_id")
      .agg(count(lit(1)).as("n_terms_matched"),
        sum($"contrib_ppm").as("score_ppm"))
  }

  /** DuckDB mirror of [[bm25Scored]] as a WITH-clause prefix ending in a
    * `scored(query_id, doc_id, n_terms_matched, score_ppm)` CTE — both
    * q278's and q290's oracles append their own final SELECT. */
  private def sqlScoredCtes: String = sqlScoredCtesWhere("")

  /** [[sqlScoredCtes]] over a filtered corpus — deletion oracles (q466)
    * rank against the REDUCED document set; `where` is a full WHERE
    * clause or empty. */
  private def sqlScoredCtesWhere(where: String): String =
    s"""WITH q(query_id, term) AS (VALUES $sqlQueryTerms),
       |toks AS (SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) AS t
       |  FROM documents $where),
       |g AS (SELECT count(*) AS n_docs,
       |    CAST(sum(len(t)) AS BIGINT) * 1000000 // count(*) AS avgdl_ppm FROM toks),
       |tf AS (SELECT doc_id, len(t) AS dl, term, count(*) AS tf
       |  FROM (SELECT doc_id, t, unnest(t) AS term FROM toks)
       |  WHERE term IN (SELECT DISTINCT term FROM q)
       |  GROUP BY doc_id, len(t), term),
       |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |scored AS (
       |  SELECT query_id, doc_id,
       |    CAST(count(*) AS BIGINT) AS n_terms_matched,
       |    CAST(sum(((CAST(n_docs AS BIGINT) - df + 1) * 1000000 // (df + 1))
       |      * ((tf * 2200000 * 1000000
       |          // (tf * 1000000 + (12 * (250000 + (750000 * dl * 1000000) // avgdl_ppm)) // 10))
       |         // 1000) // 1000) AS BIGINT) AS score_ppm
       |  FROM tf JOIN dfx USING (term) JOIN q USING (term) CROSS JOIN g
       |  GROUP BY query_id, doc_id)""".stripMargin

  /** q278 — BM25 top-5 per query, fixed-point (see object doc and
    * [[bm25Scored]]). Final top-k is a per-query window over
    * score-ranked candidates — partitions are query-sized, never
    * corpus-sized, because the tf table only holds docs that matched
    * ≥1 query term. */
  val q278 = QuerySpec(
    "q278_bm25_topk",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"query_id")
        .orderBy($"score_ppm".desc, $"doc_id")
      bm25Scored(s, d)
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= 5)
        .select($"query_id", $"rank", $"doc_id", $"n_terms_matched", $"score_ppm")
        .orderBy($"query_id", $"rank")
    },
    Some(s"""$sqlScoredCtes
            |SELECT query_id, rank, doc_id, n_terms_matched, score_ppm FROM (
            |  SELECT *, CAST(row_number() OVER
            |      (PARTITION BY query_id ORDER BY score_ppm DESC, doc_id) AS INT) AS rank
            |  FROM scored) WHERE rank <= 5
            |ORDER BY query_id, rank""".stripMargin),
  )

  /** q279 — inverted index: per term, document frequency, corpus term
    * frequency, and the FIRST-8 posting list (lowest doc ids, sorted).
    *
    * Bounded-state discipline: the posting cap is enforced BEFORE the
    * collect — a row_number window per term (sort-based, streaming: no
    * per-group buffering) keeps only rank ≤ 8, so the collect_list
    * aggregation buffer holds ≤ 8 ids per term even for a stopword that
    * appears in every document (the CollectCapped lesson: capping after
    * a plain collect still materializes the pathological group). df and
    * total tf are computed on the FULL tf table in a separate
    * vocabulary-sized aggregate and joined back — two shuffles keyed on
    * term, both map-side-combined, nothing corpus-sized crosses.
    *
    * Output-shape discipline (round-6 lesson): the posting list ships as
    * a '|'-joined STRING, not `array<bigint>` — the driver's oracle gate
    * canonicalizes with pandas `sort_values`, which cannot sort ndarray
    * cells, so an array-typed output column can never be certified.
    * AtomicOutputSchemaSpec pins this for the whole contract. */
  val q279 = QuerySpec(
    "q279_inverted_index",
    (s, d) => {
      import s.implicits._
      val tf = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", explode(toks(s)).as("term"))
        .groupBy($"term", $"doc_id")
        .agg(count(lit(1)).as("tf"))
      val stats = tf.groupBy($"term").agg(
        count(lit(1)).as("df"),
        sum($"tf").as("tf_total"))
      val w = Window.partitionBy($"term").orderBy($"doc_id")
      val postings = tf
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 8)
        .groupBy($"term")
        .agg(concat_ws("|", sort_array(collect_list($"doc_id"))).as("posting"))
      stats.join(postings, "term")
        .select($"term", $"df", $"tf_total", $"posting")
        .orderBy($"term")
    },
    Some("""WITH tf AS (
           |  SELECT term, doc_id, count(*) AS tf
           |  FROM (SELECT doc_id,
           |      unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
           |        x -> len(x) > 0)) AS term
           |    FROM documents)
           |  GROUP BY term, doc_id)
           |SELECT term, CAST(count(*) AS BIGINT) AS df,
           |  CAST(sum(tf) AS BIGINT) AS tf_total,
           |  array_to_string((list_sort(list(doc_id)))[1:8], '|') AS posting
           |FROM tf GROUP BY term ORDER BY term""".stripMargin),
  )

  /** Rank-discount weights for DCG@5: floor(10⁶ / log₂(rank+1)) for
    * ranks 1..5, precomputed to integer constants so no transcendental
    * function is ever evaluated by either engine (the cross-engine
    * `ln()` drift rule from the object doc applies to log₂ too). */
  private val DiscountPpm: Seq[Long] =
    Seq(1000000L, 630929L, 500000L, 430676L, 386852L)

  private def sqlDisc(rankExpr: String): String =
    DiscountPpm.zipWithIndex
      .map { case (w, i) => s"WHEN ${i + 1} THEN $w" }
      .mkString(s"CASE $rankExpr ", " ", " ELSE 0 END")

  /** q290 — ranking-quality evaluation of the BM25 ranking: NDCG@5 and
    * MRR@5 per query, with graded relevance derived from the data
    * itself (rel = number of distinct query terms the document
    * contains, gain = 2^rel − 1 ∈ {1,3,7}) so both engines agree on
    * labels without a side-channel judgment file.
    *
    * The ideal ranking (IDCG) re-ranks the SAME candidate set by gain —
    * a second window over one shuffle's output, not a second pipeline.
    * All metric math is Long at ppm scale: DCG multiplies integer gains
    * by the precomputed [[DiscountPpm]] constants, NDCG is one Long
    * floor-division, MRR@5 is 10⁶ div first-relevant-rank (gain ≥ 3,
    * i.e. ≥2 terms matched) with 0 for "none in top 5".
    *
    * Shape at scale: candidates are query-term-bounded (see
    * [[bm25Scored]]); both row_number windows partition by query_id, so
    * state per partition is one ranking; the final aggregate emits one
    * row per query. Nothing here grows with the corpus except the
    * already-bounded candidate list. */
  val q290 = QuerySpec(
    "q290_ndcg_ranking_eval",
    (s, d) => {
      import s.implicits._
      val gain = when($"n_terms_matched" === 3, 7L)
        .when($"n_terms_matched" === 2, 3L).otherwise(1L)
      val wRank = Window.partitionBy($"query_id")
        .orderBy($"score_ppm".desc, $"doc_id")
      val wIdeal = Window.partitionBy($"query_id")
        .orderBy($"g".desc, $"doc_id")
      def disc(r: org.apache.spark.sql.Column) =
        DiscountPpm.zipWithIndex.foldLeft(lit(0L)) { case (acc, (w, i)) =>
          when(r === (i + 1), w).otherwise(acc)
        }
      bm25Scored(s, d)
        .withColumn("g", gain)
        .withColumn("rk", row_number().over(wRank))
        .withColumn("ik", row_number().over(wIdeal))
        .groupBy($"query_id")
        .agg(
          count(lit(1)).as("n_candidates"),
          sum(when($"rk" <= 5, $"g" * disc($"rk")).otherwise(0L)).as("dcg_u"),
          sum(when($"ik" <= 5, $"g" * disc($"ik")).otherwise(0L)).as("idcg_u"),
          min(when($"rk" <= 5 && $"g" >= 3, $"rk")).as("first_rel"))
        .select($"query_id", $"n_candidates", $"dcg_u", $"idcg_u",
          expr("dcg_u * 1000000L div idcg_u").as("ndcg_ppm"),
          coalesce(expr("1000000L div first_rel"), lit(0L)).as("rr_ppm"))
        .orderBy($"query_id")
    },
    Some(s"""$sqlScoredCtes,
            |ranked AS (
            |  SELECT query_id,
            |    CASE n_terms_matched WHEN 3 THEN 7 WHEN 2 THEN 3 ELSE 1 END AS g,
            |    CAST(row_number() OVER (PARTITION BY query_id
            |      ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS rk,
            |    CAST(row_number() OVER (PARTITION BY query_id
            |      ORDER BY (CASE n_terms_matched WHEN 3 THEN 7 WHEN 2 THEN 3 ELSE 1 END) DESC,
            |        doc_id) AS BIGINT) AS ik
            |  FROM scored),
            |m AS (
            |  SELECT query_id, count(*) AS n_candidates,
            |    CAST(sum(CASE WHEN rk <= 5 THEN g * (${sqlDisc("rk")}) ELSE 0 END)
            |      AS BIGINT) AS dcg_u,
            |    CAST(sum(CASE WHEN ik <= 5 THEN g * (${sqlDisc("ik")}) ELSE 0 END)
            |      AS BIGINT) AS idcg_u,
            |    min(CASE WHEN rk <= 5 AND g >= 3 THEN rk END) AS first_rel
            |  FROM ranked GROUP BY query_id)
            |SELECT query_id, n_candidates, dcg_u, idcg_u,
            |  dcg_u * 1000000 // idcg_u AS ndcg_ppm,
            |  coalesce(1000000 // first_rel, 0) AS rr_ppm
            |FROM m ORDER BY query_id""".stripMargin),
  )

  /** q404 — hybrid retrieval via reciprocal-rank fusion (RRF, the
    * Cormack–Clarke–Buettcher recipe behind most production "BM25 +
    * dense" search): a sparse list (q278's BM25 ranks, top-20) and a
    * dense list (cosine against a pseudo-relevance-feedback query
    * vector — the embedding of each query's BM25 rank-1 doc, the
    * Rocchio-style PRF bridge that gives a TERM query a VECTOR without
    * an encoder) fuse as Σ 10⁶ div (60 + rank), integer-exact. Top-5
    * per query with both source ranks emitted.
    *
    * Scale: the dense scan is ONE corpus pass against |queries|
    * broadcast PRF vectors; per-query top-20 is a [[graft.functions
    * .BottomKLong]] over an ORDER-ENCODED key ((10⁶ − cos_ppm)·2³² +
    * vec_id — cosine quantized to ppm so the encoding is integer and
    * the DuckDB mirror is a plain (cos_ppm DESC, vec_id) row_number),
    * O(k) state per query, no corpus-sized window. The fusion frame is
    * ≤ 40 rows per query. vec_id must fit 32 bits for the encoding —
    * at wider id spaces widen the shift (documented, not silent). */
  val q404 = QuerySpec(
    "q404_hybrid_rrf_fusion",
    (s, d) => {
      import s.implicits._
      val sparse = {
        val w = Window.partitionBy($"query_id")
          .orderBy($"score_ppm".desc, $"doc_id")
        bm25Scored(s, d)
          .withColumn("rank_sparse", row_number().over(w))
          .filter($"rank_sparse" <= 20)
          .select($"query_id", $"doc_id", $"rank_sparse")
      }
      val prf = sparse.filter($"rank_sparse" === 1)
        .join(Tables.embeddings(s, d), $"doc_id" === $"vec_id")
        .select($"query_id",
          graft.functions.VectorOps.asDouble($"embedding").as("qemb"))
        .withColumn("qnrm", graft.functions.VectorOps.l2Norm($"qemb"))
      val e = Tables.fanOut(Tables.embeddings(s, d), col("vec_id"))
        .select($"vec_id", graft.functions.VectorOps.asDouble($"embedding").as("emb"))
        .withColumn("nrm", graft.functions.VectorOps.l2Norm($"emb"))
      val bottomK = udaf(graft.functions.BottomKLong(20))
      val dense = e.crossJoin(broadcast(prf))
        // Codegen'd DotProduct (same 0.0-seeded left fold the previous
        // zip_with+aggregate string computed, but a tight generated loop
        // instead of interpreted lambdas) — bit-identical, ~2x on the
        // corpus dense scan.
        .withColumn("cos_ppm",
          floor(lit(1000000.0) * (graft.functions.VectorOps.dot($"emb", $"qemb")
            / ($"nrm" * $"qnrm"))).cast("long"))
        .select($"query_id",
          (( lit(1000000L) - $"cos_ppm") * lit(4294967296L) + $"vec_id").as("key"))
        .groupBy($"query_id")
        .agg(bottomK($"key").as("keys"))
        .select($"query_id", posexplode($"keys"))
        .select($"query_id", ($"pos" + 1).cast("int").as("rank_dense"),
          ($"col" % 4294967296L).as("doc_id"))
      sparse.join(dense, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf_ppm",
          coalesce(expr("1000000 div (60 + rank_sparse)"), lit(0L)) +
            coalesce(expr("1000000 div (60 + rank_dense)"), lit(0L)))
        .withColumn("rank", row_number().over(
          Window.partitionBy($"query_id").orderBy($"rrf_ppm".desc, $"doc_id")))
        .filter($"rank" <= 5)
        .select($"query_id", $"rank", $"doc_id",
          $"rank_sparse".cast("int").as("rank_sparse"),
          $"rank_dense".cast("int").as("rank_dense"), $"rrf_ppm")
        .orderBy($"query_id", $"rank")
    },
    Some(s"""$sqlScoredCtes,
            |sparse AS (SELECT query_id, doc_id, rank_sparse FROM (
            |  SELECT query_id, doc_id, row_number() OVER
            |      (PARTITION BY query_id ORDER BY score_ppm DESC, doc_id) AS rank_sparse
            |  FROM scored) WHERE rank_sparse <= 20),
            |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
            |prf AS (SELECT s.query_id, e.emb AS qemb
            |  FROM sparse s JOIN e ON s.doc_id = e.vec_id WHERE s.rank_sparse = 1),
            |dense AS (SELECT query_id, doc_id, rank_dense FROM (
            |  SELECT prf.query_id, e.vec_id AS doc_id, row_number() OVER
            |      (PARTITION BY prf.query_id
            |       ORDER BY CAST(floor(1000000.0 * ${Det.sqlCosine("e.emb", "prf.qemb")}) AS BIGINT) DESC,
            |                e.vec_id) AS rank_dense
            |  FROM e, prf) WHERE rank_dense <= 20),
            |fused AS (SELECT coalesce(s.query_id, d2.query_id) AS query_id,
            |    coalesce(s.doc_id, d2.doc_id) AS doc_id, s.rank_sparse, d2.rank_dense,
            |    coalesce(1000000 // (60 + s.rank_sparse), 0)
            |      + coalesce(1000000 // (60 + d2.rank_dense), 0) AS rrf_ppm
            |  FROM sparse s FULL OUTER JOIN dense d2
            |    ON s.query_id = d2.query_id AND s.doc_id = d2.doc_id)
            |SELECT query_id, rank, doc_id,
            |  CAST(rank_sparse AS INT) AS rank_sparse,
            |  CAST(rank_dense AS INT) AS rank_dense,
            |  CAST(rrf_ppm AS BIGINT) AS rrf_ppm
            |FROM (SELECT *, CAST(row_number() OVER
            |    (PARTITION BY query_id ORDER BY rrf_ppm DESC, doc_id) AS INT) AS rank
            |  FROM fused) WHERE rank <= 5
            |ORDER BY query_id, rank""".stripMargin),
  )

  /** q405 — the text inverted index MAINTAINED across an epoch append
    * (q359/q375's lifecycle discipline applied to the third index
    * family): epoch-0 postings (term → doc, tf, dl) are written
    * partitioned BY TERM — the directory layout IS the inverted file —
    * alongside a per-term stats table (df, ctf) and a 1-row globals
    * table; epoch 1 arrives as a postings APPEND plus a VERSIONED
    * stats merge (read v1 + delta → write v2 — never overwrite a path
    * being read). The probe then answers q278's BM25 top-5 from the
    * maintained files alone: postings are a PARTITION-PRUNED read of
    * the query terms' directories, df/avgdl come from the merged
    * stats. Oracle = the from-scratch q278 computation over all docs —
    * proving the maintained index loses nothing. */
  val q405 = QuerySpec(
    "q405_bm25_index_maintained",
    (s, d) => {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft_bm25m").toString
      try {
        val docs = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
          .select($"doc_id", toks(s).as("t"))
          .select($"doc_id", size($"t").as("dl"), $"t")
        def postings(epoch: DataFrame) = epoch
          .select($"doc_id", $"dl", explode($"t").as("term"))
          .groupBy($"doc_id", $"dl", $"term")
          .agg(count(lit(1)).as("tf"))
        def stats(post: DataFrame) = post.groupBy($"term")
          .agg(count(lit(1)).as("df"), sum($"tf").as("ctf"))
        // r13: stats(postings(eX)) re-ran the tokenize+explode+aggregate
        // of its epoch from scratch — persist the two postings frames
        // (doc×term rows, no token arrays) and serve the globals epochs
        // from a narrow (doc_id, dl) cache (guide §5; bytes unchanged).
        val dlens = docs.select($"doc_id", $"dl").persist()
        def globalsFrom(dl: DataFrame) = dl
          .agg(count(lit(1)).as("n_docs"), sum($"dl").as("len_sum"))
        val p0 = postings(docs.filter($"doc_id" % 2 === 0)).persist()
        val p1 = postings(docs.filter($"doc_id" % 2 === 1)).persist()
        try {
        // BUILD (epoch 0). Postings are repartitioned BY TERM before the
        // partitioned write: without it every one of the shuffle
        // partitions writes a sliver into every term directory
        // (partitions x |vocab| small files); with it each term is one
        // file — the compaction discipline q133/q239 audit, applied at
        // write time. (Hot stopword terms would skew a pure term
        // repartition at web scale; there you'd salt the repartition
        // and accept a few files per hot term.)
        p0.repartition($"term").write.partitionBy("term").parquet(s"$tmp/post")
        stats(p0).write.parquet(s"$tmp/stats_v1")
        globalsFrom(dlens.filter($"doc_id" % 2 === 0)).write.parquet(s"$tmp/globals_v1")
        // MAINTAIN (epoch 1): postings append + versioned stats merge.
        p1.repartition($"term")
          .write.partitionBy("term").mode("append").parquet(s"$tmp/post")
        s.read.parquet(s"$tmp/stats_v1").unionByName(stats(p1))
          .groupBy($"term").agg(sum($"df").as("df"), sum($"ctf").as("ctf"))
          .write.parquet(s"$tmp/stats_v2")
        s.read.parquet(s"$tmp/globals_v1")
          .unionByName(globalsFrom(dlens.filter($"doc_id" % 2 === 1)))
          .agg(sum($"n_docs").as("n_docs"), sum($"len_sum").as("len_sum"))
          .write.parquet(s"$tmp/globals_v2")
        // PROBE from the maintained files only (partition-pruned read).
        val queries = s.createDataFrame(QueryTerms).toDF("query_id", "term")
        val terms = QueryTerms.map(_._2).distinct
        val tf = s.read.parquet(s"$tmp/post").filter($"term".isin(terms: _*))
        val df_ = s.read.parquet(s"$tmp/stats_v2")
          .filter($"term".isin(terms: _*)).select($"term", $"df")
        val g = s.read.parquet(s"$tmp/globals_v2")
          .select($"n_docs", expr("len_sum * 1000000L div n_docs").as("avgdl_ppm"))
        val scored = tf
          .join(broadcast(df_), "term")
          .join(broadcast(queries), "term")
          .crossJoin(broadcast(g))
          .withColumn("dl_norm_ppm",
            expr("250000L + (750000L * dl * 1000000L) div avgdl_ppm"))
          .withColumn("tf_sat_ppm",
            expr("(tf * 2200000L * 1000000L) div (tf * 1000000L + (12L * dl_norm_ppm) div 10L)"))
          .withColumn("idf_ppm",
            expr("((n_docs - df + 1) * 1000000L) div (df + 1)"))
          .withColumn("contrib_ppm",
            expr("(idf_ppm * (tf_sat_ppm div 1000L)) div 1000L"))
          .groupBy($"query_id", $"doc_id")
          .agg(count(lit(1)).as("n_terms_matched"), sum($"contrib_ppm").as("score_ppm"))
        val w = Window.partitionBy($"query_id").orderBy($"score_ppm".desc, $"doc_id")
        Eager(scored
          .withColumn("rank", row_number().over(w))
          .filter($"rank" <= 5)
          .select($"query_id", $"rank", $"doc_id", $"n_terms_matched", $"score_ppm")
          .orderBy($"query_id", $"rank"))
        } finally {
          Seq(p1, p0, dlens).foreach(_.unpersist(blocking = false))
        }
      } finally graft.Fs.deleteTree(tmp)
    },
    Some(s"""$sqlScoredCtes
            |SELECT query_id, rank, doc_id, n_terms_matched, score_ppm FROM (
            |  SELECT *, CAST(row_number() OVER
            |      (PARTITION BY query_id ORDER BY score_ppm DESC, doc_id) AS INT) AS rank
            |  FROM scored) WHERE rank <= 5
            |ORDER BY query_id, rank""".stripMargin),
  )

  /** q406 — search-result snippet extraction: for each query's BM25
    * top-3 docs, the ±3-token window around the FIRST query-term hit,
    * plus the hit position and total match count — the result-page
    * feature every search stack ships. Pure in-row array math (match
    * positions via a filtered index sequence, the window via a slice —
    * no explode, no second shuffle); the only corpus-sized work is the
    * doc_id equi-join fetching the 9 ranked docs' token arrays, and the
    * query-term frame broadcasts. Every ranked doc matched ≥1 term by
    * construction, so first_pos is never NULL (belt-and-braces filter
    * kept anyway, identically on both engines). */
  val q406 = QuerySpec(
    "q406_search_snippets",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"query_id").orderBy($"score_ppm".desc, $"doc_id")
      val top3 = bm25Scored(s, d)
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= 3)
        .select($"query_id", $"rank", $"doc_id")
      val qa = s.createDataFrame(QueryTerms).toDF("query_id", "term")
        .groupBy($"query_id").agg(sort_array(collect_list($"term")).as("qt"))
      val toksDf = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", toks(s).as("t"))
      top3
        .join(toksDf, Seq("doc_id"))
        .join(broadcast(qa), Seq("query_id"))
        // pos is 1-BASED (t[i-1]: Spark arrays index from 0, DuckDB lists
        // from 1 — the sequence stays 1-based so both mirrors agree).
        .withColumn("pos", expr("filter(sequence(1, size(t)), i -> array_contains(qt, t[i-1]))"))
        .filter(size($"pos") >= 1)
        .select($"query_id", $"rank", $"doc_id",
          element_at($"pos", 1).cast("long").as("first_pos"),
          size($"pos").cast("long").as("n_matches"),
          expr("""array_join(slice(t, greatest(1, pos[0] - 3),
                 |  least(size(t), pos[0] + 3) - greatest(1, pos[0] - 3) + 1), ' ')""".stripMargin)
            .as("snippet"))
        .orderBy($"query_id", $"rank")
    },
    Some(s"""$sqlScoredCtes,
            |top3 AS (SELECT query_id, rank, doc_id FROM (
            |  SELECT query_id, doc_id, CAST(row_number() OVER
            |      (PARTITION BY query_id ORDER BY score_ppm DESC, doc_id) AS INT) AS rank
            |  FROM scored) WHERE rank <= 3),
            |qa AS (SELECT query_id, list(term ORDER BY term) AS qt FROM q GROUP BY 1),
            |m AS (SELECT t3.query_id, t3.rank, t3.doc_id, toks.t, qa.qt,
            |        list_filter(generate_series(1, len(toks.t)), i -> list_contains(qa.qt, toks.t[i])) AS pos
            |      FROM top3 t3 JOIN toks USING (doc_id) JOIN qa ON qa.query_id = t3.query_id)
            |SELECT query_id, rank, doc_id,
            |  CAST(pos[1] AS BIGINT) AS first_pos, CAST(len(pos) AS BIGINT) AS n_matches,
            |  array_to_string(t[greatest(1, pos[1] - 3):least(len(t), pos[1] + 3)], ' ') AS snippet
            |FROM m WHERE len(pos) >= 1
            |ORDER BY query_id, rank""".stripMargin),
  )

  /** q407 — cascade-ranker cost/recall audit: the two-stage retrieval
    * architecture (cheap BM25 recall stage → expensive dense rerank on
    * its top-20 only) measured against the exhaustive dense scan it
    * approximates — per query: candidates scored, scanned fraction ppm,
    * and recall@5 of the cascade's top-5 vs the full scan's (q384's
    * cost/recall readout, text→dense edition). Dense order is the
    * quantized (cos_ppm DESC, doc_id) key of q404, so both engines rank
    * identically; the full scan's top-5 rides [[graft.functions
    * .BottomKLong]] (O(5) state per query), the cascade's top-5 is a
    * 20-row window. The exhaustive scan exists here as the AUDIT
    * baseline — the cascade is the production path whose corpus-sized
    * work is exactly the BM25 stage. */
  val q407 = QuerySpec(
    "q407_cascade_recall_audit",
    (s, d) => {
      import s.implicits._
      val sparse = {
        val w = Window.partitionBy($"query_id").orderBy($"score_ppm".desc, $"doc_id")
        bm25Scored(s, d)
          .withColumn("rank_sparse", row_number().over(w))
          .filter($"rank_sparse" <= 20)
          .select($"query_id", $"doc_id", $"rank_sparse")
      }
      val prf = sparse.filter($"rank_sparse" === 1)
        .join(Tables.embeddings(s, d), $"doc_id" === $"vec_id")
        .select($"query_id", graft.functions.VectorOps.asDouble($"embedding").as("qemb"))
        .withColumn("qnrm", graft.functions.VectorOps.l2Norm($"qemb"))
      val e = Tables.fanOut(Tables.embeddings(s, d), col("vec_id"))
        .select($"vec_id", graft.functions.VectorOps.asDouble($"embedding").as("emb"))
        .withColumn("nrm", graft.functions.VectorOps.l2Norm($"emb"))
      // Codegen'd DotProduct — same fold as the previous zip_with string,
      // bit-identical, generated loop instead of interpreted lambdas.
      val cosKey =
        floor(lit(1000000.0) * (graft.functions.VectorOps.dot($"emb", $"qemb")
          / ($"nrm" * $"qnrm"))).cast("long")
      // Exhaustive baseline: one corpus pass, O(5) state per query.
      val bottom5 = udaf(graft.functions.BottomKLong(5))
      val full5 = e.crossJoin(broadcast(prf))
        .select($"query_id",
          ((lit(1000000L) - cosKey) * lit(4294967296L) + $"vec_id").as("key"))
        .groupBy($"query_id").agg(bottom5($"key").as("keys"))
        .select($"query_id", explode($"keys").as("key"))
        .select($"query_id", ($"key" % 4294967296L).as("doc_id"))
      // Cascade: dense-score ONLY the 20 BM25 candidates.
      val casc5 = sparse
        .join(e.select($"vec_id".as("doc_id"), $"emb", $"nrm"), Seq("doc_id"))
        .join(broadcast(prf), Seq("query_id"))
        .withColumn("ck", cosKey)
        .withColumn("r", row_number().over(
          Window.partitionBy($"query_id").orderBy($"ck".desc, $"doc_id")))
        .filter($"r" <= 5)
        .select($"query_id", $"doc_id")
      val nTotal = e.agg(count(lit(1)).as("n_corpus"))
      val nCand = sparse.groupBy($"query_id").agg(count(lit(1)).as("n_candidates"))
      full5.join(casc5.withColumn("hit", lit(1L)), Seq("query_id", "doc_id"), "left")
        .groupBy($"query_id")
        .agg(sum(coalesce($"hit", lit(0L))).as("n_overlap"))
        .join(broadcast(nCand), Seq("query_id"))
        .crossJoin(broadcast(nTotal))
        .select($"query_id", $"n_candidates",
          expr("n_candidates * 1000000 div n_corpus").as("scanned_ppm"),
          $"n_overlap",
          expr("n_overlap * 1000000 div 5").as("recall_ppm"))
        .orderBy($"query_id")
    },
    Some(s"""$sqlScoredCtes,
            |sparse AS (SELECT query_id, doc_id, rank_sparse FROM (
            |  SELECT query_id, doc_id, row_number() OVER
            |      (PARTITION BY query_id ORDER BY score_ppm DESC, doc_id) AS rank_sparse
            |  FROM scored) WHERE rank_sparse <= 20),
            |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
            |prf AS (SELECT s.query_id, e.emb AS qemb
            |  FROM sparse s JOIN e ON s.doc_id = e.vec_id WHERE s.rank_sparse = 1),
            |ck AS (SELECT prf.query_id, e.vec_id AS doc_id,
            |         CAST(floor(1000000.0 * ${Det.sqlCosine("e.emb", "prf.qemb")}) AS BIGINT) AS cos_ppm
            |       FROM e, prf),
            |full5 AS (SELECT query_id, doc_id FROM (
            |  SELECT query_id, doc_id, row_number() OVER
            |      (PARTITION BY query_id ORDER BY cos_ppm DESC, doc_id) AS r FROM ck)
            |  WHERE r <= 5),
            |casc5 AS (SELECT query_id, doc_id FROM (
            |  SELECT ck.query_id, ck.doc_id, row_number() OVER
            |      (PARTITION BY ck.query_id ORDER BY ck.cos_ppm DESC, ck.doc_id) AS r
            |  FROM ck JOIN sparse ON ck.query_id = sparse.query_id AND ck.doc_id = sparse.doc_id)
            |  WHERE r <= 5),
            |nt AS (SELECT count(*) AS n_corpus FROM e),
            |nc AS (SELECT query_id, count(*) AS n_candidates FROM sparse GROUP BY 1),
            |ov AS (SELECT f.query_id, CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
            |       FROM full5 f LEFT JOIN casc5 c ON f.query_id = c.query_id AND f.doc_id = c.doc_id
            |       GROUP BY 1)
            |SELECT ov.query_id, CAST(nc.n_candidates AS BIGINT) AS n_candidates,
            |  CAST(nc.n_candidates * 1000000 // nt.n_corpus AS BIGINT) AS scanned_ppm,
            |  ov.n_overlap, CAST(ov.n_overlap * 1000000 // 5 AS BIGINT) AS recall_ppm
            |FROM ov JOIN nc USING (query_id) CROSS JOIN nt
            |ORDER BY query_id""".stripMargin),
  )

  /** q421 — rank-biased overlap (Webber–Moffat–Zobel RBO) between the
    * sparse and dense rankers at depth 10: the top-weighted
    * list-similarity readout that tells a search owner how DIFFERENT
    * the two retrieval stacks actually are (Kendall/overlap treat all
    * depths equally; RBO discounts geometrically, like users do). Lists
    * are q404's two sides — BM25 top-10 and dense-PRF top-10. With
    * persistence p = 1/2 every weight (1−p)p^{d−1}·X_d/d is a dyadic
    * rational, so the whole score is computed EXACTLY as integers
    * scaled by S = lcm(1..10)·2¹⁰ = 2580480: a doc appearing at ranks
    * (ra, rb) contributes the closed-form suffix weight
    * w(max(ra,rb)) = Σ_{d≥m} S/(d·2^d) — ten precomputed constants in a
    * lookup array, so RBO reduces to ONE equi-join of two 10-row lists
    * per query and a sum. No floats anywhere; ppm by integer div. */
  val q421 = QuerySpec(
    "q421_rank_biased_overlap",
    (s, d) => {
      import s.implicits._
      // Suffix sums of S/(d·2^d), S = 2580480, indexed by m = 1..10.
      val wSuffix = "array(1788440L, 498200L, 175640L, 68120L, 27800L, " +
        "11672L, 4952L, 2072L, 812L, 252L)"
      val sparse = {
        val w = Window.partitionBy($"query_id")
          .orderBy($"score_ppm".desc, $"doc_id")
        bm25Scored(s, d)
          .withColumn("ra", row_number().over(w))
          .filter($"ra" <= 10)
          .select($"query_id", $"doc_id", $"ra")
      }
      val prf = sparse.filter($"ra" === 1)
        .join(Tables.embeddings(s, d), $"doc_id" === $"vec_id")
        .select($"query_id",
          graft.functions.VectorOps.asDouble($"embedding").as("qemb"))
        .withColumn("qnrm", graft.functions.VectorOps.l2Norm($"qemb"))
      val e = Tables.fanOut(Tables.embeddings(s, d), col("vec_id"))
        .select($"vec_id", graft.functions.VectorOps.asDouble($"embedding").as("emb"))
        .withColumn("nrm", graft.functions.VectorOps.l2Norm($"emb"))
      val bottomK = udaf(graft.functions.BottomKLong(10))
      val dense = e.crossJoin(broadcast(prf))
        // Codegen'd DotProduct (same 0.0-seeded left fold the previous
        // zip_with+aggregate string computed, but a tight generated loop
        // instead of interpreted lambdas) — bit-identical, ~2x on the
        // corpus dense scan.
        .withColumn("cos_ppm",
          floor(lit(1000000.0) * (graft.functions.VectorOps.dot($"emb", $"qemb")
            / ($"nrm" * $"qnrm"))).cast("long"))
        .select($"query_id",
          ((lit(1000000L) - $"cos_ppm") * lit(4294967296L) + $"vec_id").as("key"))
        .groupBy($"query_id")
        .agg(bottomK($"key").as("keys"))
        .select($"query_id", posexplode($"keys"))
        .select($"query_id", ($"pos" + 1).cast("int").as("rb"),
          ($"col" % 4294967296L).as("doc_id"))
      sparse.join(dense, Seq("query_id", "doc_id"))
        .withColumn("w", expr(s"element_at($wSuffix, greatest(ra, CAST(rb AS INT)))"))
        .groupBy($"query_id")
        .agg(count(lit(1)).as("n_common"), sum($"w").as("rbo_scaled"))
        .withColumn("rbo_ppm", expr("rbo_scaled * 1000000L div 2580480L"))
        .orderBy($"query_id")
    },
    Some(s"""$sqlScoredCtes,
            |sparse AS (SELECT query_id, doc_id, ra FROM (
            |  SELECT query_id, doc_id, row_number() OVER
            |      (PARTITION BY query_id ORDER BY score_ppm DESC, doc_id) AS ra
            |  FROM scored) WHERE ra <= 10),
            |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
            |prf AS (SELECT s.query_id, e.emb AS qemb
            |  FROM sparse s JOIN e ON s.doc_id = e.vec_id WHERE s.ra = 1),
            |dense AS (SELECT query_id, doc_id, rb FROM (
            |  SELECT prf.query_id, e.vec_id AS doc_id, row_number() OVER
            |      (PARTITION BY prf.query_id
            |       ORDER BY CAST(floor(1000000.0 * ${Det.sqlCosine("e.emb", "prf.qemb")}) AS BIGINT) DESC,
            |                e.vec_id) AS rb
            |  FROM e, prf) WHERE rb <= 10),
            |j AS (SELECT s.query_id,
            |    ([1788440, 498200, 175640, 68120, 27800,
            |      11672, 4952, 2072, 812, 252])[greatest(s.ra, d2.rb)] AS w
            |  FROM sparse s JOIN dense d2
            |    ON s.query_id = d2.query_id AND s.doc_id = d2.doc_id)
            |SELECT query_id, count(*) AS n_common,
            |  CAST(sum(w) AS BIGINT) AS rbo_scaled,
            |  CAST(sum(w) * 1000000 // 2580480 AS BIGINT) AS rbo_ppm
            |FROM j GROUP BY query_id ORDER BY query_id""".stripMargin),
  )

  /** q428 — pooled relevance-judgment candidates (TREC pooling): the
    * union of every ranker's top-10 per query, each doc tagged with its
    * per-ranker ranks and provenance — the exact worklist handed to
    * human assessors, whose size (not the corpus) is what annotation
    * costs scale with. Rankers are q421's two sides (BM25, dense-PRF);
    * the pool is their FULL OUTER join per query, pool_rank assigned by
    * best-rank-then-id over the ≤20-row per-query frame. Also the
    * honest readout of how much each ranker contributes uniquely:
    * in_both / only_sparse / only_dense provenance. */
  val q428 = QuerySpec(
    "q428_judgment_pool",
    (s, d) => {
      import s.implicits._
      val sparse = {
        val w = Window.partitionBy($"query_id")
          .orderBy($"score_ppm".desc, $"doc_id")
        bm25Scored(s, d)
          .withColumn("ra", row_number().over(w))
          .filter($"ra" <= 10)
          .select($"query_id", $"doc_id", $"ra")
      }
      val prf = sparse.filter($"ra" === 1)
        .join(Tables.embeddings(s, d), $"doc_id" === $"vec_id")
        .select($"query_id",
          graft.functions.VectorOps.asDouble($"embedding").as("qemb"))
        .withColumn("qnrm", graft.functions.VectorOps.l2Norm($"qemb"))
      val e = Tables.fanOut(Tables.embeddings(s, d), col("vec_id"))
        .select($"vec_id", graft.functions.VectorOps.asDouble($"embedding").as("emb"))
        .withColumn("nrm", graft.functions.VectorOps.l2Norm($"emb"))
      val bottomK = udaf(graft.functions.BottomKLong(10))
      val dense = e.crossJoin(broadcast(prf))
        // Codegen'd DotProduct (same 0.0-seeded left fold the previous
        // zip_with+aggregate string computed, but a tight generated loop
        // instead of interpreted lambdas) — bit-identical, ~2x on the
        // corpus dense scan.
        .withColumn("cos_ppm",
          floor(lit(1000000.0) * (graft.functions.VectorOps.dot($"emb", $"qemb")
            / ($"nrm" * $"qnrm"))).cast("long"))
        .select($"query_id",
          ((lit(1000000L) - $"cos_ppm") * lit(4294967296L) + $"vec_id").as("key"))
        .groupBy($"query_id")
        .agg(bottomK($"key").as("keys"))
        .select($"query_id", posexplode($"keys"))
        .select($"query_id", ($"pos" + 1).cast("int").as("rb"),
          ($"col" % 4294967296L).as("doc_id"))
      val pool = sparse.join(dense, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("best", least(coalesce($"ra", lit(99)),
          coalesce($"rb", lit(99))))
      pool
        .withColumn("pool_rank", row_number().over(
          Window.partitionBy($"query_id").orderBy($"best", $"doc_id"))
          .cast("int"))
        .select($"query_id", $"pool_rank", $"doc_id",
          $"ra".cast("int").as("rank_sparse"),
          $"rb".cast("int").as("rank_dense"),
          when($"ra".isNotNull && $"rb".isNotNull, "both")
            .when($"ra".isNotNull, "only_sparse")
            .otherwise("only_dense").as("provenance"))
        .orderBy($"query_id", $"pool_rank")
    },
    Some(s"""$sqlScoredCtes,
            |sparse AS (SELECT query_id, doc_id, ra FROM (
            |  SELECT query_id, doc_id, row_number() OVER
            |      (PARTITION BY query_id ORDER BY score_ppm DESC, doc_id) AS ra
            |  FROM scored) WHERE ra <= 10),
            |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
            |prf AS (SELECT s.query_id, e.emb AS qemb
            |  FROM sparse s JOIN e ON s.doc_id = e.vec_id WHERE s.ra = 1),
            |dense AS (SELECT query_id, doc_id, rb FROM (
            |  SELECT prf.query_id, e.vec_id AS doc_id, row_number() OVER
            |      (PARTITION BY prf.query_id
            |       ORDER BY CAST(floor(1000000.0 * ${Det.sqlCosine("e.emb", "prf.qemb")}) AS BIGINT) DESC,
            |                e.vec_id) AS rb
            |  FROM e, prf) WHERE rb <= 10),
            |pool AS (SELECT coalesce(s.query_id, d2.query_id) AS query_id,
            |    coalesce(s.doc_id, d2.doc_id) AS doc_id, s.ra, d2.rb,
            |    least(coalesce(s.ra, 99), coalesce(d2.rb, 99)) AS best
            |  FROM sparse s FULL OUTER JOIN dense d2
            |    ON s.query_id = d2.query_id AND s.doc_id = d2.doc_id)
            |SELECT query_id,
            |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY best, doc_id) AS INT) AS pool_rank,
            |  doc_id, CAST(ra AS INT) AS rank_sparse, CAST(rb AS INT) AS rank_dense,
            |  CASE WHEN ra IS NOT NULL AND rb IS NOT NULL THEN 'both'
            |       WHEN ra IS NOT NULL THEN 'only_sparse'
            |       ELSE 'only_dense' END AS provenance
            |FROM pool ORDER BY query_id, pool_rank""".stripMargin),
  )

  /** q449 — maximal-marginal-relevance (MMR, Carbonell–Goldstein)
    * diversity re-rank of the BM25 top-10: greedy selection where each
    * step picks the candidate maximizing relevance MINUS its worst
    * redundancy against everything already chosen — the de-duplicating
    * re-rank between retrieval and a context window. Equal-weight form
    * (λ=1/2 cancels in the argmax), 3 greedy steps as three bounded
    * DataFrame stages (each a ≤10-row-per-query frame joined against
    * the ≤2-row broadcast chosen set — never a driver loop over
    * unbounded data). Relevance is per-query max-normalized BM25 in
    * exact milli; redundancy is the codegen'd cosine quantized to
    * milli; ties → lowest doc_id. */
  val q449 = QuerySpec(
    "q449_mmr_diversity_rerank",
    (s, d) => {
      import s.implicits._
      import graft.functions.VectorOps.{asDouble, dot, l2Norm}
      val e = Tables.embeddings(s, d)
        .select($"vec_id", asDouble($"embedding").as("emb"))
        .withColumn("nrm", l2Norm($"emb"))
      val cand = {
        val w = Window.partitionBy($"query_id")
          .orderBy($"score_ppm".desc, $"doc_id")
        bm25Scored(s, d)
          .withColumn("r", row_number().over(w))
          .filter($"r" <= 10)
          .withColumn("rel_milli", expr(
            "score_ppm * 1000L div max(score_ppm) OVER (PARTITION BY query_id)"))
          .join(e, $"doc_id" === $"vec_id")
          .select($"query_id", $"doc_id", $"rel_milli", $"emb", $"nrm")
      }
      def simMilli(ea: org.apache.spark.sql.Column, na: org.apache.spark.sql.Column,
          eb: org.apache.spark.sql.Column, nb: org.apache.spark.sql.Column) =
        floor(lit(1000.0) * (dot(ea, eb) / (na * nb))).cast("long")
      def argmax(df: org.apache.spark.sql.DataFrame) = {
        val w = Window.partitionBy($"query_id").orderBy($"mmr".desc, $"doc_id")
        df.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
          .select($"query_id", $"doc_id", $"mmr", $"emb", $"nrm")
      }
      val c1 = argmax(cand.withColumn("mmr", $"rel_milli"))
      val rem1 = cand.join(
        broadcast(c1.select($"query_id", $"doc_id".as("ch1"),
          $"emb".as("e1"), $"nrm".as("n1"))), "query_id")
        .filter($"doc_id" =!= $"ch1")
      val c2 = argmax(rem1.withColumn("mmr",
        $"rel_milli" - simMilli($"emb", $"nrm", $"e1", $"n1")))
      val rem2 = rem1
        .join(broadcast(c2.select($"query_id", $"doc_id".as("ch2"),
          $"emb".as("e2"), $"nrm".as("n2"))), "query_id")
        .filter($"doc_id" =!= $"ch2")
      val c3 = argmax(rem2.withColumn("mmr",
        $"rel_milli" - greatest(simMilli($"emb", $"nrm", $"e1", $"n1"),
          simMilli($"emb", $"nrm", $"e2", $"n2"))))
      c1.select($"query_id", lit(1).as("rank"), $"doc_id", $"mmr".as("mmr_milli"))
        .unionAll(c2.select($"query_id", lit(2).as("rank"), $"doc_id", $"mmr"))
        .unionAll(c3.select($"query_id", lit(3).as("rank"), $"doc_id", $"mmr"))
        .orderBy($"query_id", $"rank")
    },
    Some {
      def sim(a: String, b: String) =
        s"CAST(floor(1000.0 * ${Det.sqlCosine(a, b)}) AS BIGINT)"
      s"""$sqlScoredCtes,
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cand AS (SELECT query_id, doc_id, rel_milli, emb FROM (
         |    SELECT query_id, doc_id,
         |      score_ppm * 1000 // max(score_ppm) OVER (PARTITION BY query_id) AS rel_milli,
         |      row_number() OVER (PARTITION BY query_id ORDER BY score_ppm DESC, doc_id) AS r
         |    FROM scored) s JOIN e ON s.doc_id = e.vec_id WHERE r <= 10),
         |c1 AS (SELECT query_id, doc_id, rel_milli AS mmr, emb FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel_milli DESC, doc_id) AS rn
         |    FROM cand) WHERE rn = 1),
         |m2 AS (SELECT cand.query_id, cand.doc_id,
         |    cand.rel_milli - ${sim("cand.emb", "c1.emb")} AS mmr, cand.emb
         |  FROM cand JOIN c1 USING (query_id) WHERE cand.doc_id <> c1.doc_id),
         |c2 AS (SELECT query_id, doc_id, mmr, emb FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY mmr DESC, doc_id) AS rn
         |    FROM m2) WHERE rn = 1),
         |m3 AS (SELECT cand.query_id, cand.doc_id,
         |    cand.rel_milli - greatest(${sim("cand.emb", "c1.emb")}, ${sim("cand.emb", "c2.emb")}) AS mmr
         |  FROM cand JOIN c1 USING (query_id) JOIN c2 USING (query_id)
         |  WHERE cand.doc_id <> c1.doc_id AND cand.doc_id <> c2.doc_id),
         |c3 AS (SELECT query_id, doc_id, mmr FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY mmr DESC, doc_id) AS rn
         |    FROM m3) WHERE rn = 1)
         |SELECT query_id, CAST(1 AS INT) AS rank, doc_id, CAST(mmr AS BIGINT) AS mmr_milli FROM c1
         |UNION ALL SELECT query_id, 2, doc_id, CAST(mmr AS BIGINT) FROM c2
         |UNION ALL SELECT query_id, 3, doc_id, CAST(mmr AS BIGINT) FROM c3
         |ORDER BY query_id, rank""".stripMargin
    },
  )

  /** q466 — DELETION from the maintained BM25 index (the postings half
    * of the q462 lifecycle verb): postings live in a HASH-BUCKETED
    * layout (`tb = xxhash64(term) mod 16` — integer partition dirs,
    * which is also the honest 100 TB layout: one-dir-per-term dies at
    * web vocabulary, and bucket dirs sidestep Hive escaping of
    * arbitrary term strings), maintained over two epochs; df stats and
    * corpus globals are versioned epoch frames merged on read. An
    * erasure batch (doc_id % 9 = 4) then lands three ways at once:
    * affected postings BUCKETS are rewritten without the erased docs
    * (staged + dir-swapped, [[graft.Fs.swapPartitionDirs]] — untouched
    * buckets keep their files byte-identical), while stats and globals
    * get NEGATIVE epoch rows (df := −df_deleted, n_docs := −|batch|) —
    * the same merge-on-read discipline the epoch append already uses,
    * so deletion needs no new read path. The affected buckets and the
    * negative rows are both computed by re-tokenizing ONLY the erasure
    * batch — never the corpus. Probe: partition-pruned BM25 top-5 from
    * the maintained files, plus the erased-postings audit count.
    * Oracle: from-scratch BM25 on the reduced corpus — deletion ≡
    * rebuild-without-them, down to df/avgdl arithmetic. */
  val q466 = QuerySpec(
    "q466_bm25_index_delete",
    (s, d) => {
      import s.implicits._
      val NB = 16
      val tmp = java.nio.file.Files.createTempDirectory("graft_bm25d").toString
      try {
        val docs = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
          .select($"doc_id", toks(s).as("t"))
          .select($"doc_id", size($"t").as("dl"), $"t")
        def postings(e: DataFrame) = e
          .select($"doc_id", $"dl", explode($"t").as("term"))
          .groupBy($"doc_id", $"dl", $"term")
          .agg(count(lit(1)).as("tf"))
          .withColumn("tb", pmod(xxhash64($"term"), lit(NB)))
        def stats(post: DataFrame) = post.groupBy($"term")
          .agg(count(lit(1)).cast("long").as("df"))
        // r13: with lazy lineage every stats(postings(eX)) re-tokenized
        // its corpus slice from scratch — nine tokenize+explode passes
        // per run. Persist the three postings frames (doc×term rows, no
        // token arrays) and a narrow (doc_id, dl) frame for the globals
        // epochs: four tokenize passes, same bytes written (guide §5).
        val dlens = docs.select($"doc_id", $"dl").persist()
        def globalsFrom(dl: DataFrame) = dl
          .agg(count(lit(1)).as("n_docs"), sum($"dl").as("len_sum"))
        val p0 = postings(docs.filter($"doc_id" % 2 === 0)).persist()
        val p1 = postings(docs.filter($"doc_id" % 2 === 1)).persist()
        val delPost = postings(docs.filter($"doc_id" % 9 === 4)).persist()
        try {
        // BUILD + MAINTAIN: bucketed postings, appended stats/globals epochs.
        p0.repartition($"tb")
          .write.partitionBy("tb").parquet(s"$tmp/post")
        p1.repartition($"tb")
          .write.mode("append").partitionBy("tb").parquet(s"$tmp/post")
        stats(p0).write.parquet(s"$tmp/stats")
        stats(p1).write.mode("append").parquet(s"$tmp/stats")
        globalsFrom(dlens.filter($"doc_id" % 2 === 0)).write.parquet(s"$tmp/globals")
        globalsFrom(dlens.filter($"doc_id" % 2 === 1))
          .write.mode("append").parquet(s"$tmp/globals")
        // DELETE: bucket rewrite + negative stats/globals epochs, all
        // derived from re-tokenizing the erasure batch alone.
        val deadTbs = delPost.select($"tb").distinct()
          .collect().map(_.getLong(0)).toSeq.sorted
        if (deadTbs.nonEmpty) {
          val stage = s"$tmp/post.__delete_stage"
          s.read.parquet(s"$tmp/post")
            .filter($"tb".isin(deadTbs: _*)) // partition-pruned read
            .filter(!($"doc_id" % 9 === 4))
            .repartition($"tb")
            .write.partitionBy("tb").parquet(stage)
          graft.Fs.swapPartitionDirs(s"$tmp/post", stage,
            deadTbs.map(tb => s"tb=$tb"))
          graft.Fs.deleteTree(stage)
        }
        stats(delPost).select($"term", (-$"df").as("df"))
          .write.mode("append").parquet(s"$tmp/stats")
        globalsFrom(dlens.filter($"doc_id" % 9 === 4))
          .select((-$"n_docs").as("n_docs"), (-$"len_sum").as("len_sum"))
          .write.mode("append").parquet(s"$tmp/globals")
        // PROBE from the maintained files (merge-on-read stats/globals,
        // postings pruned to the query terms' buckets).
        val queries = s.createDataFrame(QueryTerms).toDF("query_id", "term")
        val terms = QueryTerms.map(_._2).distinct
        val qtbs = s.createDataFrame(terms.map(Tuple1(_))).toDF("term")
          .select(pmod(xxhash64($"term"), lit(NB)).as("tb"))
          .distinct().collect().map(_.getLong(0))
        val tf = s.read.parquet(s"$tmp/post")
          .filter($"tb".isin(qtbs: _*) && $"term".isin(terms: _*))
        val df_ = s.read.parquet(s"$tmp/stats")
          .filter($"term".isin(terms: _*))
          .groupBy($"term").agg(sum($"df").as("df"))
          .filter($"df" > 0)
        val g = s.read.parquet(s"$tmp/globals")
          .agg(sum($"n_docs").as("n_docs"), sum($"len_sum").as("len_sum"))
          .select($"n_docs",
            expr("len_sum * 1000000L div n_docs").as("avgdl_ppm"))
        val scored = tf
          .join(broadcast(df_), "term")
          .join(broadcast(queries), "term")
          .crossJoin(broadcast(g))
          .withColumn("dl_norm_ppm",
            expr("250000L + (750000L * dl * 1000000L) div avgdl_ppm"))
          .withColumn("tf_sat_ppm",
            expr("(tf * 2200000L * 1000000L) div (tf * 1000000L + (12L * dl_norm_ppm) div 10L)"))
          .withColumn("idf_ppm",
            expr("((n_docs - df + 1) * 1000000L) div (df + 1)"))
          .withColumn("contrib_ppm",
            expr("(idf_ppm * (tf_sat_ppm div 1000L)) div 1000L"))
          .groupBy($"query_id", $"doc_id")
          .agg(count(lit(1)).as("n_terms_matched"),
            sum($"contrib_ppm").as("score_ppm"))
        // AUDIT: erased docs' postings still readable anywhere.
        val audit = s.read.parquet(s"$tmp/post")
          .filter($"doc_id" % 9 === 4)
          .agg(count(lit(1)).as("n_erased_left"))
        val w = Window.partitionBy($"query_id")
          .orderBy($"score_ppm".desc, $"doc_id")
        Eager(scored
          .withColumn("rank", row_number().over(w))
          .filter($"rank" <= 5)
          .select($"query_id", $"rank", $"doc_id", $"n_terms_matched",
            $"score_ppm")
          .crossJoin(broadcast(audit))
          .orderBy($"query_id", $"rank"))
        } finally {
          Seq(delPost, p1, p0, dlens).foreach(_.unpersist(blocking = false))
        }
      } finally graft.Fs.deleteTree(tmp)
    },
    Some(s"""${sqlScoredCtesWhere("WHERE doc_id % 9 <> 4")}
            |SELECT query_id, rank, doc_id, n_terms_matched, score_ppm,
            |  CAST(0 AS BIGINT) AS n_erased_left FROM (
            |  SELECT *, CAST(row_number() OVER
            |      (PARTITION BY query_id ORDER BY score_ppm DESC, doc_id) AS INT) AS rank
            |  FROM scored) WHERE rank <= 5
            |ORDER BY query_id, rank""".stripMargin),
  )

  /** q479 — the BM25 inverted index maintained BY the stream (q372/
    * q375's discipline applied to the third index family, closing the
    * streaming-maintainer matrix): epoch-1 documents arrive as a
    * rate-limited file stream, every micro-batch appending its
    * hash-bucketed postings plus versioned df/globals epoch rows inside
    * `foreachBatch` — all three writes under the batch's OWN batch_id
    * partition with dynamic overwrite, because BM25 rows carry tf/df
    * MASS and a replayed plain append would double-score (the q372 meta
    * rule promoted to the whole index; see
    * [[graft.streaming.StreamBm25Maintain]]). The probe partition-
    * prunes postings to the query terms' buckets and merges stats
    * across epochs. Kill-and-restart exactly-once is pinned by
    * Round9EdgeSpec. Oracle = the from-scratch q278 BM25 over the full
    * corpus (q405's contract): stream-maintained ≡ rebuilt. */
  val q479 = QuerySpec(
    "q479_stream_bm25_maintain",
    (s, d) => graft.streaming.StreamBm25Maintain.runOnce(s, d),
    q405.oracle,
  )

  /** q484 — streaming CDC deletes through the BM25 maintainer, the
    * third and final cell of the streaming-delete matrix (IVF q475,
    * LSH q480): key-only tombstone batches locate victims via the
    * index's own id columns, write NEGATIVE df/globals epochs BEFORE
    * dir-swapping only the exact victim (batch_id, tb) partitions —
    * the ordering that makes replays exactly-once (a post-swap replay's
    * empty negative rewrite replaces nothing, a pre-swap replay's is
    * identical; see [[graft.streaming.StreamBm25Cdc]]). Probe = q479's
    * pruned top-5 with the df > 0 guard now load-bearing, plus the
    * erased audit. Kill-and-restart pinned by Round9EdgeSpec. Oracle:
    * q466's from-scratch BM25 on the reduced corpus. */
  val q484 = QuerySpec(
    "q484_stream_bm25_cdc_delete",
    (s, d) => graft.streaming.StreamBm25Cdc.runOnce(s, d),
    q466.oracle,
  )

  /** q494 — max-passage retrieval over the RAG chunk windows (how a
    * retrieval stack actually ranks long documents: score every
    * 256/192 chunk as its own BM25 "document" — chunk-level dl, df,
    * and corpus globals — then rank each DOC by its best chunk, the
    * MaxP rule from passage-retrieval practice; a long doc can no
    * longer win on accumulated length, and the winning passage
    * ordinal ships with the result for snippet display): q278's exact
    * fixed-point BM25 formula verbatim with chunks as the unit, best
    * chunk per (query, doc) by (score, lowest ordinal), top-5 docs per
    * query. Scale: tokens explode once, immediately pruned to the
    * broadcast query-term set, so the tf table is |queries|-bounded;
    * the chunk fan-out multiplies rows ~3× but every join/agg stays
    * keyed on (doc, ck, term) — no new corpus-sized shuffle beyond
    * q278's. Oracle: the identical chunked pipeline in SQL (windows
    * via unnest(range())). */
  val q494 = QuerySpec(
    "q494_max_passage_retrieval",
    (s, d) => {
      import s.implicits._
      val queries = s.createDataFrame(QueryTerms).toDF("query_id", "term")
      val terms = QueryTerms.map(_._2).distinct
      val ch = graft.queries.TextMedia.chunkTokens(
        Tables.fanOut(Tables.documents(s, d), col("doc_id"))
          .select($"doc_id", $"text"))
      val globals = ch.agg(
        count(lit(1)).as("n_docs"),
        sum(size($"t")).as("len_sum"))
        .select($"n_docs",
          expr("len_sum * 1000000L div n_docs").as("avgdl_ppm"))
      val tf = ch
        .select($"doc_id", $"ck", size($"t").as("dl"), explode($"t").as("term"))
        .filter($"term".isin(terms: _*))
        .groupBy($"doc_id", $"ck", $"dl", $"term")
        .agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val scored = tf
        .join(broadcast(df_), "term")
        .join(broadcast(queries), "term")
        .crossJoin(broadcast(globals))
        .withColumn("dl_norm_ppm",
          expr("250000L + (750000L * dl * 1000000L) div avgdl_ppm"))
        .withColumn("tf_sat_ppm",
          expr("(tf * 2200000L * 1000000L) div (tf * 1000000L + (12L * dl_norm_ppm) div 10L)"))
        .withColumn("idf_ppm",
          expr("((n_docs - df + 1) * 1000000L) div (df + 1)"))
        .withColumn("contrib_ppm",
          expr("(idf_ppm * (tf_sat_ppm div 1000L)) div 1000L"))
        .groupBy($"query_id", $"doc_id", $"ck")
        .agg(count(lit(1)).as("n_terms_matched"),
          sum($"contrib_ppm").as("score_ppm"))
      val wBest = Window.partitionBy($"query_id", $"doc_id")
        .orderBy($"score_ppm".desc, $"ck")
      val wTop = Window.partitionBy($"query_id")
        .orderBy($"score_ppm".desc, $"doc_id")
      scored
        .withColumn("rb", row_number().over(wBest))
        .filter($"rb" === 1)
        .withColumn("rank", row_number().over(wTop))
        .filter($"rank" <= 5)
        .select($"query_id", $"rank", $"doc_id", $"ck".as("best_chunk"),
          $"n_terms_matched", $"score_ppm")
        .orderBy($"query_id", $"rank")
    },
    Some(s"""WITH q(query_id, term) AS (VALUES $sqlQueryTerms),
            |ch AS (SELECT doc_id, i AS ck,
            |    list_filter(regexp_split_to_array(
            |      lower(substr(text, CAST(i * 192 + 1 AS BIGINT), 256)), '\\s+'),
            |      x -> len(x) > 0) AS t
            |  FROM (SELECT doc_id, text,
            |      unnest(range(0, (length(text) - 1) // 192 + 1)) AS i
            |    FROM documents WHERE length(text) > 0)),
            |g AS (SELECT count(*) AS n_docs,
            |    CAST(sum(len(t)) AS BIGINT) * 1000000 // count(*) AS avgdl_ppm FROM ch),
            |tf AS (SELECT doc_id, ck, len(t) AS dl, term, count(*) AS tf
            |  FROM (SELECT doc_id, ck, t, unnest(t) AS term FROM ch)
            |  WHERE term IN (SELECT DISTINCT term FROM q)
            |  GROUP BY doc_id, ck, len(t), term),
            |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            |scored AS (
            |  SELECT query_id, doc_id, ck,
            |    CAST(count(*) AS BIGINT) AS n_terms_matched,
            |    CAST(sum(((CAST(n_docs AS BIGINT) - df + 1) * 1000000 // (df + 1))
            |      * ((tf * 2200000 * 1000000
            |          // (tf * 1000000 + (12 * (250000 + (750000 * dl * 1000000) // avgdl_ppm)) // 10))
            |         // 1000) // 1000) AS BIGINT) AS score_ppm
            |  FROM tf JOIN dfx USING (term) JOIN q USING (term) CROSS JOIN g
            |  GROUP BY query_id, doc_id, ck),
            |best AS (SELECT * FROM (
            |  SELECT *, row_number() OVER
            |      (PARTITION BY query_id, doc_id ORDER BY score_ppm DESC, ck) AS rb
            |  FROM scored) WHERE rb = 1)
            |SELECT query_id, rank, doc_id, best_chunk, n_terms_matched, score_ppm FROM (
            |  SELECT query_id, CAST(row_number() OVER
            |      (PARTITION BY query_id ORDER BY score_ppm DESC, doc_id) AS INT) AS rank,
            |    doc_id, CAST(ck AS INT) AS best_chunk, n_terms_matched, score_ppm
            |  FROM best) WHERE rank <= 5
            |ORDER BY query_id, rank""".stripMargin),
  )

  /** q496 — MaxSim LATE-INTERACTION retrieval (ColBERT-shaped; the
    * embedding-side analogue of q494's best-passage BM25, completing
    * the retrieval family beside dense whole-doc cosine q28 and
    * lexical q278): every 256/192 chunk gets a stub 8-dim embedding
    * (md5-derived per-dim ints — the q111 deterministic stand-in for a
    * per-passage encoder), every query TOKEN gets one the same way,
    * and score(q, doc) = Σ over q's tokens of max over doc's chunks of
    * cosine(token, chunk) — a long doc wins only through its best
    * passages per token, never through accumulated mass. Top-5 docs
    * per query by (score, doc_id). Determinism: cosines are
    * sequential-fold doubles (bit-identical both engines), each
    * per-token max is over identical doubles, and the SUM happens
    * after round(·10⁴)→long — exact integer addition, no float-order
    * flake. Scale: the query-token vectors fold to LITERALS (stronger
    * than a broadcast — nothing ships at all), so the plan is ONE
    * corpus scan with per-chunk token cosines computed in-row, a
    * map-side-combined per-doc max aggregate (|docs| rows × |tokens|
    * maxes shuffle — never chunks, never a corpus×query product), and
    * a WindowGroupLimit top-5; swap the scan for the q28/q81 IVF
    * probes when the chunk store is indexed. */
  val q496 = QuerySpec(
    "q496_maxsim_late_interaction",
    (s, d) => {
      import s.implicits._
      import graft.functions.VectorOps.cosine
      def hexVec(h: String): org.apache.spark.sql.Column = expr(
        s"transform(sequence(1, 8), i -> CAST(instr('0123456789abcdef', substring($h, i, 1)) - 9 AS DOUBLE))")
      val terms = QueryTerms.map(_._2).distinct
      val cv = graft.queries.TextMedia.chunkRows(
          Tables.fanOut(Tables.documents(s, d), col("doc_id"))
            .select($"doc_id", $"lang", $"text"))
        .select($"doc_id", hexVec("h").as("cv"))
      // Per-chunk cosine against every query-token vector, in-row: the
      // token vectors are constant-folded md5 literals.
      val withCos = cv.select($"doc_id" +: terms.zipWithIndex.map {
        case (t, i) =>
          cosine(hexVec(s"md5(cast('$t' AS BINARY))"), $"cv").as(s"c_$i")
      }: _*)
      val perDoc = withCos.groupBy($"doc_id").agg(
        max(col(s"c_0")).as("m_0"),
        terms.indices.tail.map(i => max(col(s"c_$i")).as(s"m_$i")): _*)
      // Melt to (query_id, doc_id, score): each query's score is the
      // exact-integer sum of its tokens' rounded maxes.
      val byQuery = QueryTerms.groupBy(_._1).toSeq.sortBy(_._1)
      // Per-query terms DEDUPED before scoring: the oracle's mc GROUP BY
      // (query_id, term, doc_id) collapses a duplicate (query_id, term)
      // pair to one max, so summing per OCCURRENCE here would diverge
      // the engines the day QueryTerms gains a repeated term — score
      // and n_terms both count distinct terms.
      val scoreStructs = array(byQuery.map { case (qid, qts) =>
        val qterms = qts.map(_._2).distinct
        struct(lit(qid).as("query_id"),
          lit(qterms.size.toLong).as("n_terms"),
          qterms.map { t =>
            expr(s"CAST(round(m_${terms.indexOf(t)} * 10000) AS BIGINT)")
          }.reduce(_ + _).as("score_x4"))
      }: _*)
      val w = Window.partitionBy($"query_id")
        .orderBy($"score_x4".desc, $"doc_id")
      perDoc.select($"doc_id", explode(scoreStructs).as("s"))
        .select($"s.query_id".as("query_id"), $"doc_id",
          $"s.n_terms".as("n_terms"), $"s.score_x4".as("score_x4"))
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= 5)
        .select($"query_id", $"rank", $"doc_id", $"n_terms", $"score_x4")
        .orderBy($"query_id", $"rank")
    },
    Some(s"""WITH q(query_id, term) AS (VALUES $sqlQueryTerms),
            |qv AS (SELECT query_id, term, list_transform(generate_series(1, 8),
            |    i -> CAST(strpos('0123456789abcdef', substr(md5(term), i, 1)) - 9 AS DOUBLE)) AS qv
            |  FROM q),
            |d AS (SELECT doc_id, text, length(text) AS len
            |  FROM documents WHERE length(text) > 0),
            |ch AS (SELECT doc_id, md5(substr(text, CAST(i * 192 + 1 AS BIGINT), 256)) AS h
            |  FROM (SELECT doc_id, text, unnest(range(0, (len - 1) // 192 + 1)) AS i FROM d)),
            |cv AS (SELECT doc_id, list_transform(generate_series(1, 8),
            |    i -> CAST(strpos('0123456789abcdef', substr(h, i, 1)) - 9 AS DOUBLE)) AS cv
            |  FROM ch),
            |mc AS (SELECT query_id, term, doc_id, max(${Det.sqlCosine("qv", "cv")}) AS mc
            |  FROM cv CROSS JOIN qv GROUP BY 1, 2, 3),
            |sc AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms,
            |    CAST(sum(CAST(round(mc * 10000) AS BIGINT)) AS BIGINT) AS score_x4
            |  FROM mc GROUP BY 1, 2)
            |SELECT query_id, rank, doc_id, n_terms, score_x4 FROM (
            |  SELECT *, CAST(row_number() OVER
            |      (PARTITION BY query_id ORDER BY score_x4 DESC, doc_id) AS INT) AS rank
            |  FROM sc) WHERE rank <= 5
            |ORDER BY query_id, rank""".stripMargin),
  )

  /** q502 — RM3-style LEXICAL query expansion (pseudo-relevance
    * feedback on the term side, completing the PRF family beside
    * q404's dense-PRF hybrid: there the feedback doc donates a query
    * VECTOR; here the top-3 BM25 docs donate expansion TERMS): each
    * query's top-3 first-pass docs are tokenized, candidate terms
    * weighted by Σ_D tf(t,D)·10⁶ div dl(D) (the relevance-model
    * p(t|D) estimate in exact ppm), the top-2 non-original terms join
    * the query at half weight (λ = 0.5 interpolation), and the corpus
    * is re-ranked with WEIGHTED BM25 — per-term contribution scaled by
    * weight_ppm div 10⁶, q278's exact fixed-point formula otherwise
    * verbatim. Top-5 per query with the matched-term count. Scale:
    * stage 1 is [[bm25Scored]] (query-term-pruned); the feedback pass
    * tokenizes only 3×|queries| docs; stage 2's explode prunes against
    * the BROADCAST expanded-term frame (a dynamic term set, so a
    * semi-join replaces the literal isin — same |terms|-bounded tf
    * table, one corpus-keyed shuffle). */
  val q502 = QuerySpec(
    "q502_rm3_query_expansion",
    (s, d) => {
      import s.implicits._
      val docs = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", toks(s).as("t"))
      val queries = s.createDataFrame(QueryTerms).toDF("query_id", "term")
      val wR = Window.partitionBy($"query_id").orderBy($"score_ppm".desc, $"doc_id")
      val fb = bm25Scored(s, d)
        .withColumn("r", row_number().over(wR)).filter($"r" <= 3)
        .select($"query_id", $"doc_id")
      val wexp = docs.join(broadcast(fb), Seq("doc_id"))
        .select($"query_id", $"doc_id", size($"t").as("dl"), explode($"t").as("term"))
        .groupBy($"query_id", $"doc_id", $"dl", $"term")
        .agg(count(lit(1)).as("tf"))
        .withColumn("w", expr("tf * 1000000L div dl"))
        .groupBy($"query_id", $"term").agg(sum($"w").as("w_ppm"))
      val wE = Window.partitionBy($"query_id").orderBy($"w_ppm".desc, $"term")
      val expTerms = wexp
        .join(queries, Seq("query_id", "term"), "left_anti")
        .withColumn("r", row_number().over(wE)).filter($"r" <= 2)
        .select($"query_id", $"term", lit(500000L).as("weight_ppm"))
      val expanded = queries
        .select($"query_id", $"term", lit(1000000L).as("weight_ppm"))
        .unionByName(expTerms)
      val allTerms = expanded.select($"term").distinct()
      val globals = docs.agg(
        count(lit(1)).as("n_docs"), sum(size($"t")).as("len_sum"))
        .select($"n_docs", expr("len_sum * 1000000L div n_docs").as("avgdl_ppm"))
      val tf2 = docs
        .select($"doc_id", size($"t").as("dl"), explode($"t").as("term"))
        .join(broadcast(allTerms), Seq("term"))
        .groupBy($"doc_id", $"dl", $"term").agg(count(lit(1)).as("tf"))
      val df2 = tf2.groupBy($"term").agg(count(lit(1)).as("df"))
      val w5 = Window.partitionBy($"query_id").orderBy($"score_ppm".desc, $"doc_id")
      tf2
        .join(broadcast(df2), "term")
        .join(broadcast(expanded), "term")
        .crossJoin(broadcast(globals))
        .withColumn("dl_norm_ppm",
          expr("250000L + (750000L * dl * 1000000L) div avgdl_ppm"))
        .withColumn("tf_sat_ppm",
          expr("(tf * 2200000L * 1000000L) div (tf * 1000000L + (12L * dl_norm_ppm) div 10L)"))
        .withColumn("idf_ppm",
          expr("((n_docs - df + 1) * 1000000L) div (df + 1)"))
        .withColumn("contrib_ppm",
          expr("(weight_ppm * ((idf_ppm * (tf_sat_ppm div 1000L)) div 1000L)) div 1000000L"))
        .groupBy($"query_id", $"doc_id")
        .agg(count(lit(1)).as("n_terms_matched"),
          sum($"contrib_ppm").as("score_ppm"))
        .withColumn("rank", row_number().over(w5))
        .filter($"rank" <= 5)
        .select($"query_id", $"rank", $"doc_id", $"n_terms_matched", $"score_ppm")
        .orderBy($"query_id", $"rank")
    },
    Some(s"""${sqlScoredCtesWhere("")},
            |fb AS (SELECT query_id, doc_id FROM (
            |    SELECT query_id, doc_id, row_number() OVER
            |        (PARTITION BY query_id ORDER BY score_ppm DESC, doc_id) AS r
            |    FROM scored) WHERE r <= 3),
            |fbt AS (SELECT query_id, doc_id, dl, term FROM (
            |    SELECT f.query_id, t.doc_id, len(t.t) AS dl, unnest(t.t) AS term
            |    FROM fb f JOIN toks t USING (doc_id))),
            |we1 AS (SELECT query_id, doc_id, dl, term, count(*) AS tf
            |  FROM fbt GROUP BY 1, 2, 3, 4),
            |wexp AS (SELECT query_id, term,
            |    CAST(sum(tf * 1000000 // dl) AS BIGINT) AS w_ppm
            |  FROM we1 GROUP BY 1, 2),
            |expn AS (SELECT query_id, term, CAST(500000 AS BIGINT) AS weight_ppm FROM (
            |    SELECT w.query_id, w.term, row_number() OVER
            |        (PARTITION BY w.query_id ORDER BY w.w_ppm DESC, w.term) AS r
            |    FROM wexp w WHERE NOT EXISTS (SELECT 1 FROM q
            |      WHERE q.query_id = w.query_id AND q.term = w.term))
            |  WHERE r <= 2),
            |eq AS (SELECT query_id, term, CAST(1000000 AS BIGINT) AS weight_ppm FROM q
            |  UNION ALL SELECT query_id, term, weight_ppm FROM expn),
            |tf2 AS (SELECT doc_id, dl, term, count(*) AS tf FROM (
            |    SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
            |  WHERE term IN (SELECT DISTINCT term FROM eq)
            |  GROUP BY 1, 2, 3),
            |df2 AS (SELECT term, count(*) AS df FROM tf2 GROUP BY term),
            |sc2 AS (SELECT query_id, doc_id,
            |    CAST(count(*) AS BIGINT) AS n_terms_matched,
            |    CAST(sum((weight_ppm * (((CAST(n_docs AS BIGINT) - df + 1) * 1000000 // (df + 1))
            |      * ((tf * 2200000 * 1000000
            |          // (tf * 1000000 + (12 * (250000 + (750000 * dl * 1000000) // avgdl_ppm)) // 10))
            |         // 1000) // 1000)) // 1000000) AS BIGINT) AS score_ppm
            |  FROM tf2 JOIN df2 USING (term) JOIN eq USING (term) CROSS JOIN g
            |  GROUP BY 1, 2)
            |SELECT query_id, rank, doc_id, n_terms_matched, score_ppm FROM (
            |  SELECT *, CAST(row_number() OVER
            |      (PARTITION BY query_id ORDER BY score_ppm DESC, doc_id) AS INT) AS rank
            |  FROM sc2) WHERE rank <= 5
            |ORDER BY query_id, rank""".stripMargin),
  )

  val all: Seq[QuerySpec] =
    Seq(q278, q279, q290, q404, q405, q406, q407, q421, q428, q449, q466,
      q479, q484, q494, q496, q502)
}
