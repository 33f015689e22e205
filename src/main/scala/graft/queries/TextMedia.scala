package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns._
import Det._

/** Text-analysis, multimodal-binary, and event-time operators (SURVEY
  * §2.3 Tier C + §2.9): language ID, quality scoring, BPE-ish token
  * counting, winnowing fingerprints, opaque-binary media handling, and
  * the batch twin of the streaming hourly window.
  *
  * All per-document computation is codegen'd built-ins over one scan —
  * no shuffle until the final aggregate; the only joins broadcast a
  * constant lexicon. Every query carries a full DuckDB oracle.
  */
object TextMedia {

  /** Tiny per-language stopword lexicon for q29 — a deterministic stand-in
    * for a real n-gram language model (the corpus is synthetic word salad,
    * so what's graded is the operator shape: token explode → broadcast
    * lexicon join → per-doc argmax → confusion matrix). */
  private val lexicon: Seq[(String, String)] = Seq(
    "the" -> "en", "a" -> "en", "and" -> "en", "of" -> "en", "to" -> "en",
    "der" -> "de", "die" -> "de", "und" -> "de", "ist" -> "de", "das" -> "de",
    "le" -> "fr", "la" -> "fr", "et" -> "fr", "les" -> "fr", "des" -> "fr",
    "el" -> "es", "los" -> "es", "y" -> "es", "una" -> "es", "por" -> "es",
    "de" -> "zh", "shi" -> "zh", "bu" -> "zh", "wo" -> "zh", "zai" -> "zh",
  )

  private def lexiconSqlValues: String =
    lexicon.map { case (w, lg) => s"('$w','$lg')" }.mkString(", ")

  /** q29 — n-gram-heuristic language ID: stopword hits per candidate
    * language, per-doc argmax (ties → lexicographic), docs with no hits
    * → 'und'; output is the (labeled lang × predicted) confusion matrix.
    * Scale: lexicon is broadcast (constant); the only shuffle is the
    * per-doc hit count keyed on doc_id. */
  val q29 = QuerySpec(
    "q29_text_langid",
    (s, d) => {
      import s.implicits._
      val docs = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
      val lex = lexicon.toDF("w", "lg")
      val tok = docs.select($"doc_id", explode(tokens($"text")).as("w"))
      val hits = tok.join(broadcast(lex), "w")
        .groupBy($"doc_id", $"lg").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy($"doc_id").orderBy($"n".desc, $"lg")
      val best = hits.withColumn("rn", row_number().over(w))
        .filter($"rn" === 1).select($"doc_id", $"lg")
      docs.select($"doc_id", $"lang")
        .join(best, Seq("doc_id"), "left")
        .select($"lang", coalesce($"lg", lit("und")).as("predicted"))
        .groupBy($"lang", $"predicted").agg(count(lit(1)).as("n_docs"))
        .orderBy($"lang", $"predicted")
    },
    Some(s"""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS w FROM documents),
            |lex AS (SELECT * FROM (VALUES $lexiconSqlValues) t(w, lg)),
            |hits AS (SELECT doc_id, lg, count(*) AS n FROM tok JOIN lex USING (w) GROUP BY doc_id, lg),
            |best AS (SELECT doc_id, lg, row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, lg) AS rn FROM hits),
            |pred AS (SELECT d.doc_id, d.lang, coalesce(b.lg, 'und') AS predicted
            |         FROM documents d LEFT JOIN (SELECT doc_id, lg FROM best WHERE rn = 1) b USING (doc_id))
            |SELECT lang, predicted, count(*) AS n_docs FROM pred
            |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin),
  )

  /** q30 — heuristic quality score per doc: stopword ratio (fluency),
    * distinct-token ratio (repetition penalty), avg-token-length capped
    * at 8 (fragment penalty), weighted 0.3/0.4/0.3 — the standard cheap
    * pre-filter before model-based quality scoring. Per-row math over
    * exact ints → bit-identical doubles on both engines; top-20 via
    * TakeOrderedAndProject. */
  val q30 = QuerySpec(
    "q30_text_quality_score",
    (s, d) => {
      import s.implicits._
      Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", tokens($"text").as("t"),
          length(regexp_replace($"text", "\\s", "")).as("letters"))
        .select($"doc_id", size($"t").as("n_tok"),
          expr("size(filter(t, w -> w in ('the','a','and','of','to')))").as("n_stop"),
          size(array_distinct($"t")).as("n_distinct"), $"letters")
        .withColumn("score",
          lit(0.3) * ($"n_stop" * lit(1.0) / $"n_tok") +
          lit(0.4) * ($"n_distinct" * lit(1.0) / $"n_tok") +
          lit(0.3) * least(($"letters" * lit(1.0) / $"n_tok") / lit(8.0), lit(1.0)))
        .orderBy($"score".desc, $"doc_id")
        .limit(20)
        .select($"doc_id", $"n_tok".cast("int").as("n_tokens"),
          round($"score", 4).as("quality"))
    },
    Some("""WITH f AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t,
           |                  length(regexp_replace(text, '\s', '', 'g')) AS letters FROM documents),
           |m AS (SELECT doc_id, len(t) AS n_tok,
           |             len(list_filter(t, w -> w IN ('the','a','and','of','to'))) AS n_stop,
           |             len(list_distinct(t)) AS n_distinct, letters FROM f),
           |sc AS (SELECT doc_id, n_tok,
           |       0.3 * (n_stop * 1.0 / n_tok) + 0.4 * (n_distinct * 1.0 / n_tok)
           |       + 0.3 * least((letters * 1.0 / n_tok) / 8.0, 1.0) AS score FROM m)
           |SELECT doc_id, CAST(n_tok AS INT) AS n_tokens, round(score, 4) AS quality FROM sc
           |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),
  )

  /** q31 — BPE-ish pre-tokenizer census: `[a-z]+|[0-9]|[^a-z0-9\s]`
    * (word / single digit / single symbol — the GPT-2 pattern's shape),
    * global top-20 tokens by frequency. Explode + two-phase count;
    * map-side combine keeps the shuffle at vocabulary size, not corpus
    * size. */
  val q31 = QuerySpec(
    "q31_text_token_census",
    (s, d) => {
      import s.implicits._
      Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select(explode(regexp_extract_all(lower($"text"),
          lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0))).as("token"))
        .groupBy($"token").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"token")
        .limit(20)
    },
    Some("""SELECT w AS token, count(*) AS n FROM (
           |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS w FROM documents)
           |GROUP BY w ORDER BY n DESC, token LIMIT 20""".stripMargin),
  )

  /** q32 — winnowing document fingerprints (Schleimer et al.'s MOSS
    * scheme): char 8-gram hashes, min per sliding window of 4, distinct
    * mins = the fingerprint set. md5 stands in for the rolling Karp-
    * Rabin hash — same selectivity, portable to the oracle. Per-row
    * arrays only; no shuffle until the final ORDER BY. */
  val q32 = QuerySpec(
    "q32_text_fingerprint_winnow",
    (s, d) => {
      import s.implicits._
      // length >= 11 ⟺ size(grams) = length-7 >= 4: a scan-pushable
      // predicate on the raw column, instead of a size(grams) filter that
      // pushdown would rewrite to re-evaluate the md5 gram array.
      Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .filter(length($"text") >= 11)
        .select($"doc_id",
          graft.functions.ArrayMd5.arrayMd5(
            expr("transform(sequence(1, length(text)-7), i -> substring(text, i, 8))"),
            lit("")).as("grams"))
        .select($"doc_id", $"grams",
          expr("transform(sequence(1, size(grams)-3), j -> array_min(slice(grams, j, 4)))").as("wins"))
        .select($"doc_id",
          size($"grams").as("n_grams"),
          size(array_distinct($"wins")).as("n_fingerprints"),
          array_min($"grams").as("min_gram"))
        .orderBy($"doc_id")
    },
    Some("""WITH g AS (SELECT doc_id, list_transform(generate_series(1, length(text)-7), i -> md5(substring(text, i, 8))) AS grams
           |           FROM documents WHERE length(text) >= 8),
           |w AS (SELECT doc_id, grams, list_transform(generate_series(1, len(grams)-3), j -> list_aggregate(grams[j:j+3], 'min')) AS wins
           |      FROM g WHERE len(grams) >= 4)
           |SELECT doc_id, CAST(len(grams) AS INT) AS n_grams, CAST(len(list_distinct(wins)) AS INT) AS n_fingerprints,
           |       list_aggregate(grams, 'min') AS min_gram
           |FROM w ORDER BY doc_id""".stripMargin),
  )

  /** q33 — multimodal opaque-binary handling: text bytes stand in for
    * image/audio payloads (the container has no codec libs — see
    * graft.multimodal for the decode-stub plumbing). Media is an opaque
    * BINARY column + typed metadata; per-source integrity stats: byte
    * volume, md5 content addresses, distinct-payload counts. At 100 TB
    * this shape (never parse blobs in SQL, aggregate metadata/digests
    * only) is what keeps media pipelines scan-bound. */
  val q33 = QuerySpec(
    "q33_multimodal_binary_stats",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"source", $"text".cast("binary").as("media"))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_media"),
          sum(expr("octet_length(media)")).as("total_bytes"),
          countDistinct(md5($"media")).as("n_distinct_media"),
          max(expr("octet_length(media)")).cast("long").as("max_bytes"))
        .orderBy($"source")
    },
    Some("""SELECT source, count(*) AS n_media,
           |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_media,
           |  CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes
           |FROM documents GROUP BY source ORDER BY source""".stripMargin),
  )

  /** q34 — event-time tumbling window (batch twin of the streaming
    * pipeline in graft.streaming.EventIngest): 1-hour windows over
    * events.ts × event_type, count + exact-decimal value sum. Uses
    * Spark's window() operator (epoch-aligned tumble ≡ date_trunc hour).
    * Streaming equivalence is asserted in EventIngestSpec. */
  val q34 = QuerySpec(
    "q34_events_hourly_window",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n_events"), dsum($"value", 4).as("value_sum"))
        .select(date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
          $"event_type", $"n_events", $"value_sum")
        .orderBy($"window_start", $"event_type")
    },
    Some(s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
            |  count(*) AS n_events, ${sqlDsum("value", 4)} AS value_sum
            |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
  )

  /** q36 — the multimodal decode path end-to-end (graft.multimodal
    * .MediaPipeline): opaque binary payloads → batched per-partition
    * decode stub (4-dim "thumbnail" features = per-quarter mean byte) →
    * per-source feature rollup. The corpus is ASCII, so the DuckDB oracle
    * reproduces the byte math with ord(); a real codec swap changes only
    * decodeStub, not this plumbing. The typed mapPartitions stage is the
    * engine's one imperative escape hatch — everything before/after stays
    * declarative, and only fixed-width features reach the aggregate.
    *
    * The gate aggregates `featureSums` (exact per-quarter Long byte sums)
    * plus the quarter lengths: Long sums are order-independent and
    * engine-portable, and the per-source mean is ONE IEEE division of
    * identical operands at the end — no double→decimal tie rounding
    * anywhere (summing the per-doc mean doubles can land on a decimal
    * rounding boundary that Spark and DuckDB break differently). */
  /** Per-source rollup of per-media span sums: exact Long sums of the
    * `sums` array elements plus span lengths (derived from n_bytes),
    * means as one IEEE division at the end. Shared by q36 (4-span decode
    * features) and q45 (8-span resize) — see q36's docstring for why the
    * gate aggregates integers, not mean doubles. */
  private def spanRollup(s: SparkSession, perMedia: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    def qlen(q: Int) = expr(s"(${q + 1}L * n_bytes) div $k - (${q}L * n_bytes) div $k")
    val perDoc = perMedia
      .select(Seq($"doc_id", $"source", $"n_bytes") ++
        (0 until k).map(q => $"sums" (q).as(s"s$q")) ++
        (0 until k).map(q => qlen(q).as(s"l$q")): _*)
    val meanCols = (0 until k).map { q =>
      when(col(s"l${q}_sum") > 0,
        col(s"s${q}_sum").cast("double") / col(s"l${q}_sum").cast("double"))
        .otherwise(lit(0.0)).as(s"f${q}_mean")
    }
    val aggCols = Seq(count(lit(1)).as("n_media"), sum($"n_bytes").as("bytes_sum")) ++
      (0 until k).flatMap(q => Seq(
        sum(col(s"s$q")).as(s"s${q}_sum"),
        sum(col(s"l$q")).as(s"l${q}_sum")))
    perDoc
      .groupBy($"source")
      .agg(aggCols.head, aggCols.tail: _*)
      .select(Seq($"source", $"n_media", $"bytes_sum") ++
        (0 until k).map(q => col(s"s${q}_sum")) ++ meanCols: _*)
      .orderBy($"source")
  }

  /** DuckDB mirror of [[spanRollup]] over the documents corpus. */
  private def spanRollupOracle(k: Int): String = {
    def s(q: Int) =
      s"coalesce(list_aggregate(list_transform(generate_series(($q*n)//$k+1, (${q + 1}*n)//$k), i -> ord(substring(text, i, 1))), 'sum'), 0) AS s$q"
    def l(q: Int) = s"(${q + 1}*n)//$k - ($q*n)//$k AS l$q"
    val sums = (0 until k).map(q => s"CAST(sum(s$q) AS BIGINT) AS s${q}_sum").mkString(", ")
    val means = (0 until k).map(q =>
      s"CASE WHEN sum(l$q) > 0 THEN CAST(sum(s$q) AS DOUBLE) / CAST(sum(l$q) AS DOUBLE) ELSE 0.0 END AS f${q}_mean")
      .mkString(", ")
    s"""WITH d AS (SELECT doc_id, source, length(text) AS n, text FROM documents),
       |f AS (SELECT doc_id, source, n,
       |  ${(0 until k).map(s).mkString(", ")},
       |  ${(0 until k).map(l).mkString(", ")}
       |  FROM d)
       |SELECT source, count(*) AS n_media, CAST(sum(n) AS BIGINT) AS bytes_sum,
       |  $sums, $means
       |FROM f GROUP BY source ORDER BY source""".stripMargin
  }

  val q36 = QuerySpec(
    "q36_multimodal_decode_features",
    (s, d) => {
      import graft.multimodal.MediaPipeline
      val perMedia = MediaPipeline
        .extractFeatures(MediaPipeline.documentsAsMedia(s, d)).toDF()
        .withColumnRenamed("featureSums", "sums")
      spanRollup(s, perMedia, 4)
    },
    Some(spanRollupOracle(4)),
  )

  /** q45 — the RESIZE stage end-to-end: batched mapPartitions downsample
    * of each payload to an 8-span integer thumbnail
    * (MediaPipeline.resize), rolled up per source with the same
    * exact-integer gate as q36. Together with q36 (decode/feature) and
    * the frame-sample primitive (MediaPipelineSpec), this covers the
    * decode / feature-extract / resize / frame-sample multimodal stage
    * set; only the kernel inside each stage is a stub. */
  val q45 = QuerySpec(
    "q45_multimodal_resize",
    (s, d) => {
      import graft.multimodal.MediaPipeline
      val perMedia = MediaPipeline
        .resize(MediaPipeline.documentsAsMedia(s, d), 8).toDF()
      spanRollup(s, perMedia, 8)
    },
    Some(spanRollupOracle(8)),
  )

  /** q73 — content-addressed media dedup: exact duplicate detection on
    * opaque binary payloads via md5 digests — the image/audio analogue
    * of q20's row dedup (the FIRST stage of any media pipeline: dedup by
    * content address before ever decoding). The corpus has no natural
    * byte-identical payloads, so a tenth of the docs are re-ingested as
    * a synthetic second delivery (q20's technique); the query must
    * collapse exactly those. Digest-only shuffle: payloads reduce to
    * 16-byte digests at the scan, the groupBy moves digests + metadata,
    * never media bytes — at 100 TB THE property that makes media dedup
    * tractable. */
  val q73 = QuerySpec(
    "q73_media_dedup_digest",
    (s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d)
        .select($"doc_id", $"source", $"text".cast("binary").as("media"))
      val redelivered = media.filter($"doc_id" % 10 === 0)
        .withColumn("doc_id", $"doc_id" + lit(1000000L))
      media.unionAll(redelivered)
        .groupBy(md5($"media").as("digest"))
        .agg(
          count(lit(1)).as("n_copies"),
          min($"doc_id").as("canonical_doc"),
          max(expr("octet_length(media)")).cast("long").as("payload_bytes"))
        .filter($"n_copies" >= 2)
        .orderBy($"canonical_doc")
        .select($"digest", $"n_copies", $"canonical_doc", $"payload_bytes")
    },
    Some("""WITH media AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)
           |SELECT md5(text) AS digest, count(*) AS n_copies,
           |  CAST(min(doc_id) AS BIGINT) AS canonical_doc,
           |  CAST(max(octet_length(encode(text))) AS BIGINT) AS payload_bytes
           |FROM media GROUP BY 1 HAVING count(*) >= 2
           |ORDER BY canonical_doc""".stripMargin),
  )

  /** q78 — the FRAME-SAMPLE stage end-to-end (completing the multimodal
    * stage set q36/q45 started): 3 frames × 16 bytes sampled at even
    * stride from each payload (MediaPipeline.frameSample), rolled up per
    * source as exact integer byte sums + frame lengths — the same
    * integers the oracle derives with ord() over the ASCII corpus. */
  val q78 = QuerySpec(
    "q78_multimodal_framesample",
    (s, d) => {
      import s.implicits._
      import graft.multimodal.MediaPipeline
      val frames = MediaPipeline
        .frameSample(MediaPipeline.documentsAsMedia(s, d), 3, 16).toDF()
      frames
        .select(Seq($"source", $"n_bytes") ++
          (0 until 3).map(j => $"frameSums" (j).as(s"fs$j")) ++
          (0 until 3).map(j => $"frameLens" (j).cast("long").as(s"fl$j")): _*)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_media"),
          sum($"fs0").as("f0_sum"), sum($"fs1").as("f1_sum"), sum($"fs2").as("f2_sum"),
          sum($"fl0").as("f0_len"), sum($"fl1").as("f1_len"), sum($"fl2").as("f2_len"))
        .orderBy($"source")
    },
    Some {
      // Frame j of an n-byte payload starts at (j*n)//3 (0-based) and
      // spans min(16, n - start) bytes; ord() == byte on this ASCII corpus.
      def fs(j: Int) =
        s"coalesce(list_aggregate(list_transform(generate_series(($j*n)//3 + 1, least(($j*n)//3 + 16, n)), i -> ord(substring(text, i, 1))), 'sum'), 0) AS fs$j"
      def fl(j: Int) = s"least(($j*n)//3 + 16, n) - ($j*n)//3 AS fl$j"
      s"""WITH d AS (SELECT doc_id, source, length(text) AS n, text FROM documents),
         |f AS (SELECT doc_id, source,
         |  ${(0 until 3).map(fs).mkString(", ")},
         |  ${(0 until 3).map(fl).mkString(", ")}
         |  FROM d)
         |SELECT source, count(*) AS n_media,
         |  CAST(sum(fs0) AS BIGINT) AS f0_sum, CAST(sum(fs1) AS BIGINT) AS f1_sum,
         |  CAST(sum(fs2) AS BIGINT) AS f2_sum,
         |  CAST(sum(fl0) AS BIGINT) AS f0_len, CAST(sum(fl1) AS BIGINT) AS f1_len,
         |  CAST(sum(fl2) AS BIGINT) AS f2_len
         |FROM f GROUP BY source ORDER BY source""".stripMargin
    },
  )

  /** q111 — cross-modal nearest neighbors: media payloads get a stub
    * 8-dim embedding (md5-derived per-dim ints — deterministic stand-in
    * for a CLIP-style encoder; see graft.multimodal for why kernels are
    * stubs here), and each probe's top-3 matches among the text
    * embeddings (first 8 dims) are retrieved by cosine. The retrieval
    * shape is the one that scales: the probe batch is tiny (media
    * arriving in a micro-batch) → broadcast it; the embedding corpus
    * streams through ONE scan with per-partition top-k heaps — no
    * corpus shuffle, no pairwise blow-up; swap the scan for q28/q81's
    * IVF probes when the corpus is indexed. Cosines are sequential-fold
    * doubles (Det mirrors) rounded to 4 — rank-stable across engines. */
  val q111 = QuerySpec(
    "q111_media_crossmodal_nn",
    (s, d) => {
      import s.implicits._
      import graft.functions.VectorOps.cosine
      val probes = Tables.documents(s, d)
        .filter($"doc_id" <= 5)
        .select($"doc_id", $"text".cast("binary").as("media"))
        .select($"doc_id", expr(
          "transform(sequence(1, 8), i -> CAST(instr('0123456789abcdef', substring(md5(media), i, 1)) - 9 AS DOUBLE))"
        ).as("mvec"))
      val emb = Tables.fanOut(Tables.embeddings(s, d), col("vec_id"))
        .select($"vec_id", expr(
          "transform(slice(embedding, 1, 8), x -> CAST(x AS DOUBLE))").as("esl"))
      val w = Window.partitionBy($"doc_id").orderBy($"cos_sim".desc, $"vec_id")
      emb.crossJoin(broadcast(probes))
        .select($"doc_id", $"vec_id", round(cosine($"mvec", $"esl"), 4).as("cos_sim"))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 3)
        .select($"doc_id", $"vec_id", $"cos_sim")
        .orderBy($"doc_id", $"cos_sim".desc, $"vec_id")
    },
    Some(s"""WITH p AS (SELECT doc_id, list_transform(generate_series(1, 8),
            |    i -> CAST(strpos('0123456789abcdef', substr(md5(text), i, 1)) - 9 AS DOUBLE)) AS mvec
            |  FROM documents WHERE doc_id <= 5),
            |e AS (SELECT vec_id, list_slice(CAST(embedding AS DOUBLE[]), 1, 8) AS esl FROM embeddings),
            |sc AS (SELECT doc_id, vec_id, round(${sqlCosine("mvec", "esl")}, 4) AS cos_sim FROM e, p),
            |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cos_sim DESC, vec_id) AS r FROM sc)
            |SELECT doc_id, vec_id, cos_sim FROM rk WHERE r <= 3
            |ORDER BY doc_id, cos_sim DESC, vec_id""".stripMargin),
  )

  /** q163 — regexp scalar breadth (q21/q31 use extract_all; this gates
    * the rest of the family): regexp_count, first-match regexp_substr
    * (NULL on no match, normalized to '' — DuckDB's regexp_extract
    * convention), global regexp_replace (Spark replaces all matches by
    * default; DuckDB needs the explicit 'g' flag — THE dialect trap
    * this query pins), and regexp_like as a filter count. Pure per-row
    * projection; one |lang|-sized rollup. */
  val q163 = QuerySpec(
    "q163_regexp_breadth",
    (s, d) => {
      import s.implicits._
      Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"lang",
          regexp_count($"text", lit("data")).cast("long").as("n_data"),
          coalesce(regexp_substr($"text", lit("k[a-z]+")), lit("")).as("first_k"),
          length(regexp_replace($"text", lit("a[a-z]*"), lit("X"))).cast("long")
            .as("replaced_len"),
          when($"text".rlike("vector .* join"), 1L).otherwise(0L).as("has_span"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_data").as("data_mentions"),
          sum(char_length($"first_k").cast("long")).as("first_k_len_sum"),
          sum($"replaced_len").as("replaced_len_sum"),
          sum($"has_span").as("n_span_docs"))
        .orderBy($"lang")
    },
    Some("""SELECT lang, count(*) AS n_docs,
           |  CAST(sum(len(regexp_extract_all(text, 'data'))) AS BIGINT) AS data_mentions,
           |  CAST(sum(len(regexp_extract(text, 'k[a-z]+'))) AS BIGINT) AS first_k_len_sum,
           |  CAST(sum(length(regexp_replace(text, 'a[a-z]*', 'X', 'g'))) AS BIGINT)
           |    AS replaced_len_sum,
           |  CAST(sum(CASE WHEN regexp_matches(text, 'vector .* join') THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_span_docs
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
  )

  /** q168 — binary/digest scalar breadth (the encode→digest→transport
    * chain every media/content pipeline runs): UTF-8 encode, base64 and
    * hex transport encodings with round-trip proof, and the sha256
    * content digest (q33/q73 use md5; this adds the other standard).
    * hex case differs across engines (Spark upper, DuckDB lower) —
    * normalized with lower() on both sides, the kind of dialect pin
    * this suite exists to record. Pure per-row projection, |lang|-sized
    * rollup; the round-trip booleans are counted, so one corrupted
    * byte anywhere in the corpus fails the gate. */
  val q168 = QuerySpec(
    "q168_binary_scalar_breadth",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"lang", $"text",
          // Spark's base64 MIME-chunks at 76 chars with CRLF; DuckDB's
          // to_base64 does not. Strip the chunking (unbase64 accepts
          // both) so the transport string is the canonical form.
          regexp_replace(base64(encode($"text", "UTF-8")), "[\\r\\n]", "").as("b64"),
          lower(hex(encode($"text", "UTF-8"))).as("hx"),
          sha2($"text", 256).as("sha"))
        .select($"lang",
          (decode(unbase64($"b64"), "UTF-8") === $"text").as("b64_ok"),
          (decode(unhex($"hx"), "UTF-8") === $"text").as("hex_ok"),
          char_length($"b64").cast("long").as("b64_len"),
          $"sha")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"b64_ok", 1L).otherwise(0L)).as("n_b64_ok"),
          sum(when($"hex_ok", 1L).otherwise(0L)).as("n_hex_ok"),
          sum($"b64_len").as("b64_len_sum"),
          countDistinct($"sha").as("n_digests"))
        .orderBy($"lang")
    },
    Some("""SELECT lang, count(*) AS n_docs,
           |  CAST(sum(CASE WHEN decode(from_base64(to_base64(encode(text)))) = text
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_b64_ok,
           |  CAST(sum(CASE WHEN decode(unhex(lower(hex(encode(text))))) = text
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_hex_ok,
           |  CAST(sum(length(to_base64(encode(text)))) AS BIGINT) AS b64_len_sum,
           |  count(DISTINCT sha256(text)) AS n_digests
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
  )

  /** q260 — markup strip / boilerplate removal (the first stage of
    * every web-crawl → training-text pipeline): each document is
    * deterministically wrapped in HTML (title, split paragraphs, a
    * literal `&lt;end&gt;` entity), then cleaned by the canonical
    * three-step strip — (1) remove tags `<[^>]+>`, (2) decode entities
    * AFTER stripping (the order pin: decoding first would forge a tag
    * and eat literal angle-bracket text), (3) collapse `\s+` and trim.
    * Construction is invertible, so the gate counts exact round trips:
    * clean must equal `d{id} {text} <end>` for EVERY document, and the
    * oracle re-derives both sides in DuckDB — same regexes, RE2/Java
    * common subset (`<[^>]+>`, `\s+`), global-replace flag pinned.
    * Scale: pure per-row codegen'd string expressions, no shuffle
    * before the per-lang rollup; at 100 TB this is scan-bound, which
    * is exactly what a strip stage should be. */
  val q260 = QuerySpec(
    "q260_markup_strip",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val markup = concat(
        lit("<html><head><title>d"), $"doc_id".cast("string"), lit(" </title>"),
        lit("</head><body class=\"x\"><p>"),
        regexp_replace($"text", " ", " </p><p>"),
        lit("</p> <br/>&lt;end&gt;</body></html>"))
      val stripped = regexp_replace(markup, "<[^>]+>", "")
      val decoded = translateEntities(stripped)
      val clean = trim(regexp_replace(decoded, "\\s+", " "))
      val expected = concat(lit("d"), $"doc_id".cast("string"), lit(" "),
        $"text", lit(" <end>"))
      docs.select($"doc_id", $"lang", clean.as("clean"), expected.as("expected"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          count(when($"clean" === $"expected", 1)).as("n_roundtrip_ok"),
          sum(length($"clean")).as("clean_len_sum"),
          sum(length($"clean") * $"doc_id").as("len_checksum"))
        .orderBy($"lang")
    },
    Some("""WITH m AS (
           |  SELECT doc_id, lang,
           |    '<html><head><title>d' || CAST(doc_id AS VARCHAR) || ' </title>'
           |      || '</head><body class="x"><p>'
           |      || replace(text, ' ', ' </p><p>')
           |      || '</p> <br/>&lt;end&gt;</body></html>' AS markup,
           |    'd' || CAST(doc_id AS VARCHAR) || ' ' || text || ' <end>' AS expected
           |  FROM documents),
           |c AS (
           |  SELECT doc_id, lang, expected,
           |    trim(regexp_replace(
           |      replace(replace(replace(
           |        regexp_replace(markup, '<[^>]+>', '', 'g'),
           |        '&lt;', '<'), '&gt;', '>'), '&amp;', '&'),
           |      '\s+', ' ', 'g')) AS clean
           |  FROM m)
           |SELECT lang, count(*) AS n_docs,
           |  CAST(count(CASE WHEN clean = expected THEN 1 END) AS BIGINT)
           |    AS n_roundtrip_ok,
           |  CAST(sum(length(clean)) AS BIGINT) AS clean_len_sum,
           |  CAST(sum(length(clean) * doc_id) AS BIGINT) AS len_checksum
           |FROM c GROUP BY lang ORDER BY lang""".stripMargin),
  )

  /** Entity decode shared by q260: strip-order-sensitive, so it lives
    * as ONE expression both call sites agree on. `&amp;` last — decoding
    * it first would double-decode `&amp;lt;`. */
  private def translateEntities(c: org.apache.spark.sql.Column) =
    regexp_replace(regexp_replace(regexp_replace(c,
      "&lt;", "<"), "&gt;", ">"), "&amp;", "&")

  /** q261 — byte-pair census (the counting pass of one BPE-training
    * iteration): every adjacent character pair in the first 64 chars of
    * each document (the clip bounds the 63× generator fan-out — the
    * same cost ceiling a real tokenizer trainer puts on per-doc work),
    * counted globally, top 20 by frequency with lexicographic
    * tiebreak. `transform(sequence(...))` + explode keeps the pair
    * generation inside codegen — no UDF, no intermediate string array
    * materialized on the driver. Scale: the pair domain is tiny (charset²),
    * so the groupBy partial-aggregates to almost nothing map-side; the
    * top-k is a dimension-sized sort. The oracle mirrors with
    * list_transform/unnest. */
  val q261 = QuerySpec(
    "q261_bpe_pair_census",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(substring($"text", 1, 64).as("t"))
        .filter(length($"t") >= 2)
        .select(explode(expr(
          "transform(sequence(1, char_length(t) - 1), i -> substring(t, i, 2))"))
          .as("pair"))
        .groupBy($"pair").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"pair")
        .limit(20)
    },
    Some("""WITH t AS (
           |  SELECT substr(text, 1, 64) AS t FROM documents
           |  WHERE length(substr(text, 1, 64)) >= 2),
           |p AS (
           |  SELECT unnest(list_transform(generate_series(1, length(t) - 1),
           |    i -> substr(t, i, 2))) AS pair
           |  FROM t)
           |SELECT pair, count(*) AS cnt FROM p GROUP BY pair
           |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin),
  )

  /** q463 — multi-round BPE TRAINER (q261 computes the pair census of
    * round 1; this runs the full loop): 8 merge rounds over the corpus
    * word census, emitting the trained merge table — the tokenizer-
    * training half of the LLM brief whose artifacts q31/q390 consume
    * downstream. Round r: adjacent-pair census weighted by word
    * frequency → argmax pair (cnt desc, lexicographic tiebreak — fully
    * deterministic) → greedy left-to-right merge applied in-row to
    * every word's symbol array via a string-encoded `aggregate` fold
    * (codegen'd; no UDF). Scale: the corpus is touched ONCE (the word
    * census — group-by-word collapses 100 TB of text to a vocab-sized
    * frame); all 8 rounds loop over the persisted vocab frame
    * (q236/q310's driver-loop discipline: persist per round, unpersist
    * the previous), each round one pair-census aggregate over ≤11
    * pairs/word and one in-row rewrite. Words clip to 12 chars — the
    * per-word cost ceiling a real trainer sets. The oracle replays all
    * 8 rounds as a chained CTE whose merge application is the SAME
    * greedy fold (list_reduce over the same string encoding), so the
    * learned rules must agree exactly. */
  /** q463/q468's shared trainer: runs up to `R` BPE merge rounds over
    * the corpus word census and returns (merge rows, final word frame).
    * The returned frame is PERSISTED — callers unpersist it. */
  private[graft] def bpeTrainRounds(s: SparkSession, d: String, R: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
      import s.implicits._
      val words0 = Tables.documents(s, d)
        .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("u"))
        .select(substring($"u", 1, 12).as("w"))
        .groupBy($"w").agg(count(lit(1)).as("freq"))
        .select(expr(
          "transform(sequence(1, char_length(w)), i -> substring(w, i, 1))")
          .as("syms"), $"freq")
      var words = words0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val merges = scala.collection.mutable.ListBuffer[(Int, String, String, String, Long)]()
      try {
        var exhausted = false
        for (r <- 1 to R if !exhausted) {
          // Pair census: 1-char words carry no pairs; the size guard also
          // dodges Spark's DESCENDING sequence(1, 0) corner.
          val top = words.filter(size($"syms") >= 2)
            .select(explode(expr(
              """transform(sequence(1, size(syms) - 1),
                | i -> named_struct('a', element_at(syms, i),
                |                   'b', element_at(syms, i + 1)))"""
                .stripMargin.replaceAll("\n", ""))).as("p"), $"freq")
            .groupBy($"p.a".as("a"), $"p.b".as("b"))
            .agg(sum($"freq").as("cnt"))
            .orderBy($"cnt".desc, $"a", $"b")
            .limit(1).collect().headOption
          // A tiny/degenerate corpus can run out of pairs before round R
          // (every word fused to one symbol) — a real trainer stops
          // there; the oracle's CTE chain mirrors it (an empty census
          // CTE empties every later round's merge row). Round8EdgeSpec
          // pins the no-crash path.
          if (top.isEmpty) { exhausted = true }
          else {
          val t = top.get
          val (a, b, cnt) = (t.getString(0), t.getString(1), t.getLong(2))
          merges += ((r, a, b, a + b, cnt))
          // Greedy left-to-right merge, as a left fold over the symbol
          // array with a \x1f-separated string accumulator (symbols are
          // [a-z]+ by construction, so the literals inline safely and
          // the separator can't collide). Single-symbol words fold over
          // an empty slice and pass through as their seed.
          val applied = words.select(split(expr(
            s"""aggregate(slice(syms, 2, size(syms) - 1), element_at(syms, 1),
               | (acc, x) -> CASE WHEN x = '$b'
               |   AND regexp_extract(acc, concat('[^', char(31), ']+', '$$'), 0) = '$a'
               |  THEN concat(substring(acc, 1, char_length(acc) - ${a.length}), '${a + b}')
               |  ELSE concat(acc, char(31), x) END)"""
              .stripMargin.replaceAll("\n", "")), "").as("syms"), $"freq")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          applied.count()
          words.unpersist()
          words = applied
          }
        }
        (merges.toList, words)
      } catch { case e: Throwable => words.unpersist(); throw e }
  }

  /** The 8-round oracle CTE chain shared by q463 (merge table) and q468
    * (encode readout) — callers append their own final SELECT over the
    * m1..m8 rule rows and the w8 encoded word frame. */
  private def sqlBpeCtes: String = {
      val R = 8
      val words =
        """words AS (SELECT w, count(*) AS freq FROM (
          |  SELECT substr(u, 1, 12) AS w FROM (
          |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS u
          |    FROM documents)) GROUP BY w),
          |w0 AS (SELECT list_transform(generate_series(1, length(w)),
          |  i -> substr(w, i, 1)) AS syms, freq FROM words)""".stripMargin
      // Each w$r is MATERIALIZED: the exhaustion fallback makes every
      // round reference its parent TWICE (merged branch + pass-through),
      // and DuckDB inlines CTEs by default — 2^rounds leaf scans without
      // the pin (q477's oracle hit the same blowup). The pass-through
      // UNION branch fires only when m$r is EMPTY (pair-exhausted tiny
      // corpus): the Scala trainer stops merging there and q468's encode
      // readout sums the LAST real frame, so the oracle must carry
      // w${"$"}{r-1} forward instead of cross-joining it against an empty
      // rule row (which would empty every later round and NULL the
      // readout).
      val rounds = (1 to R).map { r =>
        s"""c$r AS (SELECT p.a AS a, p.b AS b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
           |  SELECT unnest(list_transform(generate_series(1, len(syms) - 1),
           |    i -> struct_pack(a := syms[i], b := syms[i+1]))) AS p, freq
           |  FROM w${r - 1}) GROUP BY 1, 2),
           |m$r AS (SELECT a AS ma, b AS mb, a || b AS mm, cnt FROM c$r
           |  ORDER BY cnt DESC, a, b LIMIT 1),
           |w$r AS MATERIALIZED (
           |  SELECT string_split(list_reduce(syms, (acc, x) ->
           |    CASE WHEN x = mb AND regexp_extract(acc, '[^\\x1f]+$$') = ma
           |      THEN substr(acc, 1, length(acc) - length(ma)) || mm
           |      ELSE acc || chr(31) || x END), chr(31)) AS syms, freq
           |  FROM w${r - 1}, m$r
           |  UNION ALL
           |  SELECT syms, freq FROM w${r - 1}
           |  WHERE NOT EXISTS (SELECT 1 FROM m$r))""".stripMargin
      }.mkString(",\n")
      s"WITH $words,\n$rounds"
  }

  val q463 = QuerySpec(
    "q463_bpe_train_merges",
    (s, d) => {
      import s.implicits._
      val (merges, words) = bpeTrainRounds(s, d, 8)
      words.unpersist()
      s.createDataFrame(merges)
        .toDF("merge_round", "l_sym", "r_sym", "merged", "pair_cnt")
        .orderBy($"merge_round")
    },
    Some {
      val union = (1 to 8).map { r =>
        s"SELECT CAST($r AS INT) AS merge_round, ma AS l_sym, mb AS r_sym, mm AS merged, cnt AS pair_cnt FROM m$r"
      }.mkString("\nUNION ALL ")
      s"$sqlBpeCtes\nSELECT * FROM (\n$union) ORDER BY merge_round"
    },
  )

  /** q468 — BPE ENCODE with the trained merges (the consumer half of
    * q463, closing the tokenizer lifecycle: train -> encode -> budget
    * readout): the corpus word census re-encoded under all 8 learned
    * merges, reported as the exact corpus token budget — words, chars
    * (= char-level token baseline), BPE tokens, and the ppm saved by
    * the merge table. This is THE number a tokenizer change is judged
    * by before anyone retrains on 100 TB. Same scale shape as q463
    * (corpus touched once for the census; rounds loop over the vocab
    * frame); the readout is one vocab-frame aggregate, all exact
    * integers. Oracle: the shared 8-round CTE chain aggregated at w8 —
    * training AND encoding must agree end-to-end. */
  val q468 = QuerySpec(
    "q468_bpe_encode_ratio",
    (s, d) => {
      import s.implicits._
      val (merges, words) = bpeTrainRounds(s, d, 8)
      try {
        Eager(words.agg(
          sum($"freq").as("n_words"),
          sum($"freq" * expr(
            "aggregate(syms, 0, (a, x) -> a + char_length(x))")).as("n_chars"),
          sum($"freq" * size($"syms")).as("bpe_tokens"))
          .select($"n_words", $"n_chars", $"bpe_tokens",
            lit(merges.size).cast("int").as("n_merges"),
            expr("(n_chars - bpe_tokens) * 1000000L div n_chars")
              .as("saved_ppm")))
      } finally { words.unpersist(); () }
    },
    // n_merges counts the rule rows that actually materialized (= the
    // rounds the Scala trainer ran before exhaustion), never a literal 8.
    Some(s"""$sqlBpeCtes,
            |nm AS (SELECT CAST(count(*) AS INT) AS n_merges FROM (
            |  ${(1 to 8).map(r => s"SELECT 1 FROM m$r").mkString(" UNION ALL ")}))
            |SELECT CAST(sum(freq) AS BIGINT) AS n_words,
            |  CAST(sum(freq * list_reduce(list_prepend(0,
            |    list_transform(syms, x -> length(x))), (a, b) -> a + b)) AS BIGINT) AS n_chars,
            |  CAST(sum(freq * len(syms)) AS BIGINT) AS bpe_tokens,
            |  (SELECT n_merges FROM nm) AS n_merges,
            |  CAST((sum(freq * list_reduce(list_prepend(0,
            |      list_transform(syms, x -> length(x))), (a, b) -> a + b))
            |    - sum(freq * len(syms))) * 1000000
            |    // sum(freq * list_reduce(list_prepend(0,
            |      list_transform(syms, x -> length(x))), (a, b) -> a + b)) AS BIGINT) AS saved_ppm
            |FROM w8""".stripMargin),
  )

  /** q390 — tokenizer fertility audit per language: how many BPE-ish
    * pre-tokens (q31's `[a-z]+|[0-9]|[^a-z0-9\s]` pattern) the corpus
    * yields per character and per whitespace word, by language. The
    * standard "how expensive is this language to train on" readout —
    * high fertility (tokens/char) means the tokenizer fragments the
    * language and its effective context window shrinks. All counters
    * are per-row array sizes (no explode — the census never leaves the
    * row), ONE #langs-row aggregate; ratios are exact integer ppm.
    * Scale note: sum(bpe)·10⁶ stays in int64 up to ~9·10¹² tokens
    * (≈37 TB of text) per language group; beyond that the planner
    * shards the ppm per source and recombines, or widens to decimal. */
  val q390 = QuerySpec(
    "q390_tokenizer_fertility",
    (s, d) => {
      import s.implicits._
      val w = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"lang",
          length($"text").as("chars"),
          size(filter(tokens($"text"), t => char_length(t) > 0)).as("ws"),
          size(regexp_extract_all(lower($"text"),
            lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0))).as("bpe"))
      w.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"chars").as("n_chars"),
          sum($"ws").as("ws_tokens"),
          sum($"bpe").as("bpe_tokens"))
        // nullif guards: an all-empty-text language group has zero chars/
        // words; DuckDB's // yields NULL there while ANSI div would throw.
        .select($"lang", $"n_docs", $"n_chars", $"ws_tokens", $"bpe_tokens",
          expr("bpe_tokens * 1000000 div nullif(n_chars, 0)").as("fertility_ppm"),
          expr("bpe_tokens * 1000000 div nullif(ws_tokens, 0)").as("bpe_per_ws_ppm"))
        .orderBy($"lang")
    },
    Some("""WITH w AS (SELECT lang, length(text) AS chars,
           |  len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0)) AS ws,
           |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS bpe
           |  FROM documents)
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(chars) AS BIGINT) AS n_chars,
           |  CAST(sum(ws) AS BIGINT) AS ws_tokens,
           |  CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
           |  CAST(sum(bpe) * 1000000 // nullif(sum(chars), 0) AS BIGINT) AS fertility_ppm,
           |  CAST(sum(bpe) * 1000000 // nullif(sum(ws), 0) AS BIGINT) AS bpe_per_ws_ppm
           |FROM w GROUP BY lang ORDER BY lang""".stripMargin),
  )

  /** q408 — content-safety lexicon gate: the moderation funnel every
    * training-data pipeline runs before anything else — per source,
    * how many docs a term denylist BLOCKS (≥3 hits), sends to REVIEW
    * (1–2 hits), and the hit density per token. The denylist here is a
    * 3-term stand-in (broadcast-literal — in production a dim table
    * broadcast the same way); hits are an in-row filtered-array count,
    * so the corpus is scanned once with no explode and the rollup is a
    * |sources|-row frame. Thresholded two-tier actions (block/review)
    * rather than a single boolean because that IS the production shape:
    * reviewers see the gray zone, the gate only hard-drops the tail. */
  val q408 = QuerySpec(
    "q408_content_safety_gate",
    (s, d) => {
      import s.implicits._
      val h = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"source",
          size(filter(tokens($"text"), t => char_length(t) > 0)).as("n_tok"),
          expr("""size(filter(filter(split(lower(text), '\\s+'), x -> char_length(x) > 0),
                 |  x -> array_contains(array('spark', 'merge', 'dup'), x)))""".stripMargin)
            .as("hits"))
      h.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"hits" >= 3, 1L).otherwise(0L)).as("n_blocked"),
          sum(when($"hits".between(1, 2), 1L).otherwise(0L)).as("n_review"),
          sum($"hits").as("n_hits"),
          expr("sum(hits) * 1000000 div nullif(sum(n_tok), 0)").as("hit_token_ppm"))
        .orderBy($"source")
    },
    Some("""WITH toks AS (SELECT doc_id, source,
           |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS t
           |  FROM documents),
           |h AS (SELECT doc_id, source, len(t) AS n_tok,
           |        len(list_filter(t, x -> list_contains(['spark', 'merge', 'dup'], x))) AS hits
           |      FROM toks)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(count(*) FILTER (WHERE hits >= 3) AS BIGINT) AS n_blocked,
           |  CAST(count(*) FILTER (WHERE hits BETWEEN 1 AND 2) AS BIGINT) AS n_review,
           |  CAST(sum(hits) AS BIGINT) AS n_hits,
           |  CAST(sum(hits) * 1000000 // nullif(sum(n_tok), 0) AS BIGINT) AS hit_token_ppm
           |FROM h GROUP BY source ORDER BY source""".stripMargin),
  )

  /** q416 — Zipf rank-frequency audit over the 3-shingle vocabulary:
    * frequency at ranks 1,2,4,…,512 plus the halving ratio
    * freq(2r)/freq(r) in ppm — natural language reads ≈500000 (Zipf's
    * s≈1), templated/synthetic corpora read ≈10⁶ (flat head, exactly
    * what this corpus shows). The "does this source look like language
    * or like boilerplate" pre-ingest screen. One vocabulary-sized
    * count, a global top-1024 via TakeOrdered (never a full sort), the
    * checkpoint math on a 10-row frame. */
  val q416 = QuerySpec(
    "q416_zipf_rank_audit",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val f = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select(tokens($"text").as("t"))
        .filter(size($"t") >= 3)
        .select(explode(shingles3("t")).as("g"))
        .groupBy($"g").agg(count(lit(1)).as("n"))
      val top = f.orderBy($"n".desc, $"g").limit(1024)
        .withColumn("r", row_number().over(Window.orderBy($"n".desc, $"g")))
      val ck = s.createDataFrame(Seq(1, 2, 4, 8, 16, 32, 64, 128, 256, 512)
        .map(Tuple1(_))).toDF("rank")
      val doubled = top.filter($"r" % 2 === 0)
        .select(expr("r div 2").cast("int").as("rank"), $"n".as("n2"))
      ck.join(broadcast(top.select($"r".as("rank"), $"n".as("freq"))), Seq("rank"))
        .join(broadcast(doubled), Seq("rank"), "left")
        .select($"rank".cast("long").as("rank"), $"freq",
          expr("n2 * 1000000 div freq").as("halving_ratio_ppm"))
        .orderBy($"rank")
    },
    Some("""WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM documents),
           |sh AS (SELECT unnest(list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
           |       FROM toks WHERE len(t) >= 3),
           |f AS (SELECT g, count(*) AS n FROM sh GROUP BY g),
           |top AS (SELECT g, n, row_number() OVER (ORDER BY n DESC, g) AS r FROM f
           |        ORDER BY n DESC, g LIMIT 1024),
           |ck AS (SELECT unnest([1,2,4,8,16,32,64,128,256,512]) AS r)
           |SELECT CAST(ck.r AS BIGINT) AS rank, CAST(a.n AS BIGINT) AS freq,
           |  CAST(b.n * 1000000 // a.n AS BIGINT) AS halving_ratio_ppm
           |FROM ck JOIN top a ON a.r = ck.r LEFT JOIN top b ON b.r = 2 * ck.r
           |ORDER BY rank""".stripMargin),
  )

  /** q425 — Burrows' Delta stylometric distance between sources: the
    * standard authorship/register screen (Burrows 2002) — for the
    * corpus's 30 most frequent words, z-score each source's relative
    * word frequency across sources, and score every source pair by the
    * mean absolute z difference. Near-zero delta between two "distinct"
    * sources is the crawl-dedup smell (same upstream feed under two
    * names). Determinism: per-source shares are exact integer ppm;
    * μ/σ/z derive from exact BIGINT Σx/Σx² with the SAME double
    * operand tree on both engines, and z quantizes to micro BEFORE the
    * pair algebra, so the pair sums are pure integers. Scale: one
    * corpus-sized token aggregate → a 30-word broadcast vocabulary →
    * all remaining frames are (sources × 30) or (source-pairs)-sized. */
  val q425 = QuerySpec(
    "q425_burrows_delta",
    (s, d) => {
      import s.implicits._
      val toks = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"source", explode(tokens($"text")).as("w"))
        .filter(length($"w") > 0)
      val vocab = toks.groupBy($"w").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"w").limit(30)
        .select($"w")
      val perSrc = toks.groupBy($"source").agg(count(lit(1)).as("tot"))
      val cnt = toks.join(broadcast(vocab), "w")
        .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
      // Dense (source × word) grid: absent cells are real zeros.
      val grid = perSrc.crossJoin(broadcast(vocab))
        .join(cnt, Seq("source", "w"), "left")
        .select($"source", $"w",
          expr("coalesce(c, 0L) * 1000000L div tot").as("x"))
      val stats = grid.groupBy($"w")
        .agg(count(lit(1)).as("m"), sum($"x").as("sx"),
          sum($"x" * $"x").as("sxx"))
        // greatest(m−1, 1) + nullif(σ, 0) guard the degenerates (one
        // source, or a word with identical share everywhere): σ=0 → z
        // NULL on BOTH engines instead of NaN (which Spark would cast
        // to 0 and DuckDB would refuse to cast at all).
        .select($"w",
          (expr("CAST(sx AS DOUBLE)") / $"m").as("mu"),
          sqrt((expr("CAST(sxx AS DOUBLE)")
            - expr("CAST(sx AS DOUBLE)") * expr("CAST(sx AS DOUBLE)") / $"m")
            / greatest($"m" - 1, lit(1L))).as("sigma"))
      val z = grid.join(broadcast(stats), "w")
        .select($"source", $"w",
          floor(lit(1000000.0) * (($"x" - $"mu") / nullif($"sigma", lit(0.0))))
            .cast("long").as("z_micro"))
      z.as("a").join(broadcast(z.as("b")),
          $"a.w" === $"b.w" && $"a.source" < $"b.source")
        .groupBy($"a.source".as("src_a"), $"b.source".as("src_b"))
        .agg(count(lit(1)).as("n_words"),
          expr("sum(abs(a.z_micro - b.z_micro)) div count(1)").as("delta_micro"))
        .orderBy($"src_a", $"src_b")
    },
    Some("""WITH toks AS (
           |  SELECT source, unnest(list_filter(
           |    regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0)) AS w
           |  FROM documents),
           |vocab AS (SELECT w FROM (
           |    SELECT w, count(*) AS n FROM toks GROUP BY w
           |    ORDER BY n DESC, w LIMIT 30)),
           |per_src AS (SELECT source, count(*) AS tot FROM toks GROUP BY source),
           |cnt AS (SELECT source, w, count(*) AS c FROM toks
           |  JOIN vocab USING (w) GROUP BY 1, 2),
           |grid AS (SELECT p.source, v.w,
           |    coalesce(c.c, 0) * 1000000 // p.tot AS x
           |  FROM per_src p CROSS JOIN vocab v
           |  LEFT JOIN cnt c ON c.source = p.source AND c.w = v.w),
           |stats AS (SELECT w, count(*) AS m,
           |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx
           |  FROM grid GROUP BY w),
           |z AS (SELECT g.source, g.w,
           |    CAST(floor(1000000.0 * ((g.x - CAST(sx AS DOUBLE) / m)
           |      / nullif(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / m)
           |             / greatest(m - 1, 1)), 0.0))) AS BIGINT) AS z_micro
           |  FROM grid g JOIN stats USING (w))
           |SELECT a.source AS src_a, b.source AS src_b,
           |  count(*) AS n_words,
           |  CAST(sum(abs(a.z_micro - b.z_micro)) // count(*) AS BIGINT) AS delta_micro
           |FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
           |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin),
  )

  /** q443 — language-ID classifier quality: per-class precision /
    * recall / F1 of q29's lexicon predictor against the labeled lang
    * column — the eval readout that turns q29's confusion matrix into
    * a deployment decision ("which languages can the cheap heuristic
    * route, which need the model"). tp/fp/fn from one (lang, predicted)
    * frame; precision/recall in exact ppm, F1 = 2pr/(p+r) in exact
    * milli computed from the ppm integers (identical integer div
    * chains on both engines). Everything after q29's token join is
    * |langs|²-sized. */
  val q443 = QuerySpec(
    "q443_langid_prf",
    (s, d) => {
      import s.implicits._
      val docs = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
      val lex = lexicon.toDF("w", "lg")
      val tok = docs.select($"doc_id", explode(tokens($"text")).as("w"))
      val hits = tok.join(broadcast(lex), "w")
        .groupBy($"doc_id", $"lg").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy($"doc_id").orderBy($"n".desc, $"lg")
      val best = hits.withColumn("rn", row_number().over(w))
        .filter($"rn" === 1).select($"doc_id", $"lg")
      val cm = docs.select($"doc_id", $"lang")
        .join(best, Seq("doc_id"), "left")
        .select($"lang", coalesce($"lg", lit("und")).as("predicted"))
        .groupBy($"lang", $"predicted").agg(count(lit(1)).as("n"))
      val tp = cm.filter($"lang" === $"predicted")
        .select($"lang".as("cls"), $"n".as("tp"))
      val act = cm.groupBy($"lang".as("cls")).agg(sum($"n").as("actual"))
      val prd = cm.groupBy($"predicted".as("cls")).agg(sum($"n").as("pred"))
      act.join(prd, Seq("cls"), "full_outer")
        .join(tp, Seq("cls"), "left")
        .na.fill(0L, Seq("tp", "actual", "pred"))
        .select($"cls", $"tp", $"actual".as("n_actual"), $"pred".as("n_predicted"),
          expr("tp * 1000000L div nullif(pred, 0L)").as("precision_ppm"),
          expr("tp * 1000000L div nullif(actual, 0L)").as("recall_ppm"))
        .withColumn("f1_milli", expr(
          """2L * precision_ppm * recall_ppm div
            | nullif(precision_ppm + recall_ppm, 0L) div 1000L"""
            .stripMargin.replaceAll("\n", "")))
        .orderBy($"cls")
    },
    Some(s"""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS w FROM documents),
            |lex AS (SELECT * FROM (VALUES $lexiconSqlValues) t(w, lg)),
            |hits AS (SELECT doc_id, lg, count(*) AS n FROM tok JOIN lex USING (w) GROUP BY doc_id, lg),
            |best AS (SELECT doc_id, lg, row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, lg) AS rn FROM hits),
            |cm AS (SELECT lang, predicted, count(*) AS n FROM (
            |    SELECT d.lang, coalesce(b.lg, 'und') AS predicted
            |    FROM documents d LEFT JOIN (SELECT doc_id, lg FROM best WHERE rn = 1) b USING (doc_id))
            |  GROUP BY 1, 2),
            |tp AS (SELECT lang AS cls, CAST(n AS BIGINT) AS tp FROM cm WHERE lang = predicted),
            |act AS (SELECT lang AS cls, CAST(sum(n) AS BIGINT) AS actual FROM cm GROUP BY 1),
            |prd AS (SELECT predicted AS cls, CAST(sum(n) AS BIGINT) AS pred FROM cm GROUP BY 1),
            |j AS (SELECT coalesce(act.cls, prd.cls) AS cls,
            |    coalesce(tp.tp, 0) AS tp, coalesce(act.actual, 0) AS actual,
            |    coalesce(prd.pred, 0) AS pred
            |  FROM act FULL OUTER JOIN prd ON act.cls = prd.cls
            |  LEFT JOIN tp ON tp.cls = coalesce(act.cls, prd.cls))
            |SELECT cls, tp, actual AS n_actual, pred AS n_predicted,
            |  CAST(tp * 1000000 // nullif(pred, 0) AS BIGINT) AS precision_ppm,
            |  CAST(tp * 1000000 // nullif(actual, 0) AS BIGINT) AS recall_ppm,
            |  CAST(2 * (tp * 1000000 // nullif(pred, 0)) * (tp * 1000000 // nullif(actual, 0))
            |    // nullif((tp * 1000000 // nullif(pred, 0)) + (tp * 1000000 // nullif(actual, 0)), 0)
            |    // 1000 AS BIGINT) AS f1_milli
            |FROM j ORDER BY cls""".stripMargin),
  )

  /** q491 — sliding-window RAG chunker + cross-document boilerplate
    * census: every document split into fixed 256-char windows at
    * stride 192 (64-char overlap, the standard retrieval-chunk shape —
    * overlap so no fact straddling a boundary is lost to BOTH
    * neighbors), chunks identified by md5, and the chunk store
    * deduplicated per language — n_chunks vs distinct hashes, plus the
    * BOILERPLATE count (hashes appearing in >1 document: headers,
    * licence blocks, templated intros — the rot a RAG store indexes
    * once, not per page). Offsets come from an in-row
    * sequence→transform→explode (codegen, no join, no UDF); a
    * zero-length doc contributes no chunks but still counts as a doc.
    * Scale: per-doc work is |text|-linear and partition-local — the
    * only shuffle is the (lang, hash)-keyed census, map-side combined;
    * chunk text itself never leaves the row (only its 32-byte hash
    * shuffles), which is what keeps a 100 TB corpus chunk-dedup
    * IO-bound on the scan, not the exchange. */
  /** The fixed 256/192 sliding-window chunker shared by q491 and the
    * streaming chunk store (q492): (doc_id, lang, text) → one row per
    * chunk, identified by md5 — the chunk text itself never leaves the
    * row. A zero-length doc contributes no chunk rows. */
  private[graft] def chunkRows(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", $"lang", length($"text").as("len"), $"text")
      .filter($"len" > 0)
      .select($"doc_id", $"lang", explode(expr(
        """transform(sequence(0, CAST((len - 1) div 192 AS INT)),
          |  i -> md5(substring(text, i * 192 + 1, 256)))""".stripMargin))
        .as("h"))
  }

  /** The same 256/192 windows kept as TOKEN LISTS instead of hashes —
    * (doc_id, ck, t) with ck the chunk ordinal — for passage-level
    * retrieval (q494): window boundaries deliberately cut mid-word
    * (the naive-chunker reality both engines reproduce byte-for-byte
    * via identical substring semantics). */
  private[graft] def chunkTokens(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", length($"text").as("len"), $"text")
      .filter($"len" > 0)
      .select($"doc_id", posexplode(expr(
        """transform(sequence(0, CAST((len - 1) div 192 AS INT)),
          |  i -> substring(text, i * 192 + 1, 256))""".stripMargin)))
      .select($"doc_id", $"pos".as("ck"),
        filter(tokens($"col"), t => char_length(t) > 0).as("t"))
  }

  /** q491's census over a chunk frame (doc_id, lang, h) + a per-lang
    * doc count frame — factored so the streaming store's probe (q492)
    * computes the identical readout from its maintained files. */
  private[graft] def chunkCensus(
      ch: org.apache.spark.sql.DataFrame,
      dc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import ch.sparkSession.implicits._
    val perHash = ch.groupBy($"lang", $"h")
      .agg(count(lit(1)).as("n"), countDistinct($"doc_id").as("nd"))
    val langAgg = perHash.groupBy($"lang")
      .agg(sum($"n").as("n_chunks"),
        count(lit(1)).as("n_unique"),
        sum(when($"nd" > 1, 1L).otherwise(0L)).as("n_boiler"))
    dc.join(langAgg, Seq("lang"))
      .select($"lang", $"n_docs", $"n_chunks", $"n_unique", $"n_boiler",
        expr("(n_chunks - n_unique) * 1000000L div n_chunks").as("dup_ppm"))
      .orderBy($"lang")
  }

  val q491 = QuerySpec(
    "q491_rag_chunk_dedup",
    (s, d) => {
      import s.implicits._
      val docs = graft.Tables.documents(s, d)
        .select($"doc_id", $"lang", $"text")
      chunkCensus(chunkRows(docs),
        docs.groupBy($"lang").agg(count(lit(1)).as("n_docs")))
    },
    Some("""WITH d AS (SELECT doc_id, lang, text, length(text) AS len
           |    FROM documents),
           |ch AS (SELECT doc_id, lang,
           |    md5(substr(text, CAST(i * 192 + 1 AS BIGINT), 256)) AS h
           |  FROM (SELECT doc_id, lang, text,
           |      unnest(range(0, (len - 1) // 192 + 1)) AS i
           |    FROM d WHERE len > 0)),
           |hh AS (SELECT lang, h, count(*) AS n,
           |    count(DISTINCT doc_id) AS nd FROM ch GROUP BY 1, 2),
           |la AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_chunks,
           |    CAST(count(*) AS BIGINT) AS n_unique,
           |    CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_boiler
           |  FROM hh GROUP BY 1),
           |dc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
           |  FROM d GROUP BY 1)
           |SELECT lang, n_docs, n_chunks, n_unique, n_boiler,
           |  CAST((n_chunks - n_unique) * 1000000 // n_chunks AS BIGINT)
           |    AS dup_ppm
           |FROM dc JOIN la USING (lang) ORDER BY lang""".stripMargin),
  )

  /** q492 — the RAG chunk store maintained BY the stream (q491's
    * chunker as continuous ingest; the q372/q375/q479 foreachBatch
    * discipline applied to a fourth maintained artifact): epoch-1
    * documents arrive as a rate-limited file stream, every micro-batch
    * appending its hash-bucketed chunk rows + per-batch doc census
    * under the batch's OWN batch_id partition with dynamic overwrite —
    * chunk rows carry count mass, so a replayed plain append would
    * double-count (see [[graft.streaming.StreamChunkStore]]).
    * Kill-and-restart exactly-once is pinned by Round9EdgeSpec.
    * Oracle = q491's from-scratch census over the full corpus:
    * stream-maintained ≡ rebuilt. */
  val q492 = QuerySpec(
    "q492_stream_chunk_store",
    (s, d) => graft.streaming.StreamChunkStore.runOnce(s, d),
    q491.oracle,
  )

  val all: Seq[QuerySpec] = Seq(q29, q30, q31, q32, q33, q34, q36, q45, q73, q78,
    q111, q163, q168, q260, q261, q390, q408, q416, q425, q443, q463, q468,
    q491, q492)
}
