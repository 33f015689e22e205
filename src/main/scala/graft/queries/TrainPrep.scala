package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Training-data preparation operators (driver north-star: the ops a
  * large-scale LLM data pipeline runs between raw corpus and tokenizer,
  * beyond dedup/similarity which live in NearDup/LlmOps): deterministic
  * corpus splitting, text normalization, and eval-set contamination
  * checking. All per-row work is codegen'd built-ins (regexp, substring,
  * higher-order array fns) — no UDFs — so every query here is a narrow
  * scan + cheap shuffle at any scale.
  */
object TrainPrep {

  /** THE train/val/test membership rule — one copy, used by q60 (the
    * split operator) and q100 (the pipeline capstone, whose contract is
    * "q60's thresholds"): bucket = first two hex chars of md5(id),
    * train below 'cd' (≈80%), val below 'e6' (≈10%), else test. */
  private def splitOf(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val bucket = substring(md5(id.cast("string").cast("binary")), 1, 2)
    when(bucket < "cd", "train").when(bucket < "e6", "val").otherwise("test")
  }

  /** q60 — deterministic train/val/test split: bucket = the first two
    * hex chars of md5(doc_id), split at 'cd' (≈80%) and 'e6' (≈10%).
    * Hash-based splits are THE reproducibility primitive for training
    * pipelines: membership is a pure function of the key — stable across
    * reruns, engines, partitionings, and corpus growth (a new doc never
    * moves an old doc's split), where sample()/rand() would reshuffle
    * everything. Emits per-split counts + checksums; the md5 prefix is
    * portable (identical hex in Spark and DuckDB). */
  val q60 = QuerySpec(
    "q60_train_split_hash",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .withColumn("split", splitOf($"doc_id"))
        .groupBy($"split")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_chars").as("chars_sum"),
          sum($"doc_id").as("id_checksum"))
        .orderBy($"split")
    },
    Some("""SELECT split, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
           |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
           |FROM (SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
           |             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
           |             ELSE 'test' END AS split, n_chars, doc_id
           |      FROM documents)
           |GROUP BY split ORDER BY split""".stripMargin),
  )

  /** q61 — text normalization / stopword scrub: drop determiner tokens
    * ("the"/"a") and collapse the whitespace they leave, reporting
    * per-doc removal counts and before/after lengths. The normalize-
    * before-tokenize stage of a data pipeline (PII redaction is the same
    * operator with a different pattern). Pure per-row regexp projection:
    * no shuffle at all except the output sort — embarrassingly parallel
    * at any scale. Patterns stay in the ASCII subset where Java regex
    * (Spark) and RE2 (DuckDB) agree on \b; DuckDB needs the explicit 'g'
    * flag Spark's regexp_replace implies. */
  val q61 = QuerySpec(
    "q61_text_normalize_scrub",
    (s, d) => {
      import s.implicits._
      val pat = "\\b(the|a)\\b"
      val scrubbed = trim(regexp_replace(regexp_replace($"text", pat, ""), "\\s+", " "))
      Tables.documents(s, d)
        .select(
          $"doc_id",
          size(regexp_extract_all($"text", lit(pat), lit(0))).as("n_removed"),
          char_length($"text").as("len_before"),
          char_length(scrubbed).as("len_after"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
           |  CAST(len(regexp_extract_all(text, '\b(the|a)\b')) AS INT) AS n_removed,
           |  CAST(len(text) AS INT) AS len_before,
           |  CAST(len(trim(regexp_replace(regexp_replace(text, '\b(the|a)\b', '', 'g'), '\s+', ' ', 'g'))) AS INT) AS len_after
           |FROM documents ORDER BY doc_id""".stripMargin),
  )

  /** q62 — eval-set contamination check: which corpus docs share char
    * 16-grams with the held-out eval docs (doc_id 1–5)? The benchmark-
    * leakage gate every training pipeline needs before shipping a split.
    * Shape: the eval side's distinct gram set is tiny (eval suites are
    * thousands of docs where the corpus is billions) → broadcast it; the
    * corpus side explodes per-doc distinct grams and semi-joins — one
    * scan, no corpus-side shuffle before the final per-doc count. At
    * 100 TB you'd swap full gram sets for q32's winnowed fingerprints
    * (same join shape, ~1/4 the gram volume); full sets here keep the
    * oracle exact. */
  val q62 = QuerySpec(
    "q62_eval_contamination",
    (s, d) => {
      import s.implicits._
      def grams(df: org.apache.spark.sql.DataFrame) = df
        .filter(char_length($"text") >= 16)
        .select($"doc_id", explode(expr(
          "array_distinct(transform(sequence(1, char_length(text) - 15), i -> substring(text, i, 16)))"
        )).as("g"))
      val docs = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
      val ev = grams(docs.filter($"doc_id".between(1, 5))).select($"g").distinct()
      val corpus = grams(docs.filter(!$"doc_id".between(1, 5)))
      corpus.join(broadcast(ev), Seq("g"), "inner")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_shared_grams"))
        .orderBy($"n_shared_grams".desc, $"doc_id")
        .limit(20)
    },
    Some("""WITH g AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |    generate_series(1, len(text) - 15), i -> substr(text, i, 16)))) AS g
           |  FROM documents WHERE len(text) >= 16),
           |ev AS (SELECT DISTINCT g FROM g WHERE doc_id BETWEEN 1 AND 5),
           |corpus AS (SELECT doc_id, g FROM g WHERE doc_id NOT BETWEEN 1 AND 5)
           |SELECT corpus.doc_id, count(*) AS n_shared_grams
           |FROM corpus JOIN ev USING (g)
           |GROUP BY corpus.doc_id
           |ORDER BY n_shared_grams DESC, doc_id LIMIT 20""".stripMargin),
  )

  /** q63 — repeated-bigram quality signal (the Gopher-style repetition
    * rule: heavily self-repeating documents are low-quality training
    * text): per-doc duplicate word-2-gram fraction
    * (total − distinct) / total. Pure per-row array math — the bigram
    * array never explodes, so nothing shuffles but the output sort. The
    * fraction is a single IEEE division of two exact ints, identical on
    * both engines (q26's jaccard argument). */
  val q63 = QuerySpec(
    "q63_quality_repeat_ngrams",
    (s, d) => {
      import s.implicits._
      // fanOut: "nothing shuffles" also meant nothing PARALLELIZES when
      // the corpus arrives as one parquet split — the whole per-row
      // bigram census ran on one task at 10× bench scale (the
      // q26/q52/q291 single-split lesson).
      Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", graft.functions.TextFns.tokens($"text").as("t"))
        .filter(size($"t") >= 2)
        .select($"doc_id",
          expr("transform(sequence(0, size(t)-2), i -> concat(t[i], ' ', t[i+1]))").as("bg"))
        .select($"doc_id",
          size($"bg").as("n_bigrams"),
          size(array_distinct($"bg")).as("n_distinct"))
        .withColumn("dup_frac",
          round(($"n_bigrams" - $"n_distinct") * lit(1.0) / $"n_bigrams", 4))
        .orderBy($"doc_id")
    },
    Some("""WITH bg AS (SELECT doc_id, list_transform(generate_series(1, len(t)-1),
           |    i -> t[i] || ' ' || t[i+1]) AS bg
           |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM documents)
           |  WHERE len(t) >= 2)
           |SELECT doc_id, CAST(len(bg) AS INT) AS n_bigrams,
           |  CAST(len(list_distinct(bg)) AS INT) AS n_distinct,
           |  round((len(bg) - len(list_distinct(bg))) * 1.0 / len(bg), 4) AS dup_frac
           |FROM bg ORDER BY doc_id""".stripMargin),
  )

  /** q64 — salient terms per doc by integer-scaled tf/df relevance:
    * score_ppm = tf · 10⁶ ÷ df (floor division — exact on both engines,
    * sidestepping cross-engine log()-ulp drift that raw tf·idf would
    * invite), top-2 terms per doc for the first 25 docs. Shape: one
    * explode over tokens, tf and df as two hash aggregates (df is
    * corpus-wide, joined back small-side-broadcast), ranking via a
    * per-doc window — the inverted-index + ranking skeleton of any
    * keyword-extraction pass. */
  val q64 = QuerySpec(
    "q64_tfdf_salient_terms",
    (s, d) => {
      import s.implicits._
      val terms = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", explode(graft.functions.TextFns.tokens($"text")).as("term"))
        .filter(char_length($"term") > 0)
      val tf = terms.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val df = terms.select($"doc_id", $"term").distinct()
        .groupBy($"term").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"score_ppm".desc, $"term")
      tf.join(broadcast(df), "term")
        .withColumn("score_ppm", expr("tf * 1000000L div df"))
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= 2 && $"doc_id" < 25)
        .select($"doc_id", $"rank", $"term", $"tf", $"df", $"score_ppm")
        .orderBy($"doc_id", $"rank")
    },
    Some("""WITH terms AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS term
           |  FROM documents),
           |t2 AS (SELECT doc_id, term FROM terms WHERE len(term) > 0),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM t2 GROUP BY 1, 2),
           |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM t2 GROUP BY 1),
           |scored AS (SELECT doc_id, term, tf, df, tf * 1000000 // df AS score_ppm,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY tf * 1000000 // df DESC, term) AS rank
           |  FROM tf JOIN df USING (term))
           |SELECT doc_id, CAST(rank AS INT) AS rank, term, tf,
           |  CAST(df AS BIGINT) AS df, CAST(score_ppm AS BIGINT) AS score_ppm
           |FROM scored WHERE rank <= 2 AND doc_id < 25
           |ORDER BY doc_id, rank""".stripMargin),
  )

  /** q65 — stratified deterministic sampling: per-language quotas via a
    * salted md5-prefix threshold (en keeps ≈50%, zh ≈25%, the rest
    * ≈12.5%) — how a pipeline rebalances a language-skewed corpus while
    * keeping membership reproducible (same salt+key ⇒ same verdict on
    * every rerun and engine; the salt decorrelates it from q60's split
    * hash). Per-row hash + tiny per-stratum aggregate: no shuffle
    * beyond the group-by. */
  val q65 = QuerySpec(
    "q65_stratified_sample",
    (s, d) => {
      import s.implicits._
      val bucket = substring(
        md5(concat(lit("s:"), $"doc_id".cast("string")).cast("binary")), 1, 2)
      val keep = when($"lang" === "en", bucket < "80")
        .when($"lang" === "zh", bucket < "40")
        .otherwise(bucket < "20")
      Tables.documents(s, d)
        .withColumn("keep", keep)
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_total"),
          count(when($"keep", 1)).as("n_sampled"),
          sum(when($"keep", $"doc_id")).as("sampled_id_checksum"))
        .orderBy($"lang")
    },
    Some("""SELECT lang, count(*) AS n_total,
           |  count(*) FILTER (WHERE keep) AS n_sampled,
           |  CAST(sum(doc_id) FILTER (WHERE keep) AS BIGINT) AS sampled_id_checksum
           |FROM (SELECT lang, doc_id,
           |    CASE WHEN lang = 'en' THEN substr(md5('s:' || CAST(doc_id AS VARCHAR)), 1, 2) < '80'
           |         WHEN lang = 'zh' THEN substr(md5('s:' || CAST(doc_id AS VARCHAR)), 1, 2) < '40'
           |         ELSE substr(md5('s:' || CAST(doc_id AS VARCHAR)), 1, 2) < '20' END AS keep
           |  FROM documents)
           |GROUP BY lang ORDER BY lang""".stripMargin),
  )

  /** q67 — document chunking for training-sample prep: 64-char chunks
    * on a 48-char stride (16-char overlap), the split-long-docs-into-
    * context-windows stage before tokenization. Chunks stay an in-row
    * array (no explode needed for the rollup): per-doc chunk count,
    * total chunked chars (captures the overlap math exactly) and an
    * md5 spot-check of the first chunk. Per-row substring loops —
    * shuffle-free at any scale; real pipelines explode the same array
    * straight into the tokenizer. */
  val q67 = QuerySpec(
    "q67_doc_chunking",
    (s, d) => {
      import s.implicits._
      // Empty doc → ZERO chunks on both engines: Spark's `div` truncates
      // toward zero ((0-1) div 48 = 0 → a phantom empty chunk) while
      // DuckDB's // floors to -1 → an empty series — the IF pins the
      // agreed semantics instead of leaning on the fixture having no
      // empty docs.
      Tables.documents(s, d)
        .select($"doc_id", expr(
          """IF(char_length(text) = 0, cast(array() as array<string>),
            |transform(sequence(0, cast((char_length(text) - 1) div 48 as int)),
            |  i -> substring(text, 1 + i*48, 64)))""".stripMargin
        ).as("ch"))
        .select(
          $"doc_id",
          size($"ch").as("n_chunks"),
          expr("aggregate(ch, 0, (acc, c) -> acc + char_length(c))").as("chunked_chars"),
          // get() is the ANSI-safe 0-based index (null past the end, so a
          // zero-chunk doc yields null, matching DuckDB's ch[1] on []).
          substring(md5(get($"ch", lit(0)).cast("binary")), 1, 8).as("first_chunk_md5"))
        .orderBy($"doc_id")
    },
    Some("""WITH c AS (SELECT doc_id, list_transform(generate_series(0, (len(text) - 1) // 48),
           |    i -> substr(text, 1 + i*48, 64)) AS ch
           |  FROM documents)
           |SELECT doc_id, CAST(len(ch) AS INT) AS n_chunks,
           |  CAST(coalesce(list_aggregate(list_transform(ch, c -> len(c)), 'sum'), 0) AS INT) AS chunked_chars,
           |  substr(md5(ch[1]), 1, 8) AS first_chunk_md5
           |FROM c ORDER BY doc_id""".stripMargin),
  )

  /** q68 — int8 embedding quantization: per-vector min/max affine
    * quantization (the storage-shrink step before shipping vectors to an
    * ANN index — 4× smaller than float32). q_i = round((x_i−min)·255 ∕
    * range), all in-row higher-order array math over doubles whose IEEE
    * evaluation is spelled identically on both engines; round() on a
    * non-negative argument is half-away-from-zero on both. The
    * reconstruction-error gate gets a safety margin so a boundary ulp
    * can't flip it. Constant vectors (range 0) quantize to all-zero. */
  val q68 = QuerySpec(
    "q68_embedding_quantize",
    (s, d) => {
      import s.implicits._
      Tables.fanOut(Tables.embeddings(s, d), col("vec_id"))
        .select($"vec_id", graft.functions.VectorOps.asDouble($"embedding").as("emb"))
        .withColumn("mn", array_min($"emb"))
        .withColumn("rng", array_max($"emb") - $"mn")
        .withColumn("q", expr(
          "transform(emb, x -> IF(rng = 0.0D, 0L, cast(round((x - mn) * 255.0D / rng) as bigint)))"))
        .withColumn("recon_err", expr(
          """aggregate(zip_with(emb, q, (x, qi) ->
            |  abs(x - (mn + qi * rng / 255.0D))), 0.0D, (acc, e) -> greatest(acc, e))""".stripMargin))
        .select(
          $"vec_id",
          size($"emb").as("n_dims"),
          expr("aggregate(q, 0L, (acc, x) -> acc + x)").as("qsum"),
          expr("cast(q[0] as int)").as("q_first"),
          ($"recon_err" <= $"rng" / 255.0 * 0.5000001 + 1e-12).as("recon_ok"))
        .orderBy($"vec_id")
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
           |m AS (SELECT vec_id, emb, list_aggregate(emb, 'min') AS mn,
           |    list_aggregate(emb, 'max') - list_aggregate(emb, 'min') AS rng FROM e),
           |qz AS (SELECT vec_id, emb, mn, rng,
           |    list_transform(emb, x -> CASE WHEN rng = 0.0 THEN 0
           |      ELSE CAST(round((x - mn) * 255.0 / rng) AS BIGINT) END) AS q FROM m)
           |SELECT vec_id, CAST(len(emb) AS INT) AS n_dims,
           |  CAST(list_aggregate(q, 'sum') AS BIGINT) AS qsum,
           |  CAST(q[1] AS INT) AS q_first,
           |  list_aggregate(list_transform(generate_series(1, len(emb)),
           |    i -> abs(emb[i] - (mn + q[i] * rng / 255.0))), 'max')
           |    <= rng / 255.0 * 0.5000001 + 1e-12 AS recon_ok
           |FROM qz ORDER BY vec_id""".stripMargin),
  )

  /** q69 — per-source quota capping (the C4/CC-pipeline "domain cap":
    * no single domain may dominate the training mix): keep at most 20
    * docs per source, chosen by a salted-hash rank so the kept subset is
    * uniform-random yet fully reproducible (same property as q65's rate
    * sample, but with an EXACT per-stratum count — rate sampling can't
    * promise that). One window over (source | hash, doc_id); at scale
    * this is one shuffle on the capped key, and the rank never
    * materializes more than cap rows per group downstream. */
  val q69 = QuerySpec(
    "q69_source_quota_cap",
    (s, d) => {
      import s.implicits._
      val h = md5(concat(lit("q:"), $"doc_id".cast("string")).cast("binary"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy(h.asc, $"doc_id".asc)
      Tables.documents(s, d)
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 20)
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_kept"),
          sum($"doc_id").as("kept_id_checksum"),
          sum($"n_chars").as("kept_chars"))
        .orderBy($"source")
    },
    Some("""SELECT source, count(*) AS n_kept,
           |  CAST(sum(doc_id) AS BIGINT) AS kept_id_checksum,
           |  CAST(sum(n_chars) AS BIGINT) AS kept_chars
           |FROM (SELECT source, doc_id, n_chars,
           |    row_number() OVER (PARTITION BY source
           |      ORDER BY md5('q:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
           |  FROM documents)
           |WHERE rk <= 20 GROUP BY source ORDER BY source""".stripMargin),
  )

  /** q70 — collocation mining by scaled lift (PMI's ratio with the log
    * dropped — log ordering is monotone in the ratio, so top-k by lift
    * IS top-k by PMI, without cross-engine log ulp drift): lift =
    * c_xy · T ∕ (c_x · c_y) over word bigrams, in ppm. The lift is
    * computed in DOUBLE with the multiplication order spelled
    * identically on both engines (identical IEEE ops ⇒ identical
    * doubles ⇒ identical round()): integer ×10⁶ math would overflow
    * Long at corpus scale (T ~ 10¹³ tokens at 100 TB makes
    * c_xy·T·10⁶ exceed 2⁶³ — Spark would wrap silently where DuckDB
    * errors), while doubles carry the magnitude exactly where it
    * matters for ordering. Three hash aggregates (bigram counts,
    * unigram counts, total) + two broadcast joins of the unigram table
    * onto the bigram table — the classic co-occurrence-statistics
    * shape; at 100 TB the unigram side is vocabulary-sized and
    * broadcasts, the bigram table shuffles once on its own key. */
  val q70 = QuerySpec(
    "q70_collocation_lift",
    (s, d) => {
      import s.implicits._
      val toks = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", graft.functions.TextFns.tokens($"text").as("t"))
        .filter(size($"t") >= 2)
      val uni = toks.select(explode($"t").as("w"))
        .groupBy($"w").agg(count(lit(1)).as("c"))
      val total = uni.agg(sum($"c").as("t_total"))
      val bg = toks
        .select(explode(expr(
          "transform(sequence(0, size(t)-2), i -> struct(t[i] AS w1, t[i+1] AS w2))")).as("b"))
        .groupBy($"b.w1", $"b.w2").agg(count(lit(1)).as("c_xy"))
        .filter($"c_xy" >= 5)
      bg
        .join(broadcast(uni.select($"w".as("w1"), $"c".as("c_x"))), Seq("w1"))
        .join(broadcast(uni.select($"w".as("w2"), $"c".as("c_y"))), Seq("w2"))
        .crossJoin(broadcast(total))
        .withColumn("lift_ppm",
          round($"c_xy" * lit(1.0) * $"t_total" * lit(1000000.0) / ($"c_x" * $"c_y")))
        .select(concat($"w1", lit(" "), $"w2").as("bigram"),
          $"c_xy", $"c_x", $"c_y", $"lift_ppm")
        .orderBy($"lift_ppm".desc, $"bigram")
        .limit(20)
    },
    Some("""WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t
           |  FROM documents), t2 AS (SELECT doc_id, t FROM toks WHERE len(t) >= 2),
           |uni AS (SELECT w, count(*) AS c FROM (SELECT unnest(t) AS w FROM t2) GROUP BY w),
           |total AS (SELECT CAST(sum(c) AS BIGINT) AS t_total FROM uni),
           |bg AS (SELECT b['w1'] AS w1, b['w2'] AS w2, count(*) AS c_xy
           |  FROM (SELECT unnest(list_transform(generate_series(1, len(t)-1),
           |      i -> {'w1': t[i], 'w2': t[i+1]})) AS b FROM t2)
           |  GROUP BY 1, 2 HAVING count(*) >= 5)
           |SELECT w1 || ' ' || w2 AS bigram, c_xy,
           |  CAST(x.c AS BIGINT) AS c_x, CAST(y.c AS BIGINT) AS c_y,
           |  round(c_xy * 1.0 * t_total * 1000000.0 / (x.c * y.c)) AS lift_ppm
           |FROM bg JOIN uni x ON bg.w1 = x.w JOIN uni y ON bg.w2 = y.w, total
           |ORDER BY lift_ppm DESC, bigram LIMIT 20""".stripMargin),
  )

  /** q86 — per-doc token concentration (Herfindahl index): Σcᵢ² ·10⁶ ÷
    * (Σcᵢ)² in pure integer arithmetic — a repetition/diversity signal
    * (1e6 = the doc is one token over and over; low = diverse) used as a
    * quality pre-filter beside q63's repeated-bigram fraction. Floor
    * division keeps it exact on both engines (the q64 pattern — no
    * doubles anywhere). One explode + two hash aggregates, map-side
    * combinable; zero-token docs are naturally absent on both sides. */
  val q86 = QuerySpec(
    "q86_token_concentration",
    (s, d) => {
      import s.implicits._
      Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", explode(graft.functions.TextFns.tokens($"text")).as("term"))
        .filter(char_length($"term") > 0)
        .groupBy($"doc_id", $"term").agg(count(lit(1)).as("n"))
        .groupBy($"doc_id")
        .agg(sum($"n").as("n_tokens"), count(lit(1)).as("n_types"),
          expr("sum(n*n) * 1000000L div (sum(n) * sum(n))").as("hhi_ppm"))
        .orderBy($"doc_id")
    },
    Some("""WITH t2 AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS term
           |  FROM documents),
           |t AS (SELECT doc_id, term FROM t2 WHERE len(term) > 0),
           |tc AS (SELECT doc_id, term, count(*) AS n FROM t GROUP BY 1, 2)
           |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens, count(*) AS n_types,
           |  CAST(sum(n*n) * 1000000 // (sum(n) * sum(n)) AS BIGINT) AS hhi_ppm
           |FROM tc GROUP BY doc_id ORDER BY doc_id""".stripMargin),
  )

  /** q87 — vocabulary pruning stats: corpus-wide document frequency and
    * collection frequency per token, classified with SCALE-INVARIANT
    * thresholds (relative to the corpus size, not absolute counts):
    * drop_common when the token appears in ≥70% of docs (stopword),
    * drop_rare when its total count is under 10% of the doc count
    * (likely noise/typo tier), keep otherwise — the vocab-build pass a
    * tokenizer pipeline runs before assigning merges. df's
    * count(DISTINCT) expands per (term, doc) pair — bounded by corpus
    * tokens, partial-aggregated before the shuffle; the 1-row corpus
    * count broadcasts into the comparison. */
  val q87 = QuerySpec(
    "q87_vocab_prune",
    (s, d) => {
      import s.implicits._
      val terms = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", explode(graft.functions.TextFns.tokens($"text")).as("term"))
        .filter(char_length($"term") > 0)
      val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      terms.groupBy($"term")
        .agg(countDistinct($"doc_id").as("df"), count(lit(1)).as("cf"))
        .crossJoin(broadcast(nDocs))
        .select($"term", $"df", $"cf",
          when($"df" * 10 >= $"n_docs" * 7, "drop_common")
            .when($"cf" * 10 < $"n_docs", "drop_rare")
            .otherwise("keep").as("action"))
        .orderBy($"term")
    },
    Some("""WITH t2 AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS term
           |  FROM documents),
           |t AS (SELECT doc_id, term FROM t2 WHERE len(term) > 0),
           |v AS (SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf FROM t GROUP BY term),
           |n AS (SELECT count(*) AS n_docs FROM documents)
           |SELECT term, CAST(df AS BIGINT) AS df, cf,
           |  CASE WHEN df * 10 >= n_docs * 7 THEN 'drop_common'
           |       WHEN cf * 10 < n_docs THEN 'drop_rare'
           |       ELSE 'keep' END AS action
           |FROM v CROSS JOIN n ORDER BY term""".stripMargin),
  )

  /** q88 — quality-filter funnel: per-stage survivor counts for the
    * standard document gauntlet (language allowlist → length band →
    * minimum tokens → type-token-ratio floor), the observability rollup
    * every production filter pipeline emits so a threshold change shows
    * WHERE the corpus went. One scan computes per-doc flags (ratio
    * compared in integers: n_types·1000 ≥ 350·n_tokens ⟺ TTR ≥ 0.35);
    * conditional sums collapse to a 1-row aggregate; stack() unpivots to
    * one row per stage. No shuffle beyond the single agg. */
  val q88 = QuerySpec(
    "q88_quality_filter_funnel",
    (s, d) => {
      import s.implicits._
      val toks = graft.functions.TextFns.tokens($"text")
      val flags = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"lang", $"n_chars",
          size(filter(toks, t => char_length(t) > 0)).as("n_tok"),
          size(array_distinct(filter(toks, t => char_length(t) > 0))).as("n_typ"))
        .select(
          ($"lang".isin("en", "es")).as("f1"),
          ($"n_chars".between(100, 2000)).as("f2"),
          ($"n_tok" >= 30).as("f3"),
          ($"n_typ" * 1000 >= $"n_tok" * 350).as("f4"))
      flags.agg(
          count(lit(1)).as("s0"),
          sum(when($"f1", 1L).otherwise(0L)).as("s1"),
          sum(when($"f1" && $"f2", 1L).otherwise(0L)).as("s2"),
          sum(when($"f1" && $"f2" && $"f3", 1L).otherwise(0L)).as("s3"),
          sum(when($"f1" && $"f2" && $"f3" && $"f4", 1L).otherwise(0L)).as("s4"))
        .select(expr("""stack(5,
          |'0_all', s0, '1_lang', s1, '2_length', s2,
          |'3_min_tokens', s3, '4_ttr', s4) AS (stage, survivors)""".stripMargin))
        .orderBy($"stage")
    },
    Some("""WITH tok AS (
           |  SELECT lang, n_chars,
           |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0)) AS n_tok,
           |    len(list_distinct(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0))) AS n_typ
           |  FROM documents),
           |f AS (SELECT lang IN ('en','es') AS f1, n_chars BETWEEN 100 AND 2000 AS f2,
           |             n_tok >= 30 AS f3, n_typ * 1000 >= n_tok * 350 AS f4 FROM tok),
           |a AS (SELECT count(*) AS s0,
           |  CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
           |  CAST(sum(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
           |  CAST(sum(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
           |  CAST(sum(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END) AS BIGINT) AS s4 FROM f)
           |SELECT stage, survivors FROM (
           |  SELECT '0_all' AS stage, s0 AS survivors FROM a
           |  UNION ALL SELECT '1_lang', s1 FROM a
           |  UNION ALL SELECT '2_length', s2 FROM a
           |  UNION ALL SELECT '3_min_tokens', s3 FROM a
           |  UNION ALL SELECT '4_ttr', s4 FROM a)
           |ORDER BY stage""".stripMargin),
  )

  /** q89 — sequence packing (context-window batch prep): documents
    * packed into fixed-budget bins (4000 chars) in deterministic
    * doc_id order WITHIN each language shard — greedy sequential
    * packing with overflow (a doc straddling the boundary stays in the
    * bin it started in), the standard way training examples are packed
    * into context windows. bin = exclusive-prefix-sum ÷ budget, all
    * integer. Parallelism = shard count (the window partitions by
    * lang); a real pipeline packs per shard/worker exactly so the
    * prefix sum never becomes a global single-partition sort. */
  val q89 = QuerySpec(
    "q89_sequence_pack",
    (s, d) => {
      import s.implicits._
      val budget = 4000L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy($"doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      Tables.documents(s, d)
        .select($"lang", $"doc_id", $"n_chars")
        .withColumn("prior", coalesce(sum($"n_chars").over(w), lit(0L)))
        .withColumn("bin", expr(s"prior div ${budget}L"))
        .groupBy($"lang", $"bin")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars_sum"),
          min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
        .orderBy($"lang", $"bin")
    },
    Some("""WITH x AS (SELECT lang, doc_id, n_chars,
           |    coalesce(sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
           |  FROM documents)
           |SELECT lang, CAST(prior // 4000 AS BIGINT) AS bin, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
           |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
           |FROM x GROUP BY lang, prior // 4000
           |ORDER BY lang, bin""".stripMargin),
  )

  /** q90 — per-label embedding centroids: mean of each vector dimension
    * per label — the k-means "update" half (q28/q81 probe fixed
    * centroids; this computes them), also the class-prototype primitive
    * behind nearest-centroid classification and dataset cartography.
    * posexplode pivots vectors long (dim as attribute), then one hash
    * aggregate per (label, dim): 640 groups regardless of corpus size,
    * exact decimal sums ÷ non-null count (q71's proven float→decimal
    * pattern) so the doubles are engine-identical. */
  val q90 = QuerySpec(
    "q90_embedding_centroids",
    (s, d) => {
      import s.implicits._
      Tables.embeddings(s, d)
        .select($"label", posexplode($"embedding").as(Seq("dim", "x")))
        .groupBy($"label", $"dim")
        .agg((Det.dsum($"x".cast("double"), 6) / count($"x")).as("centroid"),
          count($"x").as("n"))
        .orderBy($"label", $"dim")
    },
    Some("""WITH long AS (
           |  SELECT label, CAST(unnest(range(len(e))) AS INT) AS dim, unnest(e) AS x
           |  FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings))
           |SELECT label, dim,
           |  CAST(sum(CAST(x AS DECIMAL(30,6))) AS DOUBLE) / count(x) AS centroid,
           |  count(x) AS n
           |FROM long GROUP BY label, dim ORDER BY label, dim""".stripMargin),
  )

  /** q96 — bigram language-model score per doc: train transition counts
    * on the corpus itself (c₂(w₁,w₂) and first-token counts c₁(w₁)),
    * then score each doc by its mean transition probability in ppm —
    * the integer-exact stand-in for the LM-perplexity quality filter
    * (mean p is monotone where mean log p ranks smoothly; ppm floor
    * division is bit-equal on both engines where log() drifts). Since
    * c₂ ≤ c₁ each ratio ≤ 10⁶ and a doc's sum fits a Long; corpora
    * with single-bigram counts beyond ~9·10¹² need q70's double-lift
    * formulation instead. Shape: one bigram explode feeds both count
    * tables (vocabulary-sized → broadcast back) and the per-doc join;
    * the doc-side table shuffles once on its own key. */
  val q96 = QuerySpec(
    "q96_bigram_lm_score",
    (s, d) => {
      import s.implicits._
      val toks = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", graft.functions.TextFns.tokens($"text").as("t"))
        .filter(size($"t") >= 2)
      // docBg feeds THREE consumers (both count tables + the probe side
      // of the join); without persist the tokenize+explode would run
      // once per consumer — the q28 rescan anti-pattern.
      val docBg = toks.select($"doc_id", explode(expr(
          "transform(sequence(0, size(t)-2), i -> struct(t[i] AS w1, t[i+1] AS w2))")).as("b"))
        .select($"doc_id", $"b.w1", $"b.w2")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val first = docBg.groupBy($"w1").agg(count(lit(1)).as("c1"))
        val bg = docBg.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
        val out = docBg
          .join(broadcast(bg), Seq("w1", "w2"))
          .join(broadcast(first), Seq("w1"))
          .withColumn("p_ppm", expr("c2 * 1000000L div c1"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            expr("sum(p_ppm) div count(1)").as("mean_p_ppm"))
          .orderBy($"doc_id")
        Eager(out) // sever the result from the persisted frame before unpersist
      } finally docBg.unpersist(blocking = false)
    },
    Some("""WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t
           |  FROM documents), t2 AS (SELECT doc_id, t FROM toks WHERE len(t) >= 2),
           |docbg AS (SELECT doc_id, b['w1'] AS w1, b['w2'] AS w2
           |  FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-1),
           |      i -> {'w1': t[i], 'w2': t[i+1]})) AS b FROM t2)),
           |first AS (SELECT w1, count(*) AS c1 FROM docbg GROUP BY w1),
           |bg AS (SELECT w1, w2, count(*) AS c2 FROM docbg GROUP BY w1, w2)
           |SELECT doc_id, count(*) AS n_bigrams,
           |  CAST(sum(c2 * 1000000 // c1) // count(*) AS BIGINT) AS mean_p_ppm
           |FROM docbg JOIN bg USING (w1, w2) JOIN first USING (w1)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
  )

  /** q100 — the training-data pipeline END-TO-END: quality gauntlet
    * (q88's criteria) → exact dedup keeping the first copy per
    * normalized-text fingerprint (q20/q57's policy, md5 so the
    * fingerprint is engine-portable) → deterministic hash split (q60's
    * buckets) → per-split corpus stats. The capstone proves the stages
    * COMPOSE: each one consumes the previous one's survivors, and the
    * final stats are a pure function of the corpus (no ordering or
    * partitioning effects anywhere in the chain). Scale shape: filters
    * are scan-local, dedup is one shuffle on the fingerprint, the split
    * is per-row hashing, the rollup is 3 groups — the whole pipeline is
    * ONE shuffle wide regardless of corpus size. */
  val q100 = QuerySpec(
    "q100_train_pipeline",
    (s, d) => {
      import s.implicits._
      val toks = graft.functions.TextFns.tokens($"text")
      // Stage 1: quality gauntlet (lang allowlist, length band, min
      // tokens, type-token ratio — integer compare).
      val filtered = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .withColumn("n_tok", size(filter(toks, t => char_length(t) > 0)))
        .withColumn("n_typ", size(array_distinct(filter(toks, t => char_length(t) > 0))))
        .filter($"lang".isin("en", "es") && $"n_chars".between(100, 2000) &&
          $"n_tok" >= 30 && $"n_typ" * 1000 >= $"n_tok" * 350)
      // Stage 2: exact dedup, keep-first (min doc_id) per normalized
      // fingerprint.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"fp").orderBy($"doc_id")
      val deduped = filtered
        .withColumn("fp", md5(lower($"text").cast("binary")))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" === 1)
      // Stage 3: deterministic hash split (q60's rule, shared helper).
      deduped
        .withColumn("split", splitOf($"doc_id"))
        .groupBy($"split")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("chars_sum"),
          sum($"n_tok").as("tokens_sum"),
          sum($"doc_id").as("id_checksum"))
        .orderBy($"split")
    },
    Some("""WITH tok AS (
           |  SELECT doc_id, lang, n_chars, text,
           |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0)) AS n_tok,
           |    len(list_distinct(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0))) AS n_typ
           |  FROM documents),
           |filtered AS (SELECT * FROM tok
           |  WHERE lang IN ('en','es') AND n_chars BETWEEN 100 AND 2000
           |    AND n_tok >= 30 AND n_typ * 1000 >= n_tok * 350),
           |deduped AS (SELECT * FROM (
           |    SELECT *, row_number() OVER (PARTITION BY md5(lower(text)) ORDER BY doc_id) AS rk
           |    FROM filtered) WHERE rk = 1),
           |split AS (SELECT *, CASE
           |    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
           |    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
           |    ELSE 'test' END AS split FROM deduped)
           |SELECT split, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
           |  CAST(sum(n_tok) AS BIGINT) AS tokens_sum,
           |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
           |FROM split GROUP BY split ORDER BY split""".stripMargin),
  )

  /** q101 — feature hashing (the "hashing trick" vectorizer): tokens
    * map to a FIXED 16-dim space via a portable hash (first md5 hex
    * char → dimension), counts aggregated per (doc, dim) — how a
    * featurizer bounds vocabulary size without a dictionary (collisions
    * are the accepted trade). Emitted long-form (doc_id, dim, n): the
    * sparse representation that scales — a dense array per doc would
    * carry zeros. Hash, not dictionary ⇒ no global state, no second
    * pass, membership stable under corpus growth (the q60 argument
    * applied to features). One explode + one hash agg. */
  val q101 = QuerySpec(
    "q101_feature_hashing",
    (s, d) => {
      import s.implicits._
      Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", explode(graft.functions.TextFns.tokens($"text")).as("term"))
        .filter(char_length($"term") > 0)
        .withColumn("dim",
          (instr(lit("0123456789abcdef"), substring(md5($"term".cast("binary")), 1, 1)) - 1)
            .cast("int"))
        .groupBy($"doc_id", $"dim").agg(count(lit(1)).as("n"))
        .orderBy($"doc_id", $"dim")
    },
    Some("""WITH t2 AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS term
           |  FROM documents),
           |t AS (SELECT doc_id, term FROM t2 WHERE len(term) > 0)
           |SELECT doc_id,
           |  CAST(strpos('0123456789abcdef', substr(md5(term), 1, 1)) - 1 AS INT) AS dim,
           |  count(*) AS n
           |FROM t GROUP BY 1, 2 ORDER BY doc_id, dim""".stripMargin),
  )

  /** q106 — corpus-duplicated span fraction (the RefinedWeb/C4 metric
    * q63 computes WITHIN a doc, lifted to ACROSS the corpus): tile each
    * doc into non-overlapping word 8-gram spans, count every span's
    * corpus-wide occurrences, and score each doc by the ppm fraction of
    * its spans that are duplicated anywhere (cnt ≥ 2) — boilerplate and
    * template text light up even when no whole-doc pair is a near-dup.
    * Shape: one explode → ONE shuffle on the span string (the
    * count-over-span window is the inverted index without a join-back
    * recompute) → one per-doc agg. Non-overlapping tiling keeps span
    * volume ≈ token volume / 8; at 100 TB you'd hash spans to 64-bit
    * (xxhash64) before the shuffle so the exchange carries longs, not
    * strings — same plan, smaller payload. Integer ppm end-to-end. */
  val q106 = QuerySpec(
    "q106_dup_span_fraction",
    (s, d) => {
      import s.implicits._
      val spans = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", split($"text", " ").as("w"))
        .filter(size($"w") >= 8)
        .select($"doc_id", explode(expr(
          "transform(sequence(0, size(w) div 8 - 1), k -> concat_ws(' ', slice(w, k * 8 + 1, 8)))"
        )).as("g"))
      val counted = spans.withColumn("cnt",
        count(lit(1)).over(Window.partitionBy($"g")))
      counted.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when($"cnt" >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
        .select($"doc_id", $"n_spans", $"n_dup_spans",
          expr("n_dup_spans * 1000000L div n_spans").as("dup_ppm"))
        .orderBy($"dup_ppm".desc, $"doc_id")
        .limit(20)
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |s AS (SELECT doc_id, unnest(list_transform(
           |    generate_series(0, CAST(len(w) // 8 AS INT) - 1),
           |    k -> array_to_string(list_slice(w, k * 8 + 1, k * 8 + 8), ' '))) AS g
           |  FROM w WHERE len(w) >= 8),
           |c AS (SELECT doc_id, count(*) OVER (PARTITION BY g) AS cnt FROM s),
           |p AS (SELECT doc_id, count(*) AS n_spans,
           |    CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
           |  FROM c GROUP BY doc_id)
           |SELECT doc_id, n_spans, n_dup_spans,
           |  n_dup_spans * 1000000 // n_spans AS dup_ppm
           |FROM p ORDER BY dup_ppm DESC, doc_id LIMIT 20""".stripMargin),
  )

  /** q160 — corpus-duplicated span SCRUB (q106's acting half, the
    * RefinedWeb exact-substring removal): docs are re-tiled into the
    * same non-overlapping word 8-gram spans, spans occurring ≥ 2 times
    * corpus-wide are dropped, and the document is REBUILT from the
    * surviving spans (in position order) plus the sub-span tail — the
    * transform that actually removes boilerplate rather than scoring
    * it. The gate is strong: md5 of every rebuilt text plus exact
    * token/span counts, so a single mis-ordered or mis-dropped token
    * flips the hash. Shape: one span shuffle (count-over-window as the
    * inverted index), then the rebuild is a per-doc sorted
    * re-aggregation — order restored by array_sort on (position, span),
    * never by shuffle order. At 100 TB the span key becomes xxhash64
    * and the rebuild joins hashes back to positions — same plan. */
  val q160 = QuerySpec(
    "q160_span_scrub",
    (s, d) => {
      import s.implicits._
      // docs feeds both the span explode and the rebuild join — persist,
      // or the scan + tokenize runs twice (the q28 rescan anti-pattern).
      val docs = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", split($"text", " ").as("w"))
        .filter(size($"w") >= 8)
        .select($"doc_id", $"w", expr("size(w) div 8").as("nspan"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val spans = docs.select($"doc_id",
          posexplode(expr(
            "transform(sequence(0, nspan - 1), k -> concat_ws(' ', slice(w, k * 8 + 1, 8)))"))
            .as(Seq("k", "g")))
        val counted = spans.withColumn("cnt",
          count(lit(1)).over(Window.partitionBy($"g")))
        val rebuilt = counted.groupBy($"doc_id")
          .agg(count(lit(1)).as("n_spans"),
            sum(when($"cnt" >= 2, 1L).otherwise(0L)).as("n_dropped"),
            concat_ws(" ", expr(
              "transform(array_sort(collect_list(CASE WHEN cnt < 2 THEN struct(k, g) END)), x -> x.g)"))
              .as("kept"))
        val out = rebuilt.join(docs.select($"doc_id", $"w", $"nspan"), Seq("doc_id"))
          .select($"doc_id", $"n_spans", $"n_dropped",
            concat_ws(" ",
              when($"kept" === "", lit(null)).otherwise($"kept"),
              expr("nullif(concat_ws(' ', slice(w, nspan * 8 + 1, size(w) - nspan * 8)), '')"))
              .as("cleaned"))
          .select($"doc_id", $"n_spans", $"n_dropped",
            md5($"cleaned").as("cleaned_md5"), length($"cleaned").as("cleaned_len"))
          .orderBy($"n_dropped".desc, $"doc_id")
          .limit(20)
        Eager(out) // sever from the persisted frame before unpersist
      } finally { docs.unpersist(); () }
    },
    Some("""WITH d AS (
           |  SELECT doc_id, w, CAST(len(w) // 8 AS INT) AS nspan
           |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
           |  WHERE len(w) >= 8),
           |s AS (
           |  SELECT doc_id, k,
           |    array_to_string(list_slice(w, k * 8 + 1, k * 8 + 8), ' ') AS g
           |  FROM d, unnest(generate_series(0, nspan - 1)) AS t(k)),
           |c AS (SELECT doc_id, k, g, count(*) OVER (PARTITION BY g) AS cnt FROM s),
           |r AS (
           |  SELECT doc_id, count(*) AS n_spans,
           |    CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           |    string_agg(g, ' ' ORDER BY k) FILTER (WHERE cnt < 2) AS kept
           |  FROM c GROUP BY doc_id),
           |x AS (
           |  SELECT r.doc_id, n_spans, n_dropped,
           |    concat_ws(' ', kept,
           |      nullif(array_to_string(list_slice(w, nspan * 8 + 1, len(w)), ' '), ''))
           |      AS cleaned
           |  FROM r JOIN d ON r.doc_id = d.doc_id)
           |SELECT doc_id, n_spans, n_dropped, md5(cleaned) AS cleaned_md5,
           |  CAST(length(cleaned) AS INT) AS cleaned_len
           |FROM x ORDER BY n_dropped DESC, doc_id LIMIT 20""".stripMargin),
  )

  /** q505 — duplicated-span removal under the KEEP-FIRST policy (the
    * Lee et al. 2022 substring-dedup verb q160 approximates from the
    * wrong side: q160 drops EVERY occurrence of a corpus-duplicated
    * span — boilerplate scrubbing — while the dedup a training
    * pipeline runs between q106's metric and the tokenizer must keep
    * exactly ONE copy of each duplicated span so the corpus loses
    * repetition, not content): docs re-tile into the same
    * non-overlapping word 8-gram spans, each span's FIRST corpus
    * occurrence (smallest (doc_id, position) — a total order, so the
    * survivor is deterministic and oracle-checkable) survives, later
    * occurrences are dropped, and every document is rebuilt from its
    * surviving spans in position order plus the sub-span tail.
    * Readout: top-20 docs by BYTES REMOVED (original length minus
    * rebuilt length — the number a storage/token budget reads) with
    * exact span counts and the rebuilt text's md5, so one mis-kept
    * occurrence flips the gate. Shape: a map-side-combinable per-span
    * census (count + min(struct(doc_id, k))) joined back onto the
    * occurrence stream — see [[spanKeepFirst]] for why this beats the
    * window form on a hot span — then the rebuild is a per-doc sorted
    * re-aggregation (order restored by array_sort on position, never
    * shuffle order) and the reassembly is in-row. At 100 TB the span
    * key becomes xxhash64 and survivors join back by hash — same
    * plan. */
  /** q505's span stage, factored so its SKEW-PROOF shape is pinnable
    * (PlanAuditSpec): explode the non-overlapping 8-gram spans of
    * `docs(doc_id, w, nspan)` and mark each occurrence with whether it
    * survives keep-first. Round 11 did this with two windows over
    * `PARTITION BY g` — structurally skew-exposed: a boilerplate span
    * with 10⁹ corpus occurrences lands in ONE window partition, and
    * AQE can split a skewed JOIN but never a window partition
    * (the round-11 verdict's "What's wrong" #1). Keep-first needs only
    * `min(struct(doc_id, k))` and `count` per span — both MAP-SIDE
    * COMBINABLE, so the per-span census is a plain aggregate (the hot
    * key partial-aggregates to one row per map task before the
    * exchange) and the residual census⋈occurrence join is
    * AQE-skew-splittable. The survivor test against min(struct) is
    * exactly the old rank's `ORDER BY doc_id, k ... rn = 1` (struct
    * ordering is lexicographic — a total order, so the survivor stays
    * deterministic and oracle-checkable). Emits (doc_id, k, g, keep). */
  private[graft] def spanKeepFirst(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import docs.sparkSession.implicits._
    def spans = docs.select($"doc_id",
      posexplode(expr(
        "transform(sequence(0, nspan - 1), k -> concat_ws(' ', slice(w, k * 8 + 1, 8)))"))
        .as(Seq("k", "g")))
    val census = spans.groupBy($"g").agg(
      count(lit(1)).as("cnt"),
      min(struct($"doc_id", $"k")).as("first"))
    spans.join(census, Seq("g"))
      .select($"doc_id", $"k", $"g",
        ($"cnt" < 2 ||
          ($"doc_id" === $"first.doc_id" && $"k" === $"first.k")).as("keep"))
  }

  val q505 = QuerySpec(
    "q505_span_dedup_keep_first",
    (s, d) => {
      import s.implicits._
      val docs = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", $"text", split($"text", " ").as("w"))
        .filter(size($"w") >= 8)
        .select($"doc_id", $"text", $"w", expr("size(w) div 8").as("nspan"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val rebuilt = spanKeepFirst(docs).groupBy($"doc_id")
          .agg(count(lit(1)).as("n_spans"),
            sum(when(!$"keep", 1L).otherwise(0L)).as("n_removed"),
            concat_ws(" ", expr(
              "transform(array_sort(collect_list(CASE WHEN keep THEN struct(k, g) END)), x -> x.g)"))
              .as("kept"))
        val out = rebuilt.join(docs.select($"doc_id", $"text", $"w", $"nspan"), Seq("doc_id"))
          .select($"doc_id", $"n_spans", $"n_removed",
            concat_ws(" ",
              when($"kept" === "", lit(null)).otherwise($"kept"),
              expr("nullif(concat_ws(' ', slice(w, nspan * 8 + 1, size(w) - nspan * 8)), '')"))
              .as("cleaned"),
            length($"text").as("orig_len"))
          .select($"doc_id", $"n_spans", $"n_removed",
            ($"orig_len" - length($"cleaned")).cast("long").as("bytes_removed"),
            md5($"cleaned").as("cleaned_md5"))
          .orderBy($"bytes_removed".desc, $"doc_id")
          .limit(20)
        Eager(out) // sever from the persisted frame before unpersist
      } finally { docs.unpersist(); () }
    },
    Some("""WITH d AS (
           |  SELECT doc_id, text, w, CAST(len(w) // 8 AS INT) AS nspan
           |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
           |  WHERE len(w) >= 8),
           |s AS (
           |  SELECT doc_id, k,
           |    array_to_string(list_slice(w, k * 8 + 1, k * 8 + 8), ' ') AS g
           |  FROM d, unnest(generate_series(0, nspan - 1)) AS t(k)),
           |c AS (SELECT doc_id, k, g,
           |    count(*) OVER (PARTITION BY g) AS cnt,
           |    row_number() OVER (PARTITION BY g ORDER BY doc_id, k) AS rn
           |  FROM s),
           |r AS (
           |  SELECT doc_id, count(*) AS n_spans,
           |    CAST(sum(CASE WHEN cnt >= 2 AND rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           |    string_agg(g, ' ' ORDER BY k) FILTER (WHERE cnt < 2 OR rn = 1) AS kept
           |  FROM c GROUP BY doc_id),
           |x AS (
           |  SELECT r.doc_id, n_spans, n_removed,
           |    concat_ws(' ', kept,
           |      nullif(array_to_string(list_slice(w, nspan * 8 + 1, len(w)), ' '), ''))
           |      AS cleaned,
           |    length(text) AS orig_len
           |  FROM r JOIN d ON r.doc_id = d.doc_id)
           |SELECT doc_id, n_spans, n_removed,
           |  CAST(orig_len - length(cleaned) AS BIGINT) AS bytes_removed,
           |  md5(cleaned) AS cleaned_md5
           |FROM x ORDER BY bytes_removed DESC, doc_id LIMIT 20""".stripMargin),
  )

  /** q110 — temperature-weighted source mixture (the multilingual-LLM
    * sampling rule, α = 0.5: sample source s at rate ∝ n_s^(α−1), so
    * small sources are up-weighted relative to their share): per-source
    * keep rates are DERIVED FROM THE DATA — rate_s = √(n_min / n_s),
    * scaled to a 20-bit integer threshold — where q65's quotas are
    * fixed constants. Membership is the md5-prefix rule (reproducible
    * on any engine/rerun; salt "t:" decorrelates from q60/q65). The
    * sqrt runs on identical operands on both engines (exact bigint→
    * double conversions), so the floor'd threshold is bit-stable; the
    * hex compare is lowercase %05x on both. Shape: one tiny per-source
    * count (20 rows) broadcast back onto the corpus — the rate table
    * never shuffles the fact side; at 100 TB the second pass is the
    * same scan with a map-side join. Docs whose 5-hex prefix is
    * 'fffff' fall outside the capped threshold (1/16⁵, deterministic)
    * — the cost of keeping the compare strict and 5 chars wide. */
  val q110 = QuerySpec(
    "q110_mixture_temperature",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val counts = docs.groupBy($"source").agg(count(lit(1)).as("n_src"))
      val nmin = counts.agg(min($"n_src").as("n_min"))
      val rates = counts.crossJoin(nmin).withColumn("rate_u20",
        least(
          floor(sqrt($"n_min".cast("double") / $"n_src".cast("double")) * 1048576)
            .cast("long"),
          lit(1048575L)))
      docs.join(broadcast(rates.drop("n_min")), "source")
        .withColumn("keep",
          substring(md5(concat(lit("t:"), $"doc_id".cast("string")).cast("binary")), 1, 5)
            < format_string("%05x", $"rate_u20"))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_total"),
          max($"rate_u20").as("rate_u20"), // constant per source; max is the deterministic pick
          count(when($"keep", 1)).as("n_sampled"),
          sum(when($"keep", $"doc_id")).as("sampled_id_checksum"))
        .orderBy($"source")
    },
    Some("""WITH c AS (SELECT source, count(*) AS n_src FROM documents GROUP BY source),
           |m AS (SELECT min(n_src) AS n_min FROM c),
           |r AS (SELECT source, least(CAST(floor(
           |    sqrt(CAST(n_min AS DOUBLE) / CAST(n_src AS DOUBLE)) * 1048576) AS BIGINT),
           |    1048575) AS rate_u20 FROM c, m),
           |k AS (SELECT d.source, d.doc_id, r.rate_u20,
           |    substr(md5('t:' || CAST(d.doc_id AS VARCHAR)), 1, 5) < printf('%05x', r.rate_u20) AS keep
           |  FROM documents d JOIN r USING (source))
           |SELECT source, count(*) AS n_total, rate_u20,
           |  count(*) FILTER (WHERE keep) AS n_sampled,
           |  CAST(sum(doc_id) FILTER (WHERE keep) AS BIGINT) AS sampled_id_checksum
           |FROM k GROUP BY source, rate_u20 ORDER BY source""".stripMargin),
  )

  /** q149 — vocabulary coverage / OOV rate: the top-200 corpus tokens
    * (q31's BPE-ish pre-tokenizer, tie-broken (count desc, token) for a
    * total order) form the vocabulary; every doc's out-of-vocabulary
    * token fraction rolls up per language in exact integer ppm. This is
    * the tokenizer-fit readout a training pipeline runs before
    * committing a vocab: high OOV in a language shard means the
    * tokenizer fragments that language. Scale: the census shuffle is
    * vocabulary-sized (map-side combine), the vocab (200 rows)
    * broadcasts back, and per-doc counts shuffle on doc_id — corpus
    * text never moves twice. The token table persists: it feeds both
    * the census and the probe side. */
  val q149 = QuerySpec(
    "q149_vocab_oov_rate",
    (s, d) => {
      import s.implicits._
      val toks = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", $"lang", explode(regexp_extract_all(lower($"text"),
          lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0))).as("token"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val vocab = toks.groupBy($"token").agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"token").limit(200)
          .select($"token", lit(1).as("in_vocab"))
        val perDoc = toks
          .join(broadcast(vocab), Seq("token"), "left")
          .groupBy($"doc_id", $"lang")
          .agg(count(lit(1)).as("n_tok"),
            sum(when($"in_vocab".isNull, 1L).otherwise(0L)).as("n_oov"))
        val agg = perDoc.groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_tok").as("tok_sum"), sum($"n_oov").as("oov_sum"))
          .select($"lang", $"n_docs", $"tok_sum", $"oov_sum",
            expr("(oov_sum * 1000000) DIV tok_sum").as("corpus_oov_ppm"))
          .orderBy($"lang")
        Eager(agg) // eager: toks is unpersisted in finally
      } finally { toks.unpersist(); () }
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, lang,
           |    unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS token
           |  FROM documents),
           |vocab AS (
           |  SELECT token FROM (
           |    SELECT token, count(*) AS n FROM toks GROUP BY token
           |    ORDER BY n DESC, token LIMIT 200)),
           |per_doc AS (
           |  SELECT doc_id, lang, count(*) AS n_tok,
           |    sum(CASE WHEN token IN (SELECT token FROM vocab) THEN 0 ELSE 1 END) AS n_oov
           |  FROM toks GROUP BY doc_id, lang)
           |SELECT lang, count(*) AS n_docs,
           |  CAST(sum(n_tok) AS BIGINT) AS tok_sum,
           |  CAST(sum(n_oov) AS BIGINT) AS oov_sum,
           |  CAST((sum(n_oov) * 1000000) // sum(n_tok) AS BIGINT) AS corpus_oov_ppm
           |FROM per_doc GROUP BY lang ORDER BY lang""".stripMargin),
  )

  /** q150 — nearest-centroid assignment (the k-means E-step, closing
    * the loop q90 opened): every embedding is assigned to the nearest
    * per-label centroid by squared L2, and the (label, assigned) counts
    * form the confusion matrix — the clusterability readout for the
    * label space. Determinism discipline: centroids are q90's exact
    * decimal means (bit-identical doubles on both engines), each
    * squared residual is rounded once to DECIMAL(30,12) (identical
    * correct rounding of identical doubles), distances sum exactly, and
    * the argmin tie-breaks on label — no float comparison anywhere in
    * the gate. Scale: the long (vec, dim) table persists and feeds both
    * the centroid build and the distance join; distances shuffle on
    * (vec_id, candidate) and collapse to |labels|² output rows. */
  val q150 = QuerySpec(
    "q150_centroid_assign",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val long = Tables.fanOut(Tables.embeddings(s, d), col("vec_id"))
        .select($"vec_id", $"label",
          posexplode($"embedding").as(Seq("dim", "xf")))
        .select($"vec_id", $"label", $"dim", $"xf".cast("double").as("x"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val cent = long.groupBy($"label".as("clabel"), $"dim")
          .agg((Det.dsum($"x", 6) / count($"x")).as("c"))
        val dist = long.join(broadcast(cent), Seq("dim"))
          .groupBy($"vec_id", $"label", $"clabel")
          .agg(sum((($"x" - $"c") * ($"x" - $"c")).cast("decimal(30,12)")).as("dist"))
        val byVec = Window.partitionBy($"vec_id").orderBy($"dist", $"clabel")
        val agg = dist
          .withColumn("rn", row_number().over(byVec))
          .where($"rn" === 1)
          .groupBy($"label", $"clabel".as("assigned"))
          .agg(count(lit(1)).as("n"))
          .orderBy($"label", $"assigned")
        Eager(agg) // eager: long is unpersisted in finally
      } finally { long.unpersist(); () }
    },
    Some("""WITH long AS (
           |  SELECT vec_id, label, CAST(unnest(range(len(v))) AS INT) AS dim, unnest(v) AS x
           |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)),
           |cent AS (
           |  SELECT label AS clabel, dim,
           |    CAST(sum(CAST(x AS DECIMAL(30,6))) AS DOUBLE) / count(x) AS c
           |  FROM long GROUP BY label, dim),
           |dist AS (
           |  SELECT vec_id, label, clabel,
           |    sum(CAST((x - c) * (x - c) AS DECIMAL(30,12))) AS dist
           |  FROM long JOIN cent USING (dim) GROUP BY vec_id, label, clabel),
           |best AS (
           |  SELECT vec_id, label, clabel,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, clabel) AS rn
           |  FROM dist)
           |SELECT label, clabel AS assigned, count(*) AS n
           |FROM best WHERE rn = 1
           |GROUP BY label, clabel ORDER BY label, assigned""".stripMargin),
  )

  /** q192 — per-group winsorization: document lengths clipped at the
    * discrete 2nd/98th percentile WITHIN each language — the outlier
    * clamp run before length-based curriculum/packing decisions so one
    * pathological document can't skew a shard's budget. percentile_disc
    * (not _cont) keeps the whole gate in integers: the cut points are
    * actual data values ("smallest value with cume_dist ≥ p" — mirrored
    * first-principles in the oracle via a cume_dist window, so Spark's
    * builtin is certified against the definition, not against DuckDB's
    * builtin). Two passes over a lang-bucketed aggregate: cut points are
    * one 5-row frame broadcast back; the clamp is a per-row projection.
    * Casts to BIGINT everywhere — percentile_disc surfaces as double,
    * and integral doubles are exact well past any corpus size. */
  val q192 = QuerySpec(
    "q192_winsorize_lengths",
    (s, d) => {
      import s.implicits._
      val cuts = Tables.documents(s, d).groupBy($"lang").agg(
        expr("CAST(percentile_disc(0.02) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)").as("lo"),
        expr("CAST(percentile_disc(0.98) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)").as("hi"))
      Tables.documents(s, d)
        .join(broadcast(cuts), Seq("lang"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"n_chars" < $"lo", 1L).otherwise(0L)).as("n_clip_lo"),
          sum(when($"n_chars" > $"hi", 1L).otherwise(0L)).as("n_clip_hi"),
          sum(greatest($"lo", least($"hi", $"n_chars"))).as("wsum"),
          max($"lo").as("lo"), max($"hi").as("hi"))
        .orderBy($"lang")
    },
    Some("""WITH c AS (
           |  SELECT lang, n_chars,
           |    cume_dist() OVER (PARTITION BY lang ORDER BY n_chars) AS cd
           |  FROM documents),
           |b AS (
           |  SELECT lang, min(n_chars) FILTER (cd >= 0.02) AS lo,
           |    min(n_chars) FILTER (cd >= 0.98) AS hi
           |  FROM c GROUP BY lang)
           |SELECT d.lang, count(*) AS n_docs,
           |  CAST(sum(CASE WHEN d.n_chars < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
           |  CAST(sum(CASE WHEN d.n_chars > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
           |  CAST(sum(greatest(b.lo, least(b.hi, d.n_chars))) AS BIGINT) AS wsum,
           |  CAST(max(b.lo) AS BIGINT) AS lo, CAST(max(b.hi) AS BIGINT) AS hi
           |FROM documents d JOIN b ON d.lang = b.lang
           |GROUP BY d.lang ORDER BY d.lang""".stripMargin),
  )

  /** q194 — mixture-drift monitor: per-source total-variation distance
    * (TVD) between each source's language distribution and the corpus
    * mixture, in exact integer ppm — the drift gate a training-data
    * ingest runs per upstream so one source silently flipping language
    * mix trips an alert BEFORE it skews the blend q110 targets. TVD
    * (½·Σ|p−q|) rather than KL: it needs no log(), so floor-div ppm
    * shares keep the verdict BIGINT-exact on both engines (the q64/q70
    * integer-ratio rule). Missing (source,lang) combos enter as honest
    * zeros via the dims×sources grid — absence IS drift. Scale: three
    * key-sized aggregates; the grid is |sources|×|langs| rows at any
    * corpus size; the 1-row total broadcasts. */
  val q194 = QuerySpec(
    "q194_mixture_drift_tvd",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val bySrcLang = docs.groupBy($"source", $"lang").agg(count(lit(1)).as("n"))
      val bySrc = docs.groupBy($"source").agg(count(lit(1)).as("n_src"))
      val byLang = docs.groupBy($"lang").agg(count(lit(1)).as("n_lang"))
      val total = docs.agg(count(lit(1)).as("n_tot"))
      bySrc.crossJoin(broadcast(byLang))
        .join(bySrcLang, Seq("source", "lang"), "left")
        .na.fill(0L, Seq("n"))
        .crossJoin(broadcast(total))
        .select($"source", $"n_src",
          expr("n * 1000000L div n_src").as("share_s"),
          expr("n_lang * 1000000L div n_tot").as("share_g"))
        .groupBy($"source")
        .agg(max($"n_src").as("n_docs"),
          expr("sum(abs(share_s - share_g)) div 2").as("tvd_ppm"))
        .orderBy($"source")
    },
    Some("""WITH sl AS (SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
           |s AS (SELECT source, count(*) AS n_src FROM documents GROUP BY 1),
           |l AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
           |t AS (SELECT count(*) AS n_tot FROM documents),
           |grid AS (
           |  SELECT s.source, l.lang, coalesce(sl.n, 0) AS n, s.n_src, l.n_lang, t.n_tot
           |  FROM s CROSS JOIN l CROSS JOIN t
           |  LEFT JOIN sl ON sl.source = s.source AND sl.lang = l.lang)
           |SELECT source, CAST(max(n_src) AS BIGINT) AS n_docs,
           |  CAST(sum(abs(n * 1000000 // n_src - n_lang * 1000000 // n_tot)) // 2 AS BIGINT) AS tvd_ppm
           |FROM grid GROUP BY source ORDER BY source""".stripMargin),
  )

  /** q200 — approx_percentile with a tolerance gate (q39's HLL
    * convention applied to quantiles): the sketch-based percentile is
    * the 100 TB path — exact per-group percentiles distribute the whole
    * column through a sort/collect per group, while the Greenwald-Khanna
    * style sketch is one mergeable pass with bounded state. Sketch
    * outputs never hash-match across engines, so the gate follows q39:
    * the EXACT discrete percentiles cross the oracle as values, and the
    * approx estimates gate as booleans (|approx − exact| within the
    * accuracy-implied band, here ±2% of the group's value range —
    * generous vs the 1/accuracy=1e-4 rank guarantee). The oracle states
    * the booleans' expected value (true) and recomputes the exact cut
    * points first-principles (q192's cume_dist mirror). */
  val q200 = QuerySpec(
    "q200_approx_percentile_gate",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .groupBy($"lang")
        .agg(
          expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)").as("p50"),
          expr("CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)").as("p90"),
          expr("approx_percentile(n_chars, array(0.5D, 0.9D), 10000)").as("ap"),
          ((max($"n_chars") - min($"n_chars")) / 50).as("tol"))
        .select($"lang", $"p50", $"p90",
          (abs($"ap".getItem(0) - $"p50") <= $"tol").as("ok_p50"),
          (abs($"ap".getItem(1) - $"p90") <= $"tol").as("ok_p90"))
        .orderBy($"lang")
    },
    Some("""WITH c AS (
           |  SELECT lang, n_chars,
           |    cume_dist() OVER (PARTITION BY lang ORDER BY n_chars) AS cd
           |  FROM documents)
           |SELECT lang,
           |  CAST(min(n_chars) FILTER (cd >= 0.5) AS BIGINT) AS p50,
           |  CAST(min(n_chars) FILTER (cd >= 0.9) AS BIGINT) AS p90,
           |  true AS ok_p50, true AS ok_p90
           |FROM c GROUP BY lang ORDER BY lang""".stripMargin),
  )

  /** q214 — PII pseudonymization: `mask()` (structure-preserving
    * redaction: upper→X, lower→x, digit→n, punctuation kept) plus a
    * deterministic pseudonym (first 8 hex of sha256) — the release-
    * pipeline pair: masked fields stay debuggable, pseudonyms stay
    * joinable across tables WITHOUT a lookup table to secure. The gate
    * groups by masked pattern and pins pseudonym-set cardinality ==
    * name cardinality (no collisions at this scale, and collisions
    * would be deterministic cross-engine anyway) plus min/max pseudonym
    * as content witnesses. Per-row scalar work — shuffle-free until the
    * pattern rollup. */
  val q214 = QuerySpec(
    "q214_pii_pseudonymize",
    (s, d) => {
      import s.implicits._
      Tables.customer(s, d)
        .select($"c_name",
          mask($"c_name").as("pattern"),
          substring(sha2($"c_name", 256), 1, 8).as("pseud"))
        .groupBy($"pattern")
        .agg(count(lit(1)).as("n"),
          countDistinct($"c_name").as("n_names"),
          countDistinct($"pseud").as("n_pseud"),
          min($"pseud").as("pseud_min"),
          max($"pseud").as("pseud_max"))
        .orderBy($"pattern")
    },
    Some("""WITH p AS (
           |  SELECT c_name,
           |    regexp_replace(regexp_replace(regexp_replace(c_name,
           |      '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g') AS pattern,
           |    substr(sha256(c_name), 1, 8) AS pseud
           |  FROM customer)
           |SELECT pattern, count(*) AS n,
           |  CAST(count(DISTINCT c_name) AS BIGINT) AS n_names,
           |  CAST(count(DISTINCT pseud) AS BIGINT) AS n_pseud,
           |  min(pseud) AS pseud_min, max(pseud) AS pseud_max
           |FROM p GROUP BY pattern ORDER BY pattern""".stripMargin),
  )

  /** q215 — distributed equal-frequency binning: exact ntile(10)
    * semantics (first N mod k bins take the extra row) WITHOUT the
    * single-partition window — bin = arithmetic on the dense global
    * row id from [[graft.operators.StableIds]] (range partitions +
    * offsets), so the corpus-wide sort parallelizes. The oracle IS
    * DuckDB's native ntile over the same total order: the gate proves
    * the closed-form bin assignment reproduces ntile's remainder
    * distribution exactly. Per-bin lo/hi make the cut points visible
    * (feature-discretization readout). */
  val q215 = QuerySpec(
    "q215_equal_freq_binning",
    (s, d) => {
      import s.implicits._
      val ids = graft.operators.StableIds.withGlobalRowIds(
        Tables.documents(s, d).select($"doc_id", $"n_chars"),
        numParts = 8, $"n_chars", $"doc_id")
      val n = ids.count()
      val k = 10L
      val q = n / k
      val r = n % k
      ids.select($"doc_id", $"n_chars",
          (when($"row_id" < (q + 1L) * r, expr(s"row_id div ${q + 1L}"))
            .otherwise(lit(r) + expr(s"(row_id - ${(q + 1L) * r}) div $q"))
            + 1L).as("bin"))
        .groupBy($"bin")
        .agg(count(lit(1)).as("n_docs"),
          min($"n_chars").as("lo"), max($"n_chars").as("hi"),
          sum($"doc_id").as("id_checksum"))
        .orderBy($"bin")
    },
    Some("""WITH t AS (
           |  SELECT doc_id, n_chars,
           |    ntile(10) OVER (ORDER BY n_chars, doc_id) AS bin
           |  FROM documents)
           |SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
           |  CAST(min(n_chars) AS BIGINT) AS lo, CAST(max(n_chars) AS BIGINT) AS hi,
           |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
           |FROM t GROUP BY bin ORDER BY bin""".stripMargin),
  )

  /** q236 — Lloyd's k-means, two full iterations (q150 assigns to
    * FIXED centroids; this closes the loop: assign → recompute → assign
    * → recompute): k=4, deterministic init (cluster = vec_id mod 4),
    * centroids as exact decimal means cast to double (bit-identical
    * cross-engine — q90's rule), squared residuals rounded once to
    * DECIMAL(30,12) and summed exactly, argmin tie-broken on cluster id
    * via row_number — no raw float comparison anywhere in the gate (the
    * q150 discipline applied iteratively; the oracle spells both
    * iterations as a CTE chain). Scale: the long (vec, dim) table
    * persists once and feeds every step; per iteration one
    * dimension-sized centroid aggregate broadcasts back — the fact
    * table shuffles once per iteration on (vec, candidate), which is
    * Lloyd's lower bound. */
  val q236 = QuerySpec(
    "q236_kmeans_lloyd",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val long = Tables.fanOut(Tables.embeddings(s, d), col("vec_id"))
        .select($"vec_id", posexplode($"embedding").as(Seq("dim", "xf")))
        .select($"vec_id", $"dim", $"xf".cast("double").as("x"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val byVec = Window.partitionBy($"vec_id").orderBy($"dist", $"cid")
        def reassign(assign: org.apache.spark.sql.DataFrame) = {
          val cent = long.join(assign, Seq("vec_id"))
            .groupBy($"cid", $"dim")
            .agg((Det.dsum($"x", 6) / count($"x")).as("c"))
          long.join(broadcast(cent), Seq("dim"))
            .groupBy($"vec_id", $"cid")
            .agg(sum((($"x" - $"c") * ($"x" - $"c")).cast("decimal(30,12)"))
              .as("dist"))
            .withColumn("rn", row_number().over(byVec))
            .where($"rn" === 1)
            .select($"vec_id", $"cid")
        }
        val init = Tables.embeddings(s, d).select($"vec_id", ($"vec_id" % 4).as("cid"))
        val a2 = reassign(reassign(init))
        Eager(a2.groupBy($"cid")
          .agg(count(lit(1)).as("n_vecs"), sum($"vec_id").as("id_checksum"))
          .orderBy($"cid"))
      } finally { long.unpersist(); () }
    },
    Some("""WITH long AS (
           |  SELECT vec_id, CAST(unnest(range(len(v))) AS INT) AS dim, unnest(v) AS x
           |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)),
           |a0 AS (SELECT vec_id, vec_id % 4 AS cid FROM embeddings),
           |c1 AS (
           |  SELECT cid, dim, CAST(sum(CAST(x AS DECIMAL(30,6))) AS DOUBLE) / count(x) AS c
           |  FROM long JOIN a0 USING (vec_id) GROUP BY cid, dim),
           |d1 AS (
           |  SELECT vec_id, cid, sum(CAST((x - c) * (x - c) AS DECIMAL(30,12))) AS dist
           |  FROM long JOIN c1 USING (dim) GROUP BY vec_id, cid),
           |a1 AS (
           |  SELECT vec_id, cid FROM (
           |    SELECT vec_id, cid,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
           |    FROM d1) WHERE rn = 1),
           |c2 AS (
           |  SELECT cid, dim, CAST(sum(CAST(x AS DECIMAL(30,6))) AS DOUBLE) / count(x) AS c
           |  FROM long JOIN a1 USING (vec_id) GROUP BY cid, dim),
           |d2 AS (
           |  SELECT vec_id, cid, sum(CAST((x - c) * (x - c) AS DECIMAL(30,12))) AS dist
           |  FROM long JOIN c2 USING (dim) GROUP BY vec_id, cid),
           |a2 AS (
           |  SELECT vec_id, cid FROM (
           |    SELECT vec_id, cid,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
           |    FROM d2) WHERE rn = 1)
           |SELECT CAST(cid AS BIGINT) AS cid, count(*) AS n_vecs,
           |  CAST(sum(vec_id) AS BIGINT) AS id_checksum
           |FROM a2 GROUP BY cid ORDER BY cid""".stripMargin),
  )

  /** q501 — INCREMENTAL k-means centroid maintenance (the q489/q379
    * delta discipline extended to the ML clustering artifact q236
    * builds: a centroid store in production is refreshed by arriving
    * vectors, not re-Lloyd'ed from scratch): epoch 0 (even vec_ids)
    * runs q236's two Lloyd iterations and persists the per-(cluster,
    * dim) SUFFICIENT STATISTICS — exact DECIMAL(30,6) coordinate sums
    * plus counts, the mergeable form; the epoch-1 delta (odd vec_ids)
    * is assigned to its nearest epoch-0 centroid (q236's decimal
    * distance + row_number argmin) and folded in by STATS ADDITION —
    * decimal sums are associative, so the merged centroids are
    * bit-identical to computing the same means over the union from
    * scratch, which is exactly what the oracle does. Readout per
    * cluster: member/added counts, id checksum, and the squared
    * centroid drift the delta caused (per-dim doubles squared into
    * DECIMAL(30,12), summed exactly — q236's residual discipline).
    * Scale: the delta pass touches only delta rows + a broadcast
    * k×dims centroid frame; the merge is a (cluster, dim)-sized
    * aggregate — nothing rescans epoch 0. */
  /** One Lloyd assignment pass, factored from q501 so its PLAN shape is
    * pinnable (PlanAuditSpec): nearest centroid per vector by exact
    * DECIMAL distance, deterministic argmin (dist, cid). The k×dims
    * centroid frame is an explicit unconditional broadcast — it is
    * bounded by the cluster count, never by the corpus — so the only
    * exchanges are the per-(vec, cid) distance aggregate and the
    * per-vec argmin window; the point stream itself never pre-shuffles
    * for the centroid join. */
  private[graft] def kmeansAssign(pts: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import pts.sparkSession.implicits._
    val byVec = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy($"dist", $"cid")
    pts.join(broadcast(cent), Seq("dim"))
      .groupBy($"vec_id", $"cid")
      .agg(sum((($"x" - $"c") * ($"x" - $"c")).cast("decimal(30,12)"))
        .as("dist"))
      .withColumn("rn", row_number().over(byVec))
      .where($"rn" === 1)
      .select($"vec_id", $"cid")
  }

  val q501 = QuerySpec(
    "q501_incremental_kmeans_update",
    (s, d) => graft.Frames.scoped { f =>
      import s.implicits._
      val long = f.persist(Tables.fanOut(Tables.embeddings(s, d), col("vec_id"))
        .select($"vec_id", posexplode($"embedding").as(Seq("dim", "xf")))
        .select($"vec_id", $"dim", $"xf".cast("double").as("x")))
      val evens = long.filter($"vec_id" % 2 === 0)
      val odds = long.filter($"vec_id" % 2 === 1)
      def assignTo(pts: org.apache.spark.sql.DataFrame,
          cent: org.apache.spark.sql.DataFrame) = kmeansAssign(pts, cent)
      def meansOf(pts: org.apache.spark.sql.DataFrame,
          assign: org.apache.spark.sql.DataFrame) =
        pts.join(assign, Seq("vec_id"))
          .groupBy($"cid", $"dim")
          .agg((Det.dsum($"x", 6) / count($"x")).as("c"))
      // Epoch 0: q236's two Lloyd iterations over the evens.
      // r12 (guide §5 caching/lineage): the assignment and centroid
      // frames each feed MULTIPLE consumers below (aEven → stats +
      // membership census; cEven → delta assign + drift; aOdd →
      // delta stats + census + n_added), and none were materialized
      // — every consumer re-ran the whole Lloyd chain, so the two
      // epoch-0 iterations executed up to three times per query.
      // localCheckpoint each hand-off frame (all are tiny: |vecs| or
      // k×dims rows) so the chain runs once; values unchanged — the
      // assignment is deterministic (exact DECIMAL distance, argmin
      // by (dist, cid)) so even the uncheckpointed form was
      // value-stable, just wasteful.
      val init = Tables.embeddings(s, d).filter($"vec_id" % 2 === 0)
        .select($"vec_id", ($"vec_id" % 4).as("cid"))
      val aEven = f.checkpoint(
        assignTo(evens, meansOf(evens, assignTo(evens, meansOf(evens, init)))))
      // The MAINTAINED state: mergeable per-(cluster, dim) stats.
      val statsEven = f.checkpoint(evens.join(aEven, Seq("vec_id"))
        .groupBy($"cid", $"dim")
        .agg(sum($"x".cast("decimal(30,6)")).as("sx"),
          count($"x").as("n")))
      val cEven = statsEven
        .select($"cid", $"dim", ($"sx".cast("double") / $"n").as("c"))
      // Delta: assign odds to the FROZEN epoch-0 centroids, fold in
      // by stats addition.
      val aOdd = f.checkpoint(assignTo(odds, cEven))
      val statsOdd = odds.join(aOdd, Seq("vec_id"))
        .groupBy($"cid", $"dim")
        .agg(sum($"x".cast("decimal(30,6)")).as("sx"), count($"x").as("n"))
      val merged = statsEven.unionByName(statsOdd)
        .groupBy($"cid", $"dim")
        .agg(sum($"sx").as("sx"), sum($"n").as("n"))
        .select($"cid", $"dim", ($"sx".cast("double") / $"n").as("cn"))
      val drift = merged.join(cEven, Seq("cid", "dim"))
        .groupBy($"cid")
        .agg(sum((($"cn" - $"c") * ($"cn" - $"c")).cast("decimal(30,12)"))
          .cast("double").as("drift"))
      val members = aEven.unionByName(aOdd)
      // Eager: the readout outlives the scope that frees the hand-off
      // checkpoints.
      Eager(members.groupBy($"cid")
        .agg(count(lit(1)).as("n_vecs"), sum($"vec_id").as("id_checksum"))
        .join(aOdd.groupBy($"cid").agg(count(lit(1)).as("n_added")), Seq("cid"), "left")
        .na.fill(0L, Seq("n_added"))
        .join(drift, Seq("cid"))
        .select($"cid".cast("long").as("cid"), $"n_vecs", $"n_added",
          $"id_checksum", $"drift")
        .orderBy($"cid"))
    },
    Some("""WITH long AS (
           |  SELECT vec_id, CAST(unnest(range(len(v))) AS INT) AS dim, unnest(v) AS x
           |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)),
           |ev AS (SELECT * FROM long WHERE vec_id % 2 = 0),
           |od AS (SELECT * FROM long WHERE vec_id % 2 = 1),
           |a0 AS (SELECT vec_id, vec_id % 4 AS cid FROM embeddings WHERE vec_id % 2 = 0),
           |c1 AS (SELECT cid, dim, CAST(sum(CAST(x AS DECIMAL(30,6))) AS DOUBLE) / count(x) AS c
           |  FROM ev JOIN a0 USING (vec_id) GROUP BY cid, dim),
           |d1 AS (SELECT vec_id, cid, sum(CAST((x - c) * (x - c) AS DECIMAL(30,12))) AS dist
           |  FROM ev JOIN c1 USING (dim) GROUP BY vec_id, cid),
           |a1 AS (SELECT vec_id, cid FROM (
           |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
           |    FROM d1) WHERE rn = 1),
           |c2 AS (SELECT cid, dim, CAST(sum(CAST(x AS DECIMAL(30,6))) AS DOUBLE) / count(x) AS c
           |  FROM ev JOIN a1 USING (vec_id) GROUP BY cid, dim),
           |d2 AS (SELECT vec_id, cid, sum(CAST((x - c) * (x - c) AS DECIMAL(30,12))) AS dist
           |  FROM ev JOIN c2 USING (dim) GROUP BY vec_id, cid),
           |a2 AS (SELECT vec_id, cid FROM (
           |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
           |    FROM d2) WHERE rn = 1),
           |ce AS (SELECT cid, dim, CAST(sum(CAST(x AS DECIMAL(30,6))) AS DOUBLE) / count(x) AS c
           |  FROM ev JOIN a2 USING (vec_id) GROUP BY cid, dim),
           |dd AS (SELECT vec_id, cid, sum(CAST((x - c) * (x - c) AS DECIMAL(30,12))) AS dist
           |  FROM od JOIN ce USING (dim) GROUP BY vec_id, cid),
           |ao AS (SELECT vec_id, cid FROM (
           |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
           |    FROM dd) WHERE rn = 1),
           |au AS (SELECT vec_id, cid FROM a2 UNION ALL SELECT vec_id, cid FROM ao),
           |cn AS (SELECT cid, dim, CAST(sum(CAST(x AS DECIMAL(30,6))) AS DOUBLE) / count(x) AS cn
           |  FROM long JOIN au USING (vec_id) GROUP BY cid, dim),
           |dr AS (SELECT cid, CAST(sum(CAST((cn - c) * (cn - c) AS DECIMAL(30,12))) AS DOUBLE) AS drift
           |  FROM cn JOIN ce USING (cid, dim) GROUP BY cid)
           |SELECT CAST(au.cid AS BIGINT) AS cid, count(*) AS n_vecs,
           |  CAST(coalesce(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_added,
           |  CAST(sum(vec_id) AS BIGINT) AS id_checksum,
           |  any_value(drift) AS drift
           |FROM au JOIN dr ON dr.cid = au.cid
           |GROUP BY au.cid ORDER BY cid""".stripMargin),
  )

  /** q243 — recent-history feature assembly: each user's LAST-3 event
    * types in recency order, materialized as one feature string — the
    * "short-term behavior context" column every sequence model's
    * training table carries. Recency rank is a total order (ts DESC,
    * event_id DESC), the top-3 filter is a rank predicate (Spark plans
    * WindowGroupLimit — no full sort survives), and the ordered join
    * uses the rank itself, so the gate pins the exact sequence, not
    * just membership. One user-partitioned window, output |users|
    * rows. */
  val q243 = QuerySpec(
    "q243_recent_history_features",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      Tables.events(s, d)
        .select($"user_id", $"event_type", row_number().over(w).as("rn"))
        .where($"rn" <= 3)
        .groupBy($"user_id")
        .agg(array_join(transform(array_sort(collect_list(struct($"rn", $"event_type"))),
          c => c.getField("event_type")), ",").as("recent3"))
        .orderBy($"user_id")
    },
    Some("""WITH r AS (
           |  SELECT user_id, event_type,
           |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
           |      AS rn
           |  FROM events)
           |SELECT user_id, string_agg(event_type, ',' ORDER BY rn) AS recent3
           |FROM r WHERE rn <= 3 GROUP BY user_id ORDER BY user_id""".stripMargin),
  )

  /** q263 — late-arriving dimension resolution: the fact stream is
    * loaded BEFORE part of its dimension lands (here: every 13th
    * customer is "late"), so the first pass attributes orphan facts to
    * the sentinel UNKNOWN member instead of dropping them (the
    * warehouse-standard default-row pattern — an inner join would
    * silently lose revenue; a bare left join would poison group keys
    * with NULL). When the late dim batch arrives, the reprocessing pass
    * re-attributes exactly the UNKNOWN-parked facts. The readout pins
    * both passes side by side per segment — UNKNOWN's before-count must
    * equal the late customers' order count, its after-count must be
    * zero, and every real segment's delta must be late-members only.
    * Scale: both passes are broadcast joins against the dimension; the
    * reprocess touches only facts whose keys sit in the late-key set
    * (at 100 TB: a semi-join-pruned partition rewrite — q188's dynamic
    * partition overwrite is the write-side half of that path). */
  val q263 = QuerySpec(
    "q263_late_dim_default",
    (s, d) => {
      import s.implicits._
      val cust = Tables.customer(s, d).select($"c_custkey", $"c_mktsegment")
      val early = cust.filter($"c_custkey" % 13L =!= 0L)
      val facts = Tables.orders(s, d).select($"o_custkey", $"o_totalprice")
      def rollup(dim: org.apache.spark.sql.DataFrame, nTag: String, rTag: String) =
        facts.join(broadcast(dim), $"o_custkey" === $"c_custkey", "left")
          .select(coalesce($"c_mktsegment", lit("UNKNOWN")).as("segment"),
            $"o_totalprice")
          .groupBy($"segment")
          .agg(count(lit(1)).as(nTag),
            Det.dsum($"o_totalprice", 2).as(rTag))
      rollup(early, "n_before", "rev_before")
        .join(rollup(cust, "n_after", "rev_after"), Seq("segment"), "full_outer")
        .select($"segment",
          coalesce($"n_before", lit(0L)).as("n_before"),
          coalesce($"n_after", lit(0L)).as("n_after"),
          coalesce($"rev_before", lit(0.0)).as("rev_before"),
          coalesce($"rev_after", lit(0.0)).as("rev_after"))
        .orderBy($"segment")
    },
    Some(s"""WITH early AS (
            |  SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 13 <> 0),
            |before_p AS (
            |  SELECT coalesce(c_mktsegment, 'UNKNOWN') AS segment,
            |    count(*) AS n_before, ${Det.sqlDsum("o_totalprice", 2)} AS rev_before
            |  FROM orders LEFT JOIN early ON o_custkey = c_custkey
            |  GROUP BY 1),
            |after_p AS (
            |  SELECT coalesce(c_mktsegment, 'UNKNOWN') AS segment,
            |    count(*) AS n_after, ${Det.sqlDsum("o_totalprice", 2)} AS rev_after
            |  FROM orders LEFT JOIN customer ON o_custkey = c_custkey
            |  GROUP BY 1)
            |SELECT segment,
            |  coalesce(n_before, 0) AS n_before, coalesce(n_after, 0) AS n_after,
            |  coalesce(rev_before, 0.0) AS rev_before,
            |  coalesce(rev_after, 0.0) AS rev_after
            |FROM before_p FULL JOIN after_p USING (segment)
            |ORDER BY segment""".stripMargin),
  )

  /** q274 — deterministic curriculum interleave: the global training
    * order that (a) shuffles within each source (salted-hash rank — no
    * RNG state), and (b) round-robins ACROSS sources so every batch
    * prefix sees the full mixture (rank-major, source-minor total
    * order) — the data-order half of curriculum/mixture training. The
    * global position comes from [[graft.operators.StableIds]] over
    * (rank, source) — NO single-partition sort. The gate buckets the
    * curriculum into 100-position blocks and pins each block's source
    * breadth (early blocks must already contain every source — the
    * whole point of interleaving) plus a position⊗doc checksum that
    * freezes the exact order. Oracle: the two-window single-partition
    * formulation. */
  val q274 = QuerySpec(
    "q274_curriculum_interleave",
    (s, d) => {
      import s.implicits._
      val ranked = Tables.documents(s, d)
        .select($"doc_id", $"source",
          md5(concat(lit("cur:"), $"doc_id".cast("string")).cast("binary")).as("h"))
        .withColumn("rank", row_number().over(
          Window.partitionBy($"source").orderBy($"h", $"doc_id")) - 1L)
      graft.operators.StableIds
        .withGlobalRowIds(ranked.select($"doc_id", $"source", $"rank"),
          numParts = 8, $"rank", $"source")
        .groupBy(expr("row_id div 100").as("block"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct($"source").as("n_sources"),
          sum($"row_id" * $"doc_id").as("order_checksum"))
        .orderBy($"block")
    },
    Some("""WITH r AS (
           |  SELECT doc_id, source,
           |    row_number() OVER (PARTITION BY source
           |      ORDER BY md5('cur:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rnk
           |  FROM documents),
           |g AS (
           |  SELECT doc_id, source,
           |    row_number() OVER (ORDER BY rnk, source) - 1 AS pos
           |  FROM r)
           |SELECT pos // 100 AS block, count(*) AS n_docs,
           |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           |  CAST(sum(pos * doc_id) AS BIGINT) AS order_checksum
           |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),
  )

  /** q275 — vocabulary ENCODING (q87 builds the vocab; this applies
    * it): ids 0..255 assigned to the top-256 terms by (collection
    * frequency DESC, term) — the deterministic id assignment every
    * tokenizer artifact fixes — then the corpus re-encodes via a
    * BROADCAST dictionary join with OOV → -1 (the fallback id a real
    * tokenizer maps to <unk>). Per-lang readout: token/OOV counts, the
    * Σid encode checksum, and distinct-id usage. Scale: the dictionary
    * is vocab-sized and broadcast — document text NEVER shuffles; the
    * encode is scan + broadcast-hash-join + rollup, which is why
    * tokenization parallelizes embarrassingly at 100 TB. */
  val q275 = QuerySpec(
    "q275_vocab_encode",
    (s, d) => {
      import s.implicits._
      val terms = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", $"lang",
          explode(graft.functions.TextFns.tokens($"text")).as("term"))
        .filter(char_length($"term") > 0)
      val vocab = terms.groupBy($"term").agg(count(lit(1)).as("cf"))
        .withColumn("id", row_number().over(
          Window.orderBy($"cf".desc, $"term")) - 1L)
        .filter($"id" < 256L)
        .select($"term", $"id")
      terms.join(broadcast(vocab), Seq("term"), "left")
        .select($"lang", coalesce($"id", lit(-1L)).as("id"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_tokens"),
          count(when($"id" === -1L, 1)).as("n_oov"),
          sum(when($"id" >= 0L, $"id").otherwise(0L)).as("id_checksum"),
          countDistinct(when($"id" >= 0L, $"id")).as("n_ids_used"))
        .orderBy($"lang")
    },
    Some("""WITH t2 AS (
           |  SELECT doc_id, lang,
           |    unnest(regexp_split_to_array(lower(text), '\s+')) AS term
           |  FROM documents),
           |t AS (SELECT doc_id, lang, term FROM t2 WHERE len(term) > 0),
           |v AS (
           |  SELECT term, row_number() OVER (ORDER BY count(*) DESC, term) - 1 AS id
           |  FROM t GROUP BY term QUALIFY id < 256)
           |SELECT lang, count(*) AS n_tokens,
           |  CAST(count(CASE WHEN v.id IS NULL THEN 1 END) AS BIGINT) AS n_oov,
           |  CAST(sum(CASE WHEN v.id IS NOT NULL THEN v.id ELSE 0 END) AS BIGINT)
           |    AS id_checksum,
           |  CAST(count(DISTINCT v.id) AS BIGINT) AS n_ids_used
           |FROM t LEFT JOIN v USING (term)
           |GROUP BY lang ORDER BY lang""".stripMargin),
  )

  /** q317 — deterministic negative sampling (the contrastive-training
    * prep step: every (user, item) recommender/embedding objective
    * needs non-interactions, and they must be reproducible across
    * reruns or the loss is noise): items = (event_type, hour-of-day)
    * slots, candidate negatives = user × the broadcast item domain
    * ANTI-JOIN observed interactions, then exactly 8 kept per user by
    * smallest md5(user:item) — a pure function of the data, no RNG.
    * Scale: the cross is |users|·|domain| (domain is the tiny side,
    * broadcast), the anti join is key-sized, and the per-user top-8 is
    * a bounded window over ≤|domain| rows — nothing quadratic in
    * events. */
  val q317 = QuerySpec(
    "q317_negative_sampling",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
        .select($"user_id", $"event_type", hour($"ts").cast("long").as("hh"))
      val items = ev.select($"event_type", $"hh").distinct()
      val users = ev.select($"user_id").distinct()
      val observed = ev.select($"user_id", $"event_type", $"hh").distinct()
      val h = md5(concat_ws(":", $"user_id", $"event_type", $"hh").cast("binary"))
      val negs = users.crossJoin(broadcast(items))
        .join(observed, Seq("user_id", "event_type", "hh"), "left_anti")
        .withColumn("rk", row_number().over(
          Window.partitionBy($"user_id").orderBy(h, $"event_type", $"hh")))
        .filter($"rk" <= 8)
      negs.groupBy($"event_type")
        .agg(count(lit(1)).as("n_neg"),
          sum($"user_id" * $"hh").as("slot_checksum"))
        .orderBy($"event_type")
    },
    Some("""WITH ev AS (
           |  SELECT user_id, event_type, CAST(hour(ts) AS BIGINT) AS hh
           |  FROM events),
           |items AS (SELECT DISTINCT event_type, hh FROM ev),
           |users AS (SELECT DISTINCT user_id FROM ev),
           |obs AS (SELECT DISTINCT user_id, event_type, hh FROM ev),
           |cand AS (
           |  SELECT u.user_id, t.event_type, t.hh,
           |    md5(u.user_id || ':' || t.event_type || ':' || t.hh) AS h
           |  FROM users u CROSS JOIN items t
           |  WHERE NOT EXISTS (SELECT 1 FROM obs o
           |    WHERE o.user_id = u.user_id AND o.event_type = t.event_type
           |      AND o.hh = t.hh)),
           |ranked AS (
           |  SELECT user_id, event_type, hh,
           |    row_number() OVER (PARTITION BY user_id ORDER BY h, event_type, hh) AS rk
           |  FROM cand)
           |SELECT event_type, count(*) AS n_neg,
           |  CAST(sum(user_id * hh) AS BIGINT) AS slot_checksum
           |FROM ranked WHERE rk <= 8
           |GROUP BY event_type ORDER BY event_type""".stripMargin),
  )

  /** q318 — inter-labeler agreement (Cohen's kappa), exact: two weak
    * labelers every corpus pipeline actually runs (length-band vs
    * min-token heuristics, q88's stages) scored for chance-corrected
    * agreement before either is trusted as training signal. κ =
    * (pₒ−pₑ)/(1−pₑ) collapses to the integer rational
    * (n·agree − s)/(n² − s) with s = a₁b₁ + a₀b₀ — one 1-row
    * sufficient-statistics aggregate per language, κ in exact milli
    * by truncating div. Agreement without chance correction (raw pₒ)
    * is reported beside it — the gap IS the lesson kappa encodes. */
  val q318 = QuerySpec(
    "q318_labeler_agreement_kappa",
    (s, d) => {
      import s.implicits._
      val toks = graft.functions.TextFns.tokens($"text")
      val lab = Tables.documents(s, d)
        .select($"lang",
          $"n_chars".between(100, 2000).as("la"),
          (size(filter(toks, t => char_length(t) > 0)) >= 30).as("lb"))
      lab.groupBy($"lang")
        .agg(count(lit(1)).as("n"),
          sum(when($"la" === $"lb", 1L).otherwise(0L)).as("agree"),
          sum(when($"la", 1L).otherwise(0L)).as("a1"),
          sum(when($"lb", 1L).otherwise(0L)).as("b1"))
        .withColumn("s", $"a1" * $"b1" + ($"n" - $"a1") * ($"n" - $"b1"))
        .select($"lang", $"n", $"agree",
          expr("agree * 1000000L div n").as("po_ppm"),
          expr("s * 1000000L div (n * n)").as("pe_ppm"),
          // pe = 1 (a stratum where both labelers are constant) makes
          // n²−s zero; nullif degrades to NULL κ instead of an ANSI
          // divide-by-zero on either engine (round-6 ADVICE).
          expr("(n * agree - s) * 1000L div nullif(n * n - s, 0L)").as("kappa_milli"))
        .orderBy($"lang")
    },
    Some("""WITH lab AS (
           |  SELECT lang, n_chars BETWEEN 100 AND 2000 AS la,
           |    len(list_filter(regexp_split_to_array(lower(text), '\s+'),
           |      x -> len(x) > 0)) >= 30 AS lb
           |  FROM documents),
           |st AS (
           |  SELECT lang, count(*) AS n,
           |    CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS agree,
           |    CAST(sum(CASE WHEN la THEN 1 ELSE 0 END) AS BIGINT) AS a1,
           |    CAST(sum(CASE WHEN lb THEN 1 ELSE 0 END) AS BIGINT) AS b1
           |  FROM lab GROUP BY lang)
           |SELECT lang, n, agree,
           |  agree * 1000000 // n AS po_ppm,
           |  (a1 * b1 + (n - a1) * (n - b1)) * 1000000 // (n * n) AS pe_ppm,
           |  (n * agree - (a1 * b1 + (n - a1) * (n - b1))) * 1000
           |    // nullif(n * n - (a1 * b1 + (n - a1) * (n - b1)), 0) AS kappa_milli
           |FROM st ORDER BY lang""".stripMargin),
  )

  /** q328 — leave-one-source-out ablation readout: for every source,
    * the corpus-level statistics WITHOUT it — the cheap first pass of
    * data valuation (which source moves the mixture most when pulled),
    * computed as complements of ONE grouped frame against its own
    * rollup: rest = global − source, never a per-source rescan (the
    * naive formulation reads the corpus |sources| times — the 1× vs
    * 20× I/O difference at 100 TB). Deltas vs the full corpus reported
    * in exact milli/ppm integers. */
  val q328 = QuerySpec(
    "q328_source_ablation",
    (s, d) => {
      import s.implicits._
      val per = Tables.documents(s, d)
        .groupBy($"source")
        .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"),
          sum(when($"lang" === "en", 1L).otherwise(0L)).as("n_en"))
      val glob = per.agg(sum($"n").as("gn"), sum($"chars").as("gchars"),
        sum($"n_en").as("gen"))
      per.crossJoin(broadcast(glob))
        .select($"source",
          ($"gn" - $"n").as("n_rest"),
          expr("(gchars - chars) * 1000L div (gn - n)").as("mean_chars_milli_rest"),
          expr("(gen - n_en) * 1000000L div (gn - n)").as("en_ppm_rest"),
          (expr("(gchars - chars) * 1000L div (gn - n)")
            - expr("gchars * 1000L div gn")).as("mean_shift_milli"),
          (expr("(gen - n_en) * 1000000L div (gn - n)")
            - expr("gen * 1000000L div gn")).as("en_shift_ppm"))
        .orderBy($"source")
    },
    Some("""WITH per AS (
           |  SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars,
           |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
           |  FROM documents GROUP BY source),
           |g AS (SELECT CAST(sum(n) AS BIGINT) AS gn,
           |  CAST(sum(chars) AS BIGINT) AS gchars,
           |  CAST(sum(n_en) AS BIGINT) AS gen FROM per)
           |SELECT source, gn - n AS n_rest,
           |  (gchars - chars) * 1000 // (gn - n) AS mean_chars_milli_rest,
           |  (gen - n_en) * 1000000 // (gn - n) AS en_ppm_rest,
           |  (gchars - chars) * 1000 // (gn - n) - gchars * 1000 // gn
           |    AS mean_shift_milli,
           |  (gen - n_en) * 1000000 // (gn - n) - gen * 1000000 // gn
           |    AS en_shift_ppm
           |FROM per CROSS JOIN g ORDER BY source""".stripMargin),
  )

  /** q330 — cross-source quantile normalization (the batch-effect
    * remover: per-source length distributions are forced onto one
    * pooled reference so downstream filters don't encode source
    * artifacts): each doc maps to its source-relative equi-depth
    * decile ((rn−1)·10 div n_src — q215's binning), and the reference
    * value for a decile is the exact lower median of the POOLED values
    * landing in it (q269's rank-pick). Output per (source, decile):
    * count, source-local bounds, and the normalized reference value
    * the source's docs would be rewritten to. Scale: per-source rank
    * windows parallelize across sources; the pooled median runs per
    * decile partition. */
  val q330 = QuerySpec(
    "q330_quantile_normalize",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val wSrc = Window.partitionBy($"source").orderBy($"n_chars", $"doc_id")
      val binned = Tables.documents(s, d)
        .select($"source", $"doc_id", $"n_chars")
        .withColumn("rn", row_number().over(wSrc))
        .withColumn("n_src", count(lit(1)).over(Window.partitionBy($"source")))
        .withColumn("decile", expr("(rn - 1) * 10L div n_src"))
      val wBin = Window.partitionBy($"decile").orderBy($"n_chars", $"doc_id")
      val ref = binned
        .withColumn("brn", row_number().over(wBin))
        .withColumn("bn", count(lit(1)).over(Window.partitionBy($"decile")))
        .filter(expr("brn = (bn + 1L) div 2L"))
        .select($"decile", $"n_chars".as("ref_chars"))
      binned.groupBy($"source", $"decile")
        .agg(count(lit(1)).as("n"), min($"n_chars").as("lo"),
          max($"n_chars").as("hi"))
        .join(broadcast(ref), Seq("decile"))
        .select($"source", $"decile", $"n", $"lo", $"hi", $"ref_chars")
        .orderBy($"source", $"decile")
    },
    Some("""WITH b AS (
           |  SELECT source, doc_id, n_chars,
           |    (row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
           |      - 1) * 10
           |      // (count(*) OVER (PARTITION BY source)) AS decile
           |  FROM documents),
           |ref AS (
           |  SELECT decile, n_chars AS ref_chars FROM (
           |    SELECT decile, n_chars, doc_id,
           |      row_number() OVER (PARTITION BY decile ORDER BY n_chars, doc_id)
           |        AS brn,
           |      count(*) OVER (PARTITION BY decile) AS bn
           |    FROM b)
           |  WHERE brn = (bn + 1) // 2)
           |SELECT source, decile, count(*) AS n,
           |  CAST(min(n_chars) AS BIGINT) AS lo, CAST(max(n_chars) AS BIGINT) AS hi,
           |  CAST(max(ref_chars) AS BIGINT) AS ref_chars
           |FROM b JOIN ref USING (decile)
           |GROUP BY source, decile ORDER BY source, decile""".stripMargin),
  )

  /** q347 — skip-gram pair census (window ±2): the (center, context)
    * co-occurrence counts word-vector training consumes — the corpus
    * statistic behind word2vec-style negative sampling tables. Pairs
    * are emitted ARRAY-SIDE (a higher-order transform over each token
    * array — j ranges i+1..i+2), so the fan-out is a linear 2× of
    * token count with NO join and no per-doc quadratic; the only
    * shuffle is the pair-vocabulary-sized count aggregate, map-side
    * combined. Top-50 by count with full lexical tie-break. */
  val q347 = QuerySpec(
    "q347_skipgram_pairs",
    (s, d) => {
      import s.implicits._
      val t = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select(graft.functions.TextFns.tokens($"text").as("t"))
        .filter(size($"t") >= 2)
      t.select(explode(expr(
          """flatten(transform(sequence(0, size(t)-2),
            |  i -> transform(sequence(i+1, least(i+2, size(t)-1)),
            |    j -> struct(t[i] AS w1, t[j] AS w2))))""".stripMargin)).as("p"))
        .select($"p.w1".as("w1"), $"p.w2".as("w2"))
        .groupBy($"w1", $"w2")
        .agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"w1", $"w2")
        .limit(50)
    },
    Some("""WITH t AS (
           |  SELECT regexp_split_to_array(lower(text), '\s+') AS t
           |  FROM documents
           |  WHERE len(regexp_split_to_array(lower(text), '\s+')) >= 2),
           |p AS (
           |  SELECT unnest(flatten(list_transform(generate_series(1, len(t)-1),
           |    i -> list_transform(generate_series(i+1, least(i+2, len(t))),
           |      j -> {'w1': t[i], 'w2': t[j]})))) AS p
           |  FROM t)
           |SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS cnt
           |FROM p GROUP BY 1, 2 ORDER BY cnt DESC, w1, w2 LIMIT 50""".stripMargin),
  )

  /** q348 — class-balanced downsampling: every language stratum capped
    * to the SMALLEST stratum's size m, members selected by salted-hash
    * rank (md5 order, doc_id tie-break) — deterministic, seedless, and
    * growth-stable (a member stays selected as unrelated rows arrive,
    * until m itself changes). The classic rebalance before training a
    * classifier on skewed labels. One window rank per stratum + a
    * lang-sized count frame broadcast back; selection proof ships as
    * an md5-prefix checksum (q305's 6-hex headroom discipline). */
  val q348 = QuerySpec(
    "q348_class_balance_downsample",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select($"lang", $"doc_id")
      val counts = docs.groupBy($"lang").agg(count(lit(1)).as("cnt"))
        .withColumn("m", min($"cnt").over(Window.partitionBy()))
      val ranked = docs.withColumn("rn", row_number().over(
        Window.partitionBy($"lang")
          .orderBy(md5($"doc_id".cast("string").cast("binary")), $"doc_id")))
      ranked.join(broadcast(counts), Seq("lang"))
        .filter($"rn" <= $"m")
        .groupBy($"lang")
        .agg(count(lit(1)).as("kept"),
          sum(conv(substring(md5($"doc_id".cast("string").cast("binary")), 1, 6), 16, 10)
            .cast("long")).as("kept_checksum"))
        .orderBy($"lang")
    },
    Some("""WITH counts AS (
           |  SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
           |m AS (SELECT min(cnt) AS m FROM counts),
           |ranked AS (
           |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
           |    ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
           |  FROM documents)
           |SELECT lang, count(*) AS kept,
           |  CAST(sum(CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 6) AS BIGINT))
           |    AS BIGINT) AS kept_checksum
           |FROM ranked, m WHERE rn <= m
           |GROUP BY lang ORDER BY lang""".stripMargin),
  )

  /** q351 — temporal train/valid/test split audit: fixed time cutoffs
    * (the only split that respects causality for forecasting tasks),
    * with per-split volume/user stats and the leakage readout every
    * temporal split needs: how many users span both train and test —
    * the population for whom user-level memorization can leak across
    * the boundary. One pass for the split stats; the user-overlap is a
    * user-sized conditional aggregate crossed back (1 row). */
  val q351 = QuerySpec(
    "q351_temporal_split_audit",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d).select($"event_id", $"user_id", $"ts")
        .withColumn("split",
          when($"ts" < lit("2024-01-10 00:00:00").cast("timestamp"), "train")
            .when($"ts" < lit("2024-01-20 00:00:00").cast("timestamp"), "valid")
            .otherwise("test"))
      val stats = ev.groupBy($"split")
        .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("n_users"),
          min(unix_micros($"ts")).as("lo_us"), max(unix_micros($"ts")).as("hi_us"))
      val leak = ev.groupBy($"user_id")
        .agg(max(when($"split" === "train", 1).otherwise(0)).as("in_tr"),
          max(when($"split" === "test", 1).otherwise(0)).as("in_te"))
        .agg(sum(when($"in_tr" === 1 && $"in_te" === 1, 1L).otherwise(0L))
          .as("leak_users"))
      stats.crossJoin(broadcast(leak)).orderBy($"split")
    },
    Some("""WITH ev AS (
           |  SELECT event_id, user_id, ts,
           |    CASE WHEN ts < TIMESTAMP '2024-01-10' THEN 'train'
           |         WHEN ts < TIMESTAMP '2024-01-20' THEN 'valid'
           |         ELSE 'test' END AS split
           |  FROM events),
           |stats AS (
           |  SELECT split, count(*) AS n,
           |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           |    min(epoch_us(ts)) AS lo_us, max(epoch_us(ts)) AS hi_us
           |  FROM ev GROUP BY 1),
           |leak AS (
           |  SELECT CAST(sum(CASE WHEN in_tr = 1 AND in_te = 1 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS leak_users
           |  FROM (SELECT user_id,
           |      max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_tr,
           |      max(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS in_te
           |    FROM ev GROUP BY user_id))
           |SELECT s.split, s.n, s.n_users, s.lo_us, s.hi_us, l.leak_users
           |FROM stats s, leak l ORDER BY s.split""".stripMargin),
  )

  /** q387 — DSIR-style importance selection over hashed bigram
    * features (Xie et al.'s data-selection-via-importance-resampling
    * recipe, public): score every raw doc by how much its n-gram
    * profile looks like the TARGET distribution (here: the quality-
    * gated slice of the corpus) vs the raw corpus, then take the head.
    * Log-free exact-integer variant — DSIR's log-ratio weight is
    * replaced by the frequency-DIFFERENCE inner product
    * score(doc) = Σ_b c_doc(b)·(ppm_target(b) − ppm_raw(b)) over 256
    * hashed buckets (first two md5 hex chars, the q101 hashing-trick
    * dims squared), because cross-engine ln() drifts by ulps (the
    * Search.scala rule) while ppm differences are BIGINT-exact.
    * Shape: one bigram explode → ONE (doc, bucket) shuffle; the
    * 256-row bucket frequency frame broadcasts back onto it, per-doc
    * scores reduce in the same agg, TakeOrdered(15) — no corpus-sized
    * sort, no dictionary, membership stable under growth (q60's
    * hashing argument applied to selection). */
  val q387 = QuerySpec(
    "q387_dsir_importance_select",
    (s, d) => {
      import s.implicits._
      val toks = filter(graft.functions.TextFns.tokens($"text"),
        t => char_length(t) > 0)
      val w = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", $"source", toks.as("toks"),
          when($"lang".isin("en", "es") && $"n_chars".between(100, 2000), 1L)
            .otherwise(0L).as("target_flag"))
        .filter(size($"toks") >= 2)
      val bg = w.select($"doc_id", $"source", $"target_flag",
        explode(expr(
          "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i+1]))"
        )).as("g"))
      val hex = lit("0123456789abcdef")
      val docbuck = bg
        .withColumn("bucket",
          ((instr(hex, substring(md5($"g".cast("binary")), 1, 1)) - 1) * 16 +
            instr(hex, substring(md5($"g".cast("binary")), 2, 1)) - 1).cast("long"))
        .groupBy($"doc_id", $"source", $"target_flag", $"bucket")
        .agg(count(lit(1)).as("c"))
      val buck = docbuck.groupBy($"bucket")
        .agg(sum($"c").as("r_n"),
          sum(when($"target_flag" === 1L, $"c").otherwise(0L)).as("t_n"))
      val tot = buck.agg(sum($"t_n").as("t_tot"), sum($"r_n").as("r_tot"))
      val diff = buck.crossJoin(broadcast(tot))
        .select($"bucket",
          expr("t_n * 1000000L div t_tot - r_n * 1000000L div r_tot")
            .as("diff_ppm"))
      docbuck.join(broadcast(diff), Seq("bucket"))
        .groupBy($"doc_id", $"source", $"target_flag")
        .agg(sum($"c").as("n_bigrams"), sum($"c" * $"diff_ppm").as("score"))
        .select($"doc_id", $"source", $"target_flag", $"n_bigrams", $"score")
        .orderBy($"score".desc, $"doc_id")
        .limit(15)
    },
    Some("""WITH w AS (
           |  SELECT doc_id, source,
           |    list_filter(regexp_split_to_array(lower(text), '\s+'),
           |      x -> len(x) > 0) AS toks,
           |    CASE WHEN lang IN ('en','es') AND n_chars BETWEEN 100 AND 2000
           |      THEN 1 ELSE 0 END AS target_flag
           |  FROM documents),
           |bg AS (
           |  SELECT doc_id, source, target_flag,
           |    unnest(list_transform(generate_series(1, len(toks) - 1),
           |      i -> toks[i] || ' ' || toks[i+1])) AS g
           |  FROM w WHERE len(toks) >= 2),
           |docbuck AS (
           |  SELECT doc_id, source, target_flag,
           |    CAST((strpos('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 16
           |      + strpos('0123456789abcdef', substr(md5(g), 2, 1)) - 1
           |      AS BIGINT) AS bucket,
           |    count(*) AS c
           |  FROM bg GROUP BY 1, 2, 3, 4),
           |buck AS (
           |  SELECT bucket, CAST(sum(c) AS BIGINT) AS r_n,
           |    CAST(sum(CASE WHEN target_flag = 1 THEN c ELSE 0 END) AS BIGINT)
           |      AS t_n
           |  FROM docbuck GROUP BY 1),
           |d AS (
           |  SELECT bucket,
           |    CAST(t_n * 1000000 // (SELECT sum(t_n) FROM buck)
           |      - r_n * 1000000 // (SELECT sum(r_n) FROM buck) AS BIGINT)
           |      AS diff_ppm
           |  FROM buck)
           |SELECT db.doc_id, db.source, CAST(db.target_flag AS BIGINT) AS target_flag,
           |  CAST(sum(db.c) AS BIGINT) AS n_bigrams,
           |  CAST(sum(db.c * d.diff_ppm) AS BIGINT) AS score
           |FROM docbuck db JOIN d ON db.bucket = d.bucket
           |GROUP BY 1, 2, 3
           |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin),
  )

  /** q397 — Heaps-law vocabulary-growth audit: distinct 3-shingle
    * vocabulary at halving doc_id checkpoints (max/8, /4, /2, all) with
    * vocab-per-doc ppm — the sublinearity readout that sizes tokenizer
    * vocab and dedup dictionaries before a full ingest. Rank-free
    * exactness trick (q394's move applied to the TIME axis): the
    * vocabulary at any prefix is just the count of shingles whose
    * FIRST-occurrence doc_id (one min-agg per shingle) falls inside it,
    * so all four curve points come from ONE vocabulary-sized frame and
    * a 4-way conditional sum — no per-checkpoint distinct pass, no
    * global sort. doc_id is the ingestion order; checkpoints are
    * id-threshold cuts, not row counts, so no rank window exists
    * anywhere in the plan. */
  val q397 = QuerySpec(
    "q397_vocab_growth_curve",
    (s, d) => {
      import s.implicits._
      val docs = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
      val fm = docs
        .select($"doc_id", graft.functions.TextFns.tokens($"text").as("t"))
        .filter(size($"t") >= 3)
        .select($"doc_id",
          explode(array_distinct(graft.functions.TextFns.shingles3("t"))).as("g"))
        .groupBy($"g").agg(min($"doc_id").as("fd"))
      val mx = docs.agg(max($"doc_id").as("mid"))
      val vs = fm.crossJoin(broadcast(mx)).agg(
        sum(when($"fd" <= expr("mid div 8"), 1L).otherwise(0L)).as("v8"),
        sum(when($"fd" <= expr("mid div 4"), 1L).otherwise(0L)).as("v4"),
        sum(when($"fd" <= expr("mid div 2"), 1L).otherwise(0L)).as("v2"),
        count(lit(1)).as("v1"))
      val ds = docs.crossJoin(broadcast(mx)).agg(
        first($"mid").as("mid"),
        sum(when($"doc_id" <= expr("mid div 8"), 1L).otherwise(0L)).as("d8"),
        sum(when($"doc_id" <= expr("mid div 4"), 1L).otherwise(0L)).as("d4"),
        sum(when($"doc_id" <= expr("mid div 2"), 1L).otherwise(0L)).as("d2"),
        count(lit(1)).as("d1"))
      ds.crossJoin(broadcast(vs))
        .select(expr(
          """stack(4,
            |  8L, mid div 8, d8, v8,
            |  4L, mid div 4, d4, v4,
            |  2L, mid div 2, d2, v2,
            |  1L, mid,       d1, v1) AS (denom, doc_id_thr, n_docs, vocab)""".stripMargin))
        .select($"denom", $"doc_id_thr", $"n_docs", $"vocab",
          expr("vocab * 1000000 div nullif(n_docs, 0)").as("vocab_per_doc_ppm"))
        .orderBy($"denom".desc)
    },
    Some("""WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM documents),
           |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(t)-2),
           |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
           |       FROM toks WHERE len(t) >= 3),
           |fm AS (SELECT g, min(doc_id) AS fd FROM sh GROUP BY g),
           |mx AS (SELECT max(doc_id) AS mid FROM documents),
           |ck AS (SELECT k, (SELECT mid FROM mx) // k AS thr FROM (SELECT unnest([8, 4, 2, 1]) AS k)),
           |dc AS (SELECT k, thr, (SELECT count(*) FROM documents WHERE doc_id <= thr) AS n_docs FROM ck)
           |SELECT CAST(dc.k AS BIGINT) AS denom, CAST(dc.thr AS BIGINT) AS doc_id_thr,
           |  CAST(dc.n_docs AS BIGINT) AS n_docs,
           |  CAST((SELECT count(*) FROM fm WHERE fd <= dc.thr) AS BIGINT) AS vocab,
           |  CAST((SELECT count(*) FROM fm WHERE fd <= dc.thr) * 1000000 // nullif(dc.n_docs, 0) AS BIGINT) AS vocab_per_doc_ppm
           |FROM dc ORDER BY denom DESC""".stripMargin),
  )

  /** q403 — sampling-temperature sweep (q110 generalized to a CURVE):
    * mixture share per source under τ ∈ {0.25, 0.5, 1.0}, the
    * multilingual up/down-sampling knob. The float hazard q110 dodged
    * with sqrt is dodged again by choosing sqrt-COMPOSABLE exponents
    * (n^0.25 = sqrt∘sqrt, n^0.5 = sqrt, n^1 = n) — no pow(), whose
    * libm differs across engines. Each weight quantizes to an integer
    * u6 (⌊n^τ·10⁶⌋, identical IEEE sqrt+floor on both engines), so the
    * share arithmetic is exact integer ppm. One source census, then a
    * 3·|sources|-row decision frame — the "which temperature flattens
    * the mixture enough" readout beside q110's executed sample. */
  val q403 = QuerySpec(
    "q403_temperature_sweep",
    (s, d) => {
      import s.implicits._
      val c = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .groupBy($"source").agg(count(lit(1)).as("n"))
      val w = c.select($"source", $"n", explode(array(
          struct(lit(250L).as("tau_milli"),
            expr("cast(floor(sqrt(sqrt(cast(n as double))) * 1000000) as bigint)").as("w")),
          struct(lit(500L).as("tau_milli"),
            expr("cast(floor(sqrt(cast(n as double)) * 1000000) as bigint)").as("w")),
          struct(lit(1000L).as("tau_milli"),
            expr("cast(n * 1000000 as bigint)").as("w")))).as("x"))
        .select($"source", $"n", $"x.tau_milli", $"x.w")
      val tot = w.groupBy($"tau_milli").agg(sum($"w").as("tw"))
      w.join(broadcast(tot), Seq("tau_milli"))
        .select($"tau_milli", $"source", $"n".as("n_docs"), $"w",
          expr("w * 1000000 div tw").as("share_ppm"))
        .orderBy($"tau_milli", $"source")
    },
    Some("""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
           |w AS (
           |  SELECT source, n, 250 AS tau_milli,
           |    CAST(floor(sqrt(sqrt(CAST(n AS DOUBLE))) * 1000000) AS BIGINT) AS w FROM c
           |  UNION ALL
           |  SELECT source, n, 500,
           |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) FROM c
           |  UNION ALL
           |  SELECT source, n, 1000, CAST(n * 1000000 AS BIGINT) FROM c),
           |tot AS (SELECT tau_milli, sum(w) AS tw FROM w GROUP BY 1)
           |SELECT CAST(w.tau_milli AS BIGINT) AS tau_milli, w.source,
           |  CAST(w.n AS BIGINT) AS n_docs, w.w,
           |  CAST(w.w * 1000000 // tot.tw AS BIGINT) AS share_ppm
           |FROM w JOIN tot USING (tau_milli)
           |ORDER BY tau_milli, source""".stripMargin),
  )

  /** q409 — eval-holdout builder with per-cell coverage guarantees:
    * q65's hash-threshold sampling guarantees a RATE, not a FLOOR — a
    * thin (lang × source) cell can draw zero eval docs and that slice
    * of the model is never measured. This selects the k=2 LOWEST
    * salted-hash docs per cell (deterministic, growth-stable: a doc's
    * rank only changes when smaller hashes arrive, and min(k, n) is
    * always taken), reporting per cell the eval count, the DEFICIT for
    * cells thinner than k (the "this slice is unmeasurable" flag), and
    * an id checksum pinning membership. The rank window partitions by
    * cell — thousands of small groups, the healthy window shape. */
  val q409 = QuerySpec(
    "q409_eval_coverage_holdout",
    (s, d) => {
      import s.implicits._
      val r = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", $"lang", $"source",
          md5(concat(lit("e|"), $"doc_id".cast("string")).cast("binary")).as("hk"))
      val w = r.withColumn("rn", row_number().over(
        Window.partitionBy($"lang", $"source").orderBy($"hk", $"doc_id")))
      w.groupBy($"lang", $"source")
        .agg(count(lit(1)).as("n_total"),
          sum(when($"rn" <= 2, 1L).otherwise(0L)).as("n_eval"),
          greatest(lit(2L) - count(lit(1)), lit(0L)).as("deficit"),
          sum(when($"rn" <= 2, $"doc_id")).as("eval_id_checksum"))
        .orderBy($"lang", $"source")
    },
    Some("""WITH r AS (SELECT doc_id, lang, source,
           |    md5('e|' || CAST(doc_id AS VARCHAR)) AS hk FROM documents),
           |w AS (SELECT *, row_number() OVER
           |    (PARTITION BY lang, source ORDER BY hk, doc_id) AS rn FROM r)
           |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_total,
           |  CAST(count(*) FILTER (WHERE rn <= 2) AS BIGINT) AS n_eval,
           |  CAST(greatest(2 - count(*), 0) AS BIGINT) AS deficit,
           |  CAST(sum(doc_id) FILTER (WHERE rn <= 2) AS BIGINT) AS eval_id_checksum
           |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
  )

  /** q411 — span-corruption prep census (the T5/UL2 denoising recipe's
    * mask plan, statically audited): tokens group into 3-token blocks,
    * a block masks iff the first md5 nibble of (doc_id | block) < 3
    * (3/16 ≈ 19% expected corruption in ≈3-token spans — the T5 shape),
    * and the census reports per source the realized masked ppm, span
    * count, and mean span length in milli-tokens. The mask plan is a
    * pure per-position hash — no RNG state, reproducible across epochs
    * and engines — and the whole computation is in-row array math over
    * POSITIONS (1-based, never indexing the token array), one
    * |sources|-row rollup. */
  val q411 = QuerySpec(
    "q411_span_corruption_prep",
    (s, d) => {
      import s.implicits._
      val m = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", $"source",
          size(filter(graft.functions.TextFns.tokens($"text"),
            t => char_length(t) > 0)).as("n_tok"))
        .withColumn("mp", expr(
          """filter(sequence(1, n_tok), i ->
            |  (instr('0123456789abcdef', substring(md5(cast(
            |     concat(cast(doc_id as string), '|', cast((i + 2) div 3 as string))
            |   as binary)), 1, 1)) - 1) < 3)""".stripMargin))
        .select($"source", $"n_tok", size($"mp").as("n_masked"),
          expr("size(array_distinct(transform(mp, i -> (i + 2) div 3)))").as("n_spans"))
      m.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
          sum($"n_masked").as("n_masked"),
          expr("sum(n_masked) * 1000000 div nullif(sum(n_tok), 0)").as("masked_ppm"),
          sum($"n_spans").as("n_spans"),
          expr("sum(n_masked) * 1000 div nullif(sum(n_spans), 0)").as("mean_span_len_milli"))
        .orderBy($"source")
    },
    Some("""WITH toks AS (SELECT doc_id, source,
           |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS t
           |  FROM documents),
           |m AS (SELECT doc_id, source, len(t) AS n_tok,
           |        list_filter(generate_series(1, len(t)),
           |          i -> (strpos('0123456789abcdef',
           |                 substr(md5(CAST(doc_id AS VARCHAR) || '|' || CAST((i + 2) // 3 AS VARCHAR)), 1, 1)) - 1) < 3) AS mp
           |      FROM toks),
           |s AS (SELECT doc_id, source, n_tok, len(mp) AS n_masked,
           |        len(list_distinct(list_transform(mp, i -> (i + 2) // 3))) AS n_spans
           |      FROM m)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           |  CAST(sum(n_masked) AS BIGINT) AS n_masked,
           |  CAST(sum(n_masked) * 1000000 // nullif(sum(n_tok), 0) AS BIGINT) AS masked_ppm,
           |  CAST(sum(n_spans) AS BIGINT) AS n_spans,
           |  CAST(sum(n_masked) * 1000 // nullif(sum(n_spans), 0) AS BIGINT) AS mean_span_len_milli
           |FROM s GROUP BY source ORDER BY source""".stripMargin),
  )

  /** q412 — Krippendorff's alpha for THREE annotators (q318's kappa
    * stops at two): nominal-metric, complete-data form. Annotators are
    * deterministic hash labelers sharing a lang-derived latent class
    * with 25% hash noise each (so alpha is meaningfully between 0 and
    * 1, ≈0.54). With m=3 raters the observed-disagreement sum collapses
    * to Σ_u d_u (d_u = disagreeing unordered pairs per unit ∈ {0,2,3}),
    * expected disagreement comes from the 3-row class marginals, and
    * alpha = 1 − Do·(n−1)/Σ_{c≠k}n_c·n_k — computed in double from
    * exact BIGINTs (the q389 overflow discipline: cross-products never
    * multiply as int64 at 10¹¹-unit scale). Everything is one corpus
    * pass (labels + d_u in-row), a 3-row marginal agg, and a single
    * output row carrying the exact components beside alpha. */
  val q412 = QuerySpec(
    "q412_krippendorff_alpha",
    (s, d) => {
      import s.implicits._
      val hex = "'0123456789abcdef'"
      def nib(sql: String) = s"(instr($hex, substring(md5(cast($sql as binary)), 1, 1)) - 1)"
      def lab(r: Int) =
        s"CASE WHEN ${nib(s"concat('r$r|', cast(doc_id as string))")} < 12 THEN latent " +
          s"ELSE ${nib(s"concat('n$r|', cast(doc_id as string))")} % 3 END"
      val u = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", expr(s"${nib("lang")} % 3").as("latent"))
        .select($"doc_id", expr(lab(0)).as("l0"), expr(lab(1)).as("l1"),
          expr(lab(2)).as("l2"))
        .withColumn("d_u", expr(
          """cast(if(l0 <> l1, 1, 0) + if(l0 <> l2, 1, 0) + if(l1 <> l2, 1, 0)
            | as bigint)""".stripMargin))
      val vals = u.select($"l0".as("c"))
        .unionAll(u.select($"l1".as("c")))
        .unionAll(u.select($"l2".as("c")))
      val marg = vals.groupBy($"c").agg(count(lit(1)).as("n_c"))
      val cross = marg.as("a").join(marg.as("b"), $"a.c" =!= $"b.c")
        .agg(sum($"a.n_c" * $"b.n_c").as("sum_cross"))
      val tots = u.agg(count(lit(1)).as("n_units"), sum($"d_u").as("do_sum"))
      tots
        .crossJoin(broadcast(marg.agg(sum($"n_c").as("n_values"))))
        .crossJoin(broadcast(cross))
        .select($"n_units", $"n_values", $"do_sum", $"sum_cross",
          round(lit(1.0) - expr("CAST(do_sum AS DOUBLE) * (n_values - 1) / sum_cross"), 6)
            .as("alpha"))
    },
    Some {
      def nib(sql: String) = s"(strpos('0123456789abcdef', substr(md5($sql), 1, 1)) - 1)"
      def lab(r: Int) =
        s"CASE WHEN ${nib(s"'r$r|' || CAST(doc_id AS VARCHAR)")} < 12 THEN latent " +
          s"ELSE ${nib(s"'n$r|' || CAST(doc_id AS VARCHAR)")} % 3 END"
      s"""WITH base AS (SELECT doc_id, ${nib("lang")} % 3 AS latent FROM documents),
         |lab AS (SELECT doc_id, ${lab(0)} AS l0, ${lab(1)} AS l1, ${lab(2)} AS l2 FROM base),
         |u AS (SELECT doc_id,
         |  (CASE WHEN l0 <> l1 THEN 1 ELSE 0 END + CASE WHEN l0 <> l2 THEN 1 ELSE 0 END
         |   + CASE WHEN l1 <> l2 THEN 1 ELSE 0 END) AS d_u, l0, l1, l2 FROM lab),
         |vals AS (SELECT l0 AS c FROM u UNION ALL SELECT l1 FROM u UNION ALL SELECT l2 FROM u),
         |marg AS (SELECT c, count(*) AS n_c FROM vals GROUP BY c),
         |agg AS (SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM u) AS n_units,
         |  (SELECT CAST(sum(d_u) AS BIGINT) FROM u) AS do_sum,
         |  (SELECT CAST(sum(n_c) AS BIGINT) FROM marg) AS n_values,
         |  (SELECT CAST(sum(a.n_c * b.n_c) AS BIGINT) FROM marg a JOIN marg b ON a.c <> b.c) AS sum_cross)
         |SELECT n_units, n_values, do_sum, sum_cross,
         |  round(1.0 - CAST(do_sum AS DOUBLE) * (n_values - 1) / sum_cross, 6) AS alpha
         |FROM agg""".stripMargin
    },
  )

  /** q440 — k-fold cross-validation assignment audit: before trusting a
    * CV estimate, verify the folds themselves — size balance, class
    * (language) balance, and the subtle one: NEAR-DUP LEAKAGE between
    * folds (q358's train/heldout audit generalized to all k×(k−1)
    * boundaries — a doc whose fingerprint cluster spans folds leaks its
    * answer into every other fold's train side). Folds are the salted
    * md5 mod 5 (growth-stable, q60's membership discipline). Per fold:
    * doc count, size-deviation ppm vs N/k, majority language + its
    * share, leaked docs + leak ppm. Two fingerprint-keyed aggregates +
    * |folds|-sized algebra. */
  val q440 = QuerySpec(
    "q440_kfold_assignment_audit",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", $"lang",
          md5(substring(lower($"text"), 1, 40).cast("binary")).as("h"))
        .withColumn("fold",
          (conv(substring(md5(concat(lit("cv|"), $"doc_id".cast("string"))
            .cast("binary")), 1, 2), 16, 10).cast("long") % 5).as("fold"))
      val clus = docs.groupBy($"h")
        .agg(count(lit(1)).as("k_total"), countDistinct($"fold").as("k_folds"))
      val leaked = docs.join(clus, "h")
        .filter($"k_folds" > 1)
        .groupBy($"fold").agg(count(lit(1)).as("n_leaked"))
      val langTop = docs.groupBy($"fold", $"lang").agg(count(lit(1)).as("cl"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"fold").orderBy($"cl".desc, $"lang")))
        .filter($"rn" === 1)
        .select($"fold", $"lang".as("top_lang"), $"cl".as("top_lang_n"))
      val sizes = docs.groupBy($"fold").agg(count(lit(1)).as("n_docs"))
      val tot = sizes.agg(sum($"n_docs").as("n_total"))
      sizes.crossJoin(broadcast(tot))
        .join(broadcast(langTop), "fold")
        .join(broadcast(leaked), Seq("fold"), "left")
        .na.fill(0L, Seq("n_leaked"))
        .select($"fold", $"n_docs",
          expr("abs(n_docs * 5L - n_total) * 1000000L div n_total")
            .as("size_dev_ppm"),
          $"top_lang",
          expr("top_lang_n * 1000000L div n_docs").as("top_lang_ppm"),
          $"n_leaked",
          expr("n_leaked * 1000000L div n_docs").as("leak_ppm"))
        .orderBy($"fold")
    },
    Some("""WITH docs AS (
           |  SELECT doc_id, lang, md5(substring(lower(text), 1, 40)) AS h,
           |    (CAST(strpos('0123456789abcdef', substr(md5('cv|' || doc_id), 1, 1)) - 1 AS BIGINT) * 16
           |     + CAST(strpos('0123456789abcdef', substr(md5('cv|' || doc_id), 2, 1)) - 1 AS BIGINT)) % 5 AS fold
           |  FROM documents),
           |clus AS (SELECT h, count(DISTINCT fold) AS k_folds FROM docs GROUP BY h),
           |leaked AS (SELECT fold, count(*) AS n_leaked
           |  FROM docs JOIN clus USING (h) WHERE k_folds > 1 GROUP BY fold),
           |lt AS (SELECT fold, lang AS top_lang, cl AS top_lang_n FROM (
           |    SELECT fold, lang, count(*) AS cl,
           |      row_number() OVER (PARTITION BY fold ORDER BY count(*) DESC, lang) AS rn
           |    FROM docs GROUP BY fold, lang) WHERE rn = 1),
           |sz AS (SELECT fold, count(*) AS n_docs FROM docs GROUP BY fold),
           |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM sz)
           |SELECT sz.fold, CAST(sz.n_docs AS BIGINT) AS n_docs,
           |  CAST(abs(sz.n_docs * 5 - n_total) * 1000000 // n_total AS BIGINT) AS size_dev_ppm,
           |  lt.top_lang,
           |  CAST(lt.top_lang_n * 1000000 // sz.n_docs AS BIGINT) AS top_lang_ppm,
           |  CAST(coalesce(leaked.n_leaked, 0) AS BIGINT) AS n_leaked,
           |  CAST(coalesce(leaked.n_leaked, 0) * 1000000 // sz.n_docs AS BIGINT) AS leak_ppm
           |FROM sz CROSS JOIN tot
           |JOIN lt ON lt.fold = sz.fold
           |LEFT JOIN leaked ON leaked.fold = sz.fold
           |ORDER BY sz.fold""".stripMargin),
  )

  /** q447 — farthest-first traversal (Gonzalez 1985 k-center greedy):
    * the deterministic seeding/coreset pass k-means++ randomizes —
    * start at the lowest vec_id, then k−1 times pick the vector
    * farthest (max min-distance, micro-quantized, tie → lowest id)
    * from the chosen set, reporting each selection's coverage radius.
    * Squared L2 computed as ‖a‖² + ‖b‖² − 2·a·b with IDENTICAL operand
    * trees on both engines (codegen'd dot, precomputed norms), so the
    * argmax key is engine-exact. Each of the k−1 rounds is one corpus
    * pass against a ≤k-row broadcast center set and collects exactly
    * ONE row (the new center) — bounded driver state by construction,
    * the q341 probe-collect discipline. */
  val q447 = QuerySpec(
    "q447_kcenter_farthest_first",
    (s, d) => {
      import s.implicits._
      import graft.functions.VectorOps.{asDouble, dot, normSq}
      val base = Tables.fanOut(Tables.embeddings(s, d), col("vec_id"))
        .select($"vec_id", asDouble($"embedding").as("emb"))
        .withColumn("n2", normSq($"emb"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val seed = base.orderBy($"vec_id").limit(1)
          .select($"vec_id", $"emb", $"n2").head
        var centers = Seq((seed.getLong(0), seed.getSeq[Double](1), 0L))
        for (_ <- 2 to 4) {
          val cent = s.createDataFrame(
              centers.map { case (id, e, _) => (id, e) })
            .toDF("cid", "cemb")
            .withColumn("cn2", normSq($"cemb"))
          val next = base.crossJoin(broadcast(cent))
            .withColumn("d2_micro",
              floor(lit(1000000.0) * ($"n2" + $"cn2" - lit(2.0) * dot($"emb", $"cemb")))
                .cast("long"))
            .groupBy($"vec_id")
            .agg(min($"d2_micro").as("mind2"), first($"emb").as("emb"))
            .agg(max_by(struct($"vec_id", $"emb"), struct($"mind2", -$"vec_id"))
              .as("pick"), max($"mind2").as("radius"))
            .select($"pick.vec_id", $"pick.emb", $"radius").head
          centers = centers :+ ((next.getLong(0), next.getSeq[Double](1),
            next.getLong(2)))
        }
        val out = centers.zipWithIndex.map { case ((id, _, r), i) =>
          (i + 1, id, r)
        }
        s.createDataFrame(out).toDF("k", "center_id", "radius_d2_micro")
          .select($"k".cast("int").as("k"), $"center_id", $"radius_d2_micro")
          .orderBy($"k")
      } finally base.unpersist(blocking = false)
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
            |    ${Det.sqlNormSq("CAST(embedding AS DOUBLE[])")} AS n2
            |  FROM embeddings),
            |c1 AS (SELECT vec_id, emb, n2 FROM e ORDER BY vec_id LIMIT 1),
            |d1 AS (SELECT e.vec_id, e.emb, e.n2,
            |    CAST(floor(1000000.0 * (e.n2 + c.n2 - 2.0 * ${Det.sqlDot("e.emb", "c.emb")})) AS BIGINT) AS mind2
            |  FROM e CROSS JOIN c1 c),
            |c2 AS (SELECT vec_id, emb, n2, mind2 FROM d1 ORDER BY mind2 DESC, vec_id LIMIT 1),
            |d2 AS (SELECT d1.vec_id, d1.emb, d1.n2,
            |    least(d1.mind2,
            |      CAST(floor(1000000.0 * (d1.n2 + c.n2 - 2.0 * ${Det.sqlDot("d1.emb", "c.emb")})) AS BIGINT)) AS mind2
            |  FROM d1 CROSS JOIN c2 c),
            |c3 AS (SELECT vec_id, emb, n2, mind2 FROM d2 ORDER BY mind2 DESC, vec_id LIMIT 1),
            |d3 AS (SELECT d2.vec_id, d2.n2,
            |    least(d2.mind2,
            |      CAST(floor(1000000.0 * (d2.n2 + c.n2 - 2.0 * ${Det.sqlDot("d2.emb", "c.emb")})) AS BIGINT)) AS mind2
            |  FROM d2 CROSS JOIN c3 c),
            |c4 AS (SELECT vec_id, mind2 FROM d3 ORDER BY mind2 DESC, vec_id LIMIT 1)
            |SELECT CAST(1 AS INT) AS k, (SELECT vec_id FROM c1) AS center_id,
            |  CAST(0 AS BIGINT) AS radius_d2_micro
            |UNION ALL SELECT 2, vec_id, mind2 FROM c2
            |UNION ALL SELECT 3, vec_id, mind2 FROM c3
            |UNION ALL SELECT 4, vec_id, mind2 FROM c4
            |ORDER BY k""".stripMargin),
  )

  /** q456 — out-of-fold target encoding (the leakage-proof categorical
    * feature): encode each market segment by the mean order value
    * computed WITHOUT the encoded fold's own rows — the K-fold
    * discipline that keeps a target encoding from memorizing its own
    * labels (plain per-category means leak; q440 audits folds, this
    * builds the feature on them). Folds are the salted md5 mod 5 on
    * custkey; out-of-fold mean = (segment Σ − fold Σ)/(segment n −
    * fold n) in exact cents (nullif-guarded for a fold owning its whole
    * segment). One orders aggregate to the (segment × fold) frame,
    * segment totals broadcast back. */
  val q456 = QuerySpec(
    "q456_oof_target_encoding",
    (s, d) => {
      import s.implicits._
      val base = Tables.fanOut(Tables.orders(s, d), col("o_custkey"))
        .join(broadcast(Tables.customer(s, d)
          .select($"c_custkey", $"c_mktsegment")), $"o_custkey" === $"c_custkey")
        .select($"c_mktsegment".as("segment"),
          (conv(substring(md5(concat(lit("cv|"), $"o_custkey".cast("string"))
            .cast("binary")), 1, 2), 16, 10).cast("long") % 5).as("fold"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val perFold = base.groupBy($"segment", $"fold")
        .agg(count(lit(1)).as("n_fold"), sum($"cents").as("sum_fold"))
      val perSeg = perFold.groupBy($"segment")
        .agg(sum($"n_fold").as("n_seg"), sum($"sum_fold").as("sum_seg"))
      perFold.join(broadcast(perSeg), "segment")
        .select($"segment", $"fold", $"n_fold",
          expr("(sum_seg - sum_fold) div nullif(n_seg - n_fold, 0L)")
            .as("oof_mean_cents"),
          expr("sum_seg div n_seg").as("full_mean_cents"))
        .withColumn("leakage_gap_cents",
          abs($"oof_mean_cents" - $"full_mean_cents"))
        .orderBy($"segment", $"fold")
    },
    Some("""WITH base AS (
           |  SELECT c_mktsegment AS segment,
           |    (CAST(strpos('0123456789abcdef', substr(md5('cv|' || o_custkey), 1, 1)) - 1 AS BIGINT) * 16
           |     + CAST(strpos('0123456789abcdef', substr(md5('cv|' || o_custkey), 2, 1)) - 1 AS BIGINT)) % 5 AS fold,
           |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           |  FROM orders JOIN customer ON o_custkey = c_custkey),
           |pf AS (SELECT segment, fold, count(*) AS n_fold,
           |    CAST(sum(cents) AS BIGINT) AS sum_fold
           |  FROM base GROUP BY 1, 2),
           |ps AS (SELECT segment, CAST(sum(n_fold) AS BIGINT) AS n_seg,
           |    CAST(sum(sum_fold) AS BIGINT) AS sum_seg FROM pf GROUP BY 1)
           |SELECT pf.segment, pf.fold, pf.n_fold,
           |  CAST((sum_seg - sum_fold) // nullif(n_seg - n_fold, 0) AS BIGINT) AS oof_mean_cents,
           |  CAST(sum_seg // n_seg AS BIGINT) AS full_mean_cents,
           |  CAST(abs((sum_seg - sum_fold) // nullif(n_seg - n_fold, 0)
           |    - sum_seg // n_seg) AS BIGINT) AS leakage_gap_cents
           |FROM pf JOIN ps ON pf.segment = ps.segment
           |ORDER BY pf.segment, pf.fold""".stripMargin),
  )

  /** q499 — VOCABULARY-GROWTH census (the Heaps-law curve a tokenizer
    * budget is planned against: how fast do new types and hapax
    * legomena accumulate as the corpus is ingested in doc-id order —
    * the saturation readout that says whether more data still buys
    * vocabulary coverage). Complements q397, which tracks distinct
    * 3-SHINGLE vocabulary at 4 halving checkpoints via the
    * first-occurrence trick: q397's trick cannot produce the HAPAX
    * tail (that needs per-checkpoint cumulative FREQUENCIES, not first
    * occurrences), and this census works at the TOKEN level — the unit
    * the tokenizer trainer (q463) and the q500 streaming maintainer
    * actually consume. The corpus is cut into 10 doc-id deciles
    * (integer cutoffs — dec(doc) = ⌈10·doc_id/mx⌉, the same floor
    * algebra on both engines) and each checkpoint reports cumulative
    * docs, tokens, distinct types, NEW types first seen in that
    * decile, and hapax count (types with cumulative frequency exactly
    * 1 — the classic tail gauge). Scale: the only corpus-sized shuffle
    * is the (term, decile) census, map-side combined; everything after
    * is vocabulary×10-sized (at web scale that is the vocabulary
    * table any tokenizer trainer materializes anyway — q463's BPE
    * trainer reads the same census). */
  val q499 = QuerySpec(
    "q499_vocab_growth_census",
    (s, d) => {
      import s.implicits._
      val docs = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id",
          filter(graft.functions.TextFns.tokens($"text"),
            t => char_length(t) > 0).as("t"))
      val mx = docs.agg(max($"doc_id").as("mx"))
      val tok = docs.select($"doc_id", explode($"t").as("term"))
        .crossJoin(broadcast(mx))
        .select($"term", expr("(10L * doc_id + mx - 1L) div mx").as("dec"))
      val td = tok.groupBy($"term", $"dec").agg(count(lit(1)).as("cnt"))
      val grid = td.select($"term").distinct()
        .select($"term", explode(sequence(lit(1L), lit(10L))).as("c"))
      val w = Window.partitionBy($"term").orderBy($"c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = grid
        .join(td.withColumnRenamed("dec", "c"), Seq("term", "c"), "left")
        .na.fill(0L, Seq("cnt"))
        .withColumn("cum", sum($"cnt").over(w))
      val perC = cum.filter($"cum" > 0).groupBy($"c")
        .agg(count(lit(1)).as("vocab_size"),
          sum(when($"cum" === 1L, 1L).otherwise(0L)).as("hapax_count"),
          sum(when($"cum" === $"cnt", 1L).otherwise(0L)).as("new_types"))
      val dd = docs.crossJoin(broadcast(mx))
        .select(expr("(10L * doc_id + mx - 1L) div mx").as("dec"),
          size($"t").cast("long").as("ntok"))
        .groupBy($"dec").agg(count(lit(1)).as("nd"), sum($"ntok").as("nt"))
      val cg = s.range(1, 11).select($"id".as("c"))
      cg.join(dd, $"dec" <= $"c", "left")
        .groupBy($"c")
        .agg(coalesce(sum($"nd"), lit(0L)).as("n_docs"),
          coalesce(sum($"nt"), lit(0L)).as("n_tokens"))
        .join(perC, Seq("c"), "left")
        .na.fill(0L, Seq("vocab_size", "new_types", "hapax_count"))
        .select($"c".as("checkpoint"), $"n_docs", $"n_tokens",
          $"vocab_size", $"new_types", $"hapax_count")
        .orderBy($"checkpoint")
    },
    Some("""WITH d AS (SELECT doc_id,
           |    list_filter(regexp_split_to_array(lower(text), '\s+'),
           |      x -> len(x) > 0) AS t
           |  FROM documents),
           |mx AS (SELECT max(doc_id) AS mx FROM documents),
           |tok AS (SELECT term, (10 * doc_id + mx - 1) // mx AS dec
           |  FROM (SELECT doc_id, unnest(t) AS term FROM d), mx),
           |td AS (SELECT term, dec, CAST(count(*) AS BIGINT) AS cnt
           |  FROM tok GROUP BY 1, 2),
           |grid AS (SELECT term, c
           |  FROM (SELECT DISTINCT term FROM td), generate_series(1, 10) g(c)),
           |cum AS (SELECT grid.term, grid.c, coalesce(td.cnt, 0) AS cnt,
           |    sum(coalesce(td.cnt, 0)) OVER
           |      (PARTITION BY grid.term ORDER BY grid.c) AS cum
           |  FROM grid LEFT JOIN td ON td.term = grid.term AND td.dec = grid.c),
           |perc AS (SELECT c, CAST(count(*) AS BIGINT) AS vocab_size,
           |    CAST(sum(CASE WHEN cum = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count,
           |    CAST(sum(CASE WHEN cum = cnt THEN 1 ELSE 0 END) AS BIGINT) AS new_types
           |  FROM cum WHERE cum > 0 GROUP BY 1),
           |dd AS (SELECT (10 * doc_id + mx - 1) // mx AS dec,
           |    CAST(count(*) AS BIGINT) AS nd, CAST(sum(len(t)) AS BIGINT) AS nt
           |  FROM d, mx GROUP BY 1),
           |cg AS (SELECT c FROM generate_series(1, 10) g(c)),
           |dcum AS (SELECT c, CAST(coalesce(sum(nd), 0) AS BIGINT) AS n_docs,
           |    CAST(coalesce(sum(nt), 0) AS BIGINT) AS n_tokens
           |  FROM cg LEFT JOIN dd ON dd.dec <= cg.c GROUP BY 1)
           |SELECT CAST(c AS BIGINT) AS checkpoint, n_docs, n_tokens,
           |  coalesce(vocab_size, 0) AS vocab_size,
           |  coalesce(new_types, 0) AS new_types,
           |  coalesce(hapax_count, 0) AS hapax_count
           |FROM dcum LEFT JOIN perc USING (c)
           |ORDER BY checkpoint""".stripMargin),
  )

  /** q500 — the vocabulary census maintained BY the stream (q499's
    * table as continuous ingest — the q372/q492 foreachBatch discipline
    * applied to a PURELY ADDITIVE artifact: term counts merge by sum,
    * so the maintainer only ever appends its own batch_id partition
    * and a probe aggregates merged state without locking writers; see
    * [[graft.streaming.StreamVocabCensus]]). Readout: the Zipf head
    * (top-10 terms by frequency) beside the totals a tokenizer budget
    * reads (types, tokens, hapax count). Kill-and-restart exactly-once
    * is pinned by Round10EdgeSpec. Oracle: the from-scratch census of
    * the full corpus — stream-maintained ≡ rebuilt. */
  val q500 = QuerySpec(
    "q500_stream_vocab_census",
    (s, d) => graft.streaming.StreamVocabCensus.runOnce(s, d),
    Some("""WITH d AS (SELECT doc_id,
           |    list_filter(regexp_split_to_array(lower(text), '\s+'),
           |      x -> len(x) > 0) AS t
           |  FROM documents),
           |tc AS (SELECT term, CAST(count(*) AS BIGINT) AS freq
           |  FROM (SELECT unnest(t) AS term FROM d) GROUP BY 1),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_types,
           |    CAST(sum(freq) AS BIGINT) AS n_tokens,
           |    CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
           |  FROM tc),
           |rk AS (SELECT CAST(row_number() OVER (ORDER BY freq DESC, term) AS INT) AS rank,
           |    term, freq FROM tc)
           |SELECT rank, term, freq, n_types, n_tokens, n_hapax
           |FROM rk, tot WHERE rank <= 10 ORDER BY rank""".stripMargin),
  )

  val all: Seq[QuerySpec] = Seq(q60, q61, q62, q63, q64, q65, q67, q68, q69, q70,
    q86, q87, q88, q89, q90, q96, q100, q101, q106, q110, q149, q150, q160,
    q192, q194, q200, q214, q215, q236, q243, q263, q274, q275, q317, q318,
    q328, q330, q347, q348, q351, q387, q397, q403, q409, q411, q412, q440,
    q447, q456, q499, q500, q501, q505)
}
