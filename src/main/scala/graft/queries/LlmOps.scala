package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorOps._
import Det._

/** Tier C — LLM-data-pipeline operators over `documents`/`embeddings`
  * (SURVEY §2.3, §2.11 q19–q23): array explode math, exact dedup,
  * text stats, top-k cosine similarity search, multimodal join.
  */
object LlmOps {

  /** q19 — posexplode over the embedding array + per-position math.
    * Raw float→double values carried unrounded: both engines read the
    * same parquet floats, so products of identical operands are
    * bit-identical. */
  val q19 = QuerySpec(
    "q19_explode_array",
    (s, d) => {
      import s.implicits._
      Tables.embeddings(s, d)
        .filter($"vec_id" < 50)
        .select($"vec_id", posexplode($"embedding").as(Seq("pos", "v")))
        .select($"vec_id", $"pos",
          $"v".cast("double").as("val"),
          ($"v".cast("double") * ($"pos" + 1)).as("scaled"))
        .orderBy($"vec_id", $"pos")
    },
    Some("""WITH ex AS (
           |  SELECT vec_id, unnest(generate_series(1, len(embedding))) AS i, embedding
           |  FROM embeddings WHERE vec_id < 50)
           |SELECT vec_id, CAST(i - 1 AS INT) AS pos,
           |  CAST(embedding[i] AS DOUBLE) AS val,
           |  CAST(embedding[i] AS DOUBLE) * i AS scaled
           |FROM ex ORDER BY vec_id, pos""".stripMargin),
  )

  /** q20 — exact dedup: duplicate the customer table, dropDuplicates on
    * the key. At scale this is a hash-shuffle on the dedup key with
    * map-side partial dedup (Aggregate(first)) — no sort, no skew beyond
    * the key distribution itself. */
  val q20 = QuerySpec(
    "q20_dedup_exact",
    (s, d) => {
      import s.implicits._
      val c = Tables.customer(s, d)
      c.unionAll(c)
        .dropDuplicates("c_custkey")
        .select($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal", $"c_mktsegment")
        .orderBy($"c_custkey")
    },
    Some("""SELECT DISTINCT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           |FROM (SELECT * FROM customer UNION ALL SELECT * FROM customer)
           |ORDER BY c_custkey""".stripMargin),
  )

  /** q21 — text stats per language: doc counts, char totals, token-count
    * stats via regexp token extraction ('\S+'), over docs ≥ 50 chars.
    * Token counting is per-row and codegen'd; the agg is two-phase. */
  val q21 = QuerySpec(
    "q21_text_stats",
    (s, d) => {
      import s.implicits._
      Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .filter($"n_chars" >= 50)
        .withColumn("n_tokens", size(regexp_extract_all($"text", lit("\\S+"), lit(0))))
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_chars").as("total_chars"),
          max($"n_chars").as("max_chars"),
          min($"n_tokens").as("min_tokens"),
          max($"n_tokens").as("max_tokens"),
          (sum($"n_tokens").cast("double") / count(lit(1))).as("avg_tokens"))
        .orderBy($"lang")
    },
    Some("""SELECT lang, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
           |  CAST(max(n_chars) AS BIGINT) AS max_chars,
           |  CAST(min(len(regexp_extract_all(text, '\S+'))) AS INT) AS min_tokens,
           |  CAST(max(len(regexp_extract_all(text, '\S+'))) AS INT) AS max_tokens,
           |  CAST(sum(len(regexp_extract_all(text, '\S+'))) AS DOUBLE) / count(*) AS avg_tokens
           |FROM documents WHERE n_chars >= 50
           |GROUP BY lang ORDER BY lang""".stripMargin),
  )

  /** q22 — brute-force cosine top-k: query vector (vec_id=1) against all
    * others, top-10 by rounded similarity. The 1-row query side is
    * broadcast; at 100 TB this is a single pass over the embeddings with
    * a TakeOrderedAndProject top-k (per-partition heaps, driver merges k
    * rows) — no global sort, no shuffle of vectors. */
  val q22 = QuerySpec(
    "q22_similarity_topk",
    (s, d) => {
      import s.implicits._
      // fanOut: single-file fixture → one split would run every cosine
      // on one core (the sibling vector queries q27/q28/q55 all fan out).
      val emb = Tables.fanOut(
        Tables.embeddings(s, d).select($"vec_id", $"embedding"), col("vec_id"))
      val qv = emb.filter($"vec_id" === 1).select($"embedding".as("q_emb"))
      emb.filter($"vec_id" =!= 1)
        .crossJoin(broadcast(qv))
        .select($"vec_id", round(cosine($"embedding", $"q_emb"), 4).as("cos_sim"))
        .orderBy($"cos_sim".desc, $"vec_id")
        .limit(10)
    },
    Some(s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q_emb FROM embeddings WHERE vec_id = 1),
            |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings WHERE vec_id <> 1)
            |SELECT vec_id, round(${sqlCosine("emb", "q_emb")}, 4) AS cos_sim
            |FROM e, q
            |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
  )

  /** q23 — multimodal join documents⋈embeddings by id + per-lang vector
    * norm stats. Norms go through the exact-decimal accumulator (order-
    * independent) since group sums of doubles aren't. */
  val q23 = QuerySpec(
    "q23_multimodal_join",
    (s, d) => {
      import s.implicits._
      val doc = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      doc.join(emb, doc("doc_id") === emb("vec_id"))
        .withColumn("norm", l2Norm($"embedding"))
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          dsum($"norm", 6).as("norm_sum"),
          davg($"norm", 6).as("norm_avg"),
          sum($"label").as("label_sum"))
        .orderBy($"lang")
    },
    Some(s"""WITH j AS (
            |  SELECT lang, label, ${sqlL2Norm("CAST(embedding AS DOUBLE[])")} AS norm
            |  FROM documents JOIN embeddings ON doc_id = vec_id)
            |SELECT lang, count(*) AS n_docs,
            |  ${sqlDsum("norm", 6)} AS norm_sum,
            |  ${sqlDavg("norm", 6)} AS norm_avg,
            |  CAST(sum(label) AS BIGINT) AS label_sum
            |FROM j GROUP BY lang ORDER BY lang""".stripMargin),
  )

  /** q57 — keep-BEST-duplicate dedup: the corpus plus an uppercased
    * variant of every document (offset ids — the "same text, different
    * casing" duplicates a crawl actually yields), grouped by a
    * NORMALIZED content fingerprint (md5 of lowercased text), keeping
    * the longest copy with ties to the lowest doc_id — the canonical
    * training-data dedup policy, vs q20's keep-any `dropDuplicates`.
    * One shuffle on the fingerprint; max_by carries the winner through
    * a partial-aggregable max, no window sort. Emitted per group:
    * winner + how many copies it beat — the dedup audit a pipeline
    * logs. (Every group here has exactly 2 copies and resolves to the
    * original id, which is the assertion.) */
  val q57 = QuerySpec(
    "q57_dedup_keep_best",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select($"doc_id", $"text", $"n_chars")
      val variants = docs.select(($"doc_id" + 1000000).as("doc_id"),
        upper($"text").as("text"), $"n_chars")
      docs.unionByName(variants)
        .withColumn("fp", md5(lower($"text")))
        .groupBy($"fp")
        .agg(
          max_by($"doc_id", struct($"n_chars", -$"doc_id")).as("kept_doc_id"),
          max($"n_chars").as("n_chars"),
          count(lit(1)).as("n_copies"))
        .select($"kept_doc_id", $"n_chars", $"n_copies")
        .orderBy($"kept_doc_id")
    },
    Some("""WITH corpus AS (
           |  SELECT doc_id, text, n_chars FROM documents
           |  UNION ALL
           |  SELECT doc_id + 1000000, upper(text), n_chars FROM documents),
           |w AS (SELECT md5(lower(text)) AS fp, doc_id, n_chars,
           |        max(n_chars) OVER (PARTITION BY md5(lower(text))) AS mx,
           |        count(*) OVER (PARTITION BY md5(lower(text))) AS cnt
           |      FROM corpus)
           |SELECT kept_doc_id, n_chars, n_copies FROM (
           |  SELECT min(doc_id) FILTER (WHERE n_chars = mx) AS kept_doc_id,
           |         mx AS n_chars, cnt AS n_copies
           |  FROM w GROUP BY fp, mx, cnt)
           |ORDER BY kept_doc_id""".stripMargin),
  )

  /** q162 — higher-order array function breadth (the lambda family
    * q19/q22 use, exercised as a group): filter / exists / forall /
    * zip_with + sequential-fold aggregate, per vector, rolled up per
    * label. Every predicate compares the SAME parquet floats on both
    * engines (bit-identical), and the one float fold (self ⊙ reversed
    * self) mirrors Spark's seeded left fold with DuckDB's
    * list_reduce-with-prepended-seed before a per-row decimal rounding
    * — Det's proven pattern, so the label sums are exact. All in-row:
    * shuffle is |labels| groups. */
  val q162 = QuerySpec(
    "q162_hof_array_breadth",
    (s, d) => {
      import s.implicits._
      Tables.embeddings(s, d)
        .select($"label",
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        .select($"label",
          expr("size(filter(e, x -> x > 0.0D))").as("n_pos"),
          expr("exists(e, x -> abs(x) > 2.0D)").as("has_big"),
          expr("forall(e, x -> abs(x) < 4.0D)").as("all_bounded"),
          expr("CAST(aggregate(zip_with(e, reverse(e), (a, b) -> a * b), 0.0D, (acc, x) -> acc + x) AS DECIMAL(30,12))")
            .as("rev_dot"))
        .groupBy($"label")
        .agg(count(lit(1)).as("n_vecs"),
          sum($"n_pos".cast("long")).as("pos_sum"),
          sum(when($"has_big", 1L).otherwise(0L)).as("n_has_big"),
          sum(when($"all_bounded", 1L).otherwise(0L)).as("n_all_bounded"),
          sum($"rev_dot").cast("double").as("rev_dot_sum"))
        .orderBy($"label")
    },
    Some(s"""WITH v AS (
            |  SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            |p AS (
            |  SELECT label,
            |    len(list_filter(e, x -> x > 0.0)) AS n_pos,
            |    len(list_filter(e, x -> abs(x) > 2.0)) > 0 AS has_big,
            |    len(list_filter(e, x -> NOT (abs(x) < 4.0))) = 0 AS all_bounded,
            |    CAST(${Det.sqlDot("e", "list_reverse(e)")} AS DECIMAL(30,12)) AS rev_dot
            |  FROM v)
            |SELECT label, count(*) AS n_vecs,
            |  CAST(sum(n_pos) AS BIGINT) AS pos_sum,
            |  CAST(sum(CASE WHEN has_big THEN 1 ELSE 0 END) AS BIGINT) AS n_has_big,
            |  CAST(sum(CASE WHEN all_bounded THEN 1 ELSE 0 END) AS BIGINT) AS n_all_bounded,
            |  CAST(sum(rev_dot) AS DOUBLE) AS rev_dot_sum
            |FROM p GROUP BY label ORDER BY label""".stripMargin),
  )

  /** q173 — array set-operation breadth (q162's lambda family joined by
    * the set algebra): union / intersect / except / distinct / position
    * / flatten over small per-row integer arrays, rolled up as size and
    * element-sum checksums. Spark's set ops return DISTINCT elements in
    * first-appearance order — every result is array_sort'd before the
    * checksum so only set CONTENT is gated, and the DuckDB mirrors
    * (list_distinct ∘ list_concat / list_intersect / list_filter) agree
    * exactly in sorted form. All in-row; shuffle is |flags| groups. */
  val q173 = QuerySpec(
    "q173_array_set_ops",
    (s, d) => {
      import s.implicits._
      Tables.fanOut(Tables.lineitem(s, d), col("l_orderkey"))
        .select($"l_returnflag",
          expr("array(l_orderkey % 7, l_partkey % 7, l_suppkey % 7)").as("a"),
          expr("array(l_partkey % 7, CAST(l_linenumber AS BIGINT))").as("b"),
          expr("l_partkey % 7").as("probe"))
        .select($"l_returnflag",
          expr("array_sort(array_union(a, b))").as("u"),
          expr("array_sort(array_intersect(a, b))").as("i"),
          expr("array_sort(array_except(a, b))").as("e"),
          expr("size(array_distinct(a))").as("n_dist"),
          expr("array_position(a, probe)").as("pos"),
          expr("size(flatten(array(a, b)))").as("n_flat"))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(expr("size(u)")).as("u_size_sum"),
          sum(expr("aggregate(u, 0L, (acc, x) -> acc + x)")).as("u_elem_sum"),
          sum(expr("size(i)")).as("i_size_sum"),
          sum(expr("aggregate(e, 0L, (acc, x) -> acc + x)")).as("e_elem_sum"),
          sum($"n_dist".cast("long")).as("dist_sum"),
          sum($"pos").as("pos_sum"),
          sum($"n_flat".cast("long")).as("flat_sum"))
        .orderBy($"l_returnflag")
    },
    Some("""WITH r AS (
           |  SELECT l_returnflag,
           |    [l_orderkey % 7, l_partkey % 7, l_suppkey % 7] AS a,
           |    [l_partkey % 7, CAST(l_linenumber AS BIGINT)] AS b,
           |    l_partkey % 7 AS probe
           |  FROM lineitem),
           |x AS (
           |  SELECT l_returnflag,
           |    list_sort(list_distinct(list_concat(a, b))) AS u,
           |    list_sort(list_distinct(list_intersect(a, b))) AS i,
           |    list_sort(list_distinct(list_filter(a, v -> NOT list_contains(b, v)))) AS e,
           |    len(list_distinct(a)) AS n_dist,
           |    list_position(a, probe) AS pos,
           |    len(flatten([a, b])) AS n_flat
           |  FROM r)
           |SELECT l_returnflag, count(*) AS n,
           |  CAST(sum(len(u)) AS BIGINT) AS u_size_sum,
           |  CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT), u), (acc, v) -> acc + v)) AS BIGINT) AS u_elem_sum,
           |  CAST(sum(len(i)) AS BIGINT) AS i_size_sum,
           |  CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT), e), (acc, v) -> acc + v)) AS BIGINT) AS e_elem_sum,
           |  CAST(sum(n_dist) AS BIGINT) AS dist_sum,
           |  CAST(sum(pos) AS BIGINT) AS pos_sum,
           |  CAST(sum(n_flat) AS BIGINT) AS flat_sum
           |FROM x GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
  )

  /** q350 — dedup-cluster size histogram + payoff readout: documents
    * clustered by a 40-char lowercased prefix fingerprint (the cheap
    * O(1)-per-doc near-dup key — boilerplate and mirrored pages share
    * openings long before they share full hashes), rolled up to: for
    * each cluster size k, how many clusters, how many documents, and
    * how many characters deduplication would reclaim (everything
    * beyond one keeper per cluster, the min-doc_id survivor's length).
    * This is the "is a dedup pass worth the cluster time?" estimate run
    * BEFORE q24's full LSH job. One fingerprint aggregate (map-side
    * combined, fingerprints are 32-byte digests — text never
    * shuffles), then a k-sized regroup. */
  val q350 = QuerySpec(
    "q350_dedup_cluster_histogram",
    (s, d) => {
      import s.implicits._
      val cl = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select(md5(substring(lower($"text"), 1, 40).cast("binary")).as("h"),
          $"doc_id", $"n_chars")
        .groupBy($"h")
        .agg(count(lit(1)).as("k"), sum($"n_chars").as("chars_total"),
          min_by($"n_chars", $"doc_id").as("keeper_chars"))
      cl.groupBy($"k")
        .agg(count(lit(1)).as("n_clusters"),
          sum($"k").as("n_docs"),
          sum($"chars_total" - $"keeper_chars").as("reclaimable_chars"))
        .orderBy($"k")
    },
    Some("""WITH cl AS (
           |  SELECT md5(substring(lower(text), 1, 40)) AS h,
           |    count(*) AS k, CAST(sum(n_chars) AS BIGINT) AS chars_total,
           |    min_by(n_chars, doc_id) AS keeper_chars
           |  FROM documents GROUP BY 1)
           |SELECT k, count(*) AS n_clusters, CAST(sum(k) AS BIGINT) AS n_docs,
           |  CAST(sum(chars_total - keeper_chars) AS BIGINT) AS reclaimable_chars
           |FROM cl GROUP BY k ORDER BY k""".stripMargin),
  )

  /** q392 — cross-source duplication matrix: which source PAIRS share
    * near-dup content (q350's 40-char prefix fingerprint as the cluster
    * key), reported as shared-cluster counts and doc-pair mass
    * (n_a·n_b per cluster). This is the "who mirrors whom" readout that
    * prioritizes cross-source dedup and licensing review — a cluster
    * duplicated WITHIN one source is boilerplate; across sources it is
    * syndication. Shape: one (h, source) aggregate (map-side combined,
    * 32-byte digests — text never shuffles), regroup to per-cluster
    * source censuses, in-row pair emit. The census is bounded by the
    * SOURCE DOMAIN (a dimension, O(100) at any corpus size — the q382
    * event-type-set argument), so the nested pair transform is
    * structurally small; the final matrix is ≤ |sources|² rows. */
  val q392 = QuerySpec(
    "q392_cross_source_dup_matrix",
    (s, d) => {
      import s.implicits._
      val cl = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select(md5(substring(lower($"text"), 1, 40).cast("binary")).as("h"), $"source")
        .groupBy($"h", $"source").agg(count(lit(1)).as("n"))
      cl.groupBy($"h")
        .agg(sort_array(collect_list(struct($"source", $"n"))).as("xs"))
        .filter(size($"xs") >= 2)
        .select(explode(expr(
          """flatten(transform(sequence(0, size(xs)-2),
            |  i -> transform(sequence(i+1, size(xs)-1),
            |    j -> struct(xs[i].source AS src_a, xs[j].source AS src_b,
            |                xs[i].n * xs[j].n AS doc_pairs))))""".stripMargin)).as("p"))
        .groupBy($"p.src_a".as("src_a"), $"p.src_b".as("src_b"))
        .agg(count(lit(1)).as("n_shared_clusters"), sum($"p.doc_pairs").as("n_doc_pairs"))
        .orderBy($"n_doc_pairs".desc, $"src_a", $"src_b")
    },
    Some("""WITH cl AS (SELECT md5(substring(lower(text), 1, 40)) AS h, source, count(*) AS n
           |            FROM documents GROUP BY 1, 2),
           |x AS (SELECT a.h, a.source AS src_a, b.source AS src_b, a.n * b.n AS doc_pairs
           |      FROM cl a JOIN cl b ON a.h = b.h AND a.source < b.source)
           |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_shared_clusters,
           |  CAST(sum(doc_pairs) AS BIGINT) AS n_doc_pairs
           |FROM x GROUP BY 1, 2 ORDER BY n_doc_pairs DESC, src_a, src_b""".stripMargin),
  )

  /** q488 — the DEDUP FUNNEL capstone (the table every curated-corpus
    * datasheet prints, and q88's quality-funnel sibling on the dedup
    * axis): the corpus pushed through the three dedup rungs in pipeline
    * order — EXACT (normalized-md5 fingerprint, keep min id), NEAR-DUP
    * (q24's banded MinHash buckets, capped at [[NearDup.MaxLshBucket]];
    * a doc drops iff a lower-id survivor shares a live bucket), then
    * SEMANTIC (q27's exact cosine ≥ 0.45 over the survivors'
    * embeddings; lower id wins) — reporting per stage the docs in /
    * removed / out and the surviving whitespace-token budget. Each
    * stage's semantics are exactly its standalone query's, so the
    * funnel certifies the STAGES COMPOSE: survivors of one rung are the
    * input population of the next, which is the property a pipeline
    * report asserts and ad-hoc per-stage runs don't. Scale: one corpus
    * pass computes fingerprints + token counts (persisted); the LSH
    * stage shuffles band signatures only; the semantic stage is the
    * quadratic verifier and at 100 TB runs only inside q24/q28 blocks —
    * here it runs whole-corpus exactly as q27 does, which is the
    * documented baseline trade. All counts exact integers. */
  val q488 = QuerySpec(
    "q488_dedup_funnel",
    (s, d) => {
      import s.implicits._
      import graft.functions.TextFns.tokens
      val cap = NearDup.MaxLshBucket
      val docs = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", tokens($"text").as("t"), md5(lower($"text")).as("fp"))
        .select($"doc_id", $"fp", $"t", size($"t").as("ntok"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // Stage 1 — exact: keep the min id per normalized fingerprint.
        val keep1 = docs.groupBy($"fp").agg(min($"doc_id").as("doc_id"))
        val s1 = docs
          .join(keep1.select($"doc_id"), Seq("doc_id"), "left_semi")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // Stage 2 — banded MinHash over stage-1 survivors: q24's exact
        // banding (shared bandSigs), live buckets 2..cap, drop a doc iff
        // a LOWER-id survivor shares any live bucket.
        // r13: sig feeds the bucket census AND the drop join — persist
        // it so the MinHash band hashing runs once, not twice (guide §5).
        val sig = Indexes.bandSigs(s1.filter($"ntok" >= 3).select($"doc_id", $"t"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val buckets = sig.groupBy($"b", $"band_key")
          .agg(count(lit(1)).as("k"), min($"doc_id").as("bmin"))
          .filter($"k".between(2, cap))
        val drop2 = sig.join(buckets, Seq("b", "band_key"))
          .groupBy($"doc_id").agg(min($"bmin").as("peer_min"))
          .filter($"peer_min" < $"doc_id")
        val s2 = s1.join(drop2.select($"doc_id"), Seq("doc_id"), "left_anti")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // Stage 3 — semantic: q27's exact cosine ≥ 0.45 among stage-2
        // survivors' embeddings, lower id wins.
        val e = Tables.fanOut(Tables.embeddings(s, d), col("vec_id"))
          .select($"vec_id".as("doc_id"), asDouble($"embedding").as("emb"))
          .withColumn("nrm", l2Norm($"emb"))
          .join(s2.select($"doc_id"), Seq("doc_id"), "left_semi")
        val drop3 = e.as("a").join(e.as("c"), $"a.doc_id" > $"c.doc_id")
          .withColumn("cos", dot($"a.emb", $"c.emb") / ($"a.nrm" * $"c.nrm"))
          .filter($"cos" >= 0.45)
          .select($"a.doc_id").distinct()
        val s3 = s2.join(drop3, Seq("doc_id"), "left_anti")
        def census(df: DataFrame): (Long, Long) = {
          val r = df.agg(count(lit(1)), coalesce(sum($"ntok"), lit(0L))).head
          (r.getLong(0), r.getLong(1))
        }
        val (c0, t0) = census(docs)
        val (c1, t1) = census(s1)
        val (c2, t2) = census(s2)
        val (c3, t3) = census(s3)
        s1.unpersist(blocking = false); s2.unpersist(blocking = false)
        sig.unpersist(blocking = false)
        val _ = (t0, t1, t2) // budgets reported for survivors per stage
        s.createDataFrame(Seq(
          (1, "exact", c0, c0 - c1, c1, t1),
          (2, "minhash_lsh", c1, c1 - c2, c2, t2),
          (3, "semantic", c2, c2 - c3, c3, t3)))
          .toDF("stage", "name", "docs_in", "docs_removed", "docs_out",
            "tokens_out")
          .orderBy($"stage")
      } finally docs.unpersist(blocking = false)
    },
    Some(s"""WITH dd AS (SELECT doc_id, md5(lower(text)) AS fp,
           |    regexp_split_to_array(lower(text), '\\s+') AS t FROM documents),
           |d2 AS (SELECT doc_id, fp, t, len(t) AS ntok FROM dd),
           |k1 AS (SELECT fp, min(doc_id) AS doc_id FROM d2 GROUP BY fp),
           |s1 AS (SELECT d2.* FROM d2
           |  WHERE doc_id IN (SELECT doc_id FROM k1)),
           |sh AS (SELECT doc_id, list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS s
           |       FROM s1 WHERE len(t) >= 3),
           |hs AS (SELECT doc_id,
           |        list_transform(s, x -> md5(x || ':0')) AS h0,
           |        list_transform(s, x -> md5(x || ':1')) AS h1 FROM sh),
           |sig AS (SELECT doc_id, b,
           |        list_aggregate(list_transform(h0, x -> substring(x, 1 + 8*b, 8)), 'min')
           |        || '|' ||
           |        list_aggregate(list_transform(h1, x -> substring(x, 1 + 8*b, 8)), 'min') AS band_key
           |        FROM hs, generate_series(0, 3) g(b)),
           |sigw AS (SELECT doc_id,
           |    min(doc_id) OVER (PARTITION BY b, band_key) AS bmin,
           |    count(*) OVER (PARTITION BY b, band_key) AS bn FROM sig),
           |drop2 AS (SELECT DISTINCT doc_id FROM sigw
           |  WHERE bn BETWEEN 2 AND 64 AND bmin < doc_id),
           |s2 AS (SELECT s1.* FROM s1
           |  WHERE doc_id NOT IN (SELECT doc_id FROM drop2)),
           |e AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
           |e2 AS (SELECT e.* FROM e WHERE doc_id IN (SELECT doc_id FROM s2)),
           |drop3 AS (SELECT DISTINCT a.doc_id
           |  FROM e2 a JOIN e2 b ON a.doc_id > b.doc_id
           |  WHERE ${sqlCosine("a.emb", "b.emb")} >= 0.45),
           |s3 AS (SELECT s2.* FROM s2
           |  WHERE doc_id NOT IN (SELECT doc_id FROM drop3)),
           |c0 AS (SELECT count(*) AS n FROM d2),
           |c1 AS (SELECT count(*) AS n, coalesce(sum(ntok), 0) AS tk FROM s1),
           |c2 AS (SELECT count(*) AS n, coalesce(sum(ntok), 0) AS tk FROM s2),
           |c3 AS (SELECT count(*) AS n, coalesce(sum(ntok), 0) AS tk FROM s3)
           |SELECT * FROM (
           |  SELECT CAST(1 AS INT) AS stage, 'exact' AS name,
           |    CAST(c0.n AS BIGINT) AS docs_in, CAST(c0.n - c1.n AS BIGINT) AS docs_removed,
           |    CAST(c1.n AS BIGINT) AS docs_out, CAST(c1.tk AS BIGINT) AS tokens_out
           |  FROM c0, c1
           |  UNION ALL
           |  SELECT CAST(2 AS INT), 'minhash_lsh', CAST(c1.n AS BIGINT), CAST(c1.n - c2.n AS BIGINT),
           |    CAST(c2.n AS BIGINT), CAST(c2.tk AS BIGINT) FROM c1, c2
           |  UNION ALL
           |  SELECT CAST(3 AS INT), 'semantic', CAST(c2.n AS BIGINT), CAST(c2.n - c3.n AS BIGINT),
           |    CAST(c3.n AS BIGINT), CAST(c3.tk AS BIGINT) FROM c2, c3)
           |ORDER BY stage""".stripMargin),
  )

  val all: Seq[QuerySpec] =
    Seq(q19, q20, q21, q22, q23, q57, q162, q173, q350, q392, q488)
}
