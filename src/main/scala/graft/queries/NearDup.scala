package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.CollectCapped.collectCapped
import graft.functions.TextFns._
import graft.functions.VectorOps._
import Det._

/** Near-duplicate detection + ANN search (SURVEY §2.3 Tier C, driver
  * north-star): MinHash+LSH (Broder 1997, "On the resemblance and
  * containment of documents"), SimHash and random-hyperplane LSH
  * (Charikar 2002, "Similarity estimation techniques from rounding
  * algorithms"), exact n-gram Jaccard, embedding-cosine blocking, and
  * IVF-style probed similarity search (Jégou et al. 2011's
  * inverted-file coarse quantizer, minus product quantization).
  *
  * Hash portability: every hash is md5 over an explicit string — hex
  * output is identical in Spark and DuckDB, so all five queries get full
  * value-level oracles (SURVEY §7.6's "hash functions not portable"
  * caveat applied to xxhash64, not md5).
  *
  * Scale design (100 TB): all candidate generation is bucket-equi-join
  * shaped — signatures/bands/nibbles are tiny per row, the only shuffles
  * hash on band or nibble keys, and no operator ever pairs the full
  * corpus quadratically (q27's blocked pair join is the deliberate
  * exception, bounded by its block predicate; q24/q25 are the scale
  * paths that replace it).
  */
object NearDup {

  private val B = 4 // LSH bands
  // Salted double-row band key: 2 minhashes per band, B bands total.

  /** Bucket frequency caps — the 100 TB degenerate-data guard. A bucket
    * (LSH band, SimHash nibble chunk, shingle posting list) larger than
    * its cap is dropped BEFORE the in-bucket quadratic pair emit, AND
    * the aggregation state itself is bounded: buckets build via
    * [[graft.functions.CollectCapped]], whose buffer stops at cap+1
    * elements in every phase — a pathological key (mass-duplicated
    * document, stopword-like hot shingle) costs O(cap) task memory, not
    * O(k), and surfaces as a length-cap+1 bucket the size filter drops.
    * Caps sit well above the observed sf0.1 maxima (12 / 47 / 25), so
    * current results are unchanged; NearDupCapSpec exercises an
    * all-identical-docs corpus. Dropping a hot bucket is also
    * semantically standard for dedup: a shingle shared by thousands of
    * docs carries no pair signal. */
  val MaxLshBucket = 64
  val MaxSimhashBucket = 128
  val MaxPostingList = 64

  /** Sorted-neighborhood window for the brand-blocked ER scorers
    * (q302/q329). Brand blocking alone bounds pairs at Σ|block|² — fine
    * while brands stay small, quadratic the day one brand goes hot
    * (round-5 verdict: BASELINE.md measured 5.8×/11.7× on 10× rows).
    * The fix is Hernández–Stolfo sorted-neighborhood (SIGMOD '95):
    * rank each block by (p_name, p_partkey), score only pairs within
    * [[NeighborhoodWindow]] ranks — names similar enough to match sort
    * adjacently, and the pair stream drops from Σ|block|² to
    * Σ|block|·W. No record is ever dropped (unlike the LSH bucket
    * caps); what's bounded is the pair fan-out per record. */
  val NeighborhoodWindow = 64

  /** The bounded ER pair stream: per brand, sorted-neighborhood pairs
    * (name_a, name_b) with 0 < rank(b) − rank(a) ≤ W. The join is
    * chunked into an EQUI-join on (brand, ⌊rank/W⌋): each probe row is
    * exploded into its own chunk and the previous one, so even the
    * *enumerated* candidate count is ≤ 4W per record — a hot brand
    * never materializes its |block|² rank grid just to filter it. */
  private def brandNeighborhoodPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val W = NeighborhoodWindow
    val w = Window.partitionBy($"p_brand").orderBy($"p_name", $"p_partkey")
    val ranked = Tables.part(s, d)
      .select($"p_brand", $"p_name", $"p_partkey")
      .withColumn("rk", row_number().over(w))
      .withColumn("chunk", expr(s"(rk - 1) div $W"))
    val probe = ranked.withColumn("cid", explode(array($"chunk", $"chunk" - 1)))
    ranked.as("a").join(probe.as("b"),
        $"a.p_brand" === $"b.p_brand" && $"a.chunk" === $"b.cid" &&
          $"b.rk" > $"a.rk" && $"b.rk" <= $"a.rk" + W)
      .select($"a.p_brand".as("brand"),
        $"a.p_name".as("name_a"), $"b.p_name".as("name_b"))
  }

  /** DuckDB mirror of [[brandNeighborhoodPairs]] — the plain rank-window
    * form (oracle clarity over oracle speed; the chunked equi-join is a
    * Spark execution detail, not a semantic one). */
  private val sqlNeighborhoodPairs: String =
    """WITH ranked AS (
      |  SELECT p_brand, p_name,
      |    row_number() OVER (PARTITION BY p_brand ORDER BY p_name, p_partkey)
      |      AS rk
      |  FROM part),
      |pairs0 AS (
      |  SELECT a.p_brand AS brand, a.p_name AS name_a, b.p_name AS name_b
      |  FROM ranked a JOIN ranked b
      |    ON a.p_brand = b.p_brand AND b.rk > a.rk AND b.rk <= a.rk + 64)""".stripMargin

  /** q24 — MinHash + LSH near-dup candidates: word-3-gram shingles →
    * per-band 2-row minhash signature → bucket on (band, key) → emit
    * in-bucket pairs. Recall for Jaccard j is 1-(1-j²)⁴ (≈0.9998 at
    * j=0.9); false positives are whatever collides — candidates, not
    * verdicts (q26 verifies exactly). The 8 minhash functions are 8
    * disjoint 32-bit chunks of TWO salted md5 digests per shingle (band b
    * pairs chunk b of each salt), so hashing cost is 2 md5 passes, not 8
    * (md5 dominated the round-2 profile). Pair generation is
    * groupBy-collect (NOT a self-join): signatures are computed once and
    * shuffled once, keyed on 17-char band keys, ~4 rows × ~40 B per doc —
    * at 100 TB the bucket shuffle touches signatures only, never document
    * text, and the [[MaxLshBucket]] frequency cap bounds the in-bucket
    * quadratic emit. */
  val q24 = QuerySpec(
    "q24_dedup_minhash_lsh",
    (s, d) => {
      import s.implicits._
      val toks = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", tokens($"text").as("t"))
        .filter(size($"t") >= 3)
      val sh = toks.select($"doc_id", shingles3("t").as("s"))
      val sig = sh
        .select($"doc_id",
          saltedHashes("s", 0).as("h0"), saltedHashes("s", 1).as("h1"))
        .select($"doc_id", explode(sequence(lit(0), lit(B - 1))).as("b"), $"h0", $"h1")
        .select($"doc_id", $"b",
          concat(chunkMin("h0", "b"), lit("|"), chunkMin("h1", "b")).as("band_key"))
      sig.groupBy($"b", $"band_key")
        .agg(sort_array(collectCapped($"doc_id", MaxLshBucket)).as("ids"))
        .filter(size($"ids").between(2, MaxLshBucket))
        .select(explode(expr(
          """flatten(transform(sequence(0, size(ids)-2),
            |  i -> transform(sequence(i+1, size(ids)-1),
            |    j -> struct(ids[i] AS doc_a, ids[j] AS doc_b))))""".stripMargin)).as("p"))
        .select($"p.doc_a", $"p.doc_b")
        .distinct()
        .orderBy($"doc_a", $"doc_b")
    },
    Some("""WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM documents),
           |sh AS (SELECT doc_id, list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS s
           |       FROM toks WHERE len(t) >= 3),
           |hs AS (SELECT doc_id,
           |        list_transform(s, x -> md5(x || ':0')) AS h0,
           |        list_transform(s, x -> md5(x || ':1')) AS h1 FROM sh),
           |sig AS (SELECT doc_id, b,
           |        list_aggregate(list_transform(h0, x -> substring(x, 1 + 8*b, 8)), 'min')
           |        || '|' ||
           |        list_aggregate(list_transform(h1, x -> substring(x, 1 + 8*b, 8)), 'min') AS band_key
           |        FROM hs, generate_series(0, 3) g(b)),
           |sigf AS (SELECT doc_id, b, band_key FROM (
           |  SELECT doc_id, b, band_key, count(*) OVER (PARTITION BY b, band_key) AS bn FROM sig)
           |  WHERE bn BETWEEN 2 AND 64)
           |SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
           |FROM sigf a JOIN sigf b2 ON a.b = b2.b AND a.band_key = b2.band_key AND a.doc_id < b2.doc_id
           |ORDER BY doc_a, doc_b""".stripMargin),
  )

  /** q25 — SimHash near-dup: 32-bit fingerprint from shingle md5 nibbles
    * (bit j = sign of Σ ±1 over shingles by hex digit j), candidates
    * blocked on 8-bit chunks (pigeonhole: hamming ≤ 3 ⇒ ≥1 of 4 chunks
    * equal), verified by bit_count(xor) ≤ 3. Unigram features would
    * collapse here — the corpus vocabulary is ~30 words, so shingles are
    * the discriminative feature set. The fingerprint is a PER-ROW pure
    * function ([[graft.functions.SimHash32]] over an [[ArrayMd5]] pass):
    * no gram explode, no shuffle, no 32-wide conditional aggregate (the
    * round-2 plan shuffled ~50 gram rows per doc to compute it). Per doc
    * state is one long; the candidate stage shuffles 4 × 12-byte rows
    * per doc into nibble buckets (groupBy-collect, one shuffle). */
  val q25 = QuerySpec(
    "q25_dedup_simhash",
    (s, d) => {
      import s.implicits._
      import graft.functions.SimHash32.simhash32
      import graft.functions.ArrayMd5.arrayMd5
      val toks = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", tokens($"text").as("t"))
        .filter(size($"t") >= 3)
      val sim = toks
        .select($"doc_id", shingles3("t").as("s"))
        .select($"doc_id", simhash32(arrayMd5($"s", lit(""))).as("simhash"))
      val nib = sim
        .select($"doc_id", $"simhash", explode(sequence(lit(0), lit(3))).as("k"))
        .withColumn("nv", expr("shiftright(simhash, 8*k) % 256"))
      nib.groupBy($"k", $"nv")
        .agg(sort_array(collectCapped(struct($"doc_id", $"simhash"), MaxSimhashBucket)).as("xs"))
        .filter(size($"xs").between(2, MaxSimhashBucket))
        .select(explode(expr(
          """flatten(transform(sequence(0, size(xs)-2),
            |  i -> transform(sequence(i+1, size(xs)-1),
            |    j -> struct(xs[i].doc_id AS doc_a, xs[j].doc_id AS doc_b,
            |                cast(bit_count(xs[i].simhash ^ xs[j].simhash) as int) AS hamming))))""".stripMargin)).as("p"))
        .select($"p.doc_a", $"p.doc_b", $"p.hamming")
        .distinct()
        .filter($"hamming" <= 3)
        .orderBy($"doc_a", $"doc_b")
    },
    Some {
      val hi = "('8','9','a','b','c','d','e','f')"
      val sums = (0 until 32)
        .map(j => s"sum(CASE WHEN substring(hx, ${j + 1}, 1) IN $hi THEN 1 ELSE -1 END) AS s$j")
        .mkString(", ")
      val bits = (0 until 32)
        .map(j => s"(CASE WHEN s$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
        .mkString(" + ")
      s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t FROM documents),
         |sh0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS w
         |        FROM toks WHERE len(t) >= 3),
         |h AS (SELECT doc_id, md5(w) AS hx FROM sh0),
         |b AS (SELECT doc_id, $sums FROM h GROUP BY doc_id),
         |sh AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM b),
         |nib AS (SELECT doc_id, simhash, k, (simhash >> (8*k)) & 255 AS nv FROM sh, generate_series(0,3) g(k)),
         |nibf AS (SELECT doc_id, simhash, k, nv FROM (
         |  SELECT doc_id, simhash, k, nv, count(*) OVER (PARTITION BY k, nv) AS bn FROM nib)
         |  WHERE bn BETWEEN 2 AND 128),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sa, b2.doc_id AS doc_b, b2.simhash AS sb
         |         FROM nibf a JOIN nibf b2 ON a.k = b2.k AND a.nv = b2.nv AND a.doc_id < b2.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY doc_a, doc_b""".stripMargin
    },
  )

  /** q26 — exact n-gram Jaccard: distinct 3-gram shingle sets, inverted
    * index on shingle (only co-shingled pairs materialize),
    * |A∩B| / (|A|+|B|−|A∩B|) ≥ 0.6. This is the exact verifier behind
    * q24/q25's candidates. Scale: classic inverted-index pattern as a
    * groupBy-collect on shingle (posting list) + in-list pair emit —
    * shingle sets are computed once and shuffled once; a stopword-like
    * hot shingle means a long posting list, capped at [[MaxPostingList]]
    * (AQE handles moderate skew below the cap). The pair emit is two
    * chained codegen'd Generate (explode) stages, not a nested
    * higher-order transform — this corpus's tiny vocabulary makes nearly
    * every shingle co-shingled (1.27M pairs at sf0.1), and interpreted
    * per-pair lambda dispatch dominated the round-2 profile. */
  val q26 = QuerySpec(
    "q26_dedup_ngram_jaccard",
    (s, d) => {
      import s.implicits._
      val sh = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", tokens($"text").as("t"))
        .filter(size($"t") >= 3)
        .select($"doc_id", array_distinct(shingles3("t")).as("s"))
      val ex = sh.select($"doc_id", size($"s").as("sz"), explode($"s").as("g"))
      ex.groupBy($"g")
        .agg(collectCapped(struct($"doc_id", $"sz"), MaxPostingList).as("xs"))
        .filter(size($"xs").between(2, MaxPostingList))
        .select(explode($"xs").as("a"), $"xs")
        .select($"a", explode($"xs").as("c"))
        .filter($"a.doc_id" < $"c.doc_id")
        .groupBy($"a.doc_id".as("doc_a"), $"c.doc_id".as("doc_b"))
        .agg(count(lit(1)).as("n_common"), min($"a.sz").as("size_a"), min($"c.sz").as("size_b"))
        .withColumn("jaccard",
          $"n_common" * lit(1.0) / ($"size_a" + $"size_b" - $"n_common"))
        .filter($"jaccard" >= 0.6)
        .select($"doc_a", $"doc_b", $"size_a".cast("int"), $"size_b".cast("int"),
          $"n_common".cast("int").as("n_common"), round($"jaccard", 4).as("jaccard"))
        .orderBy($"doc_a", $"doc_b")
    },
    Some("""WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM documents),
           |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
           |       FROM toks WHERE len(t) >= 3),
           |ex AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
           |exf AS (SELECT doc_id, sz, g FROM (
           |  SELECT doc_id, sz, g, count(*) OVER (PARTITION BY g) AS bn FROM ex)
           |  WHERE bn BETWEEN 2 AND 64),
           |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i, min(a.sz) AS sa, min(b.sz) AS sb
           |          FROM exf a JOIN exf b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
           |SELECT doc_a, doc_b, CAST(sa AS INT) AS size_a, CAST(sb AS INT) AS size_b, CAST(i AS INT) AS n_common,
           |       round(i * 1.0 / (sa + sb - i), 4) AS jaccard
           |FROM inter WHERE i * 1.0 / (sa + sb - i) >= 0.6 ORDER BY doc_a, doc_b""".stripMargin),
  )

  /** q27 — embedding-cosine near-dup: all pairs with cosine ≥ 0.45
    * (this corpus's embeddings are near-orthogonal — max pair ≈ 0.51 —
    * so 0.45 isolates the planted neighbors). Deliberately the exact
    * quadratic baseline the LSH/IVF paths (q24/q28) exist to replace;
    * at 100 TB you run THIS only inside blocks emitted by those. The
    * pair join broadcasts the smaller side; norms are computed once per
    * vector (not once per pair) and cosines are sequential-fold doubles,
    * bit-identical to the oracle, so the ≥ filter can't flake. */
  val q27 = QuerySpec(
    "q27_dedup_embedding_cosine",
    (s, d) => {
      import s.implicits._
      val e = Tables.fanOut(Tables.embeddings(s, d), col("vec_id"))
        .select($"vec_id", asDouble($"embedding").as("emb"))
        .withColumn("nrm", l2Norm($"emb"))
      e.as("a")
        .join(e.as("c"), $"a.vec_id" < $"c.vec_id")
        .withColumn("cos", dot($"a.emb", $"c.emb") / ($"a.nrm" * $"c.nrm"))
        .filter($"cos" >= 0.45)
        .select($"a.vec_id".as("vec_a"), $"c.vec_id".as("vec_b"),
          round($"cos", 4).as("cos_sim"))
        .orderBy($"vec_a", $"vec_b")
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
            |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ${sqlCosine("a.emb", "b.emb")} AS c
            |      FROM e a JOIN e b ON a.vec_id < b.vec_id)
            |SELECT vec_a, vec_b, round(c, 4) AS cos_sim FROM p WHERE c >= 0.45
            |ORDER BY vec_a, vec_b""".stripMargin),
  )

  /** q28 — IVF-style probed ANN: 8 fixed centroids (vec_id 2–9), every
    * vector assigned to its argmax-cosine centroid, query (vec_id 1)
    * probes its 2 nearest centroids, top-10 by cosine within the probed
    * partitions. The scale path for q22's brute-force scan: assignment
    * is ONE full-corpus pass — broadcast centroids, then a single
    * partition-local `max_by` aggregate that both picks the argmax
    * centroid and carries emb/nrm through, so neither the corpus nor the
    * assignment is ever recomputed downstream (the round-2 plan consumed
    * `assign` twice and rescanned `e` four times). The probe and query
    * vector are 8-row/1-row pushed-down scans; top-k is per-partition
    * heaps + driver merge (TakeOrderedAndProject) — no global sort.
    * Assignments are bit-identical to the oracle because cosines are. */
  val q28 = QuerySpec(
    "q28_ann_ivf_probe",
    (s, d) => {
      import s.implicits._
      val base = Tables.embeddings(s, d)
        .select($"vec_id", asDouble($"embedding").as("emb"))
        .withColumn("nrm", l2Norm($"emb"))
      val e = Tables.fanOut(base, col("vec_id"))
      val cent = base.filter($"vec_id".between(2, 9))
        .select($"vec_id".as("cid"), $"emb".as("cemb"), $"nrm".as("cnrm"))
      val qv = base.filter($"vec_id" === 1).select($"emb".as("qemb"), $"nrm".as("qnrm"))
      // Argmax centroid per vector (ties → lowest cid), emb/nrm carried:
      // fanOut already hash-partitions on vec_id and the broadcast join
      // preserves it, so this aggregate needs no extra shuffle.
      val assign = e.crossJoin(broadcast(cent))
        .withColumn("c", dot($"emb", $"cemb") / ($"nrm" * $"cnrm"))
        .groupBy($"vec_id")
        .agg(max_by($"cid", struct($"c", -$"cid")).as("cid"),
          first($"emb").as("emb"), first($"nrm").as("nrm"))
      // The query's 2 nearest centroids — an 8-row computation.
      val probe = cent.crossJoin(broadcast(qv))
        .withColumn("c", dot($"cemb", $"qemb") / ($"cnrm" * $"qnrm"))
        .orderBy($"c".desc, $"cid")
        .limit(2)
        .select($"cid")
      assign
        .join(broadcast(probe), Seq("cid"), "left_semi")
        .filter($"vec_id" =!= 1)
        .crossJoin(broadcast(qv))
        .select($"vec_id", $"cid".as("cluster_id"),
          round(dot($"emb", $"qemb") / ($"nrm" * $"qnrm"), 4).as("cos_sim"))
        .orderBy($"cos_sim".desc, $"vec_id")
        .limit(10)
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
            |cent AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id BETWEEN 2 AND 9),
            |assign AS (SELECT vec_id, cid, c, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cid) AS rn
            |           FROM (SELECT v.vec_id, c2.cid, ${sqlCosine("v.emb", "c2.cemb")} AS c FROM e v, cent c2)),
            |member AS (SELECT vec_id, cid FROM assign WHERE rn = 1),
            |q AS (SELECT emb AS qemb FROM e WHERE vec_id = 1),
            |probe AS (SELECT cid FROM assign WHERE vec_id = 1 AND rn <= 2)
            |SELECT m.vec_id AS vec_id, m.cid AS cluster_id, round(${sqlCosine("v.emb", "qemb")}, 4) AS cos_sim
            |FROM member m JOIN e v ON m.vec_id = v.vec_id, q
            |WHERE m.cid IN (SELECT cid FROM probe) AND m.vec_id <> 1
            |ORDER BY cos_sim DESC, m.vec_id LIMIT 10""".stripMargin),
  )

  /** q52 — candidate verification by edit distance: q24's LSH candidate
    * pairs re-joined to their texts and kept where
    * levenshtein ≤ 15% of the longer text. The standard second stage of
    * a dedup pipeline — candidates are cheap and approximate, the O(n·m)
    * edit distance runs ONLY on the candidate set (never all pairs), and
    * the pair table is the small side: it broadcasts against the corpus
    * for both text lookups, so document text still never shuffles.
    *
    * Scorer discipline (round-6, found by the sf1 sweep; re-worked by
    * the round-9 one): the ID-PAIR list is what broadcasts — twice,
    * once per endpoint — so each text lookup is a broadcast probe on
    * the corpus scan, and the two candidate-sized (pair, one-text)
    * streams then meet in ONE equi-join keyed (doc_a, doc_b), which is
    * also the exchange that puts the scorer on pair-key partitioning.
    * The previous shape broadcast the JOINED stream (pairs + full
    * texts) for the second lookup: at sf1 that was a ~quarter-GB
    * single-threaded driver collect and q52 read 42 s wall on 117
    * cpu-s. Corpus text still never shuffles — only candidate-matched
    * texts move, once, candidate-sized. Two fast paths then bound the
    * O(n·m) work: the triangle inequality (dist ≥ length gap) prunes
    * pairs whose gap alone exceeds the 15% bound BEFORE the matrix
    * runs, and an equality memcmp answers dist=0 for exact clones —
    * the common case in a mass-duplicated corpus (sf1's 10-clone
    * clusters took q52 from wedged-on-one-core to seconds). */
  val q52 = QuerySpec(
    "q52_dedup_edit_verify",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select($"doc_id", $"text")
      // Materialized once: both broadcast builds read the id-pair list
      // (without this the q24 LSH subplan would execute once per
      // endpoint probe). The list is cap-bounded — the same bytes the
      // broadcasts ship — so driver residence equals broadcast cost.
      val cand = Eager(q24.run(s, d))
      val withA = docs.select($"doc_id".as("doc_a"), $"text".as("ta"))
        .join(broadcast(cand), Seq("doc_a"))
      val withB = docs.select($"doc_id".as("doc_b"), $"text".as("tb"))
        .join(broadcast(cand), Seq("doc_b"))
      // The merge hint PINS the documented plan: both sides are
      // broadcast-join outputs whose size ESTIMATES can drift
      // (stats/AQE), and letting one side broadcast would silently put
      // the O(k·n) scorer back on corpus-scan partitioning (the
      // round-6 one-task-per-split wedge). A forced shuffle join keys
      // the scorer on (doc_a, doc_b) regardless of estimation.
      val out = withA.hint("merge").join(withB, Seq("doc_a", "doc_b"))
        .withColumn("max_len", greatest(length($"ta"), length($"tb")))
        .filter(abs(length($"ta") - length($"tb")) * lit(100) <= $"max_len" * lit(15))
        // Banded levenshtein with the pair's own 15% bound as threshold:
        // Ukkonen O(k·n) instead of the full O(n·m) matrix; -1 (= bound
        // exceeded) rows are exactly the rows the filter drops, and for
        // surviving rows the banded value equals the exact distance, so
        // the DuckDB mirror stays plain levenshtein. dist ≥ 0 is part
        // of the filter because -1·100 would pass the ≤ comparison.
        .withColumn("dist",
          when($"ta" === $"tb", lit(0)).otherwise(
            expr("levenshtein(ta, tb, cast((max_len * 15) div 100 as int))")))
        .filter($"dist" >= 0 && $"dist" * lit(100) <= $"max_len" * lit(15))
        .select($"doc_a", $"doc_b", $"dist".cast("int").as("edit_distance"),
          $"max_len".cast("int").as("max_len"))
        .orderBy($"doc_a", $"doc_b")
      out
    },
    // Built without stripMargin: the embedded q24 SQL contains lines
    // beginning with the || concat operator, which stripMargin would eat.
    q24.oracle.map(lshSql => Seq(
      s"WITH cand AS (${lshSql.replace("ORDER BY doc_a, doc_b", "")}),",
      "v AS (SELECT c.doc_a, c.doc_b,",
      "        levenshtein(a.text, b.text) AS dist,",
      "        greatest(length(a.text), length(b.text)) AS max_len",
      "      FROM cand c",
      "      JOIN documents a ON a.doc_id = c.doc_a",
      "      JOIN documents b ON b.doc_id = c.doc_b)",
      "SELECT doc_a, doc_b, CAST(dist AS INT) AS edit_distance,",
      "  CAST(max_len AS INT) AS max_len",
      "FROM v WHERE dist * 100 <= max_len * 15",
      "ORDER BY doc_a, doc_b").mkString("\n")),
  )

  /** q55 — random-hyperplane LSH (SRP) over embeddings: the third ANN
    * path beside brute force (q22/q27) and IVF (q28). Signature bit i is
    * sign(dot(v, h_i)) over 16 hyperplanes (vectors 2–17 serve as the
    * fixed hyperplane set — deterministic and oracle-portable, where a
    * seeded RNG would not be); P(bit match) = 1 − θ/π, so near-parallel
    * vectors collide. Candidates block on the signature's two 8-bit
    * chunks: a shared bucket is GUARANTEED only for hamming ≤ 1
    * (pigeonhole over two chunks); higher-hamming pairs collide
    * probabilistically — the usual LSH recall/candidate trade, tuned by
    * chunk count or extra hash tables. Exact cosine ≥ 0.45 then
    * verifies candidates. Same scale shape as q24/q25: one broadcast pass for
    * signatures (fan-out partitioning carries through the aggregate —
    * no extra shuffle), buckets capped, pairs verified by one
    * broadcast-pair join against the corpus. */
  val q55 = QuerySpec(
    "q55_ann_srp_lsh",
    (s, d) => {
      import s.implicits._
      val base = Tables.embeddings(s, d)
        .select($"vec_id", asDouble($"embedding").as("emb"))
        .withColumn("nrm", l2Norm($"emb"))
      val e = Tables.fanOut(base, col("vec_id"))
      val hyp = base.filter($"vec_id".between(2, 17))
        .select($"vec_id".as("hid"), $"emb".as("hemb"))
      val sig = e.crossJoin(broadcast(hyp))
        .groupBy($"vec_id")
        .agg(sum(when(dot($"emb", $"hemb") > 0,
          expr("shiftleft(1L, cast(hid - 2 as int))")).otherwise(0L)).as("sig"))
      val chunk = sig
        .select($"vec_id", $"sig", explode(sequence(lit(0), lit(1))).as("k"))
        .withColumn("cv", expr("shiftright(sig, 8*k) % 256"))
      val cand = chunk.groupBy($"k", $"cv")
        .agg(sort_array(collectCapped($"vec_id", MaxSimhashBucket)).as("ids"))
        .filter(size($"ids").between(2, MaxSimhashBucket))
        .select(explode($"ids").as("a"), $"ids")
        .select($"a", explode($"ids").as("c"))
        .filter($"a" < $"c")
        .select($"a".as("vec_a"), $"c".as("vec_b"))
        .distinct()
      cand
        .join(broadcast(base.select($"vec_id".as("vec_a"), $"emb".as("ea"), $"nrm".as("na"))), Seq("vec_a"))
        .join(broadcast(base.select($"vec_id".as("vec_b"), $"emb".as("eb"), $"nrm".as("nb"))), Seq("vec_b"))
        .withColumn("cos", dot($"ea", $"eb") / ($"na" * $"nb"))
        .filter($"cos" >= 0.45)
        .select($"vec_a", $"vec_b", round($"cos", 4).as("cos_sim"))
        .orderBy($"vec_a", $"vec_b")
    },
    Some {
      Seq(
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),",
        "hyp AS (SELECT vec_id AS hid, emb AS hemb FROM e WHERE vec_id BETWEEN 2 AND 17),",
        "sig AS (SELECT vec_id,",
        s"  CAST(sum(CASE WHEN ${sqlDot("v.emb", "hemb")} > 0 THEN (1::BIGINT << (hid - 2)) ELSE 0 END) AS BIGINT) AS sig",
        "  FROM e v, hyp GROUP BY vec_id),",
        "chunk AS (SELECT vec_id, sig, k, (sig >> (8*k)) & 255 AS cv FROM sig, generate_series(0,1) g(k)),",
        "chunkf AS (SELECT vec_id, k, cv FROM (",
        "  SELECT vec_id, k, cv, count(*) OVER (PARTITION BY k, cv) AS bn FROM chunk)",
        "  WHERE bn BETWEEN 2 AND 128),",
        "cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b",
        "         FROM chunkf a JOIN chunkf b ON a.k = b.k AND a.cv = b.cv AND a.vec_id < b.vec_id),",
        s"v AS (SELECT vec_a, vec_b, ${sqlCosine("x.emb", "y.emb")} AS cos",
        "      FROM cand JOIN e x ON x.vec_id = vec_a JOIN e y ON y.vec_id = vec_b)",
        "SELECT vec_a, vec_b, round(cos, 4) AS cos_sim FROM v WHERE cos >= 0.45",
        "ORDER BY vec_a, vec_b").mkString("\n")
    },
  )

  /** q498 — MULTI-PROBE SRP-LSH retrieval (the recall lever on q55's
    * hash tables that costs probes instead of tables: a near-neighbor
    * whose signature differs from the query's in ONE bit of a chunk
    * lands in a hamming-1 bucket, so probing each chunk's 8 one-bit
    * flips beside the exact bucket — 18 buckets total — recovers most
    * of what a second/third hash table would, without building or
    * storing one; Lv et al.'s multi-probe argument, on q55's exact
    * signature machinery): corpus → 16-bit SRP signatures → two 8-bit
    * chunk buckets (capped — an over-cap bucket is dropped, the q55
    * degenerate-data guard), query (vec_id 1) probes its 2 exact + 16
    * hamming-1 buckets, candidates dedupe to their MINIMUM probe
    * distance, exact-cosine verify, top-10 by (cos, id). Scale: the
    * bucket build is q55's one-pass broadcast shape; the probe set is
    * 18 literal (k, cv) rows broadcast onto the bucket table —
    * bucket-cap-bounded candidates, never a corpus scan per probe —
    * and verification joins the candidate list (broadcast) against
    * the corpus once. */
  val q498 = QuerySpec(
    "q498_ann_multiprobe_lsh",
    (s, d) => {
      import s.implicits._
      val base = Tables.embeddings(s, d)
        .select($"vec_id", asDouble($"embedding").as("emb"))
        .withColumn("nrm", l2Norm($"emb"))
      val e = Tables.fanOut(base, col("vec_id"))
      val hyp = base.filter($"vec_id".between(2, 17))
        .select($"vec_id".as("hid"), $"emb".as("hemb"))
      val sig = e.crossJoin(broadcast(hyp))
        .groupBy($"vec_id")
        .agg(sum(when(dot($"emb", $"hemb") > 0,
          expr("shiftleft(1L, cast(hid - 2 as int))")).otherwise(0L)).as("sig"))
      val chunk = sig
        .select($"vec_id", $"sig", explode(sequence(lit(0), lit(1))).as("k"))
        .withColumn("cv", expr("shiftright(sig, 8*k) % 256"))
      val buckets = chunk.groupBy($"k", $"cv")
        .agg(sort_array(collectCapped($"vec_id", MaxSimhashBucket)).as("ids"))
        .filter(size($"ids") <= MaxSimhashBucket)
      // The query's probe sequence: exact bucket (distance 0) + the 8
      // one-bit flips (distance 1) per chunk.
      val probes = chunk.filter($"vec_id" === 1)
        .select($"k", explode(expr(
          """transform(sequence(-1, 7), b -> named_struct(
            |  'cv', CASE WHEN b < 0 THEN cv
            |        ELSE cast(cv ^ shiftleft(1L, cast(b AS INT)) AS BIGINT) END,
            |  'probe_dist', CASE WHEN b < 0 THEN 0L ELSE 1L END))"""
            .stripMargin.replaceAll("\n", ""))).as("p"))
        .select($"k", $"p.cv".as("cv"), $"p.probe_dist".as("probe_dist"))
      val cand = buckets.join(broadcast(probes), Seq("k", "cv"))
        .select(explode($"ids").as("vec_id"), $"probe_dist")
        .filter($"vec_id" =!= 1)
        .groupBy($"vec_id").agg(min($"probe_dist").as("probe_dist"))
      val qv = base.filter($"vec_id" === 1)
        .select($"emb".as("qemb"), $"nrm".as("qnrm"))
      base.join(broadcast(cand), Seq("vec_id"))
        .crossJoin(broadcast(qv))
        .withColumn("cos", dot($"emb", $"qemb") / ($"nrm" * $"qnrm"))
        .select($"vec_id", $"probe_dist", round($"cos", 4).as("cos_sim"))
        .orderBy($"cos_sim".desc, $"vec_id")
        .limit(10)
    },
    Some {
      Seq(
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),",
        "hyp AS (SELECT vec_id AS hid, emb AS hemb FROM e WHERE vec_id BETWEEN 2 AND 17),",
        "sig AS (SELECT vec_id,",
        s"  CAST(sum(CASE WHEN ${sqlDot("v.emb", "hemb")} > 0 THEN (1::BIGINT << (hid - 2)) ELSE 0 END) AS BIGINT) AS sig",
        "  FROM e v, hyp GROUP BY vec_id),",
        "chunk AS (SELECT vec_id, sig, k, (sig >> (8*k)) & 255 AS cv FROM sig, generate_series(0,1) g(k)),",
        "buckets AS (SELECT vec_id, k, cv FROM (",
        "  SELECT vec_id, k, cv, count(*) OVER (PARTITION BY k, cv) AS bn FROM chunk)",
        "  WHERE bn <= 128),",
        "probes AS (SELECT k,",
        "    CASE WHEN b < 0 THEN cv ELSE xor(cv, 1::BIGINT << b) END AS cv,",
        "    CASE WHEN b < 0 THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS probe_dist",
        "  FROM chunk, generate_series(-1, 7) g(b) WHERE vec_id = 1),",
        "cand AS (SELECT bu.vec_id, CAST(min(p.probe_dist) AS BIGINT) AS probe_dist",
        "  FROM buckets bu JOIN probes p ON bu.k = p.k AND bu.cv = p.cv",
        "  WHERE bu.vec_id <> 1 GROUP BY 1),",
        "qv AS (SELECT emb AS qemb FROM e WHERE vec_id = 1),",
        s"v AS (SELECT c.vec_id, c.probe_dist, ${sqlCosine("x.emb", "qemb")} AS cos",
        "      FROM cand c JOIN e x ON x.vec_id = c.vec_id CROSS JOIN qv)",
        "SELECT vec_id, probe_dist, round(cos, 4) AS cos_sim FROM v",
        "ORDER BY round(cos, 4) DESC, vec_id LIMIT 10").mkString("\n")
    },
  )

  /** q503 — multi-probe RECALL SWEEP (q384's nprobe cost/recall audit
    * applied to q498's probe radius: what does each extra hamming ring
    * BUY — the number that decides how many probes production runs):
    * for radius 0 (exact buckets only) and radius 1 (+ all one-bit
    * flips), candidate volume and recall@10 against the exact
    * brute-force top-10 (q22's cosine order, query excluded), in exact
    * ppm. Scale: signatures/buckets/candidates are computed ONCE
    * (q498's shape) and both radii aggregate from the same min-
    * probe-distance candidate table; the exact baseline is the one
    * deliberate corpus scan, broadcast-query + TakeOrdered. */
  val q503 = QuerySpec(
    "q503_multiprobe_recall_sweep",
    (s, d) => {
      import s.implicits._
      val base = Tables.embeddings(s, d)
        .select($"vec_id", asDouble($"embedding").as("emb"))
        .withColumn("nrm", l2Norm($"emb"))
      val e = Tables.fanOut(base, col("vec_id"))
      val hyp = base.filter($"vec_id".between(2, 17))
        .select($"vec_id".as("hid"), $"emb".as("hemb"))
      val sig = e.crossJoin(broadcast(hyp))
        .groupBy($"vec_id")
        .agg(sum(when(dot($"emb", $"hemb") > 0,
          expr("shiftleft(1L, cast(hid - 2 as int))")).otherwise(0L)).as("sig"))
      val chunk = sig
        .select($"vec_id", $"sig", explode(sequence(lit(0), lit(1))).as("k"))
        .withColumn("cv", expr("shiftright(sig, 8*k) % 256"))
      val buckets = chunk.groupBy($"k", $"cv")
        .agg(sort_array(collectCapped($"vec_id", MaxSimhashBucket)).as("ids"))
        .filter(size($"ids") <= MaxSimhashBucket)
      val probes = chunk.filter($"vec_id" === 1)
        .select($"k", explode(expr(
          """transform(sequence(-1, 7), b -> named_struct(
            |  'cv', CASE WHEN b < 0 THEN cv
            |        ELSE cast(cv ^ shiftleft(1L, cast(b AS INT)) AS BIGINT) END,
            |  'probe_dist', CASE WHEN b < 0 THEN 0L ELSE 1L END))"""
            .stripMargin.replaceAll("\n", ""))).as("p"))
        .select($"k", $"p.cv".as("cv"), $"p.probe_dist".as("probe_dist"))
      val cand = buckets.join(broadcast(probes), Seq("k", "cv"))
        .select(explode($"ids").as("vec_id"), $"probe_dist")
        .filter($"vec_id" =!= 1)
        .groupBy($"vec_id").agg(min($"probe_dist").as("probe_dist"))
      val qv = base.filter($"vec_id" === 1)
        .select($"emb".as("qemb"), $"nrm".as("qnrm"))
      val top10 = e.filter($"vec_id" =!= 1).crossJoin(broadcast(qv))
        .withColumn("cos", dot($"emb", $"qemb") / ($"nrm" * $"qnrm"))
        .orderBy($"cos".desc, $"vec_id").limit(10)
        .select($"vec_id")
      val hit = cand.join(broadcast(top10.withColumn("hit", lit(1L))),
        Seq("vec_id"), "left")
      val radii = Seq(0L, 1L).map { r =>
        hit.filter($"probe_dist" <= r)
          .agg(count(lit(1)).as("n_candidates"),
            coalesce(sum($"hit"), lit(0L)).as("n_hits10"))
          .select(lit(r).as("radius"), $"n_candidates", $"n_hits10",
            expr("n_hits10 * 1000000L div 10").as("recall_ppm"))
      }
      // No scratch state to sever (nothing persisted or staged), so the
      // frame is returned lazy — which also keeps the plan pinnable.
      radii.reduce(_ unionByName _).orderBy($"radius")
    },
    Some {
      Seq(
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),",
        "hyp AS (SELECT vec_id AS hid, emb AS hemb FROM e WHERE vec_id BETWEEN 2 AND 17),",
        "sig AS (SELECT vec_id,",
        s"  CAST(sum(CASE WHEN ${sqlDot("v.emb", "hemb")} > 0 THEN (1::BIGINT << (hid - 2)) ELSE 0 END) AS BIGINT) AS sig",
        "  FROM e v, hyp GROUP BY vec_id),",
        "chunk AS (SELECT vec_id, sig, k, (sig >> (8*k)) & 255 AS cv FROM sig, generate_series(0,1) g(k)),",
        "buckets AS (SELECT vec_id, k, cv FROM (",
        "  SELECT vec_id, k, cv, count(*) OVER (PARTITION BY k, cv) AS bn FROM chunk)",
        "  WHERE bn <= 128),",
        "probes AS (SELECT k,",
        "    CASE WHEN b < 0 THEN cv ELSE xor(cv, 1::BIGINT << b) END AS cv,",
        "    CASE WHEN b < 0 THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS probe_dist",
        "  FROM chunk, generate_series(-1, 7) g(b) WHERE vec_id = 1),",
        "cand AS (SELECT bu.vec_id, CAST(min(p.probe_dist) AS BIGINT) AS probe_dist",
        "  FROM buckets bu JOIN probes p ON bu.k = p.k AND bu.cv = p.cv",
        "  WHERE bu.vec_id <> 1 GROUP BY 1),",
        "qv AS (SELECT emb AS qemb FROM e WHERE vec_id = 1),",
        s"top10 AS (SELECT vec_id FROM (SELECT x.vec_id, ${sqlCosine("x.emb", "qemb")} AS cos",
        "    FROM e x CROSS JOIN qv WHERE x.vec_id <> 1)",
        "  ORDER BY cos DESC, vec_id LIMIT 10),",
        "hit AS (SELECT c.vec_id, c.probe_dist,",
        "    CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit",
        "  FROM cand c LEFT JOIN top10 t USING (vec_id))",
        // Driven from generate_series LEFT JOIN hit (not hit CROSS JOIN
        // series): the Spark side's per-radius global aggregates emit a
        // row per radius even when the candidate set is EMPTY (every
        // bucket over cap), and a cross join against an empty hit CTE
        // would return 0 rows — the left join keeps both engines at
        // exactly one row per radius in that state.
        "SELECT CAST(g.r AS BIGINT) AS radius,",
        "  CAST(count(h.vec_id) AS BIGINT) AS n_candidates,",
        "  CAST(coalesce(sum(h.hit), 0) AS BIGINT) AS n_hits10,",
        "  CAST(coalesce(sum(h.hit), 0) * 1000000 // 10 AS BIGINT) AS recall_ppm",
        "FROM generate_series(0, 1) g(r) LEFT JOIN hit h ON h.probe_dist <= g.r",
        "GROUP BY g.r ORDER BY radius").mkString("\n")
    },
  )

  /** q81 — IVF + int8 asymmetric distance (the PQ-style compressed-ANN
    * composition of q28's probe path and q68's quantization): the corpus
    * is held int8-quantized (4× smaller — at 100 TB the difference
    * between memory-resident and not), the query stays full-precision,
    * and candidate scoring reconstructs each probed vector affinely
    * (mn + qᵢ·rng∕255) — "asymmetric" because only one side is
    * compressed, the accuracy trick from the PQ literature (Jégou et
    * al. 2011). Same one-pass assignment + 2/8 probe as q28; emits the
    * approx AND exact cosine per hit so the gate also pins the
    * compression error. All reconstruction math is the identical IEEE
    * expression on both engines; folds are sequential-seeded like
    * every VectorOps mirror. */
  val q81 = QuerySpec(
    "q81_ann_ivf_adc",
    (s, d) => {
      import s.implicits._
      val base = Tables.embeddings(s, d)
        .select($"vec_id", asDouble($"embedding").as("emb"))
        .withColumn("nrm", l2Norm($"emb"))
      val e = Tables.fanOut(base, col("vec_id"))
      val cent = base.filter($"vec_id".between(2, 9))
        .select($"vec_id".as("cid"), $"emb".as("cemb"), $"nrm".as("cnrm"))
      val qv = base.filter($"vec_id" === 1).select($"emb".as("qemb"), $"nrm".as("qnrm"))
      val assign = e.crossJoin(broadcast(cent))
        .withColumn("c", dot($"emb", $"cemb") / ($"nrm" * $"cnrm"))
        .groupBy($"vec_id")
        .agg(max_by($"cid", struct($"c", -$"cid")).as("cid"),
          first($"emb").as("emb"), first($"nrm").as("nrm"))
      val probe = cent.crossJoin(broadcast(qv))
        .withColumn("c", dot($"cemb", $"qemb") / ($"cnrm" * $"qnrm"))
        .orderBy($"c".desc, $"cid")
        .limit(2)
        .select($"cid")
      assign
        .join(broadcast(probe), Seq("cid"), "left_semi")
        .filter($"vec_id" =!= 1)
        // int8 codes + affine reconstruction (q68's scheme). In a real
        // index `qcode` IS the stored column and emb never loads; here
        // both exist so the gate can emit approx & exact side by side.
        .withColumn("mn", array_min($"emb"))
        .withColumn("rng", array_max($"emb") - $"mn")
        .withColumn("qcode", expr(
          "transform(emb, x -> IF(rng = 0.0D, 0L, cast(round((x - mn) * 255.0D / rng) as bigint)))"))
        .withColumn("recon", expr("transform(qcode, qi -> mn + qi * rng / 255.0D)"))
        .crossJoin(broadcast(qv))
        .select($"vec_id", $"cid".as("cluster_id"),
          round(dot($"recon", $"qemb") / (l2Norm($"recon") * $"qnrm"), 4).as("cos_adc"),
          round(dot($"emb", $"qemb") / ($"nrm" * $"qnrm"), 4).as("cos_exact"))
        .orderBy($"cos_adc".desc, $"vec_id")
        .limit(10)
    },
    Some {
      val reconDot = sqlDot("recon", "qemb")
      val reconNorm = sqlL2Norm("recon")
      Seq(
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),",
        "cent AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id BETWEEN 2 AND 9),",
        "assign AS (SELECT vec_id, cid, rn FROM (SELECT vec_id, cid,",
        s"    row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cid) AS rn",
        s"  FROM (SELECT v.vec_id, c2.cid, ${sqlCosine("v.emb", "c2.cemb")} AS c FROM e v, cent c2))),",
        "member AS (SELECT vec_id, cid FROM assign WHERE rn = 1),",
        "q AS (SELECT emb AS qemb FROM e WHERE vec_id = 1),",
        "probe AS (SELECT cid FROM assign WHERE vec_id = 1 AND rn <= 2),",
        "hit AS (SELECT m.vec_id, m.cid, v.emb FROM member m JOIN e v ON m.vec_id = v.vec_id",
        "        WHERE m.cid IN (SELECT cid FROM probe) AND m.vec_id <> 1),",
        "qz AS (SELECT vec_id, cid, emb,",
        "    list_aggregate(emb, 'min') AS mn,",
        "    list_aggregate(emb, 'max') - list_aggregate(emb, 'min') AS rng FROM hit),",
        "rc AS (SELECT vec_id, cid, emb,",
        "    list_transform(list_transform(emb, x -> CASE WHEN rng = 0.0 THEN 0",
        "        ELSE CAST(round((x - mn) * 255.0 / rng) AS BIGINT) END),",
        "      qi -> mn + qi * rng / 255.0) AS recon",
        "  FROM qz)",
        s"SELECT vec_id, cid AS cluster_id, round($reconDot / ($reconNorm * ${sqlL2Norm("qemb")}), 4) AS cos_adc,",
        s"  round(${sqlCosine("emb", "qemb")}, 4) AS cos_exact",
        "FROM rc, q",
        "ORDER BY cos_adc DESC, vec_id LIMIT 10").mkString("\n")
    },
  )

  /** q125 — INCREMENTAL near-dup: dedup an arriving batch against the
    * existing corpus without ever pairing the corpus with itself — the
    * shape a continuously-ingesting training pipeline actually runs
    * (q24 is the one-shot full-corpus pass; re-running it per batch
    * would redo O(corpus²-bucketed) work for every delivery).
    *
    * Batch = doc_id ≡ 0 (mod 4), corpus = the rest. Both sides get q24's
    * band signatures (in production the corpus side is precomputed and
    * stored — signatures are tiny and persistable); corpus signatures
    * collapse to capped band buckets ([[MaxLshBucket]] — a hot band is
    * dropped, same degenerate-data guard as q24); the batch probes them
    * with a band-key equi-join. Per batch doc: is_dup + the smallest
    * matching corpus doc (deterministic evidence row). Cost at 100 TB:
    * one shuffle of batch signatures + corpus BUCKETS keyed by band —
    * the corpus text is never rescanned, never paired. */
  val q125 = QuerySpec(
    "q125_dedup_incremental",
    (s, d) => {
      import s.implicits._
      val docs = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", tokens($"text").as("t"))
        .filter(size($"t") >= 3)
      def sigs(df: DataFrame) = df
        .select($"doc_id", shingles3("t").as("s"))
        .select($"doc_id",
          saltedHashes("s", 0).as("h0"), saltedHashes("s", 1).as("h1"))
        .select($"doc_id", explode(sequence(lit(0), lit(B - 1))).as("b"), $"h0", $"h1")
        .select($"doc_id", $"b",
          concat(chunkMin("h0", "b"), lit("|"), chunkMin("h1", "b")).as("band_key"))
      val batch = sigs(docs.filter($"doc_id" % 4 === 0))
      val corpusBuckets = sigs(docs.filter($"doc_id" % 4 =!= 0))
        .groupBy($"b", $"band_key")
        .agg(collectCapped($"doc_id", MaxLshBucket).as("ids"))
        .filter(size($"ids") <= MaxLshBucket)
      val matches = batch.join(corpusBuckets, Seq("b", "band_key"))
        .select($"doc_id", explode($"ids").as("corpus_id"))
        .groupBy($"doc_id")
        .agg(min($"corpus_id").as("dup_of"))
      docs.filter($"doc_id" % 4 === 0).select($"doc_id")
        .join(matches, Seq("doc_id"), "left")
        .select($"doc_id", $"dup_of".isNotNull.as("is_dup"), $"dup_of")
        .orderBy($"doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM documents),
           |docs AS (SELECT doc_id, t FROM toks WHERE len(t) >= 3),
           |sh AS (SELECT doc_id, list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS s
           |       FROM docs),
           |hs AS (SELECT doc_id,
           |        list_transform(s, x -> md5(x || ':0')) AS h0,
           |        list_transform(s, x -> md5(x || ':1')) AS h1 FROM sh),
           |sig AS (SELECT doc_id, b,
           |        list_aggregate(list_transform(h0, x -> substring(x, 1 + 8*b, 8)), 'min')
           |        || '|' ||
           |        list_aggregate(list_transform(h1, x -> substring(x, 1 + 8*b, 8)), 'min') AS band_key
           |        FROM hs, generate_series(0, 3) g(b)),
           |corpus AS (SELECT b, band_key, doc_id FROM (
           |  SELECT b, band_key, doc_id, count(*) OVER (PARTITION BY b, band_key) AS bn
           |  FROM sig WHERE doc_id % 4 <> 0) WHERE bn <= 64),
           |matches AS (
           |  SELECT s2.doc_id, min(c.doc_id) AS dup_of
           |  FROM sig s2 JOIN corpus c ON s2.b = c.b AND s2.band_key = c.band_key
           |  WHERE s2.doc_id % 4 = 0 GROUP BY s2.doc_id)
           |SELECT d.doc_id, m.dup_of IS NOT NULL AS is_dup, m.dup_of
           |FROM (SELECT DISTINCT doc_id FROM docs WHERE doc_id % 4 = 0) d
           |LEFT JOIN matches m ON d.doc_id = m.doc_id
           |ORDER BY d.doc_id""".stripMargin),
  )

  /** q138 — LSH quality report: q24's MinHash/LSH candidate pairs
    * scored against q26's exact-Jaccard truth set — the calibration
    * readout that tells a pipeline owner whether the banding config
    * (8 hashes × 4 bands) is catching the duplicates it must catch
    * BEFORE committing a 100 TB pass to it. One row: candidate count,
    * truth count, hits, precision/recall in exact integer ppm (BIGINT
    * DIV — engine-exact, no float ratios in the gate).
    *
    * Scale: both inputs are the bucket-shaped pair lists (corpus-sparse
    * by construction); the hit join is pair-key equi — the report costs
    * two pair-list shuffles on top of the runs it evaluates. */
  val q138 = QuerySpec(
    "q138_lsh_quality_report",
    (s, d) => {
      import s.implicits._
      // Each parent pair list feeds TWO consumers (its count aggregate +
      // one side of the hit semi-join); persisting both means each parent
      // pipeline (the full q24 LSH / q26 Jaccard runs) executes exactly
      // once instead of twice — pair lists are corpus-sparse, so the
      // cached footprint is small.
      val cand = q24.run(s, d).select($"doc_a", $"doc_b")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val truth = q26.run(s, d).select($"doc_a", $"doc_b")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val hits = cand.join(truth, Seq("doc_a", "doc_b"), "left_semi")
        val out = cand.agg(count(lit(1)).as("n_candidates"))
          .crossJoin(truth.agg(count(lit(1)).as("n_true")))
          .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
          // nullif guards (round-6 sf1 lesson): on a vocabulary-saturated
          // corpus the posting caps drop EVERY bucket, the truth set is
          // legitimately empty, and recall must degrade to NULL ("the
          // banding catches nothing here"), not divide-by-zero.
          .select($"n_candidates", $"n_true", $"n_hits",
            expr("(n_hits * 1000000) DIV nullif(n_candidates, 0L)").as("precision_ppm"),
            expr("(n_hits * 1000000) DIV nullif(n_true, 0L)").as("recall_ppm"))
        Eager(out) // sever from the persisted frames before unpersist
      } finally { cand.unpersist(blocking = false); truth.unpersist(blocking = false); () }
    },
    (q24.oracle, q26.oracle) match {
      case (Some(lshSql), Some(jacSql)) => Some(Seq(
        s"WITH cand AS (${lshSql.replace("ORDER BY doc_a, doc_b", "")}),",
        s"truth AS (SELECT doc_a, doc_b FROM (${jacSql.replace("ORDER BY doc_a, doc_b", "")})),",
        "hits AS (SELECT doc_a, doc_b FROM cand INTERSECT SELECT doc_a, doc_b FROM truth),",
        "c AS (SELECT count(*) AS n_candidates FROM cand),",
        "t AS (SELECT count(*) AS n_true FROM truth),",
        "h AS (SELECT count(*) AS n_hits FROM hits)",
        "SELECT n_candidates, n_true, n_hits,",
        "  CAST((n_hits * 1000000) // nullif(n_candidates, 0) AS BIGINT) AS precision_ppm,",
        "  CAST((n_hits * 1000000) // nullif(n_true, 0) AS BIGINT) AS recall_ppm",
        "FROM c, t, h").mkString("\n"))
      case _ => None
    },
  )

  /** q296 — prefix-filtered EXACT shingle-Jaccard self-join (the
    * PPJoin/AllPairs family: Bayardo et al. 2007 "Scaling up all pairs
    * similarity search"; Xiao et al. 2008 PPJoin): every document pair
    * with word-3-gram Jaccard ≥ 0.6 — q26's exact semantics — found
    * WITHOUT the all-pairs product and WITHOUT q26's posting-list cap
    * heuristic (which is honest about dropping hot shingles; this
    * operator provably drops nothing).
    *
    * The pruning is the operator: order each doc's shingles by
    * ascending global df (rarest first, ties on shingle), keep only the
    * first p = n − ⌈0.6·n⌉ + 1 as the PREFIX, and join docs on shared
    * prefix shingles with the length filter 0.6·n_a ≤ n_b ≤ n_a/0.6.
    * Any pair with Jaccard ≥ τ MUST share a prefix element (pigeonhole:
    * two sets that miss each other's prefixes already disagree on more
    * than (1−τ) of their union), so the candidate set has NO misses —
    * unlike q24's LSH, which trades recall for cost. Candidates are
    * then verified with one exact intersection.
    *
    * Feature space matters: token SETS are useless on a templated
    * corpus (measured: 71k "pairs" at τ=0.6 over sf0.01 because every
    * doc shares the template vocabulary); 3-gram shingles keep word
    * order, so τ=0.6 isolates true near-dups (the q24/q26 clone set).
    *
    * Scale shape: the join key is a PREFIX shingle — by construction
    * the rarest shingles of each doc — so bucket sizes track rare-
    * template frequencies, not stopword df (a hot shingle can only
    * enter prefixes if a doc has almost nothing rarer); the length
    * filter prunes inside the bucket before the pair emits; exact
    * verification touches only surviving candidates. All integer
    * (sizes, intersections, ppm Jaccard). OperatorPropsSpec proves
    * no-miss AND no-extra vs the brute-force quadratic at sf0.001. */
  /** q296's LAZY pipeline plus the persisted frames its runner must
    * release after materialization — factored (r13) so PlanAuditSpec
    * keeps a pinnable plan while the QuerySpec Eagers the readout.
    *
    * r13 (guide §5 reuse): the tokenize+shingle pass is the query's
    * per-row heavy lifting (regex split + 3-gram concat + distinct)
    * and the frame is read THREE times (posting explode + both verify
    * legs) — persist it once. persist, NOT localCheckpoint: the cached
    * relation keeps its plan statistics, so the verify joins keep
    * their strategies (a checkpointed RDD carries no stats and was
    * measured degrading them — A/B in OPTIMIZATION_r13.md). Same for
    * the prefix frame, which the candidate self-join reads twice.
    *
    * r13 POSITIONAL filter (PPJoin's, guide §3 — lossless): tokens are
    * ranked by ONE global order (df, tok) in every doc, so for a
    * shared token at ranks (rk_a, rk_b) the overlap is bounded by
    * min(rk_a, rk_b) common elements at-or-before it plus
    * min(n_a − rk_a, n_b − rk_b) after it. j_ppm ≥ 600000 (floor
    * division) ⟺ 8·inter ≥ 3·(n_a+n_b) ⟺ inter ≥ ⌈3(n_a+n_b)/8⌉, so a
    * pair every one of whose shared-prefix rows fails the bound cannot
    * verify — dropped BEFORE the distinct and the verify join. The
    * oracle keeps the unpruned candidate set; results are identical
    * because verification is exact either way (Round13OptSpec proves
    * the bound ≥ true overlap). */
  private[graft] def prefixSimJoinStaged(s: SparkSession, d: String)
      : (DataFrame, Seq[DataFrame]) = {
    import s.implicits._
    val ts = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
      .select($"doc_id", tokens($"text").as("t0"))
      .filter(size($"t0") >= 3)
      .select($"doc_id", array_distinct(shingles3("t0")).as("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ex = ts.select($"doc_id", size($"t").cast("long").as("n"),
      explode($"t").as("tok"))
    val dfreq = ex.groupBy($"tok").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy($"doc_id").orderBy($"df", $"tok")
    val pre = ex.join(dfreq, "tok")
      .withColumn("rk", row_number().over(wDoc))
      .filter($"rk" <= $"n" - expr("(6L*n + 9L) div 10L") + 1L)
      .select($"doc_id", $"n", $"tok", $"rk")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = pre.as("a").join(pre.as("b"),
        $"a.tok" === $"b.tok" && $"a.doc_id" < $"b.doc_id" &&
          $"b.n" * 10L >= $"a.n" * 6L && $"a.n" * 10L >= $"b.n" * 6L)
      .filter(expr(
        """least(a.rk, b.rk) + least(a.n - a.rk, b.n - b.rk)
          |>= (3L * (a.n + b.n) + 7L) div 8L""".stripMargin))
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
    val out = cand
      .join(ts.select($"doc_id".as("doc_a"), $"t".as("ta")), "doc_a")
      .join(ts.select($"doc_id".as("doc_b"), $"t".as("tb")), "doc_b")
      .withColumn("n_a", size($"ta").cast("long"))
      .withColumn("n_b", size($"tb").cast("long"))
      .withColumn("inter", size(array_intersect($"ta", $"tb")).cast("long"))
      .withColumn("j_ppm",
        expr("inter * 1000000L div (n_a + n_b - inter)"))
      .filter($"j_ppm" >= 600000L)
      .select($"doc_a", $"doc_b", $"n_a", $"n_b", $"inter", $"j_ppm")
      .orderBy($"doc_a", $"doc_b")
    (out, Seq(ts, pre))
  }

  val q296 = QuerySpec(
    "q296_prefix_filter_simjoin",
    (s, d) => {
      val (out, handles) = prefixSimJoinStaged(s, d)
      try Eager(out) // readout is pair-sized; sever before unpersist
      finally handles.foreach(_.unpersist(blocking = false))
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t0
           |  FROM documents),
           |ts AS (
           |  SELECT doc_id,
           |    list_distinct(list_transform(generate_series(1, len(t0)-2),
           |      i -> t0[i] || ' ' || t0[i+1] || ' ' || t0[i+2])) AS t
           |  FROM toks WHERE len(t0) >= 3),
           |tn AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n
           |  FROM ts WHERE len(t) > 0),
           |ex AS (SELECT doc_id, n, unnest(t) AS tok FROM tn),
           |dfreq AS (SELECT tok, count(*) AS df FROM ex GROUP BY tok),
           |pre AS (
           |  SELECT doc_id, n, tok FROM (
           |    SELECT doc_id, n, tok,
           |      row_number() OVER (PARTITION BY doc_id ORDER BY df, tok) AS rk
           |    FROM ex JOIN dfreq USING (tok))
           |  WHERE rk <= n - (6*n + 9) // 10 + 1),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM pre a JOIN pre b ON a.tok = b.tok AND a.doc_id < b.doc_id
           |    AND b.n * 10 >= a.n * 6 AND a.n * 10 >= b.n * 6),
           |v AS (
           |  SELECT doc_a, doc_b, x.n AS n_a, y.n AS n_b,
           |    CAST(len(list_intersect(x.t, y.t)) AS BIGINT) AS inter
           |  FROM cand
           |    JOIN tn x ON x.doc_id = doc_a
           |    JOIN tn y ON y.doc_id = doc_b)
           |SELECT doc_a, doc_b, n_a, n_b, inter,
           |  inter * 1000000 // (n_a + n_b - inter) AS j_ppm
           |FROM v WHERE inter * 1000000 // (n_a + n_b - inter) >= 600000
           |ORDER BY doc_a, doc_b""".stripMargin),
  )

  /** q302 — Jaro-Winkler record-linkage scoring: the edit-window
    * similarity verifier (Winkler 1990) on brand-blocked part-name
    * pairs — the classic two-phase ER shape (q291's candidate/score
    * split with a string-metric scorer instead of field agreement).
    * jw is the codegen'd [[graft.functions.JaroWinkler]] expression —
    * bit-identical to DuckDB's builtin (StringSimSpec proves it over
    * randomized corpora), so the floor(jw·1e6) gates are engine-exact.
    * Per brand block: candidate pairs, matches at jw ≥ 0.85, exact
    * duplicates (jw = 1), and the integer ppm mass of the matches.
    * Scale: brand blocking PLUS [[brandNeighborhoodPairs]]'
    * sorted-neighborhood window — pairs are Σ|block|·W, not Σ|block|²,
    * so a hot brand degrades linearly (NearDupCapSpec proves the
    * all-one-brand corpus); the scorer runs inside whole-stage codegen
    * (a Scala UDF here would box every pair). */
  val q302 = QuerySpec(
    "q302_jaro_winkler_linkage",
    (s, d) => {
      import s.implicits._
      import graft.functions.JaroWinkler.jaroWinkler
      val pairs = brandNeighborhoodPairs(s, d)
        .select($"brand", jaroWinkler($"name_a", $"name_b").as("jw"))
        .withColumn("jw_ppm", floor($"jw" * 1000000L).cast("long"))
      pairs.groupBy($"brand")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when($"jw_ppm" >= 850000L, 1L).otherwise(0L)).as("n_match"),
          sum(when($"jw_ppm" === 1000000L, 1L).otherwise(0L)).as("n_exact"),
          sum(when($"jw_ppm" >= 850000L, $"jw_ppm").otherwise(0L)).as("match_ppm_sum"))
        .orderBy($"brand")
    },
    Some(sqlNeighborhoodPairs + ",\n" +
      """pairs AS (
           |  SELECT brand,
           |    CAST(floor(jaro_winkler_similarity(name_a, name_b) * 1000000)
           |      AS BIGINT) AS jw_ppm
           |  FROM pairs0)
           |SELECT brand, count(*) AS n_pairs,
           |  CAST(sum(CASE WHEN jw_ppm >= 850000 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_match,
           |  CAST(sum(CASE WHEN jw_ppm = 1000000 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_exact,
           |  CAST(sum(CASE WHEN jw_ppm >= 850000 THEN jw_ppm ELSE 0 END) AS BIGINT)
           |    AS match_ppm_sum
           |FROM pairs GROUP BY brand ORDER BY brand""".stripMargin),
  )

  /** q320 — set-CONTAINMENT join (asymmetric near-dup: "doc A is
    * mostly inside doc B" — quotations, extractions, supersets — the
    * relationship symmetric Jaccard (q24/q296) under-scores, because a
    * small doc embedded in a big one has low union-relative overlap
    * but high containment |A∩B|/|A|). Candidates by the asymmetric
    * prefix lemma: if |A∩B| ≥ 0.8|A| then B contains one of A's
    * ⌊0.2|A|⌋+1 rarest shingles — join A's prefix against B's FULL
    * shingle postings (the contained side prunes, the container side
    * must stay complete; prefix shingles are df-rare by construction,
    * so posting lists stay bounded). Exact verification per candidate,
    * self and symmetric-duplicate pairs excluded, containment in exact
    * ppm. */
  /** q320's LAZY pipeline + release handles — factored like
    * [[prefixSimJoinStaged]] (r13): the shingle frame is read three
    * times and the RANKED posting list twice (prefix filter +
    * container side), so both persist once (persist, not
    * localCheckpoint — see q296's stats note).
    *
    * r13 LENGTH + POSITIONAL filters (lossless, guide §3/§2):
    * cont_ppm ≥ 800000 (floor division) ⟺ 5·inter ≥ 4·n_a ⟺
    * inter ≥ ⌈4·n_a/5⌉, and inter ≤ n_b forces 5·n_b ≥ 4·n_a (the
    * containment ⊆ shorter-set constraint); the shared global
    * (df, tok) rank bounds overlap exactly as in q296. Both prune
    * candidates the exact verify would reject — oracle-identical. */
  private[graft] def containmentJoinStaged(s: SparkSession, d: String)
      : (DataFrame, Seq[DataFrame]) = {
    import s.implicits._
    val ts = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
      .select($"doc_id", tokens($"text").as("t0"))
      .filter(size($"t0") >= 3)
      .select($"doc_id", array_distinct(shingles3("t0")).as("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ex = ts.select($"doc_id", size($"t").cast("long").as("n"),
      explode($"t").as("tok"))
    val dfreq = ex.groupBy($"tok").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy($"doc_id").orderBy($"df", $"tok")
    val exRk = ex.join(dfreq, "tok")
      .withColumn("rk", row_number().over(wDoc))
      .select($"doc_id", $"n", $"tok", $"rk")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Contained-side prefix: the ⌊n/5⌋+1 rarest shingles of A.
    val pre = exRk.filter($"rk" <= expr("n div 5L") + 1L)
      .select($"doc_id".as("doc_a"), $"n".as("n_a"), $"tok",
        $"rk".as("rk_a"))
    val cand = pre.join(exRk.select($"doc_id".as("doc_b"),
          $"n".as("n_b"), $"tok", $"rk".as("rk_b")), "tok")
      .filter($"doc_a" =!= $"doc_b")
      .filter($"n_b" * 5L >= $"n_a" * 4L)
      .filter(expr(
        """least(rk_a, rk_b) + least(n_a - rk_a, n_b - rk_b)
          |>= (4L * n_a + 4L) div 5L""".stripMargin))
      .select($"doc_a", $"doc_b").distinct()
    val out = cand
      .join(ts.select($"doc_id".as("doc_a"), $"t".as("ta")), "doc_a")
      .join(ts.select($"doc_id".as("doc_b"), $"t".as("tb")), "doc_b")
      .withColumn("n_a", size($"ta").cast("long"))
      .withColumn("inter", size(array_intersect($"ta", $"tb")).cast("long"))
      .withColumn("cont_ppm", expr("inter * 1000000L div n_a"))
      .filter($"cont_ppm" >= 800000L)
      .select($"doc_a", $"doc_b", $"n_a", $"inter", $"cont_ppm")
      .orderBy($"doc_a", $"doc_b")
    (out, Seq(ts, exRk))
  }

  val q320 = QuerySpec(
    "q320_set_containment_join",
    (s, d) => {
      val (out, handles) = containmentJoinStaged(s, d)
      try Eager(out)
      finally handles.foreach(_.unpersist(blocking = false))
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t0
           |  FROM documents),
           |ts AS (
           |  SELECT doc_id,
           |    list_distinct(list_transform(generate_series(1, len(t0)-2),
           |      i -> t0[i] || ' ' || t0[i+1] || ' ' || t0[i+2])) AS t
           |  FROM toks WHERE len(t0) >= 3),
           |tn AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n
           |  FROM ts WHERE len(t) > 0),
           |v AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS n_a,
           |    CAST(len(list_intersect(a.t, b.t)) AS BIGINT) AS inter
           |  FROM tn a JOIN tn b ON a.doc_id <> b.doc_id)
           |SELECT doc_a, doc_b, n_a, inter,
           |  inter * 1000000 // n_a AS cont_ppm
           |FROM v WHERE inter * 1000000 // n_a >= 800000
           |ORDER BY doc_a, doc_b""".stripMargin),
  )

  /** q329 — bounded (banded) edit-distance verification: q52's
    * verifier re-armed with [[graft.functions.BoundedLevenshtein]] —
    * Ukkonen's diagonal band computes the exact distance when ≤ k and
    * the sentinel k+1 otherwise, O(k·n) per pair with a length-gap
    * fast path, vs the builtin's full O(n·m) matrix. On a blocked ER
    * pair stream where nearly every pair is far apart, almost every
    * evaluation exits at the length check — the asymmetry that makes
    * bounded verification affordable at candidate-stream scale. The
    * oracle pins the contract directly: least(levenshtein, k+1), so
    * the band provably loses nothing below the threshold. Output: the
    * per-brand distance histogram (0..4 with 4 = "beyond bound"). */
  val q329 = QuerySpec(
    "q329_bounded_edit_verify",
    (s, d) => {
      import s.implicits._
      import graft.functions.BoundedLevenshtein.boundedLevenshtein
      brandNeighborhoodPairs(s, d)
        .select($"brand",
          boundedLevenshtein($"name_a", $"name_b", 3).as("dist"))
        .groupBy($"brand", $"dist")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy($"brand", $"dist")
    },
    Some(sqlNeighborhoodPairs + ",\n" +
      """pairs AS (
           |  SELECT brand,
           |    CAST(least(levenshtein(name_a, name_b), 4) AS INT) AS dist
           |  FROM pairs0)
           |SELECT brand, dist, count(*) AS n_pairs
           |FROM pairs GROUP BY brand, dist ORDER BY brand, dist""".stripMargin),
  )

  /** q383 — blocking-quality audit for the LSH band scheme (the
    * Fellegi–Sunter-era ER tuning readout, computed against derivable
    * ground truth): TRUTH = the corpus's established near-dup ground truth — the
    * 40-char-prefix fingerprint clusters q354/q377 dedup against ( id lists via [[collectCapped]] so a
    * pathological mega-cluster costs O(cap) state — clusters past 64
    * are excluded and counted, never enumerated); CANDIDATES = pairs
    * sharing ≥1 band bucket under the production cap. Reports pair
    * completeness (covered truth ppm — the recall the bands GUARANTEE
    * before any verify stage) and candidate volume as ppm of all
    * n(n−1)/2 pairs (the reduction the blocking buys). The coverage
    * probe joins the SMALL truth-pair frame against per-doc band rows
    * (4/doc) — never the bucket pair stream. This is the query that
    * answers "can I loosen the band count" with data. */
  val q383 = QuerySpec(
    "q383_blocking_quality_audit",
    (s, d) => {
      import s.implicits._
      val docs = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", $"text", tokens($"text").as("t"))
        .filter(size($"t") >= 3)
      // r13: sig feeds both coverage legs AND the candidate census, cl
      // feeds the truth pairs AND the exclusion count — persist both so
      // the band hashing / fingerprint aggregation run once (guide §5).
      val sig = graft.queries.Indexes.bandSigs(docs.select($"doc_id", $"t"))
        .persist()
      val cl = docs.select(md5(substring(lower($"text"), 1, 40)).as("h"), $"doc_id")
        .groupBy($"h")
        .agg(count(lit(1)).as("k"), collectCapped($"doc_id", 65).as("ids0"))
        .persist()
      val tpairs = cl.filter($"k".between(2, 64))
        .select(sort_array($"ids0").as("ids"))
        .select(explode(expr(
          """flatten(transform(ids, (a, i) ->
            |  transform(slice(ids, i + 2, size(ids) - i - 1), b ->
            |    named_struct('a', a, 'b', b))))""".stripMargin)).as("p"))
        .select($"p.a".as("a"), $"p.b".as("b"))
        .persist()
      try {
        val covered = tpairs
          .join(sig.select($"doc_id".as("a"), $"b".as("ba"), $"band_key".as("ka")),
            Seq("a"))
          .join(sig.select($"doc_id".as("b"), $"b".as("bb"), $"band_key".as("kb")),
            Seq("b"))
          .filter($"ba" === $"bb" && $"ka" === $"kb")
          .select($"a", $"b").distinct()
          .agg(count(lit(1)).as("n_covered"))
        val truthN = tpairs.agg(count(lit(1)).as("n_truth"))
        val cand = sig.groupBy($"b", $"band_key")
          .agg(count(lit(1)).as("bn"))
          .filter($"bn" <= MaxLshBucket)
          .agg(sum(expr("bn * (bn - 1) div 2")).as("n_cand"))
        val nd = docs.agg(count(lit(1)).as("n_docs"))
        val excl = cl.filter($"k" > 64).agg(count(lit(1)).as("n_excluded"))
        val out = nd.crossJoin(broadcast(truthN)).crossJoin(broadcast(covered))
          .crossJoin(broadcast(cand)).crossJoin(broadcast(excl))
          .select($"n_docs", $"n_truth".as("n_truth_pairs"),
            $"n_covered".as("n_covered_pairs"),
            expr("n_covered * 1000000L div nullif(n_truth, 0)")
              .as("completeness_ppm"),
            $"n_cand".as("n_candidate_pairs"),
            expr("n_cand * 1000000L div (n_docs * (n_docs - 1) div 2)")
              .as("candidate_ppm"),
            $"n_excluded".as("n_truth_clusters_excluded"))
        Eager(out)
      } finally {
        tpairs.unpersist(blocking = false)
        cl.unpersist(blocking = false)
        sig.unpersist(blocking = false)
      }
    },
    Some("""WITH toks AS (SELECT doc_id, text, regexp_split_to_array(lower(text), '\s+') AS t FROM documents),
           |docs AS (SELECT doc_id, text, t FROM toks WHERE len(t) >= 3),
           |sh AS (SELECT doc_id, list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS s
           |       FROM docs),
           |hs AS (SELECT doc_id,
           |        list_transform(s, x -> md5(x || ':0')) AS h0,
           |        list_transform(s, x -> md5(x || ':1')) AS h1 FROM sh),
           |sig AS (SELECT doc_id, b,
           |        list_aggregate(list_transform(h0, x -> substring(x, 1 + 8*b, 8)), 'min')
           |        || '|' ||
           |        list_aggregate(list_transform(h1, x -> substring(x, 1 + 8*b, 8)), 'min') AS band_key
           |        FROM hs, generate_series(0, 3) g(b)),
           |cl AS (SELECT md5(substring(lower(text), 1, 40)) AS h, count(*) AS k,
           |    list_sort(list(doc_id)) AS ids
           |  FROM docs GROUP BY 1),
           |tp AS (SELECT unnest(flatten(list_transform(generate_series(1, len(ids)), i ->
           |      list_transform(generate_series(i + 1, len(ids)), j ->
           |        {'a': ids[i], 'b': ids[j]})))) AS p
           |  FROM cl WHERE k BETWEEN 2 AND 64),
           |tpairs AS (SELECT p.a AS a, p.b AS b FROM tp),
           |cov AS (SELECT count(*) AS n_covered FROM (
           |  SELECT DISTINCT t.a, t.b FROM tpairs t
           |  JOIN sig sa ON sa.doc_id = t.a
           |  JOIN sig sb ON sb.doc_id = t.b AND sb.b = sa.b AND sb.band_key = sa.band_key)),
           |tcnt AS (SELECT count(*) AS n_truth FROM tpairs),
           |bk AS (SELECT b, band_key, count(*) AS bn FROM sig GROUP BY 1, 2),
           |cand AS (SELECT CAST(sum(bn * (bn - 1) // 2) AS BIGINT) AS n_cand
           |  FROM bk WHERE bn <= 64),
           |nd AS (SELECT count(*) AS n_docs FROM docs),
           |excl AS (SELECT count(*) AS n_excluded FROM cl WHERE k > 64)
           |SELECT n_docs, n_truth AS n_truth_pairs, n_covered AS n_covered_pairs,
           |  CAST(n_covered * 1000000 // nullif(n_truth, 0) AS BIGINT) AS completeness_ppm,
           |  n_cand AS n_candidate_pairs,
           |  CAST(n_cand * 1000000 // (n_docs * (n_docs - 1) // 2) AS BIGINT) AS candidate_ppm,
           |  CAST(n_excluded AS BIGINT) AS n_truth_clusters_excluded
           |FROM nd, tcnt, cov, cand, excl""".stripMargin),
  )

  /** q385 — LSH banding-config SWEEP (q383's audit generalized to the
    * tuning curve): the 256 digest bits split into B ∈ {2,4,8} bands of
    * width 32/B hex chars, and each config reports truth-pair
    * completeness + capped candidate volume — the empirical S-curve
    * trade (more, narrower bands → higher recall AND more candidates)
    * that picks the production banding. The expensive work — two
    * salted md5 passes over every shingle — happens ONCE; each config
    * is a different chunking of the SAME digest arrays, so the sweep
    * costs one corpus pass plus three band-sized aggregates. */
  val q385 = QuerySpec(
    "q385_lsh_band_sweep",
    (s, d) => {
      import s.implicits._
      val docs = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", $"text", tokens($"text").as("t"))
        .filter(size($"t") >= 3)
      val hashed = docs.select($"doc_id", shingles3("t").as("sh"))
        .select($"doc_id", saltedHashes("sh", 0).as("h0"),
          saltedHashes("sh", 1).as("h1"))
        .persist()
      def sigsFor(nb: Int) = {
        val w = 32 / nb
        hashed.select(lit(nb.toLong).as("nb"), $"doc_id",
            explode(sequence(lit(0), lit(nb - 1))).as("b"), $"h0", $"h1")
          .select($"nb", $"doc_id", $"b",
            concat(
              expr(s"array_min(transform(h0, x -> substring(x, 1 + $w*b, $w)))"),
              lit("|"),
              expr(s"array_min(transform(h1, x -> substring(x, 1 + $w*b, $w)))"))
              .as("band_key"))
      }
      val sigs = Seq(2, 4, 8).map(sigsFor).reduce(_ unionAll _).persist()
      val tpairs = docs
        .select(md5(substring(lower($"text"), 1, 40)).as("h"), $"doc_id")
        .groupBy($"h")
        .agg(count(lit(1)).as("k"), collectCapped($"doc_id", 65).as("ids0"))
        .filter($"k".between(2, 64))
        .select(sort_array($"ids0").as("ids"))
        .select(explode(expr(
          """flatten(transform(ids, (a, i) ->
            |  transform(slice(ids, i + 2, size(ids) - i - 1), b ->
            |    named_struct('a', a, 'b', b))))""".stripMargin)).as("p"))
        .select($"p.a".as("a"), $"p.b".as("b"))
        .persist()
      try {
        val covered = tpairs
          .join(sigs.select($"nb", $"doc_id".as("a"), $"b".as("ba"),
            $"band_key".as("ka")), Seq("a"))
          .join(sigs.select($"nb".as("nb2"), $"doc_id".as("b"), $"b".as("bb"),
            $"band_key".as("kb")), Seq("b"))
          .filter($"nb" === $"nb2" && $"ba" === $"bb" && $"ka" === $"kb")
          .select($"nb", $"a", $"b").distinct()
          .groupBy($"nb").agg(count(lit(1)).as("n_covered"))
        val truthN = tpairs.agg(count(lit(1)).as("n_truth"))
        val cand = sigs.groupBy($"nb", $"b", $"band_key")
          .agg(count(lit(1)).as("bn"))
          .filter($"bn" <= MaxLshBucket)
          .groupBy($"nb").agg(sum(expr("bn * (bn - 1) div 2")).as("n_cand"))
        val nd = docs.agg(count(lit(1)).as("n_docs"))
        val out = Seq(2L, 4L, 8L).toDF("nb")
          .join(broadcast(covered), Seq("nb"), "left")
          .join(broadcast(cand), Seq("nb"), "left")
          .crossJoin(broadcast(truthN)).crossJoin(broadcast(nd))
          .select($"nb".as("n_bands"), $"n_truth".as("n_truth_pairs"),
            coalesce($"n_covered", lit(0L)).as("n_covered_pairs"),
            expr("coalesce(n_covered, 0L) * 1000000L div nullif(n_truth, 0)")
              .as("completeness_ppm"),
            coalesce($"n_cand", lit(0L)).as("n_candidate_pairs"),
            expr("coalesce(n_cand, 0L) * 1000000L div (n_docs * (n_docs - 1) div 2)")
              .as("candidate_ppm"))
          .orderBy($"n_bands")
        Eager(out)
      } finally {
        tpairs.unpersist(blocking = false)
        sigs.unpersist(blocking = false)
        hashed.unpersist(blocking = false)
      }
    },
    Some {
      def sigBlock(nb: Int) = {
        val w = 32 / nb
        // NOTE: no continuation line may start with "||" — this block is
        // re-run through the OUTER stripMargin after interpolation, which
        // would eat the first pipe and corrupt concat into bitwise-or.
        s"""SELECT $nb AS nb, doc_id, b,
           |  list_aggregate(list_transform(h0, x -> substring(x, 1 + $w*b, $w)), 'min') || '|' ||
           |  list_aggregate(list_transform(h1, x -> substring(x, 1 + $w*b, $w)), 'min') AS band_key
           |  FROM hs, generate_series(0, ${nb - 1}) g(b)""".stripMargin
      }
      s"""WITH toks AS (SELECT doc_id, text, regexp_split_to_array(lower(text), '\\s+') AS t FROM documents),
         |docs AS (SELECT doc_id, text, t FROM toks WHERE len(t) >= 3),
         |sh AS (SELECT doc_id, list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS s
         |       FROM docs),
         |hs AS (SELECT doc_id,
         |        list_transform(s, x -> md5(x || ':0')) AS h0,
         |        list_transform(s, x -> md5(x || ':1')) AS h1 FROM sh),
         |sig AS (${Seq(2, 4, 8).map(sigBlock).mkString("\nUNION ALL\n")}),
         |cl AS (SELECT md5(substring(lower(text), 1, 40)) AS h, count(*) AS k,
         |    list_sort(list(doc_id)) AS ids
         |  FROM docs GROUP BY 1),
         |tp AS (SELECT unnest(flatten(list_transform(generate_series(1, len(ids)), i ->
         |      list_transform(generate_series(i + 1, len(ids)), j ->
         |        {'a': ids[i], 'b': ids[j]})))) AS p
         |  FROM cl WHERE k BETWEEN 2 AND 64),
         |tpairs AS (SELECT p.a AS a, p.b AS b FROM tp),
         |cov AS (SELECT nb, count(*) AS n_covered FROM (
         |  SELECT DISTINCT sa.nb, t.a, t.b FROM tpairs t
         |  JOIN sig sa ON sa.doc_id = t.a
         |  JOIN sig sb ON sb.doc_id = t.b AND sb.nb = sa.nb
         |    AND sb.b = sa.b AND sb.band_key = sa.band_key) GROUP BY nb),
         |tcnt AS (SELECT count(*) AS n_truth FROM tpairs),
         |bk AS (SELECT nb, b, band_key, count(*) AS bn FROM sig GROUP BY 1, 2, 3),
         |cand AS (SELECT nb, CAST(sum(bn * (bn - 1) // 2) AS BIGINT) AS n_cand
         |  FROM bk WHERE bn <= 64 GROUP BY nb),
         |nd AS (SELECT count(*) AS n_docs FROM docs),
         |nbs AS (SELECT unnest([2, 4, 8]) AS nb)
         |SELECT CAST(n.nb AS BIGINT) AS n_bands,
         |  (SELECT n_truth FROM tcnt) AS n_truth_pairs,
         |  CAST(coalesce(c.n_covered, 0) AS BIGINT) AS n_covered_pairs,
         |  CAST(coalesce(c.n_covered, 0) * 1000000
         |    // nullif((SELECT n_truth FROM tcnt), 0) AS BIGINT) AS completeness_ppm,
         |  CAST(coalesce(a.n_cand, 0) AS BIGINT) AS n_candidate_pairs,
         |  CAST(coalesce(a.n_cand, 0) * 1000000
         |    // ((SELECT n_docs FROM nd) * ((SELECT n_docs FROM nd) - 1) // 2) AS BIGINT) AS candidate_ppm
         |FROM nbs n LEFT JOIN cov c ON n.nb = c.nb LEFT JOIN cand a ON n.nb = a.nb
         |ORDER BY n_bands""".stripMargin
    },
  )

  /** q389 — clustering-agreement audit (adjusted Rand index, Hubert &
    * Arabie's chance-corrected form) between two cheap per-row document
    * partitions: A = q350's 40-char lowercased prefix fingerprint, B =
    * q25's SimHash32 value. "Does the O(1) sketch reproduce the
    * structure the O(1) prefix key sees?" is the standard pre-flight
    * before trusting either as a blocking key. Both labels are pure
    * per-row functions, so the contingency table is ONE groupBy
    * (label_a, label_b) shuffle — pairs NEVER materialize: all three
    * pair-count terms (Σ C(n_ij,2), Σ C(a_i,2), Σ C(b_j,2)) come from
    * the cell frame and its two marginal re-aggs, each post-shuffle
    * frame ≤ #clusters rows. The ARI itself is computed in double from
    * those exact BIGINTs with the cross-products cast to double FIRST
    * (sa·sb at 10^11-row scale overflows int64; the double product of
    * exact ints is deterministic IEEE, identical on both engines).
    * Universe: docs with ≥3 tokens (SimHash needs a shingle). */
  val q389 = QuerySpec(
    "q389_clustering_agreement_ari",
    (s, d) => {
      import s.implicits._
      import graft.functions.SimHash32.simhash32
      import graft.functions.ArrayMd5.arrayMd5
      val lab = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", lower(substring($"text", 1, 40)).as("pfx"),
          tokens($"text").as("t"))
        .filter(size($"t") >= 3)
        .select($"doc_id", $"pfx",
          simhash32(arrayMd5(shingles3("t"), lit(""))).as("simhash"))
      val cells = lab.groupBy($"pfx", $"simhash").agg(count(lit(1)).as("n"))
      val tot = cells.agg(
        sum($"n").as("n_docs"),
        count(lit(1)).as("n_cells"),
        sum(expr("n * (n - 1) div 2")).as("sum_comb_cells"))
      val sa = cells.groupBy($"pfx").agg(sum($"n").as("a"))
        .agg(sum(expr("a * (a - 1) div 2")).as("sum_comb_a"))
      val sb = cells.groupBy($"simhash").agg(sum($"n").as("b"))
        .agg(sum(expr("b * (b - 1) div 2")).as("sum_comb_b"))
      tot.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
        .withColumn("ari", expr(
          """CASE WHEN sum_comb_a + sum_comb_b = 0 THEN 1.0 ELSE
            |  round((sum_comb_cells - CAST(sum_comb_a AS DOUBLE) * sum_comb_b
            |           / (CAST(n_docs AS DOUBLE) * (n_docs - 1) / 2.0))
            |      / ((sum_comb_a + sum_comb_b) / 2.0
            |           - CAST(sum_comb_a AS DOUBLE) * sum_comb_b
            |           / (CAST(n_docs AS DOUBLE) * (n_docs - 1) / 2.0)), 6)
            |END""".stripMargin))
        .select($"n_docs", $"n_cells", $"sum_comb_cells",
          $"sum_comb_a", $"sum_comb_b", $"ari")
    },
    Some {
      val hi = "('8','9','a','b','c','d','e','f')"
      val sums = (0 until 32)
        .map(j => s"sum(CASE WHEN substring(hx, ${j + 1}, 1) IN $hi THEN 1 ELSE -1 END) AS s$j")
        .mkString(", ")
      val bits = (0 until 32)
        .map(j => s"(CASE WHEN s$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
        .mkString(" + ")
      s"""WITH toks AS (SELECT doc_id, lower(substring(text, 1, 40)) AS pfx,
         |               regexp_split_to_array(lower(text), '\\s+') AS t FROM documents),
         |sh0 AS (SELECT doc_id, pfx, unnest(list_transform(generate_series(1, len(t)-2),
         |          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS w
         |        FROM toks WHERE len(t) >= 3),
         |h AS (SELECT doc_id, pfx, md5(w) AS hx FROM sh0),
         |b AS (SELECT doc_id, pfx, $sums FROM h GROUP BY doc_id, pfx),
         |lab AS (SELECT doc_id, pfx, CAST($bits AS BIGINT) AS simhash FROM b),
         |cells AS (SELECT pfx, simhash, count(*) AS n FROM lab GROUP BY 1, 2),
         |rm AS (SELECT pfx, sum(n) AS a FROM cells GROUP BY 1),
         |cm AS (SELECT simhash, sum(n) AS b2 FROM cells GROUP BY 1),
         |agg AS (SELECT
         |  (SELECT CAST(sum(n) AS BIGINT) FROM cells) AS n_docs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM cells) AS n_cells,
         |  (SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) FROM cells) AS sum_comb_cells,
         |  (SELECT CAST(sum(a * (a - 1) // 2) AS BIGINT) FROM rm) AS sum_comb_a,
         |  (SELECT CAST(sum(b2 * (b2 - 1) // 2) AS BIGINT) FROM cm) AS sum_comb_b)
         |SELECT n_docs, n_cells, sum_comb_cells, sum_comb_a, sum_comb_b,
         |  CASE WHEN sum_comb_a + sum_comb_b = 0 THEN 1.0 ELSE
         |    round((sum_comb_cells - CAST(sum_comb_a AS DOUBLE) * sum_comb_b
         |             / (CAST(n_docs AS DOUBLE) * (n_docs - 1) / 2.0))
         |        / ((sum_comb_a + sum_comb_b) / 2.0
         |             - CAST(sum_comb_a AS DOUBLE) * sum_comb_b
         |             / (CAST(n_docs AS DOUBLE) * (n_docs - 1) / 2.0)), 6)
         |  END AS ari
         |FROM agg""".stripMargin
    },
  )

  /** q391 — MinHash estimator calibration: the 8-hash MinHash Jaccard
    * ESTIMATE (matching signature slots / 8 — q24's exact hash family:
    * two salted md5 passes × four disjoint 8-hex-char chunks) audited
    * against the EXACT n-gram Jaccard on every co-shingled pair from
    * the capped inverted index (q26's pair stream WITHOUT the ≥0.6
    * filter — calibration needs the full similarity range). Reported
    * per true-Jaccard decile: pair count, mean |est−true| and mean
    * signed error, all in exact integer ppm (est is a multiple of
    * 125000 by construction, so no float ever appears). This is the
    * "how many hashes does the LSH stack actually need" empirical
    * check behind q138/q385's banding calibrations.
    *
    * Scale: signatures are in-row array math computed once per doc;
    * the pair stream is bounded by the [[MaxPostingList]] cap exactly
    * as q26; the two signature lookups are doc-id equi-joins carrying
    * 8×8-char arrays (never text); the decile rollup is ≤10 rows. */
  val q391 = QuerySpec(
    "q391_minhash_estimator_error",
    (s, d) => {
      import s.implicits._
      val sh = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", tokens($"text").as("t"))
        .filter(size($"t") >= 3)
        .select($"doc_id", array_distinct(shingles3("t")).as("s"))
      val sig = sh
        .select($"doc_id", saltedHashes("s", 0).as("h0"), saltedHashes("s", 1).as("h1"))
        .select($"doc_id", expr(
          """flatten(array(
            |  transform(sequence(0, 3), b -> array_min(transform(h0, x -> substring(x, 1 + 8*b, 8)))),
            |  transform(sequence(0, 3), b -> array_min(transform(h1, x -> substring(x, 1 + 8*b, 8))))))""".stripMargin).as("sg"))
      val ex = sh.select($"doc_id", size($"s").as("sz"), explode($"s").as("g"))
      val pairs = ex.groupBy($"g")
        .agg(collectCapped(struct($"doc_id", $"sz"), MaxPostingList).as("xs"))
        .filter(size($"xs").between(2, MaxPostingList))
        .select(explode($"xs").as("a"), $"xs")
        .select($"a", explode($"xs").as("c"))
        .filter($"a.doc_id" < $"c.doc_id")
        .groupBy($"a.doc_id".as("doc_a"), $"c.doc_id".as("doc_b"))
        .agg(count(lit(1)).as("i"), min($"a.sz").as("sa"), min($"c.sz").as("sb"))
      pairs
        .join(sig.select($"doc_id".as("doc_a"), $"sg".as("sga")), Seq("doc_a"))
        .join(sig.select($"doc_id".as("doc_b"), $"sg".as("sgb")), Seq("doc_b"))
        .withColumn("true_ppm", expr("i * 1000000 div (sa + sb - i)"))
        .withColumn("est_ppm", expr(
          "cast(size(filter(zip_with(sga, sgb, (x, y) -> x = y), v -> v)) as bigint) * 125000"))
        .groupBy(least(expr("true_ppm div 100000"), lit(9L)).as("jaccard_decile"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(abs(est_ppm - true_ppm)) div count(1)").as("mean_abs_err_ppm"),
          expr("sum(est_ppm - true_ppm) div count(1)").as("mean_signed_err_ppm"))
        .orderBy($"jaccard_decile")
    },
    Some("""WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM documents),
           |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
           |       FROM toks WHERE len(t) >= 3),
           |hs AS (SELECT doc_id,
           |         list_transform(s, x -> md5(x || ':0')) AS h0,
           |         list_transform(s, x -> md5(x || ':1')) AS h1 FROM sh),
           |sig AS (SELECT doc_id,
           |         flatten([
           |           list_transform([0,1,2,3], b -> list_aggregate(list_transform(h0, x -> substring(x, 1 + 8*b, 8)), 'min')),
           |           list_transform([0,1,2,3], b -> list_aggregate(list_transform(h1, x -> substring(x, 1 + 8*b, 8)), 'min'))]) AS sg
           |        FROM hs),
           |ex AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
           |exf AS (SELECT doc_id, sz, g FROM (
           |  SELECT doc_id, sz, g, count(*) OVER (PARTITION BY g) AS bn FROM ex)
           |  WHERE bn BETWEEN 2 AND 64),
           |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i, min(a.sz) AS sa, min(b.sz) AS sb
           |          FROM exf a JOIN exf b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
           |pr AS (SELECT doc_a, doc_b,
           |         CAST(i * 1000000 // (sa + sb - i) AS BIGINT) AS true_ppm,
           |         CAST(len(list_filter(generate_series(1, 8), k -> s1.sg[k] = s2.sg[k])) * 125000 AS BIGINT) AS est_ppm
           |       FROM inter JOIN sig s1 ON inter.doc_a = s1.doc_id JOIN sig s2 ON inter.doc_b = s2.doc_id),
           |bk AS (SELECT least(true_ppm // 100000, 9) AS bucket,
           |         CAST(abs(est_ppm - true_ppm) AS BIGINT) AS aerr,
           |         est_ppm - true_ppm AS serr FROM pr)
           |SELECT CAST(bucket AS BIGINT) AS jaccard_decile, CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(sum(aerr) // count(*) AS BIGINT) AS mean_abs_err_ppm,
           |  CAST(sum(serr) // count(*) AS BIGINT) AS mean_signed_err_ppm
           |FROM bk GROUP BY 1 ORDER BY 1""".stripMargin),
  )

  /** q393 — IDF-weighted Jaccard near-dup ranking: q26's exact shingle
    * Jaccard re-weighted by rarity (w(g) = 10⁶ div df(g), integer IDF),
    * so boilerplate grams that every page shares stop inflating
    * similarity and RARE-gram overlap dominates — the standard fix for
    * template-heavy corpora where plain Jaccard pairs everything.
    * Top-20 pairs by weighted-Jaccard ppm, exact integers throughout.
    *
    * Scale: the df frame is vocabulary-sized (one gram groupBy); doc
    * total weights are one join+agg; the pair stream rides the SAME
    * [[MaxPostingList]]-capped inverted index as q26 — and the cap is
    * SEMANTICALLY aligned here: an over-cap bucket means df > 64, whose
    * weight 10⁶ div df is the smallest in the corpus, so the dropped
    * intersection mass is exactly the mass this metric exists to
    * discount (both engines drop it identically). */
  val q393 = QuerySpec(
    "q393_weighted_jaccard_rank",
    (s, d) => {
      import s.implicits._
      val sh = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .select($"doc_id", tokens($"text").as("t"))
        .filter(size($"t") >= 3)
        .select($"doc_id", array_distinct(shingles3("t")).as("s"))
      val ex = sh.select($"doc_id", explode($"s").as("g"))
      val w = ex.groupBy($"g").agg(count(lit(1)).as("df"))
        .select($"g", expr("1000000 div df").as("w"))
      val exw = ex.join(w, Seq("g"))
      val docw = exw.groupBy($"doc_id").agg(sum($"w").as("tw"))
      val pairs = exw.groupBy($"g", $"w")
        .agg(collectCapped($"doc_id", MaxPostingList).as("xs"))
        .filter(size($"xs").between(2, MaxPostingList))
        .select($"w", explode($"xs").as("a"), $"xs")
        .select($"w", $"a", explode($"xs").as("c"))
        .filter($"a" < $"c")
        .groupBy($"a".as("doc_a"), $"c".as("doc_b"))
        .agg(sum($"w").as("iw"), count(lit(1)).as("n_common"))
      pairs
        .join(docw.select($"doc_id".as("doc_a"), $"tw".as("twa")), Seq("doc_a"))
        .join(docw.select($"doc_id".as("doc_b"), $"tw".as("twb")), Seq("doc_b"))
        .select($"doc_a", $"doc_b", $"n_common", $"iw",
          expr("iw * 1000000 div (twa + twb - iw)").as("wjaccard_ppm"))
        .orderBy($"wjaccard_ppm".desc, $"doc_a", $"doc_b")
        .limit(20)
    },
    Some("""WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM documents),
           |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
           |       FROM toks WHERE len(t) >= 3),
           |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
           |w AS (SELECT g, CAST(1000000 // count(*) AS BIGINT) AS w FROM ex GROUP BY g),
           |docw AS (SELECT doc_id, CAST(sum(w.w) AS BIGINT) AS tw FROM ex JOIN w USING (g) GROUP BY doc_id),
           |exf AS (SELECT doc_id, g, w FROM (
           |  SELECT e.doc_id, e.g, w.w, count(*) OVER (PARTITION BY e.g) AS bn FROM ex e JOIN w ON e.g = w.g)
           |  WHERE bn BETWEEN 2 AND 64),
           |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |            CAST(sum(a.w) AS BIGINT) AS iw, count(*) AS nc
           |          FROM exf a JOIN exf b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
           |SELECT doc_a, doc_b, CAST(nc AS BIGINT) AS n_common, iw,
           |  CAST(iw * 1000000 // (wa.tw + wb.tw - iw) AS BIGINT) AS wjaccard_ppm
           |FROM inter JOIN docw wa ON inter.doc_a = wa.doc_id
           |           JOIN docw wb ON inter.doc_b = wb.doc_id
           |ORDER BY wjaccard_ppm DESC, doc_a, doc_b LIMIT 20""".stripMargin),
  )

  /** q464 — exact-substring duplicate SPANS (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * ExactSubstr shape, the dedup rung above MinHash/SimHash/PPJoin:
    * find the repeated regions themselves, not just near-dup doc
    * pairs): every character span that some length-≥T substring shares
    * with any other position in the corpus (T = 24 chars), reported as
    * MERGED per-doc intervals — the spans a curator cuts out of
    * training text. Construction: a substring of length ≥ T repeats iff
    * every one of its length-T windows repeats, so repeated-T-gram
    * positions, merged when closer than T, cover exactly the maximal
    * ≥T repeats (suffix-array output, reached by counting instead of
    * sorting suffixes — Round8EdgeSpec pins the planted-repeat
    * coverage). Per-doc gram hashes are computed IN-ROW (one pass over
    * the text, no 24× substring blow-up on the shuffle: 16 hex chars
    * travel per position, not the gram); the census is one groupBy on
    * the hash with map-side combine; the island merge is a per-doc
    * window over only the REPEATED positions. md5 is the portable-
    * oracle stand-in for the rolling Karp-Rabin hash a 100 TB run would
    * use (q32's note) — swap the hash, keep the plan. */
  val q464 = QuerySpec(
    "q464_exact_substring_spans",
    (s, d) => {
      import s.implicits._
      val T = 24
      val grams = Tables.fanOut(Tables.documents(s, d), col("doc_id"))
        .filter(length($"text") >= T)
        .select($"doc_id", explode(expr(
          s"""transform(sequence(1, length(text) - ${T - 1}),
             | i -> named_struct('i', i,
             |   'h', substring(md5(substring(text, i, $T)), 1, 16)))"""
            .stripMargin.replaceAll("\n", ""))).as("p"))
        .select($"doc_id", $"p.i".as("i"), $"p.h".as("h"))
      val rep = grams.groupBy($"h").agg(count(lit(1)).as("n")).filter($"n" > 1)
      val hits = grams.join(rep.select($"h"), Seq("h"), "left_semi")
      val w = Window.partitionBy($"doc_id").orderBy($"i")
      hits
        .withColumn("brk", when(lag($"i", 1).over(w).isNull
          || $"i" - lag($"i", 1).over(w) > T, 1).otherwise(0))
        .withColumn("island", sum($"brk").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"doc_id", $"island")
        .agg(min($"i").cast("long").as("span_start"),
          (max($"i") + (T - 1)).cast("long").as("span_end"),
          (max($"i") + T - min($"i")).cast("long").as("span_len"),
          count(lit(1)).as("n_grams"))
        .select($"doc_id", $"span_start", $"span_end", $"span_len", $"n_grams")
        .orderBy($"doc_id", $"span_start")
    },
    Some("""WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 24),
           |gr AS (SELECT doc_id, p.i AS i, p.h AS h FROM (
           |   SELECT doc_id, unnest(list_transform(generate_series(1, length(text) - 23),
           |     i -> struct_pack(i := i, h := substr(md5(substr(text, i, 24)), 1, 16)))) AS p FROM d)),
           |rep AS (SELECT h FROM gr GROUP BY h HAVING count(*) > 1),
           |ht AS (SELECT doc_id, i FROM gr WHERE h IN (SELECT h FROM rep)),
           |b AS (SELECT doc_id, i,
           |   CASE WHEN lag(i) OVER w IS NULL OR i - lag(i) OVER w > 24 THEN 1 ELSE 0 END AS brk
           |   FROM ht WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
           |isl AS (SELECT doc_id, i, sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS island FROM b)
           |SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start,
           |  CAST(max(i) + 23 AS BIGINT) AS span_end,
           |  CAST(max(i) + 24 - min(i) AS BIGINT) AS span_len, count(*) AS n_grams
           |FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin),
  )

  /** q493's clustering over a collapsed ε-graph, factored for edge
    * tests: DBSCAN roles from a REPRESENTATIVE pair list — every
    * exact-duplicate group is one rep row (rid = min member id,
    * g = group size, idsum = member-id sum), and because co-located
    * duplicates are each other's ε-neighbors, a rep's neighbor MASS is
    * (g − 1) + Σ g over adjacent reps; CORE ⇔ mass ≥ 2 (so a clone
    * group of ≥ 3 is core on its own). Clusters are min-label
    * components of the core-core subgraph (an isolated core is a
    * singleton cluster), BORDER reps attach to the minimum adjacent
    * core cluster, everything else is NOISE — all counts/checksums
    * expand back through g/idsum, so the readout is EXACTLY the
    * point-level DBSCAN's (clones share adjacency, so a whole group
    * always lands in one role). Returns one row per cluster (+ the
    * cluster_id = -1 noise row). */
  private[graft] def dbscanClusters(pairs: DataFrame,
      reps: DataFrame): DataFrame = graft.Frames.scoped { f =>
    import pairs.sparkSession.implicits._
    val bi = pairs.select($"u".as("n"), $"v".as("m"))
      .unionAll(pairs.select($"v".as("n"), $"u".as("m")))
    val mass = reps.select($"rid".as("n"), ($"g" - 1).as("w"))
      .unionByName(bi.join(
        broadcast(reps.select($"rid".as("m"), $"g")), Seq("m"))
        .select($"n", $"g".as("w")))
      .groupBy($"n").agg(sum($"w").as("mass"))
    val core = f.persist(mass.filter($"mass" >= 2).select($"n"))
    val coreEdges = pairs
      .join(core.select($"n".as("u")), Seq("u"), "left_semi")
      .join(core.select($"n".as("v")), Seq("v"), "left_semi")
    // r13: components via star contraction instead of min-label
    // propagation — identical unique fixed point (component-minimum
    // labels; the q506 ≡ q485 equivalence), but the density clusters'
    // chained neighborhoods give the ε-graph real diameter, where
    // propagation pays one round per unit and contraction halves path
    // lengths per pair of rounds (A/B at sf0.1: 5.2-6.8 s → 3.2-4.0 s
    // for the labeling phase).
    val lbl0 = GraphOps.starContractLabels(f, coreEdges.select($"u", $"v"))
    val isolated = core.select($"n".as("node"))
      .join(lbl0.select($"node"), Seq("node"), "left_anti")
      .select($"node", $"node".as("label"))
    val lbl = f.persist(lbl0.select($"node", $"label").unionByName(isolated))
    val borders = bi
      .join(core, Seq("n"), "left_anti")
      .join(lbl.select($"node".as("m"), $"label"), Seq("m"))
      .groupBy($"n").agg(min($"label").as("label"))
      .select($"n".as("node"), $"label")
    val members = f.persist(lbl.select($"node", $"label", lit(1L).as("is_core"))
      .unionByName(borders.select($"node", $"label", lit(0L).as("is_core")))
      .join(broadcast(reps.select($"rid".as("node"), $"g", $"idsum")), Seq("node")))
    val clusters = members.groupBy($"label".as("cluster_id"))
      .agg(sum($"is_core" * $"g").as("n_core"),
        sum((lit(1L) - $"is_core") * $"g").as("n_border"),
        sum($"g").as("n_total"),
        sum($"idsum").as("chk"))
    val noise = reps
      .join(members.select($"node".as("rid")), Seq("rid"), "left_anti")
      .agg(coalesce(sum($"g"), lit(0L)).as("n_total"),
        coalesce(sum($"idsum"), lit(0L)).as("chk"))
      .select(lit(-1L).as("cluster_id"), lit(0L).as("n_core"),
        lit(0L).as("n_border"), $"n_total", $"chk")
    Eager(clusters.unionByName(noise).orderBy($"cluster_id"))
  }

  /** q493 — DBSCAN-style density clustering over the embedding corpus
    * (the density companion to q236's centroid k-means and q59's
    * exact-duplicate components: clusters of ANY shape, with an
    * explicit NOISE verdict — the structure a curation pass wants
    * before deciding what a "topic" is): exact-duplicate embeddings
    * are COLLAPSED to one weighted representative first (bitwise
    * group-by on the raw vector — a crawled corpus is clone-heavy, and
    * every downstream cost then scales with DISTINCT vectors; clones
    * are each other's ε-neighbors, so the collapse is exactly
    * role-preserving — [[dbscanClusters]] proves the algebra), then
    * ε-graph = exact cosine ≥ 0.35 rep pairs (this corpus is
    * near-orthogonal — 0.35 keeps the planted neighborhoods), core ⇔
    * neighbor mass ≥ 2, clusters = min-label components of the
    * core-core subgraph, borders attach to their minimum adjacent core
    * cluster, the rest is noise — one census row per cluster plus the
    * -1 noise row, counts expanded back through group sizes. Cosines
    * are sequential-fold doubles (q27's bit-identical discipline),
    * every count an exact integer. Scale: the rep-level pair join is
    * the deliberate exact baseline (q27's stance) — at 100 TB
    * candidates come from the LSH/IVF blocks (q24/q28/q55) and THIS
    * pipeline runs inside each block; the collapse is ALSO what keeps
    * the oracle's transitive closure |distinct|²-bounded instead of
    * clone-quadratic (the sf1 clone structure OOM'd the uncollapsed
    * closure at 22 GB). */
  /** q493's clone collapse, factored for the plan pin: one weighted
    * representative per DISTINCT embedding (bitwise group-by on the raw
    * vector) — the stage every downstream q493 cost scales by. */
  private[graft] def collapseReps(embeddings: DataFrame): DataFrame = {
    import embeddings.sparkSession.implicits._
    embeddings
      .groupBy($"embedding")
      .agg(min($"vec_id").as("rid"), count(lit(1)).as("g"),
        sum($"vec_id").as("idsum"))
      .select($"rid", asDouble($"embedding").as("emb"), $"g", $"idsum")
      .withColumn("nrm", l2Norm($"emb"))
  }

  /** q493's ε-graph, factored for the plan pin: exact-cosine rep pairs
    * at `minCos`, the one place a corpus-sized product could sneak in —
    * the pin asserts the build side is the (broadcast) COLLAPSED rep
    * frame with the collapse aggregate BELOW the join on both sides,
    * never the raw clone-heavy corpus. */
  private[graft] def epsPairs(reps: DataFrame, minCos: Double): DataFrame = {
    import reps.sparkSession.implicits._
    reps
      .join(broadcast(reps.select($"rid".as("r2"), $"emb".as("e2"),
        $"nrm".as("n2"))), $"rid" < $"r2")
      .withColumn("cos", dot($"emb", $"e2") / ($"nrm" * $"n2"))
      .filter($"cos" >= minCos)
      .select($"rid".as("u"), $"r2".as("v"))
  }

  val q493 = QuerySpec(
    "q493_dbscan_embeddings",
    (s, d) => {
      import s.implicits._
      val reps = collapseReps(
          Tables.fanOut(Tables.embeddings(s, d), col("vec_id")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val pairs = epsPairs(reps, 0.35)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try dbscanClusters(pairs, reps.select($"rid", $"g", $"idsum"))
        finally { pairs.unpersist(blocking = false); () }
      } finally { reps.unpersist(blocking = false); () }
    },
    Some(s"""WITH RECURSIVE grp AS (
            |  SELECT min(vec_id) AS rid, count(*) AS g, sum(vec_id) AS idsum,
            |    CAST(embedding AS DOUBLE[]) AS emb
            |  FROM embeddings GROUP BY embedding),
            |p AS (SELECT a.rid AS u, b.rid AS v, ${sqlCosine("a.emb", "b.emb")} AS c
            |      FROM grp a JOIN grp b ON a.rid < b.rid),
            |ed AS MATERIALIZED (SELECT u, v FROM p WHERE c >= 0.35),
            |bi AS (SELECT u AS n, v AS m FROM ed UNION ALL SELECT v, u FROM ed),
            |mass AS (SELECT n, sum(w) AS mass FROM (
            |    SELECT rid AS n, g - 1 AS w FROM grp
            |    UNION ALL
            |    SELECT bi.n, grp.g FROM bi JOIN grp ON grp.rid = bi.m)
            |  GROUP BY n),
            |core AS MATERIALIZED (SELECT n FROM mass WHERE mass >= 2),
            |ce AS (SELECT u, v FROM ed
            |  WHERE u IN (SELECT n FROM core) AND v IN (SELECT n FROM core)),
            |cbi AS (SELECT u AS a, v AS b FROM ce UNION ALL SELECT v, u FROM ce),
            |reach(src, node) AS (
            |  SELECT n, n FROM core
            |  UNION
            |  SELECT r.src, e2.b FROM reach r JOIN cbi e2 ON e2.a = r.node),
            |lbl AS (SELECT src AS node, min(node) AS label FROM reach GROUP BY src),
            |border AS (SELECT bi.n AS node, min(l.label) AS label
            |  FROM bi JOIN lbl l ON l.node = bi.m
            |  WHERE bi.n NOT IN (SELECT n FROM core)
            |  GROUP BY bi.n),
            |members AS (SELECT node, label, 1 AS is_core FROM lbl
            |  UNION ALL SELECT node, label, 0 FROM border),
            |mg AS (SELECT node, label, is_core, g, idsum
            |  FROM members JOIN grp ON grp.rid = members.node),
            |clusters AS (SELECT label AS cluster_id,
            |    CAST(sum(is_core * g) AS BIGINT) AS n_core,
            |    CAST(sum((1 - is_core) * g) AS BIGINT) AS n_border,
            |    CAST(sum(g) AS BIGINT) AS n_total,
            |    CAST(sum(idsum) AS BIGINT) AS chk
            |  FROM mg GROUP BY 1),
            |noise AS (SELECT CAST(-1 AS BIGINT) AS cluster_id,
            |    CAST(0 AS BIGINT) AS n_core, CAST(0 AS BIGINT) AS n_border,
            |    CAST(coalesce(sum(g), 0) AS BIGINT) AS n_total,
            |    CAST(coalesce(sum(idsum), 0) AS BIGINT) AS chk
            |  FROM grp WHERE rid NOT IN (SELECT node FROM members))
            |SELECT * FROM clusters UNION ALL SELECT * FROM noise
            |ORDER BY cluster_id""".stripMargin),
  )

  val all: Seq[QuerySpec] = Seq(q24, q25, q26, q27, q28, q52, q55, q81, q125,
    q138, q296, q302, q320, q329, q383, q385, q389, q391, q393, q464, q493,
    q498, q503)
}
