package graft

import org.apache.spark.sql.functions._

import graft.streaming.StreamVocabCensus

/** Named edge cases for the round-11 additions, led by the census-store
  * compaction lifecycle (q500 + the round-10 verdict's ask #5): the fold
  * must survive a kill at EVERY protocol stage — mid-stage (no marker →
  * the garbage stage is discarded and the store never lost a row),
  * immediately after the marker (recovery completes the whole fold), and
  * mid-commit (recovery converges the half-processed state) — with the
  * probe's merged answer invariant throughout.
  */
class Round11EdgeSpec extends SparkTestBase {

  /** A census store with the epoch-0 build plus `n` streamed batches,
    * in a fresh tmp tree; term masses differ per batch so any
    * double-count or loss shifts a frequency. */
  private def buildStore(n: Int): String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_census_edge").toString
    val docs = spark.range(0, 60)
      .select($"id".as("doc_id"),
        concat(lit("w"), ($"id" % 9).cast("string"), lit(" common")).as("text"))
    StreamVocabCensus.writeBatchTo(tmp, docs, -1L)
    (0 until n).foreach(b =>
      StreamVocabCensus.writeBatchTo(
        tmp, docs.filter($"doc_id" % n === b), b.toLong))
    tmp
  }

  private def counts(tmp: String): Seq[(String, Long)] = {
    import spark.implicits._
    StreamVocabCensus.mergedCensus(spark, tmp)
      .orderBy($"term").as[(String, Long)].collect().toSeq
  }

  private def parts(tmp: String): Seq[String] =
    Option(new java.io.File(s"$tmp/census").listFiles)
      .getOrElse(Array.empty[java.io.File])
      .iterator.filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
      .map(_.getName).toList.sorted

  test("census compaction: answer-invariant, idempotent, and generation ids never collide") {
    val tmp = buildStore(3)
    try {
      val before = counts(tmp)
      assert(parts(tmp).size === 4)
      StreamVocabCensus.compact(spark, tmp)
      assert(parts(tmp) === Seq("batch_id=-2"), parts(tmp).mkString(","))
      assert(counts(tmp) === before)
      // A second compaction of a single-generation store is a no-op...
      StreamVocabCensus.compact(spark, tmp)
      assert(parts(tmp) === Seq("batch_id=-2"))
      // ...and a post-compaction batch (a replay or fresh ingest) lands
      // beside the generation, then folds into a NEW, more negative one.
      import spark.implicits._
      StreamVocabCensus.writeBatchTo(tmp,
        spark.range(0, 5).select($"id".as("doc_id"), lit("common x").as("text")), 7L)
      val grown = counts(tmp)
      StreamVocabCensus.compact(spark, tmp)
      assert(parts(tmp) === Seq("batch_id=-3"), parts(tmp).mkString(","))
      assert(counts(tmp) === grown)
    } finally Fs.deleteTree(tmp)
  }

  test("census compaction: kill MID-STAGE (no marker) loses nothing — the stage is garbage") {
    val tmp = buildStore(2)
    try {
      val before = counts(tmp)
      val stage = s"$tmp/census.__compact_stage"
      // Simulate the kill: the staged data exists (Spark even committed
      // its own nested _SUCCESS) but the fold's TOP-LEVEL marker never
      // landed — recovery must treat the whole stage as garbage.
      assert(StreamVocabCensus.stageCompaction(spark, s"$tmp/census", stage))
      java.nio.file.Files.delete(java.nio.file.Paths.get(s"$stage/_SUCCESS"))
      assert(counts(tmp) === before)              // probe recovered-then-read
      assert(parts(tmp).size === 3, "a partition vanished without a committed fold")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(stage)))
      StreamVocabCensus.compact(spark, tmp)       // replayed fold still works
      assert(parts(tmp) === Seq("batch_id=-2"))
      assert(counts(tmp) === before)
    } finally Fs.deleteTree(tmp)
  }

  test("census compaction: kill AFTER the marker — recovery completes the fold") {
    val tmp = buildStore(2)
    try {
      val before = counts(tmp)
      val stage = s"$tmp/census.__compact_stage"
      assert(StreamVocabCensus.stageCompaction(spark, s"$tmp/census", stage))
      // Killed here: marker committed, commit never ran. The next probe
      // must finish the fold itself.
      assert(counts(tmp) === before)
      assert(parts(tmp) === Seq("batch_id=-2"), parts(tmp).mkString(","))
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(stage)))
    } finally Fs.deleteTree(tmp)
  }

  test("weighted vs unweighted Louvain disagree: one heavy tie beats many light ties") {
    graft.Frames.scoped { f =>
      import graft.queries.GraphOps
      // Two HEAVY PAIRS: A = (2,5) at support 9, B = (6,9) at support 9
      // — each pair spans the parity classes, so it fuses in round 1 and
      // nothing ever swap-oscillates. Bridge node 3 (odd) is tied to A by
      // ONE support-5 edge and to B by TWO support-1 edges. Edge COUNT
      // says B (2 ties beat 1, once B has fused); edge WEIGHT says A
      // (mass 5 beats 2) — the exact evidence distinction the weighted
      // ascent exists for: the unweighted walk moves 3 into B on the
      // round-3 reconsideration, the weighted walk holds it in A at every
      // round.
      val wEdges = spark.createDataFrame(Seq(
        (2L, 5L, 9L), (6L, 9L, 9L),
        (3L, 2L, 5L), (3L, 6L, 1L), (3L, 9L, 1L)))
        .toDF("u", "v", "sup")
      val unw = GraphOps.louvainRounds(f, wEdges.select(col("u"), col("v")), 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val wtd = GraphOps.louvainRoundsWeighted(f, wEdges, 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // Both keep the pairs intact...
      for (com <- Seq(unw, wtd)) {
        assert(Set(2L, 5L).map(com).size === 1, com.toString)
        assert(Set(6L, 9L).map(com).size === 1, com.toString)
        assert(com(2L) !== com(6L), com.toString)
      }
      // ...and disagree exactly on the bridge node.
      assert(unw(3L) === unw(6L),
        s"unweighted Louvain should follow the 2 light ties into B: $unw")
      assert(wtd(3L) === wtd(2L),
        s"weighted Louvain should follow the heavy tie into A: $wtd")
    }
  }

  test("q505 keep-first vs q160 drop-all: the first occurrence survives, later ones go") {
    import spark.implicits._
    // Three docs sharing one 8-word span: doc 1 carries the corpus-first
    // occurrence (plus a unique tail span), docs 2 and 3 repeat it.
    val span = (1 to 8).map(i => s"dup$i").mkString(" ")
    val tail = (1 to 8).map(i => s"solo$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("graft_q505").toString
    try {
      Seq(
        (1L, s"$span $tail", "en", "web", 0L),
        (2L, s"$span extra", "en", "web", 0L),
        (3L, span, "en", "web", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$tmp/documents.parquet")
      val rows = SparkEntry.queries("q505_span_dedup_keep_first")(spark, tmp)
        .orderBy($"doc_id").collect()
      val byDoc = rows.map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
      // Doc 1: both spans kept (it owns the first occurrence) — rebuilt
      // text is byte-identical to the original.
      assert(byDoc(1L)._2 === 0L, byDoc.toString)
      assert(byDoc(1L)._4 === md5Hex(s"$span $tail"), byDoc.toString)
      // Doc 2: its copy of the span is a later occurrence — removed,
      // leaving only the sub-span tail "extra".
      assert(byDoc(2L)._2 === 1L, byDoc.toString)
      assert(byDoc(2L)._4 === md5Hex("extra"), byDoc.toString)
      assert(byDoc(2L)._3 === (span.length + 1).toLong, byDoc.toString)
      // Doc 3: nothing but the duplicated span — rebuilt empty.
      assert(byDoc(3L)._2 === 1L, byDoc.toString)
      assert(byDoc(3L)._4 === md5Hex(""), byDoc.toString)
      // q160 on the same corpus drops EVERY occurrence: doc 1 loses the
      // span too — the two verbs differ exactly on the survivor.
      val scrub = SparkEntry.queries("q160_span_scrub")(spark, tmp)
        .orderBy($"doc_id").collect()
      val s1 = scrub.find(_.getLong(0) == 1L).get
      assert(s1.getAs[Long]("n_dropped") === 1L, s1.toString)
      assert(s1.getAs[String]("cleaned_md5") === md5Hex(tail), s1.toString)
    } finally Fs.deleteTree(tmp)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  test("two-level Louvain merges what one level cannot, and strictly improves Q") {
    graft.Frames.scoped { f =>
      import graft.queries.GraphOps
      import spark.implicits._
      // Four heavy pairs chained by medium ties into two natural groups,
      // with a weight-1 bridge between the groups: level 1 can only form
      // the pairs (any single node leaving its support-10 partner loses
      // more than a support-8 tie gains), but moving a WHOLE pair across
      // a tie is Q-positive — exactly the move contraction unlocks.
      val g = spark.createDataFrame(Seq(
        (1L, 2L, 10L), (3L, 4L, 10L), (5L, 6L, 10L), (7L, 8L, 10L),
        (2L, 3L, 8L), (6L, 7L, 8L), (4L, 5L, 1L)))
        .toDF("u", "v", "sup")
      val p1 = GraphOps.louvainRoundsWeighted(f, g, 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // Level 1: the four pairs, nothing more.
      assert(p1.values.toSet.size === 4, p1.toString)
      for (pair <- Seq(Set(1L, 2L), Set(3L, 4L), Set(5L, 6L), Set(7L, 8L)))
        assert(pair.map(p1).size === 1, p1.toString)
      val p2 = GraphOps.louvainTwoLevelLabels(f, g, 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // Level 2: the two chained groups, bridge left between them.
      assert(Set(1L, 2L, 3L, 4L).map(p2).size === 1, p2.toString)
      assert(Set(5L, 6L, 7L, 8L).map(p2).size === 1, p2.toString)
      assert(p2(1L) !== p2(5L), p2.toString)
      // And the ascent is real: the two-level partition's weighted Q
      // strictly beats the one-level one on the same graph.
      def q(lbl: Map[Long, Long]): Long = {
        val lblDf = spark.createDataFrame(lbl.toSeq).toDF("n", "com")
        GraphOps.modularityCensusWeighted(g, lblDf)
          .filter($"com" === -1L).head.getAs[Long]("contribution_ppm")
      }
      val (q1, q2) = (q(p1), q(p2))
      assert(q2 > q1, s"two-level Q $q2 does not beat one-level Q $q1")
    }
  }

  test("star contraction ≡ min-label propagation on a multi-component graph") {
    graft.Frames.scoped { f =>
      import graft.queries.GraphOps
      // Three components of different shapes: a 5-cycle, a star, and an
      // edge — plus ids deliberately out of order so the minimum is not
      // the first node written.
      val g = spark.createDataFrame(Seq(
        (10L, 7L), (7L, 12L), (12L, 9L), (9L, 14L), (14L, 10L),
        (21L, 25L), (21L, 23L), (21L, 27L),
        (31L, 30L))).toDF("u", "v")
      val star = GraphOps.starContractLabels(f, g)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val prop = GraphOps.minLabel(f, g.select(col("u").as("src"), col("v").as("dst")))
      val propM = prop.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      prop.unpersist(blocking = false)
      assert(star === propM, s"star=$star prop=$propM")
      assert(star.values.toSet === Set(7L, 21L, 30L), star.toString)
    }
  }

  test("star contraction beats the diameter wall: a 200-node path converges inside the cap") {
    graft.Frames.scoped { f =>
      import graft.queries.GraphOps
      import spark.implicits._
      // Plain min-label propagation moves the minimum ONE hop per round —
      // a diameter-199 path needs ~200 rounds, far past the MaxIters=25
      // guard both loops share. Star contraction halves path lengths
      // every pair of rounds, so the same graph converges in a handful.
      val path = spark.range(1, 200)
        .select($"id".as("u"), ($"id" + 1).as("v"))
      val lbl = GraphOps.starContractLabels(f, path)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lbl.size === 200)
      assert(lbl.values.forall(_ == 1L),
        s"non-min labels survive: ${lbl.filter(_._2 != 1L)}")
      // And the propagation loop indeed cannot do this one.
      val thrown = intercept[Exception] {
        GraphOps.minLabel(f, path.select($"u".as("src"), $"v".as("dst"))).collect()
      }
      assert(thrown.getMessage.contains("did not converge"), thrown.getMessage)
    }
  }

  test("census compaction: kill MID-COMMIT converges — folded deletes done, generation still staged") {
    val tmp = buildStore(2)
    try {
      val before = counts(tmp)
      val stage = s"$tmp/census.__compact_stage"
      assert(StreamVocabCensus.stageCompaction(spark, s"$tmp/census", stage))
      // Simulate a commit killed half-way: every folded partition is
      // already deleted but the staged generation has not moved yet —
      // the lossiest intermediate state (the store momentarily holds NO
      // committed data and only the stage carries the census).
      parts(tmp).foreach(n => Fs.deleteTree(s"$tmp/census/$n"))
      assert(parts(tmp).isEmpty)
      assert(counts(tmp) === before)
      assert(parts(tmp) === Seq("batch_id=-2"))
    } finally Fs.deleteTree(tmp)
  }
}
