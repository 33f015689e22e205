package graft

import org.apache.spark.sql.functions._

/** Focused tests for the r13 OPTIMIZATION round's operator-internal
  * changes: the derived streaming state width, the generation-count
  * compaction gate, the fused Louvain contraction's algebra, the
  * q296/q320 candidate filters' losslessness, and the q493 labeling
  * swap's fixed-point equality.
  */
class Round13OptSpec extends SparkTestBase {

  test("derivedPartitions scales with the input census and caps at the session width") {
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // The streaming state width: the shared rule at floor 4.
    val d = graft.Confs.derivedWidth(spark, _: Long, 4)
    // Fixture scale resolves to the floor.
    assert(d(0L) === math.min(session, 4))
    assert(d(60000L) === math.min(session, 4))
    // The by-volume term takes over at ~500k rows/partition...
    assert(d(2500000L) === math.min(session, 5))
    // ...and a 100 TB-rate census caps at the session (cluster) width,
    // so the driver's SPARK_GRAFT_CPUS scale runs stay comparable.
    assert(d(1000000000L) === session)
  }

  test("compactIfDue no-ops below the generation gate, folds at it, and always recovers first") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_gate").toString
    try {
      val root = s"$tmp/census"
      def write(b: Long): Unit =
        Seq(("alpha", 2L, b), ("beta", 1L, b)).toDF("term", "cnt", "batch_id")
          .write.mode("append").partitionBy("batch_id").parquet(root)
      def fold(all: org.apache.spark.sql.DataFrame, gen: Long, out: String): Unit =
        all.groupBy($"term").agg(sum($"cnt").as("cnt"))
          .withColumn("batch_id", lit(gen))
          .write.partitionBy("batch_id").parquet(out)
      def census(): Map[String, Long] =
        spark.read.parquet(root).groupBy($"term").agg(sum($"cnt").as("c"))
          .as[(String, Long)].collect().toMap
      val gate = graft.streaming.StoreCompaction.FoldMinGenerations
      write(-1L)
      (0L until (gate - 2L)).foreach(write)
      val before = census()
      // gate − 1 generations: no fold, answers unchanged.
      assert(!graft.streaming.StoreCompaction.compactIfDue(spark, root, fold))
      assert(graft.streaming.StoreCompaction.batchIds(root).size === gate - 1)
      assert(census() === before)
      // One more generation trips the gate; the fold consolidates.
      write(gate.toLong)
      val before4 = census()
      assert(graft.streaming.StoreCompaction.compactIfDue(spark, root, fold))
      assert(graft.streaming.StoreCompaction.batchIds(root) === Seq(-2L))
      assert(census() === before4)
      // Crash recovery is NOT gated: an interrupted committed stage
      // completes even though the store is now a single generation.
      write(5L)
      val before5 = census()
      val stage = graft.streaming.StoreCompaction.stageDirFor(root)
      assert(graft.streaming.StoreCompaction.stageCompaction(
        spark, root, stage, fold))
      // Marker present → compactIfDue must finish the commit before
      // deciding anything.
      assert(!graft.streaming.StoreCompaction.compactIfDue(spark, root, fold))
      assert(graft.streaming.StoreCompaction.batchIds(root) === Seq(-3L))
      assert(census() === before5)
    } finally Fs.deleteTree(tmp)
  }

  test("fused louvainContractMerged ≡ the separate e2/selfw filters, weight for weight") {
    import spark.implicits._
    val gw = spark.range(0, 200)
      .select(greatest($"id" % 17, ($"id" + 7) % 17).as("u"),
        least($"id" % 17, ($"id" + 7) % 17).as("v"),
        ($"id" % 5 + 1L).as("sup"))
      .filter($"u" =!= $"v").localCheckpoint()
    val p1 = gw.select($"u".as("n")).unionAll(gw.select($"v".as("n")))
      .distinct().select($"n", ($"n" % 3).as("com")).localCheckpoint()
    val mb = graft.queries.GraphOps.maybeBroadcast(17)
    // Reference: the r12 two-filter shape.
    val ge = gw
      .join(mb(p1.select($"n".as("u"), $"com".as("cu"))), Seq("u"))
      .join(mb(p1.select($"n".as("v"), $"com".as("cv"))), Seq("v"))
      .select($"cu", $"cv", $"sup")
    val e2Ref = ge.filter($"cu" =!= $"cv")
      .select(least($"cu", $"cv").as("u"), greatest($"cu", $"cv").as("v"), $"sup")
      .groupBy($"u", $"v").agg(sum($"sup").as("sup"))
      .as[(Long, Long, Long)].collect().toSet
    val selfRef = ge.filter($"cu" === $"cv")
      .groupBy($"cu".as("n")).agg(sum($"sup").as("lw"))
      .as[(Long, Long)].collect().toSet
    val merged = graft.queries.GraphOps.louvainContractMerged(gw, p1, mb)
    val e2Got = merged.filter($"u" =!= $"v")
      .as[(Long, Long, Long)].collect().toSet
    val selfGot = merged.filter($"u" === $"v")
      .select($"u", $"sup").as[(Long, Long)].collect().toSet
    assert(e2Got === e2Ref)
    assert(selfGot === selfRef)
  }

  test("q296 positional filter is lossless: pruned candidates all fail the exact verify") {
    import spark.implicits._
    // Synthetic ranked-prefix frame: global (df, tok) order is the row's
    // rank; docs share tokens at varied positions. The claim under test
    // is the BOUND: for every pair (a, b) sharing a token, overlap ≤
    // min(rk_a, rk_b) + min(n_a − rk_a, n_b − rk_b). Build real token
    // sets, compute true overlaps, and assert no pair with
    // 8·inter ≥ 3·(n_a+n_b) is dropped by the bound.
    val docs = (0L until 60L).map { d =>
      val n = 3 + (d % 9)
      val toks = (0L until n).map(i => (d * 7 + i * 11) % 37)
      (d, toks.distinct.sorted)
    }
    val rows = docs.flatMap { case (d, ts) =>
      ts.zipWithIndex.map { case (tk, i) =>
        (d, ts.length.toLong, tk, (i + 1).toLong) // rank = 1-based global order
      }
    }.toDF("doc_id", "n", "tok", "rk")
    val pairs = rows.as("a").join(rows.as("b"),
        $"a.tok" === $"b.tok" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("da"), $"b.doc_id".as("db"),
        $"a.n".as("na"), $"b.n".as("nb"),
        $"a.rk".as("ra"), $"b.rk".as("rb"))
      .withColumn("bound",
        expr("least(ra, rb) + least(na - ra, nb - rb)"))
    val byPair = pairs.groupBy($"da", $"db", $"na", $"nb")
      .agg(max($"bound").as("bestBound"))
      .as[(Long, Long, Long, Long, Long)].collect()
    val sets = docs.toMap
    byPair.foreach { case (da, db, na, nb, bestBound) =>
      val inter = sets(da).toSet.intersect(sets(db).toSet).size.toLong
      assert(bestBound >= inter,
        s"positional bound $bestBound under true overlap $inter for ($da,$db)")
      // And the pruning predicate: a pair the filter drops entirely
      // (bestBound < alpha) must fail the exact verify.
      val alpha = (3L * (na + nb) + 7L) / 8L
      if (bestBound < alpha)
        assert(8L * inter < 3L * (na + nb),
          s"filter dropped a verifying pair ($da,$db)")
    }
  }

  test("q493 star-contraction labels equal min-label propagation on the core graph") {
    graft.Frames.scoped { f =>
      import spark.implicits._
      // Chained components (real diameter) + an isolated edge.
      val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L),
        (11L, 12L), (20L, 21L)).toDF("u", "v")
      val star = graft.queries.GraphOps.starContractLabels(f, e)
        .as[(Long, Long)].collect().toSet
      val prop = graft.queries.GraphOps.minLabel(f, e.select($"u".as("src"), $"v".as("dst")))
        .as[(Long, Long)].collect().toSet
      assert(star === prop)
    }
  }

  // ---- continuation session ----

  test("stageFeedFiles: one file per name, feed-ordered mtimes, empty-slice fallback") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_feed").toString
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    try {
      val feed = Seq(
        "cdc_0" -> Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"),
        // An EMPTY slice in the middle: partitionBy writes no dir for
        // it, so the helper's fallback must still produce its file and
        // keep it ordered between its neighbors.
        "cdc_1" -> Seq.empty[(Long, String)].toDF("doc_id", "text"),
        "cdc_2" -> Seq((3L, "c")).toDF("doc_id", "text"))
      graft.streaming.StreamHarnessAccess.stageFeed(in, tmp, feed)
      val files = new java.io.File(in).listFiles.sortBy(_.getName)
      assert(files.map(_.getName).toSeq ===
        Seq("cdc_0.parquet", "cdc_1.parquet", "cdc_2.parquet"))
      // Strictly increasing mtimes in feed order — the property the
      // file source's oldest-first micro-batch ordering rides on.
      assert(files(0).lastModified < files(1).lastModified)
      assert(files(1).lastModified < files(2).lastModified)
      // Contents are exactly the slices (the empty one included).
      assert(spark.read.parquet(files(0).getPath)
        .as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
      assert(spark.read.parquet(files(1).getPath).count() === 0L)
      assert(spark.read.parquet(files(2).getPath)
        .as[(Long, String)].collect().toSet === Set((3L, "c")))
    } finally graft.Fs.deleteTree(tmp)
  }

  test("the BM25 batch writer releases its persisted postings frame") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_wbt").toString
    try {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val e = Seq((1L, 2, Seq("a", "b")), (2L, 1, Seq("a")))
        .toDF("doc_id", "dl", "t")
      graft.streaming.StreamBm25Maintain.writeBatchTo(tmp, e, 0L)
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"writeBatchTo left persistent RDDs: $leaked")
      // And the three tables landed.
      assert(spark.read.parquet(s"$tmp/post").count() === 3L)
      assert(spark.read.parquet(s"$tmp/stats").count() === 2L)
      assert(spark.read.parquet(s"$tmp/globals").count() === 1L)
    } finally graft.Fs.deleteTree(tmp)
  }
}
