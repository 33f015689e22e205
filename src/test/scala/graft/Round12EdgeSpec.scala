package graft

import org.apache.spark.sql.functions._

import graft.streaming.{StoreCompaction, StreamBm25Maintain, StreamChunkStore,
  StreamIndexMaintain, StreamIvfMaintain}

/** Named edge cases for the round-12 asks: the Louvain fixpoint
  * short-circuit (verdict ask #4 — converged partitions must stop
  * paying sweep joins, provably without changing the labels the
  * unrolled oracles compute), the skew-proof q505 span stage
  * (verdict "What's wrong" #1 — a hot span must partial-aggregate,
  * and keep-first must still survive exactly one occurrence), the
  * q508 connectivity audit, and the [[StoreCompaction]] fold
  * generalized to the chunk store and the LSH/IVF/BM25 maintainers
  * (verdict ask #3) — answer-invariance, negative-epoch netting, and
  * the kill-window discipline per store.
  */
class Round12EdgeSpec extends SparkTestBase {

  test("louvain short-circuit: a single edge converges in 3 sweeps, not the budget") {
    graft.Frames.scoped { f =>
      import spark.implicits._
      // Nodes 1 and 2, one edge. Sweep 1 (parity 1) merges node 1 into
      // community 2; sweeps 2 and 3 move nothing (each parity class in
      // turn finds "stay" optimal) — two consecutive quiet sweeps prove
      // the fixed point, so an 8-sweep budget must execute exactly 3.
      val g = Seq((1L, 2L)).toDF("u", "v")
      val (com, executed) = graft.queries.GraphOps.louvainRoundsCounted(f, g, 8)
      assert(executed === 3, s"expected 3 executed sweeps, got $executed")
      val labels = com.orderBy($"n").as[(Long, Long)].collect().toSeq
      assert(labels === Seq((1L, 2L), (2L, 2L)), labels.mkString(","))
    }
  }

  test("louvain short-circuit (weighted): same fixpoint, same labels, 3 sweeps") {
    graft.Frames.scoped { f =>
      import spark.implicits._
      val gw = Seq((1L, 2L, 5L)).toDF("u", "v", "sup")
      val (com, executed) =
        graft.queries.GraphOps.louvainRoundsWeightedCounted(f, gw, 8)
      assert(executed === 3, s"expected 3 executed sweeps, got $executed")
      val labels = com.orderBy($"n").as[(Long, Long)].collect().toSeq
      assert(labels === Seq((1L, 2L), (2L, 2L)), labels.mkString(","))
    }
  }

  test("louvain short-circuit is result-invariant: early stop equals the full unrolled budget") {
    graft.Frames.scoped { f =>
      import spark.implicits._
      // A graph busy enough that the first sweeps move: two triangles
      // joined by a bridge. The short-circuited run (budget 8) must
      // produce byte-identical labels to budget-3 and budget-4 runs —
      // the identity-sweep argument the oracles rely on (they always
      // unroll the full budget).
      val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
        (4L, 5L), (5L, 6L), (4L, 6L)).toDF("u", "v")
      def labelsAt(budget: Int): Seq[(Long, Long)] = {
        val (com, _) = graft.queries.GraphOps.louvainRoundsCounted(f, g, budget)
        com.orderBy($"n").as[(Long, Long)].collect().toSeq
      }
      val (com8, ex8) = graft.queries.GraphOps.louvainRoundsCounted(f, g, 8)
      val l8 = com8.orderBy($"n").as[(Long, Long)].collect().toSeq
      // However many sweeps the loop decided to pay, the fixed point it
      // stopped at must equal what the full budget computes: every sweep
      // from ex8 to 8 is the identity.
      (ex8 to 8).foreach { b =>
        assert(labelsAt(b) === l8, s"budget $b diverged from the fixed point")
      }
    }
  }

  test("q508 bar-bell: a merged disconnected community splits into its two cliques with exact Q gain") {
    import spark.implicits._
    // Two weight-10 triangles with NO connecting edge, force-labeled
    // into ONE community — the Leiden-defect shape (modularity ascent
    // can strand both sides of a community after a bridge node moves
    // away; here the defect is handed to the auditor directly so the
    // expected census is exact by hand): m = 60, community w_in = 60,
    // d = 120 → contribution 0; each clique part w_in = 30, d = 60 →
    // 250000 ppm, so the split GAINS 500000 ppm.
    val gw = Seq(
      (1L, 2L, 10L), (2L, 3L, 10L), (1L, 3L, 10L),
      (5L, 6L, 10L), (6L, 7L, 10L), (5L, 7L, 10L)).toDF("u", "v", "sup")
    val labels = Seq(1L, 2L, 3L, 5L, 6L, 7L).toDF("n")
      .select($"n", lit(1L).as("com"))
    val out = graft.queries.GraphOps.louvainConnectivityAudit(gw, labels)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (-1L, 6L, 2L, 1L, 500000L),
      (1L, 6L, 2L, 3L, 500000L)), out.mkString(","))
  }

  test("q508 audit: a connected partition gets the clean bill of health") {
    import spark.implicits._
    val gw = Seq((1L, 2L, 10L), (2L, 3L, 10L)).toDF("u", "v", "sup")
    val labels = Seq(1L, 2L, 3L).toDF("n").select($"n", lit(1L).as("com"))
    val out = graft.queries.GraphOps.louvainConnectivityAudit(gw, labels)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((-1L, 0L, 0L, 0L, 0L)), out.mkString(","))
  }

  test("q509 leiden on disconnected triangles: two connected communities with exact census") {
    graft.Frames.scoped { f =>
      import spark.implicits._
      val gw = Seq(
        (1L, 2L, 10L), (2L, 3L, 10L), (1L, 3L, 10L),
        (5L, 6L, 10L), (6L, 7L, 10L), (5L, 7L, 10L)).toDF("u", "v", "sup")
      val labels = graft.queries.GraphOps.leidenTwoLevelLabels(f, gw, 2)
      val census = graft.queries.GraphOps.modularityCensusWeighted(gw, labels)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      // Each triangle: w_in 30, degree mass 60, contribution 250000 ppm;
      // community ids are component minima (1 and 5).
      assert(census === Seq(
        (-1L, 6L, 60L, 120L, 500000L),
        (1L, 3L, 30L, 60L, 250000L),
        (5L, 3L, 30L, 60L, 250000L)), census.mkString(","))
    }
  }

  test("q509 leiden output is internally connected BY CONSTRUCTION: the q508 audit reads all-zeros") {
    graft.Frames.scoped { f =>
      import spark.implicits._
      // The real projection at sf0.001 — where plain two-level Louvain
      // (q507) is exactly what q508 catches stranding communities; the
      // Leiden refinement must leave nothing to report.
      val edges = graft.queries.GraphOps.tradeEdges(spark, sf)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val gw = graft.queries.GraphOps.basketPairCounts(edges)
          .filter($"sup" >= 8)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val labels = graft.queries.GraphOps.leidenTwoLevelLabels(f, gw, 2)
          val audit = graft.queries.GraphOps.louvainConnectivityAudit(gw, labels)
            .as[(Long, Long, Long, Long, Long)].collect().toSeq
          assert(audit === Seq((-1L, 0L, 0L, 0L, 0L)), audit.mkString(","))
        } finally { gw.unpersist(blocking = false); () }
      } finally { edges.unpersist(blocking = false); () }
    }
  }

  // ---- StoreCompaction generalization (round-11 verdict ask #3) ----

  private def leafNames(root: String): Seq[String] =
    graft.Fs.leafPartitionDirs(root).sorted

  test("chunk-store compaction: answer-invariant, hb buckets preserved, generations never collide") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_chunk_edge").toString
    try {
      val docs = spark.range(0, 40)
        .select($"id".as("doc_id"), concat(lit("l"), ($"id" % 2).cast("string")).as("lang"),
          concat(lit("alpha beta gamma delta epsilon zeta eta theta iota kappa word"),
            $"id".cast("string")).as("text"))
      StreamChunkStore.writeBatchTo(tmp, docs, -1L)
      (0L to 2L).foreach(b =>
        StreamChunkStore.writeBatchTo(tmp, docs.filter($"doc_id" % 3 === b), b))
      def chunkCensus(): Seq[(String, Long)] =
        spark.read.parquet(s"$tmp/chunks").groupBy($"lang")
          .agg(count(lit(1)).as("n")).orderBy($"lang")
          .as[(String, Long)].collect().toSeq
      def docTotals(): Seq[(String, Long)] =
        spark.read.parquet(s"$tmp/docs").groupBy($"lang")
          .agg(sum($"n_docs").as("n")).orderBy($"lang")
          .as[(String, Long)].collect().toSeq
      val (c0, d0) = (chunkCensus(), docTotals())
      assert(StoreCompaction.batchIds(s"$tmp/chunks").sorted === Seq(-1L, 0L, 1L, 2L))
      StreamChunkStore.compact(spark, tmp)
      // One generation, hb level intact; answers unchanged.
      assert(StoreCompaction.batchIds(s"$tmp/chunks") === Seq(-2L))
      assert(leafNames(s"$tmp/chunks").forall(_.startsWith("batch_id=-2/hb=")),
        leafNames(s"$tmp/chunks").mkString(","))
      assert(StoreCompaction.batchIds(s"$tmp/docs") === Seq(-2L))
      assert(chunkCensus() === c0 && docTotals() === d0)
      // A post-compaction batch folds into a NEW, more negative gen.
      StreamChunkStore.writeBatchTo(tmp, docs.filter($"doc_id" === 0L), 9L)
      val c1 = chunkCensus()
      StreamChunkStore.compact(spark, tmp)
      assert(StoreCompaction.batchIds(s"$tmp/chunks") === Seq(-3L))
      assert(chunkCensus() === c1)
    } finally Fs.deleteTree(tmp)
  }

  test("chunk-store compaction: kill MID-STAGE loses nothing; kill AFTER the marker completes on probe") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_chunk_crash").toString
    try {
      val docs = spark.range(0, 30)
        .select($"id".as("doc_id"), lit("en").as("lang"),
          concat(lit("one two three four five six seven eight nine ten w"),
            $"id".cast("string")).as("text"))
      StreamChunkStore.writeBatchTo(tmp, docs, -1L)
      (0L to 1L).foreach(b =>
        StreamChunkStore.writeBatchTo(tmp, docs.filter($"doc_id" % 2 === b), b))
      val root = s"$tmp/chunks"
      val stage = StoreCompaction.stageDirFor(root)
      val before = spark.read.parquet(root).count()
      // MID-STAGE: staged data exists, top-level marker missing.
      assert(StoreCompaction.stageCompaction(spark, root, stage,
        StreamChunkStore.chunksFold))
      java.nio.file.Files.delete(java.nio.file.Paths.get(s"$stage/_SUCCESS"))
      // The public probe path recovers-then-reads.
      StreamChunkStore.bucketProbe(spark, tmp, lit("alpha")).count()
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(stage)))
      assert(spark.read.parquet(root).count() === before)
      assert(StoreCompaction.batchIds(root).size === 3,
        "a partition vanished without a committed fold")
      // AFTER THE MARKER: recovery must complete the fold.
      assert(StoreCompaction.stageCompaction(spark, root, stage,
        StreamChunkStore.chunksFold))
      StoreCompaction.recover(root, stage)
      assert(StoreCompaction.batchIds(root) === Seq(-2L))
      assert(spark.read.parquet(root).count() === before)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(stage)))
    } finally Fs.deleteTree(tmp)
  }

  test("BM25 stats fold nets NEGATIVE delete epochs; globals fold to one row") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_bm25_fold").toString
    try {
      // Epoch -1 builds df mass, epoch 0 is a CDC delete's negative
      // rows, epoch 1 adds more — the fold must equal the probe's
      // merge-on-read sum, term by term.
      Seq(("alpha", 3L, -1L), ("beta", 2L, -1L), ("gamma", 1L, -1L))
        .toDF("term", "df", "batch_id")
        .write.partitionBy("batch_id").parquet(s"$tmp/stats")
      Seq(("alpha", -3L, 0L), ("beta", -1L, 0L))
        .toDF("term", "df", "batch_id")
        .write.mode("append").partitionBy("batch_id").parquet(s"$tmp/stats")
      Seq(("beta", 4L, 1L)).toDF("term", "df", "batch_id")
        .write.mode("append").partitionBy("batch_id").parquet(s"$tmp/stats")
      assert(StoreCompaction.compact(spark, s"$tmp/stats",
        StreamBm25Maintain.statsFold))
      assert(StoreCompaction.batchIds(s"$tmp/stats") === Seq(-2L))
      val folded = spark.read.parquet(s"$tmp/stats")
        .select($"term", $"df").as[(String, Long)].collect().toMap
      // alpha fully erased folds to 0 (keeps failing the df > 0 guard),
      // beta nets 2 − 1 + 4 = 5, gamma untouched.
      assert(folded === Map("alpha" -> 0L, "beta" -> 5L, "gamma" -> 1L))
      Seq((10L, 55L, -1L), (-2L, -11L, 0L), (4L, 20L, 1L))
        .toDF("n_docs", "len_sum", "batch_id")
        .write.partitionBy("batch_id").parquet(s"$tmp/globals")
      assert(StoreCompaction.compact(spark, s"$tmp/globals",
        StreamBm25Maintain.globalsFold))
      val g = spark.read.parquet(s"$tmp/globals")
        .select($"n_docs", $"len_sum").as[(Long, Long)].collect().toSeq
      assert(g === Seq((12L, 64L)))
    } finally Fs.deleteTree(tmp)
  }

  test("IVF member fold: two-level cid/batch_id leaves fold to one generation per cluster") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_fold").toString
    try {
      def rows(b: Long, ids: Seq[Long]) = ids.toDF("vec_id")
        .select($"vec_id", ($"vec_id" % 3).as("cid"), lit(b).as("batch_id"))
      rows(-1L, Seq(1L, 2L, 3L))
        .write.partitionBy("cid", "batch_id").parquet(s"$tmp/ivf")
      rows(0L, Seq(4L, 5L))
        .write.mode("append").partitionBy("cid", "batch_id").parquet(s"$tmp/ivf")
      rows(1L, Seq(6L))
        .write.mode("append").partitionBy("cid", "batch_id").parquet(s"$tmp/ivf")
      val before = spark.read.parquet(s"$tmp/ivf")
        .select($"vec_id").as[Long].collect().toSet
      StreamIvfMaintain.compact(spark, tmp)
      assert(StoreCompaction.batchIds(s"$tmp/ivf") === Seq(-2L))
      assert(leafNames(s"$tmp/ivf").forall(n =>
          n.startsWith("cid=") && n.endsWith("/batch_id=-2")),
        leafNames(s"$tmp/ivf").mkString(","))
      assert(spark.read.parquet(s"$tmp/ivf")
        .select($"vec_id").as[Long].collect().toSet === before)
    } finally Fs.deleteTree(tmp)
  }

  test("IVF compaction crash windows on the two-level layout: mid-stage discards, post-marker completes, mid-commit converges") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_crash").toString
    try {
      def rows(b: Long, ids: Seq[Long]) = ids.toDF("vec_id")
        .select($"vec_id", ($"vec_id" % 3).as("cid"), lit(b).as("batch_id"))
      rows(-1L, Seq(1L, 2L, 3L, 4L))
        .write.partitionBy("cid", "batch_id").parquet(s"$tmp/ivf")
      rows(0L, Seq(5L, 6L))
        .write.mode("append").partitionBy("cid", "batch_id").parquet(s"$tmp/ivf")
      val root = s"$tmp/ivf"
      val stage = StoreCompaction.stageDirFor(root)
      def members(): Set[Long] =
        spark.read.parquet(root).select($"vec_id").as[Long].collect().toSet
      val before = members()
      // MID-STAGE: no marker → recovery discards the stage, store intact.
      assert(StoreCompaction.stageCompaction(spark, root, stage,
        StreamIvfMaintain.memberFold))
      java.nio.file.Files.delete(java.nio.file.Paths.get(s"$stage/_SUCCESS"))
      StoreCompaction.recover(root, stage)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(stage)))
      assert(members() === before)
      assert(StoreCompaction.batchIds(root).sorted === Seq(-1L, 0L))
      // MID-COMMIT on the TWO-LEVEL layout: marker landed, then the
      // kill hit after SOME folded leaves were deleted (one leaf gone,
      // its parent shell pruned) — recovery must re-run the idempotent
      // commit and converge, including the ancestor pruning.
      assert(StoreCompaction.stageCompaction(spark, root, stage,
        StreamIvfMaintain.memberFold))
      val victim = graft.Fs.leafPartitionDirs(root).head
      graft.Fs.deleteTree(s"$root/$victim")
      StoreCompaction.recover(root, stage)
      assert(StoreCompaction.batchIds(root) === Seq(-2L),
        graft.Fs.leafPartitionDirs(root).mkString(","))
      assert(graft.Fs.leafPartitionDirs(root).forall(_.endsWith("/batch_id=-2")))
      assert(members() === before)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(stage)))
    } finally Fs.deleteTree(tmp)
  }

  test("LSH meta fold: lifetime Σk per bucket survives the fold, tombstoning decisions unchanged") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_lsh_fold").toString
    try {
      Seq((0, "x", 3L, -1L), (1, "y", 9L, -1L))
        .toDF("b", "band_key", "k", "batch_id")
        .write.partitionBy("batch_id").parquet(s"$tmp/meta")
      Seq((0, "x", 2L, 0L), (1, "y", -4L, 0L))
        .toDF("b", "band_key", "k", "batch_id")
        .write.mode("append").partitionBy("batch_id").parquet(s"$tmp/meta")
      StreamIndexMaintain.compact(spark, tmp)
      assert(StoreCompaction.batchIds(s"$tmp/meta") === Seq(-2L))
      val folded = spark.read.parquet(s"$tmp/meta")
        .select($"b", $"band_key", $"k").as[(Int, String, Long)]
        .collect().map(r => (r._1, r._2) -> r._3).toMap
      assert(folded === Map((0, "x") -> 5L, (1, "y") -> 5L))
    } finally Fs.deleteTree(tmp)
  }

  test("q505 hot span: 10^4 duplicated occurrences keep exactly the first (doc_id, k)") {
    import spark.implicits._
    // One boilerplate span duplicated 10,000× across the corpus — the
    // skew shape the round-11 window form funneled into a single
    // window partition. The aggregate+join form must (a) survive it
    // and (b) keep ONLY the smallest (doc_id, k) occurrence.
    val hot = spark.range(0, 10000)
      .select($"id".as("doc_id"),
        split(lit("dup dup dup dup dup dup dup dup"), " ").as("w"))
    val uniq = spark.range(20000, 20010)
      .select($"id".as("doc_id"),
        split(concat(lit("u v w x y z a tail"), $"id".cast("string")), " ").as("w"))
    val docs = hot.unionByName(uniq)
      .withColumn("nspan", expr("size(w) div 8"))
    val marked = graft.queries.TrainPrep.spanKeepFirst(docs)
    val kept = marked.filter($"keep" && $"g".startsWith("dup"))
      .select($"doc_id", $"k").as[(Long, Int)].collect().toSeq
    assert(kept === Seq((0L, 0)), s"hot-span survivors: ${kept.mkString(",")}")
    val dropped = marked.filter(!$"keep").count()
    assert(dropped === 9999L, s"expected 9999 dropped occurrences, got $dropped")
    // Unique spans are untouched (the cnt < 2 path).
    assert(marked.filter($"doc_id" >= 20000L && !$"keep").count() === 0L)
  }
}
