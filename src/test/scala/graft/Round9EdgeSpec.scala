package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.queries.{GraphOps, Indexes, NearDup, Search}

/** Named edge cases for the round-9 graph additions and the delete
  * crash-recovery seam the round-8 ADVICE flagged: q477's peel loop on
  * fixpoint-before-8-rounds corpora (all-removed / nothing-removed /
  * cascading), q478's degree-regular NULL guard as a first-class case
  * (previously only a side effect of the sf0.001 sweep), q476's
  * degree-ordered triangle orientation on graphs with known censuses,
  * q481's label propagation on disjoint cliques, and
  * [[Fs.recoverStagedSwap]]'s two crash windows (mid-stage-write,
  * mid-swap).
  */
class Round9EdgeSpec extends SparkTestBase {

  private def edges(pairs: (Long, Long)*): DataFrame =
    spark.createDataFrame(pairs).toDF("u", "v")

  private def k4 = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))

  test("peel3Core: a path graph (all degrees < 3) empties in round one") {
    graft.Frames.scoped { f =>
      val path = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      val (g, removed) = GraphOps.peel3Core(f, path, 8)
      assert(g.count() === 0L)
      assert(removed === 6L) // all six nodes, all in round 1; rounds 2-8 no-op
    }
  }

  test("peel3Core: a K5 clique is already its own 3-core — nothing removed") {
    graft.Frames.scoped { f =>
      val k5 = edges((for {
        a <- 1L to 5L; b <- (a + 1) to 5L
      } yield (a, b)): _*)
      val (g, removed) = GraphOps.peel3Core(f, k5, 8)
      assert(removed === 0L)
      assert(g.count() === 10L)
    }
  }

  test("peel3Core: a pendant chain cascades off while the K4 core survives") {
    graft.Frames.scoped { f =>
      // K4 {1,2,3,4} + chain 4-5-6: round 1 removes 5 (deg 2) and 6
      // (deg 1); the K4 (all deg 3 after the chain drops) then holds.
      val g0 = k4.unionAll(edges((4L, 5L), (5L, 6L)))
      val (g, removed) = GraphOps.peel3Core(f, g0, 8)
      assert(removed === 2L)
      assert(g.count() === 6L)
      val nodes = g.select("u").unionAll(g.select("v")).distinct()
        .collect().map(_.getLong(0)).sorted
      assert(nodes.toSeq === Seq(1L, 2L, 3L, 4L))
    }
  }

  test("assortativityStats: a degree-regular cycle reports NULL r, not /0") {
    // C6: every node degree 2 — zero degree variance, r undefined.
    val c6 = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 1L))
    val r = GraphOps.assortativityStats(c6).collect().head
    assert(r.getAs[Long]("m2") === 12L)
    assert(r.getAs[Long]("sx") === 24L)
    assert(r.getAs[Long]("sxx") === 48L)
    assert(r.getAs[Long]("sxy") === 48L)
    assert(r.isNullAt(r.fieldIndex("assortativity_r")), r.toString)
  }

  test("assortativityStats: a star is maximally disassortative (r = -1)") {
    val star = edges((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
    val r = GraphOps.assortativityStats(star).collect().head
    assert(r.getAs[Long]("m2") === 8L)
    assert(r.getAs[Double]("assortativity_r") === -1.0)
  }

  test("triangleCensus: K4 — 4 triangles, clustering 1.0, under degree orientation") {
    graft.Frames.scoped { f =>
      val r = GraphOps.triangleCensus(f, k4).collect().head
      assert(r.getAs[Long]("n_nodes") === 4L)
      assert(r.getAs[Long]("n_edges") === 6L)
      assert(r.getAs[Long]("n_wedges") === 12L)
      assert(r.getAs[Long]("n_triangles") === 4L)
      assert(r.getAs[Long]("clustering_ppm") === 1000000L)
    }
  }

  test("triangleCensus: a hub star counts zero triangles; a bowtie hub counts both exactly once") {
    graft.Frames.scoped { f =>
      // Star K1,4: the degree orientation points every edge INTO the hub
      // (leaves are (deg,id)-smaller), so the two-path join finds nothing —
      // zero triangles, 6 hub wedges, clustering 0.
      val star = GraphOps.triangleCensus(f, edges((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))).collect().head
      assert(star.getAs[Long]("n_triangles") === 0L)
      assert(star.getAs[Long]("n_wedges") === 6L)
      assert(star.getAs[Long]("clustering_ppm") === 0L)
      // Bowtie (two triangles sharing hub 3): each triangle must be
      // counted exactly once even though the shared node dominates the
      // degree order. wedges = 6 (hub) + 4×1 = 10 → 6/10.
      val bow = GraphOps.triangleCensus(f, edges((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L), (4L, 5L)))
        .collect().head
      assert(bow.getAs[Long]("n_triangles") === 2L)
      assert(bow.getAs[Long]("n_wedges") === 10L)
      assert(bow.getAs[Long]("clustering_ppm") === 600000L)
    }
  }

  test("propagateLabels: two disjoint cliques converge to their min ids in 4 rounds") {
    graft.Frames.scoped { f =>
      val g = edges((1L, 2L), (1L, 3L), (2L, 3L)) // K3
        .unionAll(edges((10L, 11L), (10L, 12L), (10L, 13L),
          (11L, 12L), (11L, 13L), (12L, 13L))) // K4
      val lbl = GraphOps.propagateLabels(f, g, 4).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lbl === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
        10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L))
    }
  }

  test("q484: BM25 CDC maintainer killed mid-stream + restarted answers exactly-once") {
    // Negative-stats-before-swap ordering: a pre-swap replay rewrites
    // identical negatives, a post-swap replay's EMPTY negative rewrite
    // replaces nothing — either way the drained index must answer
    // exactly like an uninterrupted run.
    val uninterrupted = Search.q484.run(spark, sf).collect().toSeq
    val restarted = graft.streaming.StreamBm25Cdc
      .runWithRestart(spark, sf).collect().toSeq
    assert(restarted === uninterrupted)
    assert(uninterrupted.forall(_.getAs[Long]("n_erased_left") === 0L))
  }

  test("componentCensus: disjoint cliques come back as separate components with exact censuses") {
    val g = k4.unionAll(edges((10L, 11L), (11L, 12L)))
    val rows = GraphOps.componentCensus(g).collect()
      .map(r => r.getAs[Long]("component_id") ->
        (r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"))).toMap
    assert(rows === Map(1L -> ((4L, 6L)), 10L -> ((3L, 2L))))
  }

  test("commonNeighborStrength: isolated edge NULL, bridge 0, triangle edge 1e6") {
    graft.Frames.scoped { f =>
      // Triangle {1,2,3} + bridge 3-10 + isolated edge 20-21.
      val g = edges((1L, 2L), (1L, 3L), (2L, 3L), (3L, 10L), (20L, 21L))
      val rows = GraphOps.commonNeighborStrength(f, g).collect()
        .map(r => (r.getAs[Long]("u"), r.getAs[Long]("v")) -> r).toMap
      val tri = rows((1L, 2L))
      assert(tri.getAs[Long]("cn") === 1L)
      assert(tri.getAs[Long]("jaccard_ppm") === 1000000L)
      val bridge = rows((3L, 10L))
      assert(bridge.getAs[Long]("cn") === 0L)
      assert(bridge.getAs[Long]("jaccard_ppm") === 0L)
      val iso = rows((20L, 21L))
      assert(iso.getAs[Long]("cn") === 0L)
      // du + dv - 2 - cn = 0: Jaccard undefined — NULL, not /0.
      assert(iso.isNullAt(iso.fieldIndex("jaccard_ppm")), iso.toString)
    }
  }

  test("trussPeel: K4 is its own 4-truss; a bowtie dissolves; weak appendages cascade off") {
    graft.Frames.scoped { f =>
      // K4: every edge carries exactly 2 triangles — stable.
      val (gK4, rK4) = GraphOps.trussPeel(f, k4, 4)
      assert(rK4 === 0L)
      assert(gK4.count() === 6L)
      // Bowtie: every edge carries exactly ONE triangle — all 6 edges
      // peel in round one (4-truss needs >= 2).
      val bow = edges((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L), (4L, 5L))
      val (gBow, rBow) = GraphOps.trussPeel(f, bow, 4)
      assert(rBow === 6L)
      assert(gBow.count() === 0L)
      // K4 + a pendant wedge through node 10: the two wedge edges carry
      // one triangle each and peel; the K4 survives untouched.
      val (gMix, rMix) = GraphOps.trussPeel(f, k4.unionAll(edges((1L, 10L), (2L, 10L))), 4)
      assert(rMix === 2L)
      assert(gMix.count() === 6L)
    }
  }

  test("trussPeel: a triangle strip cascades over two rounds; rounds=1 stops mid-peel") {
    graft.Frames.scoped { f =>
      // Strip T1={1,2,3}, T2={2,3,4}, T3={3,4,5}: the five rim edges
      // carry one triangle each and peel in round 1; the two spine edges
      // (2,3) and (3,4) start at support 2 and must be decremented to 0
      // by the incremental maintenance (both their triangles died), then
      // peel in round 2.
      val strip = edges((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
        (3L, 5L), (4L, 5L))
      val (g2, r2) = GraphOps.trussPeel(f, strip, 4)
      assert(r2 === 7L)
      assert(g2.count() === 0L)
      // Bounded rounds stop mid-cascade: after one round only the two
      // spine edges remain (the oracle's fixed-round unroll semantics).
      val (g1, r1) = GraphOps.trussPeel(f, strip, 1)
      assert(r1 === 5L)
      val rest = g1.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(rest.toSeq === Seq((2L, 3L), (3L, 4L)))
    }
  }

  test("trussPeel: a triangle dying through TWO victims decrements its survivor ONCE") {
    graft.Frames.scoped { f =>
      // K4 {1,2,4,5} + appendage triangle {1,2,3} whose side edges (1,3)
      // and (2,3) are both victims: edge (1,2) starts at support 3 and
      // loses the {1,2,3} triangle exactly once (the id-sorted distinct
      // in trussPeel) — support 2, K4 stable, nothing else peels. A
      // per-victim double count would push (1,2) to 1 and dissolve the
      // whole K4 in the next round.
      val g0 = edges((1L, 2L), (1L, 4L), (1L, 5L), (2L, 4L), (2L, 5L),
        (4L, 5L), (1L, 3L), (2L, 3L))
      val (g, removed) = GraphOps.trussPeel(f, g0, 4)
      assert(removed === 2L)
      assert(g.count() === 6L)
      val nodes = g.select("u").unionAll(g.select("v")).distinct()
        .collect().map(_.getLong(0)).sorted
      assert(nodes.toSeq === Seq(1L, 2L, 4L, 5L))
    }
  }

  test("q491: a zero-length doc counts as a doc but contributes no chunks") {
    val dir = Files.createTempDirectory("graft_q491_edge").toString
    // 300 chars → ceil(300/192) = 2 windows; the empty doc only bumps
    // n_docs. Both rows share the lang so the census is one row.
    writeDocs(dir, Seq(
      (1L, "x " * 150, "en", "web", 300L),
      (2L, "", "en", "web", 0L)))
    val r = graft.queries.TextMedia.q491.run(spark, dir).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("n_docs") === 2L)
    assert(r.head.getAs[Long]("n_chunks") === 2L)
    Fs.deleteTree(dir)
  }

  test("q494: the winning passage is the chunk that actually contains the term") {
    val dir = Files.createTempDirectory("graft_q494_edge").toString
    // 'dup' sits at chars 299-301: inside window 1 (193-448) only —
    // window 0 ends at 256, window 2 starts at 385. MaxP must report
    // best_chunk = 1, never 0 (a doc-level scorer can't say which).
    val text = ("x " * 149) + "dup " + ("y " * 120)
    writeDocs(dir, Seq((1L, text, "en", "web", text.length.toLong)))
    val rows = graft.queries.Search.q494.run(spark, dir).collect()
      .filter(_.getAs[String]("query_id") == "ann_dedup")
    assert(rows.length === 1)
    assert(rows.head.getAs[Int]("best_chunk") === 1)
    assert(rows.head.getAs[Int]("rank") === 1)
    assert(rows.head.getAs[Long]("n_terms_matched") === 1L)
    Fs.deleteTree(dir)
  }

  /** Unit-weight reps for ids 1..6 (each its own group). */
  private def unitReps: DataFrame =
    spark.range(1, 7).selectExpr("id AS rid", "CAST(1 AS BIGINT) AS g",
      "id AS idsum")

  test("dbscanClusters: isolated core = singleton cluster; core-less pair = noise") {
    // ε-graph 1-2, 2-3, 4-5 over ids 1..6: node 2 is the only core
    // (mass 2) and has NO core neighbor — a singleton cluster that must
    // come from the isolated-core union, with 1 and 3 as its borders.
    // The 4-5 pair has no core at all (classic DBSCAN noise, NOT a
    // cluster), and 6 never paired.
    val pairs = edges((1L, 2L), (2L, 3L), (4L, 5L))
    val rows = graft.queries.NearDup.dbscanClusters(pairs, unitReps)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.toSeq === Seq((-1L, 0L, 0L, 3L, 15L), (2L, 1L, 2L, 3L, 6L)))
  }

  test("dbscanClusters: a core triangle absorbs its borders into one cluster") {
    // 1,2,3 all core (triangle), 4 borders on 2, 5 borders on 1, 6 noise.
    val pairs = edges((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (1L, 5L))
    val rows = graft.queries.NearDup.dbscanClusters(pairs, unitReps)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.toSeq === Seq((-1L, 0L, 0L, 1L, 6L), (1L, 3L, 2L, 5L, 15L)))
  }

  test("dbscanClusters: clone mass makes cores — of the group AND of its neighbor") {
    // Rep 10 is a clone trio (members 10,11,12): mass g-1 = 2 → core
    // with NO edges at all, a 3-point singleton cluster. Reps 40 (g=1)
    // and 50 (a clone pair, members 50,51) share the only edge: both
    // reach mass 2 THROUGH the clones (40 sees 50's two members; 50
    // sees its own twin + 40) — one all-core cluster of 3 points. Rep
    // 20's clone pair (members 20,21) has mass 1 → noise, with 30.
    val pairs = edges((40L, 50L))
    val reps = spark.createDataFrame(Seq(
      (10L, 3L, 33L), (20L, 2L, 41L), (30L, 1L, 30L),
      (40L, 1L, 40L), (50L, 2L, 101L))).toDF("rid", "g", "idsum")
    val rows = graft.queries.NearDup.dbscanClusters(pairs, reps)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.toSeq === Seq(
      (-1L, 0L, 0L, 3L, 71L),   // noise: 20,21,30
      (10L, 3L, 0L, 3L, 33L),   // the clone-trio singleton cluster
      (40L, 3L, 0L, 3L, 141L))) // 40 + 50's pair, all core
  }

  test("harmonicFromHubs: star + chord — exact twelfths at hops 1 and 2") {
    // Star 1-{2,3,4,5} + chord (2,3). Degrees: 1→4, 2→2, 3→2, 4→1,
    // 5→1; top-2 seeds by (deg, id) = {1, 2}. Seed 1 reaches all four
    // others at d=1 (4×12); seed 2 reaches {1,3} at d=1 (2×12) and
    // {4,5} at d=2 (2×6).
    val g = edges((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (2L, 3L))
    val rows = GraphOps.harmonicFromHubs(g, 2, 3).collect()
    assert(rows.map(_.getAs[Long]("seed")).toSeq === Seq(1L, 2L))
    val bySeed = rows.map(r => r.getAs[Long]("seed") -> r).toMap
    assert(bySeed(1L).getAs[Long]("seed_deg") === 4L)
    assert(bySeed(1L).getAs[Long]("n_reached") === 4L)
    assert(bySeed(1L).getAs[Long]("harmonic_x12") === 48L)
    assert(bySeed(1L).getAs[Long]("node_checksum") === 14L)
    assert(bySeed(2L).getAs[Long]("n_reached") === 4L)
    assert(bySeed(2L).getAs[Long]("harmonic_x12") === 36L)
    assert(bySeed(2L).getAs[Long]("node_checksum") === 13L)
  }

  test("q489: an appended low-id supplier EVICTS a capped one — the delta absorbs it") {
    // 8 identical customers each hold suppliers 10..25 (exactly 16 — at
    // cap) in epoch 0; epoch 1 adds supplier 5 to each. The full basket
    // {5, 10..25} caps to {5, 10..24}: supplier 25's pairs — which the
    // appended orders never mention — must vanish from the maintained
    // projection exactly as a rebuild drops them.
    val dir = Files.createTempDirectory("graft_q489_edge").toString
    val e0 = java.sql.Timestamp.valueOf("2000-01-01 00:00:00")
    val e1 = java.sql.Timestamp.valueOf("2001-06-01 00:00:00")
    val orders = for (c <- 1L to 8L; k <- 1L to 17L)
      yield (c * 100 + k, c, if (k <= 16) e0 else e1)
    val lines = for (c <- 1L to 8L; k <- 1L to 17L)
      yield (c * 100 + k, if (k <= 16) 9L + k else 5L)
    spark.createDataFrame(orders)
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/orders.parquet")
    spark.createDataFrame(lines).toDF("l_orderkey", "l_suppkey")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/lineitem.parquet")
    val r = GraphOps.q489.run(spark, dir).collect().head
    val supps = 5L +: (10L to 24L)
    val pairs = for {
      i <- supps.indices; j <- (i + 1) until supps.size
    } yield (supps(i), supps(j))
    assert(r.getAs[Long]("n_nodes") === 16L)
    assert(r.getAs[Long]("n_edges") === pairs.size.toLong) // C(16,2) = 120
    assert(r.getAs[Long]("sup_sum") === pairs.size * 8L)
    assert(r.getAs[Long]("chk") ===
      pairs.map { case (u, v) => (u * 131071L + v) * 8L }.sum)
  }

  private def writeFile(path: String, content: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), content)
    ()
  }

  private def readFile(path: String): String =
    Files.readString(Paths.get(path))

  test("recoverStagedSwap: a committed stage's pending partitions swap in; finished ones stay") {
    val dir = Files.createTempDirectory("graft_recover_edge").toString
    val (root, stage) = (s"$dir/ivf", s"$dir/ivf.__stage")
    // Index with three partitions. The crashed delete had victims in
    // cid=1 and cid=2: cid=1's swap FINISHED (survivors in root, gone
    // from stage); cid=2's crashed between deleteTree(dst) and move —
    // its survivors exist ONLY in the committed stage. cid=0 untouched.
    writeFile(s"$root/cid=0/part-0.parquet", "cid0-original")
    writeFile(s"$root/cid=1/part-0.parquet", "cid1-survivors")
    // cid=2 absent from root: deleteTree(dst) already ran.
    writeFile(s"$stage/_SUCCESS", "")
    writeFile(s"$stage/cid=2/part-0.parquet", "cid2-survivors")
    Fs.recoverStagedSwap(root, stage)
    assert(readFile(s"$root/cid=0/part-0.parquet") === "cid0-original")
    assert(readFile(s"$root/cid=1/part-0.parquet") === "cid1-survivors")
    assert(readFile(s"$root/cid=2/part-0.parquet") === "cid2-survivors")
    assert(!Files.exists(Paths.get(stage)), "stage must be removed")
    // Idempotent: a second recovery (the replay's own call) is a no-op.
    Fs.recoverStagedSwap(root, stage)
    assert(readFile(s"$root/cid=2/part-0.parquet") === "cid2-survivors")
  }

  test("recoverStagedSwap: an uncommitted (mid-write) stage is discarded, index untouched") {
    val dir = Files.createTempDirectory("graft_recover_edge2").toString
    val (root, stage) = (s"$dir/ivf", s"$dir/ivf.__stage")
    writeFile(s"$root/cid=0/part-0.parquet", "cid0-with-victims")
    // No _SUCCESS: the stage write itself was interrupted — partial
    // survivor data that must NOT replace anything.
    writeFile(s"$stage/cid=0/part-0.parquet", "partial-garbage")
    Fs.recoverStagedSwap(root, stage)
    assert(readFile(s"$root/cid=0/part-0.parquet") === "cid0-with-victims")
    assert(!Files.exists(Paths.get(stage)),
      "uncommitted stage must be removed so the replay's write can't collide")
  }

  /** documents fixture rows: (doc_id, text, lang, source, n_chars). */
  private def writeDocs(dir: String,
      rows: Seq[(Long, String, String, String, Long)]): Unit =
    spark.createDataFrame(rows)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/documents.parquet")

  test("q492: chunk-store maintainer killed mid-stream + restarted answers exactly-once") {
    // Chunk rows carry count mass (the census sums them), so a
    // plain-append replay would double-count; every replayed write
    // dynamically overwrites its own batch_id partition instead.
    val uninterrupted = graft.queries.TextMedia.q492.run(spark, sf).collect().toSeq
    val restarted = graft.streaming.StreamChunkStore
      .runWithRestart(spark, sf).collect().toSeq
    assert(restarted === uninterrupted)
  }

  test("q479: BM25 maintainer killed mid-stream + restarted answers exactly-once") {
    // Every replayed write dynamically overwrites its own batch_id
    // partition (postings carry tf MASS — a plain-append replay would
    // double-score), so the drained index must answer exactly like an
    // uninterrupted run (≡ from-scratch rebuild, which the oracle gate
    // already pins for runOnce).
    val uninterrupted = Search.q479.run(spark, sf).collect().toSeq
    val restarted = graft.streaming.StreamBm25Maintain
      .runWithRestart(spark, sf).collect().toSeq
    assert(restarted === uninterrupted)
  }

  test("q480: LSH CDC maintainer killed mid-stream + restarted answers exactly-once") {
    val uninterrupted = Indexes.q480.run(spark, sf).collect().toSeq
    val restarted = graft.streaming.StreamLshCdc
      .runWithRestart(spark, sf).collect().toSeq
    assert(restarted === uninterrupted)
    assert(uninterrupted.forall(_.getAs[Long]("n_erased_left") === 0L))
  }

  test("q480: a bucket over cap within ONE micro-batch resurrects after streamed deletes") {
    val cap = NearDup.MaxLshBucket
    // 70 identical docs ALL in the %4==2 stream batch: that batch's
    // per-batch k = 70 > cap, so it wrote NO member rows at all (unlike
    // the q467 edge fixture, where every epoch stayed under cap and
    // masking alone would pass). Deleting %5==2 pulls the lifetime
    // total to 56 <= cap — the probe can only match if the delete
    // micro-batch recomputed the bucket's members from the signature
    // log.
    val corpusIds = (0L until 300L).filter(_ % 4 == 2).take(70)
    val erased = corpusIds.filter(_ % 5 == 2)
    assert(corpusIds.size > cap, "fixture must overflow the cap in one batch")
    assert(corpusIds.size - erased.size <= cap,
      "fixture must fall back under cap after the delete")
    val dir = Files.createTempDirectory("graft_q480_edge").toString
    val text = "alpha beta gamma delta epsilon"
    writeDocs(dir,
      corpusIds.map(i => (i, text, "en", "s", text.length.toLong)) ++
      Seq((4L, text, "en", "s", text.length.toLong), // probe, same text
          (8L, "zeta eta theta iota kappa", "en", "s", 25L))) // probe, unique
    val rows = Indexes.q480.run(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val hit = rows(4L)
    assert(hit.getAs[Boolean]("is_dup") === true, hit.toString)
    assert(hit.getAs[Long]("dup_of") ===
      corpusIds.filter(_ % 5 != 2).min, hit.toString)
    assert(hit.getAs[Long]("n_erased_left") === 0L)
    assert(rows(8L).getAs[Boolean]("is_dup") === false)
  }

  test("recoverStagedSwap: two-level (cid, batch_id) pending partitions recover too") {
    // The q475 CDC layout: leaf partition dirs are cid=X/batch_id=Y.
    val dir = Files.createTempDirectory("graft_recover_edge3").toString
    val (root, stage) = (s"$dir/ivf", s"$dir/ivf.__stage")
    writeFile(s"$root/cid=0/batch_id=-1/part-0.parquet", "untouched")
    writeFile(s"$stage/_SUCCESS", "")
    writeFile(s"$stage/cid=1/batch_id=0/part-0.parquet", "survivors-1-0")
    Fs.recoverStagedSwap(root, stage)
    assert(readFile(s"$root/cid=0/batch_id=-1/part-0.parquet") === "untouched")
    assert(readFile(s"$root/cid=1/batch_id=0/part-0.parquet") === "survivors-1-0")
    assert(!Files.exists(Paths.get(stage)))
  }
}
