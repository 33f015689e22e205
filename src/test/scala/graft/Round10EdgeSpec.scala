package graft

import org.apache.spark.sql.DataFrame

import graft.queries.GraphOps

/** Named edge cases for the round-10 additions: q495's Louvain ascent
  * against q481's LPA on a graph where they DISAGREE (the round-9
  * verdict's ask — the reason an OPTIMIZING detector earns its place
  * beside the popular-vote one), the derived harmonic-centrality
  * scaling constant beyond the q490 hop cap, and the victim-predicate
  * helper's value semantics.
  */
class Round10EdgeSpec extends SparkTestBase {

  private def edges(pairs: (Long, Long)*): DataFrame =
    spark.createDataFrame(pairs).toDF("u", "v")

  /** Two K4 cliques {1..4} and {5..8} joined by THREE bridges — dense
    * enough that min-tie LPA floods everything into one community. */
  private def bridgedK4s = edges(
    (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
    (5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L), (7L, 8L),
    (1L, 5L), (2L, 6L), (3L, 7L))

  test("louvain vs LPA: LPA floods the 3-bridge double-K4; Louvain recovers the cliques") {
    graft.Frames.scoped { f =>
      // LPA (q481's 4 sweeps, min tie-break): label 1 floods across the
      // three bridges — ONE community, whose modularity is exactly 0
      // (e_in = m and (d/2m)² = 1 cancel).
      val lpa = GraphOps.propagateLabels(f, bridgedK4s, 4).collect()
      assert(lpa.map(_.getLong(1)).distinct.toSeq === Seq(1L), lpa.mkString(","))
      // Louvain (q495's 4 parity sweeps): the exact ΔQ rule resists the flood
      // and lands on the two cliques — Q = 2 × (6/15 − (15/30)²) =
      // 300000 ppm, strictly better than LPA's 0 on the SAME graph.
      val com = GraphOps.louvainRounds(f, bridgedK4s, 4).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(Set(1L, 2L, 3L, 4L).map(com) .size === 1, com.toString)
      assert(Set(5L, 6L, 7L, 8L).map(com).size === 1, com.toString)
      assert(com(1L) !== com(5L), com.toString)
      val census = GraphOps.modularityCensus(bridgedK4s,
          GraphOps.louvainRounds(f, bridgedK4s, 4))
        .collect().map(r => r.getLong(0) -> r).toMap
      assert(census(-1L).getAs[Long]("contribution_ppm") === 300000L)
      val lpaCensus = GraphOps.modularityCensus(bridgedK4s,
          GraphOps.propagateLabels(f, bridgedK4s, 4)
            .withColumnRenamed("lbl", "com"))
        .collect().map(r => r.getLong(0) -> r).toMap
      assert(lpaCensus(-1L).getAs[Long]("contribution_ppm") === 0L)
    }
  }

  test("louvainRounds: a lone edge stays merged — the pair is one community") {
    graft.Frames.scoped { f =>
      // THE semi-synchronous pin: under all-move rounds the two
      // endpoints would swap communities forever (1→com2 and 2→com1
      // every round — never merged); the parity coloring moves only
      // node 1 in round 1 (score 2m·1 − kn·kn = 1 > 0 beats staying),
      // after which node 2's best move is to stay home with it.
      val com = GraphOps.louvainRounds(f, edges((1L, 2L)), 4).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(com(1L) === com(2L), com.toString)
    }
  }

  test("harmonicFromHubs: rounds=5 derives lcm scaling (harmonic_x60), exact fifths") {
    // Path 1-2-3-4-5-6; top-1 hub by (deg, id) = node 2. BFS 5 hops:
    // d(1)=d(3)=1, d(4)=2, d(5)=3, d(6)=4 → 60·(2/1) + 60/2 + 60/3 +
    // 60/4 = 120 + 30 + 20 + 15 = 185, every division exact.
    val g = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val rows = GraphOps.harmonicFromHubs(g, 1, 5).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("seed") === 2L)
    assert(rows.head.getAs[Long]("n_reached") === 5L)
    assert(rows.head.getAs[Long]("harmonic_x60") === 185L)
  }

  test("q500: vocab-census maintainer killed mid-stream + restarted answers exactly-once") {
    // Census rows carry count mass (the probe sums them), so a
    // plain-append replay would double-count; every replayed write
    // dynamically overwrites its own batch_id partition instead.
    val uninterrupted = graft.queries.TrainPrep.q500.run(spark, sf).collect().toSeq
    val restarted = graft.streaming.StreamVocabCensus
      .runWithRestart(spark, sf).collect().toSeq
    assert(restarted === uninterrupted)
  }

  test("q501: merged sufficient statistics equal a from-scratch recompute; drift is real") {
    // The maintained-stats claim on the real corpus: per-cluster member
    // counts/checksums match the oracle-shaped recompute (the sf0.01
    // gate pins values; here we pin the ALGEBRA's invariants): every
    // epoch-1 vector lands somewhere (n_added sums to the odd count),
    // totals cover the whole corpus, and the delta moved at least one
    // centroid (drift > 0 somewhere — a no-op merge would hide a
    // dropped delta).
    val rows = graft.queries.TrainPrep.q501.run(spark, sf).collect()
    val nAll = graft.Tables.embeddings(spark, sf).count()
    val nOdd = graft.Tables.embeddings(spark, sf)
      .filter(org.apache.spark.sql.functions.col("vec_id") % 2 === 1).count()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum === nAll)
    assert(rows.map(_.getAs[Long]("n_added")).sum === nOdd)
    assert(rows.exists(_.getAs[Double]("drift") > 0.0))
  }

  test("q503: the hamming-1 ring only ever ADDS candidates and recall") {
    val rows = graft.queries.NearDup.q503.run(spark, sf).collect()
      .map(r => r.getAs[Long]("radius") ->
        (r.getAs[Long]("n_candidates"), r.getAs[Long]("n_hits10"))).toMap
    assert(rows.keySet === Set(0L, 1L))
    assert(rows(1L)._1 >= rows(0L)._1, rows.toString)
    assert(rows(1L)._2 >= rows(0L)._2, rows.toString)
  }

  test("CdcVictims.pairPredicate: exact pairs, never the cross product") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = spark.range(0, 100)
      .select(($"id" % 10).as("a"), ($"id" % 4).as("b"), $"id")
    // Victims (1,1) and (3,3): the cross product a∈{1,3} × b∈{1,3}
    // would also catch (1,3) and (3,1) rows — the predicate must not.
    val hit = df.filter(graft.streaming.CdcVictims.pairPredicate(
        "a", "b", Seq((1L, 1L), (3L, 3L))))
      .select($"a".cast("long"), $"b".cast("long")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hit === Set((1L, 1L), (3L, 3L)), hit.toString)
    // Negative ids (the batch_id = -1 epoch partition) match exactly.
    val neg = df.select((col("a") - 5).as("a"), col("b"))
      .filter(graft.streaming.CdcVictims.pairPredicate("a", "b", Seq((-5L, 0L))))
      .select($"a".cast("long"), $"b".cast("long")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(neg === Set((-5L, 0L)), neg.toString)
  }
}
