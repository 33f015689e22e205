package graft

import org.apache.spark.sql.functions._

import graft.queries.GraphOps

/** minLabel must converge to the min-reachable-id fixed point — the
  * property that makes q59 deterministic — including on shapes that
  * need multiple propagation rounds (chains) and on multi-component
  * graphs that must NOT merge.
  */
class GraphOpsSpec extends SparkTestBase {

  private def labelsOf(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val df = edges.toDF("src", "dst")
    graft.Frames.scoped(f => GraphOps.minLabel(f, df).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("a chain converges to the minimum id (multi-round propagation)") {
    // 5-4, 4-3, 3-2, 2-1: label 1 must travel the whole chain.
    val l = labelsOf(Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L)))
    assert(l === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("disjoint components keep distinct labels") {
    val l = labelsOf(Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L)))
    assert(l === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("edge direction does not matter (symmetric closure)") {
    assert(labelsOf(Seq((7L, 3L), (3L, 9L))) ===
      labelsOf(Seq((3L, 7L), (9L, 3L))))
  }

  test("q59 clusters are consistent: every cluster id is a member doc") {
    val df = graft.queries.GraphOps.q59.run(spark, sf)
    val rows = df.collect()
    val ids = rows.map(_.getLong(0)).toSet
    val clusters = rows.map(_.getLong(1)).toSet
    assert(clusters.subsetOf(ids), "a cluster id must be one of the clustered docs")
    // cluster id is the min member (keep-first canonical representative)
    val minByCluster = rows.groupBy(_.getLong(1)).map { case (c, rs) =>
      c -> rs.map(_.getLong(0)).min }
    minByCluster.foreach { case (c, mn) => assert(c === mn) }
  }

  test("q126 pagerank: mass conserved within truncation, ranks positive, both node kinds") {
    val rows = graft.queries.GraphOps.q126.run(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getLong(1)).sum
    // Integer truncation only ever LOSES units: per sweep ≤ 1 unit per
    // edge-division plus ≤ 1 per damping step per node.
    val units = 1000000000000000L
    assert(total <= units, s"mass grew: $total > $units")
    assert(total > units - units / 1000, s"lost >0.1% of mass: $total")
    rows.foreach(r => assert(r.getLong(1) > 0L, s"${r.getString(0)} rank not positive"))
    val kinds = rows.map(_.getString(0).takeWhile(_ != ':')).toSet
    assert(kinds === Set("c", "s"))
    // Ranks should differentiate: a supplier trading with many customers
    // outranks the minimum.
    assert(rows.map(_.getLong(1)).distinct.length > 1)
  }

  test("q148 triangles: K4 co-purchase graph counts 4 triangles, 6 edges, 4 nodes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tri_edge").toString
    Seq((1L, "Brand#4"), (2L, "Brand#4"), (3L, "Brand#4"), (4L, "Brand#4"),
      (5L, "Brand#1")) // off-brand node must not enter the graph
      .toDF("p_partkey", "p_brand")
      .coalesce(1).write.parquet(s"$dir/part.parquet")
    // One order per K4 edge (plus one wiring the off-brand part in).
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L))
    pairs.zipWithIndex
      .flatMap { case ((u, v), i) => Seq((100L + i, u), (100L + i, v)) }
      .toDF("l_orderkey", "l_partkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    val r = graft.queries.GraphOps.q148.run(spark, dir).head
    assert(r.getLong(0) === 4L, "nodes")
    assert(r.getLong(1) === 6L, "edges")
    assert(r.getLong(2) === 4L, "K4 has exactly 4 triangles")
    graft.Fs.deleteTree(dir)
  }

  test("q94 keep policy: exactly one survivor per cluster, sizes consistent") {
    val rows = graft.queries.GraphOps.q94.run(spark, sf).collect()
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.foreach { case (c, rs) =>
      assert(rs.count(_.getBoolean(3)) === 1, s"cluster $c must keep exactly one")
      assert(rs.forall(_.getInt(2) === rs.length), s"cluster $c size mismatch")
      assert(rs.length >= 2, s"cluster $c: a near-dup cluster has >= 2 members")
    }
  }
}
