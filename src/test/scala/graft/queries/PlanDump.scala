package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Dumps `.explain("formatted")` for the optimization round's target
  * stages into plans/<tag>/<name>.txt — the factored per-stage surfaces
  * PlanAuditSpec pins (a full iterative query's final-frame explain only
  * shows the last checkpointed stage, so the informative plan is the
  * stage function's, exactly as the pins assert it). Run BEFORE an
  * optimization with tag "..._before" and after with "..._after".
  *
  * Usage: SPARK_GRAFT_PLANS_TAG=r12 SPARK_GRAFT_PLANS_SUFFIX=before \
  *          sbt "runMain graft.queries.PlanDump"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLANS_TAG", "r12")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLANS_SUFFIX", "before")
    val outDir = java.nio.file.Paths.get(s"plans/$tag")
    java.nio.file.Files.createDirectories(outDir)
    val spark = graft.GraftSession.builder("8").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def planOf(df: => DataFrame, noAutoBroadcast: Boolean = true): String = {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      if (noAutoBroadcast)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
    def dump(name: String, text: String): Unit = {
      java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote plans/$tag/${name}_$suffix.txt")
    }

    // ---- Louvain sweep stages (q495 / q504 / q507 / q508 / q509) ----
    val bi = spark.range(0, 60)
      .select((col("id") % 12).as("src"), ((col("id") + 5) % 12).as("dst"))
      .localCheckpoint()
    val deg = bi.groupBy(col("src").as("n")).agg(count(lit(1)).as("kn"))
      .localCheckpoint()
    val com = deg.select(col("n"), col("n").as("com")).localCheckpoint()
    dump("louvain_sweep", planOf(GraphOps.louvainSweep(
      bi, deg, com, 30L, 1, GraphOps.maybeBroadcast(12))))
    val biW = spark.range(0, 60)
      .select((col("id") % 12).as("src"), ((col("id") + 5) % 12).as("dst"),
        (col("id") % 7 + 1).as("w"))
      .localCheckpoint()
    val str = biW.groupBy(col("src").as("n")).agg(sum(col("w")).as("kn"))
      .localCheckpoint()
    val comW = str.select(col("n"), col("n").as("com")).localCheckpoint()
    dump("louvain_sweep_weighted", planOf(GraphOps.louvainSweepWeighted(
      biW, str, comW, 240L, 1, GraphOps.maybeBroadcast(12))))

    // ---- q126/q378 PageRank sweep keying (the full query is
    // Eager-severed, so the informative plan is one contribution sweep
    // reconstructed exactly as the query builds it). The r12 change is
    // the node-id type: the old sweeps keyed every join/aggregate on
    // concatenated STRINGS ('c:123'/'s:45'); the new ones on long
    // surrogates (2·cust / 2·supp + 1). Both shapes are dumped
    // explicitly — the string variant to *_before, the long variant to
    // *_after — because the keying is the change and the sweep shape
    // is otherwise identical. ----
    locally {
      val li = graft.Tables.lineitem(spark, sfDir).select($"l_orderkey", $"l_suppkey")
      val ord = graft.Tables.orders(spark, sfDir).select($"o_orderkey", $"o_custkey")
      def sweepPlanOf(pairs: DataFrame): String = {
        val edges = pairs.select(col("cust").as("src"), col("supp").as("dst"))
          .unionAll(pairs.select(col("supp").as("src"), col("cust").as("dst")))
        val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
        val edgesDeg = edges.join(deg, "src").repartition(16, $"dst")
        val nodes = edges.select($"src".as("node")).distinct()
        val pr = nodes.withColumn("pr_units", lit(1000L))
        val contribs = edgesDeg.join(broadcast(pr), $"src" === $"node")
          .select($"dst", expr("pr_units DIV deg").as("c"))
          .groupBy($"dst").agg(sum($"c").as("csum"))
        planOf(nodes.join(contribs, $"node" === $"dst", "left")
          .select($"node", expr("(85 * coalesce(csum, 0L)) DIV 100").as("pr_units")),
          noAutoBroadcast = false)
      }
      val joined = li.join(ord, $"l_orderkey" === $"o_orderkey")
      val pairsStr = joined
        .select(concat(lit("c:"), $"o_custkey").as("cust"),
          concat(lit("s:"), $"l_suppkey").as("supp")).distinct()
      val pairsLong = joined
        .select(($"o_custkey" * 2L).as("cust"), ($"l_suppkey" * 2L + 1L).as("supp"))
        .distinct()
      java.nio.file.Files.write(outDir.resolve("q126_sweep_before.txt"),
        sweepPlanOf(pairsStr).getBytes("UTF-8"))
      java.nio.file.Files.write(outDir.resolve("q126_sweep_after.txt"),
        sweepPlanOf(pairsLong).getBytes("UTF-8"))
      println("[plandump] wrote q126_sweep_{before,after}.txt (explicit pair)")
    }

    // ---- q489 delta pass structure: old = v1 − basketPairCounts(e0A)
    // + basketPairCounts(e0A ∪ e1 distinct) (three projection passes),
    // new = v1 + one tagged bounded-basket pass with in-row ±pair
    // emit. Both reconstructed explicitly (the structural change is
    // the pass count, visible as the union/aggregate tree). ----
    locally {
      val li = graft.Tables.lineitem(spark, sfDir).select($"l_orderkey", $"l_suppkey")
      val ord = graft.Tables.orders(spark, sfDir)
        .select($"o_orderkey", $"o_custkey", $"o_orderdate")
      def edgesOf(o: DataFrame) =
        li.join(o, $"l_orderkey" === $"o_orderkey")
          .select($"o_custkey".as("cust"), $"l_suppkey".as("supp")).distinct()
      val o0 = ord.filter($"o_orderdate" < "2001-01-01")
      val o1 = ord.filter($"o_orderdate" >= "2001-01-01")
      val v1 = GraphOps.basketPairCounts(edgesOf(o0.select($"o_orderkey", $"o_custkey")))
      val affected = o1.select($"o_custkey".as("cust")).distinct()
      val e0A = edgesOf(o0.select($"o_orderkey", $"o_custkey"))
        .join(affected, Seq("cust"), "left_semi")
      val e1 = edgesOf(o1.select($"o_orderkey", $"o_custkey"))
      val eFullA = e0A.unionAll(e1).distinct()
      val v2Old = v1.select($"u", $"v", $"sup".as("d"))
        .unionAll(GraphOps.basketPairCounts(e0A).select($"u", $"v", (-$"sup").as("d")))
        .unionAll(GraphOps.basketPairCounts(eFullA).select($"u", $"v", $"sup".as("d")))
        .groupBy($"u", $"v").agg(sum($"d").as("sup"))
        .filter($"sup" >= 8)
      java.nio.file.Files.write(outDir.resolve("q489_delta_before.txt"),
        planOf(v2Old, noAutoBroadcast = false).getBytes("UTF-8"))
      def pairsArr(a: String, d: Long) = expr(
        s"""CASE WHEN size($a) >= 2 THEN
           |  flatten(transform(sequence(0, size($a)-2),
           |    i -> transform(sequence(i+1, size($a)-1),
           |      j -> struct($a[i] AS u, $a[j] AS v, ${d}L AS d))))
           |ELSE CAST(array() AS ARRAY<STRUCT<u: BIGINT, v: BIGINT, d: BIGINT>>)
           |END""".stripMargin)
      val baskets = e0A.select($"cust", $"supp", lit(1).as("old"))
        .unionByName(e1.select($"cust", $"supp", lit(0).as("old")))
        .groupBy($"cust", $"supp").agg(max($"old").as("old"))
        .groupBy($"cust").agg(
          graft.functions.BottomKLongAgg.bottomKLong($"supp", 16).as("fs"),
          graft.functions.BottomKLongAgg.bottomKLong(when($"old" === 1, $"supp")
            .otherwise(lit(Long.MaxValue)), 16).as("os0"))
        .withColumn("os", filter($"os0", x => x =!= lit(Long.MaxValue)))
      val delta = baskets
        .select(explode(concat(pairsArr("fs", 1L), pairsArr("os", -1L))).as("p"))
        .select($"p.u", $"p.v", $"p.d")
      val v2New = v1.select($"u", $"v", $"sup".as("d"))
        .unionAll(delta)
        .groupBy($"u", $"v").agg(sum($"d").as("sup"))
        .filter($"sup" >= 8)
      java.nio.file.Files.write(outDir.resolve("q489_delta_after.txt"),
        planOf(v2New, noAutoBroadcast = false).getBytes("UTF-8"))
      println("[plandump] wrote q489_delta_{before,after}.txt (explicit pair)")
    }

    // ---- kmeans assign stage (q236 / q501) ----
    val pts = spark.range(0, 40)
      .select((col("id") % 10).as("vec_id"), (col("id") % 4).cast("int").as("dim"),
        (col("id") * 1.5).as("x"))
      .localCheckpoint()
    val cent = spark.range(0, 8)
      .select((col("id") % 2).as("cid"), (col("id") % 4).cast("int").as("dim"),
        (col("id") * 0.5).as("c"))
      .localCheckpoint()
    dump("kmeans_assign", planOf(TrainPrep.kmeansAssign(pts, cent)))

    // ---- shared co-purchase projection (q454/q476-q490/q495/q497/
    // q504-q509 prefix): capped basket build — window vs bounded
    // bottom-k (dumped via the factored fn, so the stash dance gives
    // genuine before/after) ----
    locally {
      val edges = GraphOps.tradeEdges(spark, sfDir)
      dump("copurchase_projection",
        planOf(GraphOps.coPurchaseEdges(edges), noAutoBroadcast = false))
    }

    // ---- q476/q486 wedge stage: edgeSupport over a small projection ----
    val g = spark.range(0, 40)
      .select((col("id") % 10).as("u"), ((col("id") + 3) % 10).as("v"))
      .filter(col("u") < col("v")).distinct().localCheckpoint()
    graft.Frames.scoped { f =>
      dump("edge_support", planOf(GraphOps.edgeSupport(f, g), noAutoBroadcast = false))
    }

    spark.stop()
  }
}
