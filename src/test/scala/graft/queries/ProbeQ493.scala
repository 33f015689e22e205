package graft.queries

import org.apache.spark.sql.functions._

/** r13 throwaway probe: q493 phase timings. Test scope only. */
object ProbeQ493 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder("32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    def t[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $tag%-30s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    try Relational.q06.run(spark, sfDir).count()
    catch { case scala.util.control.NonFatal(_) => () }
    (1 to 2).foreach { it =>
      println(s"[probe] === q493 phases #$it ===")
      val reps = t("collapseReps persist") {
        val r = NearDup.collapseReps(
            graft.Tables.fanOut(graft.Tables.embeddings(spark, sfDir), col("vec_id")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        println(s"[probe]   reps count = ${r.count()}")
        r
      }
      val pairs = t("epsPairs persist") {
        val p = NearDup.epsPairs(reps, 0.35)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        println(s"[probe]   pairs count = ${p.count()}")
        p
      }
      t("dbscanClusters total") {
        graft.Frames.scoped { f =>
          val repsS = reps.select($"rid", $"g", $"idsum")
          val bi = pairs.select($"u".as("n"), $"v".as("m"))
            .unionAll(pairs.select($"v".as("n"), $"u".as("m")))
          val mass = repsS.select($"rid".as("n"), ($"g" - 1).as("w"))
            .unionByName(bi.join(
              broadcast(repsS.select($"rid".as("m"), $"g")), Seq("m"))
              .select($"n", $"g".as("w")))
            .groupBy($"n").agg(sum($"w").as("mass"))
          val core = t("  core persist") {
            val c = mass.filter($"mass" >= 2).select($"n")
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            c.count(); c
          }
          val coreEdges = pairs
            .join(core.select($"n".as("u")), Seq("u"), "left_semi")
            .join(core.select($"n".as("v")), Seq("v"), "left_semi")
            .select($"u".as("src"), $"v".as("dst"))
          val lbl0 = t("  minLabel")(GraphOps.minLabel(f, coreEdges))
          t("  starContract (same edges)") {
            val sc = GraphOps.starContractLabels(f, coreEdges.select($"src".as("u"), $"dst".as("v")))
            sc.count()
          }
          val isolated = core.select($"n".as("node"))
            .join(lbl0.select($"node"), Seq("node"), "left_anti")
            .select($"node", $"node".as("label"))
          val lbl = t("  lbl persist") {
            val l = lbl0.select($"node", $"label").unionByName(isolated)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            l.count(); l
          }
          val borders = bi
            .join(core, Seq("n"), "left_anti")
            .join(lbl.select($"node".as("m"), $"label"), Seq("m"))
            .groupBy($"n").agg(min($"label").as("label"))
            .select($"n".as("node"), $"label")
          val members = t("  members persist") {
            val m = lbl.select($"node", $"label", lit(1L).as("is_core"))
              .unionByName(borders.select($"node", $"label", lit(0L).as("is_core")))
              .join(broadcast(repsS.select($"rid".as("node"), $"g", $"idsum")), Seq("node"))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            m.count(); m
          }
          val clusters = members.groupBy($"label".as("cluster_id"))
            .agg(sum($"is_core" * $"g").as("n_core"),
              sum((lit(1L) - $"is_core") * $"g").as("n_border"),
              sum($"g").as("n_total"),
              sum($"idsum").as("chk"))
          val noise = repsS
            .join(members.select($"node".as("rid")), Seq("rid"), "left_anti")
            .agg(coalesce(sum($"g"), lit(0L)).as("n_total"),
              coalesce(sum($"idsum"), lit(0L)).as("chk"))
            .select(lit(-1L).as("cluster_id"), lit(0L).as("n_core"),
              lit(0L).as("n_border"), $"n_total", $"chk")
          t("  readout")(Eager(clusters.unionByName(noise).orderBy($"cluster_id")))
          Seq(lbl, members, core).foreach(_.unpersist(blocking = false))
        }
      }
      pairs.unpersist(blocking = false); reps.unpersist(blocking = false)
    }
    spark.stop()
  }
}
