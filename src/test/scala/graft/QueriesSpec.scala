package graft

/** Every SparkEntry query must (a) run at sf0.001, (b) return rows, and
  * (c) be deterministic — two executions collect identical sequences.
  * Determinism is what makes the driver's DuckDB hash-compare meaningful
  * (SURVEY §7.4); a flaky ORDER BY passes once and fails the next round.
  */
class QueriesSpec extends SparkTestBase {

  /** Queries whose persisted and checkpointed frames are owned by a
    * [[Frames]] scope: one call must leave no persistent RDD behind —
    * no harness sweep is needed to free their blocks. */
  private val leakChecked: Set[String] =
    graft.queries.GraphOps.all.map(_.name).toSet +
      "q501_incremental_kmeans_update" + "q493_dbscan_embeddings"

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name: non-empty, deterministic, atomic-schema at sf0.001") {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val df = fn(spark, sf)
      // The q279 lesson: the driver's oracle gate canonicalizes with
      // pandas sort_values, which cannot sort ndarray/dict cells — an
      // Array/Map/Struct output column is uncertifiable by construction.
      // Reduce collections to strings/checksums BEFORE the final select.
      val nonAtomic = OutputShape.nonAtomicColumns(df.schema)
      assert(nonAtomic.isEmpty,
        s"$name ships non-atomic output columns (driver gate cannot " +
          s"sort/hash them): ${nonAtomic.mkString(", ")}")
      val first = df.collect().toSeq
      assert(first.nonEmpty, s"$name returned 0 rows")
      if (leakChecked(name)) {
        // Only additions count: the ContextCleaner may free an older
        // RDD meanwhile, which is not this query's doing.
        val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
        assert(leaked.isEmpty, s"$name left persistent RDDs behind: $leaked")
      }
      val second = fn(spark, sf).collect().toSeq
      assert(first === second, s"$name is non-deterministic across runs")
    }
  }

  test("atomic-schema guard rejects an array-returning fixture") {
    import spark.implicits._
    val bad = Seq((1L, Seq(1L, 2L))).toDF("id", "posting")
    assert(OutputShape.nonAtomicColumns(bad.schema) ===
      Seq("posting: array<bigint>"))
    val worse = bad.selectExpr("id", "posting",
      "map('a', 1) as m", "named_struct('x', 1) as st")
    assert(OutputShape.nonAtomicColumns(worse.schema).size === 3)
  }

  test("every query has either an oracle or a documented reason not to") {
    // Names present in queries but absent from oracleSql get the driver's
    // weaker rows-only check — keep that set intentional and small.
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"queries without oracle SQL: $noOracle")
  }

  test("q02 counts all 6000 sf0.001 lineitems") {
    val n = SparkEntry.queries("q02_count_global")(spark, sf).head().getLong(0)
    assert(n === 6000L)
  }

  test("q15 returns exactly 10 rows in descending price order") {
    val prices = SparkEntry.queries("q15_sort_topk")(spark, sf)
      .collect().map(_.getDouble(2)).toSeq
    assert(prices.length === 10)
    assert(prices === prices.sorted.reverse)
  }

  test("q20 dedup returns each customer exactly once") {
    val keys = SparkEntry.queries("q20_dedup_exact")(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    assert(keys.distinct.length === keys.length)
    assert(keys.length === Tables.customer(spark, sf).count())
  }

  test("q22 similarities are within [-1, 1] and sorted descending") {
    val sims = SparkEntry.queries("q22_similarity_topk")(spark, sf)
      .collect().map(_.getDouble(1)).toSeq
    assert(sims.forall(s => s >= -1.0 && s <= 1.0))
    assert(sims === sims.sorted.reverse)
  }

  test("q42 as-of: every matched click is at-or-before its purchase") {
    val rows = SparkEntry.queries("q42_asof_join")(spark, sf).collect()
    rows.filter(!_.isNullAt(4)).foreach { r =>
      assert(r.getLong(4) <= r.getLong(2),
        s"click ${r.getLong(4)} after purchase ${r.getLong(2)}")
    }
  }

  test("q43 sessions partition all events with > gap between sessions per user") {
    import graft.queries.Extras.SessionGapUs
    val sessions = SparkEntry.queries("q43_sessionize")(spark, sf).collect()
    assert(sessions.map(_.getLong(3)).sum === Tables.events(spark, sf).count())
    sessions.groupBy(_.getLong(0)).foreach { case (_, ss) =>
      ss.sortBy(_.getLong(1)).sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getLong(1) - a.getLong(2) > SessionGapUs,
            "adjacent sessions closer than the gap")
        case _ => ()
      }
    }
  }

  test("entry (flagship) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
