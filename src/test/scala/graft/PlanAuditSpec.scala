package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Plan-shape regression tests: the 100 TB design claims each query's
  * Scaladoc makes (broadcasts, pushdown, pruning, bounded shuffles,
  * top-k without a global sort) asserted against the actual physical
  * plan — so a refactor that silently turns a broadcast join into a
  * cartesian, or un-pushes a scan filter, fails CI instead of only
  * showing up as a cluster incident at scale.
  */
class PlanAuditSpec extends SparkTestBase {

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q05: all four predicate forms push into the parquet scan") {
    val p = plan("q05_filter_predicates")
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "range predicate not pushed")
    assert(p.contains("In(l_quantity"), "IN predicate not pushed")
    assert(p.contains("IsNotNull(l_discount"), "null-check predicate not pushed")
  }

  test("q01: projection prunes the scan to the 3 referenced columns") {
    val p = plan("q01_scan_project_lit")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"), p)
  }

  test("q07: dimension joins broadcast, fact side never shuffles for the join") {
    val p = plan("q07_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "dim join degraded to sort-merge")
  }

  test("q08: fact-fact join is sort-merge, not nested-loop") {
    val p = plan("q08_join_sortmerge")
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), "equi-join degraded to BNLJ")
  }

  test("q10: range join is a broadcast NLJ over the pre-aggregated date domain") {
    val p = plan("q10_join_theta_range")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // The NLJ input must be the date-level aggregate, not raw lineitem: a
    // HashAggregate must print BELOW the join in the tree (children print
    // after parents), not just exist somewhere (the final yr aggregate
    // above the join would satisfy a bare contains).
    val nlj = p.indexOf("BroadcastNestedLoopJoin")
    assert(p.indexOf("HashAggregate", nlj) > nlj,
      "date pre-aggregation missing below the NLJ\n" + p)
  }

  test("q15: global top-k plans TakeOrderedAndProject, no global Sort+Exchange") {
    val p = plan("q15_sort_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q22: brute-force similarity is one pass — broadcast query vector + top-k heap") {
    val p = plan("q22_similarity_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "query vector not broadcast")
  }

  test("q24: signatures shuffle once — exactly one aggregate exchange beyond fan-out") {
    val p = plan("q24_dedup_minhash_lsh")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    // fan-out repartition + bucket groupBy + final sort partitioning ≤ 3;
    // a self-join formulation would add shuffles per side.
    assert(exchanges <= 3, s"expected <= 3 hash exchanges, got $exchanges\n$p")
    assert(!p.contains("SortMergeJoin"), "bucket stage degraded to a self-join")
  }

  test("q28: one corpus pass — no join on the full embeddings relation, probe broadcast") {
    val p = plan("q28_ann_ivf_probe")
    assert(!p.contains("SortMergeJoin"), "corpus re-joined instead of carried through max_by")
    assert(p.contains("BroadcastExchange"), "centroids/probe not broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-k degraded to global sort")
  }

  test("q06: two-phase hash aggregation (partial before the shuffle)") {
    val p = plan("q06_pricing_agg")
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs >= 2, s"expected partial+final HashAggregate pair\n$p")
  }

  test("q38: the SQL-surface BROADCAST hint survives into the physical plan") {
    val p = plan("q38_sql_rollup")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q42: as-of join is window-over-union — no join operator at all") {
    val p = plan("q42_asof_join")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), "as-of degraded to a join\n" + p)
  }

  test("q66: binned range join is a broadcast HASH join, never a nested loop") {
    val p = plan("q66_range_join_binned")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "bin keys lost — range join degraded to BNLJ\n" + p)
    assert(!p.contains("SortMergeJoin"), "probe side stopped broadcasting\n" + p)
  }

  test("q62: the eval gram set broadcasts; the corpus side never sort-merges") {
    val p = plan("q62_eval_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "corpus grams shuffled into a sort-merge join\n" + p)
  }

  test("q70: unigram tables broadcast onto the bigram table") {
    val p = plan("q70_collocation_lift")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "vocabulary side stopped broadcasting\n" + p)
  }

  test("q84: segment dim broadcasts as a semi-join; top-10 is TakeOrderedAndProject") {
    val p = plan("q84_star_join_topk")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "customer segment filter not a broadcast semi-join\n" + p)
    assert(p.contains("TakeOrderedAndProject"), "top-10 degraded to global sort\n" + p)
    assert(p.contains("PushedFilters:"), p)
  }

  test("q85: supplier/nation broadcast; no nested-loop anywhere in the 6-table join") {
    val p = plan("q85_region_nation_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "a join lost its keys\n" + p)
  }

  test("q93: the bloom pre-filter sits below the join (scan side), not above it") {
    // Structural check on the optimized logical plan — string offsets in
    // formatted explain can't distinguish tree position (node names print
    // first, ALL conditions print later in the details block).
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    val df = SparkEntry.queries("q93_sql_bloom_semi_reduction")(spark, sf)
    val optimized = df.queryExecution.optimizedPlan
    val joins = optimized.collect { case j: Join => j }
    assert(joins.nonEmpty, optimized.toString)
    val bloomBelowAJoin = joins.exists(_.children.exists(side =>
      side.collect {
        case f: Filter if f.condition.exists(_.isInstanceOf[BloomFilterMightContain]) => f
      }.nonEmpty))
    assert(bloomBelowAJoin,
      "bloom pre-filter is not on a join input side\n" + optimized)
  }

  test("q92: both rolling-frame aggregates share one window sort") {
    val p = plan("q92_rolling_time_window")
    val sorts = "Sort ".r.findAllIn(p).size
    // one in-partition sort for the window + one for the final ORDER BY
    assert(sorts <= 2, s"window aggregates stopped sharing their sort\n$p")
    assert(p.contains("Window"), p)
  }

  test("q118: nation dim broadcasts; sketches partial-aggregate before each exchange") {
    val p = plan("q118_hll_sketch_union")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "nation join degraded to sort-merge\n" + p)
    // Both sketch levels must be ObjectHashAggregate (map-side partial +
    // merge), never SortAggregate fallback.
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("SortAggregate"), "sketch agg fell back to sort-based\n" + p)
  }

  test("q119: both SCD2 windows reuse one user_id shuffle") {
    val p = plan("q119_scd2_dimension")
    // One exchange for the windows (hashpartitioning on user_id) plus the
    // final orderBy's range exchange — nothing else.
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected <=2 exchanges (window + sort), got $exchanges\n" + p)
  }

  test("q124: dimension edges broadcast their anti joins; no edge nested-loops") {
    val p = plan("q124_referential_audit")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), "RI edge degraded to cartesian\n" + p)
  }

  test("q121: spine joins the broadcast hourly rollup, never raw events") {
    val p = plan("q121_interpolate_linear")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q143: the gone-quiet test is a broadcast anti join; stats broadcast into the filter") {
    val p = plan("q143_above_avg_no_orders")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin"), "anti join degraded from broadcast\n" + p)
    assert(!p.contains("CartesianProduct"),
      "scalar-stats crossJoin degraded to a real cartesian\n" + p)
  }

  test("q144/q146: part dimension broadcasts; the OR residual never degrades to a nested loop") {
    val p144 = plan("q144_promo_rev_share")
    assert(p144.contains("BroadcastHashJoin"), p144)
    val p146 = plan("q146_disjunctive_pred_join")
    assert(p146.contains("BroadcastHashJoin"), p146)
    assert(!p146.contains("BroadcastNestedLoopJoin"),
      "disjunctive residual pushed the join off the equi key\n" + p146)
  }

  test("q145: the quantity rollup aggregates BELOW the join (filter first, enrich second)") {
    val p = plan("q145_big_volume_orders")
    val join = p.indexOf("Join")
    assert(join >= 0, p)
    assert(p.indexOf("HashAggregate", join) > join,
      "HAVING rollup not below the join — facts enriched before filtering\n" + p)
    assert(p.contains("TakeOrderedAndProject") || p.contains("Sort"), p)
  }

  test("q147: customer dim broadcasts; sufficient statistics partial-aggregate before the exchange") {
    val p = plan("q147_trend_suffstats")
    assert(p.contains("BroadcastHashJoin"), p)
    // A bare indexOf("Exchange") would match the top-level ORDER BY
    // range exchange, after which the FINAL aggregate always prints —
    // vacuous. Assert the actual two-phase sandwich in the tree:
    // HashAggregate(final) directly over Exchange directly over
    // HashAggregate(partial), plus the exchange details naming
    // hashpartitioning on the grouping key.
    val nodes = p.linesIterator
      .map(_.dropWhile(c => !c.isLetter))
      .map(_.takeWhile(_ != ' '))
      .filter(_.nonEmpty).toList
    val sandwich = nodes.sliding(3).exists(
      _ == List("HashAggregate", "Exchange", "HashAggregate"))
    assert(sandwich, "no partial/final aggregate pair around an exchange\n" + p)
    assert(p.contains("hashpartitioning(c_nationkey"),
      "nation rollup exchange is not hash-partitioned on the key\n" + p)
  }

  test("q175: the three DISTINCT aggregates share one Expand, one distinct shuffle") {
    // Count tree nodes ("Expand (n)"), not the detail-section echoes.
    val p = plan("q175_distinct_agg")
    val expands = "Expand \\(".r.findAllIn(p).size
    assert(expands == 1, s"expected exactly one shared Expand for the multi-DISTINCT agg\n$p")
  }

  test("q181: multi-agg pivot is one aggregation pass, not N queries + join") {
    val p = plan("q181_pivot_multi_agg")
    assert(!p.contains("Join"), "pivot plan must not contain a join\n" + p)
    val aggs = "HashAggregate".r.findAllIn(p).size
    assert(aggs >= 2, s"expected partial+final HashAggregate pair\n$p")
  }

  test("q183: LATERAL decorrelates to hash joins, no per-row subquery or nested loop") {
    // Decorrelation plans two broadcast hash joins (the outer join to
    // the per-key aggregate, plus the domain join-back that restores
    // empty groups as count-0 rows) — what must NOT appear is any
    // per-row re-execution shape: cartesian product or nested loop.
    val p = plan("q183_sql_lateral_join")
    val joins = "BroadcastHashJoin \\w+ Build".r.findAllIn(p).size
    assert(joins == 2, s"expected the two-hash-join decorrelated shape\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "lateral must not plan a cartesian/nested-loop join\n" + p)
  }

  test("q190: bloom probe filters BELOW the join, on the probe side") {
    val p = plan("q190_bloom_runtime_filter_join")
    val joinAt = math.max(p.indexOf("SortMergeJoin"), p.indexOf("BroadcastHashJoin"))
    assert(joinAt >= 0, "expected an equi-join\n" + p)
    // The bloom must prefilter the probe INPUT — its Filter node prints
    // below the join node (children print after parents in formatted
    // mode), not above it as a post-join residual.
    val bloomAt = p.indexOf("graft_bloom_might_contain")
    assert(bloomAt > joinAt, "bloom probe missing or not below the join\n" + p)
  }

  test("q191: fingerprints compute below the join; scans prune to the 4 diff columns") {
    val p = plan("q191_snapshot_diff")
    // The full-outer join must carry (key, md5) only — the md5 Project
    // sits below the join and the scan reads just the fingerprint inputs.
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint," +
      "o_orderstatus:string,o_orderpriority:string>"), p)
    val joinAt = p.indexOf("SortMergeJoin")
    assert(joinAt >= 0, "expected a sort-merge full outer join\n" + p)
    assert(p.indexOf("md5", joinAt) > joinAt, "md5 not computed below the join\n" + p)
  }

  test("q192: percentile cut points broadcast back; no sort-merge join") {
    val p = plan("q192_winsorize_lengths")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "5-row cut-point frame degraded to SMJ")
  }

  test("q194: dims and total broadcast; no cartesian beyond the tiny grid cross joins") {
    val p = plan("q194_mixture_drift_tvd")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), "grid join degraded to SMJ\n" + p)
  }

  test("q196: the hint actually plans a shuffled hash join, not sort-merge") {
    val p = plan("q196_shuffled_hash_join")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "hint ignored — degraded to SMJ\n" + p)
  }

  test("q201: priority predicate stays IN the outer join; shuffle budget holds") {
    val p = plan("q201_custdist")
    // At fixture scale the orders side broadcasts (LeftOuter BuildRight);
    // at 100 TB the same plan degrades gracefully to SMJ on custkey —
    // either way it must stay an equi-outer-join, never a nested loop,
    // and the filter must sit below the join (ON-clause semantics), not
    // above it (which would drop customers instead of zeroing counts).
    assert(p.contains("LeftOuter"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    val joinAt = p.indexOf("LeftOuter")
    assert(p.indexOf("Filter", joinAt) > joinAt, "priority filter not below the join\n" + p)
    // Tree-node form only — the formatted details section repeats names.
    val exchanges = "[+:]- Exchange \\(".r.findAllIn(p).length
    assert(exchanges <= 4, s"expected <=4 shuffle exchanges, got $exchanges\n" + p)
  }

  test("q202: per-part stats and brand dim both broadcast; no sort-merge") {
    val p = plan("q202_small_qty_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "threshold frame degraded to SMJ\n" + p)
    assert(p.contains("EqualTo(p_brand,Brand#1)"),
      "brand filter not pushed to the part scan\n" + p)
  }

  test("q203: no correlated probing — aggregate cascade, supplier broadcast") {
    val p = plan("q203_waiting_supplier")
    assert(p.contains("BroadcastHashJoin"), "supplier dim not broadcast\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "exists-shape leaked a nested-loop join\n" + p)
    assert(p.contains("TakeOrderedAndProject"), "top-20 degraded to global sort\n" + p)
  }

  test("q204: max-equality is a 1-row broadcast, quarter filter pushed") {
    val p = plan("q204_top_supplier")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "scalar-max join degraded to SMJ\n" + p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      "quarter range not pushed to the lineitem scan\n" + p)
  }

  test("q205: one fact-fact shuffle join; every dimension chain broadcasts") {
    val p = plan("q205_market_share")
    val smj = "SortMergeJoin".r.findAllIn(p).length
    assert(smj <= 1, s"expected <=1 sort-merge join (lineitem⋈orders), got $smj\n" + p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q206: denylist is a broadcast anti join; part dim broadcasts") {
    val p = plan("q206_supplier_census")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), "dim/denylist join degraded to SMJ\n" + p)
  }

  test("q209: no single-partition global sort — ids assigned below the SQL boundary") {
    val p = plan("q209_global_row_ids")
    // The anti-pattern this operator replaces plans a Window with a
    // SinglePartition exchange over the DATA. StableIds now assigns ids
    // via zipWithIndex on the range-partitioned RDD lineage (the round-7
    // single-lineage fix), so the SQL plan must show the ids arriving
    // from an ExistingRDD scan — and never a Window anywhere. The
    // density/stability semantics are pinned by OperatorPropsSpec.
    assert(p.contains("Scan ExistingRDD"), "id assignment left the RDD lineage\n" + p)
    assert(!p.contains("Window"), "row ids degraded to a window sort\n" + p)
  }

  test("q210: digest is scan + partial agg only — no join, no sort before the rollup") {
    val p = plan("q210_table_digest")
    assert(!p.contains("Join"), "digest must not join\n" + p)
    val smallAggs = "HashAggregate".r.findAllIn(p).length
    assert(smallAggs >= 2, "expected partial+final aggregate\n" + p)
  }

  test("q231 shape: CACHE TABLE serves reads from a columnar in-memory scan") {
    // q231's own return value is Eager-collected (LocalTableScan by
    // design), so audit the cached-relation plan directly.
    graft.queries.SqlSurface.registerViews(spark, sf)
    spark.sql("CACHE TABLE graft_audit_cache AS SELECT o_orderpriority FROM orders")
    try {
      val p = spark.sql("SELECT o_orderpriority, count(*) FROM graft_audit_cache GROUP BY 1")
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      // The formatted plan prints the InMemoryRelation's DEFINITION
      // subtree (including its parquet scan) — the executed read path
      // is the "Scan In-memory table" node above it.
      assert(p.contains("Scan In-memory table"), "cache not used\n" + p)
    } finally {
      spark.sql("UNCACHE TABLE IF EXISTS graft_audit_cache")
      spark.catalog.dropTempView("graft_audit_cache")
      ()
    }
  }

  test("q233: null-key rows bypass the join; non-null side joins broadcast") {
    val p = plan("q233_null_skew_outer_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("Union"), "null-split union missing\n" + p)
    assert(!p.contains("SortMergeJoin"), "dim join degraded to SMJ\n" + p)
  }

  test("q237 shape: nested-schema pruning narrows the scan to referenced leaves") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_nest_audit"
    graft.Fs.deleteTree(tmp)
    try {
      Tables.orders(spark, sf)
        .select($"o_orderkey",
          struct(struct($"o_orderstatus".as("status"), $"o_orderpriority".as("priority"))
              .as("meta"),
            array(struct(lit(1).as("ln"), $"o_custkey".as("qty"))).as("items"))
            .as("doc"))
        .write.parquet(s"$tmp/nested")
      val p = spark.read.parquet(s"$tmp/nested")
        .select($"doc.meta.status")
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(p.contains("ReadSchema: struct<doc:struct<meta:struct<status:string>>>"),
        "scan did not prune to the one referenced leaf\n" + p)
    } finally graft.Fs.deleteTree(tmp)
  }

  test("q217: the merged ALL level re-aggregates bitmaps, never raw order rows") {
    val p = plan("q217_bitmap_distinct")
    // The plan is the Eager'd local result; audit the live shape instead.
    // (plan() on q217 returns a LocalTableScan — build the level-1 frame
    // here and pin that the global merge consumes IT, i.e. a second
    // aggregate over bitmap state, not a second orders scan.)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val lvl1 = Tables.orders(spark, sf)
      .select($"o_orderpriority", expr("bitmap_bucket_number(o_custkey)").as("bkt"),
        expr("bitmap_bit_position(o_custkey)").as("pos"))
      .groupBy($"o_orderpriority", $"bkt")
      .agg(expr("bitmap_construct_agg(pos)").as("bm"))
    val merged = lvl1.groupBy($"bkt").agg(expr("bitmap_or_agg(bm)").as("bm"))
      .agg(sum(expr("bitmap_count(bm)")))
    val mp = merged.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val scans = "Scan parquet".r.findAllIn(mp).length
    assert(scans <= 2, s"merge path re-scans orders (tree+details show $scans)\n" + mp)
    assert(p.nonEmpty)
  }

  test("q246: per-type medians broadcast back onto the fact side") {
    val p = plan("q246_median_abs_deviation")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "median frame degraded to SMJ\n" + p)
  }

  test("q250: capstone joins broadcast; no fact-fact shuffle join, no cartesian") {
    val p = plan("q250_scaleops_capstone")
    // The 1-row target frame crosses via broadcast NLJ (q194's allowed
    // shape); what must never appear is a sort-merge or cartesian.
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "capstone degraded to a fact-fact shuffle join\n" + p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("AQE coalesces undersized shuffle partitions at runtime") {
    // The 100 TB config stance: shuffle.partitions is sized for the big
    // stages, and AQE shrinks the small ones back — verify the runtime
    // re-plan actually engages on a fixture-sized aggregate instead of
    // leaving 32 near-empty reducers.
    val df = SparkEntry.queries("q06_pricing_agg")(spark, sf)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("AQEShuffleRead"), p)
    assert(p.contains("coalesced"), "AQE did not coalesce the tiny shuffle\n" + p)
  }

  test("whole-stage codegen covers the scan->project hot path of q30") {
    // Under AQE codegen stages exist only in the executed final plan —
    // run the query, then look for per-node "codegen id" annotations.
    val df = SparkEntry.queries("q30_text_quality_score")(spark, sf)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("[codegen id :"), p)
  }

  test("q256: exploded supplier cells broadcast; cell equi-join, never cartesian") {
    val p = plan("q256_geo_cell_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "grid-cell join degraded to the all-pairs product it exists to avoid\n" + p)
  }

  test("q270: argmin is an aggregate, not a window; candidate join broadcasts") {
    val p = plan("q270_knn_within_radius")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"),
      "nearest-neighbor pick degraded to a window sort; " +
        "struct-min must stay a map-side-combinable aggregate\n" + p)
  }

  test("q254/q255: window-sweep shapes — no join in the island build, no product in the skyline") {
    val iv = plan("q254_interval_coalesce")
    assert(iv.contains("Window"), iv)
    assert(!iv.contains("Join"), "island build grew a self-join\n" + iv)
    val sky = plan("q255_skyline_pareto")
    assert(sky.contains("Window"), sky)
    assert(!sky.contains("CartesianProduct") && !sky.contains("BroadcastNestedLoopJoin"),
      "skyline degraded to the quadratic dominance product\n" + sky)
  }

  test("q263/q264: dimension and daily-rollup joins broadcast") {
    val late = plan("q263_late_dim_default")
    // BOTH dimension joins must broadcast; the only acceptable sort-merge
    // is the final FULL OUTER zip of the two 6-row rollups (full-outer
    // rarely broadcasts statically; AQE shrinks it at runtime and the
    // sides are dimension-sized by construction).
    assert(late.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 2, late)
    assert(!late.contains("SortMergeJoin LeftOuter") && !late.contains("SortMergeJoin Inner"),
      "dim join degraded to SMJ\n" + late)
    val spine = plan("q264_date_spine_zipper")
    assert(spine.contains("BroadcastHashJoin"), spine)
    assert(!spine.contains("CartesianProduct"), spine)
  }

  test("q251: variant pipeline prunes the scan to the serialized columns") {
    val p = plan("q251_variant_extract")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint," +
      "l_quantity:double,l_returnflag:string,l_linestatus:string>"),
      "variant construction widened the scan\n" + p)
  }

  test("q278: df/query/globals joins all broadcast; no corpus-sized sort-merge or product") {
    val p = plan("q278_bm25_topk")
    // Three broadcast joins: df (term-count-sized), the literal query
    // table, and the singleton globals crossJoin — none may degrade.
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 2, p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "broadcast-sized side degraded to SMJ\n" + p)
    assert(!p.contains("CartesianProduct"), "globals join degraded to a partitioned product\n" + p)
  }

  test("q279: posting cap runs BEFORE the collect (window under the aggregate)") {
    val p = plan("q279_inverted_index")
    assert(p.contains("Window"), p)
    // The collect_list aggregate must consume the rank-filtered frame:
    // the Window node appears below the final HashAggregate in the tree,
    // i.e. the formatted plan lists the Window stage, and no plain
    // unbounded collect path exists without it.
    val winIdx = p.indexOf("Window")
    val aggIdx = p.lastIndexOf("ObjectHashAggregate")
    assert(winIdx >= 0 && aggIdx >= 0, p)
  }

  test("q294: HRW assignment is per-row — no join, no shuffle before the rollup") {
    val p = plan("q294_rendezvous_rebalance")
    // Shard argmax is an array HOF inside a projection: any join in the
    // plan means the assignment degraded to an explode+groupBy argmax.
    assert(!p.contains("Join"), "per-row HRW argmax degraded to a join\n" + p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 1, s"expected only the rollup exchange, got $exchanges\n$p")
  }

  test("q296: candidates come from an equi-join on prefix shingles, never a product") {
    // r13: the QuerySpec Eagers its pair-sized readout (so the persisted
    // shingle/prefix frames can be released) — the pinnable plan is the
    // factored LAZY pipeline's.
    val (df, handles) = graft.queries.NearDup.prefixSimJoinStaged(spark, sf)
    try {
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        "prefix filter degraded to an all-pairs product\n" + p)
      // The candidate stage must be a hash EQUI-join on the prefix shingle
      // (AQE picks broadcast at spec scale, sort-merge at 100 TB — both
      // keep the bucket-bounded shape; a product would not).
      assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
      // r13: the positional filter sits in the candidate stage (the
      // overlap bound references both sides' ranks).
      assert(p.contains("least("), "PPJoin positional filter missing\n" + p)
    } finally handles.foreach(_.unpersist(blocking = false))
  }

  test("q292/q293: changepoint + FIR EMA are pure window stages — one exchange each") {
    for (name <- Seq("q292_changepoint_mean_shift", "q293_ema_closed_form")) {
      val p = plan(name)
      assert(!p.contains("Join"), s"$name grew a join\n$p")
      assert(p.contains("Window"), s"$name lost its window stage\n$p")
    }
  }

  test("q298/q299: rank stats aggregate BEFORE the cumulative window") {
    // The scale claim: per-row rank() over the raw table would global-
    // sort 100 TB; both queries must window over the grouped score
    // domain — an aggregate must sit below every Window in the plan.
    for (name <- Seq("q298_auc_mann_whitney", "q299_pr_threshold_sweep")) {
      val p = plan(name)
      // Formatted explain numbers nodes bottom-up (scan = 1), so
      // "aggregate executes below the window" ⟺ the lowest-numbered
      // HashAggregate node has a smaller number than the lowest Window.
      def minNode(kind: String): Int = {
        val nums = s"\\((\\d+)\\) $kind".r.findAllMatchIn(p).map(_.group(1).toInt)
        if (nums.isEmpty) Int.MaxValue else nums.min
      }
      assert(minNode("Window") < Int.MaxValue, s"$name lost its cumulative window\n$p")
      assert(minNode("HashAggregate") < minNode("Window"),
        s"$name: score-domain aggregate is not below the window\n$p")
    }
  }

  test("q313: five named-window functions share one sort — no duplicate window stages") {
    val p = plan("q313_sql_named_window")
    val windows = "\\(\\d+\\) Window".r.findAllIn(p).size
    assert(windows == 1, s"window functions split across $windows stages\n$p")
    // Exactly one sort BELOW the window (the final ORDER BY adds one
    // above it) — node numbers are bottom-up.
    val winNode = "\\((\\d+)\\) Window".r.findFirstMatchIn(p).get.group(1).toInt
    val sortsBelow = "\\((\\d+)\\) Sort".r.findAllMatchIn(p)
      .count(_.group(1).toInt < winNode)
    assert(sortsBelow == 1, s"expected one window sort, got $sortsBelow\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 1, s"expected one partition exchange, got $exchanges\n$p")
  }

  test("q301: containment is row-local — no join, only the rollup exchange") {
    val p = plan("q301_point_in_polygon")
    assert(!p.contains("Join"), "edge fold degraded to a join\n" + p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 1, s"expected only the rollup exchange, got $exchanges\n$p")
  }

  test("q302/q329: pair streams come from brand equi-joins, never a product") {
    for (name <- Seq("q302_jaro_winkler_linkage", "q329_bounded_edit_verify")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name degraded to an all-pairs product\n$p")
      assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    }
  }

  test("q320: containment candidates come from a shingle equi-join, never a product") {
    // r13: Eager'd readout — pin the factored lazy pipeline (see q296).
    val (df, handles) = graft.queries.NearDup.containmentJoinStaged(spark, sf)
    try {
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        "containment prefix filter degraded to an all-pairs product\n" + p)
      assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
      // r13: the containment length bound prunes inside the candidate
      // join (5·n_b ≥ 4·n_a).
      assert(p.contains("(n_b#") || p.contains("n_b"), p)
    } finally handles.foreach(_.unpersist(blocking = false))
  }

  test("q317: negatives come from an anti join off the broadcast item domain") {
    val p = plan("q317_negative_sampling")
    assert(p.contains("LeftAnti"), "observed-interaction anti join missing\n" + p)
    assert(!p.contains("CartesianProduct"),
      "user x item cross degraded to a cartesian (domain side must broadcast)\n" + p)
  }

  test("q328: ablation reads the corpus once — one scan, complements not rescans") {
    val p = plan("q328_source_ablation")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"leave-one-out recomputed via extra scans: $scans\n$p")
  }

  test("q52: the edit-distance scorer runs on pair-key partitioning, not the corpus scan's") {
    // Round-6 sf1 lesson: without this exchange the whole O(k·n) scorer
    // lands on one task per 128 MB parquet split.
    val p = plan("q52_dedup_edit_verify")
    assert(p.contains("hashpartitioning(doc_a"),
      "candidate-stream repartition before the scorer is gone\n" + p)
    // The pair join is HINTED to merge (r10): estimation drift must
    // never broadcast one side and put the scorer back on the corpus
    // scan's partitioning.
    assert(p.contains("SortMergeJoin"),
      "pair join lost its merge hint\n" + p)
  }

  test("q302/q329: ER pairing goes through the chunked neighborhood explode") {
    // The sorted-neighborhood sub-block join (brand, chunk) keeps the
    // pair stream linear in block size; losing the explode regresses to
    // the quadratic brand-block pairing.
    Seq("q302_jaro_winkler_linkage", "q329_bounded_edit_verify").foreach { q =>
      val p = plan(q)
      assert(p.contains("Generate") && p.contains("explode"),
        s"$q: chunk duplication explode missing\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: pairing degraded to cartesian\n$p")
    }
  }

  test("q343: Benford scan reads only the price column; no join anywhere") {
    val p = plan("q343_benford_digit_audit")
    assert(p.contains("ReadSchema: struct<l_extendedprice:double>"), p)
    assert(!p.contains("Join"), "digit audit must be join-free\n" + p)
  }

  test("q345/q346/q348: group-sized stat frames broadcast back, never sort-merge") {
    Seq("q345_mad_dispersion", "q346_winsorized_mean",
        "q348_class_balance_downsample").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: stat-frame broadcast missing\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q: group-sized frame degraded to a corpus shuffle join\n$p")
    }
  }

  test("q347: skip-gram pairs emit array-side — generators, no join") {
    val p = plan("q347_skipgram_pairs")
    assert(p.contains("Generate") && p.contains("explode"), p)
    assert(!p.contains("Join"), "pair emit must not be a self-join\n" + p)
  }

  test("q349: KS cumulates one value-domain frame — no join, single window chain") {
    val p = plan("q349_ks_distribution_drift")
    assert(!p.contains("Join"), "two-sample CDF must share one frame\n" + p)
    assert(p.contains("PushedFilters: [In(source"),
      "source pair filter not pushed to the scan\n" + p)
  }

  test("q350: fingerprint rollup is join-free with two aggregates") {
    val p = plan("q350_dedup_cluster_histogram")
    assert(!p.contains("Join"), p)
    val aggs = "HashAggregate|SortAggregate|ObjectHashAggregate".r.findAllIn(p).size
    assert(aggs >= 2, "cluster + histogram aggregates expected\n" + p)
  }

  test("q370: covariance stats via in-row generator + broadcasts — corpus never self-joins") {
    val p = plan("q370_intrinsic_dimension")
    assert(p.contains("Generate"), "in-row pair generator missing\n" + p)
    assert(p.contains("BroadcastHashJoin"), "d-sized sx frames not broadcast\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "a corpus-sized shuffle join crept into the sufficient-stats path\n" + p)
  }

  test("q371: every batching rank comes from StableIds — no window anywhere") {
    val p = plan("q371_bucketed_batching_curve")
    assert(p.contains("Scan ExistingRDD"), "id assignment left the RDD lineage\n" + p)
    assert(!p.contains("Window"),
      "a rank degraded to a window sort (single-partition at Q=1)\n" + p)
  }

  test("q376: probe-sample predicate pushes to the scan; pair join broadcasts") {
    val p = plan("q376_pair_distance_histogram")
    assert(p.contains("LessThanOrEqual(vec_id,100)"),
      "sample bound not pushed into the parquet scan\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin"),
      "bounded pair join must broadcast, never shuffle\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q373: CUPED is two aggregation passes, never a shuffle join") {
    val p = plan("q373_cuped_adjusted_abtest")
    assert(!p.contains("SortMergeJoin"),
      "the 1-row theta frame must broadcast\n" + p)
    val aggs = "HashAggregate|SortAggregate|ObjectHashAggregate".r.findAllIn(p).size
    assert(aggs >= 2, "user-level + arm-level aggregates expected\n" + p)
  }

  test("q387: the 256-bucket frequency frame broadcasts back onto the doc stream") {
    val p = plan("q387_dsir_importance_select")
    assert(p.contains("BroadcastHashJoin"),
      "bucket diffs must broadcast, not shuffle the doc-bucket frame again\n" + p)
    assert(p.contains("TakeOrderedAndProject"),
      "head selection must be top-k, not a global sort\n" + p)
  }

  test("q388: silhouette runs without a window — centroids broadcast, top-2 in-row") {
    val p = plan("q388_ivf_silhouette")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "8 centroids must broadcast\n" + p)
    assert(!p.contains("Window"), "per-vector top-2 must be the in-row sort, not a rank window\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q389: ARI is aggregate-only above the one label shuffle — no sort-merge join") {
    val p = plan("q389_clustering_agreement_ari")
    assert(!p.contains("SortMergeJoin"),
      "marginal frames are 1-row, they must broadcast\n" + p)
    assert(!p.contains("Window"), "pair terms come from cell counts, never ranked rows\n" + p)
  }

  test("q392: dup matrix pairs emit in-row from the census — no self-join on the cluster key") {
    val p = plan("q392_cross_source_dup_matrix")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "source pairs must come from the in-row census explode, not a cell self-join\n" + p)
    assert(p.contains("Generate"), "pair emit should be a Generate stage\n" + p)
  }

  test("q405: the maintained-index probe partition-prunes to the query terms' directories") {
    // The probe plan isn't reachable through plan() (the query writes its
    // index first), so audit the same read shape directly: a term-filtered
    // scan of a term-partitioned postings dir must show PartitionFilters.
    val tmp = java.nio.file.Files.createTempDirectory("graft_q405_plan").toString
    try {
      val df = spark.range(100).selectExpr("id AS doc_id", "id % 7 AS dl",
        "concat('t', id % 5) AS term", "1L AS tf")
      df.repartition(org.apache.spark.sql.functions.col("term"))
        .write.partitionBy("term").parquet(s"$tmp/post")
      val probe = spark.read.parquet(s"$tmp/post")
        .filter(org.apache.spark.sql.functions.col("term").isin("t1", "t3"))
      val p = probe.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(p.contains("PartitionFilters") && p.contains("term"),
        "term filter must prune partitions, not scan all posting dirs\n" + p)
    } finally graft.Fs.deleteTree(tmp)
  }

  test("q396: ADC probe is two broadcast LUT joins + TakeOrdered — no corpus shuffle at query time") {
    val p = plan("q396_pq_adc_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"),
      "the 4-row LUTs must broadcast\n" + p)
  }

  test("q397: vocab growth has no window and no join beyond the broadcast scalar frames") {
    val p = plan("q397_vocab_growth_curve")
    assert(!p.contains("Window"), "rank-free by design\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "the 1-row max/count frames must broadcast\n" + p)
  }

  test("q417: dimensions broadcast; at most the one orders⋈lineitem shuffle join") {
    val p = plan("q417_profit_by_nation_year")
    assert(p.contains("BroadcastHashJoin"), p)
    // At fixture scale AQE may broadcast the orders side too; what must
    // NEVER appear is a second shuffle join (a degraded dimension) or a
    // nested loop.
    val first = p.indexOf("SortMergeJoin")
    assert(first < 0 || p.indexOf("SortMergeJoin", first + 1) < 0,
      "more than one shuffle join — a dimension degraded\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("PushedFilters:"), p)
  }

  test("q418: date+flag push to the scans; top-20 is TakeOrdered, not Sort+Exchange") {
    val p = plan("q418_returned_item_revenue")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("EqualTo(l_returnflag,R)"), "flag filter not pushed\n" + p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), "date range not pushed\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "customer/nation must broadcast onto the aggregate\n" + p)
  }

  test("q422: probe frame broadcasts; top-5 is the capped UDAF, no corpus window") {
    val p = plan("q422_mrl_truncation_audit")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "probes must broadcast\n" + p)
    assert(!p.contains("Window"), "top-k must be BottomKLong, not a window\n" + p)
  }

  test("q424: the fitted model broadcasts into the test stream") {
    val p = plan("q424_markov_heldout_accuracy")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "the <=|types|^2 model frame degraded to a shuffle join\n" + p)
  }

  test("q425: vocabulary and stats broadcast; z-pair join never shuffles the corpus") {
    val p = plan("q425_burrows_delta")
    // All joins downstream of the token aggregate are on (sources x 30)-
    // sized frames: every join must be broadcast-shaped.
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "a vocab/stats/pair join degraded to sort-merge\n" + p)
  }

  test("q427: one aggregate to the partition histogram, total broadcasts back") {
    val p = plan("q427_partition_skew_planner")
    assert(!p.contains("SortMergeJoin"), "1-row total must broadcast\n" + p)
    assert(!p.contains("Window"), "planner is aggregate-only\n" + p)
  }

  // ---- round-8 pins: the q432–q461 band (the round-7 gap) + q462–q467 ----

  private def singles(p: String): Int =
    p.sliding("SinglePartition".length).count(_ == "SinglePartition")

  test("q432/q446/q453: sweeps are per-user windows/cells + ONE 1-row readout aggregate") {
    Seq("q432_session_timeout_sweep", "q446_watermark_drop_sweep",
        "q453_rate_limit_sweep").foreach { n =>
      val p = plan(n)
      assert(singles(p) <= 1, s"$n: a window/agg moved onto a single partition\n" + p)
      assert(!p.contains("SortMergeJoin"), s"$n grew a shuffle join\n" + p)
    }
  }

  test("q445: clock-skew lag() runs per-user — zero single-partition stages") {
    val p = plan("q445_clock_skew_audit")
    assert(singles(p) === 0, "the ingestion-order window went global\n" + p)
  }

  test("q451: decay weights broadcast the 1-row span; ranks window the |types| frame only") {
    val p = plan("q451_halflife_popularity")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "span must broadcast\n" + p)
    // The two global rank windows are over the post-aggregate |event
    // types| frame: each single-partition Window must sit ABOVE an
    // aggregate in the printed tree (children print after parents).
    val w = p.indexOf("Window")
    assert(w >= 0 && p.indexOf("HashAggregate", w) > w,
      "rank window lost its pre-aggregation\n" + p)
    assert(singles(p) <= 2, "more single-partition stages than the two rank windows\n" + p)
  }

  test("q458/q459/q460: one corpus aggregate; the 1-row best/pooled frame broadcasts") {
    Seq("q458_accuracy_fairness_gap", "q459_disparate_impact",
        "q460_equalized_odds_gap").foreach { n =>
      val p = plan(n)
      assert(p.contains("BroadcastNestedLoopJoin"), s"$n: 1-row frame must broadcast\n" + p)
      assert(!p.contains("SortMergeJoin"), s"$n: grew a shuffle join\n" + p)
      assert(singles(p) <= 1, s"$n: beyond the 1-row reduction\n" + p)
    }
  }

  test("q461: the Pareto window runs over the supplier aggregate, never the fact table") {
    val p = plan("q461_abc_pareto_class")
    val w = p.indexOf("Window")
    assert(w >= 0 && p.indexOf("HashAggregate", w) > w,
      "cumulative window lost its supplier pre-aggregation\n" + p)
    assert(!p.contains("SortMergeJoin"), "1-row total must broadcast\n" + p)
  }

  test("q448 (factored): HITS rounds reuse the persisted edges — no parquet rescan") {
    val edges = graft.queries.GraphOps.tradeEdges(spark, sf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val p = graft.Frames.scoped(f => graft.queries.GraphOps.hitsAuthorities(f, edges)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      // Three cache reads (a1 census + the two per-round joins); the
      // "Scan parquet" text inside each InMemoryRelation is the cached
      // build's DESCRIPTION, not a re-execution, so the pin counts
      // distinct InMemoryTableScan nodes instead.
      val imts = "InMemoryTableScan \\((\\d+)\\)".r
        .findAllMatchIn(p).map(_.group(1)).toSet
      assert(imts.size >= 3,
        s"expected >=3 cache reads of edges, saw ${imts.size}\n" + p)
      assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
        "max normalizers must broadcast\n" + p)
    } finally { edges.unpersist(blocking = false); () }
  }

  test("q454 (factored): the 16-per-customer cap plans WindowGroupLimit, no cartesian") {
    val edges = graft.queries.GraphOps.tradeEdges(spark, sf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val p = graft.queries.GraphOps.itemItemRecs(edges)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(p.contains("WindowGroupLimit"),
        "rank<=k caps lost the group-limit rewrite (full per-key sort)\n" + p)
      assert(!p.contains("CartesianProduct"),
        "co-occurrence join degraded to a cartesian\n" + p)
    } finally { edges.unpersist(blocking = false); () }
  }

  test("q469: the waiting-order EXISTS plans as a semi-join, never a correlated probe") {
    val p = plan("q469_priority_waiting_count")
    assert(p.contains("LeftSemi"), "EXISTS must be a semi-join\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the date residual degraded the semi-join to a loop join\n" + p)
  }

  test("q470/q471/q473: global scalars broadcast; dims broadcast into the fact scan") {
    Seq("q470_important_part_value", "q473_dormant_rich_customers").foreach { n =>
      val p = plan(n)
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
        s"$n: 1-row global frame must broadcast\n" + p)
    }
    val p = plan("q471_promo_revenue_share")
    assert(p.contains("BroadcastHashJoin"), "part dim must broadcast\n" + p)
    assert(!p.contains("SortMergeJoin"), "part dim degraded to sort-merge\n" + p)
  }

  test("q472: the qty census aggregates BEFORE any join; customer broadcasts") {
    val p = plan("q472_large_volume_orders")
    // The lineitem aggregate must sit below the order join in the tree.
    val j = p.indexOf("Join")
    assert(j >= 0 && p.indexOf("HashAggregate", j) > j,
      "qty census did not pre-aggregate below the join\n" + p)
    assert(p.contains("BroadcastHashJoin"), "customer dim must broadcast\n" + p)
  }

  test("q474: nested semi chain keeps every join an equi-join on pruned frames") {
    val p = plan("q474_dominant_part_suppliers")
    assert(p.contains("BroadcastHashJoin"), "part filter/supplier dim must broadcast\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "dominance chain degraded to a loop join\n" + p)
  }

  test("q476 (factored): the projection is capped+thresholded before the triangle joins") {
    val edges = graft.queries.GraphOps.tradeEdges(spark, sf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val p = graft.queries.GraphOps.coPurchaseEdges(edges)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // r12: the 16-per-customer cap is the bounded BottomKLong
      // aggregate (O(16) buffer, map-side partial) — no window, no
      // per-customer sort may reappear in the projection build.
      assert(p.contains("graft_bottom_k_long"),
        "basket cap lost the bounded bottom-k aggregate\n" + p)
      assert(!p.contains("WindowGroupLimit") && !p.contains("Window"),
        "basket cap regressed to a window sort\n" + p)
      // The support threshold is an aggregate filter — the projection
      // must END in an aggregate, not a bare distinct of raw pairs.
      assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
        "support threshold aggregate missing\n" + p)
    } finally { edges.unpersist(blocking = false); () }
  }

  test("q476 (factored): triangle two-path joins the degree-ORIENTED list from the cached projection") {
    val edges = graft.queries.GraphOps.tradeEdges(spark, sf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val g = graft.queries.GraphOps.coPurchaseEdges(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val p = graft.Frames.scoped(f => graft.queries.GraphOps.triangleCensus(f, g)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      // The two-path join must build from the (deg, id)-oriented
      // (lo, hi) columns — the hub-proofing orientation — not raw (u, v).
      assert(p.contains("lo#") && p.contains("hi#"),
        "triangle join lost the degree orientation\n" + p)
      // Projection built once: every reference is a cache read.
      val imts = "InMemoryTableScan \\((\\d+)\\)".r
        .findAllMatchIn(p).map(_.group(1)).toSet
      assert(imts.size >= 3,
        s"expected >=3 cache reads of the projection, saw ${imts.size}\n" + p)
      // Node-sized degree frames broadcast into the orientation joins.
      assert(p.contains("BroadcastHashJoin"), "degree joins must broadcast\n" + p)
    } finally { g.unpersist(blocking = false); edges.unpersist(blocking = false) }
  }

  test("q478 (factored): assortativity stats read the cached projection, never rebuild it") {
    val edges = graft.queries.GraphOps.tradeEdges(spark, sf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val g = graft.queries.GraphOps.coPurchaseEdges(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val p = graft.queries.GraphOps.assortativityStats(g)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // Four projection references (both union branches × census/stats):
      // all must be cache reads — the round-8 detail line showed the
      // unpersisted form paying ~4 projection builds.
      val imts = "InMemoryTableScan \\((\\d+)\\)".r
        .findAllMatchIn(p).map(_.group(1)).toSet
      assert(imts.size >= 4,
        s"expected >=4 cache reads of the projection, saw ${imts.size}\n" + p)
      assert(p.contains("BroadcastHashJoin"), "degree frames must broadcast\n" + p)
      assert(!p.contains("CartesianProduct"), "stats join degraded\n" + p)
    } finally { g.unpersist(blocking = false); edges.unpersist(blocking = false) }
  }

  test("q477/q481 (factored): loop outputs are one checkpoint scan deep — no replayed lineage") {
    val edges = graft.queries.GraphOps.tradeEdges(spark, sf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val g = graft.queries.GraphOps.coPurchaseEdges(edges)
      // The returned frames must be localCheckpoint scans (ExistingRDD),
      // not re-derivations of the projection: the peel/propagation
      // rounds reference their parent 2-3 times each, so an
      // un-truncated loop compounds the logical plan k^rounds.
      graft.Frames.scoped { f =>
        val (core, _) = graft.queries.GraphOps.peel3Core(f, g, 2)
        val pCore = core.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        assert(pCore.contains("ExistingRDD"),
          "peel round output is not a checkpoint scan\n" + pCore)
        assert(!pCore.contains("WindowGroupLimit"),
          "peel output replays the projection build\n" + pCore)
        val lbl = graft.queries.GraphOps.propagateLabels(f, g, 2)
        val pLbl = lbl.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        assert(pLbl.contains("ExistingRDD"),
          "LPA round output is not a checkpoint scan\n" + pLbl)
      }
    } finally edges.unpersist(blocking = false)
  }

  test("q486 (factored): common-neighbor fan is a semi-join re-cap, never neighborhood×neighborhood") {
    val edges = graft.queries.GraphOps.tradeEdges(spark, sf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val g = graft.queries.GraphOps.coPurchaseEdges(edges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val p = graft.Frames.scoped(f => graft.queries.GraphOps.commonNeighborStrength(f, g)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      assert(p.contains("LeftSemi"),
        "v-adjacency re-cap must be a semi-join\n" + p)
      assert(!p.contains("CartesianProduct"),
        "common-neighbor count degraded to a cross\n" + p)
      assert(p.contains("BroadcastHashJoin"), "degree frames must broadcast\n" + p)
      assert(p.contains("TakeOrderedAndProject"),
        "top-20 must avoid a global sort\n" + p)
    } finally { g.unpersist(blocking = false); edges.unpersist(blocking = false) }
  }

  test("q464: repeated-gram filter is a semi-join; islands window per-doc") {
    val p = plan("q464_exact_substring_spans")
    assert(p.contains("LeftSemi"), "repeated-gram membership must be a semi-join\n" + p)
    assert(singles(p) === 0, "per-doc island window went global\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "gram census must stay an equi-join\n" + p)
  }

  test("q490 (factored): BFS rounds broadcast frontier+visited onto the closure, anti-joined") {
    import org.apache.spark.sql.functions._
    val bi = spark.range(0, 100)
      .select((col("id") % 10).as("src"), ((col("id") + 3) % 10).as("dst"))
    val frontier = spark.range(0, 2).select(col("id").as("seed"), col("id").as("node"))
    val p = graft.queries.GraphOps.bfsRound(bi, frontier, frontier, 1)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // Both the frontier expansion and the visited-set rejection must be
    // broadcast hash joins — the edge list never re-shuffles per round.
    assert(p.contains("BroadcastHashJoin"), "frontier join must broadcast\n" + p)
    assert(p.contains("LeftAnti"), "visited rejection must be an anti join\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "a BFS round must not shuffle the edge list\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "BFS round degraded to a non-equi join\n" + p)
  }

  test("q491: chunk offsets are in-row generate; scan pruned; only hashes shuffle") {
    val p = plan("q491_rag_chunk_dedup")
    // The offset fan-out is an in-row generator, not a join against an
    // offsets table.
    assert(p.contains("Generate"), "chunk offsets must be an in-row explode\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "chunker must not join for offsets\n" + p)
    // Column pruning: the documents scan must not read source/n_chars.
    val reads = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p).map(_.group(1)).toList
    assert(reads.nonEmpty, p)
    assert(reads.forall(r => !r.contains("source") && !r.contains("n_chars")),
      "documents scan reads unused columns\n" + p)
    // The chunk text itself never shuffles: every exchange below the
    // hash census carries md5 output (h), never a 256-char chunk column.
    assert(!p.contains("chunk#"), "raw chunk text must not be a named column\n" + p)
  }

  test("CDC victim predicate: exact partition pruning at O(1) expression depth") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_victims").toString + "/ivf"
    spark.range(0, 200)
      .select($"id".as("vec_id"), ($"id" % 10).as("cid"), ($"id" % 5).as("batch_id"))
      .write.partitionBy("cid", "batch_id").parquet(tmp)
    val victims = Seq((1L, 1L), (3L, 3L), (7L, 2L))
    val df = spark.read.parquet(tmp)
      .filter(graft.streaming.CdcVictims.pairPredicate("cid", "batch_id", victims))
    // (a) the scan lists ONLY the victim partitions — planning-time
    // pruning, not a post-scan filter (50 leaf dirs exist).
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, df.queryExecution.sparkPlan.toString)
    assert(scans.head.selectedPartitions.partitionCount === victims.size,
      s"expected ${victims.size} pruned partitions, " +
        s"got ${scans.head.selectedPartitions.partitionCount}")
    // (b) exact pairs: lcm(10,5)=10, so each (cid,batch_id) pair with
    // cid%5==batch_id holds 200/10 rows; these three qualify.
    assert(df.count() === 60)
    // (c) O(1) expression depth at any victim count — one In/InSet node,
    // never the r09 OR-chain linear in victims.
    def depth(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
      if (e.children.isEmpty) 1 else 1 + e.children.map(depth).max
    def predExpr(c: org.apache.spark.sql.Column) =
      spark.range(1)
        .select(($"id" % 10).as("cid"), ($"id" % 5).as("batch_id"))
        .filter(c).queryExecution.analyzed.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
        }.get
    val small = predExpr(
      graft.streaming.CdcVictims.pairPredicate("cid", "batch_id", victims))
    val big = predExpr(graft.streaming.CdcVictims.pairPredicate("cid", "batch_id",
      (0L until 5000L).map(i => (i, i % 7))))
    assert(depth(big) === depth(small),
      s"victim predicate depth grew with victim count: ${depth(big)} vs ${depth(small)}")
    assert(!small.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Or]),
      "victim predicate is an Or-chain again")
  }

  test("q492 (factored): bucketProbe reads one hb slice of every batch partition") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // The store layout StreamChunkStore writes: batch_id=N/hb=M leaves.
    val tmp = java.nio.file.Files.createTempDirectory("graft_chunkstore").toString
    spark.range(0, 320)
      .select(md5($"id".cast("string")).as("h"), ($"id" % 2 - 1).as("batch_id"))
      .withColumn("hb", pmod(xxhash64($"h"), lit(16)))
      .write.partitionBy("batch_id", "hb").parquet(s"$tmp/chunks")
    val nBatches = 2
    val probe = graft.streaming.StreamChunkStore.bucketProbe(
      spark, tmp, lit("incoming-chunk-hash"))
    val scans = probe.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, probe.queryExecution.sparkPlan.toString)
    val read = scans.head.selectedPartitions.partitionCount
    // One hb bucket per batch partition — a 1/16 slice, NOT
    // batches × 16 leaves (32 exist here).
    assert(read <= nBatches,
      s"bucket probe read $read leaf partitions, expected <= $nBatches\n" +
        probe.queryExecution.explainString(ExplainMode.fromString("formatted")))
    // The probe's bucket must agree with the writer's bucketing rule.
    val expected = spark.range(1)
      .select(pmod(xxhash64(lit("incoming-chunk-hash")), lit(16)))
      .head.getLong(0)
    // Partition-dir values read back as INT — cast for a stable type.
    val hbs = probe.select($"hb".cast("long")).distinct().collect().map(_.getLong(0))
    assert(hbs.forall(_ == expected), hbs.mkString(","))
  }

  test("q493 (factored): ε-pairs join broadcast COLLAPSED reps, collapse below the join") {
    val reps = graft.queries.NearDup.collapseReps(
      Tables.embeddings(spark, sf))
    val p = graft.queries.NearDup.epsPairs(reps, 0.35)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // The rid < r2 theta join must be the broadcast NLJ over rep-sized
    // frames — never a shuffle product of the raw clone-heavy corpus.
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), "ε-pair join degraded to a cartesian\n" + p)
    assert(!p.contains("SortMergeJoin"), "rep frame re-shuffled for the pair join\n" + p)
    // Clone collapse BEFORE the join on both sides: the group-by-
    // embedding aggregates print BELOW the BNLJ (children print after
    // parents), so the product is |distinct|², not clone-quadratic.
    val b = p.indexOf("BroadcastNestedLoopJoin")
    val aggsBelow = "HashAggregate|ObjectHashAggregate|SortAggregate".r
      .findAllIn(p.substring(b)).size
    assert(aggsBelow >= 2, "clone collapse not below the pair join on both sides\n" + p)
  }

  test("q496: join-free MaxSim — one corpus scan, per-doc max agg, bounded exchanges") {
    val p = plan("q496_maxsim_late_interaction")
    // The query-token vectors are constant-folded literals: scoring a
    // chunk is pure in-row math, so the whole plan carries NO join of
    // any kind — the strongest possible form of "no corpus×query
    // shuffle".
    assert(!p.contains("Join"), "MaxSim grew a join — token vectors no longer fold\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    // Exactly three exchanges: the fan-out repartition (whose doc_id
    // partitioning the per-doc max aggregate then REUSES — no
    // aggregation exchange at all), the |docs|×|queries| ranking
    // window, and the final order. Counted on the formatted detail
    // headers (the tree prints each node a second time).
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges <= 3, s"expected <= 3 exchange nodes, got $exchanges\n$p")
  }

  test("q498: probes broadcast onto the bucket table; no product; top-k without global sort") {
    val p = plan("q498_ann_multiprobe_lsh")
    // 18 probe literals join the bucket table as a broadcast hash join —
    // never a shuffle of the buckets toward the probes, never a product.
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), "probe join degraded to a cartesian\n" + p)
    assert(!p.contains("SortMergeJoin"), "bucket table re-shuffled for the probe join\n" + p)
    // Top-10 rides per-partition heaps + driver merge.
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q499: corpus shuffles once on (term, decile); documents scan pruned to id+text") {
    val p = plan("q499_vocab_growth_census")
    val reads = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p).map(_.group(1)).toList
    assert(reads.exists(r => r.contains("doc_id") && r.contains("text")), p)
    assert(reads.forall(r => !r.contains("lang") && !r.contains("source")),
      "documents scan reads unused columns\n" + p)
    // The (term, dec) census is the only corpus-sized exchange; the
    // vocabulary×10 grid work downstream may add vocabulary-sized ones,
    // but nothing should ever re-shuffle raw token rows a second time —
    // pinned by bounding total hash exchanges.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 6, s"expected <= 6 hash exchanges, got $exchanges\n$p")
    assert(!p.contains("CartesianProduct"),
      "decile cutoff join degraded to a cartesian\n" + p)
  }

  test("q494: token explode pruned to the query-term set before any shuffle") {
    import org.apache.spark.sql.execution.{FilterExec, GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // Exchanges are inserted by EnsureRequirements (executedPlan); AQE
    // off for the capture so the tree is walkable (BucketingSpec's
    // pattern).
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (df, plan) =
      try {
        val d = SparkEntry.queries("q494_max_passage_retrieval")(spark, sf)
        (d, d.queryExecution.executedPlan)
      } finally spark.conf.set("spark.sql.adaptive.enabled", prevA)
    // Root-first path down to the Generate that emits the term column.
    def isTermGen(p: SparkPlan) = p match {
      case g: GenerateExec => g.generatorOutput.exists(_.name == "term")
      case _ => false
    }
    def pathTo(p: SparkPlan): Option[List[SparkPlan]] =
      if (isTermGen(p)) Some(List(p))
      else p.children.view.flatMap(pathTo).headOption.map(p :: _)
    val path = pathTo(plan).getOrElse(
      fail("no Generate producing `term` in the plan\n" + plan))
    // Walking UP from the explode, the IN-query-terms filter must come
    // BEFORE the first exchange: the tf table is |query-terms|-bounded
    // by the time anything shuffles.
    val up = path.reverse
    val firstShuffle = up.indexWhere(_.isInstanceOf[ShuffleExchangeExec])
    assert(firstShuffle > 0, "no shuffle above the explode?\n" + plan)
    val pruned = up.take(firstShuffle).exists {
      case f: FilterExec =>
        val c = f.condition.toString
        c.contains("term") && (c.contains(" IN ") || c.contains("INSET"))
      case _ => false
    }
    assert(pruned,
      "token explode not pruned to the query-term set before the first shuffle\n" + plan)
    // And the ranking stays broadcast-shaped: no sort-merge join, no
    // cartesian anywhere in q494.
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  /** Capture a frame's formatted plan with stats-driven auto-broadcast
    * OFF — the 100 TB simulation for the gated-hint pins: tiny fixture
    * frames carry size estimates through localCheckpoint, so without
    * this Catalyst would broadcast them on stats alone and the pin
    * couldn't tell the explicit gate from an estimate. */
  private def planNoAutoBroadcast(df: => DataFrame): String = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q495 (factored): a Louvain sweep broadcasts every node-sized side frame below the cap") {
    import org.apache.spark.sql.functions._
    val bi = spark.range(0, 60)
      .select((col("id") % 12).as("src"), ((col("id") + 5) % 12).as("dst"))
      .localCheckpoint()
    val deg = bi.groupBy(col("src").as("n")).agg(count(lit(1)).as("kn"))
      .localCheckpoint()
    val com = deg.select(col("n"), col("n").as("com")).localCheckpoint()
    val p = planNoAutoBroadcast(graft.queries.GraphOps.louvainSweep(
      bi, deg, com, 30L, 1, graft.queries.GraphOps.maybeBroadcast(12)))
    // Below BroadcastRowCap the knc census attaches labels to the edge
    // list by broadcast — the edge frame is never pre-shuffled — and
    // deg/tot/cur join the candidate stream the same way; with
    // auto-broadcast off, every one of these is the explicit gated hint.
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "a Louvain sweep shuffled a node-sized side frame below the cap\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "a sweep join degraded to a non-equi form\n" + p)
    // Bounded exchanges: the (parity-halved) knc census, the Σtot
    // aggregate, and the per-mover argmax AGGREGATE — nothing else.
    // r12: the candidate max-merge exchange and the argmax window's
    // sort exchange are gone (max(struct(score, −com)) is the same
    // order computed as a partially-aggregable max — no Window node
    // may reappear in a sweep).
    val ex = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(ex <= 3, s"expected <= 3 exchange nodes in a sweep, got $ex\n$p")
    assert(!p.contains("Window"),
      "the per-mover argmax regressed to a window sort\n" + p)
    // Past the cap the SAME sweep must drop every hint: the gate is the
    // plan's only source of broadcasts at scale.
    val pBig = planNoAutoBroadcast(graft.queries.GraphOps.louvainSweep(
      bi, deg, com, 30L, 1,
      graft.queries.GraphOps.maybeBroadcast(
        graft.queries.GraphOps.BroadcastRowCap + 1)))
    assert(!pBig.contains("BroadcastHashJoin"),
      "past-cap sweep still broadcasts a node frame\n" + pBig)
  }

  test("q497 (factored): a PPR sweep moves no edge bytes — rank and contribution frames broadcast") {
    import org.apache.spark.sql.functions._
    val edgesW = spark.range(0, 60)
      .select((col("id") % 12).as("src"), ((col("id") + 5) % 12).as("dst"),
        lit(3L).as("w"), lit(15L).as("str"))
      .localCheckpoint()
    val e = spark.range(0, 12)
      .select(col("id").as("n"), lit(0L).as("e_units")).localCheckpoint()
    val pr = e.select(col("n"), lit(1000L).as("pr_units")).localCheckpoint()
    val p = planNoAutoBroadcast(graft.queries.GraphOps.pprSweep(
      edgesW, e, pr, graft.queries.GraphOps.maybeBroadcast(12)))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "a PPR sweep shuffled the edge or contribution frame below the cap\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // One exchange only: the per-dst contribution aggregate. The rank
    // frame rides the broadcast into the edge join; the node-sized
    // contribution frame broadcasts back onto e.
    val ex = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(ex <= 1, s"expected <= 1 exchange node in a sweep, got $ex\n$p")
    val pBig = planNoAutoBroadcast(graft.queries.GraphOps.pprSweep(
      edgesW, e, pr,
      graft.queries.GraphOps.maybeBroadcast(
        graft.queries.GraphOps.BroadcastRowCap + 1)))
    assert(!pBig.contains("BroadcastHashJoin"),
      "past-cap sweep still broadcasts the rank frame\n" + pBig)
  }

  test("q495 (factored): Louvain loop output stays one checkpoint scan deep") {
    // The q477 discipline for the heaviest iterative loop: each round
    // localCheckpoints, so everything downstream of the sweeps must
    // plan over ExistingRDD scans, never a replayed projection lineage.
    // (q497's full query is Eager-severed — its sweep shape is pinned
    // above instead.)
    val edges = graft.queries.GraphOps.tradeEdges(spark, sf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val g = graft.queries.GraphOps.coPurchaseEdges(edges)
      val p = graft.Frames.scoped(f => graft.queries.GraphOps.louvainRounds(f, g, 2)
        .queryExecution.explainString(ExplainMode.fromString("formatted")))
      assert(p.contains("Scan ExistingRDD"),
        "Louvain round output is not a checkpoint scan\n" + p)
      assert(!p.contains("WindowGroupLimit"),
        "Louvain output replays the projection build\n" + p)
    } finally edges.unpersist(blocking = false)
  }

  test("q500 (factored): the compacted census probe reads O(generations) leaf dirs") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_census_pin").toString
    try {
      // Five maintained partitions: the epoch-0 build plus 4 streamed
      // batches.
      val docs = spark.range(0, 40)
        .select($"id".as("doc_id"),
          concat(lit("tok"), ($"id" % 7).cast("string"), lit(" x")).as("text"))
      graft.streaming.StreamVocabCensus.writeBatchTo(tmp, docs, -1L)
      (0L to 3L).foreach(b =>
        graft.streaming.StreamVocabCensus.writeBatchTo(
          tmp, docs.filter($"doc_id" % 4 === b), b))
      val before = graft.streaming.StreamVocabCensus.mergedCensus(spark, tmp)
        .orderBy($"term").collect().toSeq
      graft.streaming.StreamVocabCensus.compact(spark, tmp)
      val merged = graft.streaming.StreamVocabCensus.mergedCensus(spark, tmp)
      val scans = merged.queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec => f
      }
      assert(scans.nonEmpty, merged.queryExecution.sparkPlan.toString)
      val read = scans.map(_.selectedPartitions.partitionCount).sum
      assert(read == 1,
        s"compacted census probe read $read leaf partitions, expected 1 generation")
      // And the fold is answer-invariant: counts merge by sum.
      assert(merged.orderBy($"term").collect().toSeq === before)
    } finally graft.Fs.deleteTree(tmp)
  }

  test("q492 (factored): compacted chunk-store bucket probe reads ONE leaf dir") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_chunk_pin").toString
    try {
      val docs = spark.range(0, 30)
        .select($"id".as("doc_id"), lit("en").as("lang"),
          concat(lit("the quick brown fox jumps over the lazy dog body "),
            $"id".cast("string")).as("text"))
      graft.streaming.StreamChunkStore.writeBatchTo(tmp, docs, -1L)
      (0L to 3L).foreach(b =>
        graft.streaming.StreamChunkStore.writeBatchTo(
          tmp, docs.filter($"doc_id" % 4 === b), b))
      graft.streaming.StreamChunkStore.compact(spark, tmp)
      // Probe the bucket of a hash that is actually in the store: after
      // the fold there is ONE generation, so the pruned read is one
      // leaf dir — however many batches the stream had appended.
      val h0 = spark.read.parquet(s"$tmp/chunks").select($"h").head.getString(0)
      val probe = graft.streaming.StreamChunkStore.bucketProbe(spark, tmp, lit(h0))
      val scans = probe.queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec => f
      }
      assert(scans.nonEmpty, probe.queryExecution.sparkPlan.toString)
      val read = scans.map(_.selectedPartitions.partitionCount).sum
      assert(read == 1,
        s"compacted chunk probe read $read leaf partitions, expected 1")
    } finally graft.Fs.deleteTree(tmp)
  }

  test("q479 (factored): compacted BM25 stats/globals read O(generations) leaf dirs") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_bm25_pin").toString
    try {
      (Seq(("alpha", 3L, -1L), ("beta", 2L, -1L), ("alpha", 1L, 0L),
        ("beta", 5L, 1L), ("gamma", 1L, 2L)))
        .toDF("term", "df", "batch_id")
        .write.partitionBy("batch_id").parquet(s"$tmp/stats")
      assert(graft.streaming.StoreCompaction.compact(spark, s"$tmp/stats",
        graft.streaming.StreamBm25Maintain.statsFold))
      val merged = spark.read.parquet(s"$tmp/stats")
        .groupBy($"term").agg(org.apache.spark.sql.functions.sum($"df").as("df"))
      val scans = merged.queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec => f
      }
      assert(scans.nonEmpty)
      val read = scans.map(_.selectedPartitions.partitionCount).sum
      assert(read == 1,
        s"compacted stats read $read leaf partitions, expected 1 generation")
    } finally graft.Fs.deleteTree(tmp)
  }

  test("q501 (factored): Lloyd assignment broadcasts the centroid frame; two bounded exchanges") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val pts = spark.range(0, 120)
      .select(($"id" / 8).cast("long").as("vec_id"), ($"id" % 8).cast("int").as("dim"),
        ($"id" % 5).cast("double").as("x"))
      .localCheckpoint()
    val cent = spark.range(0, 32)
      .select(($"id" / 8).as("cid"), ($"id" % 8).cast("int").as("dim"),
        ($"id" % 3).cast("double").as("c"))
      .localCheckpoint()
    val p = graft.queries.TrainPrep.kmeansAssign(pts, cent)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // The k×dims centroid frame broadcasts onto the point stream — the
    // corpus never pre-shuffles for the centroid join.
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // Distance aggregate + per-vec argmin window: two exchanges, no more.
    val ex = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(ex <= 2, s"expected <= 2 exchange nodes, got $ex\n$p")
  }

  test("q505 (factored): span census partial-aggregates below its exchange; no window over the span key") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = spark.range(0, 30)
      .select($"id".as("doc_id"),
        split(concat(lit("a b c d e f g h tail"), $"id".cast("string")), " ").as("w"))
      .withColumn("nspan", expr("size(w) div 8"))
      .localCheckpoint()
    val p = graft.queries.TrainPrep.spanKeepFirst(docs)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // The round-11 window form put every occurrence of a hot span into
    // ONE window partition (AQE splits skewed joins, never windows).
    // The aggregate+join form must (a) carry NO window over g, and
    // (b) PARTIAL-aggregate the census below its exchange — that is
    // the map-side combine that collapses a 10⁹-occurrence span to one
    // row per map task before any data moves.
    assert(!p.contains("Window"),
      "the span stage regressed to a window over the span key\n" + p)
    assert(p.contains("partial_min") && p.contains("partial_count"),
      "span census is not partial-aggregated below its exchange\n" + p)
    // Two corpus-sized exchanges max: the census aggregate (moving only
    // map-combined span rows) and the occurrence side of the residual
    // join; the census side reuses its aggregate partitioning.
    val ex = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(ex <= 2, s"expected <= 2 exchanges in the span stage, got $ex\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q506 (factored): star-contraction ops join the min frame gated — no edge pre-shuffle below the cap") {
    import org.apache.spark.sql.functions._
    val e = spark.range(0, 60)
      .select(greatest(col("id") % 13, (col("id") + 5) % 13).as("u"),
        least(col("id") % 13, (col("id") + 5) % 13).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    for ((name, op) <- Seq[(String,
        (DataFrame, DataFrame => DataFrame) => DataFrame)](
      "largeStar" -> graft.queries.GraphOps.largeStar,
      "smallStar" -> graft.queries.GraphOps.smallStar)) {
      val p = planNoAutoBroadcast(op(e, graft.queries.GraphOps.maybeBroadcast(13)))
      assert(p.contains("BroadcastHashJoin"), s"$name\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$name pre-shuffled the edge frame below the cap\n$p")
      val pBig = planNoAutoBroadcast(op(e, graft.queries.GraphOps.maybeBroadcast(
        graft.queries.GraphOps.BroadcastRowCap + 1)))
      assert(!pBig.contains("BroadcastHashJoin"),
        s"past-cap $name still broadcasts the min frame\n$pBig")
    }
  }

  test("q504 (factored): a WEIGHTED Louvain sweep broadcasts every node-sized side frame below the cap") {
    import org.apache.spark.sql.functions._
    val bi = spark.range(0, 60)
      .select((col("id") % 12).as("src"), ((col("id") + 5) % 12).as("dst"),
        (col("id") % 7 + 1L).as("w"))
      .localCheckpoint()
    val str = bi.groupBy(col("src").as("n")).agg(sum(col("w")).as("kn"))
      .localCheckpoint()
    val com = str.select(col("n"), col("n").as("com")).localCheckpoint()
    val p = planNoAutoBroadcast(graft.queries.GraphOps.louvainSweepWeighted(
      bi, str, com, 150L, 1, graft.queries.GraphOps.maybeBroadcast(12)))
    // The weighted sweep keeps the unweighted pin's contract (q495 pin
    // above is the template): below BroadcastRowCap the knc census
    // attaches labels to the weighted edge list by broadcast — the
    // edge frame is never pre-shuffled — and str/tot/cur join the
    // candidate stream the same way; with auto-broadcast off, every
    // one of these is the explicit gated hint.
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "a weighted Louvain sweep shuffled a node-sized side frame below the cap\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "a weighted sweep join degraded to a non-equi form\n" + p)
    // Bounded exchanges: the (parity-halved) weighted knc census, the
    // Σtot aggregate, and the per-mover argmax aggregate (r12 — the
    // candidate-merge exchange and the argmax window are gone, as in
    // the q495 pin above).
    val ex = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(ex <= 3, s"expected <= 3 exchange nodes in a weighted sweep, got $ex\n$p")
    assert(!p.contains("Window"),
      "the weighted argmax regressed to a window sort\n" + p)
    // Past the cap the SAME sweep must drop every hint: the gate is the
    // plan's only source of broadcasts at scale.
    val pBig = planNoAutoBroadcast(graft.queries.GraphOps.louvainSweepWeighted(
      bi, str, com, 150L, 1,
      graft.queries.GraphOps.maybeBroadcast(
        graft.queries.GraphOps.BroadcastRowCap + 1)))
    assert(!pBig.contains("BroadcastHashJoin"),
      "past-cap weighted sweep still broadcasts a node frame\n" + pBig)
  }

  test("q507 (factored): contraction attaches level-1 labels by broadcast — the weighted edge frame never pre-shuffles below the cap") {
    import org.apache.spark.sql.functions._
    val gw = spark.range(0, 60)
      .select(greatest(col("id") % 13, (col("id") + 5) % 13).as("u"),
        least(col("id") % 13, (col("id") + 5) % 13).as("v"),
        (col("id") % 7 + 1L).as("sup"))
      .filter(col("u") =!= col("v")).localCheckpoint()
    val p1 = gw.select(col("u").as("n")).unionAll(gw.select(col("v").as("n")))
      .distinct()
      .select(col("n"), (col("n") % 4).as("com")).localCheckpoint()
    // r13: the contraction is ONE fused pass (louvainContractMerged —
    // inter- and intra-community mass out of a single walk of the
    // labeled edge frame; louvainContract checkpoints it, so the
    // pinnable plan is the factored pass's). Both label attachments
    // ride the gated broadcast (the edge frame never pre-shuffles
    // below the cap) and the only exchange is the merged weight
    // aggregate.
    val pe = planNoAutoBroadcast(graft.queries.GraphOps.louvainContractMerged(
      gw, p1, graft.queries.GraphOps.maybeBroadcast(13)))
    assert(pe.contains("BroadcastHashJoin"), pe)
    assert(!pe.contains("SortMergeJoin") && !pe.contains("ShuffledHashJoin"),
      "contraction pre-shuffled the weighted edge frame below the cap\n" + pe)
    assert(!pe.contains("CartesianProduct") && !pe.contains("BroadcastNestedLoopJoin"), pe)
    val ex = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(pe).size
    assert(ex <= 1, s"expected <= 1 exchange in the fused contraction pass, got $ex\n$pe")
    // Strength half: derives from the checkpointed merged frame
    // (|communities|²-bounded), so its joins merge dimension-sized
    // aggregate frames — nothing may degrade to a product, and the
    // checkpoint means the edge frame is walked exactly once however
    // many consumers the caller wires up.
    graft.Frames.scoped { f =>
      val (e2, str2) = graft.queries.GraphOps.louvainContract(
        f, gw, p1, graft.queries.GraphOps.maybeBroadcast(13))
      val ps = planNoAutoBroadcast(str2)
      assert(!ps.contains("CartesianProduct") && !ps.contains("BroadcastNestedLoopJoin"), ps)
      // The super-edge slice and the strength frame must read the
      // checkpointed pass, not re-derive it (plan shows the RDD scan).
      assert(planNoAutoBroadcast(e2).contains("Scan ExistingRDD"), planNoAutoBroadcast(e2))
      assert(ps.contains("Scan ExistingRDD"), ps)
    }
    // Past the cap the gate must be the only broadcast source.
    val peBig = planNoAutoBroadcast(graft.queries.GraphOps.louvainContractMerged(
      gw, p1, graft.queries.GraphOps.maybeBroadcast(
        graft.queries.GraphOps.BroadcastRowCap + 1)))
    assert(!peBig.contains("BroadcastHashJoin"),
      "past-cap contraction still broadcasts the label frame")
  }

  test("q508/q509 (factored): the refinement's intra-community carve attaches labels through the gate") {
    import org.apache.spark.sql.functions._
    val gw = spark.range(0, 60)
      .select(greatest(col("id") % 13, (col("id") + 5) % 13).as("u"),
        least(col("id") % 13, (col("id") + 5) % 13).as("v"),
        (col("id") % 7 + 1L).as("sup"))
      .filter(col("u") =!= col("v")).localCheckpoint()
    val lbl = gw.select(col("u").as("n")).unionAll(gw.select(col("v").as("n")))
      .distinct()
      .select(col("n"), (col("n") % 3).as("com")).localCheckpoint()
    val p = planNoAutoBroadcast(graft.queries.GraphOps.intraEdges(
      gw, lbl, graft.queries.GraphOps.maybeBroadcast(13)))
    // Both endpoint label attachments ride the gated broadcast — the
    // corpus-sized edge frame never pre-shuffles below the cap, and
    // the carve is exchange-free (pure map-side filter after the
    // broadcasts).
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the intra carve pre-shuffled the edge frame below the cap\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val ex = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(ex == 0, s"expected an exchange-free carve, got $ex\n$p")
    val pBig = planNoAutoBroadcast(graft.queries.GraphOps.intraEdges(
      gw, lbl, graft.queries.GraphOps.maybeBroadcast(
        graft.queries.GraphOps.BroadcastRowCap + 1)))
    assert(!pBig.contains("BroadcastHashJoin"),
      "past-cap carve still broadcasts the label frame\n" + pBig)
  }

  test("q502: expansion scoring is broadcast-shaped end to end — no product, no corpus sort-merge") {
    val p = plan("q502_rm3_query_expansion")
    // Stage-2's token explode prunes against the broadcast dynamic term
    // set; df/weight/global frames broadcast onto the pruned tf table.
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"),
      "an RM3 join degraded to a cartesian\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "the corpus re-shuffled for a term/dim frame join\n" + p)
  }

  test("q503: probes broadcast onto capped buckets; the exact mirror is the only scan product") {
    val p = plan("q503_multiprobe_recall_sweep")
    // The 18 probe rows join the bucket table as a broadcast hash join.
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"),
      "probe join degraded to a cartesian\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "bucket table re-shuffled for the probe join\n" + p)
    // The deliberate exact-baseline top-10 rides per-partition heaps.
    assert(p.contains("TakeOrderedAndProject"), p)
  }
}
