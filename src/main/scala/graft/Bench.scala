package graft

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":...,"queries":{...}}. The driver runs
  * this per-round at sf0.1 → BENCH_r{N}.json (BASELINE.md anchor).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM/codegen once so per-query numbers measure the engine,
    // not first-call classloading. Warms against the BENCHED data dir —
    // entry()'s fixed sf0.001 path may not exist on a foreign host, and
    // a silently failed warm-up would inflate the first query's cold time.
    try graft.queries.Relational.q06.run(spark, sfDir).count()
    catch { case scala.util.control.NonFatal(_) => () }
    // Measure via a noop sink, not count(): under a count() Catalyst may
    // eliminate final sorts and unreferenced projections (q15's
    // TakeOrderedAndProject, q01's global sort), under-measuring
    // output-side work. The noop sink consumes every row of every column.
    //
    // Each query is timed twice: cold (includes per-query Catalyst
    // analysis + whole-stage codegen compile, and what `value` totals)
    // and warm (steady state — the number that scales to a long-running
    // cluster, where planning amortizes to nothing against 100 TB of
    // IO). Since the session's codegen cache holds 4000 classes
    // (GraftSession), a cold run can also reuse generated classes an
    // EARLIER query compiled from the same source, if the LRU has not
    // evicted them; with Spark's default 100 it reused almost none.
    // So cold totals from before that change are not like-for-like:
    // part of the cold drop is class reuse across queries, not a faster
    // engine. compiles_cold in the detail line says how much each cold
    // run still compiled.
    // A failed query must not masquerade as a fast one: a heavy query
    // that starts failing FAST would otherwise LOWER the baseline-
    // compared total, making a regression read as an improvement. So the
    // headline "value"/"total_warm" sum ONLY successful runs; failed
    // names land in "errors" and their time-to-failure is kept separately
    // in "failed_secs" for diagnosis. An empty errors list is the
    // bench's all-green signal — and the only state where "value" is
    // comparable to prior rounds.
    val errors = scala.collection.mutable.LinkedHashSet[String]()
    // Pressure instrumentation (round-6: BENCH_r05 recorded 3–12× swings
    // on unchanged code, adjudicated as shared-heap pressure): per-query
    // GC time is measured alongside wall time, so a pressure-inflated
    // number is VISIBLE in the artifact instead of indistinguishable
    // from a plan regression. Between queries the cache is cleared —
    // one query's leaked persisted block must never tax the next one's
    // measurement.
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    // Round-7 adjudication instrumentation: BENCH_r06 still disagreed
    // 2–6× with same-round adjudication runs on four unchanged queries,
    // and the GC gauge proved heap innocent (gc_cold 2.2 s total). The
    // remaining suspects are only distinguishable with per-query
    // PROCESS-CPU time beside wall: a query whose cpu/wall ratio matches
    // its adjudicated run but whose wall stretched is being descheduled
    // (CPU contention from outside the JVM — pressure, not plan); a
    // query whose cpu ALSO inflated did real extra work (JIT deopt /
    // cache-state-dependent plan — engine, investigate). System load
    // average before each query catches the neighbor directly.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def cpuNanos(): Long = osBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }
    /** Kernel page-cache size in GiB — whether the parquet under test is
      * memory-resident is THE cold-vs-warm IO variable local[32] can't
      * see from inside the JVM. */
    def cachedGb(): Double =
      try {
        val src = scala.io.Source.fromFile("/proc/meminfo")
        try src.getLines().collectFirst {
          case l if l.startsWith("Cached:") =>
            l.split("\\s+")(1).toDouble / 1048576.0
        }.getOrElse(-1.0)
        finally src.close()
      } catch { case scala.util.control.NonFatal(_) => -1.0 }
    /** JIT code-cache occupancy in MiB, summed across the segmented
      * CodeHeap pools — the round-9 warm-CPU-anomaly gauge. Three
      * full-run queries (q101/q103/q310) burned 8–15× their fresh-JVM
      * warm CPU in the r09 official detail while reproducing at normal
      * cost in every fresh-JVM subset run: the signature of a FULL code
      * cache (the JIT silently stops compiling and freshly-generated
      * whole-stage-codegen classes run interpreted — pure extra CPU, no
      * extra wall under load, invisible to the GC and load gauges).
      * Recording occupancy beside every query makes that state readable
      * from the committed artifact. */
    def codeCacheMb(): Double =
      try java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith("CodeHeap"))
        .map(_.getUsage.getUsed).sum / 1048576.0
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    /** Metaspace occupancy in MiB — where the generated classes
      * themselves live. Read beside codeCacheMb and the compile count:
      * the session's codegen cache (GraftSession) holds thousands of
      * classes alive, so both gauges must stay bounded over a full run. */
    def metaspaceMb(): Double =
      try java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName == "Metaspace")
        .map(_.getUsage.getUsed).sum / 1048576.0
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    /** Generated classes compiled so far in this JVM (Spark's codegen
      * compile histogram; a cache hit does not count). */
    def compiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    final case class Meas(wall: Double, ok: Boolean, gc: Double,
        cpu: Double, load: Double, cached: Double, ccMb: Double,
        compiled: Long, metaMb: Double)
    def run(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
        recordErr: Boolean = true): Meas = {
      spark.catalog.clearCache()
      // r13: clearCache() only drops CATALOG-cached relations; frames a
      // query localCheckpoints outside a graft.Frames scope live in the
      // BlockManager until the RDD object is GC'd (measured before the
      // GraphOps loops moved to Frames: the q507–q509 warm runs read
      // consistently SLOWER than their colds under the accumulation).
      // Same isolation rationale as the clearCache above, extended to
      // RDD blocks — the measured query still pays for every block it
      // creates itself.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      val load0 = osBean.getSystemLoadAverage
      val cache0 = cachedGb()
      val c0 = cpuNanos()
      val g0 = gcMillis()
      val k0 = compiles()
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
        catch { case scala.util.control.NonFatal(_) =>
          if (recordErr) errors += name
          false }
      Meas((System.nanoTime() - t0) / 1e9, ok, (gcMillis() - g0) / 1e3,
        if (c0 < 0) -1.0 else (cpuNanos() - c0) / 1e9, load0, cache0,
        codeCacheMb(), compiles() - k0, metaspaceMb())
    }
    // Optional subset (comma-separated name prefixes, same contract as
    // Verify's third arg) — e.g. SPARK_GRAFT_QUERIES=q24,q59 for the
    // scale-curve smoke. Unset = the full contract (driver mode).
    // An EMPTY/blank value means "no subset" (full contract), same as
    // unset — an empty prefix list must never silently select zero
    // queries and print an all-green 0-second bench.
    val prefixes = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    def selected(name: String): Boolean =
      prefixes.forall(_.exists(name.startsWith))
    // Execution ORDER is part of the methodology: the q01–q23 anchor set
    // runs FIRST, on the freshest possible JVM — exactly the conditions
    // the round-1 anchor was recorded under, when those 23 were the whole
    // contract. Plain lexicographic order had drifted q14 to AFTER the
    // q103/q126/q138 heavies as the contract grew past 300 queries, so
    // the anchor subtotal silently absorbed 340 queries of accumulated
    // JVM state (BENCH_r05's 12.98 s q14 vs the 0.17 s anchor). Everything
    // after the anchors stays in name order for reproducibility.
    def anchorFirst(name: String): (Int, String) = {
      val short = name.takeWhile(_ != '_')
      (if (short.length == 3 && short.drop(1).forall(_.isDigit)
           && short.drop(1).toInt <= 23) 0 else 1, name)
    }
    final case class QRes(name: String, cold: Meas, warm: Meas) {
      def ok: Boolean = cold.ok && warm.ok
    }
    val results = SparkEntry.queries.toSeq.sortBy(r => anchorFirst(r._1))
        .filter(r => selected(r._1)).map { case (name, fn) =>
      QRes(name, run(name, fn), run(name, fn))
    }
    def jmap[V](sel: Seq[(String, V)]): String =
      sel.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val good = results.filter(_.ok)
    val qs = jmap(good.map(r => r.name -> r.cold.wall))
    val qw = jmap(good.map(r => r.name -> r.warm.wall))
    val qg = jmap(good.map(r => r.name -> r.cold.gc))
    val qc = jmap(good.map(r => r.name -> r.cold.cpu))
    val qcw = jmap(good.map(r => r.name -> r.warm.cpu))
    val ql = jmap(good.map(r => r.name -> r.cold.load))
    val qm = jmap(good.map(r => r.name -> r.cold.cached))
    // Code-cache occupancy AFTER each query's warm run (MiB) — read
    // together with the reserve below: occupancy within ~10% of the
    // reserve at the point a query's warm CPU blows up is the code-
    // cache-full signature (see codeCacheMb's doc).
    val qcc = jmap(good.map(r => r.name -> r.warm.ccMb))
    // Generated classes compiled inside each cold/warm run, and
    // metaspace occupancy after the warm run (MiB): a warm run that
    // still compiles is missing the codegen cache.
    val qk = jmap(good.map(r => r.name -> r.cold.compiled))
    val qkw = jmap(good.map(r => r.name -> r.warm.compiled))
    val qms = jmap(good.map(r => r.name -> r.warm.metaMb))
    val ccReserveMb =
      try java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith("CodeHeap"))
        .map(_.getUsage.getMax).sum / 1048576.0
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    // Time of the run that actually FAILED (the cold one if both did) —
    // not the other run's duration, which would misdirect diagnosis.
    val failedSecs = jmap(results.filterNot(_.ok)
      .map(r => r.name -> (if (!r.cold.ok) r.cold.wall else r.warm.wall)))
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = good.map(_.cold.wall).sum
    val totalWarm = good.map(_.warm.wall).sum
    val gcCold = good.map(_.cold.gc).sum
    val gcWarm = good.map(_.warm.gc).sum
    val cpuCold = good.map(_.cold.cpu).sum
    val cpuWarm = good.map(_.warm.cpu).sum
    // Full-precision detail line (full query names; cold + warm wall,
    // GC, process-CPU, pre-query load average and page-cache GiB) — for
    // local diagnosis; too long for the driver's capture window.
    // Self-adjudicating retries (round-9 verdict ask #7: the official
    // artifact should settle its own wall swings instead of needing a
    // per-round adjudication table). Three pathologies get an automatic
    // third run at the END of the bench, recorded separately:
    //  - STALLED (wall ≫ cpu): the process was descheduled by neighbor
    //    load — the retry under the then-current load bounds the plan's
    //    true cost from above;
    //  - CPU-ANOMALOUS (warm cpu > 3× cold cpu and > 15 s): real extra
    //    compute appeared between two runs of identical code — the r09
    //    trio signature; the retry (plus the code-cache gauge) says
    //    whether the state persisted;
    //  - COLD-OUTLIER (cold wall > 3× its committed idle-host record):
    //    cold inflation that slips past both gauges — see the
    //    BENCH_REF.json block below.
    // "adjudicated_total" = cold total with each retried query's wall
    // replaced by min(cold, retry) — the number to read when the
    // headline total moved on a loaded host. Only SUCCESSFUL retries
    // participate (a fast-failing retry must not deflate the total).
    // COLD-outlier reference (round-10 verdict ask #6: the warm-cpu
    // trigger below self-adjudicates warm anomalies, but COLD-run
    // inflation — the r10 official artifact's q320 at 513 cpu-s cold vs
    // 28 idle — passed straight into adj_total). The committed
    // idle-host per-query record (regenerated per round from the local
    // detail run) gives every query a load-free cold wall to compare
    // against; a cold wall past 3× its record is a loaded-host artifact
    // candidate and earns the same end-of-run retry. Records are PER
    // SCALE FACTOR (round-11 verdict ask #5 — the sf1 official run had
    // only the warm/stall triggers): the bench picks
    // `BENCH_REF_<sfbase>.json` first (sfbase = the sf dir's last path
    // segment, e.g. sf1), then the legacy `BENCH_REF.json`, keeping the
    // first whose recorded sf matches THIS run's sf by basename
    // (basename, not full path — the same records must apply when the
    // data dir moves hosts). A missing/unreadable/mismatched file just
    // disables this trigger (best-effort — the bench must run on a bare
    // checkout of the jar alone), and the detail line records which
    // tier was armed via "ref_applied"/"ref_file" so an artifact reader
    // knows whether cold inflation could self-adjudicate.
    def sfBaseOf(p: String): String =
      p.split('/').filter(_.nonEmpty).lastOption.getOrElse(p)
    val sfBase = sfBaseOf(sfDir)
    def readRef(path: String): Option[(Map[String, Double], String)] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
        // Flat-map contract: a nested JSON (e.g. a committed detail file,
        // whose queries_warm/cpu_cold_secs maps reuse the same qNN keys)
        // would let the global regex silently replace cold-wall records
        // with warm/cpu values — refuse anything with a second '{'.
        if (txt.indexOf('{', txt.indexOf('{') + 1) >= 0) None
        else {
          val walls = "\"(q[^\"]+)\":([0-9.eE+-]+)".r.findAllMatchIn(txt)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
          "\"sf\":\"([^\"]+)\"".r.findFirstMatchIn(txt)
            .map(m => (walls, m.group(1)))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    val refCandidates = sys.env.get("SPARK_GRAFT_BENCH_REF").map(Seq(_))
      .getOrElse(Seq(s"BENCH_REF_$sfBase.json", "BENCH_REF.json"))
    val refPick = refCandidates.iterator
      .flatMap(p => readRef(p).map(p -> _))
      .find { case (_, (_, recSf)) => sfBaseOf(recSf) == sfBase }
    val refWalls = refPick.map(_._2._1).getOrElse(Map.empty[String, Double])
    val refApplies = refPick.isDefined
    val refFile = refPick.map(_._1).getOrElse("")
    val retryCands = good.filter(r =>
        (r.cold.wall > 2.0 && r.cold.cpu >= 0 && r.cold.wall > 1.5 * r.cold.cpu) ||
        (r.warm.cpu > 15.0 && r.cold.cpu > 0 && r.warm.cpu > 3.0 * r.cold.cpu) ||
        (refApplies && r.cold.wall > 2.0 &&
          refWalls.get(r.name).exists(rec => r.cold.wall > 3.0 * rec)) ||
        // r13 (round-12 verdict ask #1): the 3x trigger let 1.5-2.9x
        // inflation through on dozens of heavies in the contaminated
        // r12 artifact — for queries with a substantial idle record
        // (> 2 s), 2x the record is already a loaded-host signature
        // worth settling. Additive: more retries, same methodology.
        (refApplies &&
          refWalls.get(r.name).exists(rec => rec > 2.0 && r.cold.wall > 2.0 * rec)))
      .sortBy(r => -(r.cold.wall)).take(16)
    // recordErr=false: a retry is diagnostic only — a flaky failure here
    // must not flip an all-green bench into an errored one.
    val retries = retryCands.map(r =>
      r.name -> run(r.name, SparkEntry.queries(r.name), recordErr = false))
    // Only SUCCESSFUL retries adjudicate: a retry that fails fast would
    // contribute a near-zero wall and silently deflate adj_total — the
    // exact headline the docs say to read on a loaded host. Failed
    // retries are named in retry_failed instead of folded into any sum.
    val okRetries = retries.filter(_._2.ok)
    val retryMap = okRetries.toMap
    val retryFailed = retries.collect { case (n, m) if !m.ok => "\"" + n + "\"" }
      .mkString("[", ",", "]")
    val qr = jmap(okRetries.map { case (n, m) => n -> m.wall })
    val qrc = jmap(okRetries.map { case (n, m) => n -> m.cpu })
    val adjudicatedTotal = good.map(r =>
      retryMap.get(r.name).map(m => math.min(r.cold.wall, m.wall))
        .getOrElse(r.cold.wall)).sum
    val detail = s"""{"metric":"detail","value":$total,"unit":"sec","queries":$qs,"total_warm":$totalWarm,"queries_warm":$qw,"gc_cold_secs":$qg,"cpu_cold_secs":$qc,"cpu_warm_secs":$qcw,"load_before":$ql,"cached_gb_before":$qm,"codecache_mb_after":$qcc,"codecache_reserve_mb":$ccReserveMb,"compiles_cold":$qk,"compiles_warm":$qkw,"metaspace_mb_after":$qms,"queries_retry":$qr,"cpu_retry_secs":$qrc,"retry_failed":$retryFailed,"adjudicated_total":$adjudicatedTotal,"ref_applied":$refApplies,"ref_file":"$refFile","errors":$errs,"failed_secs":$failedSecs,"sf":"$sfDir"}"""
    println(detail)
    // Self-adjudication (round-7 ask #1): the detail line ALSO lands in
    // a file that survives the capture window, so every headline wall
    // second has its process-CPU/GC/load context recoverable from a
    // committed artifact instead of from prose. Path override via
    // SPARK_GRAFT_DETAIL_OUT; default = BENCH_DETAIL_latest.json in the
    // working directory (the repo root under both the driver and local
    // runs). Best-effort — a read-only cwd must not fail the bench.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL_OUT",
      "BENCH_DETAIL_latest.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
        (detail + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case scala.util.control.NonFatal(_) => () }
    // Final line is the one the driver parses, and it only keeps the LAST
    // ~2000 chars of output (BENCH_r03.json's tail cut the r3 line mid-key
    // → parsed:null). So the headline line must stay compact: per-query
    // keys are the unique qNN prefix (q01_scan_project_lit → "q01"; scheme
    // documented in BASELINE.md), values rounded to ms — AND the map is
    // budgeted: past ~170 queries even the short form outgrows the
    // window, so the line keeps the SLOWEST entries that fit in ~1.4 KB
    // and counts the rest in "omitted" (their times are still in the
    // detail line and inside the totals). A head-truncated line parses
    // as nothing; a truncated MAP still parses as a valid benchmark.
    def short(name: String): String = name.takeWhile(_ != '_')
    def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // The q01–q23 anchor set (BASELINE.md's band is recomputed from the
    // captured line) is kept unconditionally and first — a sub-median
    // anchor query must never fall into "omitted" or the captured file
    // can't reproduce the anchor subtotal. Everything else packs
    // slowest-first into what remains of the budget.
    val anchorKeys = (1 to 23).map(i => f"q$i%02d").toSet
    val (anchor, rest) = good.partition(r => anchorKeys(short(r.name)))
    val ordered = (anchor.sortBy(-_.cold.wall) ++ rest.sortBy(-_.cold.wall))
      .map(r => "\"" + short(r.name) + "\":" + r3(r.cold.wall))
    // "stalled": the headline's pressure-naming field — among queries
    // with cold wall > 2 s, the worst wall-to-CPU-bound offenders as
    // name:[wall,cpu]. A local[32] query doing real work keeps
    // cpu ≥ wall (≥1 busy core plus change); wall ≫ cpu means the
    // process was WAITING (descheduled under neighbor CPU load, or
    // blocked on IO with a cold page cache) — the artifact itself now
    // names the queries whose numbers should not be read as plan cost.
    val stalled = good
      .filter(r => r.cold.wall > 2.0 && r.cold.cpu >= 0
        && r.cold.wall > 1.5 * r.cold.cpu)
      .sortBy(r => -(r.cold.wall - r.cold.cpu)).take(8)
      .map(r => "\"" + short(r.name) + "\":[" + r3(r.cold.wall) + "," +
        r3(r.cold.cpu) + "]")
      .mkString("{", ",", "}")
    // The errors array shares the same ~2 KB capture window as the map:
    // budget it too (a mass failure would otherwise head-truncate the
    // line exactly when the error signal matters), and shrink the map
    // budget by whatever the errors actually used.
    val errKept = scala.collection.mutable.ListBuffer[String]()
    var errUsed = 0
    errors.foreach { e =>
      val q = "\"" + e + "\""
      if (errUsed + q.length + 1 <= 400) { errKept += q; errUsed += q.length + 1 }
    }
    val errsBudgeted = errKept.mkString("[", ",", "]")
    val errsOmitted = errors.size - errKept.length
    // Per-family cold subtotals (round-7 ask #8): the q01–q23 anchor is
    // ~5% of a 460-query run, so a regression inside one module family
    // must be readable from the captured headline alone. Families come
    // from SparkEntry's module registry; each costs ~14 chars, paid for
    // by shrinking the per-query map budget below — the line's total
    // length envelope stays what survived r07's capture window.
    val famOf = SparkEntry.families
    val famTotals = good.groupBy(r => famOf.getOrElse(r.name, "other"))
      .toSeq.sortBy(_._1)
      .map { case (f, rs) => "\"" + f + "\":" + r3(rs.map(_.cold.wall).sum) }
      .mkString("{", ",", "}")
    val budget = math.max(0, 1400 - errsBudgeted.length - famTotals.length)
    val kept = scala.collection.mutable.ListBuffer[String]()
    var used = 0
    ordered.foreach { e =>
      if (used + e.length + 1 <= budget) { kept += e; used += e.length + 1 }
    }
    val omitted = ordered.length - kept.length
    val qsShort = kept.mkString("{", ",", "}")
    // gc_cold/gc_warm: total seconds the JVM spent in GC inside the
    // cold/warm measurement windows — the headline's pressure gauge. A
    // high total with low GC is real plan cost; a high total with
    // comparable GC is heap pressure, not a regression.
    // cpu_cold/cpu_warm: total process-CPU seconds inside the cold/warm
    // windows. With value ≈ cpu/parallelism the run was compute-bound;
    // value ≫ cpu means the process spent the round waiting — read
    // "stalled" for the per-query breakdown before calling any number a
    // plan regression.
    // adj_total: the self-adjudicated cold total (stalled/cpu-anomalous
    // queries re-run at end-of-bench, min(cold, retry) summed — see the
    // detail's queries_retry). cc_mb/cc_reserve_mb: final code-cache
    // occupancy vs reserve (occupancy at ~reserve = JIT stopped
    // compiling; see codeCacheMb's doc).
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","adj_total":${r3(adjudicatedTotal)},"queries":$qsShort,"omitted":$omitted,"families":$famTotals,"total_warm":${r3(totalWarm)},"gc_cold":${r3(gcCold)},"gc_warm":${r3(gcWarm)},"cpu_cold":${r3(cpuCold)},"cpu_warm":${r3(cpuWarm)},"cc_mb":${r3(codeCacheMb())},"cc_reserve_mb":${r3(ccReserveMb)},"stalled":$stalled,"errors":$errsBudgeted,"errors_omitted":$errsOmitted,"sf":"$sfDir"}""")
    spark.stop()
  }
}
