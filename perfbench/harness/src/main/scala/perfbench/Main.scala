package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.etl.TaxiEtl

/** One operation of a workload: a query, or the taxi ETL job. */
sealed trait Op { def name: String }
final case class QueryOp(name: String, run: (SparkSession, String) => DataFrame,
    oracle: String) extends Op
case object EtlOp extends Op { val name = "taxi_etl" }

object Workloads {
  private val etlBatch = Seq("q06", "q08", "q24", "q278", "q329")
  private val graphLoop = Seq("q495")
  private val streamWrite = Seq("q375")

  def apply(name: String): Seq[Op] = {
    val runs = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    def query(id: String): Op = {
      val full = runs.keys.filter(_.startsWith(id + "_")).toSeq match {
        case Seq(n) => n
        case other => sys.error(s"query id $id matches ${other.size} queries")
      }
      QueryOp(full, runs(full),
        oracles.getOrElse(full, sys.error(s"$full has no oracle SQL")))
    }
    name match {
      case "etl-batch" => etlBatch.map(query)
      case "graph-loop" => graphLoop.map(query)
      case "stream-write" => streamWrite.map(query) :+ EtlOp
      case other => sys.error(s"unknown workload $other")
    }
  }
}

/** Runs one workload in one JVM and writes its raw measurements as JSON.
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir>
  *     <workDir> <resultJson> <launchEpochNanos> <cores>
  *
  * Passes, in order: the first pass (timed on its own), one check pass
  * whose outputs the caller compares with the DuckDB oracle (it is also
  * the warm-up), then `seconds` / [[Main.SecondsPerPass]] timed passes (at
  * least three). Every pass runs every operation once, in the order the seed
  * fixes. A pass's time is the sum of its operations' wall times; the
  * sweep of leftover cached frames between operations is not timed.
  */
object Main {
  /** An operation's wall times; `start` is a System.nanoTime reading. */
  final case class OpTime(start: Long, build: Double, readout: Double, etl: Double) {
    def total: Double = build + readout + etl
  }
  final case class Span(pass: Int, op: String, id: String, t: OpTime,
      liveAfter: Int, counts: Counts, error: Option[String])

  val EtlTs = "2022-01-01 00:00:00"
  val EtlOut = 2
  /** Nominal seconds per timed pass: `seconds` / this gives the count. */
  val SecondsPerPass = 3.0

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, data, work, result, launchS, cores) = args
    val trace = traceS == "1"
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(cores)
      .config("spark.executor.metrics.pollingInterval", "50ms")
      .getOrCreate()
    val createS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    // Open the inputs: read every table's footer once.
    Files.list(Paths.get(data)).toArray.map(_.toString).sorted
      .filter(_.endsWith(".parquet")).foreach(p => spark.read.parquet(p).schema)
    val ready = java.time.Instant.now()
    val setupS = (ready.getEpochSecond * 1000000000L + ready.getNano - launchS.toLong) / 1e9
    val ops = new scala.util.Random(seedS.toLong).shuffle(Workloads(workload))
    val layers = new Layers(spark, trace)

    val spans = mutable.ArrayBuffer[Span]()
    var attempted = 0
    var failed = 0
    val errors = mutable.LinkedHashSet[String]()

    def sweep(): Int = {
      val live = spark.sparkContext.getPersistentRDDs.size
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      live
    }

    /** Runs one operation; `check` writes its output for the oracle. */
    def runOp(op: Op, check: Option[String]): OpTime = op match {
      case QueryOp(name, run, _) =>
        val a = System.nanoTime()
        val df = run(spark, data)
        val b = System.nanoTime()
        check match {
          case Some(dir) => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
          case None => df.write.mode("overwrite").format("noop").save()
        }
        OpTime(a, (b - a) / 1e9, (System.nanoTime() - b) / 1e9, 0.0)
      case EtlOp =>
        val out = check.map(_ + "/taxi_etl").getOrElse(s"$work/etl_out")
        val a = System.nanoTime()
        val n = TaxiEtl.run(spark, data, out, EtlTs, EtlOut)
        val s = (System.nanoTime() - a) / 1e9
        if (check.nonEmpty) Files.writeString(Paths.get(s"$out.rows"), n.toString)
        OpTime(a, 0.0, 0.0, s)
    }

    /** One pass over all operations; returns its time and layer counts. */
    def pass(idx: Int, check: Option[String]): (Double, Counts, Seq[Double]) = {
      val total = new Counts
      val trig = mutable.ArrayBuffer[Double]()
      var wall = 0.0
      ops.zipWithIndex.foreach { case (op, i) =>
        attempted += 1
        val (t, err) =
          try (runOp(op, check), None)
          catch { case NonFatal(e) =>
            failed += 1
            errors += s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
            (OpTime(System.nanoTime(), 0, 0, 0), Some(e.getClass.getSimpleName))
          }
        wall += t.total
        println(f"pass $idx%d ${op.name}%s ${t.total}%.3f s")
        total.add("queries.build_s", t.build)
        total.add("queries.readout_s", t.readout)
        total.add("etl.run_s", t.etl)
        if (trace) {
          val live = sweep()
          total.add("blocks.live_after", live)
          val (c, tr) = layers.cut()
          total.merge(c)
          trig ++= tr
          spans += Span(idx, op.name, s"$idx.$i", t, live, c, err)
        } else sweep()
      }
      if (!trace) {
        val (c, tr) = layers.cut()
        total.merge(c)
        trig ++= tr
      }
      println(f"pass $idx%d total $wall%.3f s")
      (wall, total, trig.toSeq)
    }

    val checkDir = s"$work/check"
    val first = pass(0, None)
    pass(1, Some(checkDir))
    // The count of timed passes follows from the argument alone, never
    // from measured speed, so both sides of a comparison run the same.
    val nTimed = math.max(3, math.round(secondsS.toDouble / SecondsPerPass).toInt)
    val timed = (0 until nTimed).map(i => pass(2 + i, None))
    spark.stop()

    def counts(c: Counts, triggers: Seq[Double]): Map[String, Any] =
      c.v.toMap + ("triggers_ms" -> triggers)
    // One span per operation, with child spans for the calls into the
    // program; times are seconds since the session was requested.
    def at(ns: Long) = (ns - t0) / 1e9
    def spanJson(s: Span): Seq[Map[String, Any]] = {
      val begin = at(s.t.start)
      val op = Map[String, Any]("id" -> s.id, "span" -> "operation", "op" -> s.op,
        "pass" -> s.pass, "start_s" -> begin, "end_s" -> (begin + s.t.total),
        "live_after" -> s.liveAfter, "counts" -> counts(s.counts, Nil)) ++
        s.error.map("error" -> _)
      val parts = Seq("queries.build" -> s.t.build, "queries.readout" -> s.t.readout,
        "etl.run" -> s.t.etl).filter(_._2 > 0)
      val kids = parts.scanLeft(("", begin, begin)) { case ((_, _, end), (name, d)) =>
        (name, end, end + d)
      }.tail.map { case (name, a, b) =>
        Map[String, Any]("id" -> s"${s.id}.$name", "span" -> name, "parent" -> s.id,
          "start_s" -> a, "end_s" -> b)
      }
      op +: kids
    }
    val out = Map[String, Any](
      "setup_s" -> setupS, "session_create_s" -> createS, "first_pass_s" -> first._1,
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "ops" -> ops.map(_.name),
      "oracle" -> ops.collect { case q: QueryOp => q.name -> q.oracle }.toMap,
      "etl_files" -> EtlOut, "etl_ts" -> EtlTs,
      "first" -> counts(first._2, first._3),
      "passes" -> timed.map { case (w, c, t) => counts(c, t) + ("pass_s" -> w) }) ++
      (if (trace) Map("task_ends" -> layers.tasks.taskEnds,
        "declared_tasks" -> layers.tasks.declaredTasks,
        "spans" -> spans.toSeq.flatMap(spanJson)) else Map.empty)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(result), mapper.writeValueAsString(out))
  }
}
