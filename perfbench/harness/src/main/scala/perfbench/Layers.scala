package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer counters over one segment (an operation in a traced run, a whole
  * pass otherwise). Sums add across segments; `peak*` fields take the max. */
final class Counts {
  val v = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  def add(k: String, x: Double): Unit = v(k) = v(k) + x
  def max(k: String, x: Double): Unit = v(k) = math.max(v(k), x)
  def merge(o: Counts): Unit = o.v.foreach { case (k, x) =>
    if (k.contains("peak")) max(k, x) else add(k, x)
  }
}

/** Spark scheduler events, attached with `SparkContext.addSparkListener`.
  * Events are accumulated into `open` on the listener-bus thread; the
  * harness takes them with [[Layers.cut]] once a marker job has passed
  * through the same queue, so every event of the segment has arrived. */
final class TaskListener(full: Boolean) extends SparkListener {
  private var open = new Counts
  private val markerJobs = mutable.Set[Int]()
  private val markerStages = mutable.Set[Int]()
  private val doneTasks = mutable.Map[(Int, Int), Long]().withDefaultValue(0L)
  val markersSeen = new AtomicLong(0)
  // Conservation check: successful task-end events seen in completed
  // stages vs the tasks those stages declare.
  var taskEnds = 0L
  var declaredTasks = 0L

  def take(): Counts = synchronized { val c = open; open = new Counts; c }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val marker = Option(e.properties).exists(_.getProperty(Layers.MarkerProp) != null)
    if (marker) { markerJobs += e.jobId; markerStages ++= e.stageIds }
    else if (full) open.add("scheduler.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (markerJobs.remove(e.jobId)) markersSeen.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val done = doneTasks.remove((si.stageId, si.attemptNumber())).getOrElse(0L)
    if (si.failureReason.isEmpty) {
      declaredTasks += si.numTasks
      taskEnds += done
      if (full && !markerStages.contains(si.stageId)) open.add("scheduler.stages", 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason == org.apache.spark.Success) doneTasks((e.stageId, e.stageAttemptId)) += 1
    if (markerStages.contains(e.stageId)) return
    val m = e.taskMetrics
    val em = e.taskExecutorMetrics
    if (m != null) {
      open.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
    }
    if (em != null) {
      open.max("peak_unified_bytes",
        (em.getMetricValue("OnHeapExecutionMemory") +
          em.getMetricValue("OnHeapStorageMemory")).toDouble)
    }
    if (full) {
      open.add("scheduler.tasks", 1)
      if (m != null) {
        open.add("executor.run_s", m.executorRunTime / 1e3)
        open.add("executor.cpu_s", m.executorCpuTime / 1e9)
        open.add("executor.deser_s", m.executorDeserializeTime / 1e3)
        open.add("executor.gc_s", m.jvmGCTime / 1e3)
        open.max("executor.peak_exec_bytes", m.peakExecutionMemory.toDouble)
        val r = m.shuffleReadMetrics
        open.add("shuffle.read_bytes", (r.remoteBytesRead + r.localBytesRead).toDouble)
        open.add("shuffle.spill_bytes", m.diskBytesSpilled.toDouble)
        open.add("shuffle.fetch_wait_s", r.fetchWaitTime / 1e3)
      }
      if (em != null)
        open.max("blocks.peak_stored_bytes", em.getMetricValue("OnHeapStorageMemory").toDouble)
    }
  }
}

/** Catalyst phases of every SQL execution, from the planning tracker. */
final class PlanListener extends QueryExecutionListener {
  private var open = new Counts
  def take(): Counts = synchronized { val c = open; open = new Counts; c }
  private def record(qe: QueryExecution): Unit = synchronized {
    open.add("catalyst.executions", 1)
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ph.get(p).foreach(s => open.add(s"catalyst.${p}_s", s.durationMs / 1e3))
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
}

/** Micro-batch phases of every streaming query. Progress events of a
  * query precede its termination event on the stream queue, so a segment
  * is complete once every started query has reported its termination. */
final class StreamListener extends StreamingQueryListener {
  private var open = new Counts
  private val triggers = mutable.ArrayBuffer[Double]()
  val started = new AtomicLong(0)
  val terminated = new AtomicLong(0)

  /** Returns the segment's counts and its trigger durations (ms). */
  def take(): (Counts, Seq[Double]) = synchronized {
    val c = open
    val t = triggers.toList
    open = new Counts; triggers.clear()
    (c, t)
  }
  override def onQueryStarted(e: QueryStartedEvent): Unit = { started.incrementAndGet(); () }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = { terminated.incrementAndGet(); () }
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs.asScala
    if (d.contains("addBatch")) {
      open.add("streaming.batches", 1)
      d.get("triggerExecution").foreach(x => triggers += x.toDouble)
      open.add("streaming.addbatch_s", d("addBatch") / 1e3)
      d.get("walCommit").foreach(x => open.add("streaming.walcommit_s", x / 1e3))
      d.get("commitOffsets").foreach(x => open.add("streaming.commitoffsets_s", x / 1e3))
    }
  }
}

/** Counters read directly on the calling thread: generated-code compiles,
  * local file-system bytes, JVM GC and JIT time. */
object Gauges {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = ManagementFactory.getCompilationMXBean

  private def localFs: Seq[org.apache.hadoop.fs.FileSystem.Statistics] =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.toSeq
      .filter(_.getScheme == "file"): @annotation.nowarn("cat=deprecation")

  def read(): Map[String, Double] = {
    val fs = localFs
    Map(
      "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      SourceMean -> CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getSnapshot.getMean,
      "io.written_bytes" -> fs.map(_.getBytesWritten).sum.toDouble,
      "io.read_bytes" -> fs.map(_.getBytesRead).sum.toDouble,
      "jvm.gc_s" -> gcBeans.map(_.getCollectionTime).sum / 1e3,
      "jvm.jit_s" -> jit.getTotalCompilationTime / 1e3)
  }

  private val SourceMean = "codegen.source_mean"

  def delta(a: Map[String, Double], b: Map[String, Double]): Counts = {
    val c = new Counts
    b.foreach { case (k, x) => if (k != SourceMean) c.add(k, x - a(k)) }
    // Spark's source-size histogram keeps a decaying sample, not a sum: the
    // segment's compiles times the sample mean at its end is an estimate.
    c.add("codegen.source_bytes", c.v("codegen.compiles") * b(SourceMean))
    c
  }
}

/** The listeners of one run and the segment cut that reads them. */
final class Layers(spark: SparkSession, full: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  val tasks = new TaskListener(full)
  val plans: Option[PlanListener] = if (full) Some(new PlanListener) else None
  val streams: Option[StreamListener] = if (full) Some(new StreamListener) else None
  private var markersSent = 0L
  private var gauges = Gauges.read()

  sc.addSparkListener(tasks)
  plans.foreach(l => spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .listenerManager.register(l))
  streams.foreach(l => spark.streams.addListener(l))

  /** Closes the current segment: runs a one-task marker job, waits until
    * the listeners have seen every event up to it, and returns the
    * segment's counts plus its trigger durations. */
  def cut(): (Counts, Seq[Double]) = {
    sc.setLocalProperty(Layers.MarkerProp, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Layers.MarkerProp, null)
    markersSent += 1
    Layers.await("scheduler events", tasks.markersSeen.get >= markersSent)
    streams.foreach(s => Layers.await("streaming events", s.terminated.get >= s.started.get))
    val c = tasks.take()
    plans.foreach(p => c.merge(p.take()))
    val trig = streams.map { s => val (sc2, t) = s.take(); c.merge(sc2); t }.getOrElse(Nil)
    if (full) {
      val g = Gauges.read()
      c.merge(Gauges.delta(gauges, g))
      gauges = g
    }
    (c, trig)
  }
}

object Layers {
  val MarkerProp = "perfbench.marker"

  def await(what: String, cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!cond) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(1)
    }
  }
}
