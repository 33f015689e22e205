package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructType}

/** Shared scaffold for the streaming verification harnesses
  * (EventIngest-style drained runs): stages the events fixture into a
  * watched dir, builds the file-source stream with the ONE shared
  * nanos→micros ts conversion (Tables.nanosTsToMicros — three hand
  * copies of that expression is how stream/batch parity breaks), drains
  * to an append-only parquet sink with AvailableNow, and reads the sink
  * back empty-safely (a run that emits nothing commits only
  * _spark_metadata, which plain spark.read.parquet can't infer a schema
  * from — the harness remembers the sink schema instead of crashing).
  * All Files.list streams are closed (fd hygiene for long-lived
  * drivers), and staged input copies are deletable once drained.
  */
private[streaming] object StreamHarness {
  /** See the instance method's doc — usable by harnesses that don't
    * stage through a StreamHarness (EventIngest's memory-sink run).
    * Delegates to the one shared conf-pinning idiom (graft.Confs). */
  def withStreamingPartitions[T](spark: SparkSession, n: Int)(f: => T): T =
    graft.Confs.withShufflePartitions(spark, n)(f)

  /** [[withStreamingPartitions]] at the width derived from the row
    * census of the table the stream consumes ([[graft.Confs.derivedWidth]],
    * floor 4): the width a streaming query fixes at first start must
    * track STATE volume, for which the staged input's row count is the
    * natural upper-bound proxy. At fixture scale this resolves to the
    * floor; at 100 TB feed rates it scales to the session (cluster)
    * width. */
  def withDerivedStreamingPartitions[T](spark: SparkSession, rows: Long)(
      f: => T): T =
    withStreamingPartitions(spark, graft.Confs.derivedWidth(spark, rows, 4))(f)

  /** Stage a named feed into a stream inbox as one parquet file per
    * name, in ONE Spark job (union partitioned by a feed-name column)
    * instead of one coalesce(1) write job per name (r13 — the staging
    * epilogue was paying a source scan + write-commit round trip per
    * file). File mtimes are set strictly increasing in feed order so
    * the file source's oldest-first (mtime) ordering delivers
    * micro-batches exactly as the old sequential writes did — the
    * CDC feeds' upserts-before-tombstones contract rides on that
    * order. A slice that produced no rows (possible at tiny fixtures;
    * partitionBy writes no dir for it) falls back to its own
    * coalesce(1) write so the inbox always carries one file per name,
    * preserving the old batch numbering. */
  def stageFeedFiles(inDir: String, stageRoot: String,
      feed: Seq[(String, DataFrame)]): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    require(feed.nonEmpty, "empty feed")
    val stage = s"$stageRoot/__feed_stage"
    feed.map { case (n, df) => df.withColumn("__feed", lit(n)) }
      .reduce(_ unionByName _)
      .repartition(col("__feed"))
      .write.partitionBy("__feed").parquet(stage)
    val base = System.currentTimeMillis() - feed.size * 1000L
    feed.zipWithIndex.foreach { case ((n, df), i) =>
      val dst = Paths.get(s"$inDir/$n.parquet")
      val dir = Paths.get(s"$stage/__feed=$n")
      val moved = Files.isDirectory(dir) && {
        val ls = Files.list(dir)
        val part =
          try ls.filter(_.toString.endsWith(".parquet")).findFirst
          finally ls.close()
        if (part.isPresent) { Files.move(part.get, dst); true } else false
      }
      if (!moved) {
        val solo = s"$stageRoot/__feed_solo_$i"
        df.coalesce(1).write.parquet(solo)
        val ls = Files.list(Paths.get(solo))
        try ls.filter(_.toString.endsWith(".parquet")).findFirst.ifPresent { p =>
          Files.move(p, dst)
          ()
        }
        finally ls.close()
        graft.Fs.deleteTree(solo)
      }
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
      ()
    }
    graft.Fs.deleteTree(stage)
  }
}

private[streaming] final class StreamHarness(
    val spark: SparkSession, sfDir: String, copies: Int, tag: String) {

  private val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_" +
    java.util.UUID.randomUUID.toString.replace("-", "")
  val inDir = s"$tmp/in"
  private val outDir = s"$tmp/out"
  private val ckpt = s"$tmp/ckpt"
  Files.createDirectories(Paths.get(inDir))
  // Stage a ts-NORMALIZED copy of the fixture (Tables.normalizeTs — the
  // raw file's ts encoding has changed across driver rounds: long nanos,
  // then TIMESTAMP_NTZ micros), written once and hard-copied `copies`
  // times so maxFilesPerTrigger rate-limiting still sees N files. With
  // the staged files already canonical TimestampType, every downstream
  // consumer (sentinel math, appendInput rows, the stream itself) deals
  // in exactly one ts type.
  locally {
    val stage = s"$tmp/stage"
    graft.Tables.normalizeTs(spark.read.parquet(s"$sfDir/events.parquet"))
      .coalesce(1).write.parquet(stage)
    val ls = Files.list(Paths.get(stage))
    val part =
      try ls.filter(_.toString.endsWith(".parquet")).findFirst
        .orElseThrow(() => new IllegalStateException(s"no part file in $stage"))
      finally ls.close()
    try {
      (1 to copies).foreach { i =>
        Files.copy(part, Paths.get(s"$inDir/events_$i.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
    } finally {
      val walk = Files.walk(Paths.get(stage))
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally walk.close()
    }
  }

  /** Source schema as staged (ts is canonical TimestampType micros). */
  val schema: StructType = spark.read.parquet(inDir).schema

  @volatile private var outSchema: StructType = _

  /** File-source stream over the staged events, ts normalized to
    * microsecond timestamps exactly as Tables.events.
    * `maxFilesPerTrigger` > 0 rate-limits the source so AvailableNow
    * delivers multiple micro-batches (StreamUpsert forces ≥2 merges
    * this way) — an option here, not a re-built reader at the call
    * site, so the ts normalization keeps its single copy. */
  def eventsStream(maxFilesPerTrigger: Int = 0): DataFrame = {
    val reader = spark.readStream.schema(schema)
    val limited =
      if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else reader
    val raw = limited.parquet(inDir)
    if (schema("ts").dataType == LongType)
      raw.withColumn("ts", expr(graft.Tables.nanosTsToMicros))
    else raw
  }

  /** Batch view of the staged input (e.g. for sentinel computation). */
  def stagedInput(): DataFrame = spark.read.parquet(inDir)

  /** Land one more input file (e.g. a heartbeat sentinel row). */
  def appendInput(df: DataFrame): Unit =
    df.coalesce(1).write.mode("append").parquet(inDir)

  /** Drain `df` to the parquet sink; resumes from the shared checkpoint,
    * so a second call processes only newly landed files. */
  def drain(df: DataFrame): Unit = {
    outSchema = df.schema
    val q = df.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Delete the staged input copies (no longer needed once drained). */
  def cleanupInput(): Unit = {
    val s = Files.list(Paths.get(inDir))
    try s.forEach(p => Files.deleteIfExists(p))
    finally s.close()
    Files.deleteIfExists(Paths.get(inDir))
  }

  /** The sink contents, materialized EAGERLY so the whole tmp tree
    * (sink + checkpoint) can be deleted before returning — a bench loop
    * over the streaming queries must not accumulate events-sized sink
    * copies. Emitted row counts here are session/window/pair rollup
    * inputs (thousands), not raw events, so driver-side materialization
    * is bounded. Empty runs (a no-match join commits no data files)
    * yield an empty DataFrame with the sink schema instead of a schema-
    * inference crash. */
  def output(): DataFrame = {
    require(outSchema != null, "output() before any drain()")
    val dir = Paths.get(outDir)
    val hasData = Files.exists(dir) && {
      val s = Files.list(dir)
      try s.anyMatch(p => p.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
    val result =
      if (hasData) {
        val rows = spark.read.schema(outSchema).parquet(outDir).collect()
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), outSchema)
      } else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)
    graft.Fs.deleteTree(tmp)
    result
  }

  /** Run `f` with the session's shuffle partitions pinned to `n`,
    * restoring the prior value after. A streaming query FIXES its state
    * partition count from this conf at first start, and every
    * micro-batch then pays per-partition state-store overhead (open,
    * snapshot, commit) regardless of data volume — so state partitions
    * should be sized to STATE volume, not to the batch engine's scan
    * parallelism. The drained verification harnesses hold thousands of
    * state rows; 8 partitions bounds the fixed cost without changing
    * any result (state partitioning is placement, not semantics). A
    * production stream with 100 TB-scale state sizes this up, not down. */
  def withStreamingPartitions[T](n: Int)(f: => T): T =
    StreamHarness.withStreamingPartitions(spark, n)(f)

  /** [[withStreamingPartitions]] at the width derived from THIS
    * harness's staged input census (r13 — see
    * graft.Confs.derivedWidth): a parquet count over the staged
    * copy (footer-cheap) replaces the round-12 literal 8. */
  def withDerivedStreamingPartitions[T](f: => T): T =
    StreamHarness.withDerivedStreamingPartitions(spark,
      stagedInput().count())(f)

  /** Idempotent whole-tree delete for callers' finally blocks: output()
    * already removes the tree on the success path, but a drain that
    * throws must not leak staged events copies + checkpoint into tmp
    * (a bench loop whose streaming query starts erroring would
    * accumulate them — the exact build-up this harness exists to
    * prevent). */
  def cleanup(): Unit = graft.Fs.deleteTree(tmp)
}
