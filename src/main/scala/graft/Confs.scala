package graft

import org.apache.spark.sql.SparkSession

/** Scoped session-conf overrides shared by every component that sizes a
  * bounded stage's shuffles to its FRAME volume rather than the session
  * default (streaming state stores, iterative driver loops over
  * pair-list-sized frames). One copy of the save/set/restore idiom —
  * the restore must run on every exit path or the session default leaks
  * into unrelated queries.
  */
object Confs {
  /** Run `f` with `spark.sql.shuffle.partitions` pinned to `n`,
    * restoring the prior value after. Placement-only: results must not
    * depend on the partition count — callers pin it purely to trade
    * empty-partition task overhead against parallelism for a stage
    * whose volume they know. */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(f: => T): T =
    withConf(spark, "spark.sql.shuffle.partitions", n.toString)(f)

  /** Exchange width derived from a row census the caller already holds:
    * ~500k rows per partition, at least `floor`, capped at the session
    * width. Derived, not pinned, so a small frame (an iterative loop's
    * node-sized labels, a drained stream's state) does not pay the
    * session's scan-width task overhead per exchange, while a
    * billion-row frame keeps the session's (cluster-sized) width and
    * scale-curve runs across SPARK_GRAFT_CPUS settings stay comparable.
    * Iterative loops use floor 8; streaming state uses 4, where the
    * per-partition state-store fixed cost (open/snapshot/commit per
    * micro-batch) dominates below the by-volume term's first step. */
  def derivedWidth(spark: SparkSession, rows: Long, floor: Int): Int = {
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val byVolume = ((rows + 499999L) / 500000L).toInt
    math.min(session, math.max(floor, byVolume))
  }

  /** Run `f` with one session conf pinned, restoring the prior value
    * (or unsetting, if it had none) after — every exit path. */
  def withConf[T](spark: SparkSession, key: String, value: String)(f: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The reference deployment's object-store scan/commit profile
    * (/root/reference/workflow-examples/spark-operator-taxi.yaml:17-31),
    * re-expressed as a builder decorator so a production launcher gets
    * the same tuning the blueprint's SparkApplication manifest sets:
    *
    *  - the S3A filesystem impl (yaml:19); credentials are NOT pinned
    *    here — the default AWS chain stands, and EKS launchers opt into
    *    IRSA via [[withIrsaCredentials]] (yaml:18);
    *  - committer algorithm v2 — task commits move output once instead
    *    of the double-rename that makes S3 job commits O(files) twice
    *    (yaml:20);
    *  - `fadvise=random` + 256K readahead — parquet is read by
    *    column-chunk range requests, and sequential prefetch would drag
    *    whole objects through the socket for footer-guided reads
    *    (yaml:30-29);
    *  - fast upload + 200-connection pool + path-style access + 20-min
    *    connection timeout — write-side pipelining and wide scan
    *    fan-out against one bucket endpoint (yaml:25-28);
    *  - speculation off (yaml:23): S3A has no atomic task-output
    *    rename, so a speculative duplicate attempt could double-commit.
    *
    * No object store exists in this sandbox, so these confs are inert
    * under file:// tests — but they are REAL session confs, applied by
    * [[GraftSession.builder]] to every session the library creates and
    * asserted present (down to the stripped Hadoop Configuration layer)
    * by ConfsSpec: point the same session at an `s3a://` path on a
    * cluster with hadoop-aws on the classpath and the scan/commit
    * behavior is the reference's. */
  val S3aProfile: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.s3a.impl" -> "org.apache.hadoop.fs.s3a.S3AFileSystem",
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "spark.hadoop.fs.s3a.input.fadvise" -> "random",
    "spark.hadoop.fs.s3a.readahead.range" -> "256K",
    "spark.hadoop.fs.s3a.fast.upload" -> "true",
    "spark.hadoop.fs.s3a.connection.maximum" -> "200",
    "spark.hadoop.fs.s3a.path.style.access" -> "true",
    "spark.hadoop.fs.s3a.connection.timeout" -> "1200000",
    "spark.speculation" -> "false")

  def withS3aProfile(b: SparkSession.Builder): SparkSession.Builder =
    S3aProfile.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** EKS/IRSA credential binding — OPT-IN, not part of [[S3aProfile]]:
    * pinning WebIdentityTokenCredentialsProvider replaces the default
    * AWS credential chain, so baking it into every session would break
    * auth for non-EKS deployments (static keys, instance profile, SSO).
    * The reference manifest sets it because its launcher IS an EKS
    * service account (spark-operator-taxi.yaml:18); a launcher in that
    * position opts in by stacking this decorator on withS3aProfile. */
  val IrsaCredentials: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.s3a.aws.credentials.provider" ->
      "com.amazonaws.auth.WebIdentityTokenCredentialsProvider")

  def withIrsaCredentials(b: SparkSession.Builder): SparkSession.Builder =
    IrsaCredentials.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
}
