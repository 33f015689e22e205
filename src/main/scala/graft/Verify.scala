package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // Optional third arg (dev only; the driver passes two): run only the
    // comma-separated query names / prefixes given. The special value
    // "--sql-only" skips query execution entirely and dumps EVERY
    // oracle-SQL entry — the input to tools/check_oracle.py --explain,
    // the dialect preflight that catches a binder error (the q356
    // lateral-generate_series class) before the driver's gate does.
    val sqlOnly = args.length > 2 && args(2) == "--sql-only"
    val only: Array[String] =
      if (args.length > 2 && !sqlOnly) args(2).split(",") else Array.empty
    def selected(name: String): Boolean =
      only.isEmpty || only.exists(name.startsWith)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => !sqlOnly && selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // r13: drop catalog caches AND leftover localCheckpoint blocks
      // between queries (Bench.run's isolation rationale) — a 509-query
      // sweep otherwise accumulates the blocks of every query that does
      // not release its own through graft.Frames.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
