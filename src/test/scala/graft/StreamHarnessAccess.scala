package graft.streaming

/** Test-scope accessor: StreamHarness is private[streaming], but
  * Round13OptSpec drives its feed staging. */
object StreamHarnessAccess {
  def stageFeed(inDir: String, stageRoot: String,
      feed: Seq[(String, org.apache.spark.sql.DataFrame)]): Unit =
    StreamHarness.stageFeedFiles(inDir, stageRoot, feed)
}
