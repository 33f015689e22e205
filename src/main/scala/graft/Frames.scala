package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of a code block's persisted and checkpointed frames:
  * everything taken through [[persist]] or [[checkpoint]] is released
  * when the [[Frames.scoped]] block exits, on every exit path, newest
  * first (a dependent cache goes before the frame it was built from).
  * [[release]] frees a frame early, e.g. a loop iterate superseded by
  * the next round's materialized checkpoint.
  *
  * Why checkpoints need their own release: `Dataset.unpersist` only
  * uncaches plans the CacheManager knows, and a `localCheckpoint`ed
  * frame is a `LogicalRDD` over a persisted RDD the CacheManager never
  * saw — unpersisting the frame (or any projection of it) frees
  * nothing. The owner keeps the checkpoint's RDD and unpersists that.
  * A read of a released checkpoint then fails loudly with
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, so a frame that outlives its
  * scope must be Eager'd first or belong to an outer scope. */
final class Frames private {
  // Newest first; each entry pairs a frame with its release action.
  private var held = List.empty[(DataFrame, () => Unit)]

  /** `df` persisted MEMORY_AND_DISK (lazily, as `Dataset.persist`). */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    hold(p, () => p.unpersist(blocking = false))
  }

  /** `df.localCheckpoint(eager)`, released through its RDD. */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
    val cp = df.localCheckpoint(eager)
    val rdd = cp.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    hold(cp, () => rdd.unpersist(blocking = false))
  }

  /** Release frames this scope holds now instead of at scope exit. Only
    * the exact frames [[persist]]/[[checkpoint]] returned qualify — a
    * projection of one is refused, since releasing it would free
    * nothing. */
  def release(dfs: DataFrame*): Unit = dfs.foreach { df =>
    val (mine, rest) = held.partition(_._1 eq df)
    require(mine.nonEmpty, "release of a frame this scope does not hold")
    held = rest
    mine.foreach(_._2())
  }

  private def hold(df: DataFrame, free: () => Unit): DataFrame = {
    held = (df, free) :: held
    df
  }

  private def releaseAll(): Unit = {
    val all = held
    held = Nil
    all.foreach(_._2())
  }
}

object Frames {
  /** Run `body` with a fresh owner and release all it still holds when
    * `body` returns or throws. */
  def scoped[T](body: Frames => T): T = {
    val f = new Frames
    try body(f) finally f.releaseAll()
  }
}
