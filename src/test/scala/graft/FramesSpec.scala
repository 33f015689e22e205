package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** The frame-lifetime owner: every exit path of a scope returns the
  * session's persistent RDDs to what they were, `release` frees exactly
  * the frame it names, and a released checkpoint fails loudly when read
  * (the Spark behaviour the owner relies on: a checkpoint is freed
  * through its RDD, not through `Dataset.unpersist`). */
class FramesSpec extends SparkTestBase {
  private def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddId(cp: DataFrame): Int =
    cp.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id

  /** One frame of each kind, materialized: persisted, eager checkpoint,
    * lazy checkpoint. */
  private def takeAll(f: Frames): Unit = {
    f.persist(spark.range(100).toDF("n")).count()
    f.checkpoint(spark.range(200).toDF("n"))
    f.checkpoint(spark.range(300).toDF("n"), eager = false).count()
  }

  test("a scope releases persisted and checkpointed frames on normal exit") {
    val before = persistent
    val n = Frames.scoped { f =>
      takeAll(f)
      assert((persistent -- before).size === 3)
      7
    }
    assert(n === 7)
    assert(persistent === before)
  }

  test("a scope releases persisted and checkpointed frames when its body throws") {
    val before = persistent
    val e = intercept[IllegalStateException] {
      Frames.scoped { f =>
        takeAll(f)
        throw new IllegalStateException("mid-loop failure")
      }
    }
    assert(e.getMessage === "mid-loop failure")
    assert(persistent === before)
  }

  test("Dataset.unpersist does not free a checkpoint; release does") {
    Frames.scoped { f =>
      val cp = f.checkpoint(spark.range(50).toDF("n"))
      cp.unpersist(blocking = true)
      assert(persistent.contains(rddId(cp)))
      f.release(cp)
      assert(!persistent.contains(rddId(cp)))
    }
  }

  test("release frees exactly one iterate and refuses a frame it does not hold") {
    Frames.scoped { f =>
      val a = f.checkpoint(spark.range(10).toDF("n"))
      val b = f.checkpoint(a.select((a("n") + 1).as("n")))
      val c = f.persist(b.select((b("n") * 2).as("n")))
      c.count()
      val held = persistent
      f.release(a)
      assert(held -- persistent === Set(rddId(a)))
      assert(b.count() === 10L && c.count() === 10L)
      intercept[IllegalArgumentException](f.release(b.select("n")))
      intercept[IllegalArgumentException](f.release(a))
    }
  }

  test("reading a released checkpoint raises CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND") {
    Frames.scoped { f =>
      val cp = f.checkpoint(spark.range(1000).toDF("n"))
      assert(cp.count() === 1000L)
      f.release(cp)
      // The block removal behind a non-blocking release is asynchronous.
      eventually(timeout(30.seconds), interval(200.millis)) {
        val e = intercept[Exception](cp.collect())
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        assert(chain.exists(t => String.valueOf(t.getMessage)
          .contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")), e.toString)
      }
    }
  }
}
