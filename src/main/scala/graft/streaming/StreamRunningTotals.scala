package graft.streaming

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimerValues, ValueState}

/** Per-user running totals via `transformWithState` — Spark 4's
  * arbitrary-state operator (StatefulProcessor + named state variables
  * on the RocksDB state store), the successor to
  * `flatMapGroupsWithState` that Sessionize uses.
  *
  * Scenario: the event feed is delivered TWICE (duplicate delivery,
  * `copies = 2`) and rate-limited to one file per micro-batch, so the
  * per-user totals must accumulate across micro-batches through the
  * state store — a single-batch run would never exercise state
  * persistence. Each batch emits a monotone snapshot (n grows batch
  * over batch); the harness keeps each user's final snapshot, which
  * must equal exactly 2× the batch aggregate — the DuckDB oracle states
  * that with exact DECIMAL sums.
  *
  * Scale notes (100 TB): state per user is two longs in RocksDB —
  * bounded by |users|, spillable to disk, incrementally checkpointed
  * (changelog). The emit stream is |active users per batch|, not
  * |events|. TTLConfig.NONE here because the verification stream is
  * finite; a production feed would set a TTL to age out dormant keys.
  */
object StreamRunningTotals {

  /** Running totals: event count + exact scaled-decimal value sum
    * (micro-units of DECIMAL(30,4) — same convention as Sessionize, so
    * stream and batch doubles are bit-identical). */
  final case class Totals(n: Long, sumScaled: Long)

  /** One per-user snapshot emitted after each micro-batch. */
  final case class Snapshot(user_id: Long, n: Long, sum_scaled: Long)

  /** Spark's double→DECIMAL(30,4) cast (HALF_UP over the shortest
    * decimal representation — see Sessionize.scaled4). */
  private def scaled4(v: Double): Long =
    JBigDecimal.valueOf(v).setScale(4, RoundingMode.HALF_UP).unscaledValue().longValue()

  final class TotalsProcessor
      extends StatefulProcessor[Long, (Long, Double), Snapshot] {
    @transient private var totals: ValueState[Totals] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[Totals](
        "totals", Encoders.product[Totals], TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[(Long, Double)],
        timerValues: TimerValues): Iterator[Snapshot] = {
      var acc = if (totals.exists()) totals.get() else Totals(0L, 0L)
      rows.foreach { case (_, v) =>
        acc = Totals(acc.n + 1, acc.sumScaled + scaled4(v))
      }
      totals.update(acc)
      Iterator.single(Snapshot(uid, acc.n, acc.sumScaled))
    }
  }

  /** Final per-user totals, doubles rebuilt from the exact scaled sum. */
  final case class FinalTotals(user_id: Long, n_events: Long, value_sum: Double)

  /** Drain the duplicate-delivered stream, then reduce each user's
    * snapshots to the final one (max n — n is monotone per user). */
  def runOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val h = new StreamHarness(spark, sfDir, copies = 2, tag = "runtotals")
    // transformWithState requires the RocksDB state store; scope the
    // provider override to this run (session default stays HDFS-backed
    // for the other harnesses).
    try graft.Confs.withConf(spark,
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      h.withDerivedStreamingPartitions {
        val snapshots = h.eventsStream(maxFilesPerTrigger = 1)
          .select($"user_id", $"value")
          .as[(Long, Double)]
          .groupByKey(_._1)
          .transformWithState(new TotalsProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
          .toDF()
        h.drain(snapshots)
        h.cleanupInput()
        h.output().as[Snapshot]
          .groupByKey(_.user_id)
          .mapGroups { (uid, snaps) =>
            val last = snaps.maxBy(_.n)
            FinalTotals(uid, last.n, new JBigDecimal(
              java.math.BigInteger.valueOf(last.sum_scaled), 4).doubleValue())
          }
          .toDF()
          .orderBy($"user_id")
      }
    } finally h.cleanup()
  }
}
