package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

import graft.queries.EventQ
import graft.streaming.{MarginalRater, RatedRec, UsageRec}

/** Batch ⇔ streaming equivalence for marginal cumulative-tier rating:
  * the oracle-pinned [[EventQ.marginalTieredCharges]] (q233) and the
  * stateful [[MarginalRater]] must agree record-for-record on the same
  * usage feed — including the record that crosses a tier boundary
  * mid-batch, a boundary crossing SPLIT ACROSS micro-batches (the case
  * an online rater exists for), and zero-usage records.
  */
class MarginalRaterSpec extends SparkSpec {

  import spark.implicits._

  private val tiers = Seq((0L, 5000L, 5L), (5000L, 20000L, 3L),
    (20000L, Long.MaxValue, 1L))

  // (event_id, account, units): account 7 crosses tier 1 at record 2
  // and tier 2 at record 4; account 8 stays in tier 1; zero usage at 3
  private val usage = Seq(
    (1L, 7L, 3000L), (2L, 7L, 4000L), (3L, 7L, 0L), (4L, 7L, 18000L),
    (5L, 8L, 100L), (6L, 8L, 200L))

  private def batchExpected: Map[Long, (Long, Long)] =
    EventQ.marginalTieredCharges(
        usage.map { case (e, a, u) => (e, a, e, u / 100.0) }
          .toDF("event_id", "user_id", "ts", "value"),
        expr("CAST(round(value * 100) AS BIGINT)"), tiers)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._4, r._5))).toMap

  test("streaming MarginalRater agrees with the batch operator across batch splits") {
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      val in = MemoryStream[UsageRec]
      val out = in.toDS().groupByKey(_.account_id)
        .transformWithState(new MarginalRater(tiers), TimeMode.None(),
          OutputMode.Append())
      val q = out.toDF().writeStream.outputMode("append")
        .format("memory").queryName("rater_out").start()
      try {
        val recs = usage.map { case (e, a, u) => UsageRec(a, e, u) }
        // split so account 7's tier-2 crossing (record 4) arrives in a
        // LATER batch than the accumulator state it must continue from
        val (b1, b2) = recs.splitAt(3)
        in.addData(b1); q.processAllAvailable()
        in.addData(b2); q.processAllAvailable()
        val got = spark.table("rater_out").as[RatedRec].collect()
          .map(r => r.event_id -> ((r.cum_units, r.charge_centi))).toMap
        val want = batchExpected
        assert(got == want, s"$got vs $want")
        // telescoping survives the stream: per-account charge sums equal
        // the closed-form totals (25000 -> 75000; 300 -> 1500)
        val byAcct = spark.table("rater_out").as[RatedRec].collect()
          .groupBy(_.account_id).view.mapValues(_.map(_.charge_centi).sum)
        assert(byAcct(7L) == 75000L && byAcct(8L) == 1500L, byAcct.toMap.toString)
      } finally q.stop()
    }
  }
}
