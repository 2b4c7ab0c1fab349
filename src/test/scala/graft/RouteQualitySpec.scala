package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

import graft.streaming.{RCall, RGauge, RouteQualityMonitor}

/** The live ASR monitor: windowed answer-seizure ratio per route over
  * the last-N ring, exact ppm, alarm-as-level once the window is full —
  * gauge parity against an independent fold over the fully-ordered
  * feed, across batch boundaries.
  */
class RouteQualitySpec extends SparkSpec {

  import spark.implicits._

  private val windowN = 8
  private val minAsr = 500000L // 50%

  /** Independent reference: the same windowed-ASR fold over the ordered
    * feed, written against plain collections. */
  private def reference(calls: Seq[RCall]): Map[String, RGauge] =
    calls.groupBy(_.route).map { case (r, cs) =>
      val ordered = cs.sortBy(_.call_id)
      val answered = ordered.count(_.dur_centi > 0L)
      val win = ordered.takeRight(windowN)
      val asr =
        if (ordered.isEmpty) 1000000L
        else 1000000L * win.count(_.dur_centi > 0L) / win.size
      r -> RGauge(r, ordered.size.toLong, answered.toLong, asr,
        ordered.size >= windowN && asr < minAsr)
    }

  test("windowed ASR gauge matches the ordered-feed fold across batches") {
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      // route A stays healthy; route B answers its first 10 calls then
      // goes dead (40 zero-length attempts — the FAS/dead-route shape);
      // route C never fills its window (warm-up must not alarm)
      val a = (1 to 30).map(i => RCall("A", i.toLong,
        if (i % 5 == 0) 0L else 100L))
      val b = (1 to 10).map(i => RCall("B", i.toLong, 200L)) ++
        (11 to 50).map(i => RCall("B", i.toLong, 0L))
      val c = (1 to 5).map(i => RCall("C", i.toLong, 0L))
      val all = a ++ b ++ c
      val (b1, b2) = all.partition(_.call_id <= 20L)

      val in = MemoryStream[RCall]
      val out = in.toDS().groupByKey(_.route)
        .transformWithState(new RouteQualityMonitor(windowN, minAsr),
          TimeMode.None(), OutputMode.Append())
      val q = out.toDF().writeStream.outputMode("append")
        .format("memory").queryName("rq_out").start()
      try {
        in.addData(b1)
        q.processAllAvailable()
        in.addData(b2)
        q.processAllAvailable()
        // final gauge per route = the row at max attempts
        val got = spark.table("rq_out").as[RGauge].collect()
          .groupBy(_.route).map { case (r, gs) =>
            r -> gs.maxBy(_.attempts) }
        val want = reference(all)
        assert(got == want, s"got=$got want=$want")
        // the dead route is alarming, the healthy one is not, the
        // warm-up one cannot
        assert(got("B").alarm && got("B").window_asr_ppm == 0L)
        assert(!got("A").alarm)
        assert(!got("C").alarm && got("C").attempts == 5L)
      } finally q.stop()
    }
  }

  test("alarm is a level: a route that stays bad re-alarms every batch") {
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      val in = MemoryStream[RCall]
      val out = in.toDS().groupByKey(_.route)
        .transformWithState(new RouteQualityMonitor(windowN, minAsr),
          TimeMode.None(), OutputMode.Append())
      val q = out.toDF().writeStream.outputMode("append")
        .format("memory").queryName("rq_level").start()
      try {
        in.addData((1 to 10).map(i => RCall("D", i.toLong, 0L)))
        q.processAllAvailable()
        in.addData(Seq(RCall("D", 11L, 0L)))
        q.processAllAvailable()
        val alarms = spark.table("rq_level").as[RGauge].collect()
          .filter(_.alarm)
        assert(alarms.length == 2, alarms.mkString(";"))
      } finally q.stop()
    }
  }
}
