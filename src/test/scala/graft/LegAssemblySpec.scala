package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

import graft.queries.EventQ
import graft.streaming.{AssembledCall, Leg, LegAssembler}

/** Batch ⇔ streaming equivalence for multi-leg CDR assembly: the
  * oracle-pinned [[EventQ.assembleLegsBatch]] and the stateful
  * [[LegAssembler]] must agree call-for-call on the same leg feed —
  * completes AND timeout-flushed incompletes — when delivery respects
  * the arrival order the batch twin's `arrival` column encodes (and no
  * call completes prematurely across micro-batches; the growing-total
  * call therefore lands in one batch, as documented on the operator).
  */
class LegAssemblySpec extends SparkSpec {

  import spark.implicits._

  // (call_id, seq, total, duration_centi, arrival) — every semantic edge:
  // complete, duplicate redelivery, missing middle leg, stray high seq,
  // all-invalid garbage, declared total growing across legs. The batch
  // fixture's redelivered leg carries a DIFFERENT duration (999) so the
  // first-arrival rule is observable; the streaming fixture's carries
  // the identical payload (a real redelivery), because within one
  // micro-batch the processor's row-iterator order is not guaranteed —
  // only the batch operator, with its explicit arrival column, can pin
  // which payload survives a divergent redelivery.
  private val legs = Seq(
    ("c_ok", 1L, 2L, 1000L, 1L), ("c_ok", 2L, 2L, 500L, 2L),
    ("c_dup", 1L, 2L, 700L, 3L), ("c_dup", 1L, 2L, 999L, 4L),
    ("c_dup", 2L, 2L, 300L, 5L),
    ("c_miss", 1L, 3L, 100L, 6L), ("c_miss", 3L, 3L, 200L, 7L),
    ("c_stray", 1L, 1L, 100L, 8L), ("c_stray", 2L, 1L, 50L, 9L),
    ("c_junk", 0L, 1L, 42L, 10L), ("c_junk", 70L, 2L, 42L, 11L),
    ("c_grow", 1L, 1L, 100L, 12L), ("c_grow", 2L, 2L, 200L, 13L))

  private val legsStream = legs.map {
    case ("c_dup", 1L, t, 999L, a) => ("c_dup", 1L, t, 700L, a)
    case other => other
  }

  test("assembleLegsBatch computes the hand-derived verdicts") {
    val got = EventQ.assembleLegsBatch(
        legs.toDF("call_id", "seq", "total", "duration_centi", "arrival"))
      .as[(String, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got == Map(
      "c_ok" -> ((2L, 2L, 1500L, true)),
      "c_dup" -> ((2L, 2L, 1000L, true)), // first arrival's 700 kept
      "c_miss" -> ((3L, 2L, 300L, false)),
      "c_stray" -> ((1L, 2L, 150L, false)), // seq 2 > declared 1
      "c_grow" -> ((2L, 2L, 300L, true))), // c_junk absent: all invalid
      got.toString)
  }

  test("streaming LegAssembler agrees with the batch twin, timeouts included") {
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      val in = MemoryStream[Leg]
      val out = in.toDS().groupByKey(_.call_id)
        .transformWithState(new LegAssembler(timeoutMs = 300),
          TimeMode.ProcessingTime(), OutputMode.Append())
      val q = out.toDF().writeStream.outputMode("append")
        .format("memory").queryName("leg_equiv_out").start()
      try {
        // deliver in arrival order; the batch boundary sits after
        // c_dup's FIRST seq-1 leg so the redelivery is normally checked
        // against already-materialized state; c_grow's two legs share a
        // batch (the documented premature-completion caveat)
        val stream = legsStream.map { case (c, s, t, d, _) =>
          Leg(c, s.toInt, t.toInt, d / 100.0) }
        val (b1, b2) = stream.splitAt(3)
        val batch = EventQ.assembleLegsBatch(
            legsStream.toDF("call_id", "seq", "total", "duration_centi", "arrival"))
          .as[(String, Long, Long, Long, Boolean)].collect()
          .map(r => r._1 -> ((r._3, r._4, r._5))).toMap
        def rowsNow() = spark.table("leg_equiv_out").as[AssembledCall]
          .collect()
          .map(c => c.call_id ->
            ((c.n_legs.toLong, math.round(c.total_duration * 100), c.complete)))
          .toMap
        // NOTE: processAllAvailable() never latches with processing-time
        // timers (the StreamingSpec lesson) — poll the sink instead.
        // c_ok completes within b1, so its appearance marks b1 processed
        // (the two-phase add keeps the redelivery check against
        // already-materialized state when the engine honors the split).
        in.addData(b1)
        assert(eventually(30000)(rowsNow().contains("c_ok")),
          s"b1 never drained: ${rowsNow()}")
        in.addData(b2)
        // completes emit promptly; incompletes need the 300ms timer
        assert(eventually(30000)(rowsNow().keySet == batch.keySet),
          s"streaming ${rowsNow().keySet} vs batch ${batch.keySet}")
        assert(rowsNow() == batch, s"${rowsNow()} vs $batch")
      } finally q.stop()
    }
  }
}
