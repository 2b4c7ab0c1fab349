package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.streaming.{HardenedIngest, LiveRatingChain, PipelineRunner}

/** The capstone composition: the COMPLETE production topology with every
  * round-10 guard live — prerating (normalize + guide) → HARDENED ingest
  * (content-hash redelivery dedup) → leg assembly → marginal rating,
  * plus the fraud tap and the trunk gauge as independent legs-store
  * consumers: SIX concurrent streaming queries, one PipelineRunner.
  *
  * The scenario drives every guard at once: messy wire-form numbers
  * unify onto one account, unguided/malformed CDRs dead-letter with
  * reasons, a whole raw batch REDELIVERED under a new name flows through
  * prerating again but is digest-dropped at ingest (billed once), a
  * fraud burst alarms without touching billing, and the live gauge's
  * peaks equal the batch q257 sweep over the deduped legs.
  */
class FullTopologySpec extends SparkSpec {

  import spark.implicits._

  private val tiers = Seq((0L, 100L, 5L), (100L, 300L, 3L),
    (300L, Long.MaxValue, 1L))

  private def writeRaw(path: String, rows: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path),
      ("msisdn,event_id,seq,total,duration_sec" +: rows).mkString("\n")
        .getBytes("UTF-8"))
  }

  test("the full topology: prerating -> hardened ingest -> rating + taps") {
    withRocksDbState {
      val base = Files.createTempDirectory("graft_fulltopo").toString
      val runner = new PipelineRunner(spark)
      try {
        val wave1 = Seq(
          "+4915550001,11,1,1,100.0",   // acct 7, complete single-leg
          "0 1555-0002,12,1,2,30.0",    // acct 7 — national spelling
          "+49.1555(0002),12,2,2,20.0", // SAME number, intl spelling
          "+4915560100,100,1,1,10.0",   // acct 9 burst (fraud tap)
          "+4915560101,101,1,1,10.0",
          "+4915560102,102,1,1,10.0",
          "+4999990001,14,1,1,10.0",    // unguided -> dead letter
          "12AB,15,1,1,10.0")           // bad_chars -> dead letter
        writeRaw(s"$base/raw/wave1.csv", wave1)
        val ranges = Seq(
          (4915550000L, 4915559999L, 7L),
          (4915560000L, 4915569999L, 9L))
          .toDF("range_start", "range_end", "account_id")

        // pre-create the handoff dirs (the register() convention) so every
        // stage can start before its upstream commits a first batch
        Seq("raw", "prerated", "legs", "calls", "rated").foreach(d =>
          Files.createDirectories(Paths.get(s"$base/$d")))

        // stage 1: prerating
        runner.register(LiveRatingChain.preratingStage(spark, s"$base/raw",
          ranges, s"$base/prerated", s"$base/ckpt"))
        // stage 2: HARDENED ingest off the prerated store
        runner.register(HardenedIngest.stageFromPrerated(spark,
          s"$base/prerated", s"$base/legs", s"$base/ledger", s"$base/ckpt"))
        // stages 3-4: standard assembly + rating, sources on the hardened
        // legs layout (the batch_id partition column joins the schema)
        val std = LiveRatingChain.stages(spark, "/unused", s"$base/legs",
          s"$base/calls", s"$base/rated", s"$base/ckpt", tiers)
        val hardenedSource = (s: org.apache.spark.sql.SparkSession) =>
          s.readStream.schema(HardenedIngest.hardenedLegsSchema)
            .parquet(s"$base/legs").drop("batch_id")
        runner.register(std(1).copy(source = hardenedSource))
        runner.register(std(2))
        // taps: fraud (velocity) + live trunk gauge, same hardened layout
        runner.register(LiveRatingChain.fraudStage(spark, s"$base/legs",
          s"$base/alarms", s"$base/ckpt", windowSec = 60L, threshold = 3L)
          .copy(source = hardenedSource))
        runner.register(LiveRatingChain.gaugeStage(spark, s"$base/legs",
          s"$base/gauge", s"$base/ckpt", trunks = 50)
          .copy(source = hardenedSource))

        val names = Seq("prerating", "cdr_ingest", "leg_assembly", "rating",
          "fraud_tap", "trunk_gauge")
        val qs = names.map(runner.start)
        def drain(): Unit = (1 to 2).foreach(_ =>
          qs.foreach(_.processAllAvailable()))
        drain()

        def rated() = spark.read.parquet(s"$base/rated")
          .select(col("account_id").cast(LongType), col("event_id"),
            col("charge_centi"))
          .as[(Long, Long, Long)].collect().toSet
        val want = Set(
          (7L, 11L, 500L), (7L, 12L, 150L), // T(100)=500; T(150)-T(100)
          (9L, 100L, 50L), (9L, 101L, 50L), (9L, 102L, 50L))
        assert(rated() == want, rated().toString)

        // never-drop: unguided + malformed kept with reasons
        val dead = spark.read.parquet(s"$base/prerated")
          .filter(!col("guided")).select(col("reason"))
          .as[String].collect().sorted.toSeq
        assert(dead == Seq("bad_chars", "unguided"), dead.toString)

        // the classic failure: the ENTIRE wave redelivered under a new
        // name — prerating reprocesses it (path-keyed source), the
        // hardened ingest digest-drops it, nothing double-bills
        writeRaw(s"$base/raw/retry_wave1.csv", wave1)
        drain()
        assert(rated() == want, s"redelivery double-billed: ${rated()}")
        assert(spark.read.schema(HardenedIngest.hardenedLegsSchema)
          .parquet(s"$base/legs").count() == 6, "legs store grew on redrop")

        // genuinely new traffic still flows, accumulating on acct 7's
        // cumulative tier position: T(190) - T(150) = 120
        writeRaw(s"$base/raw/wave3.csv", Seq("0 1555-0003,16,1,1,40.0"))
        drain()
        assert(rated() == want + ((7L, 16L, 120L)), rated().toString)

        // fraud tap: the velocity monitor counts LEG arrivals — acct 9's
        // burst alarms at its 3rd call, and acct 7's tight cluster (legs
        // at fixture-seconds 11, 12, 12, 16) crosses the threshold at the
        // second leg of call 12 and again at 16; the REDELIVERED wave
        // never reaches the tap (digest-dropped upstream), so no alarm
        // re-fires
        val alarms = spark.read.parquet(s"$base/alarms")
          .select(col("user_id"), col("event_id"))
          .as[(Long, Long)].collect().toSet
        assert(alarms == Set((9L, 102L), (7L, 12L), (7L, 16L)),
          alarms.toString)

        // live gauge == the batch q257 sweep over the same (deduped) legs
        val gauge = spark.read.parquet(s"$base/gauge")
          .groupBy(col("trunk"))
          .agg(max(col("peak_concurrent")).as("peak"))
          .as[(String, Long)].collect().toMap
        // T7 legs: [11,111) [12,42) [12,32) [16,56) -> 4 concurrent;
        // T9 burst: [100,110) [101,111) [102,112) -> 3 concurrent
        assert(gauge == Map("T7" -> 4L, "T9" -> 3L), gauge.toString)
      } finally {
        runner.stopAll()
      }
    }
  }
}
