package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.queries.EventQ
import graft.streaming.{LiveRatingChain, PipelineRunner, VersionedDim}

/** Live TARIFF refresh for the rating stage — the rating-side twin of
  * the live-dim prerating stage, removing the chain's last
  * restart-to-refresh ceiling: a tariff amendment published to the
  * versioned store mid-cycle rates the NEXT batch at the new version
  * with NO stage restart, each record rated at the plan as-of its own
  * event time on an UNINTERRUPTED per-account accumulator — pinned
  * record-for-record against the oracle-checked batch q288.
  */
class LiveTariffSpec extends SparkSpec {

  import spark.implicits._

  private val END = 4102444800L

  // plan A: (0,100)@5, (100,300)@3, (300,∞)@1  — T_A(100)=500, T_A(250)=950
  private def planA(vf: Long, vt: Long) = Seq(
    (vf, vt, 0L, 100L, 5L), (vf, vt, 100L, 300L, 3L),
    (vf, vt, 300L, Long.MaxValue, 1L))
  // plan B: (0,150)@4, (150,∞)@2 — the mid-cycle amendment
  private def planB(vf: Long, vt: Long) = Seq(
    (vf, vt, 0L, 150L, 4L), (vf, vt, 150L, Long.MaxValue, 2L))

  private def toDim(rows: Seq[(Long, Long, Long, Long, Long)]) =
    rows.toDF("valid_from_sec", "valid_to_sec", "tier_from", "tier_to",
      "rate_centi")

  private def writeCsv(path: String, rows: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path),
      ("call_id,seq,total,duration_sec" +: rows).mkString("\n")
        .getBytes("UTF-8"))
  }

  test("a mid-cycle tariff amendment rates the next batch at the new " +
      "version with exact parity to the batch card — no restart") {
    withRocksDbState {
      val base = Files.createTempDirectory("graft_livetariff").toString
      val dim = new VersionedDim(spark, s"$base/tariffdim",
        EventQ.validateTariffTimeline)
      dim.publish(toDim(planA(0L, END))) // v1: plan A for all time
      val runner = new PipelineRunner(spark)
      val names = LiveRatingChain.registerWithLiveTariff(runner, spark,
        s"$base/inbox", s"$base/legs", s"$base/calls", s"$base/enriched",
        s"$base/rated", s"$base/ckpt", dim)
      var qs = names.map(runner.start)
      def drain(): Unit =
        (1 to 3).foreach(_ => qs.foreach(_.processAllAvailable()))
      def rated() = spark.read.parquet(s"$base/rated")
        .select(col("event_id"), col("charge_centi"), col("tariff_ver"))
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      try {
        // wave 1 under v1 (event time = event_id seconds, both < 1000)
        writeCsv(s"$base/inbox/w1.csv",
          Seq("1:101,1,1,100.0", "2:201,1,1,250.0"))
        drain()
        assert(rated() == Map(101L -> ((500L, 1L)), 201L -> ((950L, 1L))),
          rated().toString)

        // the AMENDMENT: v2 timeline = plan A until sec 1000, plan B
        // after — published while the chain RUNS
        dim.publish(toDim(planA(0L, 1000L) ++ planB(1000L, END)))

        // wave 2 (event times >= 1000) rates at plan B on the RUNNING
        // accumulator — no restart: acct 1 moves cum 100→350 under B
        // (T_B(350)−T_B(100) = 1000−400 = 600), new acct 3 rates fresh
        // (T_B(120) = 480)
        writeCsv(s"$base/inbox/w2.csv",
          Seq("1:1500,1,1,250.0", "3:1600,1,1,120.0"))
        drain()
        assert(rated() == Map(101L -> ((500L, 1L)), 201L -> ((950L, 1L)),
          1500L -> ((600L, 2L)), 1600L -> ((480L, 2L))), rated().toString)

        // `refreshsession` reaches the stage: forces a reload+revalidate
        // at the unchanged version; the chain keeps flowing after it
        runner.control("s=tariff_attach\na=refreshsession")

        // kill the topology, land a wave while down, restart: the
        // accumulator continues exactly (T_B(400)−T_B(350) = 100)
        runner.stopAll()
        writeCsv(s"$base/inbox/w3.csv", Seq("1:2000,1,1,50.0"))
        qs = names.map(runner.start)
        drain()
        val streamed = rated()
        assert(streamed(2000L) == ((100L, 2L)), streamed.toString)

        // EXACT parity with the oracle-checked batch card on the union
        // usage under the final timeline — the done-criterion
        val usage = Seq((101L, 1L, 101L, 100L), (201L, 2L, 201L, 250L),
          (1500L, 1L, 1500L, 250L), (1600L, 3L, 1600L, 120L),
          (2000L, 1L, 2000L, 50L))
          .toDF("event_id", "user_id", "ts", "u")
        val expected = EventQ.marginalTieredChargesVersioned(usage,
          col("u"), toDim(planA(0L, 1000L) ++ planB(1000L, END)))
          .select(col("event_id"), col("charge_centi"))
          .as[(Long, Long)].collect().toMap
        assert(streamed.view.mapValues(_._1).toMap == expected,
          s"streamed ${streamed.toString} vs batch $expected")
        // ... and per-account invoice parity follows by summation
        val streamedInvoice = spark.read.parquet(s"$base/rated")
          .groupBy(col("account_id"))
          .agg(sum(col("charge_centi")).as("c"))
          .as[(Long, Long)].collect().toMap
        assert(streamedInvoice == Map(1L -> 1200L, 2L -> 950L, 3L -> 480L),
          streamedInvoice.toString)
      } finally runner.stopAll()
    }
  }

  test("calls in uncovered time land under covered=false, unrated and " +
      "never dropped") {
    withRocksDbState {
      val base = Files.createTempDirectory("graft_tariffgap").toString
      val dim = new VersionedDim(spark, s"$base/tariffdim",
        EventQ.validateTariffTimeline)
      // a timeline with a GAP: [0, 500) and [2000, END) — sec 500..1999
      // is unratable time (gaps are legal; double coverage is fatal)
      dim.publish(toDim(planA(0L, 500L) ++ planB(2000L, END)))
      val runner = new PipelineRunner(spark)
      val names = LiveRatingChain.registerWithLiveTariff(runner, spark,
        s"$base/inbox", s"$base/legs", s"$base/calls", s"$base/enriched",
        s"$base/rated", s"$base/ckpt", dim)
      val qs = names.map(runner.start)
      try {
        writeCsv(s"$base/inbox/w1.csv",
          Seq("1:100,1,1,100.0", "1:900,1,1,300.0", "2:2500,1,1,80.0"))
        (1 to 3).foreach(_ => qs.foreach(_.processAllAvailable()))
        // the gap call is HELD (covered=false, plan NULL), not billed —
        // and the accumulator never saw its usage: acct 2 rates fresh
        val enriched = spark.read.parquet(s"$base/enriched")
        assert(enriched.filter(!col("covered"))
          .select(col("event_id")).as[Long].collect().toSeq == Seq(900L))
        val rated = spark.read.parquet(s"$base/rated")
          .select(col("event_id"), col("charge_centi"))
          .as[(Long, Long)].collect().toMap
        assert(rated == Map(100L -> 500L, 2500L -> 320L), rated.toString)
      } finally runner.stopAll()
    }
  }

  test("a malformed amendment fails at resolve time, once per version") {
    val base = Files.createTempDirectory("graft_tariffbad").toString
    val dim = new VersionedDim(spark, s"$base/dim",
      EventQ.validateTariffTimeline)
    // overlapping validity windows: two plans active at once
    dim.publish(toDim(planA(0L, 2000L) ++ planB(1000L, END)))
    val e = intercept[IllegalArgumentException] { dim.resolve() }
    assert(e.getMessage.contains("overlapping"), e.getMessage)
    // a tier plan with a hole inside one window is equally fatal
    val dim2 = new VersionedDim(spark, s"$base/dim2",
      EventQ.validateTariffTimeline)
    dim2.publish(Seq((0L, END, 0L, 100L, 5L),
      (0L, END, 200L, Long.MaxValue, 1L))
      .toDF("valid_from_sec", "valid_to_sec", "tier_from", "tier_to",
        "rate_centi"))
    val e2 = intercept[IllegalArgumentException] { dim2.resolve() }
    assert(e2.getMessage.contains("contiguous"), e2.getMessage)
  }
}
