package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.queries.{EventQ, PreratingQ}
import graft.streaming.{LiveRatingChain, PipelineRunner, VersionedDim}

/** The FULLY LIVE chain: number plan AND tariff both versioned, both
  * re-resolved per micro-batch, a port and an amendment published while
  * the topology runs — and the whole streamed output equal to ONE batch
  * replay under the final dimension timelines (guideRangesVersioned →
  * marginalTieredChargesVersioned), EXACTLY, across kill-and-restart.
  */
class FullyLiveChainSpec extends SparkSpec {

  import spark.implicits._

  private val END = 4102444800L

  private def planA(vf: Long, vt: Long) = Seq(
    (vf, vt, 0L, 100L, 5L), (vf, vt, 100L, 300L, 3L),
    (vf, vt, 300L, Long.MaxValue, 1L))
  private def planB(vf: Long, vt: Long) = Seq(
    (vf, vt, 0L, 150L, 4L), (vf, vt, 150L, Long.MaxValue, 2L))
  private def tariffDf(rows: Seq[(Long, Long, Long, Long, Long)]) =
    rows.toDF("valid_from_sec", "valid_to_sec", "tier_from", "tier_to",
      "rate_centi")
  private def planDf(rows: Seq[(Long, Long, Long, Long, Long)]) =
    rows.toDF("range_start", "range_end", "valid_from_sec",
      "valid_to_sec", "account_id")

  // number plan: block 1 → account 1 forever; block 2 → account 2,
  // PORTED WHOLE to account 3 from sec 1000 in v2
  private val planV1 = Seq(
    (49100000100L, 49100000199L, 0L, END, 1L),
    (49100000200L, 49100000299L, 0L, END, 2L))
  private val planV2 = Seq(
    (49100000100L, 49100000199L, 0L, END, 1L),
    (49100000200L, 49100000299L, 0L, 1000L, 2L),
    (49100000200L, 49100000299L, 1000L, END, 3L))

  private def writeCsv(path: String, rows: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path),
      ("msisdn,event_id,seq,total,duration_sec" +: rows).mkString("\n")
        .getBytes("UTF-8"))
  }

  test("a port AND an amendment land mid-run with no restart, and the " +
      "streamed chain equals the batch replay under the final timelines") {
    withRocksDbState {
      val base = Files.createTempDirectory("graft_fullylive").toString
      val numberDim = new VersionedDim(spark, s"$base/numdim",
        PreratingQ.validateVersionedDim)
      val tariffDim = new VersionedDim(spark, s"$base/tardim",
        EventQ.validateTariffTimeline)
      numberDim.publish(planDf(planV1))
      tariffDim.publish(tariffDf(planA(0L, END)))
      val runner = new PipelineRunner(spark)
      val names = LiveRatingChain.registerFullyLive(runner, spark,
        s"$base/inbox", numberDim, tariffDim, s"$base/prerated",
        s"$base/legs", s"$base/calls", s"$base/enriched", s"$base/rated",
        s"$base/ckpt")
      var qs = names.map(runner.start)
      def drain(): Unit =
        (1 to 4).foreach(_ => qs.foreach(_.processAllAvailable()))
      def rated() = spark.read.parquet(s"$base/rated")
        .select(col("account_id"), col("event_id"), col("charge_centi"),
          col("tariff_ver"))
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._2 -> ((r._1, r._3, r._4))).toMap

      // raw wires: w1 before either change (sec < 1000)
      val w1 = Seq("+49100000150,101,1,1,100.0",
        "0049100000250,201,1,1,250.0")
      // w2 after port + amendment: block-1 traffic rates at plan B on
      // the running accumulator; block-2 traffic now belongs to acct 3
      val w2 = Seq("+49100000160,1500,1,1,250.0",
        "+49100000260,1600,1,1,120.0")
      val w3 = Seq("0049100000270,2000,1,1,50.0") // 00-prefixed form

      try {
        writeCsv(s"$base/inbox/w1.csv", w1)
        drain()
        assert(rated() == Map(101L -> ((1L, 500L, 1L)),
          201L -> ((2L, 950L, 1L))), rated().toString)

        // BOTH dims advance while the topology runs
        numberDim.publish(planDf(planV2))
        tariffDim.publish(tariffDf(planA(0L, 1000L) ++ planB(1000L, END)))

        writeCsv(s"$base/inbox/w2.csv", w2)
        drain()
        // acct1 cum 100→350 under B: 600; ported block rates FRESH under
        // acct 3 (its accumulator, not acct 2's): T_B(120) = 480
        assert(rated() == Map(101L -> ((1L, 500L, 1L)),
          201L -> ((2L, 950L, 1L)), 1500L -> ((1L, 600L, 2L)),
          1600L -> ((3L, 480L, 2L))), rated().toString)

        // kill the WHOLE topology; a wave lands while down; restart
        runner.stopAll()
        writeCsv(s"$base/inbox/w3.csv", w3)
        qs = names.map(runner.start)
        drain()
        assert(rated()(2000L) == ((3L, 160L, 2L)), rated().toString)

        // THE determinism statement: the streamed run (ports and
        // amendments landing mid-flight) equals one batch replay under
        // the FINAL timelines — guideRangesVersioned feeding
        // marginalTieredChargesVersioned
        val raw = (w1 ++ w2 ++ w3).map { line =>
          val p = line.split(",")
          (p(0), p(1).toLong, p(4).toDouble)
        }.toDF("raw_number", "event_id", "duration_sec")
        val guided = PreratingQ.guideRangesVersioned(
          PreratingQ.normalizeMsisdn(raw)
            .withColumn("sec", col("event_id")),
          planDf(planV2))
        val usage = guided.filter(col("account_id").isNotNull)
          .select(col("event_id"), col("account_id").as("user_id"),
            col("sec").as("ts"),
            expr("CAST(round(duration_sec) AS BIGINT)").as("u"))
        val batch = EventQ.marginalTieredChargesVersioned(usage, col("u"),
          tariffDf(planA(0L, 1000L) ++ planB(1000L, END)))
          .select(col("event_id"), col("k"), col("charge_centi"))
          .as[(Long, Long, Long)].collect()
          .map(r => r._1 -> ((r._2, r._3))).toMap
        val streamed = rated().view
          .mapValues(v => (v._1, v._2)).toMap
        assert(streamed == batch,
          s"streamed $streamed != batch replay $batch")

        // the broadcast refreshsession verb reaches BOTH live stages
        runner.control("s=0\na=refreshsession")
      } finally runner.stopAll()
    }
  }

  test("the HARDENED fully-live chain drops a redelivered wave whole " +
      "while ports and amendments land live — parity on deduped traffic") {
    withRocksDbState {
      val base = Files.createTempDirectory("graft_fullylivehard").toString
      val numberDim = new VersionedDim(spark, s"$base/numdim",
        PreratingQ.validateVersionedDim)
      val tariffDim = new VersionedDim(spark, s"$base/tardim",
        EventQ.validateTariffTimeline)
      numberDim.publish(planDf(planV1))
      tariffDim.publish(tariffDf(planA(0L, END)))
      val runner = new PipelineRunner(spark)
      val names = LiveRatingChain.registerFullyLiveHardened(runner, spark,
        s"$base/inbox", numberDim, tariffDim, s"$base/prerated",
        s"$base/legs", s"$base/ledger", s"$base/calls", s"$base/enriched",
        s"$base/rated", s"$base/ckpt")
      val qs = names.map(runner.start)
      def drain(): Unit =
        (1 to 4).foreach(_ => qs.foreach(_.processAllAvailable()))
      def rated() = spark.read.parquet(s"$base/rated")
        .select(col("account_id"), col("event_id"), col("charge_centi"))
        .as[(Long, Long, Long)].collect()
        .map(r => r._2 -> ((r._1, r._3))).toMap

      val w1 = Seq("+49100000150,101,1,1,100.0",
        "0049100000250,201,1,1,250.0")
      try {
        writeCsv(s"$base/inbox/w1.csv", w1)
        drain()
        assert(rated() == Map(101L -> ((1L, 500L)),
          201L -> ((2L, 950L))), rated().toString)

        // the classic mediation failure: the SAME raw wave lands again
        // under a new name — IN THE SAME TRIGGER as fresh traffic, so
        // the prerating output bin-packs both into shared files. The
        // digest keys on the CARRIED raw src_file (the delivery grain),
        // so the retry still drops whole while the fresh file bills —
        // a per-output-file digest would wave the whole batch through.
        writeCsv(s"$base/inbox/retry_w1.csv", w1)
        writeCsv(s"$base/inbox/w15.csv",
          Seq("+49100000170,700,1,1,80.0"))
        drain()
        // acct1 cum 100→180 under plan A: T_A(180) − T_A(100) = 240;
        // nothing from the retry re-bills
        assert(rated() == Map(101L -> ((1L, 500L)),
          201L -> ((2L, 950L)), 700L -> ((1L, 240L))),
          s"redelivery double-billed: ${rated()}")

        // a port and an amendment still land live through the hardened
        // path
        numberDim.publish(planDf(planV2))
        tariffDim.publish(tariffDf(planA(0L, 1000L) ++ planB(1000L, END)))
        writeCsv(s"$base/inbox/w2.csv",
          Seq("+49100000260,1600,1,1,120.0"))
        drain()
        assert(rated()(1600L) == ((3L, 480L)), rated().toString)
      } finally runner.stopAll()
    }
  }
}
