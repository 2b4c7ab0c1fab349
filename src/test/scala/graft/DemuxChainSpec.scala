package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.streaming.{LiveRatingChain, PipelineRunner}

/** The packet-plane fan-out COMPOSED into the running chain (round-13,
  * verdict "Missing #2"): ingest → assembly → rating → rated_fanout
  * (the `t=`-routed demux, routing dim live) → invoice + fraud
  * consumers, each on its own archived packetqueue. Pins:
  *  - both consumers see exactly-once rated records across a
  *    kill-and-restart of the WHOLE topology (a wave landing while
  *    down included);
  *  - the fraud tap feeds [[graft.streaming.VelocityMonitor]]
  *    UNCHANGED — only the source seam moved from the legs store to
  *    the packet plane;
  *  - a re-route published mid-run lands the NEXT batch on the new
  *    class set with no restart, `route_ver` stamping each record
  *    with the dim version that fanned it;
  *  - the routing dim refuses an all-disabled version (committed-past-
  *    delivery records would otherwise be silently lost to consumers).
  */
class DemuxChainSpec extends SparkSpec {

  import spark.implicits._

  private val tiers = Seq((0L, 100L, 5L), (100L, 300L, 3L),
    (300L, Long.MaxValue, 1L))

  private def writeLegs(path: String, rows: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path),
      ("call_id,seq,total,duration_sec" +: rows).mkString("\n")
        .getBytes("UTF-8"))
  }

  private def ratedSet(dir: String): Set[(Long, Long, Long, Long, Long)] =
    spark.read.parquet(dir)
      .select(col("account_id"), col("event_id"), col("units"),
        col("cum_units"), col("charge_centi"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet

  test("rated records fan to invoice + fraud over the packet plane, " +
      "exactly-once across a whole-topology kill-and-restart, and the " +
      "fraud tap's VelocityMonitor fires on the burst account") {
    withRocksDbState {
      val base = Files.createTempDirectory("graft_demuxchain").toString
      val dim = LiveRatingChain.routingDim(spark, s"$base/routedim")
      dim.publish(Seq(("invoice", true), ("fraud", true))
        .toDF("dest", "enabled"))
      val runner = new PipelineRunner(spark)
      val names =
        LiveRatingChain.register(runner, spark, s"$base/inbox",
          s"$base/legs", s"$base/calls", s"$base/rated", s"$base/ckpt",
          tiers) ++
        LiveRatingChain.registerFanout(runner, spark, s"$base/rated",
          dim, s"$base/fan", s"$base/export", s"$base/alarms",
          s"$base/ckpt", windowSec = 3600L, threshold = 3L)
      var qs = names.map(runner.start)
      def drain(): Unit =
        (1 to 5).foreach(_ => qs.foreach(_.processAllAvailable()))
      def exportRows() = spark.read.parquet(s"$base/export")
        .select(col("account_id"), col("event_id"), col("units"),
          col("cum_units"), col("charge_centi"))
        .as[(Long, Long, Long, Long, Long)].collect().toSeq

      // w1: two quiet accounts + a 4-event burst on account 9 (the
      // event id doubles as arrival seconds — the fraudStage fixture
      // convention carried over the packet plane)
      val w1 = Seq("1:101,1,1,100.0", "2:201,1,1,250.0",
        "9:1,1,1,10.0", "9:2,1,1,10.0", "9:3,1,1,10.0", "9:4,1,1,10.0")
      try {
        writeLegs(s"$base/inbox/w1.csv", w1)
        drain()
        val rated1 = ratedSet(s"$base/rated")
        assert(rated1.size == 6, s"rating lost records: $rated1")
        // invoice consumer sees EXACTLY the rated store, no dup/loss
        assert(exportRows().toSet == rated1 &&
            exportRows().size == rated1.size,
          s"invoice export ${exportRows()} != rated $rated1")
        // the fraud tap fed VelocityMonitor unchanged: the burst
        // account alarms at its 3rd and 4th in-window events
        val alarms = spark.read.parquet(s"$base/alarms")
          .select(col("user_id"), col("sec"), col("n_window"))
          .as[(Long, Long, Long)].collect().toSet
        assert(alarms == Set((9L, 3L, 3L), (9L, 4L, 4L)),
          s"velocity alarms over the packet plane: $alarms")
        // every fanned record is stamped with the version that fanned it
        val vers = spark.read.parquet(s"$base/export")
          .select(col("route_ver")).distinct().as[Long].collect().toSet
        assert(vers == Set(1L), s"route_ver stamps: $vers")

        // kill the WHOLE topology; a wave lands while down; restart
        runner.stopAll()
        writeLegs(s"$base/inbox/w2.csv",
          Seq("1:102,1,1,50.0", "2:202,1,1,30.0"))
        qs = names.map(runner.start)
        drain()
        val rated2 = ratedSet(s"$base/rated")
        assert(rated2.size == 8, s"restart lost rated records: $rated2")
        assert(exportRows().toSet == rated2 &&
            exportRows().size == rated2.size,
          "invoice export lost or duplicated rated records across " +
            s"restart: ${exportRows().sorted} vs ${rated2.toSeq.sorted}")
        // the fraud consumer's own queue archived + checkpointed
        // independently: no replayed alarms, none lost
        val alarms2 = spark.read.parquet(s"$base/alarms")
          .select(col("user_id"), col("sec"), col("n_window"))
          .as[(Long, Long, Long)].collect().toSeq
        assert(alarms2.size == 2 && alarms2.toSet ==
            Set((9L, 3L, 3L), (9L, 4L, 4L)),
          s"fraud alarms perturbed by restart: $alarms2")
      } finally runner.stopAll()
    }
  }

  test("a re-route published mid-run lands the NEXT batch on the new " +
      "class set with no restart, route_ver audit-stamped") {
    withRocksDbState {
      val base = Files.createTempDirectory("graft_demuxreroute").toString
      val dim = LiveRatingChain.routingDim(spark, s"$base/routedim")
      dim.publish(Seq(("invoice", true), ("fraud", true))
        .toDF("dest", "enabled"))
      val runner = new PipelineRunner(spark)
      val names =
        LiveRatingChain.register(runner, spark, s"$base/inbox",
          s"$base/legs", s"$base/calls", s"$base/rated", s"$base/ckpt",
          tiers) ++
        LiveRatingChain.registerFanout(runner, spark, s"$base/rated",
          dim, s"$base/fan", s"$base/export", s"$base/alarms",
          s"$base/ckpt")
      val qs = names.map(runner.start)
      def drain(): Unit =
        (1 to 5).foreach(_ => qs.foreach(_.processAllAvailable()))
      def fraudData() = spark.read
        .schema(LiveRatingChain.fanoutWireSchema)
        .option("header", "true").csv(s"$base/fan/fraud/data")
        .select(col("event_id"), col("route_ver"))
        .as[(Long, Long)].collect().toSet

      try {
        writeLegs(s"$base/inbox/w1.csv", Seq("1:101,1,1,100.0"))
        drain()
        assert(fraudData() == Set((101L, 1L)), fraudData().toString)

        // the RE-ROUTE, published while the topology RUNS: the fraud
        // tap is taken out of the fan-out (its consumer keeps draining
        // what it already has — a consumer-side concern)
        dim.publish(Seq(("invoice", true), ("fraud", false))
          .toDF("dest", "enabled"))
        writeLegs(s"$base/inbox/w2.csv", Seq("1:102,1,1,50.0"))
        drain()
        // fraud plane did NOT receive the post-re-route record...
        assert(fraudData() == Set((101L, 1L)),
          s"re-route leaked to the disabled class: ${fraudData()}")
        // ...the invoice plane did, stamped with the version that
        // fanned it (v1 for the first wave, v2 after)
        val export = spark.read.parquet(s"$base/export")
          .select(col("event_id"), col("route_ver"))
          .as[(Long, Long)].collect().toSet
        assert(export == Set((101L, 1L), (102L, 2L)),
          s"route_ver audit trail: $export")
      } finally runner.stopAll()
    }
  }

  test("the routing dim refuses an all-disabled version loudly") {
    val base = Files.createTempDirectory("graft_demuxdim").toString
    val dim = LiveRatingChain.routingDim(spark, s"$base/routedim")
    dim.publish(Seq(("invoice", true), ("fraud", false))
      .toDF("dest", "enabled"))
    val e = intercept[IllegalArgumentException] {
      dim.publish(Seq(("invoice", false), ("fraud", false))
        .toDF("dest", "enabled"))
      dim.resolve()
    }
    assert(e.getMessage.contains("every consumer class is disabled"),
      e.getMessage)
    // path-unsafe and duplicate classes also fail at resolve
    val dim2 = LiveRatingChain.routingDim(spark, s"$base/dim2")
    dim2.publish(Seq(("bad/route", true)).toDF("dest", "enabled"))
    val e2 = intercept[IllegalArgumentException](dim2.resolve())
    assert(e2.getMessage.contains("path-safe"), e2.getMessage)
  }
}
