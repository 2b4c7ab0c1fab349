package graft

import java.nio.file.Files

import graft.streaming.{PipelineRunner, StageSpec, SupervisorListener, Triggers}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import java.sql.Timestamp

/** Structured Streaming layer (SURVEY §2A #1,5,6,13,14): watermarked
  * windowed aggregation, stateful dedup, the PipelineRunner control plane,
  * and checkpoint-based exactly-once recovery (replacing the reference's
  * Dir1/Dir2 marker protocol, `MFramework.cpp:821-903`).
  */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("watermarked tumbling window aggregates event time") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = in.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out").start()
    try {
      in.addData(
        (ts("2026-01-01 00:01:00"), "click", 1.0),
        (ts("2026-01-01 00:02:00"), "click", 2.0),
        (ts("2026-01-01 00:07:00"), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling_out")
        .select(col("window.start").cast(StringType), col("event_type"), col("n"), col("v"))
        .as[(String, String, Long, Double)].collect().toSet
      assert(rows == Set(
        ("2026-01-01 00:00:00", "click", 2L, 3.0),
        ("2026-01-01 00:05:00", "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("stream-stream interval join correlates two live feeds with watermarks") {
    // Two live feeds (the reference's multi-queue correlation case): a
    // purchase joins the same user's clicks from the preceding 10 minutes.
    // Both sides carry watermarks so Spark can bound the join state and
    // age out unmatched rows.
    implicit val ctx = spark.sqlContext
    val clicksIn = MemoryStream[(Timestamp, Long, String)]
    val buysIn = MemoryStream[(Timestamp, Long, String)]
    val clicks = clicksIn.toDF().toDF("c_ts", "c_user", "page")
      .withWatermark("c_ts", "20 minutes")
    val buys = buysIn.toDF().toDF("b_ts", "b_user", "item")
      .withWatermark("b_ts", "20 minutes")
    val joined = buys.join(clicks,
      col("b_user") === col("c_user") &&
        col("c_ts") >= col("b_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") <= col("b_ts"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try {
      clicksIn.addData(
        (ts("2026-01-01 00:01:00"), 7L, "home"),
        (ts("2026-01-01 00:05:00"), 7L, "product"),
        (ts("2026-01-01 00:05:00"), 8L, "home"),
        (ts("2026-01-01 00:50:00"), 7L, "too_late_page")) // outside any buy's window
      buysIn.addData((ts("2026-01-01 00:08:00"), 7L, "widget"))
      q.processAllAvailable()
      val rows = spark.table("ssj_out")
        .select(col("item"), col("page")).as[(String, String)].collect().toSet
      // user 7's buy at 00:08 sees clicks at 00:01 and 00:05, not 00:50;
      // user 8's click matches nothing
      assert(rows == Set(("widget", "home"), ("widget", "product")))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups late copies") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val dedup = in.toDF().toDF("ts", "event_id")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = dedup.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      in.addData((ts("2026-01-01 00:00:00"), 1L), (ts("2026-01-01 00:01:00"), 2L))
      q.processAllAvailable()
      in.addData((ts("2026-01-01 00:02:00"), 1L)) // duplicate within watermark
      in.addData((ts("2026-01-01 00:03:00"), 3L))
      q.processAllAvailable()
      // 2 batches delivered; duplicate id=1 must not reappear
      assert(spark.table("dedup_out").select("event_id").as[Long].collect().sorted
        .sameElements(Array(1L, 2L, 3L)))
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped and counted") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Double)]
    val agg = in.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(sum(col("value")).as("v"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    try {
      in.addData((ts("2026-01-01 01:00:00"), 1.0))
      q.processAllAvailable()
      // watermark advances to 00:50; this event is far older → dropped
      in.addData((ts("2026-01-01 00:00:00"), 99.0))
      q.processAllAvailable()
      // close the first window so it emits in append mode
      in.addData((ts("2026-01-01 02:00:00"), 2.0))
      q.processAllAvailable()
      val emitted = spark.table("late_out")
        .select(col("window.start").cast(StringType), col("v"))
        .as[(String, Double)].collect().toMap
      assert(emitted == Map("2026-01-01 01:00:00" -> 1.0),
        s"late row must not resurrect a closed window: $emitted")
      val droppedByWatermark = q.recentProgress
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsDroppedByWatermark).sum
      assert(droppedByWatermark >= 1, "watermark drop metric not recorded")
    } finally q.stop()
  }

  test("stateful session assembly via flatMapGroupsWithState") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val ctx = spark.sqlContext
    // multi-leg CDR assembly shape: legs arrive per call_id; emit the
    // assembled call when the final leg (seq = total) shows up.
    val in = MemoryStream[(String, Int, Int, Double)] // call_id, seq, total, dur
    def assemble(key: String, rows: Iterator[(String, Int, Int, Double)],
        state: GroupState[List[(Int, Int, Double)]]): Iterator[(String, Int, Double)] = {
      val legs = state.getOption.getOrElse(Nil) ++ rows.map(r => (r._2, r._3, r._4))
      val declaredTotal = legs.map(_._2).max
      if (legs.map(_._1).toSet == (1 to declaredTotal).toSet) {
        state.remove()
        Iterator((key, legs.size, legs.map(_._3).sum))
      } else { state.update(legs); Iterator.empty }
    }
    val out = in.toDS().groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(assemble)
    val q = out.toDF().toDF("call_id", "n_legs", "total_dur")
      .writeStream.outputMode("append").format("memory").queryName("legs_out").start()
    try {
      in.addData(("call_a", 1, 2, 10.0))
      q.processAllAvailable()
      assert(spark.table("legs_out").count() == 0) // incomplete call held in state
      in.addData(("call_a", 2, 2, 5.0), ("call_b", 1, 1, 7.0))
      q.processAllAvailable()
      val rows = spark.table("legs_out").as[(String, Int, Double)].collect().toSet
      assert(rows == Set(("call_a", 2, 15.0), ("call_b", 1, 7.0)))
    } finally q.stop()
  }

  test("transformWithState assembles multi-leg calls with RocksDB state") {
    import graft.streaming.{Leg, LegAssembler, AssembledCall}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      val in = MemoryStream[Leg]
      val out = in.toDS().groupByKey(_.call_id)
        .transformWithState(new LegAssembler, TimeMode.None(), OutputMode.Append())
      val q = out.toDF().writeStream.outputMode("append")
        .format("memory").queryName("tws_out").start()
      try {
        // out-of-range legs (seq/total outside [1,64]) are dropped, not
        // thrown on — a throw would poison-pill the micro-batch forever
        in.addData(Leg("call_junk", 0, 0, 1.0), Leg("call_junk", 70, 2, 1.0))
        in.addData(Leg("call_a", 1, 2, 10.0))
        q.processAllAvailable()
        assert(spark.table("tws_out").count() == 0, "incomplete call must stay in state")
        in.addData(Leg("call_a", 1, 2, 10.0)) // duplicate leg redelivery
        in.addData(Leg("call_a", 2, 2, 5.0), Leg("call_b", 1, 1, 7.0))
        q.processAllAvailable()
        val rows = spark.table("tws_out").as[AssembledCall].collect()
          .map(c => c.call_id -> ((c.n_legs, c.total_duration, c.complete))).toMap
        // duplicate seq=1 must not double-count duration
        assert(rows == Map("call_a" -> ((2, 15.0, true)), "call_b" -> ((1, 7.0, true))))
      } finally q.stop()
    }
  }

  test("streaming funnel matches the batch operator and survives batch splits") {
    import graft.streaming.{FunnelEvent, FunnelTracker, StageReached}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      // the AnalyticsSpec fixture, in micro-batches, deliberately
      // unordered WITHIN a batch (the sort must restore time order)
      val batch1 = Seq(
        FunnelEvent(1L, "click", 2000L), FunnelEvent(1L, "view", 1000L),
        FunnelEvent(2L, "click", 1000L),
        // user 4: click at the SAME microsecond as view, click first in
        // arrival order — the multi-pass must still advance both stages
        FunnelEvent(4L, "click", 1000L), FunnelEvent(4L, "view", 1000L))
      val batch2 = Seq(
        FunnelEvent(1L, "purchase", 3000L), // crosses a batch boundary
        FunnelEvent(2L, "view", 2000L),     // click was BEFORE view: no stage 2
        FunnelEvent(3L, "view", 1000L), FunnelEvent(3L, "purchase", 2000L))
      val in = MemoryStream[FunnelEvent]
      val out = in.toDS().groupByKey(_.user_id)
        .transformWithState(new FunnelTracker(Seq("view", "click", "purchase")),
          TimeMode.None(), OutputMode.Append())
      val q = out.toDF().writeStream.outputMode("append")
        .format("memory").queryName("funnel_out").start()
      try {
        in.addData(batch1: _*); q.processAllAvailable()
        in.addData(batch2: _*); q.processAllAvailable()
        val got = spark.table("funnel_out").as[StageReached].collect()
          .map(r => (r.user_id, r.stage, r.event_type)).toSet
        assert(got == Set(
          (1L, 1, "view"), (1L, 2, "click"), (1L, 3, "purchase"),
          (2L, 1, "view"),
          (3L, 1, "view"),
          (4L, 1, "view"), (4L, 2, "click")))
        // parity: per-stage reach counts equal the batch operator's on the
        // same rows (all events were in-order across batches here)
        val all = (batch1 ++ batch2)
          .map(e => (e.user_id, e.event_type, new Timestamp(e.ts_us / 1000)))
          .toDF("user_id", "event_type", "ts")
        val batch = graft.queries.AnalyticsQ
          .funnelReach(all, Seq("view", "click", "purchase"))
          .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
        val streamed = spark.table("funnel_out").as[StageReached].collect()
          .groupBy(_.stage).view.mapValues(_.length.toLong).toMap
        assert(batch == Map(1L -> streamed(1), 2L -> streamed(2), 3L -> streamed(3)))
      } finally q.stop()
    }
  }

  test("funnel idle-TTL evicts stale users and a post-TTL event restarts cleanly") {
    import graft.streaming.{FunnelEvent, FunnelTracker, StageReached}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      val in = MemoryStream[FunnelEvent]
      val out = in.toDS().groupByKey(_.user_id)
        .transformWithState(
          new FunnelTracker(Seq("view", "click"), idleTtlMs = 500L),
          TimeMode.ProcessingTime(), OutputMode.Append())
      val q = out.toDF().writeStream.outputMode("append")
        .format("memory").queryName("funnel_ttl_out").start()
      // NOTE: processAllAvailable() never latches in ProcessingTime time
      // mode (see the LegAssembler timeout test) — poll the sink instead.
      def rowsNow() = spark.table("funnel_ttl_out").as[StageReached].collect()
        .map(r => (r.user_id, r.stage, r.event_type))
      try {
        // user 9 reaches stage 1 then goes idle; user 10 finishes the
        // funnel inside one batch — TTL must not disturb active users
        in.addData(FunnelEvent(9L, "view", 1000L),
          FunnelEvent(10L, "view", 1000L), FunnelEvent(10L, "click", 2000L))
        assert(eventually(30000)(rowsNow().toSet == Set(
          (9L, 1, "view"), (10L, 1, "view"), (10L, 2, "click"))),
          s"first batch never surfaced: ${rowsNow().toSeq}")
        // let user 9's state pass its 500ms idle TTL
        Thread.sleep(1500)
        // a fresh view must restart the funnel at stage 1 (with LIVE state
        // it would be ignored — stage 1 already reached — and only the
        // click would land, leaving the view count at 1); both events ride
        // one batch so the restarted state can't re-expire between them
        in.addData(FunnelEvent(9L, "view", 5000L), FunnelEvent(9L, "click", 6000L))
        assert(eventually(30000)(
          rowsNow().count(_ == ((9L, 1, "view"))) == 2),
          s"post-TTL view did not restart the funnel: ${rowsNow().toSeq}")
        // and the restarted funnel advances normally from there
        assert(eventually(30000)(rowsNow().contains((9L, 2, "click"))))
      } finally q.stop()
    }
  }

  test("transformWithState timeout flushes incomplete calls as partial") {
    import graft.streaming.{Leg, LegAssembler, AssembledCall}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      val in = MemoryStream[Leg]
      val out = in.toDS().groupByKey(_.call_id)
        .transformWithState(new LegAssembler(timeoutMs = 300),
          TimeMode.ProcessingTime(), OutputMode.Append())
      val q = out.toDF().writeStream.outputMode("append")
        .format("memory").queryName("tws_timeout_out").start()
      // NOTE: processAllAvailable() never latches with processing-time
      // timers (timer-driven batches keep resetting noNewData) — poll the
      // sink with a deadline instead.
      def rowsNow() = spark.table("tws_timeout_out").as[AssembledCall].collect()
        .map(c => c.call_id -> ((c.n_legs, c.total_duration, c.complete))).toMap
      try {
        in.addData(Leg("call_x", 1, 3, 10.0), Leg("call_x", 2, 3, 4.0)) // leg 3 never arrives
        in.addData(Leg("call_y", 1, 1, 1.0)) // completes immediately
        assert(eventually(30000)(rowsNow().contains("call_y")))
        assert(rowsNow()("call_y") == ((1, 1.0, true)))
        // the 300ms processing-time timer then flushes the partial call
        assert(eventually(30000)(rowsNow().contains("call_x")),
          s"timed-out call never flushed: ${rowsNow()}")
        assert(rowsNow()("call_x") == ((2, 14.0, false)))
      } finally q.stop()
    }
  }

  test("legs redelivered after completion are dropped by the done-tombstone") {
    import graft.streaming.{Leg, LegAssembler, AssembledCall}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      val in = MemoryStream[Leg]
      // long timeout: the tombstone must outlive the whole test
      val out = in.toDS().groupByKey(_.call_id)
        .transformWithState(new LegAssembler(timeoutMs = 120000),
          TimeMode.ProcessingTime(), OutputMode.Append())
      val q = out.toDF().writeStream.outputMode("append")
        .format("memory").queryName("tws_redeliver_out").start()
      def rowsNow() = spark.table("tws_redeliver_out").as[AssembledCall].collect()
      try {
        in.addData(Leg("call_r", 1, 2, 3.0), Leg("call_r", 2, 2, 4.0))
        assert(eventually(30000)(rowsNow().length == 1))
        assert(rowsNow().head == AssembledCall("call_r", 2, 7.0, complete = true))
        // redeliver a leg of the completed call: must NOT re-open state or
        // emit anything (previously it re-opened and later flushed a
        // spurious incomplete call at timer expiry)
        in.addData(Leg("call_r", 2, 2, 4.0))
        in.addData(Leg("call_z", 1, 1, 9.0)) // marker proving batches drained
        assert(eventually(30000)(rowsNow().exists(_.call_id == "call_z")))
        assert(rowsNow().count(_.call_id == "call_r") == 1)
      } finally q.stop()
    }
  }

  test("PipelineRunner start/stop/restart/control drives named stages") {
    val src = Files.createTempDirectory("graft_stage_src").toString
    val ckpt = Files.createTempDirectory("graft_stage_ckpt").toString
    val out = Files.createTempDirectory("graft_stage_out").toString
    spark.range(10).toDF("id").write.mode("append").parquet(src)
    val runner = new PipelineRunner(spark)
    runner.register(StageSpec(
      name = "double_ids",
      source = s => s.readStream.schema(StructType(Seq(StructField("id", LongType)))).parquet(src),
      transform = df => df.withColumn("doubled", col("id") * 2),
      sink = df => df.writeStream.format("parquet").outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt).trigger(Triggers.microBatch("100 milliseconds"))))
    val q = runner.start("double_ids")
    assert(runner.isRunning("double_ids"))
    assert(runner.start("double_ids").id == q.id, "start is idempotent while active")
    q.processAllAvailable()
    assert(spark.read.parquet(out).count() == 10)
    // control-packet path: the reference's stopsession wire format
    runner.control("s=double_ids\na=stopsession")
    assert(!runner.isRunning("double_ids"))
    // restart picks up from the checkpoint: add more data, only new rows land
    spark.range(10, 15).toDF("id").write.mode("append").parquet(src)
    runner.control("s=double_ids\na=startsession")
    val q2 = runner.start("double_ids")
    q2.processAllAvailable()
    val result = spark.read.parquet(out)
    assert(result.count() == 15, "checkpoint resume must not reprocess")
    assert(result.agg(max(col("doubled"))).head().getLong(0) == 28)
    runner.stopAll()
    assert(intercept[IllegalArgumentException](runner.start("nope")).getMessage.contains("unknown stage"))
  }

  test("maxFilesPerTrigger bounds each micro-batch (the prefetch=1 analogue)") {
    // The reference consumes its AMQP queues with prefetch batch 1
    // (MFramework.cpp:1173,1606) so one slow record can't monopolize a
    // session; the streaming twin is per-trigger admission control.
    val src = Files.createTempDirectory("graft_mft_src").toString
    val out = Files.createTempDirectory("graft_mft_out").toString
    val ckpt = Files.createTempDirectory("graft_mft_ckpt").toString
    (0 until 3).foreach { i =>
      spark.range(i * 10, i * 10 + 10).toDF("id").coalesce(1)
        .write.mode("append").parquet(src)
    }
    val q = spark.readStream
      .schema(StructType(Seq(StructField("id", LongType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
      .writeStream.format("parquet").outputMode("append")
      .option("path", out).option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 3, s"expected >=3 bounded batches, got ${batches.length}")
      assert(batches.forall(_.numInputRows <= 10),
        "each micro-batch must admit at most one file's rows")
      assert(spark.read.parquet(out).count() == 30)
    } finally q.stop()
  }

  test("singleton guard: a second query on the same checkpoint dir fails fast") {
    // The reference double-locks its config file (flock MFramework.cpp:492
    // + fcntl :576-578) so only one instance runs. Spark-native analogue:
    // the checkpoint dir IS the instance lock — its metadata pins the query
    // id, and with stopActiveRunOnRestart=false (set by GraftSession) the
    // StreamingQueryManager refuses a second active query with that id,
    // synchronously at start(), instead of the default latest-wins
    // takeover that would silently kill the live instance.
    val src = Files.createTempDirectory("graft_lock_src").toString
    val ckpt = Files.createTempDirectory("graft_lock_ckpt").toString
    val out1 = Files.createTempDirectory("graft_lock_out1").toString
    val out2 = Files.createTempDirectory("graft_lock_out2").toString
    spark.range(5).toDF("id").write.mode("append").parquet(src)
    def streamFrom(outDir: String) = spark.readStream
      .schema(StructType(Seq(StructField("id", LongType)))).parquet(src)
      .writeStream.format("parquet").outputMode("append")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Triggers.microBatch("100 milliseconds"))
    val first = streamFrom(out1).start()
    try {
      assert(first.isActive)
      // double-start must be rejected at start(), not fail asynchronously
      val e = intercept[Exception](streamFrom(out2).start())
      assert(e.getMessage.toLowerCase.contains("already active"),
        s"expected an already-active rejection, got: ${e.getMessage}")
      assert(first.isActive, "the live instance must survive the rejected start")
    } finally first.stop()
  }

  test("control ingress: a dropped packet file stops the target stage") {
    val src = Files.createTempDirectory("graft_ci_src").toString
    val ckpt = Files.createTempDirectory("graft_ci_ckpt").toString
    val out = Files.createTempDirectory("graft_ci_out").toString
    val ctlDir = Files.createTempDirectory("graft_ci_ctl").toString
    val ctlCkpt = Files.createTempDirectory("graft_ci_ctl_ckpt").toString
    spark.range(10).toDF("id").write.mode("append").parquet(src)
    val runner = new PipelineRunner(spark)
    runner.register(StageSpec(
      name = "ci_stage",
      source = s => s.readStream.schema(StructType(Seq(StructField("id", LongType)))).parquet(src),
      transform = identity,
      sink = df => df.writeStream.format("parquet").outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt).trigger(Triggers.microBatch("100 milliseconds"))))
    runner.start("ci_stage")
    val ingress = runner.controlIngress(ctlDir, ctlCkpt,
      Triggers.microBatch("100 milliseconds"))
    try {
      assert(runner.isRunning("ci_stage"))
      // external operator drops a wire packet file — no API call involved
      Files.writeString(java.nio.file.Paths.get(s"$ctlDir/cmd_001.pkt"),
        "s=ci_stage\na=stopsession")
      assert(eventually(30000)(!runner.isRunning("ci_stage")),
        "control packet file must stop the stage")
      // a second packet restarts it through the same listening channel
      Files.writeString(java.nio.file.Paths.get(s"$ctlDir/cmd_002.pkt"),
        "s=ci_stage\na=startsession")
      assert(eventually(30000)(runner.isRunning("ci_stage")),
        "control packet file must restart the stage")
      // a malformed packet (unknown stage) must NOT kill the channel:
      // the next good packet still lands
      Files.writeString(java.nio.file.Paths.get(s"$ctlDir/cmd_003.pkt"),
        "s=no_such_stage\na=startsession")
      Files.writeString(java.nio.file.Paths.get(s"$ctlDir/cmd_004.pkt"),
        "s=ci_stage\na=stopsession")
      assert(eventually(30000)(!runner.isRunning("ci_stage")),
        "ingress must survive a poison packet and process the next one")
      assert(ingress.isActive, "poison packet must not terminate the ingress query")
    } finally {
      ingress.stop()
      runner.stopAll()
    }
  }

  test("chained stages: stage N sink dir feeds stage N+1 source (linked sessions)") {
    // the reference's M_LINKED_SESSIONS DAG (MFramework.cpp:981-1011):
    // component boundaries become sink-dir → source-dir handoffs.
    val src = Files.createTempDirectory("graft_chain_src").toString
    val mid = Files.createTempDirectory("graft_chain_mid").toString
    val out = Files.createTempDirectory("graft_chain_out").toString
    val ck1 = Files.createTempDirectory("graft_chain_ck1").toString
    val ck2 = Files.createTempDirectory("graft_chain_ck2").toString
    spark.range(100).toDF("id").write.mode("append").parquet(src)
    val runner = new PipelineRunner(spark)
    val idSchema = StructType(Seq(StructField("id", LongType)))
    runner.register(StageSpec("stage1",
      s => s.readStream.schema(idSchema).parquet(src),
      df => df.filter(col("id") % 2 === 0), // prerating: drop odd records
      df => df.writeStream.format("parquet").outputMode("append")
        .option("path", mid).option("checkpointLocation", ck1)
        .trigger(Triggers.microBatch("100 milliseconds"))))
    runner.register(StageSpec("stage2",
      s => s.readStream.schema(idSchema).parquet(mid),
      df => df.withColumn("charge", col("id") * 2), // rating
      df => df.writeStream.format("parquet").outputMode("append")
        .option("path", out).option("checkpointLocation", ck2)
        .trigger(Triggers.microBatch("100 milliseconds"))))
    runner.control("s=0\na=startsession") // broadcast start, like session id 0
    try {
      runner.start("stage1").processAllAvailable()
      runner.start("stage2").processAllAvailable()
      val result = spark.read.parquet(out)
      assert(result.count() == 50)
      assert(result.agg(sum(col("charge"))).head().getLong(0) == (0L until 100 by 2).map(_ * 2).sum)
    } finally runner.stopAll()
  }

  test("file-source pipeline over events with AvailableNow drains and stops") {
    val src = Files.createTempDirectory("graft_events_src").toString
    val events = graft.core.Tables.load(spark, sfDir, "events")
    events.limit(200).write.mode("append").parquet(src)
    val stream = spark.readStream.schema(
      spark.read.parquet(src).schema).parquet(src)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val q = stream.writeStream.outputMode("complete").format("memory")
      .queryName("events_drain").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("events_drain").as[(String, Long)].collect().map(_._2).sum == 200)
  }

  test("streaming curation: quality gate + PII redaction + cross-batch dedup") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    // the batch curation operators are pure expressions, so they lift
    // into a stream unchanged: micro-batches of arriving documents get
    // quality-filtered, redacted and exactly-deduplicated across batches
    val curated = graft.queries.CurationQ.redactPii(
        in.toDF().toDF("doc_id", "text")
          .filter(size(split(col("text"), " ")) >= 3) // quality gate
          .withColumn("h", sha2(col("text"), 256))
          .dropDuplicates("h"), // stateful: dedups ACROSS micro-batches
        "text")
      .select(col("doc_id"), col("redacted"), col("n_email"))
    val q = curated.writeStream.outputMode("append")
      .format("memory").queryName("curated_out").start()
    try {
      in.addData((1L, "mail me at bob@corp.example.org today"),
        (2L, "too short"), (3L, "clean document with no pii at all"))
      q.processAllAvailable()
      // batch 2 re-delivers doc 1's text under a new id and adds one new doc
      in.addData((4L, "mail me at bob@corp.example.org today"),
        (5L, "another clean document arriving later"))
      q.processAllAvailable()
      val rows = spark.table("curated_out")
        .as[(Long, String, Long)].collect().sortBy(_._1)
      assert(rows.map(_._1).toSeq == Seq(1L, 3L, 5L), s"got ${rows.toSeq}")
      assert(rows.head._2 == "mail me at <EMAIL> today")
      assert(rows.head._3 == 1L)
      assert(rows.forall(r => !r._2.contains("@")))
    } finally q.stop()
  }

  test("streaming chunking: chunkOverlap lifts into a stream unchanged") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    // stateless map-only operator — each arriving doc fans out to its
    // strided chunks within the micro-batch, no state, no watermark
    val chunks = graft.queries.CurationQ.chunkOverlap(
      in.toDF().toDF("doc_id", "text"), window = 4, stride = 2)
    val q = chunks.writeStream.outputMode("append")
      .format("memory").queryName("chunk_out").start()
    try {
      in.addData((1L, "a b c d e f"), (2L, "x y"))
      q.processAllAvailable()
      val rows = spark.table("chunk_out").select("doc_id", "chunk_idx", "chunk")
        .as[(Long, Long, String)].collect().sortBy(r => (r._1, r._2))
      assert(rows.toSeq == Seq((1L, 0L, "a b c d"), (1L, 1L, "c d e f"),
        (2L, 0L, "x y")), rows.toSeq.toString)
    } finally q.stop()
  }

  test("CusumMonitor tracks shifts live with batch-twin parity and " +
      "surfaces late arrivals without folding them") {
    import graft.streaming.{CMon, CObs, CusumMonitor}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val ctx = spark.sqlContext
    withRocksDbState {
    val in = MemoryStream[CObs]
    val out = in.toDS().groupByKey(_.key)
      .transformWithState(
        new CusumMonitor(refDays = 7, kMilli = 500L, hMilli = 12000L),
        TimeMode.None(), OutputMode.Append())
    val q = out.toDF().writeStream.outputMode("append")
      .format("memory").queryName("cusum_out").start()
    try {
      // key 1: the ThirdWaveSpec "up" series — a reference week at 10,
      // then a persistent shift to 12, split ACROSS batches so the
      // running state carries μ and both statistics over the boundary
      val ref = (1 to 7).map(i => CObs(1L, i.toLong, 10L))
      in.addData(ref ++ (8 to 12).map(i => CObs(1L, i.toLong, 12L)): _*)
      q.processAllAvailable()
      in.addData((13 to 16).map(i => CObs(1L, i.toLong, 12L)): _*)
      q.processAllAvailable()
      val mon = spark.table("cusum_out").as[CMon].collect().toSeq
      val live = mon.filter(!_.late)
      // batch-twin parity: peaks, alarm day, monitored count vs q300's
      // oracle-checked operator over the same in-order series
      val batch = graft.queries.AnalyticsQ.cusumShift(
          ((1 to 7).map(i => (1L, i.toLong, 10L)) ++
            (8 to 16).map(i => (1L, i.toLong, 12L)))
            .toDF("g", "x", "y"), "g", "x", "y")
        .select(col("n_monitored"), col("peak_hi"), col("peak_lo"),
          col("alarm_x"))
        .as[(Long, Long, Long, Option[Long])].head()
      assert(live.size.toLong == batch._1, s"$live vs $batch")
      assert(live.map(_.c_hi).max == batch._2 &&
        live.map(_.c_lo).max == batch._3, s"$live vs $batch")
      assert(live.filter(_.alarm).map(_.x).min == batch._4.get,
        s"$live vs $batch")
      // a late replay of day 9 is SURFACED but must not corrupt state
      in.addData(CObs(1L, 9L, 99L), CObs(1L, 17L, 12L))
      q.processAllAvailable()
      val mon2 = spark.table("cusum_out").as[CMon].collect().toSeq
      assert(mon2.exists(m => m.x == 9L && m.late), mon2.toString)
      val d17 = mon2.find(m => m.x == 17L && !m.late).get
      // day 17 continues the clean recurrence: c_hi grows another 1500
      assert(d17.c_hi == live.map(_.c_hi).max + 1500L, d17.toString)
    } finally q.stop()
    }
  }

  test("EwmaMonitor tracks the chart live with row-exact batch-twin " +
      "parity and surfaces late arrivals without folding them") {
    import graft.streaming.{EMon, EObs, EwmaMonitor}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      val in = MemoryStream[EObs]
      val out = in.toDS().groupByKey(_.key)
        .transformWithState(
          new EwmaMonitor(alphaMilli = 200L, limitPpm = 400000L),
          TimeMode.None(), OutputMode.Append())
      val q = out.toDF().writeStream.outputMode("append")
        .format("memory").queryName("ewma_out").start()
      try {
        // the Round14OpsSpec series, split ACROSS batches so the level
        // carries over the boundary: steady 100s then a 500 spike
        val ys = Seq(100L, 110L, 100L, 500L, 100L)
        in.addData(ys.take(2).zipWithIndex.map { case (y, i) =>
          EObs(1L, i.toLong + 1L, y) }: _*)
        q.processAllAvailable()
        in.addData(ys.drop(2).zipWithIndex.map { case (y, i) =>
          EObs(1L, i.toLong + 3L, y) }: _*)
        q.processAllAvailable()
        val live = spark.table("ewma_out").as[EMon].collect().toSeq
          .filter(!_.late).sortBy(_.x)
        // ROW-EXACT parity with the oracle-checked batch card
        val batch = graft.queries.AnalyticsQ.ewmaChart(
            ys.zipWithIndex.map { case (y, i) => (1L, i.toLong + 1L, y) }
              .toDF("g", "o", "x"), "g", "o", "x",
            alphaMilli = 200L, limitPpm = 400000L)
          .orderBy(col("o"))
          .select(col("o"), col("pred_milli"), col("resid_milli"),
            col("alarm"))
          .as[(Long, Option[Long], Option[Long], Boolean)]
          .collect().toSeq
        assert(live.map(m =>
          (m.x, m.pred_milli, m.resid_milli, m.alarm)) == batch,
          s"$live vs $batch")
        assert(live.count(_.alarm) == 2, live.toString)
        // a late replay of x=2 is SURFACED but must not move the level
        in.addData(EObs(1L, 2L, 999L), EObs(1L, 6L, 100L))
        q.processAllAvailable()
        val mon2 = spark.table("ewma_out").as[EMon].collect().toSeq
        assert(mon2.exists(m => m.x == 2L && m.late), mon2.toString)
        // x=6 continues the clean recurrence from e5 = 165024
        val d6 = mon2.find(m => m.x == 6L && !m.late).get
        assert(d6.pred_milli == Some(165024L) &&
          d6.resid_milli == Some(-65024L), d6.toString)
      } finally q.stop()
    }
  }

  test("PolitenessMonitor streams q358 bursts with row-exact parity on " +
      "in-order feeds (peer groups fold batch-style), folds same-second " +
      "stragglers across boundaries, and surfaces strictly-late ones") {
    import graft.streaming.{PFetch, PMon, PolitenessMonitor}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      val in = MemoryStream[PFetch]
      val out = in.toDS().groupByKey(_.host)
        .transformWithState(
          new PolitenessMonitor(cap = 2, windowSec = 60),
          TimeMode.None(), OutputMode.Append())
      val q = out.toDF().writeStream.outputMode("append")
        .format("memory").queryName("pol_out").start()
      try {
        // h1: a same-second peer pair at 10, then 40 (window [0,40]
        // holds 3), then 120 (alone); h2: 0 and 60 (disjoint windows)
        val feed = Seq(("h1", 10L), ("h1", 10L), ("h1", 40L),
          ("h1", 120L), ("h2", 0L), ("h2", 60L))
        in.addData(feed.take(3).map { case (h, s) => PFetch(h, s) }: _*)
        q.processAllAvailable()
        in.addData(feed.drop(3).map { case (h, s) => PFetch(h, s) }: _*)
        q.processAllAvailable()
        val live = spark.table("pol_out").as[PMon].collect().toSeq
          .filter(!_.late)
        // ROW-EXACT burst parity with the batch RANGE frame (peers
        // inclusive): replay the frame over the settled feed
        val batch = feed.toDF("host", "sec")
          .withColumn("burst", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("host")).orderBy(col("sec"))
              .rangeBetween(-59L, 0L)))
          .as[(String, Long, Long)].collect().toSeq.sorted
        assert(live.map(m => (m.host, m.sec, m.burst.get)).sorted ==
          batch, s"$live vs $batch")
        // folded card parity on the same feed
        val card = graft.queries.CrawlQ.politenessCard(
            feed.toDF("host", "sec"), "host", "sec", cap = 2)
          .orderBy(col("host"))
          .as[(String, Long, Long, Long, Boolean)].collect().toSeq
        val folded = live.groupBy(_.host).toSeq.map { case (h, ms) =>
          (h, ms.size.toLong, ms.map(_.burst.get).max,
            ms.count(_.over).toLong, ms.map(_.burst.get).max <= 2L)
        }.sortBy(_._1)
        assert(folded == card, s"$folded vs $card")
        assert(live.count(_.over) == 1, live.toString)  // the 3-burst at 40
        // same-second straggler ACROSS the boundary: h1@120 again ->
        // folds as a peer (burst 2, as-of semantics), not late
        in.addData(PFetch("h1", 120L))
        q.processAllAvailable()
        val straggler = spark.table("pol_out").as[PMon].collect().toSeq
          .filter(m => m.host == "h1" && m.sec == 120L)
        assert(straggler.map(_.burst).sorted ==
          Seq(Some(1L), Some(2L)), straggler.toString)
        assert(straggler.forall(!_.late), straggler.toString)
        // strictly-late arrival: surfaced with NULL burst, state kept
        in.addData(PFetch("h1", 30L), PFetch("h1", 121L))
        q.processAllAvailable()
        val tail = spark.table("pol_out").as[PMon].collect().toSeq
        val lateRow = tail.find(m => m.host == "h1" && m.sec == 30L).get
        assert(lateRow.late && lateRow.burst.isEmpty, lateRow.toString)
        // 121 continues from the untouched ring {120, 120}: burst 3
        val after = tail.find(m => m.host == "h1" && m.sec == 121L).get
        assert(!after.late && after.burst == Some(3L) && after.over,
          after.toString)
      } finally q.stop()
    }
  }

  test("ForecastMonitor streams the q340 interval with batch-twin parity " +
      "across batch boundaries, a bounded residual ring, and late " +
      "arrivals surfaced never folded") {
    import graft.streaming.{FMon, FObs, ForecastMonitor}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      val in = MemoryStream[FObs]
      val out = in.toDS().groupByKey(_.key)
        .transformWithState(
          new ForecastMonitor(alphaMilli = 300L, loPct = 10, hiPct = 90,
            ringSize = 64),
          TimeMode.None(), OutputMode.Append())
      val q = out.toDF().writeStream.outputMode("append")
        .format("memory").queryName("forecast_out").start()
      try {
        val ys = Seq(100L, 120L, 90L, 130L, 80L, 140L, 110L)
        in.addData(ys.take(3).zipWithIndex.map { case (y, i) =>
          FObs(1L, i.toLong + 1L, y) }: _*)
        q.processAllAvailable()
        in.addData(ys.drop(3).zipWithIndex.map { case (y, i) =>
          FObs(1L, i.toLong + 4L, y) }: _*)
        q.processAllAvailable()
        val live = spark.table("forecast_out").as[FMon].collect().toSeq
          .filter(!_.late).sortBy(_.x)
        // ROW-EXACT parity: each live row equals the oracle-checked
        // batch card over the PREFIX it had seen at emission time —
        // the level fold AND the band's order statistics
        (2 to ys.length).foreach { k =>
          def card = graft.queries.AnalyticsQ.forecastIntervalCard(
            ys.take(k).zipWithIndex.map { case (y, i) =>
              (1L, i.toLong + 1L, y) }.toDF("g", "o", "y"),
            "g", "o", "y", alphaMilli = 300L, loPct = 10, hiPct = 90)
          val b = card.select(col("level"), col("lo_resid"),
              col("hi_resid"), col("next_lo"), col("next_hi"))
            .as[(Option[Long], Option[Long], Option[Long], Option[Long],
              Option[Long])].head()
          val m = live.find(_.x == k.toLong).get
          assert((m.level, m.lo_resid, m.hi_resid, m.next_lo, m.next_hi)
            == b, s"prefix $k: live $m vs batch $b")
        }
        // a late replay of x=2 is SURFACED but moves neither the level
        // nor the ring: the next in-order row continues as if it never
        // happened (parity with the in-order batch card over ys :+ 105)
        in.addData(FObs(1L, 2L, 999L), FObs(1L, 8L, 105L))
        q.processAllAvailable()
        val mon2 = spark.table("forecast_out").as[FMon].collect().toSeq
        assert(mon2.exists(m => m.x == 2L && m.late), mon2.toString)
        val b8 = graft.queries.AnalyticsQ.forecastIntervalCard(
            (ys :+ 105L).zipWithIndex.map { case (y, i) =>
              (1L, i.toLong + 1L, y) }.toDF("g", "o", "y"),
            "g", "o", "y", alphaMilli = 300L, loPct = 10, hiPct = 90)
          .select(col("level"), col("lo_resid"), col("hi_resid"))
          .as[(Option[Long], Option[Long], Option[Long])].head()
        val m8 = mon2.find(m => m.x == 8L && !m.late).get
        assert((m8.level, m8.lo_resid, m8.hi_resid) == b8,
          s"late arrival corrupted state: $m8 vs $b8")
      } finally q.stop()
    }
  }

  test("ForecastMonitor's fixed ring bounds state: past ringSize the " +
      "band is the batch band over the last ringSize residuals") {
    import graft.streaming.{FMon, FObs, ForecastMonitor}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      val in = MemoryStream[FObs]
      val out = in.toDS().groupByKey(_.key)
        .transformWithState(
          new ForecastMonitor(alphaMilli = 300L, loPct = 10, hiPct = 90,
            ringSize = 4),
          TimeMode.None(), OutputMode.Append())
      val q = out.toDF().writeStream.outputMode("append")
        .format("memory").queryName("forecast_ring_out").start()
      try {
        val ys = Seq(100L, 150L, 60L, 200L, 40L, 170L, 90L, 160L)
        in.addData(ys.zipWithIndex.map { case (y, i) =>
          FObs(1L, i.toLong + 1L, y) }: _*)
        q.processAllAvailable()
        // in-memory replay of the exact fold, keeping ALL residuals;
        // the monitor's band must match the LAST-4 window of it
        var lvl = ys.head
        val resids = scala.collection.mutable.ArrayBuffer[Long]()
        val expect = ys.drop(1).map { y =>
          val r = y - lvl
          resids += r
          lvl = lvl + (300L * r) / 1000L
          val win = resids.takeRight(4).sorted
          def at(p: Int) =
            win(math.max(1L, (p.toLong * win.size + 99L) / 100L).toInt - 1)
          (lvl, at(10), at(90), win.size.toLong)
        }
        val live = spark.table("forecast_ring_out").as[FMon].collect()
          .toSeq.filter(m => !m.late && m.x >= 2L).sortBy(_.x)
        assert(live.map(m => (m.level.get, m.lo_resid.get,
          m.hi_resid.get, m.n_resid)) == expect,
          s"${live.toString} vs $expect")
      } finally q.stop()
    }
  }

  test("VelocityMonitor flags bursts live with batch-twin parity") {
    import graft.streaming.{VAlarm, VelocityMonitor, VEvent}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      val in = MemoryStream[VEvent]
      val out = in.toDS().groupByKey(_.user_id)
        .transformWithState(
          new VelocityMonitor(windowSec = 60L, threshold = 3L),
          TimeMode.None(), OutputMode.Append())
      val q = out.toDF().writeStream.outputMode("append")
        .format("memory").queryName("velocity_out").start()
      def alarms() = spark.table("velocity_out").as[VAlarm].collect()
        .map(a => a.event_id -> a.n_window).toMap
      try {
        // user 1: events at 0, 30 — below threshold; the third at 59
        // (inside the window of both) trips it; the same-second pair at 61
        // counts 4 (30, 59, 61, 61); by 125 the window has drained
        in.addData(VEvent(1L, 1L, 0L), VEvent(1L, 2L, 30L))
        q.processAllAvailable()
        assert(alarms().isEmpty, alarms().toString)
        // cross-batch state: the burst completes in a LATER batch;
        // same-second peers (events 5, 6 at sec 61) count each other
        in.addData(VEvent(1L, 3L, 59L), VEvent(1L, 5L, 61L),
          VEvent(1L, 6L, 61L), VEvent(1L, 9L, 125L), VEvent(2L, 7L, 59L))
        q.processAllAvailable()
        val got = alarms()
        // batch-twin parity: the SAME events through the oracle-checked
        // batch operator (windowSec 60, threshold 3)
        val batch = graft.queries.AnalyticsQ.velocityFlags(
            Seq((1L, 1L, 0L), (2L, 1L, 30L), (3L, 1L, 59L),
              (5L, 1L, 61L), (6L, 1L, 61L), (9L, 1L, 125L), (7L, 2L, 59L))
              .toDF("event_id", "user_id", "sec")
              .withColumn("ts", col("sec").cast(TimestampType)),
            windowSec = 60L, threshold = 3L)
          .select("event_id", "n_window")
          .as[(Long, Long)].collect().toMap
        assert(got == batch, s"streamed=$got batch=$batch")
        assert(got.keySet == Set(3L, 5L, 6L), got.toString)
        assert(got(5L) == 4L && got(6L) == 4L,
          "same-second peers must count each other: " + got)
      } finally q.stop()
    }
  }

  test("cycle rollover: event-time cycles close by straddle AND by timer, per-cycle parity with q233") {
    import graft.streaming.{CycleMarginalRater, CycleRatedRec, CycleUsageRec}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      // tiers: first 100 units at 5, beyond at 3; cycles of 100 seconds
      val tiers = Seq((0L, 100L, 5L), (100L, Long.MaxValue, 3L))
      def rec(acct: Long, e: Long, sec: Long, u: Long) =
        CycleUsageRec(acct, e, new Timestamp(sec * 1000L), u)
      val in = MemoryStream[CycleUsageRec]
      val out = in.toDS().withWatermark("ts", "0 seconds")
        .groupByKey(_.account_id)
        .transformWithState(new CycleMarginalRater(tiers, cycleSec = 100L),
          TimeMode.EventTime(), OutputMode.Append())
      val q = out.toDF().writeStream.outputMode("append")
        .format("memory").queryName("cycle_out").start()
      def rows() = spark.table("cycle_out").as[CycleRatedRec].collect()
      try {
        // cycle 0 of account 7: u=30 then u=80 (crosses the tier boundary)
        in.addData(rec(7L, 1L, 10L, 30L), rec(7L, 2L, 50L, 80L))
        q.processAllAvailable()
        assert(rows().count(_.cycle_total) == 0, "no cycle closed yet")
        val m1 = rows().map(r => r.event_id -> r.charge_centi).toMap
        // T(30)=150; T(110)-T(30) = (500+30)-150 = 380
        assert(m1 == Map(1L -> 150L, 2L -> 380L), m1.toString)

        // the STRADDLING record: event time in cycle 1 arrives while
        // cycle 0 is open — the arrival must close cycle 0 (total row)
        // and rate the record against a FRESH accumulator (tier-1 rate),
        // not against last cycle's 110 units
        in.addData(rec(7L, 3L, 120L, 40L))
        q.processAllAvailable()
        val totals1 = rows().filter(_.cycle_total)
        assert(totals1.map(t => (t.cycle, t.units, t.charge_centi)).toSeq
          == Seq((0L, 110L, 530L)), totals1.mkString(";"))
        assert(rows().find(_.event_id == 3L).get.charge_centi == 200L,
          "straddling record must bill from a reset accumulator")

        // advance the watermark past cycle 1's end (ts 200) via another
        // account; the TIMER then closes account 7's cycle 1 even though
        // account 7 never sends again
        in.addData(rec(8L, 9L, 250L, 10L))
        q.processAllAvailable()
        in.addData(rec(8L, 10L, 260L, 5L)) // one more batch to fire timers
        q.processAllAvailable()
        assert(eventually(30000)(rows().exists(t =>
          t.cycle_total && t.account_id == 7L && t.cycle == 1L)),
          s"cycle-1 timer never fired: ${rows().mkString(";")}")
        val t1 = rows().find(t => t.cycle_total && t.account_id == 7L &&
          t.cycle == 1L).get
        assert((t1.units, t1.charge_centi) == ((40L, 200L)), t1.toString)

        // per-cycle parity with the q233 batch operator: charges per
        // (account, cycle) telescoped through marginalTieredCharges with
        // the composite key must equal the streamed per-record sums AND
        // the cycle-total rows
        val batchIn = Seq((1L, "7:0", 10L, 30L), (2L, "7:0", 50L, 80L),
            (3L, "7:1", 120L, 40L), (9L, "8:2", 250L, 10L),
            (10L, "8:2", 260L, 5L))
          .toDF("event_id", "acct_cycle", "sec", "u")
          .withColumn("ts", col("sec").cast(TimestampType))
        val batch = graft.queries.EventQ.marginalTieredCharges(
            batchIn, col("u"), tiers, keyCol = "acct_cycle")
          .groupBy(col("k")).agg(sum(col("charge_centi")).as("c"))
          .as[(String, Long)].collect().toMap
        val streamedPerCycle = rows().filterNot(_.cycle_total)
          .groupBy(r => s"${r.account_id}:${r.cycle}")
          .view.mapValues(_.map(_.charge_centi).sum).toMap
        assert(batch.view.filterKeys(streamedPerCycle.contains).toMap
          == streamedPerCycle.filter { case (k, _) => batch.contains(k) },
          s"batch=$batch streamed=$streamedPerCycle")
        // every closed cycle's total row equals its per-record sum
        rows().filter(_.cycle_total).foreach { t =>
          val k = s"${t.account_id}:${t.cycle}"
          assert(streamedPerCycle(k) == t.charge_centi, s"$k: $t")
        }
      } finally q.stop()
    }
  }

  test("SupervisorListener auto-restarts a crashing stage up to its budget") {
    val src = Files.createTempDirectory("graft_sup_src").toString
    spark.range(5).toDF("id").write.mode("append").parquet(src)
    val runner = new PipelineRunner(spark)
    val sup = new SupervisorListener(runner, maxRestarts = 2)
    spark.streams.addListener(sup)
    try {
      runner.register(StageSpec("crashy",
        s => s.readStream.schema(StructType(Seq(StructField("id", LongType)))).parquet(src),
        df => df.withColumn("boom",
          udf((id: Long) => { throw new RuntimeException("plugin crash"); id }).apply(col("id"))),
        df => df.writeStream.format("noop").outputMode("append")
          .trigger(Triggers.microBatch("100 milliseconds"))))
      runner.start("crashy")
      // monitor semantics (MFramework.cpp:1931-1970): dead session is
      // restarted; our budget stops after maxRestarts attempts
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline && sup.restartCount("crashy") < 2)
        Thread.sleep(200)
      assert(sup.restartCount("crashy") >= 2,
        s"supervisor restarted only ${sup.restartCount("crashy")} times")
    } finally {
      spark.streams.removeListener(sup)
      runner.stopAll()
    }
  }

  test("TrunkGauge cap collapses only swept deltas — open calls stay exact") {
    import graft.streaming.{TCall, TGauge, TrunkGauge}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      val in = MemoryStream[TCall]
      val out = in.toDS().groupByKey(_.trunk)
        .transformWithState(
          new TrunkGauge(horizonSec = 100000L, maxDeltas = 2),
          TimeMode.None(), OutputMode.Append())
      val q = out.toDF().writeStream.outputMode("append")
        .format("memory").queryName("trunk_gauge_cap").start()
      try {
        // three OPEN calls overflow maxDeltas = 2: the cap must collapse
        // the swept starts into the baseline, never the pending ends
        in.addData(TCall("t", 0L, 1000L), TCall("t", 10L, 1000L),
          TCall("t", 20L, 1000L))
        q.processAllAvailable()
        in.addData(TCall("t", 30L, 900L))
        q.processAllAvailable()
        val g = spark.table("trunk_gauge_cap").as[TGauge].collect().last
        // all four calls still open at hw = 30 — exact despite the cap
        assert(g.current == 4L && g.peak_concurrent == 4L &&
          g.peak_at_sec == Some(30L), g.toString)
      } finally q.stop()
    }
  }

  test("TrunkGauge tracks live concurrency with batch-twin parity") {
    import graft.streaming.{TCall, TGauge, TrunkGauge}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      val in = MemoryStream[TCall]
      val out = in.toDS().groupByKey(_.trunk)
        .transformWithState(new TrunkGauge(horizonSec = 1000L),
          TimeMode.None(), OutputMode.Append())
      val q = out.toDF().writeStream.outputMode("append")
        .format("memory").queryName("trunk_gauge").start()
      def last() = spark.table("trunk_gauge").as[TGauge].collect()
        .groupBy(_.trunk).map { case (t, gs) => t -> gs.last }
      try {
        // batch 1: two overlapping calls -> peak 2 at 50, current 2 at
        // hw = 50; plus a zero-length attempt on t2
        in.addData(TCall("t1", 0L, 100L), TCall("t1", 50L, 150L),
          TCall("t2", 10L, 10L))
        q.processAllAvailable()
        val g1 = last()
        assert(g1("t1") == TGauge("t1", 2L, 2L, 2L, Some(50L)), g1.toString)
        assert(g1("t2") == TGauge("t2", 1L, 0L, 0L, None), g1.toString)
        // batch 2, cross-batch state: a call starting exactly at the
        // first one's end (150) must NOT raise the peak (end frees the
        // circuit); a later burst raises it to 3
        in.addData(TCall("t1", 150L, 200L))
        q.processAllAvailable()
        in.addData(TCall("t1", 160L, 210L), TCall("t1", 170L, 220L))
        q.processAllAvailable()
        val g2 = last()("t1")
        assert(g2.peak_concurrent == 3L && g2.peak_at_sec == Some(170L), g2)
        assert(g2.n_calls == 5L && g2.current == 3L, g2)
        // batch-twin parity: the SAME calls through the oracle-checked
        // batch operator
        val batch = graft.queries.RoutingQ.trunkPeaks(
          Seq(("t1", 0L, 100L), ("t1", 50L, 150L), ("t2", 10L, 10L),
            ("t1", 150L, 200L), ("t1", 160L, 210L), ("t1", 170L, 220L))
            .toDF("trunk", "start_sec", "end_sec"))
          .select("trunk", "n_calls", "peak_concurrent", "peak_at_sec")
          .as[(String, Long, Long, Option[Long])].collect()
          .map(r => r._1 -> r).toMap
        val live = last()
        batch.foreach { case (t, (_, n, p, at)) =>
          val g = live(t)
          assert((g.n_calls, g.peak_concurrent, g.peak_at_sec) == ((n, p, at)),
            s"trunk $t: live=$g batch=${batch(t)}")
        }
      } finally q.stop()
    }
  }

  test("MetricsLog appends one queryable JSON line per micro-batch and " +
      "a terminated line on stop") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("graft_metrics").toString
    val ml = new graft.streaming.MetricsLog(s"$base/metrics.jsonl",
      queueDir = Some(s"$base/logq"))
    spark.streams.addListener(ml)
    try {
      Files.createDirectories(Paths.get(s"$base/in"))
      Files.write(Paths.get(s"$base/in/w1.csv"),
        "call_id,seq,total,duration_sec\n1:1,1,1,10.0\n2:1,1,1,20.0\n"
          .getBytes("UTF-8"))
      val q = spark.readStream
        .schema(graft.streaming.LiveRatingChain.legSchema)
        .option("header", "true").csv(s"$base/in")
        .writeStream.queryName("metrics_probe")
        .option("checkpointLocation", s"$base/ckpt")
        .format("parquet").option("path", s"$base/out")
        .start()
      q.processAllAvailable()
      q.stop()
      // the listener bus is async — poll for the terminated line
      assert(eventually(10000L) {
        val s = new String(Files.readAllBytes(
          Paths.get(s"$base/metrics.jsonl")), "UTF-8")
        s.contains("\"event\":\"terminated\"") &&
          s.contains("\"stage\":\"metrics_probe\"")
      }, "metrics lines never appeared")
      val m = spark.read.json(s"$base/metrics.jsonl")
      val batch = m.filter(col("batch_id").isNotNull &&
        col("stage") === "metrics_probe")
      assert(batch.count() >= 1, "no per-batch metrics row")
      val rows = batch.agg(sum(col("input_rows"))).head.getLong(0)
      assert(rows == 2L, s"input_rows should total the fed legs: $rows")
      // the terminated LINE ITSELF carries the stage (run_id→stage map;
      // Spark's terminated event has no name) — the scaladoc contract
      assert(m.filter(col("event") === "terminated" &&
        col("stage") === "metrics_probe").count() >= 1,
        "terminated line must be stamped with its stage")
      // packet-plane publication leg (LoggerWriter.cpp:208-213): a
      // downstream packetqueue consumer reads the SAME health feed as
      // s/c/l/m wire packets — parse, level-filter, m= back through JSON
      val pk = spark.read.option("wholetext", "true")
        .text(s"$base/logq")
        .select(graft.etl.PacketCodec.parse(col("value")).as("p"))
        .select(element_at(col("p"), "s").as("s"),
          element_at(col("p"), "c").as("c"),
          element_at(col("p"), "l").as("l"),
          element_at(col("p"), "m").as("m"))
      assert(pk.filter(col("s") =!= "1").count() == 0, "all packets s=1")
      val info = graft.etl.AuditLog.levelFilter(pk, col("l"),
        graft.etl.AuditLog.Levels("I"))
        .filter(col("c") === "metrics_probe")
      val pkRows = info
        .select(get_json_object(col("m"), "$.input_rows")
          .cast("long").as("r"))
        .agg(sum(col("r"))).head.getLong(0)
      assert(pkRows == 2L,
        s"packet-plane feed must carry the same batch rows: $pkRows")
      // clean stop publishes at level N (E is reserved for errors)
      assert(pk.filter(col("l") === "N" &&
        col("m").contains("\"event\":\"terminated\"")).count() >= 1,
        "clean termination must land as an N-level packet")
      assert(m.filter(col("event") === "terminated").count() >= 1)
      // RESTART: a fresh listener on the same queue dir must seed its
      // packet counter PAST the existing packets — rename-over-existing
      // is a silent replace on POSIX, so a zero-seeded restart would
      // overwrite the oldest health packets still in the queue
      val before = new java.io.File(s"$base/logq").list().toSet
      spark.streams.removeListener(ml)
      val ml2 = new graft.streaming.MetricsLog(s"$base/metrics.jsonl",
        queueDir = Some(s"$base/logq"))
      spark.streams.addListener(ml2)
      try {
        Files.write(Paths.get(s"$base/in/w2.csv"),
          "call_id,seq,total,duration_sec\n3:1,1,1,30.0\n".getBytes("UTF-8"))
        val q2 = spark.readStream
          .schema(graft.streaming.LiveRatingChain.legSchema)
          .option("header", "true").csv(s"$base/in")
          .writeStream.queryName("metrics_probe2")
          .option("checkpointLocation", s"$base/ckpt2")
          .format("parquet").option("path", s"$base/out2")
          .start()
        q2.processAllAvailable()
        q2.stop()
        assert(eventually(10000L) {
          val after = new java.io.File(s"$base/logq").list().toSet
          before.subsetOf(after) && after.size > before.size
        }, "restarted listener must append packets, never overwrite")
      } finally {
        spark.streams.removeListener(ml2)
        ml2.close()
      }
    } finally {
      spark.streams.removeListener(ml)
      ml.close()
    }
  }
}
