package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.PacketQueueSink
import graft.streaming.LiveRatingChain

/** The packet-protocol WRITE side + consumed-prefix archival: two chain
  * stages handing off with BOTH ends on the reference's `f=` pointer
  * contract (data file first, packet rename-in second), exactly-once
  * across kill-and-restart, replay-swept batches, and a queue whose
  * consumed prefix archives so the listing stays O(backlog).
  */
class PacketQueueSinkSpec extends SparkSpec {

  import spark.implicits._

  private def write(path: String, body: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), body.getBytes("UTF-8"))
  }

  private def legsCsv(rows: Seq[String]): String =
    ("call_id,seq,total,duration_sec" +: rows).mkString("\n")

  private def listNames(dir: String): Seq[String] =
    if (!Files.exists(Paths.get(dir))) Seq.empty
    else {
      val s = Files.list(Paths.get(dir))
      try s.iterator().asScala.map(_.getFileName.toString).toSeq
      finally s.close()
    }

  implicit private class Let[A](private val a: A) {
    def let[B](f: A => B): B = f(a)
  }

  test("two stages hand off with both ends on the packet protocol") {
    val base = Files.createTempDirectory("graft_pktsink").toString

    def startProducer() = spark.readStream
      .schema(LiveRatingChain.legSchema)
      .option("header", "true").csv(s"$base/inbox")
      .let(df => PacketQueueSink.sink(spark, s"$base/data",
        s"$base/queue", s"$base/ckpt/producer")(df).start())

    def startConsumer() = spark.readStream.format("packetqueue")
      .schema(LiveRatingChain.legSchema)
      .option("path", s"$base/queue").option("root", s"$base/data")
      .load()
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt/consumer")
      .outputMode("append").start()

    Files.createDirectories(Paths.get(s"$base/inbox"))
    Files.createDirectories(Paths.get(s"$base/queue"))
    write(s"$base/inbox/w1.csv", legsCsv(Seq("1:1,1,1,10.0", "1:2,1,1,20.0")))
    val p1 = startProducer(); val c1 = startConsumer()
    try {
      p1.processAllAvailable(); c1.processAllAvailable()
      assert(spark.read.parquet(s"$base/out").count() == 2)
      // a data file with NO packet is invisible to the consumer — the
      // packet is the commit marker
      write(s"$base/data/orphan.csv", legsCsv(Seq("9:9,1,1,99.0")))
      c1.processAllAvailable()
      assert(spark.read.parquet(s"$base/out").count() == 2)
    } finally { p1.stop(); c1.stop() }

    // kill-and-restart both ends; a wave that landed while down flows
    // exactly once
    write(s"$base/inbox/w2.csv", legsCsv(Seq("2:1,1,1,30.0")))
    val p2 = startProducer(); val c2 = startConsumer()
    try {
      p2.processAllAvailable(); c2.processAllAvailable()
      val out = spark.read.parquet(s"$base/out")
        .select(col("call_id")).as[String].collect().sorted.toSeq
      assert(out == Seq("1:1", "1:2", "2:1"),
        s"lost or duplicated across restart: $out")
    } finally { p2.stop(); c2.stop() }
  }

  test("a replayed batch sweeps its own prior attempt (repartition-safe)") {
    val base = Files.createTempDirectory("graft_pktreplay").toString
    val batch4 = Seq(("1:1", 1, 1, 10.0), ("1:2", 1, 1, 20.0),
      ("1:3", 1, 1, 30.0), ("1:4", 1, 1, 40.0))
      .toDF("call_id", "seq", "total", "duration_sec")
    // attempt 1: several partitions -> one data file + packet per
    // NON-EMPTY partition (the CSV writer skips empty ones)
    PacketQueueSink.writeBatch(spark, batch4.repartition(4), 7L,
      s"$base/data", s"$base/queue")
    val n1 = listNames(s"$base/queue").count(_.endsWith(".pkt"))
    assert(n1 >= 2, s"expected a multi-file first attempt, got $n1")
    // the replay repartitioned differently: ONE file must replace all
    // four, not sit beside them
    PacketQueueSink.writeBatch(spark, batch4.repartition(1), 7L,
      s"$base/data", s"$base/queue")
    assert(listNames(s"$base/queue").count(_.endsWith(".pkt")) == 1,
      listNames(s"$base/queue").toString)
    assert(listNames(s"$base/data").count(_.endsWith(".csv")) == 1)
    val rows = spark.readStream.format("packetqueue")
      .schema(LiveRatingChain.legSchema)
      .option("path", s"$base/queue").load()
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    try {
      rows.processAllAvailable()
      assert(spark.read.parquet(s"$base/out").count() == 4)
    } finally rows.stop()
  }

  test("the chain's ingest->assembly handoff rides the packet protocol") {
    // the real topology with the legs-store handoff swapped onto the
    // reference's exact contract: ingest SINKS via PacketQueueSink
    // (CSV data files + f= packets), assembly SOURCES via the
    // packetqueue reader (archive on) — transform logic of both stages
    // untouched (the StageSpec seam), kill-and-restart exactly-once,
    // rated output identical to the parquet-handoff chain's numbers
    import org.apache.spark.sql.types._
    withRocksDbState {
      val base = Files.createTempDirectory("graft_pktchain2").toString
      val runner = new graft.streaming.PipelineRunner(spark)
      try {
        val tiers = Seq((0L, 100L, 5L), (100L, 300L, 3L),
          (300L, Long.MaxValue, 1L))
        val legsSchema = StructType(Seq(
          StructField("call_id", StringType),
          StructField("seq", IntegerType),
          StructField("total", IntegerType),
          StructField("duration_sec", DoubleType),
          StructField("valid", BooleanType)))
        Files.createDirectories(Paths.get(s"$base/inbox"))
        Files.createDirectories(Paths.get(s"$base/legsqueue"))
        write(s"$base/inbox/w1.csv", legsCsv(Seq(
          "1:101,1,2,60.0", "1:101,2,2,40.0", "2:201,1,1,250.0",
          "bogus,1,1,10.0")))
        val std = LiveRatingChain.stages(spark, s"$base/inbox",
          s"$base/legs-unused", s"$base/calls", s"$base/rated",
          s"$base/ckpt", tiers)
        val ingest = std(0).copy(sink = PacketQueueSink.sink(spark,
          s"$base/legsdata", s"$base/legsqueue", s"$base/ckpt/cdr_ingest"))
        val assembly = std(1).copy(source = s => s.readStream
          .format("packetqueue").schema(legsSchema)
          .option("path", s"$base/legsqueue")
          .option("root", s"$base/legsdata")
          .option("archive", "true").load())
        val swapped = Seq(ingest, assembly, std(2))
        swapped.foreach(runner.register)
        var qs = swapped.map(s => runner.start(s.name))
        qs.foreach(_.processAllAvailable())
        qs.foreach(_.processAllAvailable())
        def rated() = spark.read.parquet(s"$base/rated")
          .select(col("account_id").cast(LongType), col("event_id"),
            col("charge_centi"))
          .as[(Long, Long, Long)].collect().toSet
        // same numbers as every other handoff: T(100)=500, T(250)=950
        assert(rated() == Set((1L, 101L, 500L), (2L, 201L, 950L)),
          rated().toString)

        // kill the whole topology, land a wave while down, restart
        runner.stopAll()
        write(s"$base/inbox/w2.csv", legsCsv(Seq("1:102,1,1,50.0")))
        qs = swapped.map(s => runner.start(s.name))
        qs.foreach(_.processAllAvailable())
        qs.foreach(_.processAllAvailable())
        // acct 1: T(150) - T(100) = 150 marginal — nothing re-billed
        assert(rated() == Set((1L, 101L, 500L), (2L, 201L, 950L),
          (1L, 102L, 150L)), rated().toString)
        // the dead letter crossed the packet plane too (valid=false rows
        // ride the data files; assembly's unchanged transform drops them).
        // Read the data files directly: with archive on, the QUEUE is
        // single-consumer by design — retention is consumption
        assert(spark.read.schema(legsSchema).option("header", "true")
          .csv(s"$base/legsdata").filter(!col("valid")).count() == 1)
      } finally {
        runner.stopAll()
      }
    }
  }

  test("t=-routed demux routes each type to its queues and round-robins " +
      "across them") {
    import org.apache.spark.sql.types._
    val base = Files.createTempDirectory("graft_demux").toString
    val dests = Map(
      "GSMRATING" -> Seq(
        PacketQueueSink.Dest(s"$base/rate0/data", s"$base/rate0/q"),
        PacketQueueSink.Dest(s"$base/rate1/data", s"$base/rate1/q")),
      "INVOICE" -> Seq(
        PacketQueueSink.Dest(s"$base/inv/data", s"$base/inv/q")),
      "FRAUD" -> Seq(
        PacketQueueSink.Dest(s"$base/fraud/data", s"$base/fraud/q")))
    // 12 rows over 3 types, spread over 4 partitions -> up to 4 part
    // files per type, so the 2-queue type provably round-robins
    val batch = (1 to 12).map { i =>
      val t = Seq("GSMRATING", "INVOICE", "FRAUD")(i % 3)
      (s"1:$i", 1, 1, i * 10.0, t)
    }.toDF("call_id", "seq", "total", "duration_sec", "dest")
      .repartition(4)
    PacketQueueSink.writeBatchDemux(spark, batch, 3L, "dest", dests)

    // both GSMRATING queues got packets (round-robin balance)
    val r0 = listNames(s"$base/rate0/q").filter(_.endsWith(".pkt"))
    val r1 = listNames(s"$base/rate1/q").filter(_.endsWith(".pkt"))
    assert(r0.nonEmpty && r1.nonEmpty, s"no round-robin: $r0 / $r1")
    // packets carry the t= key and point inside their own data dir
    val body = new String(Files.readAllBytes(
      Paths.get(s"$base/rate0/q/${r0.head}")), "UTF-8")
    assert(body.contains("t=GSMRATING") && body.contains(s"$base/rate0/data"),
      body)
    // each consumer reads ITS type's rows, with the route column
    // consumed by the layout (not in the data files)
    val schema = StructType(LiveRatingChain.legSchema.fields)
    def consume(q: String, out: String): Seq[String] = {
      val qq = spark.readStream.format("packetqueue").schema(schema)
        .option("path", q).load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", s"$out.ckpt")
        .outputMode("append").start()
      try { qq.processAllAvailable() } finally qq.stop()
      spark.read.parquet(out).select(col("call_id")).as[String]
        .collect().toSeq.sorted
    }
    val rated = (consume(s"$base/rate0/q", s"$base/out_r0") ++
      consume(s"$base/rate1/q", s"$base/out_r1")).sorted
    assert(rated == Seq("1:12", "1:3", "1:6", "1:9").sorted,
      rated.toString)
    assert(consume(s"$base/inv/q", s"$base/out_inv").size == 4)
    assert(consume(s"$base/fraud/q", s"$base/out_fraud").size == 4)

    // a route value with no registered destination fails loudly
    val e = intercept[IllegalArgumentException] {
      PacketQueueSink.writeBatchDemux(spark,
        Seq(("9:9", 1, 1, 9.0, "UNKNOWN_TYPE"))
          .toDF("call_id", "seq", "total", "duration_sec", "dest"),
        4L, "dest", dests)
    }
    assert(e.getMessage.contains("UNKNOWN_TYPE"), e.getMessage)
  }

  test("a replayed demux batch sweeps its prior attempt from EVERY " +
      "destination") {
    val base = Files.createTempDirectory("graft_demuxreplay").toString
    val dests = Map(
      "A" -> Seq(PacketQueueSink.Dest(s"$base/a0/d", s"$base/a0/q"),
        PacketQueueSink.Dest(s"$base/a1/d", s"$base/a1/q")),
      "B" -> Seq(PacketQueueSink.Dest(s"$base/b/d", s"$base/b/q")))
    val attempt1 = Seq(("1:1", 1, 1, 10.0, "A"), ("1:2", 1, 1, 20.0, "A"),
      ("1:3", 1, 1, 30.0, "B"))
      .toDF("call_id", "seq", "total", "duration_sec", "dest")
    PacketQueueSink.writeBatchDemux(spark, attempt1.repartition(3), 7L,
      "dest", dests)
    // the replay ROUTES DIFFERENTLY (a dim advanced between crash and
    // retry): row 1:3 now routes to A — the B-side orphan of attempt 1
    // must vanish, not double-deliver
    val attempt2 = Seq(("1:1", 1, 1, 10.0, "A"), ("1:2", 1, 1, 20.0, "A"),
      ("1:3", 1, 1, 30.0, "A"))
      .toDF("call_id", "seq", "total", "duration_sec", "dest")
    PacketQueueSink.writeBatchDemux(spark, attempt2.repartition(1), 7L,
      "dest", dests)
    assert(listNames(s"$base/b/q").count(_.endsWith(".pkt")) == 0,
      "stale B-side packet survived the replay")
    assert(listNames(s"$base/b/d").count(_.endsWith(".csv")) == 0,
      "stale B-side data survived the replay")
    val aPkts = (listNames(s"$base/a0/q") ++ listNames(s"$base/a1/q"))
      .count(_.endsWith(".pkt"))
    assert(aPkts == 1, s"expected the single replayed file, got $aPkts")
  }

  test("the chain fans out rated traffic to invoice + fraud consumers " +
      "over the packet plane, exactly-once across restart") {
    val base = Files.createTempDirectory("graft_fanout").toString
    val dests = Map(
      "INVOICE" -> Seq(
        PacketQueueSink.Dest(s"$base/inv0/d", s"$base/inv0/q"),
        PacketQueueSink.Dest(s"$base/inv1/d", s"$base/inv1/q")),
      "FRAUD" -> Seq(PacketQueueSink.Dest(s"$base/fraud/d", s"$base/fraud/q")))
    // producer: rated-looking rows from a CSV inbox, routed by a
    // fraud-threshold rule (duration >= 100 -> the fraud tap)
    def startProducer() = spark.readStream
      .schema(LiveRatingChain.legSchema)
      .option("header", "true").csv(s"$base/inbox")
      .withColumn("dest",
        when(col("duration_sec") >= 100.0, "FRAUD").otherwise("INVOICE"))
      .let(df => PacketQueueSink.demuxSink(spark, "dest", dests,
        s"$base/ckpt/producer")(df).start())
    def startConsumer(q: String, out: String) =
      spark.readStream.format("packetqueue")
        .schema(LiveRatingChain.legSchema)
        .option("path", q).load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", s"$out.ckpt")
        .outputMode("append").start()
    def allOut(): Seq[String] =
      Seq(s"$base/out_i0", s"$base/out_i1", s"$base/out_f")
        .filter(d => Files.exists(Paths.get(d)))
        .flatMap(d => spark.read.parquet(d).select(col("call_id"))
          .as[String].collect())
        .sorted

    Files.createDirectories(Paths.get(s"$base/inbox"))
    write(s"$base/inbox/w1.csv", legsCsv(Seq(
      "1:1,1,1,10.0", "1:2,1,1,250.0", "1:3,1,1,20.0")))
    var qs = Seq(startProducer(),
      startConsumer(s"$base/inv0/q", s"$base/out_i0"),
      startConsumer(s"$base/inv1/q", s"$base/out_i1"),
      startConsumer(s"$base/fraud/q", s"$base/out_f"))
    try {
      (1 to 2).foreach(_ => qs.foreach(_.processAllAvailable()))
      assert(allOut() == Seq("1:1", "1:2", "1:3"), allOut().toString)
      assert(spark.read.parquet(s"$base/out_f").count() == 1)
    } finally qs.foreach(_.stop())

    // kill the whole fan-out; a wave lands while down; restart — every
    // branch resumes exactly-once
    write(s"$base/inbox/w2.csv", legsCsv(Seq("2:1,1,1,300.0")))
    qs = Seq(startProducer(),
      startConsumer(s"$base/inv0/q", s"$base/out_i0"),
      startConsumer(s"$base/inv1/q", s"$base/out_i1"),
      startConsumer(s"$base/fraud/q", s"$base/out_f"))
    try {
      (1 to 2).foreach(_ => qs.foreach(_.processAllAvailable()))
      assert(allOut() == Seq("1:1", "1:2", "1:3", "2:1"),
        s"fan-out lost or duplicated across restart: ${allOut()}")
      assert(spark.read.parquet(s"$base/out_f").count() == 2)
    } finally qs.foreach(_.stop())
  }

  test("the demux routing RULE is live: a re-route published mid-run " +
      "redirects the next batch with no restart") {
    // the round-12 composition: the dispatcher's t= demux with its
    // routing dimension in a VersionedDim, re-resolved per micro-batch
    // (the live-dim discipline applied to the packet plane) — an
    // operator re-points a traffic class and the NEXT batch lands on
    // the new consumer, no producer bounce
    val base = Files.createTempDirectory("graft_livedemux").toString
    val dests = Map(
      "PRIMARY" -> Seq(PacketQueueSink.Dest(s"$base/pri/d", s"$base/pri/q")),
      "OVERFLOW" -> Seq(PacketQueueSink.Dest(s"$base/ovf/d", s"$base/ovf/q")))
    val dim = new graft.streaming.VersionedDim(spark, s"$base/routedim")
    // v1: both account classes route to PRIMARY
    dim.publish(Seq((0L, "PRIMARY"), (1L, "PRIMARY"))
      .toDF("k", "dest"))
    def startProducer() = spark.readStream
      .schema(LiveRatingChain.legSchema)
      .option("header", "true").csv(s"$base/inbox")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt/producer")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val (_, route) = dim.resolve()
        val routed = batch
          .withColumn("k", split(col("call_id"), ":").getItem(0)
            .cast("long") % 2L)
          .join(broadcast(route), Seq("k")).drop("k")
        PacketQueueSink.writeBatchDemux(spark, routed, id, "dest", dests)
      }.start()
    def pkts(q: String) = listNames(q).count(_.endsWith(".pkt"))

    Files.createDirectories(Paths.get(s"$base/inbox"))
    write(s"$base/inbox/w1.csv", legsCsv(Seq(
      "1:1,1,1,10.0", "2:1,1,1,20.0")))
    val p1 = startProducer()
    try {
      p1.processAllAvailable()
      assert(pkts(s"$base/pri/q") > 0 && pkts(s"$base/ovf/q") == 0,
        "v1 must route everything to PRIMARY")

      // the RE-ROUTE: odd accounts move to OVERFLOW, published to the
      // dim while the producer RUNS
      dim.publish(Seq((0L, "PRIMARY"), (1L, "OVERFLOW")).toDF("k", "dest"))
      write(s"$base/inbox/w2.csv", legsCsv(Seq(
        "3:1,1,1,30.0", "4:1,1,1,40.0")))
      p1.processAllAvailable()
      assert(pkts(s"$base/ovf/q") > 0, "re-route never took effect")
      // the OVERFLOW data plane carries exactly the odd-account rows
      val ovf = spark.read.schema(LiveRatingChain.legSchema)
        .option("header", "true").csv(s"$base/ovf/d")
        .select(col("call_id")).as[String].collect().toSeq.sorted
      assert(ovf == Seq("3:1"), s"wrong rows re-routed: $ovf")
    } finally p1.stop()
  }

  test("archive=true moves the consumed prefix; offsets stay exact") {
    val base = Files.createTempDirectory("graft_pktarch").toString
    (1 to 3).foreach { i =>
      write(s"$base/data/f$i.csv", legsCsv(Seq(s"1:$i,1,1,$i.0")))
      write(s"$base/queue/p$i.pkt", s"s=1\nf=$base/data/f$i.csv")
    }
    def start() = spark.readStream.format("packetqueue")
      .schema(LiveRatingChain.legSchema)
      .option("path", s"$base/queue").option("root", s"$base/data")
      .option("archive", "true")
      .load()
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(spark.read.parquet(s"$base/out").count() == 3)
      // archival is commit-driven, and the engine commits a batch's
      // offset when the NEXT batch runs — land a new packet and let it
      // flow: the durably-committed [p1..p3) prefix must archive
      write(s"$base/data/f4.csv", legsCsv(Seq("1:4,1,1,4.0")))
      write(s"$base/queue/p4.pkt", s"s=1\nf=$base/data/f4.csv")
      q1.processAllAvailable()
      assert(spark.read.parquet(s"$base/out").count() == 4)
      val archived = listNames(s"$base/queue/_consumed")
        .filter(_.endsWith(".pkt"))
      assert(archived.toSet.intersect(
        Set("p1.pkt", "p2.pkt", "p3.pkt")).size == 3,
        s"consumed prefix not archived: $archived")
      // the manifest is VERSIONED by its count (`_manifest.<n>`) so the
      // swap is never a delete-then-rename window with no manifest at all
      val manifests = listNames(s"$base/queue/_consumed")
        .filter(_.startsWith("_manifest."))
      assert(manifests.nonEmpty, "no versioned manifest written")
      val latest = manifests.maxBy(_.stripPrefix("_manifest.").toLong)
      val manifest = new String(Files.readAllBytes(
        Paths.get(s"$base/queue/_consumed/$latest")), "UTF-8")
      assert(manifest.startsWith("3\n") || manifest.startsWith("4\n"),
        manifest)
    } finally q1.stop()

    // restart on the same checkpoint: nothing re-processes, and packets
    // landing after archival flow normally (offsets continue past the
    // archived prefix)
    write(s"$base/data/f5.csv", legsCsv(Seq("1:5,1,1,5.0")))
    write(s"$base/queue/p5.pkt", s"s=1\nf=$base/data/f5.csv")
    val q2 = start()
    try {
      q2.processAllAvailable()
      val out = spark.read.parquet(s"$base/out")
        .select(col("call_id")).as[String].collect().sorted.toSeq
      assert(out == Seq("1:1", "1:2", "1:3", "1:4", "1:5"), out.toString)
    } finally q2.stop()

    // a FRESH checkpoint cannot start below the archived prefix
    val q3 = spark.readStream.format("packetqueue")
      .schema(LiveRatingChain.legSchema)
      .option("path", s"$base/queue").option("root", s"$base/data")
      .option("archive", "true")
      .load()
      .writeStream.format("parquet")
      .option("path", s"$base/out2")
      .option("checkpointLocation", s"$base/ckpt_fresh")
      .outputMode("append").start()
    try {
      val e = intercept[Exception] { q3.processAllAvailable() }
      assert(String.valueOf(e.getMessage).contains("archived prefix") ||
        String.valueOf(e.getCause).contains("archived prefix"), e.toString)
    } finally q3.stop()
  }
}
