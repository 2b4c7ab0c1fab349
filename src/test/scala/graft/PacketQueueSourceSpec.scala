package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.streaming.{LiveRatingChain, PipelineRunner}

/** The §2A#1 queue seam exercised in-repo: a DataSourceV2 micro-batch
  * source replaying the reference's packet protocol (`k=v` packets whose
  * `f=` key points at the data file) from an append-only directory —
  * arrival order, exactly-once offsets across restart, and a drop-in
  * swap for the chain's file source with zero operator changes.
  */
class PacketQueueSourceSpec extends SparkSpec {

  import spark.implicits._

  private def write(path: String, body: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), body.getBytes("UTF-8"))
  }

  private def legsCsv(rows: Seq[String]): String =
    ("call_id,seq,total,duration_sec" +: rows).mkString("\n")

  test("packets deliver referenced files exactly once across restart") {
    val base = Files.createTempDirectory("graft_pktq").toString
    write(s"$base/data/a.csv", legsCsv(Seq("1:1,1,1,10.0", "1:2,1,1,20.0")))
    write(s"$base/queue/p000.pkt", s"s=1\nf=$base/data/a.csv")

    def start() = spark.readStream.format("packetqueue")
      .schema(LiveRatingChain.legSchema)
      .option("path", s"$base/queue").option("root", s"$base/data")
      .load()
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()

    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(spark.read.parquet(s"$base/out").count() == 2)

      // a second packet lands (data file FIRST, then the packet — the
      // marker discipline); only its rows appear
      write(s"$base/data/b.csv", legsCsv(Seq("2:1,1,1,30.0")))
      write(s"$base/queue/p001.pkt", s"s=1\nf=$base/data/b.csv")
      q1.processAllAvailable()
      assert(spark.read.parquet(s"$base/out").count() == 3)
    } finally q1.stop()

    // kill-and-restart on the same checkpoint: consumed packets are NOT
    // reprocessed; a packet that landed while down is picked up
    write(s"$base/data/c.csv", legsCsv(Seq("3:1,1,1,40.0")))
    write(s"$base/queue/p002.pkt", s"s=1\nf=$base/data/c.csv")
    val q2 = start()
    try {
      q2.processAllAvailable()
      val out = spark.read.parquet(s"$base/out")
      assert(out.count() == 4, "restart must neither lose nor duplicate")
      assert(out.select(col("call_id")).as[String].collect().sorted.toSeq ==
        Seq("1:1", "1:2", "2:1", "3:1"))
      // typed parse happened in the source, not downstream
      assert(out.schema == LiveRatingChain.legSchema)
    } finally q2.stop()
  }

  test("unpadded monotone names keep arrival order (p9 before p10)") {
    // lexicographic order would put p10 before p9 and SHIFT the consumed
    // prefix across restarts; the natural sort honors the producer's
    // monotone-name contract without zero padding
    val base = Files.createTempDirectory("graft_pktorder").toString
    (1 to 11).foreach { i =>
      write(s"$base/data/f$i.csv", legsCsv(Seq(s"1:$i,1,1,$i.0")))
    }
    // land p9 first, consume it, then land p10 and p11
    write(s"$base/queue/p9.pkt", s"s=1\nf=$base/data/f9.csv")
    def start() = spark.readStream.format("packetqueue")
      .schema(LiveRatingChain.legSchema)
      .option("path", s"$base/queue").option("root", s"$base/data")
      .load()
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(spark.read.parquet(s"$base/out").count() == 1)
    } finally q1.stop()
    write(s"$base/queue/p10.pkt", s"s=1\nf=$base/data/f10.csv")
    write(s"$base/queue/p11.pkt", s"s=1\nf=$base/data/f11.csv")
    val q2 = start()
    try {
      q2.processAllAvailable()
      val out = spark.read.parquet(s"$base/out")
        .select(col("call_id")).as[String].collect().sorted.toSeq
      // under lexicographic order p10/p11 would precede the consumed p9
      // and the restart would re-deliver f9 (or skip f11)
      assert(out == Seq("1:10", "1:11", "1:9"), out.toString)
    } finally q2.stop()
  }

  test("the chain's ingest stage runs off the packet queue unchanged") {
    // swap ONLY StageSpec.source — transform (validation) and sink
    // (dead-letter partitioning) are the registered stage's own,
    // proving the COVERAGE.md seam claim
    withRocksDbState {
      val base = Files.createTempDirectory("graft_pktchain").toString
      val runner = new PipelineRunner(spark)
      try {
        write(s"$base/data/w1.csv", legsCsv(Seq(
          "1:101,1,2,60.0", "1:101,2,2,40.0", "2:201,1,1,250.0",
          "xyz,1,1,10.0")))
        write(s"$base/queue/p000.pkt", s"s=1\nf=$base/data/w1.csv")
        val tiers = Seq((0L, 100L, 5L), (100L, 300L, 3L),
          (300L, Long.MaxValue, 1L))
        val base3 = LiveRatingChain.stages(spark, "/nonexistent", s"$base/legs",
          s"$base/calls", s"$base/rated", s"$base/ckpt", tiers)
        val swapped = base3.head.copy(source = s => s.readStream
          .format("packetqueue").schema(LiveRatingChain.legSchema)
          .option("path", s"$base/queue").option("root", s"$base/data")
          .load()) +: base3.tail
        swapped.foreach(runner.register)
        val qs = swapped.map(s => runner.start(s.name))
        qs.foreach(_.processAllAvailable())
        qs.foreach(_.processAllAvailable())
        val rated = spark.read.parquet(s"$base/rated")
          .select(col("account_id").cast(LongType), col("event_id"),
            col("charge_centi"))
          .as[(Long, Long, Long)].collect().toSet
        // T(100) = 500; T(250) = 950 — same numbers as the file-source run
        assert(rated == Set((1L, 101L, 500L), (2L, 201L, 950L)),
          rated.toString)
        // the malformed leg dead-lettered by the UNCHANGED transform
        assert(spark.read.parquet(s"$base/legs")
          .filter(!col("valid").cast("boolean")).count() == 1)
      } finally {
        runner.stopAll()
      }
    }
  }

  test("pointer-less packets are skipped; a traversal packet fails loudly") {
    val base = Files.createTempDirectory("graft_pktguard").toString
    Files.createDirectories(Paths.get(s"$base/data"))
    write(s"$base/queue/p000.pkt", "s=1\na=noop") // control noise: no f=
    def start() = spark.readStream.format("packetqueue")
      .schema(LiveRatingChain.legSchema)
      .option("path", s"$base/queue").option("root", s"$base/data")
      .load()
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    val q = start()
    try {
      q.processAllAvailable() // consumes the noise packet, zero rows
      write(s"$base/data/ok.csv", legsCsv(Seq("1:1,1,1,10.0")))
      write(s"$base/queue/p001.pkt", s"s=1\nf=$base/data/ok.csv")
      q.processAllAvailable()
      assert(spark.read.parquet(s"$base/out").count() == 1)

      // escape attempt: f= outside the confinement root
      write(s"$base/evil.csv", legsCsv(Seq("6:66,1,1,666.0")))
      write(s"$base/queue/p002.pkt",
        s"s=1\nf=$base/data/../evil.csv")
      val e = intercept[Exception] { q.processAllAvailable() }
      assert(String.valueOf(e.getMessage)
        .contains("points outside root") ||
        String.valueOf(e.getCause).contains("points outside root"), e.toString)
    } finally q.stop()
  }
}
