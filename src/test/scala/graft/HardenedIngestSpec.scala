package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.streaming.{HardenedIngest, LiveRatingChain, PipelineRunner}

/** The hardened ingest: content-hash re-delivery dedup (the same CDR
  * batch landing under a NEW name must not double-bill) and the live
  * profile-drift gate (a schema-drifted wave fails loudly BEFORE it
  * pollutes the legs store).
  */
class HardenedIngestSpec extends SparkSpec {

  import spark.implicits._

  private val tiers = Seq((0L, 100L, 5L), (100L, 300L, 3L),
    (300L, Long.MaxValue, 1L))

  private def writeCsv(path: String, rows: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path),
      ("call_id,seq,total,duration_sec" +: rows).mkString("\n")
        .getBytes("UTF-8"))
  }

  test("a re-delivered file under a new name does not double-bill") {
    withRocksDbState {
      val base = Files.createTempDirectory("graft_hardened").toString
      val runner = new PipelineRunner(spark)
      try {
        writeCsv(s"$base/inbox/w1.csv", Seq(
          "1:101,1,1,100.0", "2:201,1,1,250.0"))
        val ss = HardenedIngest.stages(spark, s"$base/inbox",
          s"$base/legs", s"$base/ledger", s"$base/calls", s"$base/rated",
          s"$base/ckpt", tiers)
        ss.foreach(runner.register)
        val qs = ss.map(s => runner.start(s.name))
        qs.foreach(_.processAllAvailable())
        def invoice() = spark.read.parquet(s"$base/rated")
          .groupBy(col("account_id").cast(LongType).as("a"))
          .agg(sum(col("charge_centi")).as("c"))
          .as[(Long, Long)].collect().toMap
        val first = invoice()
        assert(first == Map(1L -> 500L, 2L -> 950L), first.toString)

        // the classic duplicate-batch failure: SAME content, NEW name —
        // the path-keyed file source would re-bill; the digest must not
        writeCsv(s"$base/inbox/retry_0712.csv", Seq(
          "1:101,1,1,100.0", "2:201,1,1,250.0"))
        qs.foreach(_.processAllAvailable())
        assert(invoice() == first, s"double-billed: ${invoice()} vs $first")

        // genuinely NEW content still flows (the dedup keys on content,
        // not on having seen a batch before)
        writeCsv(s"$base/inbox/w2.csv", Seq("1:102,1,1,50.0"))
        qs.foreach(_.processAllAvailable())
        // acct 1: T(150) - T(100) = 150
        assert(invoice() == Map(1L -> 650L, 2L -> 950L), invoice().toString)
      } finally runner.stopAll()
    }
  }

  test("two identical files inside one micro-batch bill once") {
    withRocksDbState {
      val base = Files.createTempDirectory("graft_hardened2").toString
      val runner = new PipelineRunner(spark)
      try {
        // same content, two names, one wave — intra-batch collapse
        writeCsv(s"$base/inbox/a.csv", Seq("5:501,1,1,100.0"))
        writeCsv(s"$base/inbox/b.csv", Seq("5:501,1,1,100.0"))
        val ss = HardenedIngest.stages(spark, s"$base/inbox",
          s"$base/legs", s"$base/ledger", s"$base/calls", s"$base/rated",
          s"$base/ckpt", tiers)
        ss.foreach(runner.register)
        val qs = ss.map(s => runner.start(s.name))
        qs.foreach(_.processAllAvailable())
        val legs = spark.read.schema(HardenedIngest.hardenedLegsSchema)
          .parquet(s"$base/legs")
        assert(legs.count() == 1, "intra-batch duplicate file not collapsed")
        assert(spark.read.parquet(s"$base/rated").count() == 1)
      } finally runner.stopAll()
    }
  }

  test("a replayed micro-batch reproduces its writes instead of doubling them") {
    // simulate the crash-between-ledger-write-and-checkpoint-commit
    // replay by driving writeBatch twice with the same batch id
    val base = Files.createTempDirectory("graft_hardened3").toString
    val batch = Seq(("7:701", 1, 1, 10.0, s"$base/inbox/w1.csv", true))
      .toDF("call_id", "seq", "total", "duration_sec", "__src", "valid")
    HardenedIngest.writeBatch(spark, batch, 0L, s"$base/legs",
      s"$base/ledger", None)
    HardenedIngest.writeBatch(spark, batch, 0L, s"$base/legs",
      s"$base/ledger", None)
    assert(spark.read.schema(HardenedIngest.hardenedLegsSchema)
      .parquet(s"$base/legs").count() == 1)
    assert(spark.read.parquet(s"$base/ledger").count() == 1)
  }

  test("a corrupt ledger fails the batch loudly instead of disabling dedup") {
    // storage trouble on the ledger is indistinguishable from "no history"
    // only if the read silently swallows errors — and that window is when
    // redelivery is most likely. The batch must DIE, not double-bill.
    val base = Files.createTempDirectory("graft_ledgercorrupt").toString
    Files.createDirectories(Paths.get(s"$base/ledger/batch_id=0"))
    Files.write(Paths.get(s"$base/ledger/batch_id=0/part-00000.parquet"),
      "this is not a parquet footer".getBytes("UTF-8"))
    val batch = Seq(("9:901", 1, 1, 10.0, s"$base/inbox/w1.csv", true))
      .toDF("call_id", "seq", "total", "duration_sec", "__src", "valid")
    intercept[Exception] {
      HardenedIngest.writeBatch(spark, batch, 1L, s"$base/legs",
        s"$base/ledger", None)
    }
    // nothing was admitted past the broken guard
    assert(!Files.exists(Paths.get(s"$base/legs")),
      "legs written despite an unreadable ledger")
  }

  test("even-repeated rows do not cancel the digest (xor-collision guard)") {
    // {A,B,B} and {A,C,C}: equal counts, and xor(B,B) = xor(C,C) = 0, so
    // a (xor, count)-only ledger would digest both to (hash(A), 3) and
    // drop the second file as a 'redelivery'. The hash-sum component
    // keeps them distinct.
    val base = Files.createTempDirectory("graft_xorcancel").toString
    def batch(src: String, rows: Seq[(String, Int, Int, Double)]) =
      rows.map { case (c, s, t, d) => (c, s, t, d, src, true) }
        .toDF("call_id", "seq", "total", "duration_sec", "__src", "valid")
    HardenedIngest.writeBatch(spark, batch(s"$base/inbox/f1.csv",
      Seq(("1:1", 1, 3, 10.0), ("1:1", 2, 3, 20.0), ("1:1", 2, 3, 20.0))),
      0L, s"$base/legs", s"$base/ledger", None)
    HardenedIngest.writeBatch(spark, batch(s"$base/inbox/f2.csv",
      Seq(("1:1", 1, 3, 10.0), ("1:1", 3, 3, 30.0), ("1:1", 3, 3, 30.0))),
      1L, s"$base/legs", s"$base/ledger", None)
    val n = spark.read.schema(HardenedIngest.hardenedLegsSchema)
      .parquet(s"$base/legs").count()
    assert(n == 6, s"distinct second file dropped as redelivery: $n rows")
  }

  test("a redelivered drifted file is dropped whole, not fatal; " +
      "a duplicate-only batch cannot seed the reference profile") {
    val base = Files.createTempDirectory("graft_driftdedup").toString
    def batch(src: String, rows: Seq[(String, Int, Int, java.lang.Double)]) =
      rows.map { case (c, s, t, d) => (c, s, t, d, src, true) }
        .toDF("call_id", "seq", "total", "duration_sec", "__src", "valid")
    val gate = Some(HardenedIngest.DriftGate(s"$base/refprofile",
      Seq("call_id", "seq", "total", "duration_sec"),
      maxNullDriftPpm = 200000L))
    val drifted: Seq[(String, Int, Int, java.lang.Double)] =
      Seq(("3:301", 1, 1, null), ("3:302", 1, 1, null))
    // era 0, gate off: the drifted file was admitted once
    HardenedIngest.writeBatch(spark, batch(s"$base/inbox/d.csv", drifted),
      0L, s"$base/legs", s"$base/ledger", None)
    // a duplicate-only batch with the gate ON and no reference yet:
    // must neither throw nor bootstrap the profile from duplicates
    HardenedIngest.writeBatch(spark, batch(s"$base/inbox/d2.csv", drifted),
      1L, s"$base/legs", s"$base/ledger", gate)
    assert(!Files.exists(Paths.get(s"$base/refprofile")),
      "duplicate-only batch seeded the reference profile")
    // a clean batch bootstraps the reference
    HardenedIngest.writeBatch(spark, batch(s"$base/inbox/n.csv",
      Seq(("1:101", 1, 1, java.lang.Double.valueOf(10.0)))),
      2L, s"$base/legs", s"$base/ledger", gate)
    // the drifted file redelivered AGAIN under the strict reference:
    // ledger-dropped whole, so the gate never sees it — not fatal
    HardenedIngest.writeBatch(spark, batch(s"$base/inbox/d3.csv", drifted),
      3L, s"$base/legs", s"$base/ledger", gate)
    val n = spark.read.schema(HardenedIngest.hardenedLegsSchema)
      .parquet(s"$base/legs").count()
    assert(n == 3, s"expected 2 drifted + 1 clean rows, got $n")
  }

  test("a schema-drifted wave trips the gate before polluting the store") {
    withRocksDbState {
      val base = Files.createTempDirectory("graft_driftgate").toString
      val runner = new PipelineRunner(spark)
      try {
        val gate = Some(HardenedIngest.DriftGate(s"$base/refprofile",
          Seq("call_id", "seq", "total", "duration_sec"),
          maxNullDriftPpm = 200000L))
        writeCsv(s"$base/inbox/w1.csv", Seq(
          "1:101,1,1,100.0", "2:201,1,1,250.0"))
        val ss = HardenedIngest.stages(spark, s"$base/inbox",
          s"$base/legs", s"$base/ledger", s"$base/calls", s"$base/rated",
          s"$base/ckpt", tiers, gate = gate)
        ss.foreach(runner.register)
        val qs = ss.map(s => runner.start(s.name))
        qs.foreach(_.processAllAvailable())
        assert(spark.read.parquet(s"$base/rated").count() == 2)

        // the broken-extractor wave: duration_sec 100% null (vs 0 in
        // the bootstrapped reference) — an upstream break, not per-row
        // garbage; it must fail the QUERY, not dead-letter quietly
        writeCsv(s"$base/inbox/w2.csv", Seq(
          "1:102,1,1,", "2:202,1,1,", "3:301,1,1,"))
        val e = intercept[Exception] {
          spark.streams.active.find(_.name == "cdr_ingest")
            .get.processAllAvailable()
        }
        assert(String.valueOf(e.getMessage).contains("drift gate tripped")
          || String.valueOf(e.getCause).contains("drift gate tripped"),
          e.toString)
        // nothing from the drifted wave reached the store — not even as
        // dead letters
        assert(spark.read.schema(HardenedIngest.hardenedLegsSchema)
          .parquet(s"$base/legs").count() == 2)
      } finally runner.stopAll()
    }
  }
}
