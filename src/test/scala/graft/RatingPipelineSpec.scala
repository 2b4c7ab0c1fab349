package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable

import graft.pipelines.RatingPipeline
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** End-to-end prerating/gsmrating pipeline over a synthetic delimited CDR
  * batch (FIXTURES.md §B): parse → normalize → dead-letter split →
  * multi-leg assembly → as-of tariff join → charge → partitioned summary.
  */
class RatingPipelineSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val cdrCsv =
    """record_type,imsi,msisdn,other_party,call_start_ts,duration_sec,cell_id,call_type,partial_seq
      |MOC,404551234567890,+919812345678,919876543210,2026-08-12 04:58:11,124,40551-2201,VOICE,1
      |MOC,404551234567890,+919812345678,919876543210,2026-08-12 04:58:11,66,40551-2201,VOICE,2
      |MOC,404551234567891,9812345679,919876543210,2026-08-12 05:10:00,30,40551-2202,VOICE,1
      |MTC,404551234567892,009812345680,919876543210,2026-08-12 06:00:00,1,40551-2203,SMS,1
      |MOC,BADIMSI,9812345681,919876543210,2026-08-12 07:00:00,10,40551-2204,VOICE,1
      |MOC,404551234567893,9812345682,919876543210,2026-08-12 08:00:00,-5,40551-2205,VOICE,1
      |MOC,404551234567894,9812345683,919876543210,2026-08-12 09:00:00,60,40551-2206,FAX,1
      |""".stripMargin

  private val tariffs = Seq(
    // two VOICE versions: the 05:00 version must win for calls after 05:00
    ("VOICE", ts("2026-01-01 00:00:00"), 1.00, 0.50),
    ("VOICE", ts("2026-08-12 05:00:00"), 2.00, 0.25),
    ("SMS", ts("2026-01-01 00:00:00"), 0.10, 0.00))
    .toDF("call_type", "valid_from", "rate_per_min", "setup_fee")

  private def runPipeline() = {
    val dir = Files.createTempDirectory("graft_cdr").toString
    Files.writeString(java.nio.file.Path.of(dir, "batch1.csv"), cdrCsv)
    val out = Files.createTempDirectory("graft_rated_out").toString
    val (rated, dead) = RatingPipeline.run(spark, dir, tariffs, out)
    (rated.cache(), dead, out)
  }

  /** One batch to all three sinks, the way a caller persists it: `run`
    * writes the summary, then the rated calls and the dead letters are
    * written from the frames it returns. `between` runs after the
    * summary write. Returns the summary, rated and dead output dirs. */
  private def writeAll(dir: String, between: () => Unit = () => ()) = {
    val out = Files.createTempDirectory("graft_rated_all").toString
    val (rated, dead) = RatingPipeline.run(spark, dir, tariffs, s"$out/summary")
    between()
    rated.write.parquet(s"$out/rated")
    dead.write.parquet(s"$out/dead")
    (s"$out/summary", s"$out/rated", s"$out/dead")
  }

  private def cdrDir(): String = {
    val dir = Files.createTempDirectory("graft_cdr_shared").toString
    Files.writeString(java.nio.file.Path.of(dir, "batch1.csv"), cdrCsv)
    dir
  }

  /** The three persisted outputs against the expected values the tests
    * above check one by one. */
  private def assertOutputs(summary: String, rated: String, dead: String): Unit = {
    val sums = spark.read.parquet(summary)
      .select("call_type", "n_calls", "total_secs", "total_charge")
      .as[(String, Long, Long, java.math.BigDecimal)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4.doubleValue))).toMap
    assert(sums == Map("VOICE" -> ((2L, 220L, 6.75)), "SMS" -> ((1L, 1L, 0.1))))
    val byImsi = spark.read.parquet(rated)
      .select("imsi", "msisdn", "n_legs", "charge")
      .as[(String, String, Int, java.math.BigDecimal)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4.doubleValue))).toMap
    assert(byImsi == Map(
      "404551234567890" -> (("919812345678", 2, 4.5)),
      "404551234567891" -> (("919812345679", 1, 2.25)),
      "404551234567892" -> (("919812345680", 1, 0.1))))
    assert(spark.read.parquet(dead).select("imsi").as[String].collect().sorted
      .sameElements(Array("404551234567893", "404551234567894", "BADIMSI")))
  }

  test("one batch: summary, rated and dead outputs hold the expected rows") {
    val (summary, rated, dead) = writeAll(cdrDir())
    assertOutputs(summary, rated, dead)
  }

  test("one batch scans its CDR file once across the three writes") {
    val dir = cdrDir()
    val seen = mutable.ArrayBuffer.empty[(String, QueryExecution)]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized(seen += f -> qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      writeAll(dir)
      // the dead-letter write ends last; its report follows the others'
      assert(eventually(10000)(seen.synchronized(
        seen.exists(_._2.executedPlan.toString.contains("/dead")))),
        seen.synchronized(seen.map(_._1).mkString(", ")))
    } finally spark.listenerManager.unregister(listener)
    val helper = new AdaptiveSparkPlanHelper {}
    val scanned = seen.synchronized(seen.toSeq).flatMap { case (_, qe) =>
      helper.collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains(dir)) =>
          s.metrics("numOutputRows").value
      }
    }.filter(_ > 0)
    // 7 data lines in the file, read by exactly one executed scan
    assert(scanned == Seq(7L), scanned.mkString(", "))
  }

  test("shared rows dropped between the writes are recomputed from the input") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keys.toSet
    val (summary, rated, dead) = writeAll(cdrDir(), () => {
      val kept = sc.getPersistentRDDs.values.filterNot(r => before(r.id)).toSeq
      assert(sc.getRDDStorageInfo.exists(i =>
        kept.exists(_.id == i.id) && i.numCachedPartitions > 0), "no rows kept")
      kept.foreach(_.unpersist(blocking = true))
    })
    assertOutputs(summary, rated, dead)
  }

  test("shared rows are freed once the frames are unreachable") {
    val sc = spark.sparkContext
    // ids only: a key-set view of the map would keep the RDDs reachable
    def sharedIds = sc.getPersistentRDDs.collect {
      case (id, r) if Option(r.name).exists(_.startsWith("shared ")) => id
    }.toSet
    val before = sharedIds
    writeAll(cdrDir())
    val kept = sharedIds -- before
    assert(kept.size == 2, s"expected the two shared cuts of one batch, got $kept")
    assert(eventually(20000) { System.gc(); (sharedIds intersect kept).isEmpty },
      s"still kept: ${sharedIds intersect kept}")
  }

  test("split and rate pass a streaming frame through uncut") {
    val dir = cdrDir()
    val stream = spark.readStream.schema(RatingPipeline.cdrSchema)
      .option("header", "true").csv(dir)
    val (valid, dead) = RatingPipeline.split(RatingPipeline.normalize(stream))
    val rated = RatingPipeline.rate(valid, tariffs)
    assert(valid.isStreaming && dead.isStreaming && rated.isStreaming)
    val got = mutable.ArrayBuffer.empty[(String, Long)]
    def sink(name: String, df: DataFrame) = df.writeStream
      .option("checkpointLocation",
        Files.createTempDirectory(s"graft_uncut_$name").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        got.synchronized { got += name -> b.count(); () } }
      .start()
    val queries = Seq(sink("rated", rated), sink("dead", dead))
    try queries.foreach(_.processAllAvailable())
    finally queries.foreach(_.stop())
    // per leg: the stream is rated without assembly, 4 valid legs
    assert(got.synchronized(got.toMap) == Map("rated" -> 4L, "dead" -> 3L))
  }

  test("dead-letter split catches bad IMSI, negative duration, unknown type") {
    val (_, dead, _) = runPipeline()
    val badImsis = dead.select("imsi").as[String].collect().toSet
    assert(badImsis == Set("BADIMSI", "404551234567893", "404551234567894"))
  }

  test("multi-leg calls assemble into one rated record") {
    val (rated, _, _) = runPipeline()
    val legs = rated.filter(col("imsi") === "404551234567890")
      .select("n_legs", "duration_sec").as[(Int, Int)].collect()
    assert(legs.sameElements(Array((2, 190))))
  }

  test("as-of tariff lookup picks the latest version valid at call start") {
    val (rated, _, _) = runPipeline()
    val byImsi = rated.select("imsi", "rate_per_min", "billed_min", "charge")
      .as[(String, Double, Long, java.math.BigDecimal)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4.doubleValue))).toMap
    // 04:58 call: old tariff (rate 1.0, setup 0.5), 190s → 4 min → 4.5
    assert(byImsi("404551234567890") == ((1.0, 4L, 4.5)))
    // 05:10 call: new tariff (rate 2.0, setup 0.25), 30s → 1 min → 2.25
    assert(byImsi("404551234567891") == ((2.0, 1L, 2.25)))
    // SMS at 06:00: sms tariff, 1s → 1 min → 0.1
    assert(byImsi("404551234567892") == ((0.1, 1L, 0.1)))
  }

  test("msisdn normalization: strip +, strip 00 IDD, add default CC") {
    val (rated, _, _) = runPipeline()
    val nums = rated.select("msisdn").as[String].collect().toSet
    assert(nums == Set("919812345678", "919812345679", "919812345680"))
  }

  test("summary is partitioned by day and totals match") {
    val (_, _, out) = runPipeline()
    val dirs = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("day="))
    assert(dirs.sameElements(Array("day=2026-08-12")))
    val sums = spark.read.parquet(out)
      .select("call_type", "n_calls", "total_charge")
      .as[(String, Long, java.math.BigDecimal)].collect()
      .map(r => r._1 -> ((r._2, r._3.doubleValue))).toMap
    assert(sums("VOICE") == ((2L, 6.75)))
    assert(sums("SMS") == ((1L, 0.1)))
  }

  test("malformed CDR lines land in the dead-letter path, not silently dropped") {
    val dir = Files.createTempDirectory("graft_cdr_bad").toString
    Files.writeString(java.nio.file.Path.of(dir, "bad.csv"),
      """record_type,imsi,msisdn,other_party,call_start_ts,duration_sec,cell_id,call_type,partial_seq
        |this,is,junk
        |MOC,404551234567899,9812345699,919876543210,2026-08-12 04:00:00,60,c9,VOICE,1
        |,,,,,,,,
        |""".stripMargin)
    val (valid, dead) = RatingPipeline.split(
      RatingPipeline.normalize(RatingPipeline.readCdrs(spark, dir)))
    assert(valid.count() == 1)
    assert(dead.count() == 2, "permissive-parsed garbage must fail validation")
  }

  test("continuous rating: per-batch rated + dead outputs, batch_id partitions") {
    val dir = Files.createTempDirectory("graft_cdr_stream").toString
    val rated = Files.createTempDirectory("graft_rated_s").toString
    val dead = Files.createTempDirectory("graft_dead_s").toString
    val ckpt = Files.createTempDirectory("graft_rate_ckpt").toString
    Files.writeString(java.nio.file.Path.of(dir, "f1.csv"), cdrCsv)
    val q = RatingPipeline.runStreaming(spark, dir, tariffs, rated, dead,
      ckpt, maxFilesPerTrigger = 1)
    try {
      q.processAllAvailable()
      // a second file arriving later lands under its own batch partition
      Files.writeString(java.nio.file.Path.of(dir, "f2.csv"),
        """record_type,imsi,msisdn,other_party,call_start_ts,duration_sec,cell_id,call_type,partial_seq
          |MOC,404551234567895,9812345690,919876543210,2026-08-12 10:00:00,90,c7,VOICE,1
          |""".stripMargin)
      q.processAllAvailable()
    } finally q.stop()
    val r = spark.read.parquet(rated)
    val d = spark.read.parquet(dead)
    // file 1: 4 valid records assembling to 3 rated calls; file 2: 1 more
    assert(r.count() == 4, r.collect().mkString("\n"))
    assert(r.select("batch_id").distinct().count() == 2)
    assert(d.count() == 3, "the three dead-letter records persist")
    // the later file rated under the post-05:00 tariff version
    val charge = r.filter(col("imsi") === "404551234567895")
      .select(col("charge").cast("double")).as[Double].head()
    assert(charge == 0.25 + 2 * 2.00, charge.toString)
  }

  test("calls before any tariff version rate as null charge, not dropped") {
    import spark.implicits._
    val early = Seq(("MOC", "404550000000001", "919800000001", "x",
      ts("2025-01-01 00:00:00"), 60, "c1", "VOICE", 1))
      .toDF("record_type", "imsi", "msisdn", "other_party", "call_start_ts",
        "duration_sec", "cell_id", "call_type", "partial_seq")
    val rated = RatingPipeline.rate(RatingPipeline.assembleLegs(early), tariffs)
    assert(rated.count() == 1)
    assert(rated.select("charge").head().isNullAt(0))
  }
}
