package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.queries.PreratingQ
import graft.streaming.{LiveRatingChain, PipelineRunner, VersionedDim}

/** The versioned dimension store and the live-dim prerating stage: a
  * number port published mid-run guides the NEXT micro-batch to the new
  * owner with no stage restart (the round-10 verdict's top gap);
  * validation is paid once per dim VERSION; `refreshsession` forces a
  * reload at an unchanged version; and with SCD2 validity windows a
  * replayed historical wave guides to its era's owner while live
  * traffic guides to the current one.
  */
class VersionedDimSpec extends SparkSpec {

  import spark.implicits._

  private val tiers = Seq((0L, 100L, 5L), (100L, 300L, 3L),
    (300L, Long.MaxValue, 1L))

  private def writeCsv(path: String, rows: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path),
      ("msisdn,event_id,seq,total,duration_sec" +: rows).mkString("\n")
        .getBytes("UTF-8"))
  }

  test("publish/resolve: marker is the commit; validation once per version") {
    val dir = Files.createTempDirectory("graft_vdim").toString
    val validations = new AtomicInteger(0)
    val dim = new VersionedDim(spark, dir,
      df => { validations.incrementAndGet(); df })
    intercept[IllegalStateException] { dim.resolve() } // empty store
    val v1 = dim.publish(Seq((100L, 199L, 1L))
      .toDF("range_start", "range_end", "account_id"))
    assert(v1 == 1L)
    assert(dim.resolve()._1 == 1L)
    dim.resolve(); dim.resolve()
    assert(validations.get() == 1, "validation must cache per version")
    val v2 = dim.publish(Seq((100L, 199L, 2L))
      .toDF("range_start", "range_end", "account_id"))
    assert(v2 == 2L)
    assert(dim.resolve()._2.select("account_id").as[Long].head() == 2L)
    assert(validations.get() == 2)
    dim.refresh()
    dim.resolve()
    assert(validations.get() == 3, "refresh must force re-validation")

    // an UNCOMMITTED snapshot (data written, marker missing — a crashed
    // publisher) is invisible …
    Seq((100L, 199L, 9L)).toDF("range_start", "range_end", "account_id")
      .write.parquet(s"$dir/data/3")
    assert(dim.latestVersion().contains(2L))
    // … and the next publish RECLAIMS the orphan version number instead
    // of failing forever on the leftover directory
    val v3 = dim.publish(Seq((100L, 199L, 3L))
      .toDF("range_start", "range_end", "account_id"))
    assert(v3 == 3L)
    assert(dim.resolve()._2.select("account_id").as[Long].head() == 3L)
  }

  test("a port published mid-run guides the NEXT batch — no restart") {
    withRocksDbState {
      val base = Files.createTempDirectory("graft_livedim").toString
      val runner = new PipelineRunner(spark)
      try {
        val dim = new VersionedDim(spark, s"$base/dim")
        // era 1: the 4915123400xx block belongs to account 1000
        dim.publish(Seq((491512340000L, 491512340999L, 1000L))
          .toDF("range_start", "range_end", "account_id"))
        writeCsv(s"$base/raw/w1.csv", Seq("+49 151 234 0042,501,1,1,100.0"))
        val names = LiveRatingChain.registerWithLiveDim(runner, spark,
          s"$base/raw", dim, s"$base/prerated", s"$base/legs",
          s"$base/calls", s"$base/rated", s"$base/ckpt", tiers)
        val qs = names.map(runner.start)
        qs.foreach(_.processAllAvailable())
        def rated() = spark.read.parquet(s"$base/rated")
          .select(col("account_id").cast(LongType), col("event_id"))
          .as[(Long, Long)].collect().toSet
        assert(rated() == Set((1000L, 501L)), rated().toString)

        // the PORT: the block moves to account 2000, published to the
        // store while every stage keeps running
        dim.publish(Seq((491512340000L, 491512340999L, 2000L))
          .toDF("range_start", "range_end", "account_id"))
        writeCsv(s"$base/raw/w2.csv", Seq("+49 151 234 0042,502,1,1,50.0"))
        qs.foreach(_.processAllAvailable())
        assert(rated() == Set((1000L, 501L), (2000L, 502L)),
          s"mid-run port not picked up: ${rated()}")
        // the audit column records which dim version guided each row
        val vers = spark.read.parquet(s"$base/prerated")
          .select(col("guide_ver")).as[Long].collect().toSet
        assert(vers == Set(1L, 2L), vers.toString)
      } finally runner.stopAll()
    }
  }

  test("SCD2 dim: a replayed historical wave guides to its era's owner") {
    withRocksDbState {
      val base = Files.createTempDirectory("graft_eradim").toString
      val runner = new PipelineRunner(spark)
      try {
        val dim = new VersionedDim(spark, s"$base/dim",
          PreratingQ.validateVersionedDim)
        // one plan, two eras: before sec 500 the block is account 1000,
        // from 500 on it is account 2000 (event_id doubles as seconds)
        dim.publish(Seq(
          (491512340000L, 491512340999L, 0L, 500L, 1000L),
          (491512340000L, 491512340999L, 500L, Long.MaxValue, 2000L))
          .toDF("range_start", "range_end", "valid_from_sec",
            "valid_to_sec", "account_id"))
        // live traffic (sec 600) and a redelivered old wave (sec 100)
        // in the SAME run
        writeCsv(s"$base/raw/live.csv", Seq("+491512340042,600,1,1,80.0"))
        writeCsv(s"$base/raw/replay.csv", Seq("+491512340042,100,1,1,40.0"))
        val names = LiveRatingChain.registerWithLiveDim(runner, spark,
          s"$base/raw", dim, s"$base/prerated", s"$base/legs",
          s"$base/calls", s"$base/rated", s"$base/ckpt", tiers,
          versionedGuiding = true)
        val qs = names.map(runner.start)
        qs.foreach(_.processAllAvailable())
        val rated = spark.read.parquet(s"$base/rated")
          .select(col("account_id").cast(LongType), col("event_id"),
            col("charge_centi"))
          .as[(Long, Long, Long)].collect().toSet
        // old era's owner bills the old call, new era's the new one:
        // T(40) = 200, T(80) = 400
        assert(rated == Set((1000L, 100L, 200L), (2000L, 600L, 400L)),
          rated.toString)
      } finally runner.stopAll()
    }
  }

  test("refreshsession control verb reaches the stage's dim hook") {
    val runner = new PipelineRunner(spark)
    val hits = new AtomicInteger(0)
    runner.onRefresh("prerating", () => hits.incrementAndGet())
    runner.control("s=prerating\na=refreshsession")
    assert(hits.get() == 1)
    runner.control("s=other\na=refreshsession") // no hook: no-op
    assert(hits.get() == 1)
  }
}
