package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.pipelines.RatingPipeline

/** Seeded CDR batches in the FIXTURES.md §B layout, with the answer the
  * rating pipeline must give, computed here in plain Scala with exact
  * decimals. */
object CdrGen {
  private val start = java.time.Instant.parse("2026-08-10T00:00:00Z").getEpochSecond
  private val days = 7
  private def at(iso: String) = java.time.Instant.parse(iso).getEpochSecond

  /** Tariff timeline: VOICE and DATA switch version mid-period. */
  val tariffs: Seq[(String, Long, BigDecimal, BigDecimal)] = Seq(
    ("VOICE", at("2026-08-01T00:00:00Z"), BigDecimal("1.2000"), BigDecimal("0.0500")),
    ("VOICE", at("2026-08-13T12:00:00Z"), BigDecimal("0.9000"), BigDecimal("0.0750")),
    ("SMS", at("2026-08-01T00:00:00Z"), BigDecimal("0.1000"), BigDecimal("0.0000")),
    ("DATA", at("2026-08-01T00:00:00Z"), BigDecimal("0.0200"), BigDecimal("0.0100")),
    ("DATA", at("2026-08-14T00:00:00Z"), BigDecimal("0.0150"), BigDecimal("0.0100")))

  def tariffFrame(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      tariffs.map { case (t, from, rate, fee) =>
        Row(t, new Timestamp(from * 1000L), rate.toDouble, fee.toDouble)
      }.asJava,
      RatingPipeline.tariffSchema)

  /** Per (day, call_type): calls, seconds, charge. */
  type Summary = Map[(String, String), (Long, Long, BigDecimal)]
  final case class Expected(legs: Long, bytes: Long, calls: Long, dead: Long,
      summary: Summary)

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

  /** Write about `legs` CDR records to `path` and return what the
    * pipeline must produce from them. Valid calls come in 1-3 partial
    * legs whose MSISDN is written in `+`, `00` or national form; about
    * 3% of records are invalid (bad IMSI, negative duration, unknown
    * call type) and must land in the dead letters. */
  def write(path: Path, seed: Long, legs: Int): Expected = {
    val rnd = new scala.util.Random(seed)
    val subscribers = math.max(1000, legs / 20)
    val sb = new java.lang.StringBuilder(legs * 100)
    sb.append("record_type,imsi,msisdn,other_party,call_start_ts," +
      "duration_sec,cell_id,call_type,partial_seq\n")
    // (imsi, canonical msisdn, other party, start, type, record type)
    val calls = scala.collection.mutable.HashMap.empty[
      (String, String, String, Long, String, String), Long]
    var written = 0
    var dead = 0L
    def row(rt: String, imsi: String, msisdn: String, other: String,
        ts: Long, dur: Int, cell: String, ct: String, seq: Int): Unit = {
      sb.append(rt).append(',').append(imsi).append(',').append(msisdn)
        .append(',').append(other).append(',')
        .append(tsFmt.format(java.time.Instant.ofEpochSecond(ts)))
        .append(',').append(dur).append(',').append(cell).append(',')
        .append(ct).append(',').append(seq).append('\n')
      written += 1
    }
    while (written < legs) {
      val sub = rnd.nextInt(subscribers)
      val imsi = f"404551$sub%09d"
      val nsn = f"98${(sub * 7919L + 12345L) % 100000000L}%08d"
      val other = f"91${rnd.nextLong(10000000000L)}%010d"
      val ts = start + rnd.nextInt(days * 86400)
      val rt = if (rnd.nextDouble() < 0.7) "MOC" else "MTC"
      val cell = f"40551-${rnd.nextInt(10000)}%04d"
      if (rnd.nextDouble() < 0.03) {
        rnd.nextInt(3) match {
          case 0 => row(rt, f"BAD${rnd.nextInt(1000000)}%06d", nsn, other, ts,
            rnd.nextInt(600), cell, "VOICE", 1)
          case 1 => row(rt, imsi, "+91" + nsn, other, ts,
            -1 - rnd.nextInt(300), cell, "VOICE", 1)
          case _ => row(rt, imsi, nsn, other, ts, rnd.nextInt(600), cell,
            "FAX", 1)
        }
        dead += 1
      } else {
        val u = rnd.nextDouble()
        val ct = if (u < 0.6) "VOICE" else if (u < 0.8) "SMS" else "DATA"
        val v = rnd.nextDouble()
        val n = if (v < 0.5) 1 else if (v < 0.8) 2 else 3
        var secs = 0L
        (1 to n).foreach { seq =>
          val d = ct match {
            case "VOICE" => 1 + rnd.nextInt(900)
            case "SMS"   => 0
            case _       => 1 + rnd.nextInt(3600)
          }
          secs += d
          val form = rnd.nextInt(3) match {
            case 0 => "+91" + nsn
            case 1 => "0091" + nsn
            case _ => nsn
          }
          row(rt, imsi, form, other, ts, d,
            f"40551-${rnd.nextInt(10000)}%04d", ct, seq)
        }
        val key = (imsi, "91" + nsn, other, ts, ct, rt)
        calls(key) = calls.getOrElse(key, 0L) + secs
      }
    }
    val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Files.createDirectories(path.getParent)
    Files.write(path, bytes)

    val summary = calls.toSeq.map { case ((_, _, _, ts, ct, _), secs) =>
      val (_, _, rate, fee) = tariffs.filter(t => t._1 == ct && t._2 <= ts)
        .maxBy(_._2)
      val charge = fee + rate * BigDecimal((secs + 59) / 60)
      val day = java.time.LocalDate.ofEpochDay(Math.floorDiv(ts, 86400L)).toString
      ((day, ct), (1L, secs, charge))
    }.groupMapReduce(_._1)(_._2) { case (a, b) =>
      (a._1 + b._1, a._2 + b._2, a._3 + b._3)
    }
    Expected(written, bytes.length, calls.size, dead, summary)
  }
}

/** The batch rating path, called the way a caller of the library would:
  * `readCdrs → normalize → split → assembleLegs → rate → summarize`, then
  * the summary, the rated calls and the dead letters persisted as
  * parquet. */
object CdrBatch {
  final case class Frames(raw: DataFrame, normalized: DataFrame,
      dead: DataFrame, calls: DataFrame, rated: DataFrame, summary: DataFrame)

  def frames(spark: SparkSession, csv: String, tariffs: DataFrame): Frames = {
    val raw = RatingPipeline.readCdrs(spark, csv)
    val normalized = RatingPipeline.normalize(raw)
    val (valid, dead) = RatingPipeline.split(normalized)
    val calls = RatingPipeline.assembleLegs(valid)
    val rated = RatingPipeline.rate(calls, tariffs)
    Frames(raw, normalized, dead, calls, rated, RatingPipeline.summarize(rated))
  }

  /** One batch from input present to all three outputs durable. */
  def run(spark: SparkSession, tracer: Tracer, csv: String,
      tariffs: DataFrame, out: Path): Unit = {
    val f = frames(spark, csv, tariffs)
    tracer.span("rating.write_summary")(
      RatingPipeline.writeSummary(f.summary, out.resolve("summary").toString))
    tracer.span("rating.write_rated")(
      f.rated.write.mode("overwrite").parquet(out.resolve("rated").toString))
    tracer.span("rating.write_dead")(
      f.dead.write.mode("overwrite").parquet(out.resolve("dead").toString))
  }

  /** Compare the persisted outputs with the generator's answer; `None`
    * when they agree, else the first difference. */
  def check(spark: SparkSession, out: Path, exp: CdrGen.Expected,
      corrupt: Boolean): Option[String] = {
    val expected =
      if (!corrupt) exp.summary
      else {
        val (k, (n, s, c)) = exp.summary.minBy(_._1)
        exp.summary.updated(k, (n, s, c + BigDecimal("0.0001")))
      }
    val got: CdrGen.Summary = spark.read.parquet(out.resolve("summary").toString)
      .collect().map { r =>
        (r.getAs[java.sql.Date]("day").toLocalDate.toString,
          r.getAs[String]("call_type")) ->
          ((r.getAs[Long]("n_calls"), r.getAs[Long]("total_secs"),
            BigDecimal(r.getAs[java.math.BigDecimal]("total_charge"))))
      }.toMap
    val rated = spark.read.parquet(out.resolve("rated").toString).count()
    val dead = spark.read.parquet(out.resolve("dead").toString).count()
    val badRow = (expected.keySet ++ got.keySet).toSeq.sorted.find { k =>
      (expected.get(k), got.get(k)) match {
        case (Some((n1, s1, c1)), Some((n2, s2, c2))) =>
          n1 != n2 || s1 != s2 || c1.compare(c2) != 0
        case _ => true
      }
    }
    badRow.map(k => s"summary row $k: expected ${expected.get(k)}, got ${got.get(k)}")
      .orElse(Option.when(rated != exp.calls)(
        s"rated calls: expected ${exp.calls}, got $rated"))
      .orElse(Option.when(dead != exp.dead)(
        s"dead letters: expected ${exp.dead}, got $dead"))
  }
}
