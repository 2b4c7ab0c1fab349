package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.queries.EventQ
import graft.streaming.{LiveRatingChain, PipelineRunner}

/** The live rating chain (`cdr_ingest → leg_assembly → rating`) started
  * through [[PipelineRunner]], fed leg files by an open-loop generator. */
final class LiveChain(spark: SparkSession, base: Path) {
  import LiveChain._

  private val inbox = base.resolve("inbox")
  private val staging = base.resolve("staging")
  private val rated = base.resolve("rated")
  private val runner = new PipelineRunner(spark)
  private var nextEvent = 0L
  private var nextFile = 0
  /** Every leg dropped into the inbox, for the invoice parity gate. */
  val dropped = scala.collection.mutable.ArrayBuffer.empty[Leg]

  Files.createDirectories(staging)
  private val queries: Seq[StreamingQuery] =
    LiveRatingChain.register(runner, spark, inbox.toString,
      base.resolve("legs").toString, base.resolve("calls").toString,
      rated.toString, base.resolve("ckpt").toString, tiers)
      .map(runner.start)

  /** Block until every stage has initialized and waits for input. */
  def awaitReady(): Unit = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!queries.forall(_.status.message.startsWith("Waiting for data"))) {
      require(System.nanoTime() < deadline && queries.forall(_.isActive),
        s"live chain did not start: ${queries.map(_.status.message)}")
      Thread.sleep(5)
    }
  }

  /** Lay out `files` leg files of `callsPerFile` new calls each. About 7%
    * of calls hold their last leg back one file, so assembly state
    * crosses micro-batches; the last file holds nothing back. Returns the
    * file bodies and, per file, the event ids of the calls it completes. */
  def plan(rnd: scala.util.Random, files: Int, callsPerFile: Int,
      accounts: Int): Seq[(String, Seq[Long])] = {
    val legs = Array.fill(files)(scala.collection.mutable.ArrayBuffer.empty[Leg])
    val completes = Array.fill(files)(scala.collection.mutable.ArrayBuffer.empty[Long])
    (0 until files).foreach { f =>
      (0 until callsPerFile).foreach { _ =>
        nextEvent += 1
        val id = s"${1 + rnd.nextInt(accounts)}:$nextEvent"
        val total = 1 + rnd.nextInt(4)
        val last = if (f < files - 1 && rnd.nextDouble() < 0.07) f + 1 else f
        (1 to total).foreach { seq =>
          legs(if (seq == total) last else f) +=
            Leg(id, seq, total, 1 + rnd.nextInt(600))
        }
        completes(last) += nextEvent
      }
    }
    legs.toSeq.zip(completes).map { case (ls, done) =>
      dropped ++= ls
      val body = ls.map(l => s"${l.callId},${l.seq},${l.total},${l.dur}")
        .mkString("call_id,seq,total,duration_sec\n", "\n", "\n")
      (body, done.toSeq)
    }
  }

  /** Land one file in the inbox by atomic rename (the chain's drop
    * contract). */
  def drop(body: String): Unit = {
    nextFile += 1
    val tmp = staging.resolve(f"legs_$nextFile%06d.csv")
    Files.writeString(tmp, body)
    Files.move(tmp, inbox.resolve(tmp.getFileName), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Block until every dropped file has passed all three stages. */
  def settle(): Unit = queries.foreach(_.processAllAvailable())

  def stop(): Unit = runner.stopAll()

  /** Every rated record as (account, event id, commit epoch ms). The
    * file sink's metadata log names the part files each micro-batch of
    * the rating stage added, and the log entry's write time is that
    * batch's commit. */
  def ratedRecords(): Seq[(Long, Long, Double)] = {
    val log = rated.resolve("_spark_metadata")
    val entries = Files.list(log).iterator().asScala.toSeq
      .flatMap { p =>
        val n = p.getFileName.toString.stripSuffix(".compact")
        n.toLongOption.map(b => (b, p))
      }.sortBy(_._1)
    val pathRe = "\"path\":\"([^\"]+)\"".r
    val committed = scala.collection.mutable.HashMap.empty[String, Double]
    entries.foreach { case (_, p) =>
      val at = Files.getLastModifiedTime(p).toInstant
      val ms = at.getEpochSecond * 1000.0 + at.getNano / 1e6
      pathRe.findAllMatchIn(Files.readString(p)).foreach { m =>
        committed.getOrElseUpdate(fileKey(m.group(1)), ms)
      }
    }
    spark.read.parquet(rated.toString)
      .select(col("account_id").cast(LongType), col("event_id"),
        input_file_name())
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1),
        committed.getOrElse(fileKey(r.getString(2)), Double.NaN)))
  }

  /** The streamed invoice equals the batch invoice run (q239's
    * `EventQ.invoiceRun`) over the same legs. */
  def invoiceParity(): Boolean = {
    import spark.implicits._
    val streamed = LiveRatingChain.invoice(spark, rated.toString, taxes)
      .orderBy(col("account_id")).collect().map(_.toSeq).toSeq
    val usage = dropped.toSeq.toDF("call_id", "seq", "total", "dur")
      .dropDuplicates("call_id", "seq")
      .groupBy(col("call_id"))
      .agg(sum(col("dur")).as("dur"), max(col("total")).as("t"),
        count(lit(1)).as("n"))
      .filter(col("n") === col("t"))
      .select(
        split(col("call_id"), ":").getItem(1).cast(LongType).as("event_id"),
        split(col("call_id"), ":").getItem(0).cast(LongType).as("user_id"),
        split(col("call_id"), ":").getItem(1).cast(LongType)
          .cast(TimestampType).as("ts"),
        col("dur").cast(LongType).as("units"))
    val batch = EventQ.invoiceRun(usage, col("units"), tiers, taxes)
      .orderBy(col("account_id")).collect().map(_.toSeq).toSeq
    streamed == batch
  }
}

object LiveChain {
  final case class Leg(callId: String, seq: Int, total: Int, dur: Int)

  val tiers = Seq((0L, 5000L, 5L), (5000L, 20000L, 3L), (20000L, Long.MaxValue, 1L))
  val taxes = Seq(("fed", 100000L, false), ("muni", 50000L, true), ("reg", 15000L, true))

  /** A part file named by its partition directory and file name, which
    * is how the metadata log and `input_file_name` can be matched. */
  private def fileKey(uri: String): String =
    uri.split('/').takeRight(2).mkString("/")
}
