package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.EventQ
import graft.streaming.{LiveRatingChain, PipelineRunner}

/** The composed live mediation chain: file-source CDR ingest →
  * LegAssembler → MarginalRater → partitioned invoice store, run as ONE
  * PipelineRunner topology, killed mid-stream and restarted — state and
  * sources all recover, nothing is lost or double-billed, and the
  * streamed invoice equals the q239 batch invoice run on the same legs.
  */
class LiveRatingChainSpec extends SparkSpec {

  import spark.implicits._

  private val tiers = Seq((0L, 100L, 5L), (100L, 300L, 3L),
    (300L, Long.MaxValue, 1L))
  private val taxes = Seq(("fed", 100000L, false), ("muni", 50000L, true))

  private def writeCsv(path: String, rows: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path),
      ("call_id,seq,total,duration_sec" +: rows).mkString("\n")
        .getBytes("UTF-8"))
  }

  test("an operator stops and restarts the rating stage through the control file channel") {
    // the reference's operational model: a control packet stops ONE
    // session while the rest of the linked chain keeps flowing; a later
    // start catches the stopped stage up from its checkpoint with no
    // loss (MFramework.cpp:1774-1925 start/stop dispatch)
    withRocksDbState {
      val base = Files.createTempDirectory("graft_chainctl").toString
      val runner = new PipelineRunner(spark)
      var ctl: org.apache.spark.sql.streaming.StreamingQuery = null
      try {
        writeCsv(s"$base/inbox/w1.csv", Seq("1:1,1,1,100.0"))
        val names = LiveRatingChain.register(runner, spark, s"$base/inbox",
          s"$base/legs", s"$base/calls", s"$base/rated", s"$base/ckpt", tiers)
        val qs = names.map(runner.start)
        Files.createDirectories(Paths.get(s"$base/ctl"))
        ctl = runner.controlIngress(s"$base/ctl", s"$base/ctlckpt")
        qs.foreach(_.processAllAvailable())
        assert(spark.read.parquet(s"$base/rated").count() == 1)

        // stop ONLY the rating stage by dropping a control packet file
        Files.write(Paths.get(s"$base/ctl/stop_rating.txt"),
          "s=rating\na=stopsession".getBytes("UTF-8"))
        assert(eventually(30000)(!runner.isRunning("rating")),
          "control packet never stopped the rating stage")
        assert(runner.isRunning("cdr_ingest") && runner.isRunning("leg_assembly"))

        // upstream keeps flowing while rating is down
        writeCsv(s"$base/inbox/w2.csv", Seq("1:2,1,1,50.0"))
        runner.start("cdr_ingest") // no-op (idempotent), then drain upstream
        Seq("cdr_ingest", "leg_assembly").foreach(n =>
          spark.streams.active.find(_.name == n).foreach(_.processAllAvailable()))
        assert(spark.read.parquet(s"$base/calls").count() == 2)
        assert(spark.read.parquet(s"$base/rated").count() == 1,
          "stopped stage must not produce")

        // start it back via the channel: it catches up from its checkpoint
        Files.write(Paths.get(s"$base/ctl/start_rating.txt"),
          "s=rating\na=startsession".getBytes("UTF-8"))
        assert(eventually(30000)(runner.isRunning("rating")))
        spark.streams.active.find(_.name == "rating").foreach(_.processAllAvailable())
        val out = spark.read.parquet(s"$base/rated")
          .select(col("event_id"), col("cum_units"))
          .as[(Long, Long)].collect().toMap
        // marginal state survived the stop: call 2 accumulates on call 1
        assert(out == Map(1L -> 100L, 2L -> 150L), out.toString)
      } finally {
        if (ctl != null) ctl.stop()
        runner.stopAll()
      }
    }
  }

  test("the fraud tap is an isolated second consumer of the legs store") {
    // one producer (ingest), two consumers (assembly, fraud tap) each
    // with their own checkpoint over the same _spark_metadata log —
    // killing one consumer never perturbs the other (the reference's
    // queue fan-out, MFramework.cpp:1537-1571)
    withRocksDbState {
      val base = Files.createTempDirectory("graft_fraudtap").toString
      val runner = new PipelineRunner(spark)
      try {
        // account 9 bursts: 3 single-leg calls with event ids 100,101,102
        // (the fixture's event-time surrogate) inside one 60s window;
        // account 1 is a normal caller
        writeCsv(s"$base/inbox/w1.csv", Seq(
          "1:10,1,1,30.0",
          "9:100,1,1,10.0", "9:101,1,1,10.0", "9:102,1,1,10.0"))
        val names = LiveRatingChain.register(runner, spark, s"$base/inbox",
          s"$base/legs", s"$base/calls", s"$base/rated", s"$base/ckpt", tiers)
        runner.register(LiveRatingChain.fraudStage(spark, s"$base/legs",
          s"$base/alarms", s"$base/ckpt", windowSec = 60L, threshold = 3L))
        val qs = (names :+ "fraud_tap").map(runner.start)
        qs.foreach(_.processAllAvailable())
        val alarms1 = spark.read.parquet(s"$base/alarms")
          .select(col("user_id"), col("event_id"))
          .as[(Long, Long)].collect().toSet
        assert(alarms1 == Set((9L, 102L)), alarms1.toString)
        assert(spark.read.parquet(s"$base/rated").count() == 4,
          "the tap must not perturb billing")

        // kill ONLY the tap; billing keeps flowing
        runner.stop("fraud_tap")
        writeCsv(s"$base/inbox/w2.csv", Seq("9:103,1,1,10.0"))
        names.foreach(n =>
          spark.streams.active.find(_.name == n).foreach(_.processAllAvailable()))
        assert(spark.read.parquet(s"$base/rated").count() == 5)
        assert(spark.read.parquet(s"$base/alarms").count() == 1,
          "stopped tap must not produce")

        // restart the tap: it catches up from ITS OWN checkpoint — the
        // new call extends the burst (window holds 101,102,103)
        val tq = runner.start("fraud_tap")
        tq.processAllAvailable()
        val alarms2 = spark.read.parquet(s"$base/alarms")
          .select(col("user_id"), col("event_id"))
          .as[(Long, Long)].collect().toSet
        assert(alarms2 == Set((9L, 102L), (9L, 103L)), alarms2.toString)
      } finally {
        runner.stopAll()
      }
    }
  }

  test("chain survives kill-and-restart with exact batch parity") {
    withRocksDbState {
      val base = Files.createTempDirectory("graft_livechain").toString
      val (inbox, legs, calls, rated, ckpt) =
        (s"$base/inbox", s"$base/legs", s"$base/calls", s"$base/rated",
          s"$base/ckpt")
      try {
        // ---- wave 1 ----------------------------------------------------
        // acct 1 call 101: both legs (complete, 100 units)
        // acct 1 call 102: first leg only (stays IN STATE across restart)
        // acct 2 call 201: single-leg call (complete, 250 units)
        // two dead letters: malformed call_id, negative duration
        writeCsv(s"$inbox/wave1a.csv", Seq(
          "1:101,1,2,60.0",
          "1:102,1,2,30.0",
          "xyz,1,1,10.0"))
        writeCsv(s"$inbox/wave1b.csv", Seq(
          "1:101,2,2,40.0",
          "2:201,1,1,250.0",
          "2:999,1,1,-5.0"))

        val runner = new PipelineRunner(spark)
        val names = LiveRatingChain.register(runner, spark, inbox, legs,
          calls, rated, ckpt, tiers)
        val qs = names.map(runner.start)
        qs.foreach(_.processAllAvailable())

        // mid-stream state: two complete calls rated, dead letters kept
        val mid = spark.read.parquet(rated)
          .select(col("account_id").cast(LongType), col("event_id"),
            col("charge_centi"))
          .as[(Long, Long, Long)].collect().toSet
        // T(100)-T(0) = 500; T(250)-T(0) = 100*5 + 150*3 = 950
        assert(mid == Set((1L, 101L, 500L), (2L, 201L, 950L)), mid.toString)
        assert(spark.read.parquet(legs).filter(!col("valid")).count() == 2)

        // ---- KILL the whole topology mid-stream ------------------------
        runner.stopAll()
        assert(names.forall(!runner.isRunning(_)))

        // ---- wave 2 lands while the app is down ------------------------
        // completes call 102 (50 total units -> marginal from cum 100),
        // redelivers call 101's first leg (must NOT re-bill), adds
        // acct 2 call 202 (100 units -> marginal from cum 250)
        writeCsv(s"$inbox/wave2.csv", Seq(
          "1:102,2,2,20.0",
          "1:101,1,2,60.0",
          "2:202,1,1,100.0"))

        // ---- RESTART: fresh runner, same checkpoints --------------------
        val runner2 = new PipelineRunner(spark)
        LiveRatingChain.register(runner2, spark, inbox, legs, calls,
          rated, ckpt, tiers)
        val qs2 = names.map(runner2.start)
        qs2.foreach(_.processAllAvailable())
        runner2.stopAll()

        // ---- no loss, no duplication across the restart ----------------
        val out = spark.read.parquet(rated)
          .select(col("account_id").cast(LongType), col("event_id"),
            col("units"), col("cum_units"), col("charge_centi"))
          .as[(Long, Long, Long, Long, Long)].collect()
        assert(out.length == 4, out.mkString(";"))
        assert(out.map(r => (r._1, r._2)).distinct.length == 4,
          "duplicate billing rows: " + out.mkString(";"))
        val byEvent = out.map(r => r._2 -> ((r._4, r._5))).toMap
        // acct 1: cum 100 -> 150 across the restart: T(150)-T(100) = 150
        assert(byEvent(102L) == ((150L, 150L)), byEvent.toString)
        // acct 2: cum 250 -> 350: T(350)-T(250) = 50*3 + 50*1 = 200
        assert(byEvent(202L) == ((350L, 200L)), byEvent.toString)
        // the redelivered 101 leg re-opened call state but never completed
        // and never re-billed
        assert(!byEvent.contains(101L) || byEvent(101L) == ((100L, 500L)))

        // ---- batch-twin parity: streamed invoice == q239 on same legs --
        val streamed = LiveRatingChain.invoice(spark, rated, taxes)
          .orderBy(col("account_id")).collect().map(_.toSeq)
        // batch side: assemble the SAME raw legs (valid, first arrival per
        // (call,seq), complete calls only) into usage events and run the
        // q239 invoice operator over them
        val raw = spark.read.schema(LiveRatingChain.legSchema)
          .option("header", "true").csv(inbox)
        val usage = raw
          .filter(col("call_id").rlike("^[0-9]+:[0-9]+$") &&
            col("duration_sec") >= 0.0)
          .dropDuplicates("call_id", "seq")
          .groupBy(col("call_id"))
          .agg(sum(col("duration_sec")).as("dur"), max(col("total")).as("t"),
            count(lit(1)).as("n"))
          .filter(col("n") === col("t"))
          .select(
            split(col("call_id"), ":").getItem(1).cast(LongType)
              .as("event_id"),
            split(col("call_id"), ":").getItem(0).cast(LongType)
              .as("user_id"),
            split(col("call_id"), ":").getItem(1).cast(LongType)
              .cast(TimestampType).as("ts"),
            expr("CAST(round(dur) AS BIGINT)").as("units"))
        val batch = EventQ.invoiceRun(usage, col("units"), tiers, taxes)
          .orderBy(col("account_id")).collect().map(_.toSeq)
        assert(streamed.toSeq == batch.toSeq,
          s"streamed=${streamed.toSeq} batch=${batch.toSeq}")

        // ---- the LAST hop: invoice files deliver to downstream billing
        // through the connector upload leg (rate -> deliver, the
        // reference's full prerating -> gsmrating -> outbound story) ----
        val invoiceOut = s"$base/invoice_files"
        LiveRatingChain.invoice(spark, rated, taxes)
          .coalesce(1).write.mode("overwrite").parquet(invoiceOut)
        val remoteRoot = Files.createTempDirectory("graft_billing_remote")
        val transport = new graft.etl.FileTransport {
          private def p(h: String, r: String) = remoteRoot.resolve(h).resolve(r)
          def list(h: String, d: String): Seq[String] = {
            val dir = p(h, d)
            if (!Files.isDirectory(dir)) Seq.empty
            else {
              val s = Files.walk(dir)
              try {
                val it = s.iterator()
                val buf = Seq.newBuilder[String]
                while (it.hasNext) {
                  val f = it.next()
                  if (Files.isRegularFile(f)) buf += dir.relativize(f).toString
                }
                buf.result()
              } finally s.close()
            }
          }
          def size(h: String, f: String): Long = Files.size(p(h, f))
          override def mtime(h: String, f: String): Long =
            Files.getLastModifiedTime(p(h, f)).toMillis
          def fetch(h: String, f: String, d: java.nio.file.Path): Unit =
            Files.copy(p(h, f), d)
          override def push(h: String, src: java.nio.file.Path,
              f: String): Unit = {
            Files.createDirectories(p(h, f).getParent)
            Files.copy(src, p(h, f),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING,
              java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
          }
          override def rename(h: String, from: String, to: String): Unit =
            Files.move(p(h, from), p(h, to),
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          override def delete(h: String, f: String): Unit =
            Files.deleteIfExists(p(h, f))
        }
        val conn = new graft.etl.SftpConnector(transport,
          Files.createTempDirectory("graft_billing_stage").toString,
          scheme = "sftpb")
        val delivered = conn.upload(Paths.get(invoiceOut), "sftpb://billing/in")
        assert(delivered.nonEmpty && delivered.forall(_.endsWith(".parquet")),
          delivered.toString)
        // delivered bytes are the invoice, re-readable on the "remote"
        val back = spark.read.parquet(
          remoteRoot.resolve("billing").resolve("in").toString)
        assert(back.count() == streamed.length)
        // redelivery is a no-op: the remote's state is the ledger
        assert(conn.upload(Paths.get(invoiceOut), "sftpb://billing/in").isEmpty)
      } finally {
        spark.streams.active.foreach(_.stop())
      }
    }
  }

  test("prerating guides raw MSISDNs into the chain ahead of leg assembly") {
    // the reference's FULL named topology: prerating.sh (normalize +
    // guide) feeding gsmrating.sh (assemble + rate) — raw CDRs carry
    // messy wire-form numbers, and two different spellings of the same
    // number must land on the same account before rating sees them
    withRocksDbState {
      val base = Files.createTempDirectory("graft_prerating").toString
      val runner = new PipelineRunner(spark)
      try {
        Files.createDirectories(Paths.get(s"$base/raw"))
        Files.write(Paths.get(s"$base/raw/wave1.csv"),
          ("msisdn,event_id,seq,total,duration_sec" +: Seq(
            "+4915550001,11,1,1,100.0",
            "0 1555-0002,12,1,2,30.0",   // national form with separators
            "+49.1555(0002),12,2,2,20.0", // SAME number, international form
            "+4915560001,13,1,1,40.0",
            "+4999990001,14,1,1,10.0",   // no range owns it -> unguided
            "12AB,15,1,1,10.0"           // -> bad_chars
          )).mkString("\n").getBytes("UTF-8"))
        val ranges = Seq(
          (4915550000L, 4915559999L, 7L),
          (4915560000L, 4915569999L, 8L))
          .toDF("range_start", "range_end", "account_id")
        val names = LiveRatingChain.registerWithPrerating(runner, spark,
          s"$base/raw", ranges, s"$base/prerated", s"$base/legs",
          s"$base/calls", s"$base/rated", s"$base/ckpt", tiers)
        assert(names == Seq("prerating", "cdr_ingest", "leg_assembly",
          "rating"))
        val qs = names.map(runner.start)
        qs.foreach(_.processAllAvailable())
        // two runs: prerating commits its store, then downstream drains it
        qs.foreach(_.processAllAvailable())

        // both spellings of 4915550002 guided to account 7 and ASSEMBLED
        // into one complete call 7:12 (the prerating value proposition)
        val rated = spark.read.parquet(s"$base/rated")
          .select(col("account_id").cast(LongType), col("event_id"),
            col("charge_centi"))
          .as[(Long, Long, Long)].collect().toSet
        // acct 7: T(100)=500 then T(150)-T(100)=150; acct 8: T(40)=200
        assert(rated == Set((7L, 11L, 500L), (7L, 12L, 150L),
          (8L, 13L, 200L)), rated.toString)

        // never-drop: the unguided and malformed CDRs are in the prerated
        // store's guided=false partition with their reason codes
        val dead = spark.read.parquet(s"$base/prerated")
          .filter(!col("guided"))
          .select(col("reason")).as[String].collect().sorted.toSeq
        assert(dead == Seq("bad_chars", "unguided"), dead.toString)
        assert(spark.read.parquet(s"$base/prerated").count() == 6,
          "every raw CDR accounted for")
      } finally {
        runner.stopAll()
      }
    }
  }

  test("late legs reconcile into changed-only correction invoice lines") {
    // the loop the calls store's complete=false rows exist for: a call's
    // timeout flush leaves it unrated; its late leg lands after the
    // flush; the batch reconciliation recomputes the full-leg truth and
    // emits exactly one correction line, and streamed + corrections ==
    // the batch invoice over the complete leg set (tier telescoping)
    withRocksDbState {
      val base = Files.createTempDirectory("graft_latelegs").toString
      val runner = new PipelineRunner(spark)
      try {
        // wave 1: acct 1 complete call 100 (40u), call 101 leg 1/2 (60.0,
        // will timeout-flush), acct 2 complete call 201 (250u)
        writeCsv(s"$base/inbox/w1.csv", Seq(
          "1:100,1,1,40.0", "1:101,1,2,60.0", "2:201,1,1,250.0"))
        val names = LiveRatingChain.register(runner, spark, s"$base/inbox",
          s"$base/legs", s"$base/calls", s"$base/rated", s"$base/ckpt",
          tiers, legTimeoutMs = 500L)
        names.map(runner.start)
        // NOTE: processAllAvailable never latches with processing-time
        // timers (the LegAssemblySpec lesson) — poll the stores instead
        def ratedCount() =
          try spark.read.parquet(s"$base/rated").count() catch {
            case _: Exception => -1L }
        assert(eventually(60000)(ratedCount() == 2),
          s"wave 1 never rated: ${ratedCount()}")

        // let call 101's timer expire and flush complete=false; a second
        // wave keeps the chain visibly alive meanwhile
        writeCsv(s"$base/inbox/w2.csv", Seq("3:301,1,1,10.0"))
        assert(eventually(60000) {
          try spark.read.parquet(s"$base/calls").filter(!col("complete"))
            .count() == 1 && ratedCount() == 3
          catch { case _: Exception => false }
        }, "timeout flush never surfaced in the calls store")

        // the LATE leg arrives after its call was flushed: it re-opens
        // state but never completes — the stream will never bill it
        writeCsv(s"$base/inbox/w3.csv", Seq("1:101,2,2,40.0"))
        assert(eventually(60000) {
          try spark.read.parquet(s"$base/legs").count() == 5
          catch { case _: Exception => false }
        }, "late leg never reached the legs store")
        // give assembly a timer cycle to absorb the late leg (it must NOT
        // produce a new rated row)
        Thread.sleep(1500)
        val streamed = spark.read.parquet(s"$base/rated")
          .select(col("account_id").cast(LongType), col("charge_centi"))
          .as[(Long, Long)].collect()
        assert(streamed.length == 3, streamed.mkString(";"))

        // reconcile: the legs store now holds BOTH legs of call 101, so
        // the full-leg recompute sees it complete (100u) — acct 1's true
        // cycle is 140u: T(140) = 100*5 + 40*3 = 620, streamed T(40) = 200
        val corr = LiveRatingChain.reconcile(spark, s"$base/legs",
          s"$base/rated", tiers)
          .select(col("account_id"), col("total_units"),
            col("original_centi"), col("corrected_centi"),
            col("correction_centi"))
          .as[(Long, Long, Long, Long, Long)].collect().toSeq
        assert(corr == Seq((1L, 140L, 200L, 620L, 420L)), corr.toString)

        // books balance: Σ(streamed + corrections) == batch invoice over
        // the complete leg set, per account
        val batch = EventQ.marginalTieredCharges(
          spark.read.parquet(s"$base/legs")
            .filter(col("valid").cast("boolean"))
            .dropDuplicates("call_id", "seq")
            .groupBy(col("call_id"))
            .agg(sum(col("duration_sec")).as("dur"),
              max(col("total")).as("t"), count(lit(1)).as("n"))
            .filter(col("n") === col("t"))
            .select(
              split(col("call_id"), ":").getItem(1).cast(LongType)
                .as("event_id"),
              split(col("call_id"), ":").getItem(0).cast(LongType)
                .as("user_id"),
              split(col("call_id"), ":").getItem(1).cast(LongType)
                .cast(TimestampType).as("ts"),
              expr("CAST(round(dur) AS BIGINT)").as("units")),
          col("units"), tiers)
          .groupBy(col("k")).agg(sum(col("charge_centi")).as("c"))
          .as[(Long, Long)].collect().toMap
        val reconciled = (streamed.groupBy(_._1).view
          .mapValues(_.map(_._2).sum).toMap.toSeq ++
          corr.map(r => r._1 -> r._5))
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        assert(reconciled == batch, s"reconciled=$reconciled batch=$batch")
      } finally {
        runner.stopAll()
      }
    }
  }
}
