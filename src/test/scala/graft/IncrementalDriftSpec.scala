package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.IncrementalDrift
import graft.queries.AnalyticsQ

/** Incremental TV drift: the store's derived drift table is EXACTLY the
  * batch q315 card on the union of all appended batches — across waves,
  * retries, and late stragglers for old days. */
class IncrementalDriftSpec extends SparkSpec {

  import spark.implicits._

  private def ev(rows: Seq[(Int, String)]): DataFrame =
    rows.map { case (d, t) => (f"2024-01-${d + 1}%02d 12:00:00", t) }
      .toDF("ts0", "event_type")
      .select(col("ts0").cast("timestamp").as("ts"), col("event_type"))

  private def table(df: DataFrame): Seq[(Long, Long, Option[Long])] =
    df.select(col("day"), col("n_events"), col("tv_ppm"))
      .as[(Long, Long, Option[Long])].collect().toSeq.sortBy(_._1)

  test("store drift == batch q315 on the union across waves, a retry " +
      "never double-counts, and a late straggler self-corrects with an " +
      "audit row") {
    val store = Files.createTempDirectory("graft_driftstore").toString
    val log = s"$store/driftlog"
    val sink = IncrementalDrift.sink(spark, store, log)

    // wave 0: day0 2A+2B; wave 1: day1 4A (B vanishes)
    val w0 = Seq((0, "A"), (0, "A"), (0, "B"), (0, "B"))
    val w1 = Seq((1, "A"), (1, "A"), (1, "A"), (1, "A"))
    sink(ev(w0), 0L)
    sink(ev(w1), 1L)
    val afterW1 = table(IncrementalDrift.drift(spark, store))
    assert(afterW1 == table(AnalyticsQ.tvDriftCard(ev(w0 ++ w1))),
      s"store drift diverged from the batch card: $afterW1")
    assert(afterW1 == Seq((0L, 4L, None), (1L, 4L, Some(500000L))),
      afterW1.toString)

    // RETRY: wave 1 replays (same batch id) — the partition overwrite
    // must leave counts and drift byte-identical, never doubled
    sink(ev(w1), 1L)
    assert(table(IncrementalDrift.drift(spark, store)) == afterW1,
      "a replayed batch double-counted its day")

    // LATE STRAGGLERS for day 0 land in batch 2: two more B rows shift
    // day 0's mix to 2A/4B, which changes day 1's drift too
    val late = Seq((0, "B"), (0, "B"))
    sink(ev(late), 2L)
    val afterLate = table(IncrementalDrift.drift(spark, store))
    assert(afterLate == table(AnalyticsQ.tvDriftCard(ev(w0 ++ w1 ++ late))),
      s"late rows broke batch parity: $afterLate")
    // day0 mix 333333/666666; day1 |1e6-333333|+|0-666666| = 1333333/2
    assert(afterLate == Seq((0L, 6L, None), (1L, 4L, Some(666666L))),
      afterLate.toString)

    // the batch-2 drift-log rows cover day 0 AND its next observed day
    val logged = spark.read.parquet(log)
      .filter(col("batch_id") === 2L)
      .select(col("day"), col("tv_ppm"))
      .as[(Long, Option[Long])].collect().toSeq.sortBy(_._1)
    assert(logged == Seq((0L, None), (1L, Some(666666L))),
      s"affected-day audit rows: $logged")
    // ...and the log keeps the PRE-correction verdict for day 1 too —
    // the append-only audit trail (drift as of batch 1 vs as of batch 2)
    val day1Trail = spark.read.parquet(log)
      .filter(col("day") === 1L)
      .select(col("batch_id"), col("tv_ppm"))
      .as[(Long, Option[Long])].collect().toSeq.sortBy(_._1)
    assert(day1Trail == Seq((1L, Some(500000L)), (2L, Some(666666L))),
      s"audit trail: $day1Trail")
  }

  test("deltaDrift touches only the batch's days plus their next " +
      "observed days") {
    val store = Files.createTempDirectory("graft_driftdelta").toString
    // three observed days, then a batch touching only day 1
    IncrementalDrift.append(ev(Seq((0, "A"), (1, "A"), (3, "A"))),
      store, 0L)
    IncrementalDrift.append(ev(Seq((1, "B"))), store, 1L)
    val touched = IncrementalDrift.deltaDrift(spark, store, 1L)
      .select(col("day")).as[Long].collect().toSeq.sorted
    // day 1 (touched) and day 3 (its next observed day); day 0 untouched
    assert(touched == Seq(1L, 3L), touched.toString)
  }

  test("compact folds the store to one partition per day, drift is " +
      "hash-identical before/after, a post-compaction straggler still " +
      "self-corrects, and the swap is crash-re-entrant") {
    val store = Files.createTempDirectory("graft_driftcompact").toString
    // many small batches across two days (the thousand-batch shape)
    (0L until 8L).foreach { b =>
      IncrementalDrift.append(
        ev(Seq((0, if (b % 2 == 0) "A" else "B"), (1, "A"))), store, b)
    }
    val before = table(IncrementalDrift.drift(spark, store))
    IncrementalDrift.compact(spark, store)
    assert(table(IncrementalDrift.drift(spark, store)) == before,
      "compaction changed the drift table")
    // layout: only reserved negative per-day partitions remain
    val parts = new java.io.File(s"$store/counts").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(parts == Seq("batch_id=-1", "batch_id=-2"),
      s"expected one reserved partition per day, got $parts")
    // a straggler lands AFTER compaction: late day-0 rows beside the
    // compacted partitions — the fold self-corrects exactly as before
    IncrementalDrift.append(ev(Seq((0, "B"), (0, "B"))), store, 8L)
    val all = (0 until 8).flatMap(b =>
      Seq((0, if (b % 2 == 0) "A" else "B"), (1, "A"))) ++
      Seq((0, "B"), (0, "B"))
    assert(table(IncrementalDrift.drift(spark, store)) ==
      table(AnalyticsQ.tvDriftCard(ev(all))),
      "post-compaction straggler broke batch parity")
    // re-compaction folds compacted + straggler partitions (idempotent)
    IncrementalDrift.compact(spark, store)
    assert(table(IncrementalDrift.drift(spark, store)) ==
      table(AnalyticsQ.tvDriftCard(ev(all))),
      "re-compaction changed the drift table")
    // crash re-entrancy: a completed temp (marker present) with the
    // store dir deleted — the crash window between delete and rename —
    // must complete on re-run, not rebuild or fail
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cnt = new org.apache.hadoop.fs.Path(s"$store/counts")
    val tmp = new org.apache.hadoop.fs.Path(s"$store/counts.compact.tmp")
    assert(fs.rename(cnt, tmp), "test setup: stage the crashed temp")
    fs.create(new org.apache.hadoop.fs.Path(tmp, "_COMPACTED"), true)
      .close()
    IncrementalDrift.compact(spark, store)
    assert(table(IncrementalDrift.drift(spark, store)) ==
      table(AnalyticsQ.tvDriftCard(ev(all))),
      "crash-window re-run did not complete the swap")
  }

  test("a crash AFTER the fold marker with live appends landing before " +
      "the re-run rescues the appended partitions into the swap") {
    val store = Files.createTempDirectory("graft_driftrescue").toString
    IncrementalDrift.append(ev(Seq((0, "A"), (0, "A"), (0, "B"), (0, "B"))),
      store, 0L)
    IncrementalDrift.append(ev(Seq((1, "A"), (1, "A"), (1, "A"), (1, "A"))),
      store, 1L)
    // fold phase completes (temp + marker written), then the process
    // dies BEFORE the swap — and the live sink keeps appending
    IncrementalDrift.foldPhase(spark, store)
    IncrementalDrift.append(ev(Seq((0, "B"), (0, "B"))), store, 2L)
    // the maintenance re-run: marker exists, so the old code would skip
    // the fold, DELETE counts/ (batch 2 included) and swap in the stale
    // temp — batch 2 silently gone. The rescue must preserve it.
    IncrementalDrift.compact(spark, store)
    val all = Seq((0, "A"), (0, "A"), (0, "B"), (0, "B"),
      (1, "A"), (1, "A"), (1, "A"), (1, "A"), (0, "B"), (0, "B"))
    assert(table(IncrementalDrift.drift(spark, store)) ==
      table(AnalyticsQ.tvDriftCard(ev(all))),
      "the crashed-compact re-run discarded a post-marker append")
    // layout: compacted day partitions PLUS the rescued batch 2
    val parts = new java.io.File(s"$store/counts").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(parts == Seq("batch_id=-1", "batch_id=-2", "batch_id=2"),
      s"expected compacted days beside the rescued append, got $parts")
    // a second compact folds the rescue in — back to one dir per day
    IncrementalDrift.compact(spark, store)
    assert(table(IncrementalDrift.drift(spark, store)) ==
      table(AnalyticsQ.tvDriftCard(ev(all))))
  }

  test("sink(compactEvery) keeps drift and the audit trail identical " +
      "to the manual-lifecycle run with the partition count bounded") {
    val manual = Files.createTempDirectory("graft_driftman").toString
    val auto = Files.createTempDirectory("graft_driftauto").toString
    val sinkM = IncrementalDrift.sink(spark, manual, s"$manual/driftlog")
    val sinkA = IncrementalDrift.sink(spark, auto, s"$auto/driftlog",
      compactEvery = Some(2))
    val waves = Seq(
      Seq((0, "A"), (0, "B")), Seq((1, "A"), (1, "A")),
      Seq((2, "B")), Seq((0, "B"), (2, "A")), // straggler mid-stream
      Seq((3, "A"), (3, "B")), Seq((4, "A")))
    waves.zipWithIndex.foreach { case (w, b) =>
      sinkM(ev(w), b.toLong); sinkA(ev(w), b.toLong)
    }
    assert(table(IncrementalDrift.drift(spark, auto)) ==
      table(IncrementalDrift.drift(spark, manual)),
      "auto-compaction changed the drift table")
    def trail(log: String): Seq[(Long, Long, Option[Long])] =
      spark.read.parquet(log)
        .select(col("batch_id"), col("day"), col("tv_ppm"))
        .as[(Long, Long, Option[Long])].collect().toSeq.sorted
    assert(trail(s"$auto/driftlog") == trail(s"$manual/driftlog"),
      "auto-compaction changed the audit trail")
    // bounded layout: ≤ |days| compacted dirs + compactEvery-1 pending
    val parts = new java.io.File(s"$auto/counts").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(parts.size <= 5 + 1, s"partition count unbounded: $parts")
  }

  test("an empty micro-batch neither wedges the store nor emits drift") {
    val store = Files.createTempDirectory("graft_driftempty").toString
    val log = s"$store/driftlog"
    val sink = IncrementalDrift.sink(spark, store, log)
    // FIRST batch empty: append writes a data-file-less counts/ dir —
    // the declared-schema read must survive it (schema inference throws)
    sink(ev(Seq.empty), 0L)
    assert(table(IncrementalDrift.drift(spark, store)).isEmpty)
    sink(ev(Seq((0, "A"), (1, "B"))), 1L)
    assert(table(IncrementalDrift.drift(spark, store)) ==
      table(AnalyticsQ.tvDriftCard(ev(Seq((0, "A"), (1, "B"))))))
  }

  test("an empty retry drops the failed attempt's counts and logs fresh " +
      "drift for the days they touched") {
    val store = Files.createTempDirectory("graft_driftretry").toString
    val log = s"$store/driftlog"
    val sink = IncrementalDrift.sink(spark, store, log)
    val clean = Files.createTempDirectory("graft_driftclean").toString
    val cleanSink = IncrementalDrift.sink(spark, clean, s"$clean/driftlog")
    // batch 0: day0 2A+2B, day2 4A
    val w0 = Seq((0, "A"), (0, "A"), (0, "B"), (0, "B"),
      (2, "A"), (2, "A"), (2, "A"), (2, "A"))
    sink(ev(w0), 0L)
    cleanSink(ev(w0), 0L)
    // batch 1's failed attempt lands two B rows on day 0 and opens day 1;
    // its retry comes back empty
    sink(ev(Seq((0, "B"), (0, "B"), (1, "B"))), 1L)
    sink(ev(Seq.empty), 1L)
    val drift = table(IncrementalDrift.drift(spark, store))
    assert(drift == table(IncrementalDrift.drift(spark, clean)),
      s"the failed attempt still counts: $drift")
    assert(drift == Seq((0L, 4L, None), (2L, 4L, Some(500000L))),
      drift.toString)
    // batch 1's log rows are fresh: day 0, and day 2, whose previous day
    // is day 0 again once the attempt's day 1 is gone
    val logged = table(spark.read.parquet(log).filter(col("batch_id") === 1L))
    assert(logged == drift, s"batch-1 audit rows: $logged")
    val latest = table(spark.read.parquet(log)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("day"))
          .orderBy(col("batch_id").desc)))
      .filter(col("__rn") === 1))
    assert(latest == drift, s"latest verdict per day: $latest")
  }
}
