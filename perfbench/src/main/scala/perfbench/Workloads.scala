package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.pipelines.RatingPipeline

/** What one measured window produced: the end-to-end numbers besides
  * set-up time, `report` (the workload's own figures under their
  * descriptive names) and `layers` (the per-layer metrics of a traced
  * run). */
final case class Outcome(throughputPerS: Double, p50: Double, tail: Double,
    tailPercentile: Double, report: Seq[Metric], layers: Map[String, Double])

final case class Opts(seed: Long, seconds: Int, tiny: Boolean,
    inject: Option[String], work: Path, tables: Path)

/** A workload: inputs made before set-up, a set-up step that may be
  * repeated (`prepare`/`teardown` around a fresh session), and the
  * measured window. */
trait Workload {
  def name: String
  def stateful: Boolean = false
  def generate(o: Opts): Unit = ()
  def prepare(spark: SparkSession, o: Opts, round: Int): Unit
  def teardown(): Unit = ()
  def measure(spark: SparkSession, tracer: Tracer, o: Opts, tally: Tally): Outcome
}

private object Time {
  def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator()
    val buf = mutable.ArrayBuffer.empty[Path]
    while (all.hasNext) buf += all.next()
    buf.reverseIterator.foreach(Files.deleteIfExists)
  }
}

// ---------------------------------------------------------------------

/** Closed loop, one batch at a time, through the batch rating path. */
object CdrBatchWorkload extends Workload {
  val name = "cdr_batch"
  private def legs(o: Opts) = if (o.tiny) 5000 else 100000
  private def batches(o: Opts) = math.max(4, o.seconds / 2)
  private val warmBatches = 2
  private var tariffs: org.apache.spark.sql.DataFrame = _

  private def input(o: Opts, i: Int) = o.work.resolve(s"cdr/in-$i/cdrs.csv")

  override def generate(o: Opts): Unit = {
    CdrGen.write(o.work.resolve("cdr/smoke/cdrs.csv"), o.seed ^ 0x5eed, 2000)
  }

  def prepare(spark: SparkSession, o: Opts, round: Int): Unit = {
    tariffs = CdrGen.tariffFrame(spark)
    val out = o.work.resolve(s"cdr/smoke-out-$round")
    RatingPipeline.run(spark, o.work.resolve("cdr/smoke/cdrs.csv").toString,
      tariffs, out.toString)
    Time.rmrf(out)
  }

  def measure(spark: SparkSession, tracer: Tracer, o: Opts, tally: Tally): Outcome = {
    val n = legs(o)
    // warm-up batches of the same size, their own seeds, checked but not
    // counted: the first batch after set-up runs up to 1.5x slower and the
    // second still about 1.3x
    (1 to warmBatches).foreach { k =>
      val warm = CdrGen.write(input(o, -k), o.seed * 1000003L - k, n)
      val warmOut = o.work.resolve("cdr/warm")
      CdrBatch.run(spark, tracer, input(o, -k).getParent.toString, tariffs, warmOut)
      CdrBatch.check(spark, warmOut, warm, corrupt = false)
        .foreach(e => System.err.println(s"[perfbench] warm-up batch wrong: $e"))
      Time.rmrf(warmOut)
      Time.rmrf(input(o, -k).getParent)
    }
    Main.log("warm-up batches done")

    val walls = mutable.ArrayBuffer.empty[Double]
    val rates = mutable.ArrayBuffer.empty[Double]
    val spans = mutable.ArrayBuffer.empty[Span]
    var inputBytes = 0L
    var i = 0
    // a fixed number of batches, so every run's median is over the same
    // count: about --seconds of batch time on a 4-core host
    while (i < batches(o)) {
      val exp = CdrGen.write(input(o, i), o.seed * 1000003L + i, n)
      val out = o.work.resolve(s"cdr/out-$i")
      val dir = input(o, i).getParent.toString
      val t0 = System.nanoTime()
      try {
        tracer.span("cdr.batch")(CdrBatch.run(spark, tracer, dir, tariffs, out))
        val wall = (System.nanoTime() - t0) / 1e9
        // a wrong answer is a failure, but its batch still ran: timed
        walls += wall; rates += exp.legs / wall
        Main.log(f"batch $i: $wall%.3fs")
        CdrBatch.check(spark, out, exp, o.inject.contains("summary")) match {
          case None => tally.ok()
          case Some(e) =>
            System.err.println(s"[perfbench] batch $i wrong: $e")
            tally.fail("wrong summary or counts")
        }
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] batch $i failed: $e")
          tally.fail(e.getClass.getSimpleName)
      }
      tracer.all.lastOption.filter(_.name == "cdr.batch").foreach(spans += _)
      inputBytes = exp.bytes
      if (i > 0) Time.rmrf(input(o, i - 1).getParent)
      Time.rmrf(out)
      i += 1
    }
    require(rates.nonEmpty, "every cdr batch failed")
    val ok = walls.toSeq
    val (tail, pct) = Stats.tail(ok)
    val report = Seq(
      Metric("batch_records_per_s", Stats.median(rates.toSeq), "1/s"),
      Metric("batch_legs", n.toDouble, "count"),
      Metric("batch_input_bytes", inputBytes.toDouble, "bytes"),
      Metric("batches", i.toDouble, "count"))
    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else traceLayers(spark, tracer, o, input(o, i - 1).getParent.toString,
        spans.toSeq, Stats.median(ok), inputBytes)
    Time.rmrf(input(o, i - 1).getParent)
    Outcome(Stats.median(rates.toSeq), Stats.median(ok), tail, pct, report, layers)
  }

  /** Counts per batch (medians over the window's batches) and the
    * stage self times by prefix timing on the last batch's input: each
    * prefix of the public calls materialized to `noop`, a stage's time
    * being the difference between successive prefixes. */
  private def traceLayers(spark: SparkSession, tracer: Tracer, o: Opts,
      dir: String, batches: Seq[Span], batchWall: Double,
      inputBytes: Long): Map[String, Double] = {
    tracer.drain()
    val works = batches.map(tracer.workOf)
    def med(f: Work => Long) = Stats.median(works.map(w => f(w).toDouble))
    val f = CdrBatch.frames(spark, dir, tariffs)
    val prefixes = Seq("read" -> f.raw, "normalize" -> f.normalized,
      "assemble" -> f.calls, "rate" -> f.rated, "summarize" -> f.summary)
    val cumulative = prefixes.map { case (stage, df) =>
      stage -> Time.secs(tracer.span(s"prefix.$stage")(AnalystMix.materialize(df)))._2
    }
    val self = cumulative.zip(0.0 +: cumulative.map(_._2)).map {
      case ((stage, t), before) => s"rating.${stage}_s" -> (t - before)
    }
    (self :+ ("rating.write_s" -> (batchWall - cumulative.last._2))).toMap ++ Map(
      "rating.jobs" -> med(_.jobs),
      "rating.tasks" -> med(_.tasks),
      "rating.exec_run_s" -> med(_.execRunMs) / 1000.0,
      "rating.shuffle_bytes" -> med(_.shuffleBytes),
      "rating.output_bytes" -> med(_.outputBytes),
      "rating.input_read_ratio" -> med(_.inputBytes) / inputBytes)
  }
}

// ---------------------------------------------------------------------

/** Open loop: one generator thread lands leg files in the chain's inbox
  * on a fixed schedule. */
object LiveChainWorkload extends Workload {
  val name = "live_chain"
  override val stateful = true
  private val intervalMs = 2000
  private val warmFiles = 5
  private val accounts = 2000
  private def callsPerFile(o: Opts) = if (o.tiny) 10 else 40
  private var chain: LiveChain = _

  def prepare(spark: SparkSession, o: Opts, round: Int): Unit = {
    chain = new LiveChain(spark, o.work.resolve(s"live/chain-$round"))
    chain.awaitReady()
  }

  override def teardown(): Unit = chain.stop()

  def measure(spark: SparkSession, tracer: Tracer, o: Opts, tally: Tally): Outcome = {
    val rnd = new scala.util.Random(o.seed * 7919L)
    // warm-up at the offered rate, not counted; the window then starts
    // with an idle, warm chain
    chain.plan(rnd, warmFiles, callsPerFile(o), accounts).foreach { f =>
      chain.drop(f._1); Thread.sleep(intervalMs)
    }
    chain.settle()
    tracer.streams.progress.clear()
    Main.log("warm-up files done")

    val nFiles = math.max(8, o.seconds * 1000 / intervalMs)
    val files = chain.plan(rnd, nFiles, callsPerFile(o), accounts)
    val legs = files.map(_._1.count(_ == '\n') - 1).sum
    val late = new Array[Double](nFiles)
    val epoch0 = System.currentTimeMillis() + 50
    val nano0 = System.nanoTime() + 50L * 1000000L
    val gen = new Thread(() => files.zipWithIndex.foreach { case ((body, _), k) =>
      val due = nano0 + k * intervalMs * 1000000L
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      chain.drop(body)
      late(k) = (System.nanoTime() - due) / 1e9
    }, "perfbench-generator")
    gen.start()
    gen.join()
    chain.settle()
    tracer.drain()

    val records = chain.ratedRecords()
    // the self-check's fault: bill the first call of the window twice
    val rows = if (!o.inject.contains("duplicate")) records
      else records ++ records.filter(_._2 == files.head._2.head)
    val copies = rows.groupBy(_._2).map { case (e, rs) => e -> rs.size }
    val commits = rows.map(r => r._2 -> r._3).toMap
    val latencies = mutable.ArrayBuffer.empty[Double]
    var ratedLegs = 0
    var lastCommit = Double.NaN
    files.zipWithIndex.foreach { case ((body, events), k) =>
      val due = epoch0 + k.toDouble * intervalMs
      val bad = events.find(e => copies.getOrElse(e, 0) != 1)
      val ts = events.map(e => commits.getOrElse(e, Double.NaN))
      bad match {
        case Some(e) => tally.fail(
          if (copies.getOrElse(e, 0) == 0) "call not rated" else "duplicate rated row")
        case None if events.isEmpty || ts.exists(_.isNaN) =>
          tally.fail("no commit time")
        case None =>
          tally.ok()
          latencies += (ts.max - due) / 1000.0
          ratedLegs += body.count(_ == '\n') - 1
          lastCommit = if (lastCommit.isNaN) ts.max else math.max(lastCommit, ts.max)
      }
    }
    if (!chain.invoiceParity()) tally.demote(tally.attempted - tally.failed,
      "streamed invoice != batch invoice run")
    require(latencies.nonEmpty, "no live file was rated")
    Main.log("file latencies: " + latencies.map(l => f"$l%.2f").mkString(" "))
    val lastDue = epoch0 + (nFiles - 1).toDouble * intervalMs
    val drain = (lastCommit - lastDue) / 1000.0
    // legs per second of the files' own trips through the chain (due drop
    // to rating commit, summed): the generator's idle gaps between files
    // are left out, so it moves with the chain, not the drop schedule
    val throughput = ratedLegs / latencies.sum
    val (tail, pct) = Stats.tail(latencies.toSeq)
    val report = Seq(
      Metric("live_latency_p50_s", Stats.median(latencies.toSeq), "s"),
      Metric("live_latency_tail_s", tail, "s"),
      Metric("live_drain_s", drain, "s"),
      Metric("live_offered_legs_per_s", legs * 1000.0 / (nFiles * intervalMs), "1/s"),
      Metric("live_files", nFiles.toDouble, "count"),
      Metric("live_generator_late_max_s", late.max, "s"))
    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else streamLayers(tracer) ++ Map("live.generator_late_s" -> late.max,
        "live.drain_s" -> drain)
    Outcome(throughput, Stats.median(latencies.toSeq), tail, pct, report, layers)
  }

  private def streamLayers(tracer: Tracer): Map[String, Double] =
    Seq("cdr_ingest", "leg_assembly", "rating").flatMap { stage =>
      val bs = tracer.streams.batches(stage)
      def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      def med(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) =
        if (bs.isEmpty) 0.0 else Stats.median(bs.map(f))
      Seq(
        s"$stage.batches" -> bs.size.toDouble,
        s"$stage.batch_p50_ms" -> med(d(_, "triggerExecution")),
        s"$stage.planning_ms" -> med(d(_, "queryPlanning")),
        s"$stage.add_batch_ms" -> med(d(_, "addBatch")),
        s"$stage.commit_ms" -> med(p => d(p, "walCommit") + d(p, "commitOffsets")),
        s"$stage.rows_in" -> bs.map(_.numInputRows.toDouble).sum,
        s"$stage.state_rows" -> bs.lastOption.map(_.stateOperators
          .map(_.numRowsTotal.toDouble).sum).getOrElse(0.0),
        s"$stage.state_commit_ms" -> med(_.stateOperators
          .map(_.commitTimeMs.toDouble).sum))
    }.toMap
}

// ---------------------------------------------------------------------

/** Closed loop, one client: passes over the analyst queries in a
  * seed-shuffled order, each result materialized through `noop`. */
object AnalystMixWorkload extends Workload {
  val name = "analyst_mix"
  private def names(o: Opts) =
    if (o.tiny) AnalystMix.tinyQueries else AnalystMix.queries

  def prepare(spark: SparkSession, o: Opts, round: Int): Unit =
    AnalystMix.materialize(graft.queries.Registry.byName("q01_pricing_summary")
      .build(spark, o.tables.toString))

  def measure(spark: SparkSession, tracer: Tracer, o: Opts, tally: Tally): Outcome = {
    val dir = o.tables.toString
    val pins0 = AnalystMix.loadPins(java.nio.file.Paths.get("perfbench/analyst_pins.tsv"))
    val pins = if (!o.inject.contains("hash")) pins0
      else pins0.updated(names(o).head, "0:0")
    // No separate warm-up pass: one pass costs more than the whole
    // measured window, so each query is timed on its first execution
    // in a JVM warmed by set-up (as a report runs in a live engine).
    tracer.drain()
    val plan0 = (tracer.plans.planMs, tracer.plans.exchanges)
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val passSpans = mutable.ArrayBuffer.empty[Span]
    var pass = 0
    while (passWalls.sum < o.seconds || passWalls.isEmpty) {
      val order = new scala.util.Random(o.seed * 31L + pass).shuffle(names(o))
      val (_, wall) = Time.secs(tracer.span("mix.pass") {
        order.foreach { q =>
          try {
            val h = tracer.span(s"query.$q")(AnalystMix.run(spark, dir, q))
            if (pins.get(q).contains(h)) tally.ok()
            else {
              System.err.println(s"[perfbench] $q hash $h != pin ${pins.get(q)}")
              tally.fail(s"$q wrong answer")
            }
          } catch {
            case e: Exception =>
              System.err.println(s"[perfbench] $q failed: $e")
              tally.fail(s"$q ${e.getClass.getSimpleName}")
          }
        }
      })
      tracer.all.lastOption.filter(_.name == "mix.pass").foreach(passSpans += _)
      passWalls += wall
      pass += 1
    }
    val executed = passWalls.size * names(o).size
    val (tail, pct) = Stats.tail(passWalls.toSeq)
    val p50 = Stats.median(passWalls.toSeq)
    val report = Seq(Metric("mix_pass_s", p50, "s"),
      Metric("mix_passes", passWalls.size.toDouble, "count"),
      Metric("mix_queries_per_pass", names(o).size.toDouble, "count"))
    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else {
        tracer.drain()
        val cores = spark.sparkContext.defaultParallelism
        val works = passSpans.map(tracer.workOf).toSeq
        val wall = passWalls.sum
        val total = new Work; works.foreach(total.add)
        val perPass = passSpans.size.toDouble
        val querySpans = tracer.all.filter(_.name.startsWith("query."))
        val perQuery = names(o).flatMap { q =>
          val ss = querySpans.filter(_.name == s"query.$q")
          val ws = ss.map(tracer.workOf)
          def med(f: Work => Long) = Stats.median(ws.map(w => f(w).toDouble))
          Seq(s"queries.$q.wall_s" -> Stats.median(ss.map(_.seconds)),
            s"queries.$q.jobs" -> med(_.jobs),
            s"queries.$q.exec_run_s" -> med(_.execRunMs) / 1000.0,
            s"queries.$q.shuffle_bytes" -> med(_.shuffleBytes))
        }
        perQuery.toMap ++ Map(
          "mix.jobs" -> total.jobs / perPass,
          "mix.stages" -> total.stages / perPass,
          "mix.tasks" -> total.tasks / perPass,
          "mix.exec_run_s" -> total.execRunMs / 1000.0 / perPass,
          "mix.busy_share" -> total.execRunMs / 1000.0 / (wall * cores),
          "mix.plan_s" -> (tracer.plans.planMs - plan0._1) / 1000.0 / perPass,
          "mix.exchanges" -> (tracer.plans.exchanges - plan0._2) / perPass,
          "mix.spill_bytes" -> total.spillBytes / perPass)
      }
    Outcome(executed / passWalls.sum, p50, tail, pct, report, layers)
  }
}
