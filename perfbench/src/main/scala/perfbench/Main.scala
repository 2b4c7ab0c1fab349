package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The repo benchmark: one workload per run, measured end to end with
  * tracing off (`--trace 0`) or layer by layer with tracing on
  * (`--trace 1`). The last line of standard output is the result:
  * `{"correct", "attempted", "failed", "metrics"}`. Run it through
  * `python3 perfbench/run.py`, which builds it first; see
  * perfbench/README.md. */
object Main {
  val workloads: Seq[Workload] =
    Seq(CdrBatchWorkload, LiveChainWorkload, AnalystMixWorkload)

  private val streamStages = Seq("cdr_ingest", "leg_assembly", "rating")

  /** Every per-layer metric with its unit. A traced run prints all of
    * them; a layer the workload does not run did no work, so it reads 0. */
  val layerMetrics: Seq[(String, String)] =
    Seq("core.session_s" -> "s", "core.peak_rss_mb" -> "MB",
      "host.floor_s" -> "s") ++
    Seq("read", "normalize", "assemble", "rate", "summarize", "write")
      .map(s => s"rating.${s}_s" -> "s") ++
    Seq("rating.jobs" -> "count", "rating.tasks" -> "count",
      "rating.exec_run_s" -> "s", "rating.shuffle_bytes" -> "bytes",
      "rating.output_bytes" -> "bytes", "rating.input_read_ratio" -> "ratio") ++
    streamStages.flatMap(st => Seq("batches" -> "count",
      "batch_p50_ms" -> "ms", "planning_ms" -> "ms", "add_batch_ms" -> "ms",
      "commit_ms" -> "ms", "rows_in" -> "count", "state_rows" -> "count",
      "state_commit_ms" -> "ms").map { case (m, u) => s"$st.$m" -> u }) ++
    Seq("live.generator_late_s" -> "s", "live.drain_s" -> "s") ++
    AnalystMix.queries.flatMap(q => Seq(s"queries.$q.wall_s" -> "s",
      s"queries.$q.jobs" -> "count", s"queries.$q.exec_run_s" -> "s",
      s"queries.$q.shuffle_bytes" -> "bytes")) ++
    Seq("mix.jobs" -> "count", "mix.stages" -> "count",
      "mix.tasks" -> "count", "mix.exec_run_s" -> "s",
      "mix.busy_share" -> "ratio", "mix.plan_s" -> "s",
      "mix.exchanges" -> "count", "mix.spill_bytes" -> "bytes") ++
    Seq("trace.throughput_per_s" -> "1/s", "trace.latency_p50_s" -> "s",
      "trace.latency_tail_s" -> "s")

  private val setupRounds = 3
  private val cores = 4

  def session(work: Path, stateful: Boolean): SparkSession = {
    val b = graft.core.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (stateful) b.config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val t0 = System.nanoTime()

  /** Progress on standard error, with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - t0) / 1e9}%.1fs] $msg")

  private def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric value $d is not a number")
    d.toString
  }

  private def json(ms: Seq[Metric]): String = ms.map { m =>
    s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}"""
  }.mkString("{", ", ", "}")

  private def peakRssMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.isReadable(f)) 0.0
    else Files.readAllLines(f).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** The checkout's commit, when it is a git work tree. */
  private def gitCommit(): String = {
    val head = Paths.get(".git/HEAD")
    if (!Files.isRegularFile(head)) "none"
    else {
      val h = Files.readString(head).trim
      if (!h.startsWith("ref: ")) h
      else {
        val ref = Paths.get(".git").resolve(h.stripPrefix("ref: "))
        if (Files.isRegularFile(ref)) Files.readString(ref).trim else h
      }
    }
  }

  final case class Args(workload: String = "", seed: Long = 1L,
      seconds: Int = 10, trace: Boolean = false, tiny: Boolean = false,
      inject: Option[String] = None, tables: Option[String] = None,
      perQuery: Option[Seq[String]] = None)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toInt))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--tiny" :: rest => parse(rest, a.copy(tiny = true))
    case "--inject" :: v :: rest => parse(rest, a.copy(inject = Some(v)))
    case "--tables" :: v :: rest => parse(rest, a.copy(tables = Some(v)))
    case "--per-query" :: v :: rest => parse(rest, a.copy(perQuery =
      Some(if (v == "planned") AnalystMix.planned else v.split(',').toSeq)))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val runs = Paths.get(".bench_build", "runs").toAbsolutePath
    val tables = a.tables.map(Paths.get(_)).getOrElse(AnalystMix.tables)
      .toAbsolutePath
    require(Files.isRegularFile(tables.resolve("documents.parquet")),
      s"analyst tables not found in $tables")
    if (a.perQuery.nonEmpty) {
      val work = runs.resolve(s"per-query-${ProcessHandle.current().pid()}")
      try perQuery(session(work, stateful = false), tables.toString, a.perQuery.get)
      finally Time.rmrf(work)
      return
    }
    val wl = workloads.find(_.name == a.workload).getOrElse(
      throw new IllegalArgumentException(s"unknown workload '${a.workload}'"))
    val work = runs.resolve(s"${wl.name}-${a.seed}-${ProcessHandle.current().pid()}")
    Time.rmrf(work)
    Files.createDirectories(work)
    val o = Opts(a.seed, a.seconds, a.tiny, a.inject, work, tables)
    try run(wl, a, o) finally Time.rmrf(work)
  }

  /** Each query once cold, with its pin hash and job count, then once warm
    * with the hash observed and once warm without it (a plain `noop`
    * write): `name, hash, jobs, cold_s, warm_s, warm_plain_s`, tab-separated. */
  private def perQuery(spark: SparkSession, dir: String, names: Seq[String]): Unit = {
    val tracer = new Tracer(spark, "per-query", enabled = true)
    names.foreach { q =>
      try {
        val (h, cold) = Time.secs(tracer.span(q)(AnalystMix.run(spark, dir, q)))
        tracer.drain()
        val jobs = tracer.workOf(tracer.all.last).jobs
        val warm = Time.secs(AnalystMix.run(spark, dir, q))._2
        val plain = Time.secs(AnalystMix.materialize(
          graft.queries.Registry.byName(q).build(spark, dir)))._2
        println(f"$q\t$h\t$jobs\t$cold%.3f\t$warm%.3f\t$plain%.3f")
      } catch {
        case e: Exception => println(s"$q\terror:${e.getClass.getSimpleName}")
      }
    }
    tracer.close()
    spark.stop()
  }

  private def run(wl: Workload, a: Args, o: Opts): Unit = {
    wl.generate(o)
    log("inputs generated")
    // set up several times, each on a fresh session; report the median
    // (the first, cold set-up is reported on its own)
    val setups = mutable.ArrayBuffer.empty[Double]
    val sessions = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to setupRounds).foreach { round =>
      if (spark != null) { wl.teardown(); spark.stop() }
      val (s, sessionS) = Time.secs(session(o.work, wl.stateful))
      spark = s
      val (_, prepareS) = Time.secs(wl.prepare(spark, o, round))
      setups += sessionS + prepareS
      sessions += sessionS
      log(f"set-up $round: session $sessionS%.2fs, prepare $prepareS%.2fs")
    }
    // host noise floor: the repo's sentinel query, best of three; it also
    // leaves the JVM equally warm for every workload before its window
    val floor = (1 to 3).map { _ =>
      Time.secs(AnalystMix.materialize(graft.queries.Registry
        .byName(AnalystMix.sentinel).build(spark, o.tables.toString)))._2
    }.min
    log(f"host floor $floor%.3fs")
    val tracer = new Tracer(spark, s"${wl.name}-${a.seed}", a.trace)
    val tally = new Tally
    val out = try wl.measure(spark, tracer, o, tally)
      finally { wl.teardown(); tracer.close() }
    log("measured")
    if (a.trace) tracer.writeJsonl(Paths.get(".bench_build", "traces",
      s"${wl.name}-seed${a.seed}.jsonl").toAbsolutePath)

    val setup = Stats.median(setups.toSeq)
    val host = Seq(
      s""""cores": ${spark.sparkContext.defaultParallelism}""",
      s""""host_cores": ${Runtime.getRuntime.availableProcessors}""",
      s""""driver_heap_mb": ${Runtime.getRuntime.maxMemory / (1 << 20)}""",
      s""""jdk": "${System.getProperty("java.version")}"""",
      s""""spark": "${spark.version}"""",
      s""""git_commit": "${gitCommit()}"""",
      s""""host_floor_s": ${num(floor)}""").mkString("{", ", ", "}")
    val reasons = tally.reasons.map { case (k, v) => s""""$k": $v""" }
      .mkString("{", ", ", "}")
    val share = tally.failed.toDouble / tally.attempted
    println(s"""{"host": $host}""")
    println(s"""{"workload": "${wl.name}", "seed": ${a.seed}, "trace": ${a.trace}, """ +
      s""""report": ${json(out.report ++ Seq(Metric("setup_s", setup, "s"),
        Metric("setup_cold_s", setups.head, "s"),
        Metric("latency_tail_s", out.tail, "s"),
        Metric("failed_share", share, "ratio")))}, """ +
      s""""latency_tail_percentile": ${num(out.tailPercentile)}, "failures": $reasons}""")
    val metrics =
      if (!a.trace) Seq(Metric("setup_s", setup, "s"),
        Metric("throughput_per_s", out.throughputPerS, "1/s"),
        Metric("latency_p50_s", out.p50, "s"))
      else {
        val measured = out.layers ++ Map(
          "core.session_s" -> Stats.median(sessions.toSeq),
          "core.peak_rss_mb" -> peakRssMb(),
          "host.floor_s" -> floor,
          "trace.throughput_per_s" -> out.throughputPerS,
          "trace.latency_p50_s" -> out.p50,
          "trace.latency_tail_s" -> out.tail)
        val unknown = measured.keySet -- layerMetrics.map(_._1)
        require(unknown.isEmpty, s"undeclared layer metrics: $unknown")
        layerMetrics.map { case (n, u) => Metric(n, measured.getOrElse(n, 0.0), u) }
      }
    spark.stop()
    println(s"""{"correct": ${tally.failed == 0}, "attempted": ${tally.attempted}, """ +
      s""""failed": ${tally.failed}, "metrics": ${json(metrics)}}""")
  }
}
