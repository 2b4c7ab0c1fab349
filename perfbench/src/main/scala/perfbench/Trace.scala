package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of Spark work, summed over the jobs of one job group. */
final class Work {
  var jobs, stages, tasks, execRunMs, shuffleBytes, spillBytes,
    inputBytes, outputBytes = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    execRunMs += o.execRunMs; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
    outputBytes += o.outputBytes
  }
}

/** Attributes job, stage and task metrics to the job group that was set
  * on the thread submitting the job. */
final class WorkListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val byGroup = mutable.Map.empty[String, Work]

  private def work(g: String): Work = byGroup.getOrElseUpdate(g, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    work(g).jobs += 1
    e.stageInfos.foreach(s => stageGroup.getOrElseUpdate(s.stageId, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val w = work(stageGroup.getOrElse(e.stageInfo.stageId, ""))
      w.stages += 1
      w.tasks += e.stageInfo.numTasks
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val w = work(stageGroup.getOrElse(e.stageId, ""))
      w.execRunMs += m.executorRunTime
      w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.diskBytesSpilled
      w.inputBytes += m.inputMetrics.bytesRead
      w.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def forGroup(g: String): Work = synchronized {
    val w = new Work; byGroup.get(g).foreach(w.add); w
  }
}

/** Planning time and Exchange count of every finished query execution. */
final class PlanListener extends QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  @volatile var planMs = 0L
  @volatile var exchanges = 0L

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    planMs += qe.tracker.phases.values.map(_.durationMs).sum
    exchanges += collectWithSubqueries(qe.executedPlan) {
      case e: Exchange => e
    }.size
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

/** Keeps every micro-batch progress report of the streaming queries. */
final class StreamListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  def batches(name: String): Seq[StreamingQueryProgress] =
    progress.asScala.toSeq
      .filter(p => p.name == name && p.durationMs.containsKey("addBatch"))
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded around the benchmark's calls into the program. Each
  * span runs its body under its own Spark job group, so the listeners'
  * counts are attributed to the innermost span. Spans stay in memory and
  * are written as JSONL at the end of the run. With `enabled = false`
  * (the end-to-end runs) a span is just its body. */
final class Tracer(spark: SparkSession, val runId: String,
    val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  val work = new WorkListener
  val plans = new PlanListener
  val streams = new StreamListener

  if (enabled) {
    sc.addSparkListener(work)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
  }

  private def group(id: Int) = s"$runId-$id"

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setJobGroup(group(id), name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p), name, interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
      }
    }

  def drain(): Unit = if (enabled) org.apache.spark.perfbench.Bus.drain(sc)

  def all: Seq[Span] = spans.toSeq

  private def subtree(s: Span): Seq[Span] =
    s +: spans.toSeq.filter(_.parent == s.id).flatMap(subtree)

  /** Spark work of a span and all its descendants. */
  def workOf(s: Span): Work = {
    val w = new Work
    subtree(s).foreach(x => w.add(work.forGroup(group(x.id))))
    w
  }

  /** Duration minus the part of it covered by child spans. */
  def selfSeconds(s: Span): Double = s.seconds - Stats.covered(
    spans.toSeq.filter(_.parent == s.id).map(k => (k.startNs / 1e9, k.endNs / 1e9)))

  def writeJsonl(path: java.nio.file.Path): Unit = if (enabled) {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        f""""self_s":${selfSeconds(s)}%.6f}"""
    }
    // the streaming stages' own per-micro-batch reports ride along
    val progress = streams.progress.asScala.map(p =>
      s"""{"run":"$runId","progress":${p.json}}""")
    java.nio.file.Files.write(path, (lines ++ progress).asJava)
  }

  def close(): Unit = if (enabled) {
    sc.removeSparkListener(work)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(streams)
  }
}
