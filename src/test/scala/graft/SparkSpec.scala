package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SharedSpark {
  lazy val spark: SparkSession = graft.core.GraftSession
    .builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()
}

/** Base for suites needing a SparkSession: one shared local session for
  * the whole JVM (SURVEY §5.1). */
abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SharedSpark.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Run `f` with RocksDB as the streaming state store provider, then
    * restore the session's previous provider setting. */
  def withRocksDbState[A](f: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Poll `cond` until true or the deadline — for streaming tests where
    * processAllAvailable can't latch (processing-time timers). */
  def eventually(ms: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + ms
    while (System.currentTimeMillis() < deadline && !cond) Thread.sleep(100)
    cond
  }
}
