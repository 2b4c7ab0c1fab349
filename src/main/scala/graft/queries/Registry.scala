package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One declared query: a Spark DataFrame builder plus (when expressible) the
  * equivalent ANSI SQL the driver runs in DuckDB over the same parquet
  * tables. Column names and row order must match exactly between the two.
  */
final case class GQuery(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = true)

object Registry {
  lazy val all: Seq[GQuery] =
    Relational.queries ++ WindowQ.queries ++ EventQ.queries ++
      AnalyticsQ.queries ++ TextQ.queries ++ CurationQ.queries ++
      VectorQ.queries ++ PacketQ.queries ++ TokenizerQ.queries ++
      GraphQ.queries ++ BillingQ.queries ++ RoutingQ.queries ++
      PreratingQ.queries ++ CrawlQ.queries

  lazy val byName: Map[String, GQuery] = all.map(q => q.name -> q).toMap
}

/** Shared helpers that keep Spark results bit-identical to the DuckDB
  * oracle. Floating-point sums are order-dependent, so every aggregated
  * double goes through an exact DECIMAL(38,8) accumulation and comes back
  * as a rounded double. Scale 8 matters: the fixture's money columns carry
  * ≤6 decimal digits of true value, so the double→decimal cast is exact in
  * both engines (no representational tie — Spark rounds the shortest
  * string repr, DuckDB the binary value, and at a tie they disagree).
  */
object Dsl {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.core.Tables.load(spark, dir, name)

  /** Scratch directory of a query that builds a store, keyed by (fixture
    * dir, JVM): repeated builds in one process reuse and rebuild the same
    * store; two processes on the same fixture (a bench beside a verify)
    * never share a half-written one. Emptied here, deleted at JVM exit. */
  def scratchDir(spark: SparkSession, query: String, dir: String): String = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_${query}_" +
      math.abs(dir.hashCode).toString + "_" +
      java.lang.ProcessHandle.current().pid().toString
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    org.apache.spark.sql.graft.bridge.deleteAtExit(base)
    base
  }

  /** Exact sum of a double expression, emitted as a 2-decimal double.
    *
    * Inputs cast to DECIMAL(38,8) deliberately: a (18,8) cast is ~12%
    * faster (long-backed compact Decimals) but caps values at 1e10 — one
    * bad-amount outlier row would abort the whole query under Spark 4's
    * ANSI-on default (CAST_OVERFLOW), or silently diverge from the oracle
    * with ANSI off. At 100 TB, absorbing the outlier beats the micro-win;
    * use a narrower cast only where the column's domain is truly bounded
    * (see q08's quantity running sum). */
  def moneySum(c: Column): Column =
    round(sum(c.cast(DecimalType(38, 8))), 2).cast(DoubleType)

  /** SQL twin of [[moneySum]]. */
  def moneySumSql(e: String): String =
    s"CAST(ROUND(SUM(CAST($e AS DECIMAL(38,8))), 2) AS DOUBLE)"

  /** Deterministic average: exact decimal sum / count, rounded to 6dp. */
  def avg6(c: Column): Column =
    round(sum(c.cast(DecimalType(38, 8))).cast(DoubleType) / count(lit(1)), 6)

  /** SQL twin of [[avg6]]. */
  def avg6Sql(e: String): String =
    s"ROUND(CAST(SUM(CAST($e AS DECIMAL(38,8))) AS DOUBLE) / COUNT(*), 6)"

  /** DuckDB floor-seconds epoch — matches Spark's timestamp→long cast
    * (DuckDB's epoch() is a double and CAST rounds, so avoid it). */
  def epochSecSql(e: String): String = s"(epoch_us($e) // 1000000)"

  /** Timestamp rendered as a second-granularity string (cross-engine safe). */
  def tsStr(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")
  def tsStrSql(e: String): String = s"strftime($e, '%Y-%m-%d %H:%M:%S')"

  def dateStr(c: Column): Column = date_format(c, "yyyy-MM-dd")
  def dateStrSql(e: String): String = s"strftime($e, '%Y-%m-%d')"
}
