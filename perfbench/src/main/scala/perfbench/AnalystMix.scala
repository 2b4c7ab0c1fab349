package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The analyst query mix over the repo's own sf0.001 test tables, kept
  * read-only in `perfbench/data/sf0.001` so the benchmark reads nothing
  * outside its checkout. The tables never depend on the run's seed, so
  * every query has one right answer, pinned as an order-insensitive hash
  * in `perfbench/analyst_pins.tsv`. */
object AnalystMix {
  /** The eighteen planned cards: eight job-bound, then the telecom,
    * billing and light cards. */
  val planned: Seq[String] = Seq(
    "q242_components_star", "q323_drift_log_audit",
    "q140_canonical_centrality", "q312_semdedup_rebuild",
    "q203_lpa_communities", "q139_dup_pagerank", "q137_bpe_merges",
    "q359_brown_forsythe",
    "q248_proration", "q250_dunning_fifo", "q239_invoice_run",
    "q263_msisdn_normalize", "q264_number_guiding", "q256_prefix_routing",
    "q257_trunk_peak", "q226_timeband_rating", "q344_monitor_card",
    "q01_pricing_summary")

  /** The cards of one measured pass: five job-bound ones, the proration
    * card (`52bfc95`) and two billing and telecom cards; about 25 s on 4
    * cores, each query on its first execution. The rest of [[planned]] is
    * left out to keep a run within the benchmark's time budget. */
  val queries: Seq[String] = Seq(
    "q242_components_star", "q323_drift_log_audit",
    "q312_semdedup_rebuild", "q139_dup_pagerank", "q359_brown_forsythe",
    "q248_proration", "q239_invoice_run", "q263_msisdn_normalize")

  /** The cheap subset the self-check runs. */
  val tinyQueries: Seq[String] = Seq("q263_msisdn_normalize",
    "q239_invoice_run")

  /** The repo's host-noise sentinel (`graft.Bench`): a scan-bound hash
    * group-by over `documents`. */
  val sentinel = "q25_dedup_exact"

  /** The bundled tables, relative to the checkout root. */
  val tables: Path = Paths.get("perfbench", "data", "sf0.001")

  def loadPins(file: Path): Map[String, String] =
    if (!Files.isRegularFile(file)) Map.empty
    else Files.readAllLines(file).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\\s+"); k -> v }.toMap

  /** Build and fully materialize one query through a `noop` write; the
    * order-insensitive hash of its rows (row count, then the exact sum of
    * the per-row xxhash64) is observed in the same execution. */
  def run(spark: SparkSession, dir: String, name: String): String = {
    val df = graft.queries.Registry.byName(name).build(spark, dir)
    val ob = Observation(s"pin_$name")
    val rowHash = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    df.observe(ob, count(lit(1)).as("n"),
        sum(rowHash.cast(DecimalType(38, 0))).as("h"))
      .write.format("noop").mode("overwrite").save()
    val m = ob.get
    s"${m("n")}:${Option(m("h")).getOrElse("0")}"
  }

  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
