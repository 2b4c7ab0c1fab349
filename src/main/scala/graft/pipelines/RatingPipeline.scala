package graft.pipelines

import graft.core.Shared
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's two shipped pipeline stages, end-to-end and Spark-first:
  * `prerating` (CDR normalization/guiding, `prerating.sh:14`) and
  * `gsmrating` (rating of GSM CDRs, `gsmrating.sh:14`). The actual record
  * logic lives in unshipped session plugins; this module provides the
  * standard mediation shapes those plugins implement: schema-on-read CDR
  * parse, MSISDN normalization, dead-letter split, multi-leg assembly,
  * as-of tariff lookup, charge computation, and partitioned usage output.
  *
  * Scale notes: tariffs are a small dimension → broadcast; the as-of pick
  * is a per-CDR window over the few candidate tariff versions, not a
  * global sort; the summary is one hash aggregation partitioned by the
  * write key.
  */
object RatingPipeline {

  /** Delimited CDR layout (FIXTURES.md §B — engine-defined since the
    * reference's layouts are inside unshipped plugins). */
  val cdrSchema: StructType = StructType(Seq(
    StructField("record_type", StringType),
    StructField("imsi", StringType),
    StructField("msisdn", StringType),
    StructField("other_party", StringType),
    StructField("call_start_ts", TimestampType),
    StructField("duration_sec", IntegerType),
    StructField("cell_id", StringType),
    StructField("call_type", StringType),
    StructField("partial_seq", IntegerType)))

  val tariffSchema: StructType = StructType(Seq(
    StructField("call_type", StringType),
    StructField("valid_from", TimestampType),
    StructField("rate_per_min", DoubleType),
    StructField("setup_fee", DoubleType)))

  def readCdrs(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(cdrSchema).option("header", "true").csv(path)

  /** prerating stage 1: normalize MSISDNs to E.164-ish digits (strip +,
    * 00-prefix, default country code for national numbers) and flag
    * structurally invalid records for the dead-letter path — the
    * reference's validate-then-drop shape (`MFramework.cpp:1245-1250`). */
  def normalize(cdrs: DataFrame, defaultCc: String = "91"): DataFrame = {
    val digits = regexp_replace(col("msisdn"), "[^0-9]", "")
    val msisdnNorm = when(digits.startsWith("00"), digits.substr(lit(3), length(digits)))
      .otherwise(digits)
    val withCc = when(length(msisdnNorm) <= 10, concat(lit(defaultCc), msisdnNorm))
      .otherwise(msisdnNorm)
    cdrs
      .withColumn("msisdn", withCc)
      .withColumn("valid",
        col("imsi").rlike("^[0-9]{14,15}$") &&
          col("call_start_ts").isNotNull &&
          col("duration_sec").isNotNull && col("duration_sec") >= 0 &&
          col("call_type").isin("VOICE", "SMS", "DATA"))
  }

  /** Valid / dead-letter split. Both halves read one [[Shared]] copy of
    * `normalized`: across the actions that read them, the input is
    * parsed and normalized once, by the first of those actions. The kept
    * rows are freed when both halves are unreferenced, and a lost block is
    * recomputed from the input. A streaming input is split uncut. */
  def split(normalized: DataFrame): (DataFrame, DataFrame) = {
    val shared = Shared(normalized, "normalized cdrs")
    (shared.filter(col("valid")).drop("valid"),
      shared.filter(!col("valid")).drop("valid"))
  }

  /** prerating stage 2: multi-leg (partial CDR) assembly — one call may
    * arrive as N partial records; reassemble by call key, summing
    * duration over legs (batch shape; the streaming shape is
    * flatMapGroupsWithState, see StreamingSpec). */
  def assembleLegs(cdrs: DataFrame): DataFrame =
    cdrs.groupBy(col("imsi"), col("msisdn"), col("other_party"),
        col("call_start_ts"), col("call_type"), col("record_type"))
      .agg(
        sum(col("duration_sec")).cast(IntegerType).as("duration_sec"),
        count(lit(1)).cast(IntegerType).as("n_legs"),
        min(col("cell_id")).as("cell_id"))

  /** gsmrating: as-of tariff lookup (latest tariff version with
    * valid_from <= call start, per call_type — the rate-version shape of
    * SURVEY §2B joins) and charge computation:
    * setup_fee + ceil(duration/60) * rate_per_min, in exact decimals.
    *
    * The result is [[Shared]]: the summary and the persisted rated calls
    * read one computation of it, so a batch runs the assembly shuffle and
    * the as-of join once. A streaming input is rated uncut. */
  def rate(calls: DataFrame, tariffs: DataFrame): DataFrame = {
    // The engine's as-of operator: tariff-sized right side → broadcast
    // variant, so the call stream is never shuffled for the lookup, and
    // calls predating every tariff version keep a null charge (left-outer).
    val t = tariffs.withColumnRenamed("call_type", "t_call_type")
    Shared(graft.plans.AsOf.join(calls, t,
        Seq("call_type"), Seq("t_call_type"), "call_start_ts", "valid_from")
      .drop("t_call_type")
      .withColumn("billed_min", ceil(col("duration_sec") / lit(60.0)))
      .withColumn("charge",
        (col("setup_fee").cast(DecimalType(18, 4)) +
          col("billed_min") * col("rate_per_min").cast(DecimalType(18, 4)))
          .cast(DecimalType(18, 4))), "rated calls")
  }

  /** Usage summary: per (day, call_type) totals — the aggregate a billing
    * reconciliation reads. */
  def summarize(rated: DataFrame): DataFrame =
    rated
      .withColumn("day", to_date(col("call_start_ts")))
      .groupBy(col("day"), col("call_type"))
      .agg(
        count(lit(1)).as("n_calls"),
        sum(col("duration_sec")).as("total_secs"),
        sum(col("charge")).as("total_charge"))

  /** Partitioned sink — dynamic partition writes are the reference's
    * lazily-created per-destination writers (`MFramework.cpp:1385-1446`). */
  def writeSummary(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").partitionBy("day").parquet(path)

  /** Whole pipeline, batch form. Writes the summary and returns the
    * rated calls and the dead letters for the caller to persist. One scan
    * per batch: the CSV is parsed and normalized once and rated once
    * across the summary write and any later actions on the two returned
    * frames (see [[split]] and [[rate]]); their kept rows are freed when
    * the frames are unreferenced, and lost ones are recomputed from the
    * input. */
  def run(spark: SparkSession, cdrPath: String, tariffs: DataFrame, outPath: String): (DataFrame, DataFrame) = {
    val (valid, dead) = split(normalize(readCdrs(spark, cdrPath)))
    val rated = rate(assembleLegs(valid), tariffs)
    writeSummary(summarize(rated), outPath)
    (rated, dead)
  }

  /** Whole pipeline, CONTINUOUS form — the reference's actual operating
    * mode: `gsmrating` runs as a long-lived session fed files by the
    * queue plane (`MFramework.cpp:1261-1302` hands file names to the
    * session loop); here the file streaming source provides the
    * new-file-arrival trigger and exactly-once file accounting, and
    * each micro-batch runs the SAME normalize → split → assemble → rate
    * operators as [[run]], so the rated and the dead-letter writes of a
    * micro-batch share one scan of it. Outputs land per batch under
    * `batch_id=<id>` partitions with dynamic partition overwrite, so a
    * RETRIED micro-batch replaces its own output instead of
    * double-billing — the [[graft.etl.IncrementalDedup.sink]] ledger
    * pattern, which is what "exactly once" means for a rating stage.
    *
    * Leg-assembly scope: per micro-batch, which reproduces the
    * reference's file-at-a-time semantics when the source is configured
    * `maxFilesPerTrigger = 1` (legs of one call arrive in one file).
    * Cross-file straggler legs are the stateful case —
    * [[graft.streaming.LegAssembler]] is that operator; compose it
    * upstream when the CDR feed splits calls across files. */
  def runStreaming(spark: SparkSession, cdrDir: String,
      tariffs: DataFrame, ratedPath: String, deadPath: String,
      checkpoint: String,
      maxFilesPerTrigger: Int = 1): org.apache.spark.sql.streaming.StreamingQuery = {
    val stream = spark.readStream.schema(cdrSchema)
      .option("header", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .csv(cdrDir)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (valid, dead) = split(normalize(batch))
        rate(assembleLegs(valid), tariffs)
          .withColumn("batch_id", lit(batchId))
          .write.partitionBy("batch_id")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite").parquet(ratedPath)
        dead.withColumn("batch_id", lit(batchId))
          .write.partitionBy("batch_id")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite").parquet(deadPath)
      }
      .start()
  }
}
