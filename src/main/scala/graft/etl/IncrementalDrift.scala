package graft.etl

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental day-over-day TOTAL-VARIATION drift for an append-only
  * event feed — the categorical-mix monitor
  * ([[graft.queries.AnalyticsQ.tvDriftCard]], oracle-checked as q315)
  * joined to the incremental-store family ([[IncrementalDedup]] /
  * [[IncrementalSpanDedup]] / [[IncrementalSemDedup]] /
  * [[IncrementalAnn]]): batch q315 re-aggregates the whole corpus per
  * run, so a live feed could not ask "did tonight's class mix move"
  * without re-scanning history. Here the store keeps per-batch
  * (day, class, count) DELTAS — (day, class)-grain rows, microscopic
  * next to the events that produced them — and drift derives from the
  * store alone:
  *
  *  - `counts/batch_id=N/` — the batch's day×class count deltas,
  *    partitioned by the arrival batch. The partition IS the
  *    idempotence key: a retried micro-batch overwrites its own
  *    partition (dynamic overwrite), so a replay can never
  *    double-count a day — the [[IncrementalDedup.sink]] contract.
  *    Late rows for an OLD day are just more deltas for that day;
  *    the fold below re-reads them into the day's mix, so drift
  *    self-corrects as stragglers land (the q265 reconciliation
  *    stance, here with no state to corrupt).
  *
  * [[drift]] folds the store to the SAME table the batch card computes
  * on the union of all batches — spec-pinned exact, including the
  * first-day NULL and vanished-class mass — so the store is always
  * auditable against one batch replay. [[deltaDrift]] is the per-batch
  * read: only the days the batch TOUCHED plus each one's next observed
  * day (the two rows whose TVD a new delta can move) — the live
  * monitor emits those into its drift log with the batch id, an
  * append-only "drift as of batch N" audit trail.
  *
  * Scale: the store is (day × class × batches)-grain — never
  * event-grain; the fold is one store read + |days|·|classes| grid
  * windows (the q315 plan on a tiny input). A years-long store with
  * thousands of batches compacts with [[compact]] — `counts/`
  * rewritten at one partition per day under reserved negative ids
  * (an offline rebuild, the family's standard lever, atomic via the
  * tmp-then-marker-then-swap discipline); between compactions parquet
  * min/max pruning on `day` keeps [[deltaDrift]] reads at
  * touched-days cost. */
object IncrementalDrift {

  private def countsPath(store: String) = s"$store/counts"

  /** Store-row schema. */
  private[graft] val countSchema: StructType = StructType(Seq(
    StructField("day", LongType),
    StructField("t", StringType),
    StructField("c", LongType),
    StructField("batch_id", LongType)))

  /** Aggregate a batch of events (`ts`, `typeCol`) to its (day, class)
    * deltas — the only event-grain work in the family. */
  private def deltas(batch: DataFrame, typeCol: String): DataFrame =
    batch.select(
        datediff(expr("CAST(ts AS DATE)"), lit("2024-01-01"))
          .cast(LongType).as("day"),
        col(typeCol).as("t"))
      .groupBy(col("day"), col("t")).agg(count(lit(1)).as("c"))

  /** Append a batch's deltas under its own `batch_id` partition
    * (dynamic overwrite — a retry replaces itself, never double-counts). */
  def append(batch: DataFrame, storePath: String, batchId: Long,
      typeCol: String = "event_type"): Unit =
    writeDeltas(deltas(batch, typeCol), storePath, batchId)

  private def writeDeltas(d: DataFrame, storePath: String,
      batchId: Long): Unit =
    d.withColumn("batch_id", lit(batchId))
      .write.partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(countsPath(storePath))

  private def readCounts(spark: SparkSession, storePath: String)
      : DataFrame = {
    val p = new org.apache.hadoop.fs.Path(countsPath(storePath))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // DECLARED schema, never inferred: an EMPTY first micro-batch
    // appends a data-file-less counts/ dir — fs.exists passes but
    // schema inference throws, wedging every subsequent deltaDrift
    // retry. The schema is already a contract ([[countSchema]]); use it.
    if (fs.exists(p))
      spark.read.schema(countSchema).parquet(countsPath(storePath))
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], countSchema)
  }

  /** Compact the store: fold every per-batch delta partition down to
    * ONE partition PER DAY — the documented years-of-batches lever (a
    * thousand-batch store otherwise pays a thousand-partition listing
    * on every [[drift]]/[[deltaDrift]] read). Compacted rows live
    * under RESERVED ids `batch_id = -(day + 1)` — real micro-batch ids
    * are non-negative (foreachBatch), so a straggler landing AFTER
    * compaction appends its own positive partition beside the
    * compacted ones and the fold self-corrects exactly as before
    * (spec-pinned: drift is hash-identical before/after compaction,
    * including a post-compaction straggler); re-compaction folds the
    * compacted partitions too (the sum is idempotent). A replayed
    * batch can never collide with a compacted partition for the same
    * reason the encoding works: the sign separates the namespaces.
    *
    * Atomicity is the family's tmp-then-marker-then-swap discipline
    * ([[IncrementalSemDedup.rebuild]]): the folded store writes to a
    * sibling temp, is trusted only once its `_COMPACTED` marker
    * exists, and the delete-then-rename swap is re-entrant — a crash
    * at any step re-runs to completion. The marker records WHICH
    * `batch_id` partitions the fold consumed, so partitions the live
    * [[sink]] appended AFTER a crashed run wrote its marker are
    * RESCUED into the swap (renamed beside the compacted days), never
    * silently discarded — a crash + append + re-run converges to the
    * same store a clean sequence produces (spec-pinned). Still
    * single-writer like every store in the family: the rescue makes a
    * crashed maintenance window safe to recover from, not compaction
    * safe to run concurrently with an in-flight append. */
  def compact(spark: SparkSession, storePath: String): Unit = {
    val dst = new org.apache.hadoop.fs.Path(countsPath(storePath))
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    foldPhase(spark, storePath)
    swapPhase(fs, dst)
  }

  /** `batch_id=N` partition dir names under `p` (data partitions only). */
  private def batchDirs(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[String] =
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))

  private def tmpPath(storePath: String) =
    new org.apache.hadoop.fs.Path(countsPath(storePath) + ".compact.tmp")

  /** Fold phase of [[compact]]: write the one-partition-per-day rewrite
    * to the sibling temp and mark it complete — the marker body lists
    * the consumed `batch_id` partitions (the fold reads EXACTLY that
    * set, partition-pruned, so marker and data can never disagree).
    * Package-private so the spec can open the crash window between
    * phases. */
  private[graft] def foldPhase(spark: SparkSession, storePath: String)
      : Unit = {
    val dst = new org.apache.hadoop.fs.Path(countsPath(storePath))
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = tmpPath(storePath)
    val marker = new org.apache.hadoop.fs.Path(tmp, "_COMPACTED")
    if (fs.exists(marker) || !fs.exists(dst)) return
    val inDirs = batchDirs(fs, dst)
    val inIds = inDirs.map(_.stripPrefix("batch_id=").toLong)
    val folded = spark.read.schema(countSchema).parquet(dst.toString)
      .filter(col("batch_id").isin(inIds: _*)) // pruned to the marker set
      .groupBy(col("day"), col("t")).agg(sum(col("c")).as("c"))
      // tiny; lazily cut — the min-day guard action below materializes
      // it and the rewrite job re-reads the cached blocks (round-15:
      // one fewer eager job per compaction)
      .localCheckpoint(false)
    val minDay = folded.agg(min(col("day"))).head.get(0)
    require(minDay == null ||
        minDay.asInstanceOf[Long] >= 0L,
      "IncrementalDrift.compact: negative day index (event before the " +
        "epoch date) cannot use the reserved -(day+1) partition ids — " +
        "rebase the epoch below the earliest event first")
    folded
      .withColumn("batch_id", expr("-(day + 1)"))
      .select(col("day"), col("t"), col("c"), col("batch_id"))
      .repartition(col("day")) // one task → one file per day partition
      .write.partitionBy("batch_id")
      .mode("overwrite").parquet(tmp.toString)
    val out = fs.create(marker, true)
    out.write(inDirs.sorted.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  /** Swap phase of [[compact]]: partitions in `dst` NOT listed in the
    * marker are post-marker appends — rename them INTO the temp first
    * (a retried batch that also re-landed in `dst` wins over a
    * previously rescued copy: dynamic overwrite means the `dst` copy is
    * the newer self-replacement), then delete-then-rename as before.
    * Every step is idempotent, so a crash anywhere re-runs to
    * completion with no appended batch lost. */
  private[graft] def swapPhase(fs: org.apache.hadoop.fs.FileSystem,
      dst: org.apache.hadoop.fs.Path): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(dst.toString + ".compact.tmp")
    val marker = new org.apache.hadoop.fs.Path(tmp, "_COMPACTED")
    if (!fs.exists(marker)) return // nothing folded (empty/no store)
    val foldedSet = {
      val in = fs.open(marker)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      body.split('\n').filter(_.nonEmpty).toSet
    }
    batchDirs(fs, dst).filterNot(foldedSet).foreach { d =>
      val from = new org.apache.hadoop.fs.Path(dst, d)
      val to = new org.apache.hadoop.fs.Path(tmp, d)
      if (fs.exists(to)) fs.delete(to, true) // dst copy is the retry: newer
      require(fs.rename(from, to),
        s"IncrementalDrift.compact: rescue rename $from -> $to failed; " +
          "re-run compact to complete the swap")
    }
    if (fs.exists(dst)) fs.delete(dst, true)
    require(fs.rename(tmp, dst),
      s"IncrementalDrift.compact: rename $tmp -> $dst failed; re-run " +
        "compact to complete the swap (the completed temp is kept)")
    fs.delete(new org.apache.hadoop.fs.Path(dst, "_COMPACTED"), false)
  }

  /** The full drift table from the store — EXACTLY
    * [[graft.queries.AnalyticsQ.tvDriftCard]] on the union of every
    * appended batch (spec-pinned): (day, n_events, tv_ppm), first
    * observed day NULL, classes absent from a day contributing their
    * lost mass through the day×class grid. */
  def drift(spark: SparkSession, storePath: String): DataFrame = {
    // round-16 (guide §2.4 — remove shuffles outright): the old q315
    // grid construction (distinct-day × distinct-class cross join, a
    // left join back onto the fold, a per-day window and a per-class
    // lag window, then the day aggregation — ~7 exchanges, 3 references
    // to the fold) is re-planned as a DAY-GRAIN MAP fold: each day
    // carries its class mix as one map column, and consecutive-day TVD
    // is a single lag over the day order plus a higher-order fold over
    // the two maps' key union. Arithmetic is identical per (day, class)
    // — a class absent from either day reads 0 via coalesce, a class
    // absent from BOTH days contributed |0 − 0| = 0 to the old grid sum
    // and is simply not in the key union — so the result is bit-equal
    // (oracle-pinned by q322/q323), while the plan drops to 3 exchanges
    // (the (day, class) fold, the day fold, the single-partition day
    // window) with ONE reference to the store read and no checkpoint.
    val c = readCounts(spark, storePath)
      .groupBy(col("day"), col("t")).agg(sum(col("c")).as("c"))
    val perDay = c.groupBy(col("day"))
      .agg(sum(col("c")).as("n_events"),
        map_from_entries(collect_list(struct(col("t"), col("c"))))
          .as("cm"))
      // ppm per class needs the day total, so it derives after the fold;
      // insertion order of the map is run-dependent (collect_list) but
      // every consumer below is order-independent (key lookups + a sum)
      .withColumn("pm", expr(
        "map_from_entries(transform(map_entries(cm), " +
          "e -> struct(e.key, (1000000 * e.value) DIV n_events)))"))
    // day-grain rows: the single-partition window is the q315 contract
    // (a timeline of days, never event-grain)
    val w = Window.orderBy(col("day"))
    perDay
      .withColumn("prev_pm", lag(col("pm"), 1).over(w))
      .select(col("day"), col("n_events"),
        when(col("prev_pm").isNotNull, expr(
          """aggregate(array_union(map_keys(pm), map_keys(prev_pm)),
               CAST(0 AS BIGINT),
               (acc, k) -> acc + abs(coalesce(pm[k], CAST(0 AS BIGINT))
                 - coalesce(prev_pm[k], CAST(0 AS BIGINT)))) DIV 2"""))
          .as("tv_ppm"))
  }

  /** The rows a batch's deltas can MOVE: the days the batch touched
    * plus each one's next observed day (its mix is the `prev` of that
    * pair). Derived from the store AFTER [[append]]; day-grain. */
  def deltaDrift(spark: SparkSession, storePath: String, batchId: Long)
      : DataFrame =
    deltaDriftTouched(spark, storePath,
      readCounts(spark, storePath)
        .filter(col("batch_id") === batchId)
        .select(col("day")).distinct())

  /** [[deltaDrift]] with the touched-day set supplied by the caller —
    * the [[sink]] already HOLDS the batch's deltas when it needs the
    * affected days, so it derives them from the same materialized
    * delta table instead of re-listing and re-reading the store
    * partition it just wrote (round-15: one store read per micro-batch
    * saved; identical day set by the dynamic-overwrite contract — the
    * partition contains exactly the batch's deltas). */
  private def deltaDriftTouched(spark: SparkSession, storePath: String,
      touched: DataFrame): DataFrame = {
    val full = drift(spark, storePath)
    val wAll = Window.orderBy(col("day"))
    val affected = full
      .withColumn("prev_day", lag(col("day"), 1).over(wAll))
      // a touched day moves its own row and the next observed day's; a
      // touched day that is no longer in the store (its stale counts were
      // dropped) moves the row that now spans it
      .join(touched.select(col("day").as("__td")),
        col("__td").between(coalesce(col("prev_day"), col("__td")),
          col("day")),
        "left_semi")
    affected.select(col("day"), col("n_events"), col("tv_ppm"))
  }

  /** An EMPTY attempt at `batchId` writes no partition, so dynamic
    * overwrite would leave a failed earlier attempt's `batch_id=N`
    * counts (and drift-log rows) in place. Remove both and return the
    * days those stale counts touched — their drift moves back. */
  private def dropStaleAttempt(spark: SparkSession, storePath: String,
      driftLogPath: String, batchId: Long): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val stale = new org.apache.hadoop.fs.Path(countsPath(storePath),
      s"batch_id=$batchId")
    val fs = stale.getFileSystem(conf)
    val days =
      if (!fs.exists(stale)) Seq.empty[Long]
      else {
        val ds = readCounts(spark, storePath)
          .filter(col("batch_id") === batchId)
          .select(col("day")).distinct().as[Long].collect().toSeq
        fs.delete(stale, true)
        ds
      }
    val staleLog = new org.apache.hadoop.fs.Path(driftLogPath,
      s"batch_id=$batchId")
    val logFs = staleLog.getFileSystem(conf)
    if (logFs.exists(staleLog)) logFs.delete(staleLog, true)
    days.toDF("day")
  }

  /** Streaming composition ([[IncrementalDedup.sink]] pattern): per
    * micro-batch, append the batch's deltas under `batch_id=<id>` and
    * emit the affected days' drift rows — stamped with the batch id —
    * into `driftLogPath` (append-only audit: "the drift as of batch N";
    * the latest row per day is the current verdict, and a late
    * straggler's correction is VISIBLE as a new row rather than a
    * silent rewrite). A retried batch that comes back EMPTY removes the
    * failed attempt's counts and drift-log rows and logs fresh rows for
    * the days those counts touched, so the store equals one that never
    * saw the failed attempt.
    *
    * `compactEvery = Some(n)` runs [[compact]] inside the SAME
    * foreachBatch epoch after every n-th batch — the unattended-stream
    * lever (a year-long feed otherwise accumulates thousands of
    * partitions until an operator remembers the manual call). Inside
    * the epoch the sink IS the single writer, so the maintenance-window
    * contract holds by construction; the fold is sum-idempotent, so the
    * drift table and the audit trail are hash-identical to the
    * manual-lifecycle run (spec-pinned) and the partition count stays
    * bounded by |days| + n. */
  def sink(spark: SparkSession, storePath: String, driftLogPath: String,
      typeCol: String = "event_type",
      compactEvery: Option[Int] = None): (DataFrame, Long) => Unit = {
    compactEvery.foreach(n => require(n >= 1,
      s"IncrementalDrift.sink: compactEvery must be >= 1, got $n"))
    (batch, batchId) => {
      // round-15: the batch's (day, class) deltas are computed ONCE —
      // lazily checkpointed, materialized by the store append, then the
      // touched-day set reads the cached blocks instead of re-scanning
      // the batch or re-reading the store partition just written.
      val d = deltas(batch, typeCol).localCheckpoint(false)
      // the written row count rides the append as an Observation — no
      // extra job on the non-empty path
      val written = Observation()
      writeDeltas(d.observe(written, count(lit(1)).as("rows")), storePath,
        batchId)
      val touched =
        if (written.get("rows").asInstanceOf[Long] > 0L)
          d.select(col("day")).distinct()
        else dropStaleAttempt(spark, storePath, driftLogPath, batchId)
      deltaDriftTouched(spark, storePath, touched)
        .withColumn("batch_id", lit(batchId))
        .write.partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(driftLogPath)
      if (compactEvery.exists(n => (batchId + 1) % n == 0))
        compact(spark, storePath)
    }
  }
}
