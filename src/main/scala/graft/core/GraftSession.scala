package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's standard settings.
  *
  * Where the reference wires its topology from Oracle config tables at boot
  * (`MFramework.cpp:438-647`), the Spark-native engine's "boot" is just a
  * session with sane scale-oriented defaults: AQE on (runtime re-plan,
  * skew-join splitting), UTC timezone (oracle parity), shuffle parallelism
  * sized to the machine rather than the 200 default.
  *
  * `file:` paths go through [[ForkFreeLocalFileSystem]] (FileSystem) and
  * [[ForkFreeLocalFs]] (FileContext). Spark's Hadoop client runs without
  * the native Hadoop library (`NativeCodeLoader` warns at start-up), so
  * Hadoop's stock local filesystem shells out to
  * `chmod` on every file create and `mkdirs`, and to `readlink` on every
  * `getFileLinkStatus` (twice per FileContext rename). A streaming
  * checkpoint write pays both on each offset, commit, sink-metadata and
  * state-store file. Measured per operation on a 4-core Linux host
  * (JDK 17, Hadoop 3.4.2), stock vs adapter: an atomic checkpoint write
  * (`CheckpointFileManager.createAtomic`, 10 process spawns) 28-30 ms vs
  * 1.3-1.7 ms; a FileContext rename (8 `readlink`s with the `.crc`)
  * 21-22 ms vs 0.3 ms; a FileSystem create+close (2 `chmod`s) 6-6.5 ms
  * vs 0.2-0.35 ms. The adapter spawns no process for any of them.
  * Only `file:` is rebound; HDFS and object stores are untouched, and a
  * `spark.hadoop.fs.file.impl` or
  * `spark.hadoop.fs.AbstractFileSystem.file.impl` set on the builder
  * afterwards, or as a system property, wins.
  */
object GraftSession {

  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    ForkFreeLocalFs.sessionConf
      .filterNot { case (k, _) => sys.props.contains(k) }
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Round-15 (guide §6): the default 4 MB per-file open-cost charge
      // floors split sizing, so an input smaller than cores × 4 MB scans
      // on a handful of tasks no matter how many cores are idle (an
      // 11 MB table = 2 tasks on 32 cores; measured 15-30% of wall on
      // scan-bound cards). 256 KB reflects local/manifest-cached open
      // cost and lets `files.minPartitionNum` (= defaultParallelism)
      // drive splits toward bytes/cores at ANY core count — on big
      // inputs maxPartitionBytes dominates and this is a no-op, so the
      // setting is scale-adaptive, not a local-mode constant. Env
      // override for deployments where opens are genuinely expensive
      // (high-latency object stores with many small files).
      .config("spark.sql.files.openCostInBytes",
        sys.env.getOrElse("SPARK_GRAFT_OPEN_COST", "262144"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The synthetic tables carry isAdjustedToUTC=false timestamps, which
      // Spark 4 would infer as TIMESTAMP_NTZ — a type that breaks epoch
      // casts and diverges from the DuckDB oracle's naive-as-UTC reading.
      // Read them as session-timezone (UTC) instants instead.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // Singleton execution guard (reference: flock'd config file,
      // MFramework.cpp:487-601): a checkpoint dir is an instance lock —
      // a second start on it must FAIL FAST, not silently stop the live
      // instance (Spark's default latest-wins takeover).
      .config("spark.sql.streaming.stopActiveRunOnRestart", "false")
      .config("spark.ui.enabled", "false")

  def getOrCreate(master: String = "local[*]"): SparkSession = {
    val spark = builder(master).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Shuffle/scan sizing for a target input volume — the knob the brief's
    * scale note calls out: partitions must fit executor memory at the
    * target SF, and the count must grow with the data, not stay at a
    * local-mode constant.
    *
    * - `spark.sql.shuffle.partitions`: totalInputBytes / targetPartitionBytes,
    *   clamped to [minPartitions, 200000] (AQE coalesces down when stages
    *   shrink after filters — overshooting is cheap, undershooting spills).
    * - `spark.sql.files.maxPartitionBytes`: the same target, so scan tasks
    *   and shuffle partitions are sized consistently.
    * - advisory size for AQE re-coalescing matches too.
    *
    * E.g. 100 TB at the default 256 MB target → 409600 → clamped 200000
    * shuffle partitions; a 1000-executor × 8-core cluster then runs ~25
    * waves — reasonable task granularity with headroom for skew splits.
    */
  def scaledConf(totalInputBytes: Long,
      targetPartitionBytes: Long = 256L << 20,
      minPartitions: Int = 32): Map[String, String] = {
    require(totalInputBytes > 0 && targetPartitionBytes > 0)
    val raw = (totalInputBytes + targetPartitionBytes - 1) / targetPartitionBytes
    val parts = math.min(200000L, math.max(minPartitions.toLong, raw))
    Map(
      "spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.files.maxPartitionBytes" -> targetPartitionBytes.toString,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> targetPartitionBytes.toString)
  }

  /** Builder preconfigured for a known input volume. */
  def builderForVolume(totalInputBytes: Long, master: String = "local[*]"): SparkSession.Builder =
    scaledConf(totalInputBytes).foldLeft(builder(master)) {
      case (b, (k, v)) => b.config(k, v)
    }
}
