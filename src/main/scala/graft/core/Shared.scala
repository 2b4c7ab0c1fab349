package graft.core

import org.apache.spark.{OneToOneDependency, Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.bridge
import org.apache.spark.storage.StorageLevel

/** The materialization seam for a fan-out point: one frame that several
  * actions read, such as a batch whose valid and dead-letter halves go to
  * two sinks.
  *
  * `Shared(df, name)` has `df`'s columns and rows and computes `df` once:
  *  - lazily: building it runs nothing. The first action that reads it
  *    plans `df` as a SQL execution of its own (`shared <name>`), computes
  *    the rows inside that action's own job and keeps them in memory,
  *    spilling to disk. Later actions read the kept rows.
  *  - with lineage: a lost block is recomputed from `df`'s input, where
  *    a local checkpoint would fail the job.
  *  - without cleanup duty: the ContextCleaner frees the blocks once the
  *    frame is unreachable.
  *  - with `df`'s statistics, so the optimizer plans joins above it as
  *    it did above `df`.
  *
  * Streaming frames pass through uncut: they have no rows to keep.
  *
  * Measured negative result, set-up (4-core host, `perfbench`
  * `cdr_batch`): one `RatingPipeline.run` over 2000 legs in a fresh
  * session, which writes only the summary, takes about 17% longer with
  * its two shared frames (medians of 10 interleaved runs each: 1.69 s
  * against 1.45 s). The first action has to compute the rows every
  * later reader needs, so the summary no longer prunes the rated
  * columns it ignores, and
  * `assembleLegs`' string `min(cell_id)` turns its hash aggregate into
  * a sort-based one that set-up never ran before. Without that column
  * the cut costs set-up nothing measurable (second set-up in 6 fresh
  * JVMs each: 1.59 s cut, 2.03 s cut with it, 1.62 s uncut). Keeping
  * the rows packed in byte chunks, not persisting them at all, and
  * planning the cut inside the caller's execution did not move set-up
  * either. A batch that writes the rated calls pays that aggregate
  * once in any case.
  */
object Shared {
  def apply(df: DataFrame, name: String): DataFrame =
    if (df.isStreaming) df
    else {
      val label = s"shared $name"
      val rows = new Deferred(df.sparkSession.sparkContext,
          () => bridge.rows(df, label))
        .mapPartitions(_.map(_.copy()), preservesPartitioning = true)
        .setName(label)
        .persist(StorageLevel.MEMORY_AND_DISK)
      bridge.overRdd(df, rows)
    }

  /** An RDD over the one that `build` returns, built on first use: the
    * scheduler asks for the partitions on the thread submitting the
    * first job over it, so `build` runs inside that action. */
  private final class Deferred(sc: SparkContext,
      @transient private val build: () => RDD[InternalRow])
      extends RDD[InternalRow](sc, Nil) {
    @transient private lazy val parent = build()
    override protected def getDependencies = Seq(new OneToOneDependency(parent))
    override protected def getPartitions: Array[Partition] = parent.partitions
    override protected def getPreferredLocations(p: Partition): Seq[String] =
      parent.preferredLocations(p)
    override def compute(p: Partition, ctx: TaskContext): Iterator[InternalRow] =
      firstParent[InternalRow].iterator(p, ctx)
  }
}
