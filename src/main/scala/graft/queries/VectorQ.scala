package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Dsl._
import graft.functions.VectorFunctions.{vec_dot, vec_dot_long, vec_nearest_cell, vec_norm2, vec_pq_encode}

/** Embedding similarity search (SURVEY §2C) over `embeddings`
  * (ArrayType(FloatType), dim 64).
  *
  * Spark side uses the engine's codegen'd VecDot expression (a fused
  * loop inside whole-stage codegen, ~6x over the interpreted
  * zip_with/aggregate formulation) with norms precomputed once per
  * vector. The query set is broadcast, so the candidate side streams with
  * no shuffle; the bucketed/IVF variants join on a coarse partition key
  * (the 100 TB path: hash-partition by cell, prune candidates before any
  * pairwise work).
  *
  * Bucket/cell counts are PARAMETERS, not constants: pairwise work inside
  * a bucket is O(b·(n/b)²) = O(n²/b), so the bucket count b must grow with
  * the corpus. Pick `bits ≈ log2(n / targetBucketSize)` for sign-LSH and
  * `cells ≈ √n` with `nprobe` > 1 for IVF. The oracle-gated queries pin the
  * fixture defaults (3 bits, 4 cells) so results stay byte-identical.
  *
  * The DuckDB oracle reproduces the identical IEEE arithmetic as an
  * explicit 64-term left-associated chain (same fold order as VecDot's
  * accumulation loop), so cosines match bit-for-bit before the 6-dp
  * round.
  */
object VectorQ {

  private val dim = 64

  /** 64-term DuckDB chain matching Spark's left-to-right fold. */
  private def dotSql(a: String, b: String): String =
    (1 to dim).map(k => s"(CAST($a[$k] AS DOUBLE) * CAST($b[$k] AS DOUBLE))").mkString(" + ")
  private def normSql(a: String): String = dotSql(a, a)

  /** Sign-bit LSH bucket id from the leading `bits` embedding components
    * (bucket count = 2^bits). At corpus size n choose
    * `bits ≈ log2(n / targetBucketSize)` so per-bucket candidate sets stay
    * bounded — a constant here is O(n²/2^bits) pairwise work at scale.
    */
  def signBucket(emb: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 62, s"sign-bucket bits must be in [1,62], got $bits")
    (1 to bits).map { i =>
      when(element_at(emb, i) > 0f, lit(1L << (bits - i))).otherwise(lit(0L))
    }.reduce(_ + _).cast(LongType)
  }

  /** Normalize a raw embeddings table to (vec_id, embedding, nrm). */
  private def withNorm(raw: DataFrame): DataFrame =
    raw.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", vec_norm2(col("embedding")))

  private def cosine(qe: Column, qn: Column, e: Column, n: Column): Column =
    round(vec_dot(qe, e) / (sqrt(qn) * sqrt(n)), 6)

  /** LSH-bucketed ANN top-k (the scale path): `bits` sign bits form a
    * coarse bucket; candidates are only same-bucket, so the pairwise work
    * is an equi-join that hash-partitions cleanly. FIXTURE/EVAL-SAMPLE
    * ENTRY POINT: queries are the `vec_id % queryMod == 0` corpus sample
    * (corpus-coupled size) — production callers use the explicit-query
    * overload. Routed through the same impl (round 6): the bucket
    * equi-join carries no hint, so AQE broadcasts the sample only while
    * it is actually small.
    */
  def annBucketed(raw: DataFrame, bits: Int = 3, k: Int = 3, queryMod: Int = 20): DataFrame = {
    require(queryMod >= 1, s"queryMod must be >= 1, got $queryMod")
    annBucketedImpl(raw, sampleQueries(raw, queryMod), bits, k, excludeSelf = true)
  }

  /** Multi-probe LSH ANN: each query searches its own sign bucket AND
    * every bucket within hamming distance `probeHamming` of it — a true
    * neighbor that lands just across one sign boundary (the dominant LSH
    * failure mode) is found in the flipped bucket. The probe set explodes
    * to Σ C(bits, h) rows per query BEFORE the broadcast, so the
    * candidate join stays a plain bucket-equi-join; cost multiplies by
    * the probe count, recall climbs toward exact. `probeHamming = bits`
    * probes every bucket and recovers exact search. FIXTURE/EVAL-SAMPLE
    * ENTRY POINT (corpus-sample queries, no forced broadcast since
    * round 6) — production callers use the explicit-query overload. */
  def annBucketedMultiProbe(raw: DataFrame, bits: Int = 3, k: Int = 3,
      queryMod: Int = 20, probeHamming: Int = 1): DataFrame = {
    require(queryMod >= 1, s"queryMod must be >= 1, got $queryMod")
    annMultiProbeImpl(raw, sampleQueries(raw, queryMod), bits, k,
      probeHamming, excludeSelf = true)
  }

  /** Embedding-cosine near-duplicate survivors: a vector is kept unless a
    * lower-id near-duplicate (cosine ≥ threshold) shares its sign bucket.
    * Returns (vec_id, embedding, nrm, bucket) of the kept vectors.
    */
  def embeddingDedupKept(raw: DataFrame, bits: Int = 3, threshold: Double = 0.2): DataFrame = {
    val v = withNorm(raw).withColumn("bucket", signBucket(col("embedding"), bits))
    val a = v.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
      col("nrm").as("a_nrm"), col("bucket"))
    val b = v.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
      col("nrm").as("b_nrm"), col("bucket"))
    val dupOf = a.join(b, Seq("bucket"))
      .filter(col("b_id") < col("a_id"))
      .withColumn("cosine", cosine(col("a_emb"), col("a_nrm"), col("b_emb"), col("b_nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id")).distinct()
    v.join(dupOf, col("vec_id") === col("a_id"), "left_anti")
  }

  /** SemDeDup-style semantic dedup (Abbas et al., arXiv:2303.09540): the
    * corpus clusters around `cells` centroids (deterministic seeds here —
    * swap in [[kmeansCentroids]] for trained cells); inside each cluster,
    * vectors whose pairwise cosine reaches `threshold` form semantic
    * duplicate groups, and the member FARTHEST from the shared centroid
    * survives (the paper's keep-low-centroid-similarity policy: the most
    * marginal exemplar carries the most training signal). Ties break to
    * the lowest vec_id.
    *
    * Scale shape: one broadcast-assign pass, then pairwise work only
    * WITHIN a cluster — O(n²/cells) total, so `cells` must grow ~√n with
    * the corpus exactly like [[annIvf]]; the pair join is a (cluster)
    * equi-join that hash-partitions cleanly. Returns the full census
    * (vec_id, cluster, dist_sq, keep) so attrition reporting is a free
    * group-by; filter `keep` for the dedup itself.
    */
  def semDedup(raw: DataFrame, cells: Int = 4, threshold: Double = 0.2): DataFrame = {
    require(cells >= 1, s"cells must be >= 1, got $cells")
    val v = withNorm(raw)
    val seeds = v.orderBy(col("vec_id")).limit(cells)
      .select(col("vec_id").as("cluster"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("centroid"))
    val assigned = assignToCentroids(v, seeds)
    val a = assigned.select(col("cluster"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"), col("nrm").as("a_nrm"), col("dist_sq").as("a_dist"))
    val b = assigned.select(col("cluster"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("nrm").as("b_nrm"), col("dist_sq").as("b_dist"))
    // a is a duplicate when some close neighbor b beats it on the keep
    // policy (farther from the centroid, id as the tiebreak)
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("b_id") =!= col("a_id"))
      .withColumn("cosine", cosine(col("a_emb"), col("a_nrm"), col("b_emb"), col("b_nrm")))
      .filter(col("cosine") >= threshold &&
        (col("b_dist") > col("a_dist") ||
          (col("b_dist") === col("a_dist") && col("b_id") < col("a_id"))))
      .select(col("a_id")).distinct()
    assigned
      .join(dropped.withColumn("_dup", lit(true)),
        col("vec_id") === col("a_id"), "left")
      .withColumn("keep", col("_dup").isNull)
      .select(col("vec_id"), col("cluster"), col("dist_sq"), col("keep"))
  }

  /** IVF-style ANN top-k: `cells` deterministic seed centroids (first
    * vectors — a stand-in for sampled/trained centroids), nearest-centroid
    * assignment via dist² = |a|² + |c|² − 2·a·c with a ranked tiebreak,
    * then top-k search within the query's own cell (nprobe=1). Real IVF at
    * corpus size n wants `cells ≈ √n` and nprobe of a few — the assignment
    * stays one broadcast pass and the search an equi-join on cluster.
    */
  def annIvf(raw: DataFrame, cells: Int = 4, k: Int = 3, queryMod: Int = 20): DataFrame = {
    require(cells >= 1, s"cells must be >= 1, got $cells")
    require(queryMod >= 1, s"queryMod must be >= 1, got $queryMod")
    val v = withNorm(raw)
    // seeds = the `cells` lowest vec_ids (a top-k, not `vec_id < cells`:
    // ids need not start at 0 — a filtered corpus would otherwise yield
    // zero seeds and a silently empty result). Corpus assignment rides
    // the [[graft.functions.VecNearestCell]] map expression — same
    // arithmetic/tie contract as the crossJoin + per-vector rank the
    // shared impl uses for the query probes, so both sides of the cell
    // equi-join agree bit-for-bit. FIXTURE/EVAL-SAMPLE ENTRY POINT
    // (corpus-sample queries, routed through the explicit-query impl
    // since round 6 — no forced query broadcast).
    val seeds = v.orderBy(col("vec_id")).limit(cells)
      .select(col("vec_id").as("cluster"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("centroid"))
    annIvfImpl(raw, seeds, sampleQueries(raw, queryMod), k, nprobe = 1,
      excludeSelf = true, emitCluster = true)
  }

  /** Symmetric per-vector int8 quantization: each component maps to
    * round(x * 127 / max_abs) — the 4-byte-float → 1-byte-int compression
    * every production vector store runs at scale (4× less shuffle/cache
    * footprint; integer dot products). Rounding is floor(x + 0.5), which
    * both engines evaluate identically (round() half-ties do NOT match
    * cross-engine). Adds `qv` (array<bigint>) to (vec_id, embedding, ...).
    */
  def quantizeInt8(raw: DataFrame): DataFrame =
    raw
      // materialize max_abs as a column FIRST: referenced inside the
      // transform lambda it would re-evaluate per element (O(dim²))
      .withColumn("mx", expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
      .withColumn("qv", expr(
        """CASE WHEN mx = 0 THEN transform(embedding, x -> CAST(0 AS BIGINT))
           ELSE transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) AS BIGINT))
           END"""))

  /** ANN top-k over int8-quantized vectors: sign-bucket prefilter (as
    * [[annBucketed]]) + exact integer dot product on the quantized
    * vectors as the similarity. The int dot is exact BIGINT arithmetic —
    * no float accumulation at all in the scoring loop, and the candidate
    * vectors move as 1/4 the bytes. */
  def annQuantized(raw: DataFrame, bits: Int = 3, k: Int = 3, queryMod: Int = 20): DataFrame = {
    require(queryMod >= 1, s"queryMod must be >= 1, got $queryMod")
    // FIXTURE/EVAL-SAMPLE ENTRY POINT — corpus-sample queries routed
    // through the explicit-query impl (round 6), no forced broadcast
    annQuantizedImpl(raw, sampleQueries(raw, queryMod), bits, k,
      excludeSelf = true)
  }

  /** Left-associated per-component dot product of two array columns —
    * the same fold order as [[graft.functions.VecDot]] and the oracle's
    * 64-term SQL chain, so mixed float/double operands stay bit-identical
    * cross-engine. */
  private def dotCols(a: Column, b: Column): Column =
    (1 to dim).map(i =>
      element_at(a, i).cast(DoubleType) * element_at(b, i).cast(DoubleType))
      .reduce(_ + _)

  /** Nearest-centroid assignment as a pure MAP: the centroid table —
    * bounded at O(cells · dim) values, the same driver traffic the
    * k-means loop already pays — is collected once and rides inside the
    * codegen'd [[graft.functions.VecNearestCell]] argmin expression, so
    * the corpus is scanned exactly once with zero shuffle and zero row
    * explosion. The previous shape (crossJoin(corpus × broadcast
    * centroids) + per-vector min-agg) materialized n·cells intermediate
    * rows each carrying the full embedding array — at the production
    * cells ≈ √n rule that is n^1.5 KB-wide rows through an exchange,
    * which the 10× scale probe measured at 18–27× wall growth before
    * this rewrite. Tie-breaks and arithmetic order are pinned to the
    * oracle inside the expression (lowest cluster id on equal dist).
    * `centroids` is (cluster: Long, centroid: array<double>). Returns
    * (vec_id, embedding, nrm, cluster, dist_sq). */
  def assignToCentroids(v: DataFrame, centroids: DataFrame): DataFrame =
    assignToCentroidsCarry(v, centroids, Nil)

  /** [[assignToCentroids]] carrying extra input columns through the
    * assignment (round-16 seam): store rewrites
    * ([[graft.etl.IncrementalSemDedup.rebuild]]) keep their partition /
    * column-family columns (`batch_id`, `qv`) in the SAME pass instead
    * of paying a vec_id shuffle join back onto the input. */
  private[graft] def assignToCentroidsCarry(v: DataFrame,
      centroids: DataFrame, carry: Seq[String]): DataFrame = {
    // vec_nearest_cell requires strictly-ascending ids; centroid tables
    // from a group-by (e.g. classMeans) arrive unordered, so sort here.
    val cents = centroids.select(col("cluster"), col("centroid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
      .sortBy(_._1)
    v.withColumn("m", vec_nearest_cell(col("embedding"), col("nrm"), cents))
      .select(Seq(col("vec_id"), col("embedding"), col("nrm"),
        col("m.cluster").as("cluster"), col("m.dist_sq").as("dist_sq")) ++
        carry.map(col): _*)
  }

  /** Distributed Lloyd k-means over the embedding column — the trained
    * replacement for [[annIvf]]'s seed centroids. Deterministic end to
    * end: seeds are the `cells` lowest vec_ids, every per-dimension mean
    * is an exact DECIMAL(38,8) sum divided by the count and rounded to
    * 6 dp (no float-accumulation order dependence), and ties in the
    * assignment break to the lowest cluster id.
    *
    * Per iteration: one broadcast-assign pass (no shuffle beyond the
    * per-vector argmin aggregation) and one per-(cluster, dimension) mean
    * aggregation. Centroids — O(cells · dim) values, NOT data-sized —
    * come back to the driver between iterations; chaining the loop
    * lazily instead would grow the plan exponentially. Clusters that
    * lose every member keep their previous centroid. Returns
    * (cluster: Long, centroid: array<double>) with 6-dp components.
    */
  def kmeansCentroids(raw: DataFrame, cells: Int = 4, iters: Int = 2): DataFrame = {
    require(cells >= 1, s"cells must be >= 1, got $cells")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val spark = raw.sparkSession
    import spark.implicits._
    val v = withNorm(raw)
    var cents: Seq[(Long, Seq[Double])] = v.orderBy(col("vec_id")).limit(cells)
      .select(col("vec_id"), col("embedding")).collect().toSeq
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
    for (_ <- 1 to iters) {
      val cdf = cents.toDF("cluster", "centroid")
      val assigned = assignToCentroids(v, cdf)
      val means = assigned
        .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("cluster"), col("pos"))
        .agg(round(
          sum(expr("CAST(CAST(x AS DOUBLE) AS DECIMAL(38,8))")).cast(DoubleType)
            / count(lit(1)), 6).as("m"))
        .groupBy(col("cluster"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cluster"),
          transform(col("pm"), x => x.getField("m")).as("centroid"))
        .as[(Long, Seq[Double])].collect()
      val refined = means.toMap
      cents = cents.map { case (c, old) => c -> refined.getOrElse(c, old) }
    }
    cents.toDF("cluster", "centroid")
  }

  /** IVF search over TRAINED centroids (from [[kmeansCentroids]] or any
    * (cluster, centroid) table): broadcast-assign, then top-k within the
    * query's `nprobe` NEAREST cells — the same scale shape as [[annIvf]]
    * with better cell balance than raw seeds, and the standard
    * recall/cost dial: a true neighbor just across a cell boundary is
    * found by probing the adjacent cell. Candidate work scales with
    * nprobe/cells of the corpus per query; the probe-set join stays a
    * (cluster)-equi-join, so it hash-partitions exactly like nprobe=1.
    * FIXTURE/EVAL-SAMPLE ENTRY POINT (corpus-sample queries, routed
    * through the explicit-query impl since round 6 — no forced query
    * broadcast) — production callers use the query-table overload. */
  def annIvfTrained(raw: DataFrame, centroids: DataFrame, k: Int = 3,
      queryMod: Int = 20, nprobe: Int = 1): DataFrame = {
    require(queryMod >= 1, s"queryMod must be >= 1, got $queryMod")
    annIvfImpl(raw, centroids, sampleQueries(raw, queryMod), k, nprobe,
      excludeSelf = true, emitCluster = false)
  }

  /** Exact brute-force top-k cosine neighbors for the `vec_id % queryMod`
    * query sample — the ground truth every ANN variant is judged against.
    * FIXTURE/EVAL-SAMPLE ENTRY POINT: the query set is a corpus sample,
    * so its size is corpus-coupled — production searches must call the
    * explicit-query overload with their own bounded (query_id,
    * embedding) table. Routed through the identical impl as that
    * overload (round 6), so no forced query-side broadcast survives
    * here either: AQE broadcasts the sample while it is small and falls
    * back to a shuffled join when it is not. O(n·q) pairwise either way.
    */
  def cosineTopK(raw: DataFrame, k: Int = 5, queryMod: Int = 20): DataFrame = {
    require(queryMod >= 1, s"queryMod must be >= 1, got $queryMod")
    cosineTopKImpl(raw, sampleQueries(raw, queryMod), k, excludeSelf = true)
  }

  // ===== Explicit-query ANN API ======================================
  // Production searches bring their own query table — a search request
  // batch, an eval set — instead of sampling the corpus. These overloads
  // take a (query_id, embedding) DataFrame and carry NO broadcast hint on
  // the query side: the corpus-sample variants above broadcast a set that
  // GROWS with the corpus (at 100x data the "sample" is 100x bigger and
  // the broadcast kills the job), whereas here AQE broadcasts a small
  // batch at runtime and falls back to a shuffled equi-join on the
  // cluster/bucket key when the batch is large. Query ids live in their
  // own id space, so no vec_id = query_id self-exclusion applies.

  /** Normalize a user query table — (query_id, embedding) — to
    * (query_id, qe, qn). */
  private def queryNorm(queryTable: DataFrame): DataFrame =
    queryTable.select(col("query_id"), col("embedding").as("qe"))
      .withColumn("qn", vec_norm2(col("qe")))

  /** The fixture entry points' query table: the `vec_id % queryMod`
    * corpus sample, reshaped to the explicit-query contract. */
  private def sampleQueries(raw: DataFrame, queryMod: Int): DataFrame =
    raw.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))

  /** Shared impl of both [[cosineTopK]] overloads. `excludeSelf` drops
    * the query's own corpus row (the sample entry points' semantics —
    * query ids ARE vec_ids there; an explicit query table lives in its
    * own id space and keeps every candidate). */
  private def cosineTopKImpl(raw: DataFrame, queryTable: DataFrame, k: Int,
      excludeSelf: Boolean): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val v = withNorm(raw)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val pairs = v.crossJoin(queryNorm(queryTable))
    (if (excludeSelf) pairs.filter(col("vec_id") =!= col("query_id")) else pairs)
      .withColumn("cosine", cosine(col("qe"), col("qn"), col("embedding"), col("nrm")))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cosine"), col("rank"))
  }

  /** Exact brute-force top-k cosine neighbors of each query-table row.
    * O(n·q) pairwise — the eval-set ground-truth path; for a large live
    * query stream use the IVF/PQ variants below. */
  def cosineTopK(raw: DataFrame, queryTable: DataFrame, k: Int): DataFrame =
    cosineTopKImpl(raw, queryTable, k, excludeSelf = false)

  /** Shared impl of both [[annBucketed]] overloads. */
  private def annBucketedImpl(raw: DataFrame, queryTable: DataFrame,
      bits: Int, k: Int, excludeSelf: Boolean): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val v = withNorm(raw).withColumn("bucket", signBucket(col("embedding"), bits))
    val q = queryNorm(queryTable).withColumn("qbucket", signBucket(col("qe"), bits))
    val base = col("bucket") === col("qbucket")
    val cond = if (excludeSelf) base && col("vec_id") =!= col("query_id") else base
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    v.join(q, cond)
      .withColumn("cosine", cosine(col("qe"), col("qn"), col("embedding"), col("nrm")))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("bucket"), col("vec_id").as("neighbor_id"),
        col("cosine"), col("rank"))
  }

  /** [[annBucketed]] over an explicit query table: queries hash into the
    * same sign buckets; the bucket equi-join carries no hint. */
  def annBucketed(raw: DataFrame, queryTable: DataFrame, bits: Int, k: Int): DataFrame =
    annBucketedImpl(raw, queryTable, bits, k, excludeSelf = false)

  /** Shared impl of both [[annBucketedMultiProbe]] overloads. */
  private def annMultiProbeImpl(raw: DataFrame, queryTable: DataFrame,
      bits: Int, k: Int, probeHamming: Int, excludeSelf: Boolean): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(probeHamming >= 0 && probeHamming <= bits,
      s"probeHamming must be in [0,$bits], got $probeHamming")
    val masks: Seq[Long] = (0 to probeHamming)
      .flatMap(h => (0 until bits).combinations(h).map(_.map(1L << _).sum))
    val v = withNorm(raw).withColumn("bucket", signBucket(col("embedding"), bits))
    val q = queryNorm(queryTable).withColumn("home", signBucket(col("qe"), bits))
      .withColumn("qbucket",
        explode(array(masks.map(m => col("home").bitwiseXOR(lit(m))): _*)))
    val base = col("bucket") === col("qbucket")
    val cond = if (excludeSelf) base && col("vec_id") =!= col("query_id") else base
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    v.join(q, cond)
      .withColumn("cosine", cosine(col("qe"), col("qn"), col("embedding"), col("nrm")))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cosine"), col("rank"))
  }

  /** [[annBucketedMultiProbe]] over an explicit query table — probe-set
    * explode on the query side, bucket equi-join without a hint;
    * `probeHamming = bits` recovers exact search over the query table. */
  def annBucketedMultiProbe(raw: DataFrame, queryTable: DataFrame, bits: Int,
      k: Int, probeHamming: Int): DataFrame =
    annMultiProbeImpl(raw, queryTable, bits, k, probeHamming, excludeSelf = false)

  /** Shared impl of both [[annQuantized]] overloads. */
  private def annQuantizedImpl(raw: DataFrame, queryTable: DataFrame,
      bits: Int, k: Int, excludeSelf: Boolean): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val v = quantizeInt8(raw)
      .withColumn("bucket", signBucket(col("embedding"), bits))
      .select(col("vec_id"), col("qv"), col("bucket"))
    val q = quantizeInt8(queryTable.select(col("query_id").as("vec_id"), col("embedding")))
      .withColumn("qbucket", signBucket(col("embedding"), bits))
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"), col("qbucket"))
    val base = col("bucket") === col("qbucket")
    val cond = if (excludeSelf) base && col("vec_id") =!= col("query_id") else base
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot_q").desc, col("vec_id"))
    v.join(q, cond)
      .withColumn("dot_q", vec_dot_long(col("qqv"), col("qv")))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("bucket"), col("vec_id").as("neighbor_id"),
        col("dot_q"), col("rank"))
  }

  /** [[annQuantized]] over an explicit query table: queries quantize with
    * their own per-vector scale (symmetric int8), candidates move as
    * 1-byte components, and the bucket equi-join carries no hint. */
  def annQuantized(raw: DataFrame, queryTable: DataFrame, bits: Int, k: Int): DataFrame =
    annQuantizedImpl(raw, queryTable, bits, k, excludeSelf = false)

  /** Shared impl of the IVF search family: probe ranking over broadcast
    * centroids (tiny, legit), candidate retrieval as a hint-free
    * (cluster) equi-join. `emitCluster` preserves the seed-IVF fixture's
    * output shape (it reports the query's cell). */
  private def annIvfImpl(raw: DataFrame, centroids: DataFrame,
      queryTable: DataFrame, k: Int, nprobe: Int, excludeSelf: Boolean,
      emitCluster: Boolean): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val assigned = assignToCentroids(withNorm(raw), centroids)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("dist_sq"), col("cluster"))
    val probes = queryNorm(queryTable)
      .crossJoin(broadcast(centroids))
      .withColumn("dist_sq",
        col("qn") + dotCols(col("centroid"), col("centroid"))
          - lit(2.0) * dotCols(col("qe"), col("centroid")))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("query_id"), col("qe"), col("qn"), col("cluster").as("qcluster"))
    val base = col("cluster") === col("qcluster")
    val cond = if (excludeSelf) base && col("vec_id") =!= col("query_id") else base
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val ranked = assigned.join(probes, cond)
      .withColumn("cosine", cosine(col("qe"), col("qn"), col("embedding"), col("nrm")))
      .withColumn("rank", row_number().over(wRank).cast(LongType))
      .filter(col("rank") <= k)
    if (emitCluster)
      ranked.select(col("query_id"), col("cluster"),
        col("vec_id").as("neighbor_id"), col("cosine"), col("rank"))
    else
      ranked.select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cosine"), col("rank"))
  }

  /** [[annIvfTrained]] over an explicit query table: centroids (tiny)
    * still broadcast for the probe ranking, but the probe-set ->
    * candidate join is a plain (cluster) equi-join AQE sizes at runtime. */
  def annIvfTrained(raw: DataFrame, centroids: DataFrame, queryTable: DataFrame,
      k: Int, nprobe: Int): DataFrame =
    annIvfImpl(raw, centroids, queryTable, k, nprobe,
      excludeSelf = false, emitCluster = false)

  /** Shared impl of both [[annPq]] overloads. */
  private def annPqImpl(raw: DataFrame, queryTable: DataFrame, subs: Int,
      codes: Int, k: Int, trained: Boolean, trainIters: Int,
      excludeSelf: Boolean): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val subDim = dim / subs
    val cb = if (trained) pqCodebookTrained(raw, subs, codes, trainIters)
             else pqCodebook(raw, subs, codes)
    val enc = pqEncode(raw, cb, subs)
    val lut = subSliced(
        queryTable.select(col("query_id").as("vec_id"), col("embedding")), subs)
      .join(broadcast(cb), Seq("sub"))
      .withColumn("pd",
        round(subDist(col("sv"), col("cw"), subDim), 6).cast(DecimalType(38, 8)))
      .select(col("vec_id").as("query_id"), col("sub"), col("code"), col("pd"))
    // The LUT join is HINTED broadcast deliberately — this is not the
    // corpus-coupled broadcast hazard: the LUT is |queries|·subs·codes
    // rows, sized by the QUERY BATCH alone. And its join key (sub, code)
    // has only subs·codes distinct values, so a shuffled fallback can
    // never parallelize past 64-ish reducers — with a corpus-derived
    // query plan the optimizer's corpus-sized estimate picked exactly
    // that degenerate shuffle, measured 7× slower at the 10× probe.
    // ADC's contract is the standard FAISS one: the per-query LUT fits
    // in memory; chunk a huge query log upstream. (The fixture entry
    // point inherits this contract — its corpus-sample LUT is why it is
    // fixture-only.)
    val joined = enc.join(broadcast(lut), Seq("sub", "code"))
    val scored =
      (if (excludeSelf) joined.filter(col("vec_id") =!= col("query_id"))
       else joined)
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pd")).as("adc_d"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc_d"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("adc_d").cast(DoubleType).as("adc"), col("rank"))
  }

  /** [[annPq]] over an explicit query table: the per-query ADC lookup
    * table joins the encoded corpus on (sub, code) — broadcast by
    * contract (see impl note); sized by the query batch alone. */
  def annPq(raw: DataFrame, queryTable: DataFrame, subs: Int, codes: Int,
      k: Int, trained: Boolean): DataFrame =
    annPqImpl(raw, queryTable, subs, codes, k, trained, trainIters = 2,
      excludeSelf = false)

  /** Shared impl of both [[annIvfPq]] overloads. */
  private def annIvfPqImpl(raw: DataFrame, centroids: DataFrame,
      queryTable: DataFrame, subs: Int, codes: Int, k: Int, nprobe: Int,
      trained: Boolean, trainIters: Int, excludeSelf: Boolean): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val subDim = dim / subs
    val v = withNorm(raw)
    val assigned = assignToCentroids(v, centroids)
    val cb = if (trained) pqCodebookTrained(raw, subs, codes, trainIters)
             else pqCodebook(raw, subs, codes)
    val enc = pqEncode(raw, cb, subs)
      .join(assigned.select(col("vec_id"), col("cluster")), Seq("vec_id"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("dist_sq"), col("cluster"))
    val probes = queryNorm(queryTable)
      .crossJoin(broadcast(centroids))
      .withColumn("dist_sq",
        col("qn") + dotCols(col("centroid"), col("centroid"))
          - lit(2.0) * dotCols(col("qe"), col("centroid")))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("query_id"), col("cluster").as("qcluster"))
    val lut = subSliced(
        queryTable.select(col("query_id").as("vec_id"), col("embedding")), subs)
      .join(broadcast(cb), Seq("sub"))
      .withColumn("pd",
        round(subDist(col("sv"), col("cw"), subDim), 6).cast(DecimalType(38, 8)))
      .select(col("vec_id").as("query_id"), col("sub"), col("code"), col("pd"))
      .join(probes, Seq("query_id"))
    val e = enc.as("e")
    val l = lut.as("l")
    // broadcast for the same reason as the explicit-query [[annPq]]: the
    // LUT is query-batch-sized and the (sub, code, cluster) key space is
    // subs·codes·cells values — too few for a useful shuffled join.
    val base = col("e.sub") === col("l.sub") &&
      col("e.code") === col("l.code") &&
      col("e.cluster") === col("l.qcluster")
    val cond = if (excludeSelf) base && col("e.vec_id") =!= col("l.query_id")
               else base
    val scored = e.join(broadcast(l), cond)
      .groupBy(col("l.query_id").as("query_id"), col("e.vec_id").as("vec_id"))
      .agg(sum(col("l.pd")).as("adc_d"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc_d"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("adc_d").cast(DoubleType).as("adc"), col("rank"))
  }

  /** [[annIvfPq]] over an explicit query table and a caller-supplied
    * (trained) centroid table — the full production layout: IVF prunes,
    * PQ compresses, and neither the corpus nor a corpus-coupled query
    * sample ever sits behind a forced broadcast. */
  def annIvfPq(raw: DataFrame, centroids: DataFrame, queryTable: DataFrame,
      subs: Int, codes: Int, k: Int, nprobe: Int, trained: Boolean): DataFrame =
    annIvfPqImpl(raw, centroids, queryTable, subs, codes, k, nprobe,
      trained, trainIters = 2, excludeSelf = false)

  /** Recall of an ANN result against exact ground truth: per query, how
    * many of the true top-k neighbors the approximate search returned.
    * Both inputs are (query_id, neighbor_id, ...); `exact` defines the
    * denominator. The quality gate a production ANN runs continuously —
    * ship it next to every index build. Two hash aggregations and one
    * equi-join on (query_id, neighbor_id); cost is the ground-truth
    * sample's, not the corpus's.
    */
  def annRecall(exact: DataFrame, approx: DataFrame): DataFrame = {
    val den = exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
    val hits = exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    den.join(hits, Seq("query_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
  }

  /** Brute-force top-5 cosine neighbors for a 5% query sample — the exact
    * baseline every ANN variant is judged against. */
  private val q29 = GQuery(
    "q29_cosine_topk",
    (s, dir) => cosineTopK(t(s, dir, "embeddings"), k = 5)
      .orderBy(col("query_id"), col("rank")),
    Some(s"""WITH v AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm
                FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
            FROM v WHERE vec_id % 20 = 0),
      pairs AS (SELECT query_id, c.vec_id AS neighbor_id,
          ROUND((${dotSql("qe", "c.embedding")}) / (sqrt(qn) * sqrt(c.nrm)), 6) AS cosine
        FROM v c, q WHERE c.vec_id <> query_id),
      ranked AS (SELECT query_id, neighbor_id, cosine,
          ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, neighbor_id) AS rank
        FROM pairs)
    SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank"""))

  /** Oracle-gated fixture instance of [[annBucketed]] (bits=3, k=3). */
  private val q30 = GQuery(
    "q30_ann_bucketed",
    (s, dir) => annBucketed(t(s, dir, "embeddings"))
      .orderBy(col("query_id"), col("rank")),
    Some(s"""WITH v AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm,
          CAST((CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END) +
               (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END) +
               (CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS BIGINT) AS bucket
        FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn,
                   bucket AS qbucket
            FROM v WHERE vec_id % 20 = 0),
      pairs AS (SELECT query_id, qbucket AS bucket, c.vec_id AS neighbor_id,
          ROUND((${dotSql("qe", "c.embedding")}) / (sqrt(qn) * sqrt(c.nrm)), 6) AS cosine
        FROM v c, q WHERE c.bucket = qbucket AND c.vec_id <> query_id),
      ranked AS (SELECT query_id, bucket, neighbor_id, cosine,
          ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, neighbor_id) AS rank
        FROM pairs)
    SELECT query_id, bucket, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 3
    ORDER BY query_id, rank"""))

  /** Vector aggregate: per-label centroid norm + count — the Aggregator
    * shape (mean vector) reduced to oracle-checkable scalars. */
  private val q29b = GQuery(
    "q29b_centroid_stats",
    (s, dir) => {
      t(s, dir, "embeddings")
        .select(col("label"), vec_norm2(col("embedding")).as("nrm"),
          expr("CAST(element_at(embedding, 1) AS DOUBLE)").as("e1"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("nrm").cast(DecimalType(38, 8))), 4).cast(DoubleType).as("sum_sq_norm"),
          round(sum(col("e1").cast(DecimalType(38, 8))), 4).cast(DoubleType).as("sum_e1"))
        .orderBy(col("label"))
    },
    Some(s"""SELECT label, COUNT(*) AS n,
      CAST(ROUND(SUM(CAST(${normSql("embedding")} AS DECIMAL(38,8))), 4) AS DOUBLE) AS sum_sq_norm,
      CAST(ROUND(SUM(CAST(CAST(embedding[1] AS DOUBLE) AS DECIMAL(38,8))), 4) AS DOUBLE) AS sum_e1
    FROM embeddings
    GROUP BY label
    ORDER BY label"""))

  /** Oracle-gated fixture instance of [[embeddingDedupKept]] (bits=3,
    * threshold=0.2), reduced to a per-bucket survivor summary. */
  private val q42 = {
    val bucketSql =
      """CAST((CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END) +
              (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END) +
              (CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS BIGINT)"""
    GQuery(
      "q42_embedding_dedup",
      (s, dir) => embeddingDedupKept(t(s, dir, "embeddings"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_kept"), min(col("vec_id")).as("first_kept"))
        .orderBy(col("bucket")),
      Some(s"""WITH v AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm,
            $bucketSql AS bucket FROM embeddings),
        dup_of AS (SELECT DISTINCT a.vec_id AS a_id
          FROM v a JOIN v b ON a.bucket = b.bucket AND b.vec_id < a.vec_id
          WHERE ROUND((${dotSql("a.embedding", "b.embedding")}) /
                      (sqrt(a.nrm) * sqrt(b.nrm)), 6) >= 0.2)
      SELECT bucket, COUNT(*) AS n_kept, MIN(vec_id) AS first_kept
      FROM v
      WHERE vec_id NOT IN (SELECT a_id FROM dup_of)
      GROUP BY bucket
      ORDER BY bucket"""))
  }

  /** Oracle-gated fixture instance of [[annIvf]] (cells=4, k=3). */
  private val q43 = {
    val assignSqlDist =
      s"v.nrm + s.nrm - 2 * (${dotSql("v.embedding", "s.embedding")})"
    GQuery(
      "q43_ann_ivf",
      (s, dir) => annIvf(t(s, dir, "embeddings"))
        .orderBy(col("query_id"), col("rank")),
      Some(s"""WITH v AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm
                  FROM embeddings),
        seeds AS (SELECT vec_id AS seed_id, embedding, nrm FROM v WHERE vec_id < 4),
        assigned AS (SELECT vec_id, embedding, nrm, cluster FROM (
          SELECT v.vec_id, v.embedding, v.nrm, s.seed_id AS cluster,
            ROW_NUMBER() OVER (PARTITION BY v.vec_id
              ORDER BY $assignSqlDist, s.seed_id) AS arn
          FROM v, seeds s) WHERE arn = 1),
        q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn,
                     cluster AS qcluster
              FROM assigned WHERE vec_id % 20 = 0),
        pairs AS (SELECT query_id, qcluster AS cluster, c.vec_id AS neighbor_id,
            ROUND((${dotSql("qe", "c.embedding")}) / (sqrt(qn) * sqrt(c.nrm)), 6) AS cosine
          FROM assigned c, q
          WHERE c.cluster = qcluster AND c.vec_id <> query_id),
        ranked AS (SELECT query_id, cluster, neighbor_id, cosine,
            ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
          FROM pairs)
      SELECT query_id, cluster, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
      FROM ranked WHERE rank <= 3
      ORDER BY query_id, rank"""))
  }

  /** Oracle-gated fixture instance of [[annQuantized]] (bits=3, k=3). */
  private val q55 = {
    val bucketSql =
      """CAST((CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END) +
              (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END) +
              (CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS BIGINT)"""
    val intDotSql = (1 to dim).map(k => s"(qqv[$k] * c.qv[$k])").mkString(" + ")
    GQuery(
      "q55_quantized_ann",
      (s, dir) => annQuantized(t(s, dir, "embeddings"))
        .orderBy(col("query_id"), col("rank")),
      Some(s"""WITH m AS (SELECT vec_id, embedding,
            list_aggregate(list_transform(embedding,
              x -> abs(CAST(x AS DOUBLE))), 'max') AS mx
          FROM embeddings),
        v AS (SELECT vec_id,
            CASE WHEN mx = 0
              THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
              ELSE list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) AS BIGINT))
            END AS qv,
            $bucketSql AS bucket
          FROM m),
        q AS (SELECT vec_id AS query_id, qv AS qqv, bucket AS qbucket
              FROM v WHERE vec_id % 20 = 0),
        pairs AS (SELECT query_id, qbucket AS bucket, c.vec_id AS neighbor_id,
            ($intDotSql) AS dot_q
          FROM v c, q WHERE c.bucket = qbucket AND c.vec_id <> query_id),
        ranked AS (SELECT query_id, bucket, neighbor_id, dot_q,
            ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY dot_q DESC, neighbor_id) AS rank
          FROM pairs)
      SELECT query_id, bucket, neighbor_id, dot_q, CAST(rank AS BIGINT) AS rank
      FROM ranked WHERE rank <= 3
      ORDER BY query_id, rank"""))
  }

  /** Recall@3 of the bucketed ANN (q30 fixture parameters) against exact
    * brute-force top-3 — the index-quality metric, oracle-checked
    * end-to-end. Low n_hits rows are the queries whose true neighbors sit
    * across a sign-bucket boundary. */
  private val q58 = {
    val bucketSql =
      """CAST((CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END) +
              (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END) +
              (CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS BIGINT)"""
    GQuery(
      "q58_ann_recall",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        annRecall(
          cosineTopK(emb, k = 3).select(col("query_id"), col("neighbor_id")),
          annBucketed(emb).select(col("query_id"), col("neighbor_id")))
          .orderBy(col("query_id"))
      },
      Some(s"""WITH v AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm,
            $bucketSql AS bucket FROM embeddings),
        q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn,
                     bucket AS qbucket
              FROM v WHERE vec_id % 20 = 0),
        exact AS (SELECT query_id, neighbor_id FROM (
            SELECT query_id, c.vec_id AS neighbor_id,
              ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                ROUND((${dotSql("qe", "c.embedding")}) / (sqrt(qn) * sqrt(c.nrm)), 6) DESC,
                c.vec_id) AS rank
            FROM v c, q WHERE c.vec_id <> query_id)
          WHERE rank <= 3),
        ann AS (SELECT query_id, neighbor_id FROM (
            SELECT query_id, c.vec_id AS neighbor_id,
              ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                ROUND((${dotSql("qe", "c.embedding")}) / (sqrt(qn) * sqrt(c.nrm)), 6) DESC,
                c.vec_id) AS rank
            FROM v c, q WHERE c.bucket = qbucket AND c.vec_id <> query_id)
          WHERE rank <= 3),
        den AS (SELECT query_id, COUNT(*) AS n_exact FROM exact GROUP BY 1),
        hits AS (SELECT e.query_id, COUNT(*) AS n_hits
                 FROM exact e JOIN ann a
                   ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
                 GROUP BY 1)
      SELECT d.query_id, d.n_exact, COALESCE(h.n_hits, 0) AS n_hits
      FROM den d LEFT JOIN hits h ON d.query_id = h.query_id
      ORDER BY d.query_id"""))
  }

  /** One oracle-checked Lloyd iteration (cells=4): seed-assign → exact
    * decimal per-dimension means → reassign to the refined centroids.
    * Output is the post-iteration cluster census plus the first refined
    * centroid component — enough to pin both the assignment and the mean
    * arithmetic cross-engine. */
  private val q59 = {
    val meanCols = (1 to dim).map(k =>
      s"ROUND(CAST(SUM(CAST(CAST(embedding[$k] AS DOUBLE) AS DECIMAL(38,8))) AS DOUBLE) / COUNT(*), 6) AS c$k")
      .mkString(", ")
    val coalCols = (1 to dim).map(k =>
      s"COALESCE(m.c$k, CAST(s.embedding[$k] AS DOUBLE)) AS c$k").mkString(", ")
    val cnormChain = (1 to dim).map(k => s"(c.c$k * c.c$k)").mkString(" + ")
    val dotChain = (1 to dim).map(k =>
      s"(CAST(v.embedding[$k] AS DOUBLE) * c.c$k)").mkString(" + ")
    GQuery(
      "q59_kmeans_iter",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cents = kmeansCentroids(emb, cells = 4, iters = 1)
        assignToCentroids(withNorm(emb), cents)
          .groupBy(col("cluster"))
          .agg(count(lit(1)).as("n_members"), min(col("vec_id")).as("first_member"))
          .join(cents.select(col("cluster"),
            element_at(col("centroid"), 1).as("c1")), Seq("cluster"))
          .orderBy(col("cluster"))
      },
      Some(s"""WITH v AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm
                  FROM embeddings),
        seeds AS (SELECT vec_id AS seed_id, embedding FROM v WHERE vec_id < 4),
        a0 AS (SELECT vec_id, embedding, cluster FROM (
            SELECT v.vec_id, v.embedding, s.seed_id AS cluster,
              ROW_NUMBER() OVER (PARTITION BY v.vec_id
                ORDER BY v.nrm + (${normSql("s.embedding")})
                  - 2 * (${dotSql("v.embedding", "s.embedding")}), s.seed_id) AS arn
            FROM v, seeds s) WHERE arn = 1),
        m AS (SELECT cluster, $meanCols FROM a0 GROUP BY cluster),
        cents AS (SELECT s.seed_id AS cluster, $coalCols
                  FROM seeds s LEFT JOIN m ON s.seed_id = m.cluster),
        a1 AS (SELECT vec_id, cluster FROM (
            SELECT v.vec_id, c.cluster,
              ROW_NUMBER() OVER (PARTITION BY v.vec_id
                ORDER BY v.nrm + ($cnormChain) - 2 * ($dotChain), c.cluster) AS arn
            FROM v, cents c) WHERE arn = 1)
      SELECT a1.cluster, COUNT(*) AS n_members, MIN(a1.vec_id) AS first_member,
             ce.c1 AS c1
      FROM a1 JOIN cents ce ON a1.cluster = ce.cluster
      GROUP BY a1.cluster, ce.c1
      ORDER BY a1.cluster"""))
  }

  /** One row per (vector, subspace) with the subvector cast to double —
    * the shared explode feeding PQ codebook construction, encoding, and
    * query lookup tables. `sub` is 0-based. */
  private def subSliced(df: DataFrame, subs: Int): DataFrame = {
    val subDim = dim / subs
    df.select(col("vec_id"), posexplode(array((0 until subs).map(m =>
      expr(s"transform(slice(embedding, ${m * subDim + 1}, $subDim), x -> CAST(x AS DOUBLE))")): _*))
      .as(Seq("sub", "sv")))
  }

  /** Left-associated squared L2 distance between two subvector columns —
    * the same fold order as the oracle's explicit term chain. */
  private def subDist(a: Column, b: Column, subDim: Int): Column =
    (1 to subDim).map { k =>
      (element_at(a, k) - element_at(b, k)) * (element_at(a, k) - element_at(b, k))
    }.reduce(_ + _)

  /** Product-quantization codebook: the embedding splits into `subs`
    * subspaces of dim/subs components, and the `codes` lowest-vec_id
    * vectors donate their subvectors as codewords (a deterministic
    * stand-in for per-subspace k-means — train real codebooks with
    * [[kmeansCentroids]] run per slice and feed them in the same shape).
    * Returns (sub, code, cw: array<double>) — subs·codes tiny rows,
    * always broadcastable. */
  def pqCodebook(raw: DataFrame, subs: Int = 4, codes: Int = 4): DataFrame = {
    require(subs >= 1 && dim % subs == 0, s"subs must divide dim=$dim, got $subs")
    require(codes >= 1, s"codes must be >= 1, got $codes")
    val seeds = raw.select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(codes)
    subSliced(seeds, subs)
      .select(col("sub"), col("vec_id").as("code"), col("sv").as("cw"))
  }

  /** Per-subspace Lloyd-trained PQ codebook — the production replacement
    * for [[pqCodebook]]'s seed codewords (Jégou et al. train one k-means
    * per subspace; seeds quantize badly on any clustered corpus). All
    * `subs` subspaces train TOGETHER in one job per iteration: the
    * (vec_id, sub, sv) explode joins the broadcast codebook on `sub`,
    * argmins per (vector, subspace), and per-(sub, code, dimension) means
    * aggregate in exact DECIMAL(38,8) (6-dp rounded — no accumulation
    * order dependence). Only the O(subs·codes·dim/subs) codeword table
    * returns to the driver between iterations, never data. Codes that
    * lose every member keep their previous codeword; `iters = 0`
    * degenerates to exactly the seed codebook. Returns (sub, code, cw).
    */
  def pqCodebookTrained(raw: DataFrame, subs: Int = 4, codes: Int = 4,
      iters: Int = 2): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val spark = raw.sparkSession
    import spark.implicits._
    val subDim = dim / subs
    var cents: Seq[(Int, Long, Seq[Double])] = pqCodebook(raw, subs, codes)
      .collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
    for (_ <- 1 to iters) {
      // assignment via the VecPqEncode map expression (zero shuffle, no
      // n·subs·codes explosion — see pqEncode); the means stage then
      // explodes the raw embedding ONCE (n·dim rows — the inherent cost
      // of computing per-dimension means) and derives (sub, code, pos)
      // from the component index, no join back to any sliced table.
      val bySub = (0 until subs).map { m =>
        val rows = cents.filter(_._1 == m).sortBy(_._2)
        (rows.map(_._2).toArray, rows.map(_._3.toArray).toArray)
      }
      val means = raw
        .select(vec_pq_encode(col("embedding"), bySub).as("codes"),
          posexplode(col("embedding")).as(Seq("p", "x")))
        .select((col("p") / subDim).cast("int").as("sub"),
          expr(s"codes[CAST(p / $subDim AS INT)]").as("code"),
          (col("p") % subDim).as("pos"), col("x"))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(round(
          sum(expr("CAST(CAST(x AS DOUBLE) AS DECIMAL(38,8))")).cast(DoubleType)
            / count(lit(1)), 6).as("m"))
        .groupBy(col("sub"), col("code"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("sub"), col("code"),
          transform(col("pm"), x => x.getField("m")).as("cw"))
        .as[(Int, Long, Seq[Double])].collect()
      val refined = means.map(t => (t._1, t._2) -> t._3).toMap
      cents = cents.map { case (s0, c0, old) =>
        (s0, c0, refined.getOrElse((s0, c0), old)) }
    }
    cents.toDF("sub", "code", "cw")
  }

  /** PQ encoding: each vector compresses to one code per subspace — the
    * nearest codeword by squared L2, ties to the lowest code id. At
    * subs=8/codes=256 this is 8 bytes per vector instead of 256 — the
    * compression that lets a 100 TB corpus's index live in memory.
    *
    * A pure MAP via the codegen'd [[graft.functions.VecPqEncode]]
    * expression: the bounded (subs·codes·subDim) codebook is collected
    * once and rides inside the expression, so the corpus is scanned a
    * single time with zero shuffle — the previous explode × broadcast
    * join + argmin-agg shape put n·subs·codes intermediate rows through
    * a per-(vector, subspace) aggregation, the cost the 10× scale probe
    * saw dominate the PQ family. Returns (vec_id, sub, code). */
  def pqEncode(raw: DataFrame, codebook: DataFrame, subs: Int = 4): DataFrame = {
    require(subs >= 1 && dim % subs == 0, s"subs must divide dim=$dim, got $subs")
    val cb = codebook.select(col("sub"), col("code"), col("cw")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
    val bySub = (0 until subs).map { m =>
      val rows = cb.filter(_._1 == m).sortBy(_._2)
      (rows.map(_._2), rows.map(_._3))
    }
    raw.select(col("vec_id"),
      posexplode(vec_pq_encode(col("embedding"), bySub)).as(Seq("sub", "code")))
  }

  /** PQ asymmetric-distance ANN top-k (Jégou et al., TPAMI 2011): each
    * query precomputes a lookup table of partial distances to every
    * codeword (subs·codes doubles — broadcast), and a candidate's
    * approximate distance is the SUM of table entries selected by its
    * codes: the full-corpus scan touches only the 1-byte codes, never
    * the float vectors. Partial distances are 6-dp-rounded and summed in
    * DECIMAL(38,8), so the ADC score is order-independent and
    * bit-identical cross-engine. The score join is (sub, code) against a
    * broadcast LUT with map-side partial aggregation on
    * (query, candidate) — no shuffle of the corpus vectors at all. */
  def annPq(raw: DataFrame, subs: Int = 4, codes: Int = 4, k: Int = 3,
      queryMod: Int = 20, trained: Boolean = false, trainIters: Int = 2): DataFrame = {
    require(queryMod >= 1, s"queryMod must be >= 1, got $queryMod")
    // FIXTURE/EVAL-SAMPLE ENTRY POINT — corpus-sample queries routed
    // through the explicit-query impl (round 6); note the ADC LUT it
    // builds is corpus-sample-sized, which is exactly why production
    // callers must bring a bounded query table instead
    annPqImpl(raw, sampleQueries(raw, queryMod), subs, codes, k,
      trained, trainIters, excludeSelf = true)
  }

  /** Oracle fixture of [[semDedup]] (cells=4, threshold=0.2), reduced to
    * the per-cluster attrition census: total members, survivors, first
    * surviving id. The oracle reproduces the seed assignment (q43's CTE),
    * the pairwise drop rule, and the keep census with identical IEEE
    * arithmetic. */
  private val q76 = GQuery(
    "q76_semdedup",
    (s, dir) => semDedup(t(s, dir, "embeddings"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_total"),
        sum(col("keep").cast(LongType)).as("n_kept"),
        min(when(col("keep"), col("vec_id"))).as("first_kept"))
      .orderBy(col("cluster")),
    Some(s"""WITH v AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm
                FROM embeddings),
      seeds AS (SELECT vec_id AS cluster, embedding AS cemb FROM v WHERE vec_id < 4),
      asg AS (SELECT vec_id, embedding, nrm, cluster, dist_sq FROM (
          SELECT v.vec_id, v.embedding, v.nrm, s.cluster,
            v.nrm + (${normSql("s.cemb")}) - 2 * (${dotSql("v.embedding", "s.cemb")}) AS dist_sq,
            ROW_NUMBER() OVER (PARTITION BY v.vec_id
              ORDER BY v.nrm + (${normSql("s.cemb")})
                - 2 * (${dotSql("v.embedding", "s.cemb")}), s.cluster) AS arn
          FROM v, seeds s) WHERE arn = 1),
      dropped AS (SELECT DISTINCT a.vec_id AS a_id
        FROM asg a JOIN asg b ON a.cluster = b.cluster AND b.vec_id <> a.vec_id
        WHERE ROUND((${dotSql("a.embedding", "b.embedding")}) /
                    (sqrt(a.nrm) * sqrt(b.nrm)), 6) >= 0.2
          AND (b.dist_sq > a.dist_sq
               OR (b.dist_sq = a.dist_sq AND b.vec_id < a.vec_id)))
    SELECT cluster, COUNT(*) AS n_total,
      CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      MIN(CASE WHEN keep THEN vec_id END) AS first_kept
    FROM (SELECT asg.*, vec_id NOT IN (SELECT a_id FROM dropped) AS keep FROM asg)
    GROUP BY cluster
    ORDER BY cluster"""))

  /** IVF-PQ ANN (the FAISS `IVFx,PQy` layout): IVF cells prune WHICH
    * candidates are scored, PQ codes compress HOW they are scored — a
    * query probes its `nprobe` nearest cells and ADC-scores only the
    * codes stored there. At 100 TB this is the only shape that works:
    * cells (~√n) bound the scan to nprobe/cells of the corpus, codes
    * bound the bytes per scanned candidate to `subs` instead of 4·dim,
    * and both joins stay broadcast/equi (cluster prune + (sub, code)
    * LUT), so the corpus never shuffles. `nprobe = cells` degenerates to
    * exactly [[annPq]]'s full compressed scan — the recall/cost dial is
    * the same knob as [[annIvfTrained]]. */
  def annIvfPq(raw: DataFrame, cells: Int = 4, subs: Int = 4, codes: Int = 4,
      k: Int = 3, queryMod: Int = 20, nprobe: Int = 1,
      trained: Boolean = false, trainIters: Int = 2): DataFrame = {
    require(cells >= 1, s"cells must be >= 1, got $cells")
    require(queryMod >= 1, s"queryMod must be >= 1, got $queryMod")
    // FIXTURE/EVAL-SAMPLE ENTRY POINT — seed centroids + corpus-sample
    // queries routed through the explicit-query impl (round 6)
    val seeds = withNorm(raw).orderBy(col("vec_id")).limit(cells)
      .select(col("vec_id").as("cluster"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("centroid"))
    annIvfPqImpl(raw, seeds, sampleQueries(raw, queryMod), subs, codes, k,
      nprobe, trained, trainIters, excludeSelf = true)
  }

  /** Oracle fixture of [[annPq]] (4 subspaces × 16 dims, 4 codewords,
    * k=3). The oracle rebuilds the per-subspace distance table as four
    * 16-term chains, encodes by ranked argmin, and scores through the
    * same DECIMAL-summed lookup join. */
  private val q80 = {
    val subDim = dim / 4
    def chain(m: Int) = (1 to subDim).map { j =>
      val i = m * subDim + j
      s"((CAST(v.embedding[$i] AS DOUBLE) - CAST(s.semb[$i] AS DOUBLE)) * " +
        s"(CAST(v.embedding[$i] AS DOUBLE) - CAST(s.semb[$i] AS DOUBLE)))"
    }.mkString(" + ")
    val distsSql = (0 until 4).map(m =>
      s"SELECT v.vec_id, $m AS sub, s.code, ${chain(m)} AS d FROM v, seeds s")
      .mkString(" UNION ALL ")
    GQuery(
      "q80_pq_ann",
      (s, dir) => annPq(t(s, dir, "embeddings"))
        .orderBy(col("query_id"), col("rank")),
      Some(s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
        seeds AS (SELECT vec_id AS code, embedding AS semb FROM v WHERE vec_id < 4),
        dists AS ($distsSql),
        enc AS (SELECT vec_id, sub, code FROM (
            SELECT vec_id, sub, code,
              ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
            FROM dists) WHERE rn = 1),
        lut AS (SELECT vec_id AS query_id, sub, code,
                       CAST(ROUND(d, 6) AS DECIMAL(38,8)) AS pd
                FROM dists WHERE vec_id % 20 = 0),
        scored AS (SELECT l.query_id, e.vec_id AS neighbor_id, SUM(l.pd) AS adc_d
                   FROM enc e JOIN lut l ON e.sub = l.sub AND e.code = l.code
                   WHERE e.vec_id <> l.query_id
                   GROUP BY 1, 2),
        ranked AS (SELECT query_id, neighbor_id, adc_d,
            ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY adc_d, neighbor_id) AS rank
          FROM scored)
      SELECT query_id, neighbor_id, CAST(adc_d AS DOUBLE) AS adc,
             CAST(rank AS BIGINT) AS rank
      FROM ranked WHERE rank <= 3
      ORDER BY query_id, rank"""))
  }

  /** Oracle fixture of [[annIvfPq]] (4 cells, 4×16 PQ, nprobe=1, k=3):
    * q76's assignment CTE prunes the candidates, q80's dists/enc/lut
    * CTEs score them. */
  private val q82 = {
    val subDim = dim / 4
    def chain(m: Int) = (1 to subDim).map { j =>
      val i = m * subDim + j
      s"((CAST(v.embedding[$i] AS DOUBLE) - CAST(s.semb[$i] AS DOUBLE)) * " +
        s"(CAST(v.embedding[$i] AS DOUBLE) - CAST(s.semb[$i] AS DOUBLE)))"
    }.mkString(" + ")
    val distsSql = (0 until 4).map(m =>
      s"SELECT v.vec_id, $m AS sub, s.code, ${chain(m)} AS d FROM v, pq s")
      .mkString(" UNION ALL ")
    GQuery(
      "q82_ivf_pq",
      (s, dir) => annIvfPq(t(s, dir, "embeddings"))
        .orderBy(col("query_id"), col("rank")),
      Some(s"""WITH v AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm
                  FROM embeddings),
        seeds AS (SELECT vec_id AS cluster, embedding AS cemb FROM v WHERE vec_id < 4),
        asg AS (SELECT vec_id, cluster FROM (
            SELECT v.vec_id, s.cluster,
              ROW_NUMBER() OVER (PARTITION BY v.vec_id
                ORDER BY v.nrm + (${normSql("s.cemb")})
                  - 2 * (${dotSql("v.embedding", "s.cemb")}), s.cluster) AS arn
            FROM v, seeds s) WHERE arn = 1),
        pq AS (SELECT vec_id AS code, embedding AS semb FROM v WHERE vec_id < 4),
        dists AS ($distsSql),
        enc AS (SELECT vec_id, sub, code FROM (
            SELECT vec_id, sub, code,
              ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
            FROM dists) WHERE rn = 1),
        lut AS (SELECT vec_id AS query_id, sub, code,
                       CAST(ROUND(d, 6) AS DECIMAL(38,8)) AS pd
                FROM dists WHERE vec_id % 20 = 0),
        qc AS (SELECT vec_id AS query_id, cluster AS qcluster
               FROM asg WHERE vec_id % 20 = 0),
        scored AS (SELECT l.query_id, e.vec_id AS neighbor_id, SUM(l.pd) AS adc_d
                   FROM enc e
                   JOIN asg a ON e.vec_id = a.vec_id
                   JOIN qc ON a.cluster = qc.qcluster
                   JOIN lut l ON l.query_id = qc.query_id
                     AND e.sub = l.sub AND e.code = l.code
                   WHERE e.vec_id <> qc.query_id
                   GROUP BY 1, 2),
        ranked AS (SELECT query_id, neighbor_id, adc_d,
            ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY adc_d, neighbor_id) AS rank
          FROM scored)
      SELECT query_id, neighbor_id, CAST(adc_d AS DOUBLE) AS adc,
             CAST(rank AS BIGINT) AS rank
      FROM ranked WHERE rank <= 3
      ORDER BY query_id, rank"""))
  }

  /** kNN classifier evaluation: predict each sample vector's label by
    * majority vote among its top-k cosine neighbors (self excluded; vote
    * ties break on the smaller label, cosine ties on neighbor id — both
    * replay-stable), then score per class: support, predictions, hits,
    * precision / recall / F1. This is the eval step a curation pipeline
    * runs on its quality/topic classifier before trusting it to filter a
    * corpus. All metrics derive from exact integer counts; a class never
    * predicted reports NULL precision/F1 rather than a fake 0.
    *
    * Scale: neighbor generation is [[cosineTopK]] (bounded query sample
    * over a broadcastable query set); everything after is counts on the
    * sample — eval cost is sample-sized, never corpus-sized. */
  def knnEval(raw: DataFrame, k: Int = 5, queryMod: Int = 20): DataFrame = {
    val labels = raw.select(col("vec_id"), col("label"))
    val votes = cosineTopK(raw, k, queryMod)
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("nlabel")), "neighbor_id")
      .groupBy(col("query_id"), col("nlabel"))
      .agg(count(lit(1)).as("votes"))
    val wv = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("nlabel"))
    val pred = votes
      .withColumn("rn", row_number().over(wv)).filter(col("rn") === 1)
      .select(col("query_id"), col("nlabel").as("pred_label"))
    val truth = labels.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("label").as("true_label"))
    val joined = truth.join(pred, "query_id")
    val byTrue = joined.groupBy(col("true_label").as("label"))
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("pred_label") === col("true_label"), 1L).otherwise(0L))
          .as("n_correct"))
    val byPred = joined.groupBy(col("pred_label").as("label"))
      .agg(count(lit(1)).as("n_pred"))
    byTrue.join(byPred, Seq("label"), "left")
      .na.fill(0L, Seq("n_pred"))
      .withColumn("precision",
        when(col("n_pred") === 0, lit(null))
          .otherwise(round(col("n_correct") / col("n_pred"), 6)))
      .withColumn("recall", round(col("n_correct") / col("n_true"), 6))
      .withColumn("f1",
        when(col("n_pred") === 0 || col("n_correct") === 0, lit(null))
          .otherwise(round(lit(2d) * col("n_correct") / col("n_pred")
              * (col("n_correct") / col("n_true"))
              / (col("n_correct") / col("n_pred") + col("n_correct") / col("n_true")),
            6)))
      .select(col("label"), col("n_true"), col("n_pred"), col("n_correct"),
        col("precision"), col("recall"), col("f1"))
  }

  /** Oracle fixture of [[knnEval]] (k=5 over the q29 query sample). */
  private val q99 = GQuery(
    "q99_knn_eval",
    (s, dir) => knnEval(t(s, dir, "embeddings"))
      .orderBy(col("label")),
    Some(s"""WITH v AS (SELECT vec_id, label, embedding, ${normSql("embedding")} AS nrm
                FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
            FROM v WHERE vec_id % 20 = 0),
      pairs AS (SELECT query_id, c.vec_id AS neighbor_id, c.label AS nlabel,
          ROUND((${dotSql("qe", "c.embedding")}) / (sqrt(qn) * sqrt(c.nrm)), 6) AS cosine
        FROM v c, q WHERE c.vec_id <> query_id),
      ranked AS (SELECT query_id, nlabel,
          ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, neighbor_id) AS rank
        FROM pairs),
      votes AS (SELECT query_id, nlabel, COUNT(*) AS votes
        FROM ranked WHERE rank <= 5 GROUP BY query_id, nlabel),
      pred AS (SELECT query_id, nlabel AS pred_label FROM (
          SELECT query_id, nlabel,
            ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY votes DESC, nlabel) AS rn
          FROM votes) WHERE rn = 1),
      truth AS (SELECT vec_id AS query_id, label AS true_label
                FROM v WHERE vec_id % 20 = 0),
      j AS (SELECT t.query_id, t.true_label, p.pred_label
            FROM truth t JOIN pred p ON t.query_id = p.query_id),
      by_true AS (SELECT true_label AS label, COUNT(*) AS n_true,
          CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        FROM j GROUP BY 1),
      by_pred AS (SELECT pred_label AS label, COUNT(*) AS n_pred
        FROM j GROUP BY 1)
      SELECT t.label, t.n_true,
        COALESCE(p.n_pred, 0) AS n_pred, t.n_correct,
        CASE WHEN COALESCE(p.n_pred, 0) = 0 THEN NULL
             ELSE round(CAST(t.n_correct AS DOUBLE) / p.n_pred, 6) END AS precision,
        round(CAST(t.n_correct AS DOUBLE) / t.n_true, 6) AS recall,
        CASE WHEN COALESCE(p.n_pred, 0) = 0 OR t.n_correct = 0 THEN NULL
             ELSE round(2.0 * (CAST(t.n_correct AS DOUBLE) / p.n_pred)
                  * (CAST(t.n_correct AS DOUBLE) / t.n_true)
                  / (CAST(t.n_correct AS DOUBLE) / p.n_pred
                     + CAST(t.n_correct AS DOUBLE) / t.n_true), 6) END AS f1
      FROM by_true t LEFT JOIN by_pred p ON t.label = p.label
      ORDER BY t.label"""))

  /** Explicit-query-table IVF search (the bounded-query API): queries are
    * a SEPARATE (query_id, embedding) table — here a shifted-id sample so
    * the oracle can prove no self-exclusion leaks in — searched against
    * iters=0 centroids (the q43 seed assignment) with nprobe=2. The
    * oracle mirrors the assignment, the per-query probe ranking, and the
    * probed-cells-only candidate join. */
  private val q106 = {
    val assignSqlDist =
      s"v.nrm + s.nrm - 2 * (${dotSql("v.embedding", "s.embedding")})"
    val probeSqlDist =
      s"q.qn + s.nrm - 2 * (${dotSql("q.qe", "s.embedding")})"
    GQuery(
      "q106_ann_query_table",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cents = kmeansCentroids(emb, cells = 4, iters = 0)
        val queryTable = emb.filter(col("vec_id") % 40 === 17)
          .select((col("vec_id") + 100000).as("query_id"), col("embedding"))
        annIvfTrained(emb, cents, queryTable, k = 3, nprobe = 2)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH v AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm
                  FROM embeddings),
        seeds AS (SELECT vec_id AS cluster, embedding, nrm FROM v WHERE vec_id < 4),
        assigned AS (SELECT vec_id, embedding, nrm, cluster FROM (
            SELECT v.vec_id, v.embedding, v.nrm, s.cluster,
              ROW_NUMBER() OVER (PARTITION BY v.vec_id
                ORDER BY $assignSqlDist, s.cluster) AS arn
            FROM v, seeds s) WHERE arn = 1),
        q AS (SELECT vec_id + 100000 AS query_id, embedding AS qe, nrm AS qn
              FROM v WHERE vec_id % 40 = 17),
        probes AS (SELECT query_id, qe, qn, cluster AS qcluster FROM (
            SELECT q.query_id, q.qe, q.qn, s.cluster,
              ROW_NUMBER() OVER (PARTITION BY q.query_id
                ORDER BY $probeSqlDist, s.cluster) AS prn
            FROM q, seeds s) WHERE prn <= 2),
        pairs AS (SELECT p.query_id, c.vec_id AS neighbor_id,
            ROUND((${dotSql("p.qe", "c.embedding")}) / (sqrt(p.qn) * sqrt(c.nrm)), 6) AS cosine
          FROM assigned c JOIN probes p ON c.cluster = p.qcluster),
        ranked AS (SELECT query_id, neighbor_id, cosine,
            ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
          FROM pairs)
      SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
      FROM ranked WHERE rank <= 3
      ORDER BY query_id, rank"""))
  }

  /** Explicit-query multi-probe LSH, oracle-checked: a (query_id,
    * embedding) request batch probes its home sign-bucket plus every
    * bucket at Hamming distance 1 — the standard recall lift over
    * single-bucket LSH (q30's cross-boundary misses) at probe-set
    * cost, with no query-side broadcast hint anywhere in the plan. */
  private val q108 = {
    val bucketSql =
      """CAST((CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END) +
              (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END) +
              (CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS BIGINT)"""
    GQuery(
      "q108_ann_multiprobe_query",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val queryTable = emb.filter(col("vec_id") % 40 === 5)
          .select((col("vec_id") + 200000).as("query_id"), col("embedding"))
        annBucketedMultiProbe(emb, queryTable, bits = 3, k = 3, probeHamming = 1)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH v AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm,
            $bucketSql AS bucket
          FROM embeddings),
        q AS (SELECT vec_id + 200000 AS query_id, embedding AS qe, nrm AS qn,
                     bucket AS home
              FROM v WHERE vec_id % 40 = 5),
        probes AS (SELECT query_id, qe, qn, xor(home, m) AS qbucket
                   FROM q, (VALUES (0), (1), (2), (4)) AS masks(m)),
        pairs AS (SELECT p.query_id, c.vec_id AS neighbor_id,
            ROUND((${dotSql("p.qe", "c.embedding")}) / (sqrt(p.qn) * sqrt(c.nrm)), 6) AS cosine
          FROM v c JOIN probes p ON c.bucket = p.qbucket),
        ranked AS (SELECT query_id, neighbor_id, cosine,
            ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
          FROM pairs)
      SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
      FROM ranked WHERE rank <= 3
      ORDER BY query_id, rank"""))
  }

  /** Shared oracle CTE prefix: one Lloyd iteration from the `vec_id < 4`
    * seeds (byte-identical to q59's construction) ending in `a1`
    * (vec_id, cluster, dist) — each vector's final cell and its exact
    * squared distance, the same `(nrm + cnorm) - 2·dot` left-associated
    * chain [[graft.functions.VectorFunctions.vec_nearest_cell]] folds. */
  private def kmeans1AssignSql: String = {
    val meanCols = (1 to dim).map(k =>
      s"ROUND(CAST(SUM(CAST(CAST(embedding[$k] AS DOUBLE) AS DECIMAL(38,8))) AS DOUBLE) / COUNT(*), 6) AS c$k")
      .mkString(", ")
    val coalCols = (1 to dim).map(k =>
      s"COALESCE(m.c$k, CAST(s.embedding[$k] AS DOUBLE)) AS c$k").mkString(", ")
    val cnormChain = (1 to dim).map(k => s"(c.c$k * c.c$k)").mkString(" + ")
    val dotChain = (1 to dim).map(k =>
      s"(CAST(v.embedding[$k] AS DOUBLE) * c.c$k)").mkString(" + ")
    s"""v AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm
            FROM embeddings),
      seeds AS (SELECT vec_id AS seed_id, embedding FROM v WHERE vec_id < 4),
      a0 AS (SELECT vec_id, embedding, cluster FROM (
          SELECT v.vec_id, v.embedding, s.seed_id AS cluster,
            ROW_NUMBER() OVER (PARTITION BY v.vec_id
              ORDER BY v.nrm + (${normSql("s.embedding")})
                - 2 * (${dotSql("v.embedding", "s.embedding")}), s.seed_id) AS arn
          FROM v, seeds s) WHERE arn = 1),
      m AS (SELECT cluster, $meanCols FROM a0 GROUP BY cluster),
      cents AS (SELECT s.seed_id AS cluster, $coalCols
                FROM seeds s LEFT JOIN m ON s.seed_id = m.cluster),
      a1 AS (SELECT vec_id, cluster, dist FROM (
          SELECT v.vec_id, c.cluster,
            v.nrm + ($cnormChain) - 2 * ($dotChain) AS dist,
            ROW_NUMBER() OVER (PARTITION BY v.vec_id
              ORDER BY v.nrm + ($cnormChain) - 2 * ($dotChain), c.cluster) AS arn
          FROM v, cents c) WHERE arn = 1)"""
  }

  /** Per-cluster prototypes — the `m` members nearest their (trained)
    * centroid, the coreset/representative-selection primitive: label a
    * handful of prototypes instead of the corpus, seed a diverse subset,
    * or eyeball what each cluster "means". One broadcast-assign scan
    * (centroids ride inside the codegen'd expression) and one window
    * rank per cluster — at 100 TB the rank shuffle carries (cluster,
    * dist) pairs, and a top-m-per-cluster is exactly the bounded-state
    * shape [[graft.functions.Aggregators]]' TopK also offers if the
    * window sort ever dominates. */
  def clusterPrototypes(raw: DataFrame, centroids: DataFrame,
      m: Int = 5): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("dist_sq"), col("vec_id"))
    assignToCentroids(withNorm(raw), centroids)
      .withColumn("proto_rank", row_number().over(w).cast(LongType))
      .filter(col("proto_rank") <= m)
      .select(col("cluster"), col("proto_rank"), col("vec_id"))
  }

  /** Oracle fixture of [[clusterPrototypes]]: one trained Lloyd
    * iteration (the q59 centroids), 5 prototypes per cell. */
  private val q113 = GQuery(
    "q113_cluster_prototypes",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      clusterPrototypes(emb, kmeansCentroids(emb, cells = 4, iters = 1), m = 5)
        .orderBy(col("cluster"), col("proto_rank"))
    },
    Some(s"""WITH ${kmeans1AssignSql},
      pr AS (SELECT cluster, vec_id,
          ROW_NUMBER() OVER (PARTITION BY cluster
                             ORDER BY dist, vec_id) AS proto_rank
        FROM a1)
      SELECT cluster, CAST(proto_rank AS BIGINT) AS proto_rank, vec_id
      FROM pr WHERE proto_rank <= 5
      ORDER BY cluster, proto_rank"""))

  /** Embedding-space outlier pruning: each vector's squared distance to
    * its own centroid, normalized by the cluster's mean distance (an
    * exact DECIMAL(38,8) sum over doubles — no float-accumulation order
    * dependence), flags vectors far from every mode of the corpus — OOD
    * junk, mislabeled scrapes, encoder failures. The usual curation
    * dial: drop `is_outlier` rows, or route them to review.
    *
    * Same scale shape as [[clusterPrototypes]]: broadcast-assign scan +
    * one per-cluster window pass (sum/count over the full partition —
    * swap for a two-pass groupBy-join, [[AnalyticsQ.zscoreOutliersBroadcast]]
    * style, when clusters are huge and few). */
  def embeddingOutliers(raw: DataFrame, centroids: DataFrame,
      threshold: Double = 2.0): DataFrame = {
    require(threshold > 0, s"threshold must be > 0, got $threshold")
    val wC = Window.partitionBy(col("cluster"))
    assignToCentroids(withNorm(raw), centroids)
      .withColumn("mean_d",
        sum(expr("CAST(dist_sq AS DECIMAL(38,8))")).over(wC).cast(DoubleType)
          / count(lit(1)).over(wC))
      .withColumn("rel", when(col("mean_d") === 0d, lit(0d))
        .otherwise(col("dist_sq") / col("mean_d")))
      .select(col("vec_id"), col("cluster"),
        round(col("rel"), 6).as("rel_dist"),
        (col("rel") > threshold).as("is_outlier"))
  }

  /** Oracle fixture of [[embeddingOutliers]] (q59 centroids, 2× the
    * cluster-mean distance flags). */
  private val q114 = GQuery(
    "q114_embedding_outliers",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      embeddingOutliers(emb, kmeansCentroids(emb, cells = 4, iters = 1))
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH ${kmeans1AssignSql},
      o AS (SELECT vec_id, cluster, dist,
          CAST(SUM(CAST(dist AS DECIMAL(38,8))) OVER (PARTITION BY cluster)
            AS DOUBLE) / COUNT(*) OVER (PARTITION BY cluster) AS mean_d
        FROM a1)
      SELECT vec_id, cluster,
        ROUND(CASE WHEN mean_d = 0 THEN 0 ELSE dist / mean_d END, 6)
          AS rel_dist,
        CASE WHEN mean_d = 0 THEN FALSE
             ELSE dist / mean_d > 2.0 END AS is_outlier
      FROM o ORDER BY vec_id"""))

  /** Per-label mean embeddings in [[kmeansCentroids]]' output shape
    * (cluster = label, centroid) — exact DECIMAL(38,8) per-dimension
    * sums, 6-dp rounding, so the result is order-independent and
    * oracle-replayable. O(|labels| · dim) rows: always broadcastable. */
  def classMeans(raw: DataFrame): DataFrame =
    raw.select(col("label").cast(LongType).as("cluster"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("cluster"), col("pos"))
      .agg(round(
        sum(expr("CAST(CAST(x AS DOUBLE) AS DECIMAL(38,8))")).cast(DoubleType)
          / count(lit(1)), 6).as("m"))
      .groupBy(col("cluster"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cluster"),
        transform(col("pm"), x => x.getField("m")).as("centroid"))

  /** Nearest-class-mean (Rocchio) classifier evaluation: assign every
    * vector to the nearest per-label mean embedding and emit the
    * confusion matrix — the cheap linear-probe companion to [[knnEval]]
    * (one broadcast-assign scan vs kNN's per-query candidate join; when
    * the two disagree sharply the embedding space is lumpy, when both
    * are near-chance the labels aren't linearly separable). Train/score
    * asymmetry at 100 TB: means aggregate ONCE over the labeled set
    * (one shuffle of |labels|·dim partials), scoring is a stateless
    * map-side pass — so score a 100 TB corpus with means trained on any
    * labeled subset by passing that subset's [[classMeans]]. */
  def nearestClassMeanEval(raw: DataFrame): DataFrame =
    assignToCentroids(withNorm(raw), classMeans(raw))
      .select(col("vec_id"), col("cluster").as("pred_label"))
      .join(raw.select(col("vec_id"), col("label").cast(LongType).as("label")),
        Seq("vec_id"))
      .groupBy(col("label"), col("pred_label"))
      .agg(count(lit(1)).as("n_vecs"))

  /** Oracle fixture of [[nearestClassMeanEval]]. */
  private val q115 = {
    val meanCols = (1 to dim).map(k =>
      s"ROUND(CAST(SUM(CAST(CAST(embedding[$k] AS DOUBLE) AS DECIMAL(38,8))) AS DOUBLE) / COUNT(*), 6) AS c$k")
      .mkString(", ")
    val cnormChain = (1 to dim).map(k => s"(c.c$k * c.c$k)").mkString(" + ")
    val dotChain = (1 to dim).map(k =>
      s"(CAST(v.embedding[$k] AS DOUBLE) * c.c$k)").mkString(" + ")
    GQuery(
      "q115_class_mean_eval",
      (s, dir) => nearestClassMeanEval(t(s, dir, "embeddings"))
        .orderBy(col("label"), col("pred_label")),
      Some(s"""WITH v AS (SELECT vec_id, embedding, label,
              ${normSql("embedding")} AS nrm
            FROM embeddings),
        cents AS (SELECT CAST(label AS BIGINT) AS cluster, $meanCols
                  FROM v GROUP BY label),
        pred AS (SELECT vec_id, pred_label FROM (
            SELECT v.vec_id, c.cluster AS pred_label,
              ROW_NUMBER() OVER (PARTITION BY v.vec_id
                ORDER BY v.nrm + ($cnormChain) - 2 * ($dotChain), c.cluster) AS arn
            FROM v, cents c) WHERE arn = 1)
      SELECT CAST(v.label AS BIGINT) AS label, pred_label, COUNT(*) AS n_vecs
      FROM pred JOIN v USING (vec_id)
      GROUP BY v.label, pred_label
      ORDER BY label, pred_label"""))
  }

  /** Contrastive pair mining for metric learning: per query vector, the
    * top-k nearest SAME-label neighbors ("pos" — the positives a
    * bi-encoder trains toward) and the top-k nearest DIFFERENT-label
    * neighbors ("neg" — the hard negatives that actually move the loss,
    * far more informative than random negatives). Exact cosine over the
    * `vec_id % queryMod` sample, [[cosineTopK]]-style: this is the
    * mining BASELINE; at corpus scale compose the same label-split rank
    * with any ANN candidate generator (IVF cells / LSH buckets) so
    * candidates, not the corpus, get ranked. FIXTURE/EVAL-SAMPLE ENTRY
    * POINT — the query sample is corpus-coupled, so the pair join
    * carries no hint (round 6): AQE broadcasts it only while small. */
  def contrastivePairs(raw: DataFrame, k: Int = 3,
      queryMod: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(queryMod >= 1, s"queryMod must be >= 1, got $queryMod")
    val v = raw.select(col("vec_id"), col("embedding"),
        col("label").cast(LongType).as("label"))
      .withColumn("nrm", vec_norm2(col("embedding")))
    val q = v.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("label").as("qlabel"))
    val w = Window.partitionBy(col("query_id"), col("kind"))
      .orderBy(col("cosine").desc, col("vec_id"))
    v.join(q, col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("qe"), col("qn"),
        col("embedding"), col("nrm")))
      .withColumn("kind",
        when(col("label") === col("qlabel"), lit("pos")).otherwise(lit("neg")))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("kind"), col("vec_id").as("candidate_id"),
        col("cosine"), col("rank"))
  }

  /** Oracle fixture of [[contrastivePairs]]. */
  private val q121 = GQuery(
    "q121_contrastive_pairs",
    (s, dir) => contrastivePairs(t(s, dir, "embeddings"))
      .orderBy(col("query_id"), col("kind"), col("rank")),
    Some(s"""WITH v AS (SELECT vec_id, embedding, CAST(label AS BIGINT) AS label,
                ${normSql("embedding")} AS nrm
              FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn,
                   label AS qlabel
            FROM v WHERE vec_id % 20 = 0),
      pairs AS (SELECT query_id,
          CASE WHEN c.label = qlabel THEN 'pos' ELSE 'neg' END AS kind,
          c.vec_id AS candidate_id,
          ROUND((${dotSql("qe", "c.embedding")}) / (sqrt(qn) * sqrt(c.nrm)), 6) AS cosine
        FROM v c, q WHERE c.vec_id <> query_id),
      ranked AS (SELECT query_id, kind, candidate_id, cosine,
          ROW_NUMBER() OVER (PARTITION BY query_id, kind
                             ORDER BY cosine DESC, candidate_id) AS rank
        FROM pairs)
    SELECT query_id, kind, candidate_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 3
    ORDER BY query_id, kind, rank"""))

  /** Deterministic ±1 sign for projection cell (i, j): parity of the
    * first byte of md5("i:j"), computed at PLAN BUILD time — the sign
    * matrix is a set of literal constants baked into the expression, so
    * Spark and the oracle run byte-identical arithmetic with no SQL-side
    * hashing at all. */
  private def projSign(i: Int, j: Int): Boolean = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$i:$j".getBytes("UTF-8"))
    (d(0) & 1) == 0
  }

  /** The j-th projection as a left-associated signed term chain over
    * `emb[i]` (1-based accessor supplied per engine). */
  private def projChain(j: Int, term: Int => String): String =
    (1 to dim).map { i =>
      val t = s"CAST(${term(i)} AS DOUBLE)"
      if (projSign(i, j)) s"($t)" else s"(-$t)"
    }.mkString(" + ")

  /** Dense ±1 random projection (Achlioptas/Johnson–Lindenstrauss
    * family) to `outDim` components — the dimensionality-reduction stage
    * ahead of ANN/LSH when 64 floats per vector is still too wide for a
    * candidate scan: relative distances are approximately preserved, at
    * outDim/dim the bytes. The "random" matrix is a deterministic
    * md5-parity sign grid baked into the plan as constants, so the
    * projection is reproducible across runs, engines, and languages with
    * no stored matrix artifact. Scale shape: pure map-side expressions
    * inside whole-stage codegen — nothing shuffles, nothing broadcasts.
    * (Unscaled: ANN ranks by relative distance, so the 1/√outDim JL
    * factor is irrelevant and omitted.) */
  def randomProject(raw: DataFrame, outDim: Int = 8): DataFrame = {
    require(outDim >= 1 && outDim <= dim,
      s"outDim must be in [1, $dim], got $outDim")
    val cols = (1 to outDim).map(j =>
      expr(projChain(j, i => s"element_at(embedding, $i)")).as(s"p$j"))
    raw.select(col("vec_id") +: cols: _*)
  }

  /** Oracle fixture of [[randomProject]] (8 components, 6-dp rounded). */
  private val q122 = {
    val outCols = (1 to 8).map(j =>
      s"ROUND(${projChain(j, i => s"embedding[$i]")}, 6) AS p$j").mkString(", ")
    GQuery(
      "q122_random_projection",
      (s, dir) => randomProject(t(s, dir, "embeddings"), outDim = 8)
        .select(col("vec_id") +: (1 to 8).map(j =>
          round(col(s"p$j"), 6).as(s"p$j")): _*)
        .orderBy(col("vec_id")),
      Some(s"""SELECT vec_id, $outCols
        FROM embeddings
        ORDER BY vec_id"""))
  }

  /** Cluster-purity evaluation — the "did k-means find real structure"
    * gate run against a labeled sample: per cluster, the member count,
    * the majority label, and purity (majority fraction, exact ppm).
    * Low purity on a labeled eval slice means the cells are mixing
    * classes and IVF routing ([[annIvfTrained]]) will scatter true
    * neighbors across cells — run this BEFORE trusting a recall number
    * from [[annRecall]], because a bad clustering caps recall no matter
    * the nprobe dial.
    *
    * Scale shape: one broadcast-assign scan (centroids ride inside the
    * codegen'd [[graft.functions.VectorFunctions.vec_nearest_cell]]
    * expression), one (cluster, label) count aggregation — cells·labels
    * rows, tiny — then windows over that aggregate. The labeled slice is
    * an eval sample, not the corpus, so every post-scan stage is
    * bounded by |cells|·|labels| regardless of corpus size. Ties on the
    * majority count break to the lowest label (pinned by the oracle). */
  def clusterPurity(raw: DataFrame, centroids: DataFrame): DataFrame = {
    val assigned = assignToCentroids(withNorm(raw), centroids)
      .select(col("vec_id"), col("cluster"))
      .join(raw.select(col("vec_id"), col("label")), Seq("vec_id"))
    val counts = assigned.groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("n_top"))
    val wc = Window.partitionBy(col("cluster"))
    counts
      .withColumn("n", sum(col("n_top")).over(wc))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cluster"))
          .orderBy(col("n_top").desc, col("label"))))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("n"), col("label").as("top_label"),
        col("n_top"), expr("(1000000 * n_top) DIV n").as("purity_ppm"))
  }

  /** Oracle fixture of [[clusterPurity]]: the q59/q113 trained centroids
    * (one Lloyd iteration from the `vec_id < 4` seeds). */
  private val q125 = GQuery(
    "q125_cluster_purity",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      clusterPurity(emb, kmeansCentroids(emb, cells = 4, iters = 1))
        .orderBy(col("cluster"))
    },
    Some(s"""WITH ${kmeans1AssignSql},
      j AS (SELECT a1.cluster, e.label
        FROM a1 JOIN embeddings e USING (vec_id)),
      c AS (SELECT cluster, label, COUNT(*) AS n_top
        FROM j GROUP BY cluster, label),
      r AS (SELECT cluster, label, n_top,
          CAST(SUM(n_top) OVER (PARTITION BY cluster) AS BIGINT) AS n,
          ROW_NUMBER() OVER (PARTITION BY cluster
                             ORDER BY n_top DESC, label) AS rn
        FROM c)
      SELECT cluster, n, label AS top_label, n_top,
        (1000000 * n_top) // n AS purity_ppm
      FROM r WHERE rn = 1
      ORDER BY cluster"""))

  /** Embedding-space drift — the vector analog of q126's token drift:
    * split the corpus into two deterministic halves (an md5 ppm
    * coordinate of a 'drift:'-prefixed id, independent of every other
    * split/sample coordinate) and emit, per label, the squared L2
    * distance between the halves' mean embeddings. On a stable corpus
    * and encoder the halves are exchangeable, so drift2 ≈ 0 up to
    * sampling noise; a fat value flags encoder-version skew, a
    * distribution break between crawls, or label contamination —
    * checked BEFORE trusting any centroid/IVF structure trained on the
    * mix. In real use pass crawl A as one half via its own column; the
    * hash halves make the null-hypothesis calibration run.
    *
    * Exactness: per-half means are [[classMeans]]' exact DECIMAL(38,8)
    * sums rounded to 6 dp, the squared diff accumulates in
    * DECIMAL(26,16) (exact — no float-order drift), and only the final
    * value converts to double. Labels missing a half are absent (drift
    * is undefined without both halves).
    *
    * Scale shape: one posexplode + one hash aggregation to
    * |labels|·|halves|·dim mean rows, then every later stage operates
    * on that TINY table — at 100 TB the corpus is touched exactly
    * once. */
  def embeddingDrift(raw: DataFrame): DataFrame = {
    val halfCol = when(expr(TextQ.ppmBucketExpr(
        "instr", "concat('drift:', vec_id)", "STRING", offset = 1))
        .cast(LongType) < 500000L, lit("a")).otherwise(lit("b"))
    val h = raw.select(col("label").cast(LongType).as("label"),
      halfCol.as("half"), col("embedding"))
    val means = h
      .select(col("label"), col("half"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("half"), col("pos"))
      .agg(round(
        sum(expr("CAST(CAST(x AS DOUBLE) AS DECIMAL(38,8))")).cast(DoubleType)
          / count(lit(1)), 6).as("m"))
    val counts = h.groupBy(col("label"))
      .agg(sum(when(col("half") === "a", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("half") === "b", 1L).otherwise(0L)).as("n_b"))
    means.filter(col("half") === "a")
      .select(col("label"), col("pos"), col("m").as("ma"))
      .join(means.filter(col("half") === "b")
        .select(col("label"), col("pos"), col("m").as("mb")),
        Seq("label", "pos"))
      .withColumn("d", expr(
        "CAST(ma AS DECIMAL(12,8)) - CAST(mb AS DECIMAL(12,8))"))
      .groupBy(col("label"))
      .agg(sum(expr("d * d")).cast(DoubleType).as("drift2"))
      .join(counts, Seq("label"))
      .select(col("label"), col("n_a"), col("n_b"), col("drift2"))
  }

  /** Oracle fixture of [[embeddingDrift]]. */
  private val q132 = {
    val hkSql = TextQ.ppmBucketExpr(
      "strpos", "concat('drift:', vec_id)", "VARCHAR", offset = 1)
    val meanCols = (1 to dim).map(k =>
      s"ROUND(CAST(SUM(CAST(CAST(embedding[$k] AS DOUBLE) AS DECIMAL(38,8))) AS DOUBLE) / COUNT(*), 6) AS c$k")
      .mkString(", ")
    val diffChain = (1 to dim).map(k =>
      s"((CAST(a.c$k AS DECIMAL(12,8)) - CAST(b.c$k AS DECIMAL(12,8))) * (CAST(a.c$k AS DECIMAL(12,8)) - CAST(b.c$k AS DECIMAL(12,8))))")
      .mkString(" + ")
    GQuery(
      "q132_embedding_drift",
      (s, dir) => embeddingDrift(t(s, dir, "embeddings"))
        .orderBy(col("label")),
      Some(s"""WITH h AS (SELECT CAST(label AS BIGINT) AS label,
          CASE WHEN CAST($hkSql AS BIGINT) < 500000 THEN 'a' ELSE 'b' END
            AS half, embedding
        FROM embeddings),
      m AS (SELECT label, half, $meanCols FROM h GROUP BY label, half),
      cnt AS (SELECT label,
          CAST(SUM(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
          CAST(SUM(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM h GROUP BY label)
      SELECT a.label, n_a, n_b, CAST($diffChain AS DOUBLE) AS drift2
      FROM m a JOIN m b ON a.label = b.label
        AND a.half = 'a' AND b.half = 'b'
      JOIN cnt ON cnt.label = a.label
      ORDER BY a.label"""))
  }

  /** Hybrid retrieval with reciprocal-rank fusion — the standard
    * lexical+semantic search combiner: BM25 ranks ([[graft.queries.TextQ
    * .bm25TopK]]) and exact cosine ranks ([[cosineTopK]]'s explicit-query
    * overload) fuse as `Σ 1e6 DIV (kRrf + rank)`, so a document found by
    * BOTH modalities beats one found by either alone, without comparing
    * their incomparable raw scores. All-integer fusion (the 1e6-scaled
    * reciprocal is exact and monotone in rank), so the result is
    * engine-portable; ties between single-modality docs break on doc_id.
    * `textQueries` (query_id, qtext) and `vecQueries` (query_id,
    * embedding) pair by query_id — the same information need expressed
    * in both modalities.
    *
    * Scale shape: each ranker keeps its own documented shape (BM25's
    * query-vocabulary broadcast; brute-force cosine's bounded query
    * batch — swap in [[annIvfTrained]] for a large stream), and the
    * fusion itself is a full-outer join + window over two topK·|queries|
    * row sets — negligible at any corpus size. */
  def hybridRrf(docs: DataFrame, emb: DataFrame, textQueries: DataFrame,
      vecQueries: DataFrame, topK: Int = 5, kRrf: Int = 60): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(kRrf >= 1, s"kRrf must be >= 1, got $kRrf")
    val txt = TextQ.bm25TopK(docs, textQueries, topK)
      .select(col("query_id"), col("doc_id"), col("rn").as("rtext"))
    val vec = cosineTopK(emb, vecQueries, topK)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("rvec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    txt.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", expr(
        s"""COALESCE(1000000L DIV (${kRrf}L + rtext), 0L) +
            COALESCE(1000000L DIV (${kRrf}L + rvec), 0L)"""))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("doc_id"), col("rrf"), col("rank"))
  }

  /** Oracle fixture of [[hybridRrf]]: q111's four text queries paired
    * with the embeddings of vec_ids 100·query_id as the vector side. */
  private val q136 = {
    val valuesSql = TextQ.bm25FixtureQueries
      .map { case (id, txt) => s"($id, '$txt')" }.mkString(", ")
    GQuery(
      "q136_hybrid_rrf",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val emb = t(s, dir, "embeddings")
        val tq = TextQ.bm25FixtureQueries
          .map { case (id, txt) => (id.toLong, txt) }
          .toDF("query_id", "qtext")
        val vq = emb.filter(col("vec_id").isin(100L, 200L, 300L, 400L))
          .select(expr("vec_id DIV 100L").as("query_id"), col("embedding"))
        hybridRrf(docs, emb, tq, vq)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH q(query_id, qtext) AS (VALUES $valuesSql),
        ${TextQ.bm25RankedSql},
        v AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm
              FROM embeddings),
        vq AS (SELECT vec_id // 100 AS query_id, embedding AS qe, nrm AS qn
               FROM v WHERE vec_id IN (100, 200, 300, 400)),
        vp AS (SELECT query_id, c.vec_id AS doc_id,
            ROUND((${dotSql("qe", "c.embedding")}) / (sqrt(qn) * sqrt(c.nrm)), 6)
              AS cosine
          FROM v c, vq),
        vranked AS (SELECT query_id, doc_id,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, doc_id) AS rv
          FROM vp),
        t5 AS (SELECT query_id, doc_id, rn FROM ranked WHERE rn <= 5),
        v5 AS (SELECT query_id, doc_id, rv FROM vranked WHERE rv <= 5),
        fused AS (SELECT query_id, doc_id,
            COALESCE(1000000 // (60 + rn), 0) +
              COALESCE(1000000 // (60 + rv), 0) AS rrf
          FROM t5 FULL OUTER JOIN v5 USING (query_id, doc_id)),
        fr AS (SELECT query_id, doc_id, rrf,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY rrf DESC, doc_id) AS rank
          FROM fused)
      SELECT query_id, doc_id, CAST(rrf AS BIGINT) AS rrf,
        CAST(rank AS BIGINT) AS rank
      FROM fr WHERE rank <= 5
      ORDER BY query_id, rank"""))
  }

  /** Semantic decontamination — the FOURTH decontamination modality next
    * to exact n-grams (q50), Bloom-prefiltered exact (q54), and MinHash
    * fuzzy (q94): an eval example whose EMBEDDING nearly coincides with a
    * training vector leaks even when a paraphrase defeats every lexical
    * check. Per eval vector: best train match by cosine over the
    * multi-probe sign buckets; rows where that best match clears
    * `threshold` are the contamination verdicts (eval_id, train_id,
    * cosine), directly anti-joinable against the eval set.
    *
    * Plan is the explicit-query multiprobe ANN ([[annBucketedMultiProbe]]
    * at k = 1): eval is the query side (eval sets are small — AQE
    * broadcasts it), the corpus never shuffles, candidate work is
    * bucket-equi-join-sized. The threshold filters AFTER the rank-1 pick,
    * so "not contaminated" is an absent row, never a null. Choose
    * `threshold` from the corpus background (q29's cosine distribution
    * card): the fixture's clean eval/train pairs top out at ~0.49, so the
    * 0.9 gate separates planted leaks (cosine 1.0) by a wide margin. */
  def semanticDecontamination(train: DataFrame, evalQueries: DataFrame,
      bits: Int = 3, probeHamming: Int = 1,
      threshold: Double = 0.9): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1], got $threshold")
    annBucketedMultiProbe(train, evalQueries, bits, k = 1, probeHamming)
      .filter(col("cosine") >= threshold)
      .select(col("query_id").as("eval_id"),
        col("neighbor_id").as("train_id"), col("cosine"))
  }

  /** Oracle fixture of [[semanticDecontamination]]: eval = 50 PLANTED
    * leaks (train vectors re-issued under new ids) + the clean %10 held
    * out sample; exactly the planted rows come back, at cosine 1.0. */
  private val q174 = {
    val bucketSql =
      """CAST((CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END) +
              (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END) +
              (CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS BIGINT)"""
    GQuery(
      "q174_semantic_decontamination",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val train = emb.filter(col("vec_id") % 10 =!= 0)
        val evalT = emb.filter(col("vec_id") % 40 === 7)
          .select((col("vec_id") + 300000).as("query_id"), col("embedding"))
          .unionAll(emb.filter(col("vec_id") % 10 === 0)
            .select((col("vec_id") + 400000).as("query_id"), col("embedding")))
        semanticDecontamination(train, evalT).orderBy(col("eval_id"))
      },
      Some(s"""WITH v AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm,
            $bucketSql AS bucket
          FROM embeddings WHERE vec_id % 10 <> 0),
        qsrc AS (SELECT vec_id + 300000 AS query_id, embedding
                 FROM embeddings WHERE vec_id % 40 = 7
                 UNION ALL
                 SELECT vec_id + 400000, embedding
                 FROM embeddings WHERE vec_id % 10 = 0),
        q AS (SELECT query_id, embedding AS qe, ${normSql("embedding")} AS qn,
                     $bucketSql AS home
              FROM qsrc),
        probes AS (SELECT query_id, qe, qn, xor(home, m) AS qbucket
                   FROM q, (VALUES (0), (1), (2), (4)) AS masks(m)),
        pairs AS (SELECT p.query_id, c.vec_id AS neighbor_id,
            ROUND((${dotSql("p.qe", "c.embedding")}) / (sqrt(p.qn) * sqrt(c.nrm)), 6) AS cosine
          FROM v c JOIN probes p ON c.bucket = p.qbucket),
        ranked AS (SELECT query_id, neighbor_id, cosine,
            ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
          FROM pairs)
      SELECT query_id AS eval_id, neighbor_id AS train_id, cosine
      FROM ranked WHERE rank = 1 AND cosine >= 0.9
      ORDER BY eval_id"""))
  }

  /** Top principal direction of the embedding corpus by two power-
    * iteration steps in EXACT integer arithmetic — the whitening /
    * drift-direction primitive (dominant-PC removal is the standard
    * post-processing for anisotropic embedding spaces, and "which way is
    * the corpus drifting" is this direction between two snapshots).
    *
    * Distributed shape: power iteration against the un-centered Gram
    * matrix A = Σ x·xᵀ never materializes A — each step is
    * `v' = Σᵢ xᵢ·(xᵢ·v)`, i.e. one map-side dot product per vector plus a
    * 64-group aggregation. Pass 1 uses v₀ = 1 (the row SUM, computed
    * inline per row); the 64-row result collects to the driver (the
    * bounded-collect class: centroids, codebooks), normalizes in BigInt
    * to ±10⁶ ppm of its max component, and returns as a LITERAL array so
    * pass 2 is a codegen'd [[vec_dot_long]] per row — no join, no second
    * structure. Everything is exact: inputs quantize to thousandths via
    * the engine-portable `floor(x·1000 + 0.5)`, per-row products stay in
    * long (|x|≤~580 ⟹ |t| ≤ 64·580·10⁶ ≈ 4e10), cross-row sums accumulate
    * in DECIMAL(38,0) (DuckDB: HUGEINT — SUM(BIGINT) widens itself), and
    * ppm division runs on non-negative operands with the sign carried
    * separately, where truncating BigInt `/`, Spark `DIV` and DuckDB `//`
    * all agree.
    *
    * Output: one row per dimension (1-based) with the ppm loading after
    * each iteration — l1 vs l2 shows convergence; the sign convention is
    * fixed by v₀ = 1, so results are deterministic with no eigenvector
    * sign ambiguity. Two corpus scans total, each emitting 64 rows.
    */
  def topComponentPpm(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val q = emb.select(col("vec_id"), expr(
      "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))")
      .as("q"))
    def normalizePpm(rows: Array[org.apache.spark.sql.Row]): Map[Int, BigInt] = {
      val v = rows.map(r => r.getInt(0) -> BigInt(r.getDecimal(1).toBigInteger)).toMap
      val mx = v.values.map(_.abs).max
      require(mx > 0, "topComponentPpm: zero iteration vector — corpus is empty or all-zero")
      v.map { case (p, x) => p -> (x.signum * ((BigInt(1000000) * x.abs) / mx)) }
    }
    val v1 = normalizePpm(q
      .withColumn("s", expr("aggregate(q, 0L, (a, e) -> a + e)"))
      .select(posexplode(col("q")).as(Seq("pos", "xi")), col("s"))
      .groupBy(col("pos"))
      .agg(sum((col("xi") * col("s")).cast(DecimalType(38, 0))).as("v1"))
      .collect())
    val dims = (0 until v1.keys.max + 1)
    val v1Lit = array(dims.map(p => lit(v1.getOrElse(p, BigInt(0)).toLong)): _*)
    val v2 = normalizePpm(q
      .withColumn("t", vec_dot_long(col("q"), v1Lit))
      .select(posexplode(col("q")).as(Seq("pos", "xi")), col("t"))
      .groupBy(col("pos"))
      .agg(sum((col("xi") * col("t")).cast(DecimalType(38, 0))).as("v2"))
      .collect())
    dims.map(p => ((p + 1).toLong, v1(p).toLong, v2(p).toLong))
      .toDF("dim", "l1_ppm", "l2_ppm")
  }

  /** Anisotropy card: how much of the corpus' energy the dominant
    * principal direction captures — the trust gate that decides whether
    * cosine search needs dominant-PC removal at all. For an isotropic
    * corpus mean cos²(x, v₁) ≈ 1/d (15,625 ppm at d = 64); real encoder
    * outputs routinely concentrate 10-50× that, which squeezes all
    * pairwise cosines toward 1 and flattens top-k margins — this card
    * says by exactly how much, BEFORE an index gets built on skewed
    * geometry.
    *
    * Exact arithmetic end-to-end: the direction is [[topComponentPpm]]'s
    * integer ppm vector w; per row cos²_ppm = (10⁶·(x·w)²) DIV (|x|²·|w|²)
    * with the squared dot in DECIMAL(38,0) (it can reach ~10²¹ — past
    * long, nowhere near decimal's 10³⁸; HUGEINT on the oracle side), and
    * zero vectors contribute 0 by definition rather than tripping ANSI
    * division. Cost on top of the two topComponentPpm scans: ONE more
    * corpus scan, all map-side (codegen vec_dot_long against the literal
    * direction + an inline |x|² fold), into a single-row aggregate.
    */
  def anisotropyCard(emb: DataFrame): DataFrame = {
    val w = topComponentPpm(emb).collect().sortBy(_.getLong(0)).map(_.getLong(2))
    val w2 = w.map(x => BigInt(x) * BigInt(x)).sum
    require(w2 > 0 && w2 <= BigInt(Long.MaxValue),
      s"anisotropyCard: |w|^2 out of range: $w2")
    val wLit = array(w.toIndexedSeq.map(lit): _*)
    emb.select(expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))")
        .as("q"))
      .withColumn("dot", vec_dot_long(col("q"), wLit))
      .withColumn("xx", expr("aggregate(q, 0L, (a, e) -> a + e * e)"))
      .withColumn("cos2_ppm", expr(
        s"""CASE WHEN xx = 0 THEN 0L ELSE
            CAST((1000000L * CAST(dot AS DECIMAL(38,0)) * CAST(dot AS DECIMAL(38,0)))
              DIV (CAST(xx AS DECIMAL(38,0)) * ${w2}L) AS BIGINT) END"""))
      .agg(count(lit(1)).as("n_vecs"), sum(col("cos2_ppm")).as("sum_cos2"))
      .select(col("n_vecs"),
        expr("CAST(sum_cos2 DIV n_vecs AS BIGINT)").as("mean_cos2_ppm"),
        expr(s"CAST(1000000 DIV ${w.length} AS BIGINT)").as("iso_baseline_ppm"))
  }

  private val q167 = GQuery(
    "q167_anisotropy",
    (s, dir) => anisotropyCard(t(s, dir, "embeddings")),
    Some("""WITH xq AS (SELECT vec_id,
          list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q
        FROM embeddings),
      s AS (SELECT vec_id, q, list_aggregate(q, 'sum') AS s FROM xq),
      dims AS (SELECT CAST(r.range + 1 AS INT) AS j FROM range(64) r),
      v1 AS (SELECT j, SUM(CAST(q[j] AS HUGEINT) * s) AS v1
             FROM s, dims GROUP BY j),
      m1 AS (SELECT MAX(abs(v1)) AS mx FROM v1),
      v1n AS (SELECT j,
          (CASE WHEN v1 < 0 THEN -1 ELSE 1 END)
            * ((1000000::HUGEINT * abs(v1)) // mx) AS w
        FROM v1, m1),
      tt AS (SELECT vec_id, SUM(s.q[v1n.j] * v1n.w) AS t
             FROM s, v1n GROUP BY vec_id),
      v2 AS (SELECT j, SUM(CAST(xq.q[j] AS HUGEINT) * tt.t) AS v2
             FROM xq JOIN tt USING (vec_id), dims GROUP BY j),
      m2 AS (SELECT MAX(abs(v2)) AS mx FROM v2),
      w AS (SELECT j,
          (CASE WHEN v2 < 0 THEN -1 ELSE 1 END)
            * ((1000000::HUGEINT * abs(v2)) // mx) AS w
        FROM v2, m2),
      w2 AS (SELECT SUM(w * w) AS w2 FROM w),
      dots AS (SELECT vec_id, SUM(xq.q[w.j] * w.w) AS dot
               FROM xq, w GROUP BY vec_id),
      xx AS (SELECT vec_id,
          list_aggregate(list_transform(q, e -> e * e), 'sum') AS xx
        FROM xq),
      per AS (SELECT d.vec_id,
          CASE WHEN x.xx = 0 THEN 0::HUGEINT
            ELSE (1000000::HUGEINT * d.dot * d.dot)
              // (CAST(x.xx AS HUGEINT) * (SELECT w2 FROM w2)) END AS cos2
        FROM dots d JOIN xx x USING (vec_id))
    SELECT COUNT(*) AS n_vecs,
      CAST(SUM(cos2) // COUNT(*) AS BIGINT) AS mean_cos2_ppm,
      CAST(1000000 // 64 AS BIGINT) AS iso_baseline_ppm
    FROM per"""))

  private val q166 = GQuery(
    "q166_power_pca",
    (s, dir) => topComponentPpm(t(s, dir, "embeddings")).orderBy(col("dim")),
    Some("""WITH xq AS (SELECT vec_id,
          list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q
        FROM embeddings),
      s AS (SELECT vec_id, q, list_aggregate(q, 'sum') AS s FROM xq),
      dims AS (SELECT CAST(r.range + 1 AS INT) AS j FROM range(64) r),
      v1 AS (SELECT j, SUM(CAST(q[j] AS HUGEINT) * s) AS v1
             FROM s, dims GROUP BY j),
      m1 AS (SELECT MAX(abs(v1)) AS mx FROM v1),
      v1n AS (SELECT j,
          (CASE WHEN v1 < 0 THEN -1 ELSE 1 END)
            * ((1000000::HUGEINT * abs(v1)) // mx) AS w
        FROM v1, m1),
      tt AS (SELECT vec_id, SUM(s.q[v1n.j] * v1n.w) AS t
             FROM s, v1n GROUP BY vec_id),
      v2 AS (SELECT j, SUM(CAST(xq.q[j] AS HUGEINT) * tt.t) AS v2
             FROM xq JOIN tt USING (vec_id), dims GROUP BY j),
      m2 AS (SELECT MAX(abs(v2)) AS mx FROM v2)
    SELECT CAST(j AS BIGINT) AS dim,
      CAST((CASE WHEN v1 < 0 THEN -1 ELSE 1 END)
        * ((1000000::HUGEINT * abs(v1)) // m1.mx) AS BIGINT) AS l1_ppm,
      CAST((CASE WHEN v2 < 0 THEN -1 ELSE 1 END)
        * ((1000000::HUGEINT * abs(v2)) // m2.mx) AS BIGINT) AS l2_ppm
    FROM v1 JOIN v2 USING (j), m1, m2
    ORDER BY dim"""))

  /** Matryoshka truncation eval — before shipping prefix-truncated
    * embeddings (the MRL deployment trick: serve dims 1..p of a 64-dim
    * vector at 1/4 the memory), measure what retrieval loses: for each
    * query, does the top-1 neighbor under PREFIX cosine agree with the
    * top-1 under FULL cosine, and how much full-cosine quality does the
    * truncated pick give up. One row: n_queries, n_agree, agree_ppm,
    * and the summed loss in micro-cosine units (exact: per-query loss
    * rounds to an integer before summing, so the total is
    * order-independent and engine-portable).
    *
    * Brute-force eval shape like [[cosineTopK]]'s ground-truth path
    * (query set is a small eval sample, broadcast); both argmaxes ride
    * one pair pass via max(struct(cos, −id)) — (cos desc, id asc), the
    * standard tiebreak. */
  def truncationAgreement(raw: DataFrame, queryTable: DataFrame,
      prefixDims: Int = 16): DataFrame = {
    require(prefixDims >= 1 && prefixDims < dim,
      s"prefixDims must be in [1, $dim), got $prefixDims")
    val p = prefixDims
    def prefDot(a: String, b: String) = expr(
      s"""aggregate(zip_with(slice($a, 1, $p), slice($b, 1, $p),
            (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
          CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""")
    val v = withNorm(raw)
      .withColumn("pn", prefDot("embedding", "embedding"))
    val q = broadcast(queryTable
      .select(col("query_id"), col("embedding").as("qe"))
      .withColumn("qn", vec_norm2(col("qe")))
      .withColumn("qpn", prefDot("qe", "qe")))
    val pairs = v.crossJoin(q)
      .withColumn("cos_full",
        round(vec_dot(col("qe"), col("embedding")) /
          (sqrt(col("qn")) * sqrt(col("nrm"))), 6))
      .withColumn("cos_tr",
        round(prefDot("qe", "embedding") /
          (sqrt(col("qpn")) * sqrt(col("pn"))), 6))
    // ONE pair pass: the truncated argmax struct CARRIES the pick's full
    // cosine as a trailing field — (cos_tr, −id) is already unique per
    // row, so the extra field never participates in the comparison and
    // the second pairs join (a full second brute-force pass) disappears.
    val loss = pairs.groupBy(col("query_id"))
      .agg(
        max(struct(col("cos_full"), (-col("vec_id")).as("nid"))).as("f"),
        max(struct(col("cos_tr"), (-col("vec_id")).as("nid"),
          col("cos_full").as("pf"))).as("t"))
      .select(col("query_id"),
        when(col("f.nid") === col("t.nid"), 1L).otherwise(0L).as("agree"),
        expr("CAST(round((f.cos_full - t.pf) * 1000000) AS BIGINT)")
          .as("loss_micro"))
    loss.agg(count(lit(1)).as("n_queries"), sum(col("agree")).as("n_agree"),
        sum(col("loss_micro")).as("total_loss_micro"))
      .select(col("n_queries"), col("n_agree"),
        expr("(1000000 * n_agree) DIV n_queries").as("agree_ppm"),
        col("total_loss_micro"))
  }

  /** Oracle fixture of [[truncationAgreement]]: corpus-sample queries,
    * prefix = 16 of 64 dims. */
  private val q207 = {
    val p = 16
    def prefDotSql(a: String, b: String): String =
      (1 to p).map(k => s"(CAST($a[$k] AS DOUBLE) * CAST($b[$k] AS DOUBLE))")
        .mkString(" + ")
    GQuery(
      "q207_matryoshka_eval",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        truncationAgreement(emb,
          emb.filter(col("vec_id") % 20 === 0)
            .select((col("vec_id") + 800000).as("query_id"),
              col("embedding")))
      },
      Some(s"""WITH v AS (SELECT vec_id, embedding,
            ${normSql("embedding")} AS nrm,
            ${prefDotSql("embedding", "embedding")} AS pn
          FROM embeddings),
        q AS (SELECT vec_id + 800000 AS query_id, embedding AS qe,
            ${normSql("embedding")} AS qn,
            ${prefDotSql("embedding", "embedding")} AS qpn
          FROM embeddings WHERE vec_id % 20 = 0),
        pairs AS (SELECT query_id, c.vec_id,
            ROUND((${dotSql("qe", "c.embedding")})
              / (sqrt(qn) * sqrt(c.nrm)), 6) AS cos_full,
            ROUND((${prefDotSql("qe", "c.embedding")})
              / (sqrt(qpn) * sqrt(c.pn)), 6) AS cos_tr
          FROM v c, q),
        l AS (SELECT query_id,
            CASE WHEN (f).n = (t).n THEN 1 ELSE 0 END AS agree,
            CAST(round(((f).c - (t).pf) * 1000000) AS BIGINT) AS loss_micro
          FROM (SELECT query_id,
              MAX(struct_pack(c := cos_full, n := -vec_id)) AS f,
              MAX(struct_pack(c := cos_tr, n := -vec_id, pf := cos_full)) AS t
            FROM pairs GROUP BY query_id))
      SELECT COUNT(*) AS n_queries,
        CAST(SUM(agree) AS BIGINT) AS n_agree,
        (1000000 * CAST(SUM(agree) AS BIGINT)) // COUNT(*) AS agree_ppm,
        CAST(SUM(loss_micro) AS BIGINT) AS total_loss_micro
      FROM l"""))
  }

  private val qvExpr =
    "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))"

  /** Greedy k-center coreset — DIVERSITY selection over the embedding
    * corpus (Gonzalez 1985 farthest-point traversal, the standard 2-approx
    * for k-center): start from the max-norm vector (deterministic anchor),
    * then k−1 times pick the vector FARTHEST from the chosen set (max of
    * min-distance²). Curation use: a training subset or eval panel that
    * COVERS the embedding space instead of oversampling its dense modes —
    * the complement of [[clusterPrototypes]] (which picks centers of
    * mass) and of dedup (which removes near-dups but never balances).
    *
    * Exactness: coordinates quantize once via the engine-portable
    * `floor(x·1000 + 0.5)` (the [[powerIterationPca]] rule); distances²
    * are BIGINT sums (|q| ≤ ~10⁶, dim 64 ⟹ ≤ ~3·10¹⁴, no overflow); the
    * (score desc, vec_id asc) argmax is a total order, so the DuckDB
    * oracle replays the identical unrolled traversal.
    *
    * Scale shape: k−1 rounds, each ONE corpus scan with the chosen
    * centers as LITERAL arrays (codegen'd `least` of per-center
    * zip_with/aggregate sums — the bounded-collect class: k·dim longs on
    * the driver, like centroids/codebooks) and a `TakeOrdered` top-1; no
    * joins, no shuffles beyond the top-1 reduction. Returns
    * (sel_round, vec_id, score): score = norm² for round 1 (the anchor
    * rule), min-dist² to the prior set otherwise — monotone
    * non-increasing from round 2 on, the coverage-radius curve. */
  def kCenterCoreset(raw: DataFrame, k: Int = 4): DataFrame = {
    require(k >= 2 && k <= 32, s"k must be in [2, 32], got $k")
    val spark = raw.sparkSession
    import spark.implicits._
    val q = raw.select(col("vec_id"), expr(qvExpr).as("qv"))
    val n2 = expr("aggregate(qv, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)")
    def dist2(center: Seq[Long]): org.apache.spark.sql.Column =
      aggregate(
        zip_with(col("qv"), array(center.map(lit(_)): _*),
          (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x)
    val first = q.select(col("vec_id"), col("qv"), n2.as("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(1)
      .collect().head
    var chosen = Vector((first.getLong(0), first.getSeq[Long](1).toSeq,
      first.getLong(2)))
    for (_ <- 2 to k) {
      val dists = chosen.map(c => dist2(c._2))
      val mind = if (dists.size == 1) dists.head else least(dists: _*)
      val next = q.filter(!col("vec_id").isin(chosen.map(_._1): _*))
        .select(col("vec_id"), col("qv"), mind.as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(1)
        .collect().head
      chosen :+= ((next.getLong(0), next.getSeq[Long](1).toSeq,
        next.getLong(2)))
    }
    chosen.zipWithIndex
      .map { case ((id, _, s), i) => (i + 1L, id, s) }
      .toDF("sel_round", "vec_id", "score")
  }

  /** DuckDB twin of [[kCenterCoreset]]: the traversal unrolled, one
    * argmax CTE per round (the q137/q180 fixed-unrolling convention). */
  private[queries] def kCenterSql(k: Int): String = {
    def d2(v: String, c: String) =
      (1 to dim).map(i => s"(($v.qv[$i] - $c.qv[$i]) * ($v.qv[$i] - $c.qv[$i]))")
        .mkString(" + ")
    val rounds = (2 to k).map { r =>
      val priors = (1 to r - 1).map(j => s"c$j").mkString(", ")
      val notIn = (1 to r - 1).map(j => s"c$j.vec_id").mkString(", ")
      val mind =
        if (r == 2) d2("v", "c1")
        else s"LEAST(${(1 to r - 1).map(j => d2("v", s"c$j")).mkString(", ")})"
      s"""c$r AS MATERIALIZED (SELECT v.vec_id, v.qv,
            CAST($mind AS BIGINT) AS score
          FROM q v, $priors
          WHERE v.vec_id NOT IN ($notIn)
          ORDER BY score DESC, v.vec_id LIMIT 1)"""
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (SELECT vec_id,
          list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
        FROM embeddings),
      c1 AS MATERIALIZED (SELECT vec_id, qv,
          CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS score
        FROM q ORDER BY score DESC, vec_id LIMIT 1),
      $rounds"""
  }

  /** Oracle fixture of [[kCenterCoreset]] (k = 4). */
  private val q193 = {
    val k = 4
    val rows = (1 to k).map(r =>
      s"SELECT CAST($r AS BIGINT) AS sel_round, vec_id, score FROM c$r")
      .mkString(" UNION ALL ")
    GQuery(
      "q193_kcenter_coreset",
      (s, dir) => kCenterCoreset(t(s, dir, "embeddings"), k)
        .orderBy(col("sel_round")),
      Some(s"""${kCenterSql(k)}
        $rows
        ORDER BY sel_round"""))
  }

  /** 16-bit sign-sketch chunk i (1-based) of a 64-dim embedding:
    * dims 16(i−1)+1 .. 16i, MSB-first. Four chunks pack the full
    * sign sketch without ever touching a BIGINT's sign bit (the
    * engine-portability reason for 4×16 over 1×64: a `1L << 63`
    * literal reads differently across engines; 16-bit chunks stay in
    * [0, 65535]). */
  private def signChunk(emb: org.apache.spark.sql.Column, i: Int)
      : org.apache.spark.sql.Column =
    (1 to 16).map { j =>
      when(element_at(emb, 16 * (i - 1) + j) > 0f,
        lit(1L << (16 - j))).otherwise(lit(0L))
    }.reduce(_ + _)

  private def signChunkSql(emb: String, i: Int): String =
    (1 to 16).map { j =>
      s"(CASE WHEN $emb[${16 * (i - 1) + j}] > 0 THEN ${1L << (16 - j)} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Multi-index Hamming radius search — EXACT bounded-radius neighbor
    * retrieval over 64-bit sign sketches, by equi-joins only: each
    * vector's sketch splits into four 16-bit chunks, a (query, corpus)
    * pair is a CANDIDATE iff some chunk matches exactly, and candidates
    * re-rank by the true Hamming distance (bit_count of per-chunk XORs).
    * The pigeonhole guarantee makes this exact, not approximate: ≤
    * `radius` ≤ 3 differing bits cannot touch all 4 chunks, so every
    * within-radius pair shares an untouched chunk and IS found — the
    * standard multi-index Hamming construction (Norouzi et al. 2012),
    * here as four hash-partitionable equi-joins + a codegen'd bit_count
    * re-rank. The sign sketch is the 64× compression tier below int8
    * ([[quantizeInt8]]) and PQ: 8 bytes per vector, distance = XOR.
    *
    * Scale shape: corpus sketches once (map-side); 4 equi-joins against
    * the (small, broadcast) query sketches; candidate volume = chunk
    * bucket collisions (2¹⁶ buckets per index); no full-corpus distance
    * pass, no shuffle of the corpus beyond the candidate rows. */
  def hammingRadiusSearch(raw: DataFrame, queryTable: DataFrame,
      radius: Int = 3): DataFrame = {
    require(radius >= 0 && radius <= 3,
      s"radius must be in [0, 3] (4-chunk pigeonhole bound), got $radius")
    def sketch(df: DataFrame, idCol: String, prefix: String): DataFrame =
      df.select(col(idCol) +:
        (1 to 4).map(i => signChunk(col("embedding"), i).as(s"$prefix$i")): _*)
    val c = sketch(raw, "vec_id", "c")
    val q = broadcast(sketch(queryTable, "query_id", "qc"))
    val cand = (1 to 4).map(i =>
        c.join(q, col(s"c$i") === col(s"qc$i"))
          .select(col("query_id"), col("vec_id"),
            col("c1"), col("c2"), col("c3"), col("c4"),
            col("qc1"), col("qc2"), col("qc3"), col("qc4")))
      .reduce(_ unionAll _)
      .distinct()
    val dist = (1 to 4).map(i =>
        expr(s"bit_count(c$i ^ qc$i)")).reduce(_ + _)
    cand.withColumn("hamming", dist.cast(LongType))
      .filter(col("hamming") <= radius)
      .withColumn("rank", row_number().over(Window
        .partitionBy(col("query_id"))
        .orderBy(col("hamming"), col("vec_id"))).cast(LongType))
      .select(col("query_id"), col("vec_id"), col("hamming"), col("rank"))
  }

  /** Oracle fixture of [[hammingRadiusSearch]]: corpus-sample queries
    * (vec_id % 25 = 0, re-issued under shifted ids), radius 3. The
    * oracle is the NAIVE full cross distance — the hash-match proves the
    * multi-index equi-join construction finds every within-radius pair. */
  private val q197 = {
    def chunksSql(emb: String, pre: String) =
      (1 to 4).map(i => s"${signChunkSql(emb, i)} AS $pre$i").mkString(", ")
    val distSql = (1 to 4)
      .map(i => s"bit_count(xor(c.c$i, q.qc$i))").mkString(" + ")
    GQuery(
      "q197_hamming_radius",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        hammingRadiusSearch(emb,
            emb.filter(col("vec_id") % 25 === 0)
              .select((col("vec_id") + 700000).as("query_id"),
                col("embedding")))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH c AS (SELECT vec_id, ${chunksSql("embedding", "c")}
            FROM embeddings),
        q AS (SELECT vec_id + 700000 AS query_id,
                ${chunksSql("embedding", "qc")}
              FROM embeddings WHERE vec_id % 25 = 0),
        d AS (SELECT q.query_id, c.vec_id,
                CAST($distSql AS BIGINT) AS hamming
              FROM c, q)
      SELECT query_id, vec_id, hamming,
        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY hamming, vec_id) AS BIGINT) AS rank
      FROM d WHERE hamming <= 3
      ORDER BY query_id, rank"""))
  }

  /** Hard-negative mining — the contrastive-training data operator: for
    * each query vector, the top-k most similar corpus vectors with a
    * DIFFERENT label, capped below `maxCos` (a candidate nearly
    * identical to the query is almost always a mislabeled POSITIVE, the
    * classic false-negative trap — the cap implements the "semi-hard"
    * band). Easy negatives (random different-label rows) teach a
    * contrastive model nothing; the highest-similarity different-label
    * rows are where the margin is earned.
    *
    * Scale shape: candidates come from the [[signBucket]] equi-join
    * (the q30 path — same-bucket only, never corpus²), the label
    * inequality and similarity cap ride the join condition/filter
    * map-side, and the per-query top-k is the standard rank window.
    * The cosine compares AFTER the 6-dp round, so the cap is
    * engine-exact. Fixture entry point samples queries vec_id %
    * `queryMod` (corpus-coupled — production passes an explicit query
    * table, the q106 convention). */
  def hardNegatives(raw: DataFrame, bits: Int = 3, k: Int = 3,
      queryMod: Int = 20, maxCos: Double = 0.99): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(queryMod >= 1, s"queryMod must be >= 1, got $queryMod")
    require(maxCos > -1.0 && maxCos <= 1.0,
      s"maxCos must be in (-1, 1], got $maxCos")
    val v = raw.select(col("vec_id"), col("embedding"), col("label"))
      .withColumn("nrm", vec_norm2(col("embedding")))
      .withColumn("bucket", signBucket(col("embedding"), bits))
    val q = v.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("label").as("qlabel"), col("nrm").as("qn"),
        col("bucket").as("qbucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    v.join(q, col("bucket") === col("qbucket") &&
        col("label") =!= col("qlabel"))
      .withColumn("cosine",
        cosine(col("qe"), col("qn"), col("embedding"), col("nrm")))
      .filter(col("cosine") < maxCos)
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("qlabel").cast(LongType).as("qlabel"),
        col("vec_id").as("negative_id"),
        col("label").cast(LongType).as("neg_label"), col("cosine"),
        col("rank"))
  }

  /** Oracle fixture of [[hardNegatives]] (3-bit buckets, k = 3,
    * ceiling 0.99). */
  private val q230 = GQuery(
    "q230_hard_negatives",
    (s, dir) => hardNegatives(t(s, dir, "embeddings"))
      .orderBy(col("query_id"), col("rank")),
    Some(s"""WITH v AS (SELECT vec_id, embedding, label,
          ${normSql("embedding")} AS nrm,
          CAST((CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END) +
               (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END) +
               (CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS bucket
        FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS qe, label AS qlabel,
                   nrm AS qn, bucket AS qbucket
            FROM v WHERE vec_id % 20 = 0),
      pairs AS (SELECT query_id, CAST(qlabel AS BIGINT) AS qlabel,
          c.vec_id AS negative_id, CAST(c.label AS BIGINT) AS neg_label,
          ROUND((${dotSql("qe", "c.embedding")})
            / (sqrt(qn) * sqrt(c.nrm)), 6) AS cosine
        FROM v c, q
        WHERE c.bucket = qbucket AND c.label <> qlabel),
      ranked AS (SELECT *,
          ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, negative_id) AS rank
        FROM pairs WHERE cosine < 0.99)
    SELECT query_id, qlabel, negative_id, neg_label, cosine,
      CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 3
    ORDER BY query_id, rank"""))

  /** Sign-bucket occupancy card — the index-health read that SIZES the
    * `bits` knob ([[signBucket]]'s contract, and the rebuild trigger
    * for [[graft.etl.IncrementalAnn]]): how full is the bucket space,
    * and how skewed are the buckets? Low occupancy with a fat max
    * bucket means the leading dimensions don't split this corpus (raise
    * bits or rotate); P95 ≈ max ≈ corpus/used means healthy spread.
    * One row: vector/bucket counts, occupancy ppm of the 2^bits space,
    * exact P50/P95/max bucket sizes (ceil-rank order statistics over
    * the ≤ 2^bits-row size table), and the hottest bucket's corpus
    * share in ppm.
    *
    * Scale shape: one map-side bucket projection + one bucket-keyed
    * count (the only corpus-sized step), then windows over the
    * bucket-size table — bounded by 2^bits, corpus-size-independent. */
  def bucketOccupancy(raw: DataFrame, bits: Int = 3): DataFrame = {
    val sizes = raw
      .select(signBucket(col("embedding"), bits).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("n"), col("bucket"))
    val wAll = Window.partitionBy()
    sizes
      .withColumn("rn", row_number().over(w).cast(LongType))
      .withColumn("used", count(lit(1)).over(wAll).cast(LongType))
      .agg(sum(col("n")).as("n_vectors"),
        count(lit(1)).as("n_buckets_used"),
        max(col("n")).as("max_bucket"),
        min(when(col("rn") >= expr("(used * 500 + 999) div 1000"),
          col("n"))).as("p50_bucket"),
        min(when(col("rn") >= expr("(used * 950 + 999) div 1000"),
          col("n"))).as("p95_bucket"))
      .select(col("n_vectors"), col("n_buckets_used"),
        lit(1L << bits).as("n_buckets_possible"),
        expr(s"(1000000 * n_buckets_used) DIV ${1L << bits}")
          .as("occupancy_ppm"),
        col("p50_bucket"), col("p95_bucket"), col("max_bucket"),
        expr("(1000000 * max_bucket) DIV n_vectors")
          .as("top_bucket_share_ppm"))
  }

  /** Oracle fixture of [[bucketOccupancy]] (3-bit buckets). */
  private val q235 = GQuery(
    "q235_bucket_occupancy",
    (s, dir) => bucketOccupancy(t(s, dir, "embeddings")),
    Some("""WITH v AS (SELECT
          CAST((CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END) +
               (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END) +
               (CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS bucket
        FROM embeddings),
      sizes AS (SELECT bucket, COUNT(*) AS n FROM v GROUP BY bucket),
      r AS (SELECT n,
          ROW_NUMBER() OVER (ORDER BY n, bucket) AS rn,
          COUNT(*) OVER () AS used
        FROM sizes)
      SELECT CAST(SUM(n) AS BIGINT) AS n_vectors,
        COUNT(*) AS n_buckets_used,
        CAST(8 AS BIGINT) AS n_buckets_possible,
        (1000000 * COUNT(*)) // 8 AS occupancy_ppm,
        MIN(CASE WHEN rn >= (used * 500 + 999) // 1000 THEN n END)
          AS p50_bucket,
        MIN(CASE WHEN rn >= (used * 950 + 999) // 1000 THEN n END)
          AS p95_bucket,
        MAX(n) AS max_bucket,
        (1000000 * MAX(n)) // CAST(SUM(n) AS BIGINT)
          AS top_bucket_share_ppm
      FROM r"""))

  /** Oracle fixture of the INCREMENTAL semantic-dedup path
    * ([[graft.etl.IncrementalSemDedup]]): the corpus splits at the
    * midpoint id into a bootstrap "history" and a "delta wave"; history
    * indexes under the store's fixed centroids (the q76 seed rule — the
    * bootstrap holds the union's lowest ids, so the centroids coincide),
    * the delta emits its pairs against history + itself, and the
    * derived keep census must equal the BATCH semDedup census on the
    * union — the oracle replays exactly q76's one-shot batch CTEs at
    * per-vector grain, so the hash match is a cross-engine proof that
    * delta-against-store ≡ re-clustering the world. */
  private val q289 = GQuery(
    "q289_incremental_semdedup",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val mm = emb.agg(min(col("vec_id")), max(col("vec_id"))).head
      val midId = (mm.getLong(0) + mm.getLong(1)) / 2
      def vn(df: DataFrame) = df.select(col("vec_id"), col("embedding"))
        .withColumn("nrm", vec_norm2(col("embedding")))
      // fixture intermediates are each consumed by several downstream
      // branches (pairs × 2, verdicts, the union) — cut once so the
      // card's plan reads the split corpus, not 50 re-scans of it; in
      // production these ARE materialized (the store's parquet)
      val hist = vn(emb.filter(col("vec_id") < midId)).localCheckpoint()
      val delta = vn(emb.filter(col("vec_id") >= midId)).localCheckpoint()
      val seeds = hist.orderBy(col("vec_id")).limit(4)
        .select(col("vec_id").as("cluster"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))")
            .as("centroid"))
        .localCheckpoint()
      val membersHist = assignToCentroids(hist, seeds).localCheckpoint()
      val pairs1 = graft.etl.IncrementalSemDedup.deltaPairs(
        hist, seeds, membersHist.filter(lit(false)))
      val pairs2 = graft.etl.IncrementalSemDedup.deltaPairs(
        delta, seeds, membersHist)
      graft.etl.IncrementalSemDedup.verdicts(
        membersHist.union(assignToCentroids(delta, seeds)),
        pairs1.union(pairs2))
        .select(col("vec_id"), col("cluster"),
          round(col("dist_sq"), 6).as("dist_sq_r"), col("keep"))
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH v AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm
                FROM embeddings),
      seeds AS (SELECT vec_id AS cluster, embedding AS cemb FROM v
        WHERE vec_id < 4),
      asg AS (SELECT vec_id, embedding, nrm, cluster, dist_sq FROM (
          SELECT v.vec_id, v.embedding, v.nrm, s.cluster,
            v.nrm + (${normSql("s.cemb")}) - 2 * (${dotSql("v.embedding", "s.cemb")}) AS dist_sq,
            ROW_NUMBER() OVER (PARTITION BY v.vec_id
              ORDER BY v.nrm + (${normSql("s.cemb")})
                - 2 * (${dotSql("v.embedding", "s.cemb")}), s.cluster) AS arn
          FROM v, seeds s) WHERE arn = 1),
      dropped AS (SELECT DISTINCT a.vec_id AS a_id
        FROM asg a JOIN asg b ON a.cluster = b.cluster AND b.vec_id <> a.vec_id
        WHERE ROUND((${dotSql("a.embedding", "b.embedding")}) /
                    (sqrt(a.nrm) * sqrt(b.nrm)), 6) >= 0.2
          AND (b.dist_sq > a.dist_sq
               OR (b.dist_sq = a.dist_sq AND b.vec_id < a.vec_id)))
    SELECT vec_id, cluster, ROUND(dist_sq, 6) AS dist_sq_r,
      vec_id NOT IN (SELECT a_id FROM dropped) AS keep
    FROM asg
    ORDER BY vec_id"""))

  /** Oracle fixture of the GROWING-CELLS rebuild — the one scaling
    * contract q289 leaves unwitnessed (its 10× probe reads quadratic
    * because the fixture pins 4 cells forever; the operator's real
    * lever is `cells ≈ √corpus` via [[graft.etl.IncrementalSemDedup
    * .rebuild]]). This card runs the REAL store lifecycle on a temp
    * dir, with the rebuild at the point a production store would do it
    * — EARLY, while the store is still small: bootstrap the first n/8
    * at 4 cells, absorb a same-sized delta wave, `rebuild` to ⌊√n⌋
    * cells (4 → 22 at the fixture; the atomic whole-store swap, members
    * reassigned in one scan), RE-DERIVE the history pairs under the new
    * cells (the documented post-rebuild batch step — old-cell pairs are
    * retired, NOT unioned: a pair the old cells co-located may split
    * under the new cells, and the batch census at the new cells would
    * not drop it), then answer the BULK wave (the remaining 3n/4)
    * incrementally against the rebuilt store. The derived
    * census must hash-match the one-shot batch semDedup at the NEW
    * cell count — rebuild + re-derivation + incremental delta ≡
    * re-clustering the world at √n cells. Because the rebuild re-seeds
    * from the store's lowest ids and the bootstrap holds the union's
    * lowest ids, the oracle's seed rule (`vec_id < ⌊√n⌋`) coincides.
    *
    * Scale: every store step is the operator's own production path
    * (cell equi-joins, partitioned parquet, broadcast hot-cell guard);
    * the bulk wave rides √n cells, so its pair candidates grow n·√n
    * (10× → ~32×) instead of q289's fixed-cell n²/4 (10× → 100×), and
    * the fixed-4-cell quadratic term is confined to the (n/4)-sized
    * pre-rebuild history — the 10× probe row documents the collapse. */
  private val q312 = GQuery(
    "q312_semdedup_rebuild",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val mm = emb.agg(min(col("vec_id")), max(col("vec_id")),
        count(lit(1))).head
      val span = mm.getLong(1) - mm.getLong(0) + 1
      val e8Id = mm.getLong(0) + span / 8
      val q4Id = mm.getLong(0) + span / 4
      val newCells = math.sqrt(mm.getLong(2).toDouble).toInt
      val base = scratchDir(s, "q312", dir)
      val store = s"$base/store"; val pairsDir = s"$base/pairs"
      def slice(lo: Long, hi: Long) = emb
        .filter(col("vec_id") >= lo && col("vec_id") < hi)
        .select(col("vec_id"), col("embedding"))
      // lifecycle: bootstrap @4 cells → wave 1 → rebuild @√n → bulk wave
      graft.etl.IncrementalSemDedup.initStore(
        slice(Long.MinValue, e8Id), store, cells = 4,
        pairsPath = Some(pairsDir))
      graft.etl.IncrementalSemDedup.sink(s, store, pairsDir)(
        slice(e8Id, q4Id), 1L)
      graft.etl.IncrementalSemDedup.rebuild(s, store, newCells)
      val cells = s.read.parquet(s"$store/cells")
      val hist = s.read.parquet(s"$store/members")
      // round-16: the store rows ARE the post-rebuild assignment (the
      // rebuild derives cluster/dist_sq with the same deterministic
      // nearest-cell pass) — feed them to the history re-derivation
      // directly instead of re-assigning history from scratch; lazily
      // checkpointed because the pair derivation references its input
      // on both sides of the intra self-join (and again as p2's
      // history side).
      val histAsg = hist.select(col("vec_id"), col("embedding"),
          col("nrm"), col("cluster"), col("dist_sq"))
        .localCheckpoint(false)
      val histPairs = graft.etl.IncrementalSemDedup.deltaPairsAssigned(
        histAsg, histAsg.filter(lit(false)))
      val wave2 = slice(q4Id, Long.MaxValue)
      // ONE nearest-cell pass over the bulk wave, shared by the pair
      // derivation and the store append (the sink's shared-assignment
      // seam applied to the card's own lifecycle steps; append
      // previously re-ran the identical assignment)
      val asg2 = assignToCentroids(withNorm(wave2), cells)
        .localCheckpoint(false)
      val p2 = graft.etl.IncrementalSemDedup.deltaPairsAssigned(
        asg2, histAsg)
      graft.etl.IncrementalSemDedup.appendAssigned(asg2, store, 2L)
      val all = s.read.parquet(s"$store/members")
      graft.etl.IncrementalSemDedup.verdicts(all, histPairs.union(p2))
        .select(col("vec_id"), col("cluster"),
          round(col("dist_sq"), 6).as("dist_sq_r"), col("keep"))
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH k AS (SELECT CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) AS kc
                FROM embeddings),
      v AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm
                FROM embeddings),
      seeds AS (SELECT vec_id AS cluster, embedding AS cemb FROM v
        WHERE vec_id < (SELECT kc FROM k)),
      asg AS (SELECT vec_id, embedding, nrm, cluster, dist_sq FROM (
          SELECT v.vec_id, v.embedding, v.nrm, s.cluster,
            v.nrm + (${normSql("s.cemb")}) - 2 * (${dotSql("v.embedding", "s.cemb")}) AS dist_sq,
            ROW_NUMBER() OVER (PARTITION BY v.vec_id
              ORDER BY v.nrm + (${normSql("s.cemb")})
                - 2 * (${dotSql("v.embedding", "s.cemb")}), s.cluster) AS arn
          FROM v, seeds s) WHERE arn = 1),
      dropped AS (SELECT DISTINCT a.vec_id AS a_id
        FROM asg a JOIN asg b ON a.cluster = b.cluster AND b.vec_id <> a.vec_id
        WHERE ROUND((${dotSql("a.embedding", "b.embedding")}) /
                    (sqrt(a.nrm) * sqrt(b.nrm)), 6) >= 0.2
          AND (b.dist_sq > a.dist_sq
               OR (b.dist_sq = a.dist_sq AND b.vec_id < a.vec_id)))
    SELECT vec_id, cluster, ROUND(dist_sq, 6) AS dist_sq_r,
      vec_id NOT IN (SELECT a_id FROM dropped) AS keep
    FROM asg
    ORDER BY vec_id"""))

  /** int8 quantization-error card — the measurement that SIZES
    * [[graft.etl.IncrementalSemDedup]]'s `qvMargin` knob, with an
    * oracle behind it: over the q76/q289 candidate structure
    * (same-cell pairs under the seed cells), the exact distribution of
    * |cos − cos₈| in micro — max, exact ceil-rank P99, and the count
    * of pairs a given margin would MISPRICE (the number that must read
    * 0 before the prefilter is trusted on a corpus). Degenerate pairs
    * (a zero qv — exactly the rows the prefilter passes through
    * unconditionally) are counted separately, never folded into the
    * error statistics. Both cosines round by `floor(x·10⁶ + 0.5)` (the
    * quantizeInt8 half-tie rule — `round()` half-ties do NOT match
    * cross-engine).
    *
    * This is an EVAL card: run it on a corpus SAMPLE when adopting the
    * prefilter (pair volume is the q76 candidate shape, cells² work at
    * the fixture's pinned seeds); the measured max on the 64-dim
    * fixture is 5850 micro, 17× under the 100000 default margin. */
  def qvErrorCard(raw: DataFrame, cells: Int = 4,
      marginMicro: Long = 100000L): DataFrame = {
    require(cells >= 1, s"cells must be >= 1, got $cells")
    require(marginMicro >= 0L,
      s"marginMicro must be >= 0, got $marginMicro")
    val v0 = raw.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", vec_norm2(col("embedding")))
    // per-VECTOR work stays per-vector: the qv int norm is computed
    // once here, never re-aggregated per candidate pair (a 500k-pair
    // run re-folding two 64-element arrays per pair measured 4× the
    // wall of the pair dots themselves)
    val v = quantizeInt8(v0).drop("mx")
      .withColumn("n8", expr(
        "aggregate(qv, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"))
    val seeds = v0.orderBy(col("vec_id")).limit(cells)
      .select(col("vec_id").as("cluster"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("centroid"))
    val base = v.join(
      assignToCentroids(v0, seeds).select(col("vec_id"), col("cluster")),
      Seq("vec_id"))
    def side(p: String) = base.select(col("cluster"),
      col("vec_id").as(s"${p}_id"), col("embedding").as(s"${p}_emb"),
      col("nrm").as(s"${p}_nrm"), col("qv").as(s"${p}_qv"),
      col("n8").as(s"${p}_n8"))
    val pairs = side("a").join(side("b"), Seq("cluster"))
      .filter(col("a_id") < col("b_id"))
      // a zero-NORM vector cannot be priced by EITHER cosine: its
      // pairs are degenerate outright (NULL, counted apart) — also the
      // ANSI guard, 0/0 aborts the job under Spark 4 defaults
      .withColumn("__rc", when(col("a_nrm") > 0.0 && col("b_nrm") > 0.0,
        vec_dot(col("a_emb"), col("b_emb")) /
          (sqrt(col("a_nrm")) * sqrt(col("b_nrm")))))
      .withColumn("cosm",
        expr("CAST(floor(1000000 * __rc + 0.5) AS BIGINT)"))
      .withColumn("__d8", vec_dot_long(col("a_qv"), col("b_qv")))
      .withColumn("cos8m", expr(
        """CASE WHEN a_n8 = 0 OR b_n8 = 0 THEN NULL
           ELSE CAST(floor(1000000 * (__d8
             / (sqrt(CAST(a_n8 AS DOUBLE)) * sqrt(CAST(b_n8 AS DOUBLE))))
             + 0.5) AS BIGINT) END"""))
      .withColumn("err", abs(col("cosm") - col("cos8m")))
    // ONE pass over the pair table: the histogram's NULL-err group IS
    // the degenerate count (groupBy keeps the NULL key), so the stats
    // and the degeneracy tally never re-run the pair stage
    val hist = pairs.groupBy(col("err")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("err"))
    val wAll = Window.partitionBy()
    hist
      .withColumn("dg", when(col("err").isNull, col("c")).otherwise(0L))
      .withColumn("pc", when(col("err").isNotNull, col("c")).otherwise(0L))
      // cum/n over PRICED rows only (NULLS FIRST in the ordered window,
      // so the NULL group contributes 0 to every priced row's cum)
      .withColumn("cum", sum(col("pc")).over(w))
      .withColumn("n", sum(col("pc")).over(wAll))
      .agg(coalesce(sum(col("pc") + col("dg")), lit(0L)).as("n_pairs"),
        coalesce(sum(col("dg")), lit(0L)).as("n_degenerate"),
        coalesce(sum(col("pc")), lit(0L)).as("n_pairs_priced"),
        max(col("err")).as("max_err_micro"),
        min(when(col("err").isNotNull &&
            col("cum") >= expr("(n * 990 + 999) DIV 1000"),
          col("err"))).as("p99_err_micro"),
        sum(when(col("err") > marginMicro, col("c")).otherwise(0L))
          .as("over_margin"))
      .select(col("n_pairs"), col("n_degenerate"), col("n_pairs_priced"),
        col("max_err_micro"), col("p99_err_micro"), col("over_margin"))
  }

  /** Oracle fixture of [[qvErrorCard]] (⌊√n⌋ seed cells — the q312
    * production shape, so the measured error distribution comes from
    * the candidate structure the prefilter actually runs in — at the
    * 0.1 default margin): `over_margin` must hash to ZERO — the
    * cross-engine witness that the spec-pinned prefilter margin covers
    * every candidate pair on the fixture geometry, not just the
    * sampled maximum. */
  private val q319 = GQuery(
    "q319_qv_error_card",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val n = emb.agg(count(lit(1))).head.getLong(0)
      qvErrorCard(emb, cells = math.sqrt(n.toDouble).toInt)
        .orderBy(col("n_pairs"))
    },
    Some(s"""WITH k AS (SELECT CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)
            AS kc FROM embeddings),
      m AS (SELECT vec_id, embedding,
          ${normSql("embedding")} AS nrm,
          list_aggregate(list_transform(embedding,
            x -> abs(CAST(x AS DOUBLE))), 'max') AS mx
        FROM embeddings),
      v AS (SELECT vec_id, embedding, nrm,
          CASE WHEN mx = 0
            THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
            ELSE list_transform(embedding,
              x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5)
                AS BIGINT))
          END AS qv
        FROM m),
      seeds AS (SELECT vec_id AS cluster, embedding AS cemb FROM v
        WHERE vec_id < (SELECT kc FROM k)),
      asg AS (SELECT vec_id, cluster FROM (
          SELECT v.vec_id, s.cluster,
            ROW_NUMBER() OVER (PARTITION BY v.vec_id
              ORDER BY v.nrm + (${normSql("s.cemb")})
                - 2 * (${dotSql("v.embedding", "s.cemb")}), s.cluster)
              AS arn
          FROM v, seeds s) WHERE arn = 1),
      b AS (SELECT v.vec_id, v.embedding, v.nrm, v.qv, a.cluster
        FROM v JOIN asg a USING (vec_id)),
      pairs AS (SELECT
          CASE WHEN x.nrm > 0 AND y.nrm > 0 THEN
            CAST(floor(1000000 * ((${dotSql("x.embedding", "y.embedding")})
              / (sqrt(x.nrm) * sqrt(y.nrm))) + 0.5) AS BIGINT) END AS cosm,
          ${(1 to 64).map(k => s"(x.qv[$k] * y.qv[$k])").mkString(" + ")}
            AS d8,
          ${(1 to 64).map(k => s"(x.qv[$k] * x.qv[$k])").mkString(" + ")}
            AS na8,
          ${(1 to 64).map(k => s"(y.qv[$k] * y.qv[$k])").mkString(" + ")}
            AS nb8
        FROM b x JOIN b y ON x.cluster = y.cluster
          AND x.vec_id < y.vec_id),
      e AS (SELECT cosm,
          CASE WHEN na8 = 0 OR nb8 = 0 THEN NULL
            ELSE CAST(floor(1000000 * (d8 / (sqrt(CAST(na8 AS DOUBLE))
              * sqrt(CAST(nb8 AS DOUBLE)))) + 0.5) AS BIGINT) END
            AS cos8m
        FROM pairs),
      er AS (SELECT cosm, cos8m, abs(cosm - cos8m) AS err FROM e),
      hist AS (SELECT err, CAST(COUNT(*) AS BIGINT) AS c FROM er
        WHERE err IS NOT NULL GROUP BY 1),
      hc AS (SELECT err, c,
          SUM(c) OVER (ORDER BY err) AS cum,
          SUM(c) OVER () AS n
        FROM hist),
      st AS (SELECT CAST(SUM(c) AS BIGINT) AS n_pairs_priced,
          MAX(err) AS max_err_micro,
          MIN(CASE WHEN cum >= (n * 990 + 999) // 1000 THEN err END)
            AS p99_err_micro,
          CAST(SUM(CASE WHEN err > 100000 THEN c ELSE 0 END) AS BIGINT)
            AS over_margin
        FROM hc),
      dg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
          CAST(SUM(CASE WHEN cos8m IS NULL OR cosm IS NULL
            THEN 1 ELSE 0 END) AS BIGINT) AS n_degenerate
        FROM er)
      SELECT n_pairs, n_degenerate, n_pairs_priced, max_err_micro,
        p99_err_micro, over_margin
      FROM dg, st
      ORDER BY n_pairs"""))

  /** MMR (maximal-marginal-relevance) diversified re-ranking — the
    * retrieval op between top-k (q29: the k MOST similar, often k
    * near-copies of each other) and semantic dedup (q76: drop
    * near-copies corpus-wide): greedily pick `k` of the top-`m`
    * candidates, each step maximizing `λ·sim(query, c) − (1−λ)·max
    * sim(c, already-picked)` — relevance traded against redundancy,
    * the standard recipe for diverse few-shot example selection and
    * search-result diversification. Scores are integer: the 6-dp
    * cosine lifts to micro (`ROUND(cos·10⁶)` — no half-ties can arise
    * from a 6-dp value), λ is milli, so the MMR objective is exact
    * BIGINT nano and the argmax (ties on candidate id) is
    * deterministic cross-engine.
    *
    * Plan: the candidate stage is q29's brute-force top-m (the eval
    * path — production swaps in the IVF/PQ ladder); the pair-sim table
    * is m² PER QUERY (a knob, never corpus²); each greedy step is an
    * anti-join + a max-aggregation + a per-query argmax window, all at
    * candidate grain, lineage-cut per step (the q139/q303 iterative
    * discipline). */
  def mmrRerank(raw: DataFrame, k: Int = 3, m: Int = 10,
      lambdaMilli: Long = 700L, queryMod: Int = 20,
      reliable: Boolean = false): DataFrame = {
    require(m >= 2 && m <= 64, s"m must be in [2, 64], got $m")
    require(k >= 1 && k <= m, s"k must be in [1, $m], got $k")
    require(lambdaMilli >= 0L && lambdaMilli <= 1000L,
      s"lambdaMilli must be in [0, 1000], got $lambdaMilli")
    def snap(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    val lam = lambdaMilli
    val cands = snap(cosineTopK(raw, k = m, queryMod = queryMod)
      .select(col("query_id"), col("neighbor_id").as("cand_id"),
        expr("CAST(ROUND(cosine * 1000000) AS BIGINT)").as("cos_micro")))
    val ce = cands.select(col("query_id"), col("cand_id"))
      .join(withNorm(raw).select(col("vec_id").as("cand_id"),
        col("embedding"), col("nrm")), Seq("cand_id"))
    val pairs = snap(ce.as("a").join(ce.as("b"),
        expr("a.query_id = b.query_id AND a.cand_id <> b.cand_id"))
      .select(col("a.query_id").as("query_id"),
        col("a.cand_id").as("a_id"), col("b.cand_id").as("b_id"),
        round(lit(1000000) *
            cosine(col("a.embedding"), col("a.nrm"),
              col("b.embedding"), col("b.nrm")), 0)
          .cast(LongType).as("sim_micro")))
    var selected = snap(cands.limit(0)
      .select(col("query_id"), col("cand_id"), lit(0L).as("rank"),
        lit(0L).as("mmr_nano")))
    for (step <- 1 to k) {
      val rem = cands.join(selected.select("query_id", "cand_id"),
        Seq("query_id", "cand_id"), "left_anti")
      val maxSel = pairs
        .join(selected.select(col("query_id"),
          col("cand_id").as("b_id")), Seq("query_id", "b_id"))
        .groupBy(col("query_id"), col("a_id").as("cand_id"))
        .agg(max(col("sim_micro")).as("__ms"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("mmr_nano").desc, col("cand_id"))
      val pick = rem.join(maxSel, Seq("query_id", "cand_id"), "left")
        .withColumn("mmr_nano",
          expr(s"$lam * cos_micro - ${1000 - lam} * coalesce(__ms, 0L)"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("query_id"), col("cand_id"),
          lit(step.toLong).as("rank"), col("mmr_nano"))
      selected = snap(selected.unionByName(pick))
    }
    selected
  }

  /** Oracle fixture of [[mmrRerank]] (k = 3 of the top-10, λ = 0.7):
    * the greedy steps unroll as CTE blocks — each one an anti-join on
    * everything selected so far, a max-sim aggregation, and the
    * per-query argmax. */
  private val q309 = {
    val steps = (1 to 3).map { i =>
      val prev = s"selall${i - 1}"
      s"""rem$i AS (SELECT c.* FROM cands c WHERE NOT EXISTS (
            SELECT 1 FROM $prev s WHERE s.query_id = c.query_id
              AND s.cand_id = c.cand_id)),
        mx$i AS (SELECT p.query_id, p.a_id, MAX(p.sim_micro) AS ms
          FROM cpairs p JOIN $prev s ON s.query_id = p.query_id
            AND s.cand_id = p.b_id
          GROUP BY 1, 2),
        sc$i AS (SELECT r.query_id, r.cand_id,
            700 * r.cos_micro - 300 * COALESCE(mx.ms, 0) AS mmr
          FROM rem$i r LEFT JOIN mx$i mx ON mx.query_id = r.query_id
            AND mx.a_id = r.cand_id),
        sel$i AS (SELECT query_id, cand_id, CAST($i AS BIGINT) AS rank,
            CAST(mmr AS BIGINT) AS mmr_nano
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY mmr DESC, cand_id) AS rn FROM sc$i)
          WHERE rn = 1),
        selall$i AS (SELECT * FROM selall${i - 1} UNION ALL
          SELECT query_id, cand_id FROM sel$i)"""
    }.mkString(",\n")
    GQuery(
      "q309_mmr_rerank",
      (s, dir) => mmrRerank(t(s, dir, "embeddings"))
        .orderBy(col("query_id"), col("rank")),
      Some(s"""WITH v AS (SELECT vec_id, embedding,
            ${normSql("embedding")} AS nrm FROM embeddings),
        q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
          FROM v WHERE vec_id % 20 = 0),
        cp AS (SELECT query_id, c.vec_id AS cand_id,
            ROUND((${dotSql("qe", "c.embedding")})
              / (sqrt(qn) * sqrt(c.nrm)), 6) AS cosine
          FROM v c, q WHERE c.vec_id <> query_id),
        cpr AS (SELECT query_id, cand_id, cosine,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, cand_id) AS rn
          FROM cp),
        cands AS (SELECT query_id, cand_id,
            CAST(ROUND(cosine * 1000000) AS BIGINT) AS cos_micro
          FROM cpr WHERE rn <= 10),
        ce AS (SELECT cands.query_id, cands.cand_id, v.embedding, v.nrm
          FROM cands JOIN v ON v.vec_id = cands.cand_id),
        cpairs AS (SELECT a.query_id, a.cand_id AS a_id,
            b.cand_id AS b_id,
            CAST(ROUND(1000000 * ROUND((${dotSql("a.embedding",
              "b.embedding")}) / (sqrt(a.nrm) * sqrt(b.nrm)), 6))
              AS BIGINT) AS sim_micro
          FROM ce a JOIN ce b ON a.query_id = b.query_id
            AND a.cand_id <> b.cand_id),
        selall0 AS (SELECT CAST(NULL AS BIGINT) AS query_id,
            CAST(NULL AS BIGINT) AS cand_id WHERE false),
        $steps
        SELECT query_id, cand_id, rank, mmr_nano
        FROM (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
          UNION ALL SELECT * FROM sel3)
        ORDER BY query_id, rank"""))
  }

  val queries: Seq[GQuery] =
    Seq(q29, q29b, q30, q42, q43, q55, q58, q59, q76, q80, q82, q99, q106,
      q108, q113, q114, q115, q121, q122, q125, q132, q136, q166, q167,
      q174, q193, q197, q207, q230, q235, q289, q309, q312, q319)
}
