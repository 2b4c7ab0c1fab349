package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Dsl._

/** Graph centrality over the near-duplicate candidate graph.
  *
  * [[TextQ.connectedComponents]] tells a dedup pass WHICH docs belong
  * together; PageRank tells it WHICH ONE to keep: the highest-centrality
  * member of a mirror family is the canonical origin (the page every
  * mirror near-duplicates), a materially better survivor than q26b's
  * min-doc_id or q69's length policy when families mix originals with
  * truncated/boilerplate-wrapped copies.
  *
  * Exact-integer fixed point: ranks are ppm (parts-per-million of the
  * uniform 1.0 mass), a neighbor's contribution is `rank_ppm DIV degree`
  * and the damped update is `(10⁶ − damp) + (damp · Σcontrib) DIV 10⁶` —
  * all BIGINT, so the result is engine-portable and independent of
  * summation order, and the oracle replays it exactly. Quantization bias
  * (≤1 ppm per edge per round) is irrelevant for the argmax use.
  */
object GraphQ {

  /** `iterations` rounds of damped PageRank over the UNDIRECTED graph of
    * candidate pairs (doc_a, doc_b); both directions are materialized, so
    * every node has indegree = outdegree = its degree and no dangling-mass
    * term is needed. Isolated docs (no candidate edge) are not ranked —
    * they are their own canonical by definition.
    *
    * Scale shape: the edge table is materialized once (lineage cut, the
    * [[TextQ.connectedComponents]] pattern) with its degree pre-joined;
    * each round is one hash shuffle on the rank key and one on the
    * neighbor key — O(iterations) shuffles over candidate-pair-sized
    * data, never corpus-sized. Driver traffic: zero (no convergence
    * check — the iteration budget is the contract, matching the oracle's
    * fixed unrolling).
    *
    * Long-arithmetic bound: Σcontrib over a node's in-edges ≤ degree ·
    * max-neighbor-rank; with band-capped candidate generation
    * ([[TextQ.lshCandidates]]) degree is bounded by bands·maxBandSize, so
    * `damp · Σ` stays far from Long overflow at any realistic corpus. */
  def pagerankPpm(pairs: DataFrame, iterations: Int,
      dampPpm: Long = 850000L, reliable: Boolean = false): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    require(dampPpm >= 0L && dampPpm <= 1000000L,
      s"dampPpm must be in [0, 1e6], got $dampPpm")
    def snap(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    // materialize the INPUT first: `pairs` is typically the whole LSH
    // candidate pipeline, and it is referenced three times below (both
    // union branches + the degree build) — without the cut those
    // branches can each re-execute it
    val p = snap(pairs.select(col("doc_a"), col("doc_b")))
    // candidate pairs are distinct with doc_a < doc_b, so the two-way
    // union needs no dedup
    val sym = p.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(p.select(col("doc_b").as("u"), col("doc_a").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val edges = snap(sym.join(deg, Seq("u")))
    var ranks = edges.select(col("u")).distinct()
      .withColumn("rank_ppm", lit(1000000L))
    // round-15 note: running the whole fixed-round budget as one lazy
    // action (no per-round snap — `ranks` is consumed once per round,
    // so lineage grows linearly) was tried and MEASURED SLOWER at sf0.1
    // (q139 1.75 s → 2.19 s, q140 2.65 → 3.00): with live statistics
    // AQE re-plans each round's join (broadcast build + driver
    // round-trip per round) where the materialized round ran a plain
    // co-partitioned hash join. The per-round cut stays.
    for (_ <- 1 to iterations) {
      ranks = snap(edges.join(ranks, Seq("u"))
        .select(col("v"), expr("rank_ppm DIV deg").as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("in_ppm"))
        .select(col("v").as("u"),
          (lit(1000000L - dampPpm) +
            expr(s"(CAST($dampPpm AS BIGINT) * in_ppm) DIV 1000000")
          ).as("rank_ppm")))
    }
    ranks.join(deg, Seq("u"))
      .select(col("u").as("doc_id"), col("rank_ppm"),
        col("deg").cast(LongType).as("degree"))
  }

  /** Oracle fixture of [[pagerankPpm]]: 3 rounds over q26's candidate
    * graph (est Jaccard ≥ 0.25 — the exact `cand` CTE q26 pins). */
  private val q139 = {
    val iters = (1 to 3).map { i =>
      s"""r$i AS (SELECT e.v AS u,
            CAST(150000 + (850000 * SUM(r.rank_ppm // e.deg)) // 1000000
              AS BIGINT) AS rank_ppm
          FROM edges e JOIN r${i - 1} r ON e.u = r.u
          GROUP BY e.v)"""
    }.mkString(",\n")
    GQuery(
      "q139_dup_pagerank",
      (s, dir) => pagerankPpm(
        TextQ.lshCandidates(TextQ.minhashBands(t(s, dir, "documents")))
          .filter(col("est_jaccard") >= 0.25),
        iterations = 3)
        .orderBy(col("doc_id")),
      Some(s"""${TextQ.minhashCandSql},
        sym AS (SELECT doc_a AS u, doc_b AS v FROM cand
                UNION ALL SELECT doc_b, doc_a FROM cand),
        deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u),
        edges AS (SELECT sym.u, sym.v, deg.deg FROM sym JOIN deg USING (u)),
        r0 AS (SELECT u, CAST(1000000 AS BIGINT) AS rank_ppm FROM deg),
        $iters
        SELECT r3.u AS doc_id, r3.rank_ppm, CAST(deg.deg AS BIGINT) AS degree
        FROM r3 JOIN deg ON r3.u = deg.u
        ORDER BY doc_id"""))
  }

  /** The full centrality-based dedup decision: cluster the candidate
    * graph ([[TextQ.connectedComponents]]) AND rank it ([[pagerankPpm]]),
    * then keep the highest-centrality member per component (ties broken
    * by min doc_id — a total order). One `is_canonical` row per ranked
    * doc, directly anti-joinable against the corpus as the dedup filter.
    *
    * The candidate pairs are checkpointed ONCE here and feed both
    * consumers — without that, the expensive LSH pipeline upstream would
    * execute twice (each consumer cuts its own lineage internally but
    * still needs the input materialized). */
  def canonicalByCentrality(pairs: DataFrame, iterations: Int = 3,
      reliable: Boolean = false): DataFrame = {
    val p = if (reliable) pairs.checkpoint() else pairs.localCheckpoint()
    canonicalFrom(p, TextQ.connectedComponents(p, reliable = reliable),
      iterations, reliable)
  }

  /** [[canonicalByCentrality]] over PRE-BUILT (materialized) candidate
    * pairs AND components — the
    * [[graft.pipelines.DedupGraphPipeline]] entry point, where both
    * structures are shared across every gate instead of being rebuilt
    * here. */
  def canonicalFrom(pairs: DataFrame, comps: DataFrame,
      iterations: Int = 3, reliable: Boolean = false): DataFrame = {
    val ranks = pagerankPpm(pairs, iterations, reliable = reliable)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("rank_ppm").desc, col("doc_id"))
    comps.join(ranks, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("component"), col("rank_ppm"),
        (col("rn") === 1).as("is_canonical"))
  }

  /** Oracle fixture of [[canonicalByCentrality]]: q26b's recursive
    * component closure joined to q139's unrolled 3-round rank, argmax by
    * (rank desc, doc_id) per component. */
  private val q140 = {
    val iters = (1 to 3).map { i =>
      s"""r$i AS (SELECT e.v AS u,
            CAST(150000 + (850000 * SUM(r.rank_ppm // e.deg)) // 1000000
              AS BIGINT) AS rank_ppm
          FROM edges e JOIN r${i - 1} r ON e.u = r.u
          GROUP BY e.v)"""
    }.mkString(",\n")
    GQuery(
      "q140_canonical_centrality",
      (s, dir) => canonicalByCentrality(
        TextQ.lshCandidates(TextQ.minhashBands(t(s, dir, "documents")))
          .filter(col("est_jaccard") >= 0.25))
        .orderBy(col("doc_id")),
      Some(s"""${TextQ.minhashCandSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
        sym AS (SELECT doc_a AS u, doc_b AS v FROM cand
                UNION ALL SELECT doc_b, doc_a FROM cand),
        deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u),
        edges AS (SELECT sym.u, sym.v, deg.deg FROM sym JOIN deg USING (u)),
        r0 AS (SELECT u, CAST(1000000 AS BIGINT) AS rank_ppm FROM deg),
        $iters,
        reach(u, v) AS (
          SELECT u, v FROM sym
          UNION
          SELECT r.u, e.v FROM reach r JOIN sym e ON r.v = e.u),
        comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS component
                 FROM reach GROUP BY u)
        SELECT c.doc_id, c.component, r3.rank_ppm,
          ROW_NUMBER() OVER (PARTITION BY c.component
            ORDER BY r3.rank_ppm DESC, c.doc_id) = 1 AS is_canonical
        FROM comp c JOIN r3 ON c.doc_id = r3.u
        ORDER BY c.doc_id"""))
  }

  /** Per-node triangle count and local clustering coefficient over the
    * candidate graph — the structural trust gate for a dedup family:
    * a true mirror family is near-clique (clustering → 1e6 ppm), while
    * a hub-and-spoke star (clustering → 0 at high degree) means one
    * boilerplate template chained unrelated docs together and a
    * transitive-closure dedup ([[TextQ.connectedComponents]]) would
    * over-merge. Reading this card BEFORE trusting components is the
    * graph twin of the cluster-purity / recall gates (q125/q58).
    *
    * Scale shape — the classic wedge blow-up is handled by DEGREE
    * orientation, not id orientation: each undirected edge points from
    * its (degree, id)-smaller endpoint to the larger, so per-node
    * out-degree is O(√m) on any graph and wedge enumeration is the
    * optimal O(m^1.5) node-iterator bound instead of Σdeg² — a
    * million-edge hub explodes id-oriented wedges but stays flat here.
    * The orientation is a total order, so its 3-node tournament is
    * acyclic and exactly ONE vertex of each triangle holds both
    * out-edges: every triangle is enumerated once, no /3 correction,
    * and the id-oriented oracle enumeration finds the identical set.
    * Three joins total (2 orientation + 1 closure), all
    * candidate-edge-sized; the input is materialized once (lineage cut,
    * the [[pagerankPpm]] pattern).
    *
    * clustering_ppm = 2·tri·10⁶ DIV (deg·(deg−1)) in exact integer
    * arithmetic; degree-1 nodes report 0 (no possible wedge) instead of
    * tripping ANSI division. */
  /** Canonical undirected edge list (u < v, self-loops dropped,
    * distinct), materialized via the caller's snap. */
  private def normEdges(pairs: DataFrame,
      snap: DataFrame => DataFrame): DataFrame =
    snap(pairs
      .select(least(col("doc_a"), col("doc_b")).as("u"),
        greatest(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct())

  private def degreeOf(e: DataFrame): DataFrame =
    e.select(col("u").as("n")).union(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))

  /** Degree-oriented triangle enumeration (src, d1, d2) — each triangle
    * exactly once, wedge work at the O(m^1.5) node-iterator bound on
    * any skew (see [[triangleStats]]'s doc for the argument). */
  private def orientedTriangles(e: DataFrame, deg: DataFrame): DataFrame = {
    val oriented = e
      .join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("src"), col("v").as("dst")))
          .otherwise(struct(col("v").as("src"), col("u").as("dst")))
          .as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"))
    val o1 = oriented.select(col("src"), col("dst").as("d1"))
    val o2 = oriented.select(col("src"), col("dst").as("d2"))
    val wedges = o1.join(o2, Seq("src")).filter(col("d1") < col("d2"))
    wedges.join(e,
      least(col("d1"), col("d2")) === col("u") &&
        greatest(col("d1"), col("d2")) === col("v"))
      .select(col("src"), col("d1"), col("d2"))
  }

  def triangleStats(pairs: DataFrame, reliable: Boolean = false): DataFrame = {
    def snap(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    // normalize defensively: canonical u<v, self-loops dropped, distinct
    val e = normEdges(pairs, snap)
    val deg = degreeOf(e)
    val tris = orientedTriangles(e, deg)
    val perNode = tris.select(explode(array(col("src"), col("d1"),
        col("d2"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("n"), "left")
      .select(col("n").as("doc_id"), col("deg").cast(LongType).as("degree"),
        coalesce(col("tri"), lit(0L)).cast(LongType).as("triangles"),
        expr("""CASE WHEN deg < 2 THEN CAST(0 AS BIGINT)
          ELSE (2 * coalesce(tri, 0) * 1000000) DIV (deg * (deg - 1))
          END""").as("clustering_ppm"))
  }

  /** Oracle fixture of [[triangleStats]]: q26's candidate graph (the
    * q139 input); the oracle enumerates triangles by id orientation —
    * same set, different discovery route — proving the degree-oriented
    * plan exact. */
  private val q176 = GQuery(
    "q176_triangle_stats",
    (s, dir) => triangleStats(
      TextQ.lshCandidates(TextQ.minhashBands(t(s, dir, "documents")))
        .filter(col("est_jaccard") >= 0.25))
      .orderBy(col("doc_id")),
    Some(s"""${TextQ.minhashCandSql},
      e AS (SELECT DISTINCT LEAST(doc_a, doc_b) AS u,
              GREATEST(doc_a, doc_b) AS v
            FROM cand WHERE doc_a <> doc_b),
      deg AS (SELECT n, COUNT(*) AS deg FROM (
                SELECT u AS n FROM e UNION ALL SELECT v FROM e)
              GROUP BY n),
      tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
              FROM e e1
              JOIN e e2 ON e2.u = e1.v
              JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      pn AS (SELECT n, COUNT(*) AS tri FROM (
               SELECT x AS n FROM tri
               UNION ALL SELECT y FROM tri
               UNION ALL SELECT z FROM tri)
             GROUP BY n)
      SELECT deg.n AS doc_id, CAST(deg.deg AS BIGINT) AS degree,
        CAST(COALESCE(pn.tri, 0) AS BIGINT) AS triangles,
        CASE WHEN deg.deg < 2 THEN CAST(0 AS BIGINT)
          ELSE (2 * COALESCE(pn.tri, 0) * 1000000) // (deg.deg * (deg.deg - 1))
          END AS clustering_ppm
      FROM deg LEFT JOIN pn ON deg.n = pn.n
      ORDER BY doc_id"""))

  /** Per-EDGE embeddedness — the trust gate for a single candidate
    * link where [[triangleStats]] grades whole nodes: for each edge,
    * the count of COMMON NEIGHBORS (triangles through the edge) and the
    * neighborhood-Jaccard in exact ppm
    * (`cn / (deg_a + deg_b − cn − 2)` — endpoints excluded from the
    * union). Entity-resolution systems drop low-embeddedness edges
    * before transitive closure: a true mirror pair shares most of its
    * family (emb → 10⁶), while the single boilerplate edge chaining two
    * unrelated families has no common neighbor at all (emb = 0) — the
    * precise cut that stops mega-cluster formation, finer than dropping
    * whole low-clustering NODES. Bridge edges (both endpoints degree 1)
    * have an empty denominator and read 0.
    *
    * Scale shape: the SAME degree-oriented triangle enumeration as
    * [[triangleStats]] (wedge work O(m^1.5) on any skew); each triangle
    * then charges its 3 edges — one explode + one (edge)-keyed count,
    * candidate-edge-sized; the final assembly is three equi-joins on
    * edge/node keys. */
  def edgeEmbeddedness(pairs: DataFrame, reliable: Boolean = false)
      : DataFrame = {
    def snap(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    val e = normEdges(pairs, snap)
    val deg = degreeOf(e)
    val tris = orientedTriangles(e, deg)
    val perEdge = tris.select(explode(array(
        struct(least(col("src"), col("d1")).as("u"),
          greatest(col("src"), col("d1")).as("v")),
        struct(least(col("src"), col("d2")).as("u"),
          greatest(col("src"), col("d2")).as("v")),
        struct(col("d1").as("u"), col("d2").as("v")))).as("ed"))
      .select(col("ed.u").as("u"), col("ed.v").as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cn"))
    e.join(perEdge, Seq("u", "v"), "left")
      .join(deg.select(col("n").as("u"), col("deg").as("deg_a")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("deg_b")), Seq("v"))
      .select(col("u").as("doc_a"), col("v").as("doc_b"),
        coalesce(col("cn"), lit(0L)).cast(LongType).as("common_neighbors"),
        col("deg_a").cast(LongType).as("deg_a"),
        col("deg_b").cast(LongType).as("deg_b"),
        expr("""CASE WHEN deg_a + deg_b - coalesce(cn, 0) - 2 <= 0
            THEN CAST(0 AS BIGINT)
            ELSE (1000000 * coalesce(cn, 0))
              DIV (deg_a + deg_b - coalesce(cn, 0) - 2) END""")
          .as("emb_ppm"))
  }

  /** Oracle fixture of [[edgeEmbeddedness]]: q26's candidate graph; the
    * oracle enumerates triangles by id orientation (the q176 proof
    * route) and charges each triangle's three canonical edges. */
  private val q227 = GQuery(
    "q227_edge_embeddedness",
    (s, dir) => edgeEmbeddedness(
      TextQ.lshCandidates(TextQ.minhashBands(t(s, dir, "documents")))
        .filter(col("est_jaccard") >= 0.25))
      .orderBy(col("doc_a"), col("doc_b")),
    Some(s"""${TextQ.minhashCandSql},
      e AS (SELECT DISTINCT LEAST(doc_a, doc_b) AS u,
              GREATEST(doc_a, doc_b) AS v
            FROM cand WHERE doc_a <> doc_b),
      deg AS (SELECT n, COUNT(*) AS deg FROM (
                SELECT u AS n FROM e UNION ALL SELECT v FROM e)
              GROUP BY n),
      tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
              FROM e e1
              JOIN e e2 ON e2.u = e1.v
              JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      pe AS (SELECT u, v, COUNT(*) AS cn FROM (
               SELECT x AS u, y AS v FROM tri
               UNION ALL SELECT y, z FROM tri
               UNION ALL SELECT x, z FROM tri)
             GROUP BY u, v)
      SELECT e.u AS doc_a, e.v AS doc_b,
        CAST(COALESCE(pe.cn, 0) AS BIGINT) AS common_neighbors,
        CAST(da.deg AS BIGINT) AS deg_a, CAST(db.deg AS BIGINT) AS deg_b,
        CASE WHEN da.deg + db.deg - COALESCE(pe.cn, 0) - 2 <= 0
          THEN CAST(0 AS BIGINT)
          ELSE (1000000 * COALESCE(pe.cn, 0))
            // (da.deg + db.deg - COALESCE(pe.cn, 0) - 2) END AS emb_ppm
      FROM e
      LEFT JOIN pe ON pe.u = e.u AND pe.v = e.v
      JOIN deg da ON da.n = e.u
      JOIN deg db ON db.n = e.v
      ORDER BY doc_a, doc_b"""))

  /** Synchronous label propagation (LPA) — COMMUNITY detection over the
    * candidate graph, the mid-resolution structure between
    * [[TextQ.connectedComponents]] (everything reachable is one family —
    * over-merges when a template bridge links two real families) and
    * [[triangleStats]] (per-node density only): after `rounds`
    * synchronous votes each node carries the label held by the plurality
    * of its neighbors-plus-self, so a thin template bridge between two
    * dense mirror families keeps two labels where components force one.
    * Deterministic: labels start as node ids, a round's vote is argmax
    * by (count desc, label asc) — a total order — and the round budget
    * is the contract (the q139 fixed-iteration convention, no
    * convergence check, no driver traffic).
    *
    * Scale shape: per round one hash shuffle of neighbor labels and one
    * (node, label)-sized vote aggregation — candidate-edge-sized, never
    * corpus-sized; lineage cut per round. */
  def labelPropagation(pairs: DataFrame, rounds: Int = 3,
      reliable: Boolean = false): DataFrame = {
    require(rounds >= 1 && rounds <= 50,
      s"rounds must be in [1, 50], got $rounds")
    def snap(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    // a self-pair would add (u, u) rows beside the self-loop below and
    // so duplicate u's initial label, multiplying its round-1 vote
    val p = snap(pairs.filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b")))
    val sym = p.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionAll(p.select(col("doc_b").as("u"), col("doc_a").as("v")))
    // round-15: the self-vote (each node's own label, count 1) is folded
    // into the edge set as SELF-LOOPS — (u, u) joined to labels on v
    // contributes exactly the old `unionAll(labels)` row, so `labels`
    // is consumed exactly ONCE per round and the round loses the
    // second labels reference. Vote multisets are identical, so
    // results are too. (Running the whole budget as one lazy action
    // was tried on top and measured slower — the pagerankPpm note;
    // the per-round cut stays.)
    val edges = snap(sym.unionAll(
      sym.select(col("u")).distinct().select(col("u"), col("u").as("v"))))
    var labels = edges.filter(col("u") === col("v"))
      .select(col("u"), col("u").as("label"))
    for (_ <- 1 to rounds) {
      labels = snap(edges
        .join(labels.select(col("u").as("v"), col("label")), Seq("v"))
        .select(col("u"), col("label"))
        .groupBy(col("u"), col("label")).agg(count(lit(1)).as("n"))
        .groupBy(col("u"))
        .agg(max(struct(col("n"), (-col("label")).as("nl"))).as("top"))
        .select(col("u"), (-col("top.nl")).as("label")))
    }
    labels.select(col("u").as("doc_id"), col("label").as("community"))
  }

  /** Oracle fixture of [[labelPropagation]]: 3 rounds over the q26
    * candidate graph. */
  private val q203 = {
    val iters = (1 to 3).map { i =>
      s"""v$i AS (SELECT u, label, COUNT(*) AS n FROM (
            SELECT e.u, l.label
            FROM edges e JOIN l${i - 1} l ON l.u = e.v
            UNION ALL
            SELECT u, label FROM l${i - 1})
          GROUP BY u, label),
        l$i AS (SELECT u, label FROM (
            SELECT u, label,
              ROW_NUMBER() OVER (PARTITION BY u
                ORDER BY n DESC, label) AS rn
            FROM v$i) WHERE rn = 1)"""
    }.mkString(",\n")
    GQuery(
      "q203_lpa_communities",
      (s, dir) => labelPropagation(
        TextQ.lshCandidates(TextQ.minhashBands(t(s, dir, "documents")))
          .filter(col("est_jaccard") >= 0.25),
        rounds = 3)
        .orderBy(col("doc_id")),
      Some(s"""${TextQ.minhashCandSql},
        edges AS (SELECT doc_a AS u, doc_b AS v FROM cand
                  UNION ALL SELECT doc_b, doc_a FROM cand),
        l0 AS (SELECT DISTINCT u, u AS label FROM edges),
        $iters
        SELECT u AS doc_id, label AS community
        FROM l3
        ORDER BY doc_id"""))
  }

  /** k-core peeling — the third graph trust gate beside [[triangleStats]]
    * (local density) and [[labelPropagation]] (communities): iteratively
    * delete nodes with degree < k; what survives `rounds` peels is the
    * k-core, the subgraph where EVERY member has ≥ k within-core
    * neighbors. Dedup use: 2-core members sit in genuinely
    * inter-connected mirror families, while tree-shaped chains (pure
    * template bridging — exactly what over-merges under closure) peel
    * away entirely. The round budget is the contract (the q139/q203
    * convention — peeling converges once no node drops, and a fixed
    * unrolling is what the oracle can replay); each round is one degree
    * aggregation + one semi-join over the surviving edge set, lineage
    * cut per round. */
  def kCore(pairs: DataFrame, k: Int = 2, rounds: Int = 5,
      reliable: Boolean = false): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1, 1000], got $k")
    require(rounds >= 1 && rounds <= 50,
      s"rounds must be in [1, 50], got $rounds")
    def snap(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    val p = snap(pairs.select(col("doc_a"), col("doc_b")))
    var edges = snap(p.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionAll(p.select(col("doc_b").as("u"), col("doc_a").as("v"))))
    // round-15 note: a window-count peel (degree as count over the u/v
    // partitions, single edge reference, no per-round snap) was tried
    // and MEASURED SLOWER — each WindowExec inserts a per-round sort
    // the hash aggregate + semi-joins don't pay (q214 1.84 s → 2.50 s
    // at sf0.1). The aggregate+join round with its per-round cut stays.
    for (_ <- 1 to rounds) {
      val keep = edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("u"))
      edges = snap(edges
        .join(keep, Seq("u"))
        .join(keep.select(col("u").as("v")), Seq("v"))
        .select(col("u"), col("v")))
    }
    edges.groupBy(col("u")).agg(count(lit(1)).as("core_degree"))
      .select(col("u").as("doc_id"), col("core_degree"))
  }

  /** Oracle fixture of [[kCore]]: the 2-core of the q26 candidate graph
    * after 5 unrolled peels. */
  private val q214 = {
    // AS MATERIALIZED on every peel: k$i and e$i each reference e${i-1},
    // and DuckDB inlines plain CTEs — un-materialized the candidate
    // pipeline would replicate 2^5 times (the q180 CTE-doubling lesson)
    val peels = (1 to 5).map { i =>
      s"""k$i AS MATERIALIZED (SELECT u FROM e${i - 1}
          GROUP BY u HAVING COUNT(*) >= 2),
        e$i AS MATERIALIZED (SELECT e.u, e.v FROM e${i - 1} e
          JOIN k$i a ON a.u = e.u
          JOIN k$i b ON b.u = e.v)"""
    }.mkString(",\n")
    GQuery(
      "q214_kcore",
      (s, dir) => kCore(
        TextQ.lshCandidates(TextQ.minhashBands(t(s, dir, "documents")))
          .filter(col("est_jaccard") >= 0.25))
        .orderBy(col("doc_id")),
      Some(s"""${TextQ.minhashCandSql},
        e0 AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM cand
               UNION ALL SELECT doc_b, doc_a FROM cand),
        $peels
        SELECT u AS doc_id, COUNT(*) AS core_degree
        FROM e5 GROUP BY u
        ORDER BY doc_id"""))
  }

  /** HITS hubs/authorities — the DIRECTED centrality pair the
    * undirected family (q139 PageRank, q214 k-core, q203 LPA) cannot
    * express: on an edge u→v, a good HUB points at good authorities
    * and a good AUTHORITY is pointed at by good hubs (`h = E·a`,
    * `a = Eᵀ·h`). On a caller→callee graph that separates the two
    * fraud-relevant roles a single undirected score conflates: a
    * SIM-box is a pathological hub (sprays terminations), a premium
    * trap a pathological authority (harvests them). Each half-step
    * max-normalizes to ppm (`(10⁶·x) DIV max`) — the integer twin of
    * the classic norm, deterministic cross-engine, no floats. Edge
    * MULTIPLICITY is weight: pass distinct edges for the unweighted
    * reading. Output: one row per (node, role) with the final score.
    *
    * Plan: the q139 discipline — per iteration two hash joins + two
    * aggregations on the edge key, each side lineage-cut so iteration
    * k never re-executes k−1; the max is a broadcast scalar. Work per
    * round is O(|edges|), shuffled on src/dst — bucketable at 100 TB. */
  def hitsPpm(edges0: DataFrame, iterations: Int = 2,
      reliable: Boolean = false): DataFrame = {
    require(iterations >= 1 && iterations <= 20,
      s"iterations must be in [1, 20], got $iterations")
    def snap(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    val edges = snap(edges0.select(col("src"), col("dst")))
    // `1000000 · v` would overflow BIGINT once the max raw score
    // passes ~9.2e12 (raw ≈ 1e6 · degree, so a ~9.2M-degree node on a
    // national-scale graph). The normalization is therefore defined as
    // the TWO-STEP scale-down below: exact ppm whenever the max fits
    // (s = 1 — every realistic fixture), and a deterministic
    // ±s-quantized ppm above it — both engines implement the same
    // formula, so parity holds at any scale and nothing ever throws.
    def normalized(raw: DataFrame, key: String, v: String): DataFrame = {
      val mx = raw.agg(max(col(v)).as("__mx"))
      raw.crossJoin(broadcast(mx))
        .withColumn("__s",
          expr("CASE WHEN __mx > 9000000000000L THEN __mx DIV 1000000L " +
            "ELSE 1L END"))
        .select(col(key),
          expr(s"(($v DIV __s) * 1000000) DIV (__mx DIV __s)").as(v))
    }
    var hubs = edges.select(col("src")).distinct()
      .withColumn("h", lit(1000000L))
    // iterations >= 1, so `auths` is always assigned before first read
    var auths: DataFrame = null
    // round-15: snap the RAW half-step aggregate, not the normalized
    // output — `normalized` references its input twice (the max
    // aggregate's scalar AND the crossJoin side), so snapping after it
    // executed the expensive edge-join + sum TWICE per half-step; the
    // normalization itself is a cheap broadcast map over the node-grain
    // snapshot and stays lazy (its two downstream references re-run only
    // that map, never the join).
    for (_ <- 1 to iterations) {
      auths = normalized(snap(edges.join(hubs, Seq("src"))
        .groupBy(col("dst")).agg(sum(col("h")).as("a"))), "dst", "a")
      hubs = normalized(snap(edges.join(auths, Seq("dst"))
        .groupBy(col("src")).agg(sum(col("a")).as("h"))), "src", "h")
    }
    hubs.select(col("src").as("node"), lit("hub").as("role"),
        col("h").as("score_ppm"))
      .unionByName(auths.select(col("dst").as("node"),
        lit("authority").as("role"), col("a").as("score_ppm")))
  }

  /** Oracle fixture of [[hitsPpm]]: 2 rounds over the caller→callee
    * graph (the q276/q277 derivation), distinct edges. */
  private val q303 = {
    val steps = (1 to 2).map { i =>
      val prevH = if (i == 1) "h0" else s"h${i - 1}"
      s"""a${i}r AS (SELECT dst, CAST(SUM(h) AS BIGINT) AS ar
            FROM edges JOIN $prevH USING (src) GROUP BY dst),
          a${i}m AS (SELECT MAX(ar) AS mx,
            CASE WHEN MAX(ar) > 9000000000000 THEN MAX(ar) // 1000000
              ELSE 1 END AS s FROM a${i}r),
          a$i AS (SELECT dst, ((ar // s) * 1000000) // (mx // s) AS a
            FROM a${i}r, a${i}m),
          h${i}r AS (SELECT src, CAST(SUM(a) AS BIGINT) AS hr
            FROM edges JOIN a$i USING (dst) GROUP BY src),
          h${i}m AS (SELECT MAX(hr) AS mx,
            CASE WHEN MAX(hr) > 9000000000000 THEN MAX(hr) // 1000000
              ELSE 1 END AS s FROM h${i}r),
          h$i AS (SELECT src, ((hr // s) * 1000000) // (mx // s) AS h
            FROM h${i}r, h${i}m)"""
    }.mkString(",\n")
    GQuery(
      "q303_hits_roles",
      (s, dir) => hitsPpm(
        t(s, dir, "events").select(
          expr("CAST(user_id AS STRING)").as("src"),
          expr("CAST(100000000 + (event_id * 7919) % 900000000 AS STRING)")
            .as("dst")).distinct(),
        iterations = 2)
        .orderBy(col("role"), col("node")),
      Some(s"""WITH calls AS (SELECT CAST(user_id AS VARCHAR) AS src,
            CAST(100000000 + (event_id * 7919) % 900000000 AS VARCHAR)
              AS dst
          FROM events),
        edges AS (SELECT DISTINCT src, dst FROM calls),
        h0 AS (SELECT DISTINCT src, CAST(1000000 AS BIGINT) AS h
          FROM edges),
        $steps
        SELECT node, role, score_ppm FROM (
          SELECT src AS node, 'hub' AS role, h AS score_ppm FROM h2
          UNION ALL SELECT dst, 'authority', a FROM a2)
        ORDER BY role, node"""))
  }

  val queries: Seq[GQuery] = Seq(q139, q140, q176, q203, q214, q227, q303)
}
