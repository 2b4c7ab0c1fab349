package graft

import org.apache.spark.sql.functions._

import graft.queries.{AnalyticsQ, EventQ, GraphQ, TextQ, TokenizerQ, VectorQ}

/** Hand-computed fixtures for the round-7 operators — the oracles pin
  * them against DuckDB on the corpus fixtures; these pin the SEMANTIC
  * edges a random corpus may not exercise (pigeonhole boundaries, tier
  * boundaries, scorer divergence, bridge topologies).
  */
class RoundSevenOpsSpec extends SparkSpec {

  import spark.implicits._

  // --- q193 k-center ---------------------------------------------------

  private def vec(xs: Double*): Seq[Float] =
    (xs ++ Seq.fill(64 - xs.length)(0.0)).map(_.toFloat)

  test("kCenterCoreset picks the farthest-point traversal in order") {
    // A has max norm -> anchor; B is farthest from A; C farthest from {A,B}
    val emb = Seq(
      (1L, vec(100.0)),        // A
      (2L, vec(-90.0)),        // B: dist2 to A = 190000^2 (quantized 1000x)
      (3L, vec(0.0, 50.0)),    // C
      (4L, vec(99.0))          // near A
    ).toDF("vec_id", "embedding")
    val got = VectorQ.kCenterCoreset(emb, k = 3)
      .orderBy(col("sel_round"))
      .as[(Long, Long, Long)].collect()
    assert(got.map(_._2).toSeq == Seq(1L, 2L, 3L), got.toSeq.toString)
    // round-1 score is the anchor's quantized norm^2
    assert(got(0)._3 == 100000L * 100000L)
    // scores are non-increasing from round 2 on (coverage radius)
    assert(got(1)._3 >= got(2)._3)
  }

  // --- q195 tiered rating ----------------------------------------------

  test("tieredCharges decomposes usage across bands exactly") {
    val tiers = Seq((0L, 5000L, 5L), (5000L, 20000L, 3L),
      (20000L, Long.MaxValue, 1L))
    val ev = Seq(
      (1L, "a", 30.0),    // 3000 units: 3000*5 = 15000
      (2L, "a", 70.0),    // 7000: 5000*5 + 2000*3 = 31000
      (3L, "b", 250.0)    // 25000: 5000*5 + 15000*3 + 5000*1 = 75000
    ).toDF("event_id", "event_type", "value")
    val got = EventQ.tieredCharges(ev,
        expr("CAST(round(value * 100) AS BIGINT)"), tiers)
      .orderBy(col("event_type"))
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.toSeq == Seq(("a", 2L, 10000L, 46000L, 31000L),
      ("b", 1L, 25000L, 75000L, 75000L)), got.toSeq.toString)
    // non-contiguous tiers rejected loudly
    intercept[IllegalArgumentException] {
      EventQ.tieredCharges(ev, lit(1L), Seq((0L, 10L, 1L), (20L, 30L, 1L)))
    }
  }

  // --- q196 market basket ----------------------------------------------

  test("marketBasket computes exact lift and dedups within-basket repeats") {
    // baskets: {x,y} {x,y} {x,z} {y} -> co(x,y)=2, cx=3, cy=3, N=4
    // lift(x,y) = 1e6 * 2 * 4 / 9 = 888888 (floor)
    val items = Seq((1L, "x"), (1L, "y"), (1L, "y"), (2L, "x"), (2L, "y"),
      (3L, "x"), (3L, "z"), (4L, "y")).toDF("bk", "it")
    val byPair = AnalyticsQ.marketBasket(items, "bk", "it", topK = 5)
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
      .map(r => ((r._1, r._2), (r._3, r._7))).toMap
    assert(byPair(("x", "y")) == ((2L, 888888L)), byPair.toString)
    assert(byPair(("x", "z"))._1 == 1L)
  }

  test("marketBasket excludes mega-baskets from pairing, keeps denominators") {
    // basket 9 has 5 items (> cap 4): contributes NO pairs, but its
    // items and the basket itself still count toward c and N
    val items = Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "y")) ++
      (1 to 5).map(i => (9L, s"m$i"))
    val df = items.toDF("bk", "it")
    val got = AnalyticsQ.marketBasket(df, "bk", "it", topK = 10,
        maxBasketSize = 4)
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
    assert(got.forall(r => !r._1.startsWith("m")), got.toSeq.toString)
    // N = 3 baskets (mega included); lift(x,y) = 1e6*2*3/(2*2) = 1500000
    assert(got.exists(r => (r._1, r._2, r._3, r._6, r._7) ==
      (("x", "y", 2L, 3L, 1500000L))), got.toSeq.toString)
  }

  // --- q197 multi-index Hamming ----------------------------------------

  test("hammingRadiusSearch finds distance-3 pairs spread over 3 chunks") {
    // base: all dims negative (all sketch bits 0); probe flips dims
    // 1, 17, 33 (one bit in chunks 1, 2, 3) -> hamming 3, chunk 4 shared
    def emb(flips: Set[Int]): Seq[Float] =
      (1 to 64).map(i => if (flips.contains(i)) 1.0f else -1.0f)
    val corpus = Seq(
      (10L, emb(Set.empty)),
      (11L, emb(Set(1, 17, 33))),     // distance 3 from the query
      (12L, emb(Set(1, 17, 33, 49)))  // distance 4: one flip in EVERY chunk
    ).toDF("vec_id", "embedding")
    val q = Seq((100L, emb(Set.empty))).toDF("query_id", "embedding")
    val got = VectorQ.hammingRadiusSearch(corpus, q, radius = 3)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._4)
    // self-identical sketch at distance 0, the 3-bit pair found, 4-bit absent
    assert(got.map(g => (g._2, g._3)).toSeq == Seq((10L, 0L), (11L, 3L)),
      got.toSeq.toString)
  }

  // --- q198 autocorrelation --------------------------------------------

  test("autocorrCard flags a planted 2-day period") {
    // counts alternate 10,2,10,2,... -> acf(2) = 1.0, acf(1) = -1.0
    val rows = (0 until 12).flatMap { d =>
      val n = if (d % 2 == 0) 10 else 2
      (0 until n).map(i => ("t", d.toLong * 86400L + i))
    }
    val ev = rows.toDF("event_type", "s")
      .select(col("event_type"), timestamp_seconds(col("s")).as("ts"))
    val got = AnalyticsQ.autocorrCard(ev, maxLag = 3)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._2 -> r._4).toMap
    assert(got(2L) == 1.0 && got(1L) == -1.0, got.toString)
  }

  // --- q200 WordPiece vs BPE divergence --------------------------------

  test("wordpiece likelihood scorer diverges from BPE raw frequency") {
    // 'a b' occurs 6x but a,b are everywhere (freq 10 each);
    // 'x y' occurs 3x and x,y occur ONLY there (freq 3 each).
    // BPE argmax: (a,b) [pf 6 > 3]. WordPiece: score(x,y)=3/(3*3)=0.33
    // > score(a,b)=6/(10*10)=0.06 -> (x,y) merges first.
    val docs = Seq(
      (1L, Seq.fill(6)("ab").mkString(" ")),   // 'ab' word: a,b adjacency 6x
      (2L, "ba ba ba ba"),                     // more a/b mass, no new ab adj
      (3L, Seq.fill(3)("xy").mkString(" "))
    ).toDF("doc_id", "text")
    val bpe = TokenizerQ.bpeMerges(docs, rounds = 1)
      .select("left_sym", "right_sym").as[(String, String)].collect().head
    val wp = TokenizerQ.wordpieceMerges(docs, rounds = 1)
      .select("left_sym", "right_sym").as[(String, String)].collect().head
    assert(bpe == ("a", "b"), bpe.toString)
    assert(wp == ("x", "y"), wp.toString)
  }

  // --- q201 reciprocal best match --------------------------------------

  test("reciprocalBestMatches keeps the mutual pair, drops hub spokes") {
    // names share block token 'kit': near-identical pair + a weaker third
    val recs = Seq(
      (1L, "alpha red kit"), (2L, "alpha red kit"), // dup rows, same name
      (3L, "alpho red kit"),                        // ~best-match partner
      (4L, "alpha blu kit")                         // weaker similarity
    ).toDF("k", "nm")
    val pairs = TextQ.reciprocalBestMatches(recs, "nm", "k", minJw = 0.8)
      .as[(String, String, Double)].collect()
    // the reciprocal pair must be the two closest names, exactly once
    assert(pairs.length >= 1 &&
      pairs.exists(p => p._1 == "alpha red kit" && p._2 == "alpho red kit"),
      pairs.toSeq.toString)
    // every name appears in at most one reciprocal pair
    val names = pairs.flatMap(p => Seq(p._1, p._2))
    assert(names.distinct.length == names.length, pairs.toSeq.toString)
  }

  // --- q202 top paths --------------------------------------------------

  test("topPaths counts whole prefixes with the ts/event_id order") {
    val ev = Seq(
      (1L, 10L, 100L, "a"), (2L, 10L, 200L, "b"),
      (3L, 20L, 100L, "a"), (4L, 20L, 200L, "b"),
      (5L, 30L, 100L, "b"),
      // same-ts tie broken by event_id: 6 before 7
      (6L, 40L, 100L, "a"), (7L, 40L, 100L, "b")
    ).toDF("event_id", "user_id", "s", "event_type")
      .select(col("event_id"), col("user_id"),
        timestamp_seconds(col("s")).as("ts"), col("event_type"))
    val got = AnalyticsQ.topPaths(ev, pathLen = 2, topK = 10)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a>b" -> 3L, "b" -> 1L), got.toString)
  }

  // --- q203 label propagation ------------------------------------------

  test("labelPropagation keeps two dense families across a thin bridge") {
    // two triangles {1,2,3} and {10,11,12} joined by bridge 3-10;
    // components would merge them, LPA plurality keeps two labels
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
      .toDF("doc_a", "doc_b")
    val got = GraphQ.labelPropagation(pairs, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == got(2L) && got(2L) == got(3L), got.toString)
    assert(got(10L) == got(11L) && got(11L) == got(12L), got.toString)
    assert(got(1L) != got(10L), s"bridge over-merged: $got")
    // the control: components DO merge them
    val comp = TextQ.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp(1L) == comp(10L))
  }

  test("labelPropagation: a self-pair in the input leaves the labels unchanged") {
    // path 1-2-9: node 2's round-1 vote is a three-way tie, broken toward
    // label 1; a duplicated initial label for node 9 would outvote it
    val pairs = Seq((1L, 2L), (2L, 9L)).toDF("doc_a", "doc_b")
    val withSelf = pairs.union(Seq((9L, 9L)).toDF("doc_a", "doc_b"))
    def lpa(p: org.apache.spark.sql.DataFrame) =
      GraphQ.labelPropagation(p, rounds = 3).as[(Long, Long)].collect().toMap
    val want = lpa(pairs)
    assert(want == Map(1L -> 1L, 2L -> 1L, 9L -> 1L), want.toString)
    assert(lpa(withSelf) == want)
  }

  // --- q199 k-fold -----------------------------------------------------

  test("kFoldSplit puts near-duplicate docs in the same fold") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base), (2L, base),                     // exact dups -> one cluster
      (3L, base + " tail"),                        // near-dup
      (4L, "completely different content about spark plans and shuffles")
    ).toDF("doc_id", "text")
    val got = TextQ.kFoldSplit(docs, k = 3)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L)._1 == got(2L)._1, "exact dups must share a cluster")
    assert(got(1L)._2 == got(2L)._2, "and therefore a fold")
    assert(got.values.forall { case (_, f) => f >= 0 && f < 3 })
  }
}
