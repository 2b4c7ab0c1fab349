package graft

import org.apache.spark.sql.functions._

import graft.queries.{AnalyticsQ, CurationQ, RoutingQ}

/** Hand-computed pins for the round-13 wave: McNemar (q314), TV drift
  * (q315), t-closeness (q316), SIM-box (q317), Fleiss' κ (q318). */
class Round13OpsSpec extends SparkSpec {

  import spark.implicits._

  // ---- q314 McNemar ------------------------------------------------------

  test("mcnemar: symmetric disagreement scores zero, zero discordance " +
      "stays NULL/false, asymmetry flags") {
    def docs(rows: Seq[(Boolean, Boolean)]) =
      rows.toDF("a", "b")
    def card(rows: Seq[(Boolean, Boolean)]) =
      AnalyticsQ.mcnemarCard(docs(rows), col("a"), col("b"))
        .select(col("n10"), col("n01"), col("chi2_milli"),
          col("chi2c_milli"), col("marginals_differ"))
        .as[(Long, Long, Option[Long], Option[Long], Boolean)].head()

    // 3 vs 3 discordant: d = 0, chi2 = 0, corrected (|0|-1 -> 0)
    val sym = card(Seq.fill(3)((true, false)) ++ Seq.fill(3)((false, true))
      ++ Seq.fill(4)((true, true)))
    assert(sym == ((3L, 3L, Some(0L), Some(0L), false)), sym.toString)
    // perfect pairing: no discordance, NULL statistics, false flag
    val perfect = card(Seq.fill(5)((true, true)) ++ Seq.fill(5)((false, false)))
    assert(perfect == ((0L, 0L, None, None, false)), perfect.toString)
    // 10 vs 0: chi2 = 100*1000/10 = 10000; corrected 81*1000/10 = 8100
    val asym = card(Seq.fill(10)((true, false)) ++ Seq.fill(2)((true, true)))
    assert(asym == ((10L, 0L, Some(10000L), Some(8100L), true)),
      asym.toString)
  }

  // ---- q318 Fleiss κ -----------------------------------------------------

  test("fleiss kappa: perfect panel agreement pegs 1e6, a split panel " +
      "lands near zero, < 2 raters refused") {
    def card(rows: Seq[(Boolean, Boolean, Boolean)]) =
      AnalyticsQ.fleissKappa(rows.toDF("a", "b", "c"),
        Seq(col("a"), col("b"), col("c")))
        .select(col("pbar_ppm"), col("pe_ppm"), col("kappa_ppm"))
        .as[(Long, Long, Long)].head()

    // unanimous per item, mixed across items: pbar = 1e6, pe < 1e6,
    // kappa = exactly 1e6
    val perfect = card(Seq.fill(3)((true, true, true)) ++
      Seq.fill(3)((false, false, false)))
    assert(perfect._1 == 1000000L && perfect._3 == 1000000L,
      perfect.toString)
    // every item maximally split (2-1): per-item agreement is the
    // floor 1/3, marginal p1 = 1/2 -> pe = 1/2, kappa = (333333 -
    // 500000)*1e6 DIV 500000 = -333334 (truncation toward zero)
    val split = card(Seq((true, true, false), (true, false, true),
      (false, true, true), (false, false, true), (false, true, false),
      (true, false, false)))
    assert(split == ((333333L, 500000L, -333334L)), split.toString)
    // degenerate all-true-everywhere: pe = 1e6 -> guard pegs kappa 1e6
    val allTrue = card(Seq.fill(4)((true, true, true)))
    assert(allTrue._2 == 1000000L && allTrue._3 == 1000000L,
      allTrue.toString)
    intercept[IllegalArgumentException] {
      AnalyticsQ.fleissKappa(Seq((true, true, true)).toDF("a", "b", "c"),
        Seq(col("a")))
    }
  }

  // ---- q315 TV drift -----------------------------------------------------

  test("tv drift: a full class flip reads 500000 ppm of moved mass per " +
      "side, identical days read zero, the first day is NULL") {
    // day 0: 2 A + 2 B; day 1: 4 A (B vanishes -> its mass counts);
    // day 2: 4 A again (no drift)
    val ev = Seq(
      ("2024-01-01 10:00:00", "A"), ("2024-01-01 11:00:00", "A"),
      ("2024-01-01 12:00:00", "B"), ("2024-01-01 13:00:00", "B"),
      ("2024-01-02 10:00:00", "A"), ("2024-01-02 11:00:00", "A"),
      ("2024-01-02 12:00:00", "A"), ("2024-01-02 13:00:00", "A"),
      ("2024-01-03 10:00:00", "A"), ("2024-01-03 11:00:00", "A"),
      ("2024-01-03 12:00:00", "A"), ("2024-01-03 13:00:00", "A"))
      .toDF("ts0", "event_type")
      .select(col("ts0").cast("timestamp").as("ts"), col("event_type"))
    val out = AnalyticsQ.tvDriftCard(ev)
      .orderBy(col("day"))
      .select(col("day"), col("n_events"), col("tv_ppm"))
      .as[(Long, Long, Option[Long])].collect().toSeq
    // |1e6 - 5e5| + |0 - 5e5| = 1e6, DIV 2 = 500000
    assert(out == Seq((0L, 4L, None), (1L, 4L, Some(500000L)),
      (2L, 4L, Some(0L))), out.toString)
  }

  // ---- q316 t-closeness --------------------------------------------------

  test("t-closeness: a group mirroring the global mix reads zero, a " +
      "fully skewed group reads the complement of its value's global " +
      "share, exposed_ppm counts failing rows") {
    // global: 12 rows, s=0 x6 and s=1 x6 -> q = 500000 each (g2 and g3
    // skew in OPPOSITE directions so the global stays balanced).
    // g1 mirrors the global (2/2, tv = 0); g2 is all s=0 and g3 all
    // s=1: tv = (|1e6-5e5| + |0-5e5|) / 2 = 500000 each
    val rows = Seq(
      ("g1", 0L), ("g1", 0L), ("g1", 1L), ("g1", 1L),
      ("g2", 0L), ("g2", 0L), ("g2", 0L), ("g2", 0L),
      ("g3", 1L), ("g3", 1L), ("g3", 1L), ("g3", 1L))
      .toDF("qi", "s")
    val out = CurationQ.tClosenessCard(rows, Seq("qi"), "s",
        tPpm = 300000L)
      .orderBy(col("qi"))
      .select(col("qi"), col("n"), col("tv_ppm"), col("meets_t"),
        col("exposed_ppm"))
      .as[(String, Long, Long, Boolean, Long)].collect().toSeq
    // exposed: 8 of 12 rows sit in failing groups -> 666666 ppm
    assert(out == Seq(("g1", 4L, 0L, true, 666666L),
      ("g2", 4L, 500000L, false, 666666L),
      ("g3", 4L, 500000L, false, 666666L)), out.toString)
  }

  test("t-closeness: a NULL sensitive value is a class — its global " +
      "mass joins back through the null-safe grid, so a group matching " +
      "the global NULL share reads zero drift") {
    // global: 12 rows, s = NULL x6 and s = 1 x6 -> q = 500000 each
    // (g2 all-NULL and g3 all-one skew in opposite directions, so the
    // global stays balanced). g1 mirrors it exactly (2 NULL / 2 one)
    // -> tv MUST be 0; before the null-safe join the NULL class never
    // matched back and g1 read 250000 (its own NULL mass stranded).
    val rows = Seq(
      ("g1", Some(1L)), ("g1", Some(1L)), ("g1", None), ("g1", None),
      ("g2", None), ("g2", None), ("g2", None), ("g2", None),
      ("g3", Some(1L)), ("g3", Some(1L)), ("g3", Some(1L)),
      ("g3", Some(1L)))
      .toDF("qi", "s")
    val out = CurationQ.tClosenessCard(rows, Seq("qi"), "s",
        tPpm = 300000L)
      .orderBy(col("qi"))
      .select(col("qi"), col("n"), col("tv_ppm"), col("meets_t"))
      .as[(String, Long, Long, Boolean)].collect().toSeq
    assert(out == Seq(("g1", 4L, 0L, true), ("g2", 4L, 500000L, false),
      ("g3", 4L, 500000L, false)), out.toString)
  }

  // ---- q320 bundle rating --------------------------------------------------

  test("bundle rating: the allowance-straddling record bills only its " +
      "paid tail, free_units is the live bundle counter, telescoping " +
      "holds, zero usage never dropped") {
    import java.sql.Timestamp
    // allowance 100; tiers 5 centi/unit to 50, then 3
    val tiers = Seq((0L, 50L, 5L), (50L, Long.MaxValue, 3L))
    val ev = Seq(
      (1L, 7L, 10L, 60L),   // all free (cum 60)
      (2L, 7L, 20L, 60L),   // STRADDLE: 40 free + 20 paid @5 = 100
      (3L, 7L, 30L, 40L),   // paid: 30 @5 + 10 @3 = 180
      (4L, 7L, 40L, 0L),    // zero usage: kept, free 0, charge 0
      (5L, 7L, 50L, -9L))   // negative: kept, accumulator unchanged
      .map { case (e, k, s, u) => (e, k, new Timestamp(s * 1000L), u) }
      .toDF("event_id", "user_id", "ts", "units")
    val got = queries.EventQ.bundleTieredCharges(ev, col("units"),
        allowance = 100L, tiers)
      .orderBy(col("event_id"))
      .select(col("event_id"), col("cum"), col("free_units"),
        col("charge_centi"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 60L, 60L, 0L), (2L, 120L, 40L, 100L),
      (3L, 160L, 0L, 180L), (4L, 160L, 0L, 0L), (5L, 160L, 0L, 0L)),
      got.toString)
    // telescoping: sum of charges = B(total) = T(60) = 50*5 + 10*3
    assert(got.map(_._4).sum == 280L)
  }

  test("BundleRater streams the exact q320 batch answer across batches " +
      "(free counter included)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import graft.streaming.{BundleRater, BundleRatedRec, UsageRec}
    implicit val ctx = spark.sqlContext
    withRocksDbState {
      val tiers = Seq((0L, 50L, 5L), (50L, Long.MaxValue, 3L))
      val in = MemoryStream[UsageRec]
      val q = in.toDS().groupByKey(_.account_id)
        .transformWithState(new BundleRater(100L, tiers),
          TimeMode.None(), OutputMode.Append())
        .toDF().writeStream.outputMode("append")
        .format("memory").queryName("bundle_out").start()
      try {
        in.addData(UsageRec(7L, 1L, 60L), UsageRec(7L, 2L, 60L))
        q.processAllAvailable()
        in.addData(UsageRec(7L, 3L, 40L), UsageRec(8L, 4L, 120L))
        q.processAllAvailable()
        val got = spark.table("bundle_out").as[BundleRatedRec]
          .collect().toSeq.sortBy(_.event_id)
        assert(got == Seq(
          BundleRatedRec(7L, 1L, 60L, 60L, 60L, 0L),
          BundleRatedRec(7L, 2L, 60L, 120L, 40L, 100L),
          BundleRatedRec(7L, 3L, 40L, 160L, 0L, 180L),
          BundleRatedRec(8L, 4L, 120L, 120L, 100L, 100L)), got.toString)
      } finally q.stop()
    }
  }

  // ---- q321 forecast backtest ----------------------------------------------

  test("forecast backtest: a noisy-around-level series lets SES beat " +
      "naive, a steady trend makes SES lag and LOSE, constants and " +
      "singletons keep NULL rows") {
    import java.sql.Date
    def series(g: String, ys: Seq[Long]) = ys.zipWithIndex.map {
      case (y, i) => (g, Date.valueOf(f"2024-01-${i + 1}%02d"), y)
    }
    // oscillating around 100 (naive alternates by 40; SES damps) vs a
    // strict +10/day trend (naive's error is 10/day; SES always lags
    // more) vs constant (naive error 0 -> NULL) vs a single point
    val rows = series("osc", Seq(100L, 140L, 100L, 140L, 100L, 140L)) ++
      series("trend", Seq(100L, 110L, 120L, 130L, 140L, 150L)) ++
      series("const", Seq(50L, 50L, 50L)) ++
      series("one", Seq(7L))
    val df = rows.toDF("g", "d", "y")
    val got = AnalyticsQ.forecastBacktest(df, "g", "d", "y")
      .orderBy(col("g"))
      .select(col("g"), col("n_obs"), col("mase_milli"),
        col("ses_beats_naive"))
      .as[(String, Int, Option[Long], Option[Boolean])].collect().toSeq
    val m = got.map(r => r._1 -> r).toMap
    assert(m("const") == (("const", 3, None, None)), m("const").toString)
    assert(m("one") == (("one", 1, None, None)), m("one").toString)
    assert(m("osc")._3.exists(_ < 1000L) && m("osc")._4.contains(true),
      s"SES should beat naive on the oscillating series: ${m("osc")}")
    assert(m("trend")._3.exists(_ > 1000L) &&
        m("trend")._4.contains(false),
      s"SES should LAG the strict trend and lose: ${m("trend")}")
    // walk-forward honesty: replay the osc fold by hand
    // seed lv=100; y=140: ses+=40, nv+=40, lv=112; y=100: ses+=12,
    // nv+=40, lv=108 (112+(300*(100-112))DIV 1000 = 112-4); the fold
    // is deterministic — pin the exact MASE
    val exp = {
      var lv = 100L; var pv = 100L; var ses = 0L; var nv = 0L
      Seq(140L, 100L, 140L, 100L, 140L).foreach { y =>
        ses += math.abs(y - lv); nv += math.abs(y - pv)
        lv = lv + (300L * (y - lv)) / 1000L; pv = y
      }
      (1000L * ses) / nv
    }
    assert(m("osc")._3.contains(exp), s"${m("osc")} vs $exp")
  }

  // ---- q319 qv error card ------------------------------------------------

  test("qv error card: identical-direction pairs price at zero error, " +
      "a zero vector's pairs count as degenerate (never priced), and " +
      "over_margin counts only priceable pairs past the margin") {
    // 4 vectors, 1 cell (cells=1): v0/v1 same direction (cos=1 exactly,
    // qv identical -> err 0); v2 orthogonal-ish; v3 ZERO (qv all-zero,
    // its 3 pairs degenerate). Priced pairs: (0,1), (0,2), (1,2).
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(2f, 0f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val out = queries.VectorQ.qvErrorCard(vecs, cells = 1,
        marginMicro = 100000L)
      .select(col("n_pairs"), col("n_degenerate"), col("n_pairs_priced"),
        col("max_err_micro"), col("over_margin"))
      .as[(Long, Long, Long, Long, Long)].head()
    assert(out == ((6L, 3L, 3L, 0L, 0L)), out.toString)
  }

  // ---- q317 SIM-box ------------------------------------------------------

  test("simbox: the zero-inbound high-fanout answerer flags; a balanced " +
      "subscriber and an inbound-only subscriber (kept, out=0) do not") {
    // box 100: 25 answered calls to 25 distinct callees in 1..25,
    // receives nothing. subscriber 1: calls 2 (and receives from the
    // box + from 2) -> balanced. subscriber 50: receives only.
    val calls = (
      (1 to 25).map(i => (100L, i.toLong, 60L)) ++ // the box
      Seq((1L, 2L, 60L), (1L, 2L, 60L), (2L, 1L, 60L), (2L, 1L, 60L),
        (1L, 50L, 60L), (2L, 50L, 60L))
    ).toDF("caller", "callee", "dur_centi")
    val out = RoutingQ.simboxCard(calls, minOut = 20L)
      .orderBy(col("subscriber"))
      .select(col("subscriber"), col("out_calls"), col("in_calls"),
        col("fanout_ppm"), col("in_share_ppm"), col("simbox_flag"))
      .as[(Long, Long, Long, Option[Long], Long, Boolean)]
      .collect().toSeq
    val box = out.find(_._1 == 100L).get
    assert(box == ((100L, 25L, 0L, Some(1000000L), 0L, true)),
      box.toString)
    val balanced = out.find(_._1 == 1L).get
    assert(!balanced._6 && balanced._3 == 3L, balanced.toString)
    // inbound-only: row kept, out=0, NULL fanout, never flagged
    val inOnly = out.find(_._1 == 50L).get
    assert(inOnly == ((50L, 0L, 2L, None, 1000000L, false)),
      inOnly.toString)
    // the box's callees 3..25 are in-only too (out=0, not flagged)
    assert(out.count(_._6) == 1, out.filter(_._6).toString)
  }
}
