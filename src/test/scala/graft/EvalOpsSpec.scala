package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.EvalOps

/** Hand-checked combinatorics for the eval estimators: pass@k against
  * the closed form on known (n, c) cases including both saturation
  * regimes and the undefined leg, the overflow guard, and
  * majority-vote determinism with the heap plan shape. */
class EvalOpsSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("passAtK: closed-form cases, saturation, undefined leg") {
    // problem a: n=5, c=1 → 1 − C(4,3)/C(5,3) = 1 − 4/10 = 0.6
    // problem b: n=5, c=0 → 0
    // problem c: n=5, c=3 → n−c=2 < k → 1.0
    // problem d: n=2 < k → NULL (undefined, not 0 or 1)
    // problem e: n=6, c=2 → 1 − C(4,3)/C(6,3) = 1 − 4/20 = 0.8
    val rows =
      (1 to 5).map(i => ("a", i <= 1)) ++
      (1 to 5).map(_ => ("b", false)) ++
      (1 to 5).map(i => ("c", i <= 3)) ++
      (1 to 2).map(_ => ("d", true)) ++
      (1 to 6).map(i => ("e", i <= 2))
    val got = EvalOps.passAtK(rows.toDF("p", "ok"), "p", "ok", k = 3)
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(got == Map("a" -> 600000L, "b" -> 0L, "c" -> 1000000L,
      "d" -> -1L, "e" -> 800000L), got.toString)
  }

  test("passAtK: guards — k range and the exact-arithmetic bound") {
    val df = Seq(("a", true)).toDF("p", "ok")
    intercept[IllegalArgumentException] {
      EvalOps.passAtK(df, "p", "ok", k = 0) }
    intercept[IllegalArgumentException] {
      EvalOps.passAtK(df, "p", "ok", k = 6) }
    // 400 samples exceed k=5's n-bound of 390: loud, not wrapped
    val big = (1 to 400).map(i => ("a", i % 2 == 0)).toDF("p", "ok")
    val e = intercept[Exception] {
      EvalOps.passAtK(big, "p", "ok", k = 5).collect() }
    assert(e.getMessage != null)
  }

  test("calibrationBuckets: decile assignment, ppm means, top-edge inclusion") {
    val rows = Seq((50000L, false), (55000L, false), (950000L, true),
      (940000L, false), (1000000L, true)) // conf=10⁶ joins the top bucket
      .toDF("conf", "ok")
    val got = EvalOps.calibrationBuckets(rows, "conf", "ok")
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(0L) == ((2L, 52500L, 0L, 52500L)), got(0L).toString)
    // bucket 9: n=3, mean (950000+940000+1000000)/3 = 963333, acc 2/3
    assert(got(9L) == ((3L, 963333L, 666666L, 296667L)), got(9L).toString)
    assert(got.keySet == Set(0L, 9L))
  }

  test("cohenKappa: hand-checked contingency, degenerate NULL, negative floor") {
    // g: 5 (y,y), 2 (n,n), 2 (y,n), 1 (n,y) → po=0.7;
    // marginals a: y7/n3, b: y6/n4 → pe = (42+12)/100 = 0.54;
    // κ = 0.16/0.46 = 0.3478… → 347 milli (floor = truncate when > 0)
    val g = Seq.fill(5)(("g", "y", "y")) ++ Seq.fill(2)(("g", "n", "n")) ++
      Seq.fill(2)(("g", "y", "n")) ++ Seq(("g", "n", "y"))
    // h: both raters constant and equal → pe = 10⁶ → κ undefined
    val h = Seq.fill(4)(("h", "x", "x"))
    // i: BELOW-chance agreement (a bad annotation batch): po=0.3,
    // pe = (7·4 + 3·6)/100 = 0.46 → κ = −0.16/0.54 = −0.2962… →
    // −296: BOTH Spark's div and DuckDB's // truncate toward zero
    // (measured r14: -7//2 = -3 in DuckDB), so the cross-engine
    // contract holds at the truncating value — Python-style floor
    // (−297) would be the divergent one (ADVICE r13's premise was
    // the reverse; the q344 fixture's own negative-κ sources are the
    // live cross-engine evidence)
    val i = Seq.fill(2)(("i", "y", "y")) ++ Seq(("i", "n", "n")) ++
      Seq.fill(5)(("i", "y", "n")) ++ Seq.fill(2)(("i", "n", "y"))
    val got = EvalOps.cohenKappa((g ++ h ++ i).toDF("grp", "a", "b"),
        "grp", "a", "b")
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4)))).toMap
    assert(got("g") == ((10L, 700000L, 540000L, 347L)), got("g").toString)
    assert(got("h") == ((4L, 1000000L, 1000000L, -1L)), got("h").toString)
    assert(got("i") == ((10L, 300000L, 460000L, -296L)), got("i").toString)
  }

  /** JVM reference of the integer MM trajectory — the operator's
    * scaladoc formulas word for word (Long division throughout). */
  private def referenceBt(outcomes: Seq[(Long, Long)], iters: Int,
                          scale: Long): Map[Long, (Long, Long, Long)] = {
    val games = outcomes.filter(o => o._1 != o._2)
    val wins = games.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val losses = games.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val items = (wins.keySet ++ losses.keySet).toSeq.sorted
    val duels = (games.map(g => (g._1, g._2)) ++ games.map(g => (g._2, g._1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val sk = scale * 1000000L // the operator's micro-unit factor
    var p = items.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      p = items.map { i =>
        val dd = duels.collect { case ((a, b), n) if a == i =>
          n * sk / (p(a) + p(b)) }.sum
        val anchor = 2L * sk / (p(i) + scale)
        i -> (wins.getOrElse(i, 0L) + 1L) * sk / math.max(dd + anchor, 1L)
      }.toMap
    }
    items.map(i => i -> ((wins.getOrElse(i, 0L) +
      losses.getOrElse(i, 0L)), wins.getOrElse(i, 0L), p(i))).toMap
  }

  test("bradleyTerry: JVM reference trajectory, transitivity, zero-win anchor") {
    // a > b (3-0), b > c (2-0), c > a (1-0, the upset), a > d (2-0)
    val outcomes = Seq.fill(3)((1L, 2L)) ++ Seq.fill(2)((2L, 3L)) ++
      Seq((3L, 1L)) ++ Seq.fill(2)((1L, 4L))
    val got = EvalOps.bradleyTerry(outcomes.toDF("w", "l"), "w", "l",
        iters = 4)
      .select($"item", $"games", $"wins", $"rating")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val want = referenceBt(outcomes, 4, 1000000L)
    assert(got == want, s"\ngot:  $got\nwant: $want")
    // dominant item rates highest; zero-win d stays finite and lowest
    assert(got(1L)._3 > got(2L)._3 && got(2L)._3 > got(4L)._3)
    assert(got(4L)._3 > 0L, "anchor keeps a zero-win item finite")
    // layout invariance
    val re = EvalOps.bradleyTerry(
        outcomes.toDF("w", "l").repartition(7), "w", "l", iters = 4)
      .select($"item", $"games", $"wins", $"rating")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(re == got)
  }

  test("bradleyTerry: duplicate outcomes collapse under dedupIdCol (at-least-once ingest)") {
    val once = Seq((10L, 1L, 2L), (11L, 2L, 3L), (12L, 1L, 3L))
    val redelivered = once ++ once // a retried batch re-lands all rows
    def board(rows: Seq[(Long, Long, Long)], dedup: Option[String]) =
      EvalOps.bradleyTerry(rows.toDF("oid", "w", "l"), "w", "l",
          iters = 3, dedupIdCol = dedup)
        .select($"item", $"games", $"wins", $"rating")
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(board(redelivered, Some("oid")) == board(once, Some("oid")),
      "re-landed duplicate outcome ids must not move the board")
    // and WITHOUT the dedup seam multiplicity is honored (2× games)
    assert(board(redelivered, None).map(_._2) ==
      board(once, None).map(_._2 * 2))
  }

  test("bradleyTerryCi: full slice equals plain bradleyTerry, JVM replicate replay, skill-gap separation") {
    // planted skill order 1 > 2 > 3 with unique outcome ids: 1 beats 2
    // in 21/30 games, 2 beats 3 in 20/30, 1 beats 3 in 24/30
    def series(a: Long, b: Long, wa: Int, n: Int, base: Long) =
      (0 until n).map(i =>
        (base + i, if (i < wa) a else b, if (i < wa) b else a))
    val outcomes = series(1L, 2L, 21, 30, 1000L) ++
      series(2L, 3L, 20, 30, 2000L) ++ series(1L, 3L, 24, 30, 3000L)
    val got = EvalOps.bradleyTerryCi(outcomes.toDF("oid", "w", "l"),
        "w", "l", "oid", iters = 3, b = 12, frac = 0.5, salt = "bt")
      .orderBy("item")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5),
        if (r.isNullAt(6)) -1L else r.getLong(6)))).toMap
    // the rep −1 slice IS the plain trajectory
    val plain = referenceBt(outcomes.map(o => (o._2, o._3)), 3, 1000000L)
    assert(got.view.mapValues(v => (v._1, v._2, v._3)).toMap == plain,
      s"\nfull slice: $got\nplain:      $plain")
    // JVM replay of every replicate's trajectory and both bounds
    def draw(k: Int, oid: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"bt:$k:$oid".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
    val thr = graft.operators.DatasetOps.thr(0.5)
    val repRatings = (0 until 12).map { k =>
      referenceBt(outcomes.filter(o => draw(k, o._1) < thr)
        .map(o => (o._2, o._3)), 3, 1000000L)
    }
    for (item <- Seq(1L, 2L, 3L)) {
      val ps = repRatings.flatMap(_.get(item)).map(_._3)
      assert(got(item)._4 == ps.size.toLong,
        s"item $item n_replicates ${got(item)._4} != ${ps.size}")
      def bound(pct: Int): Long = {
        val r = (pct * ps.size + 99) / 100
        ps.filter(m => ps.count(_ <= m) >= r).min
      }
      assert((got(item)._5, got(item)._6) == ((bound(5), bound(95))),
        s"item $item bounds ${(got(item)._5, got(item)._6)} != " +
          s"${(bound(5), bound(95))}")
    }
    // the planted gap separates: the strongest item's LOWER bound
    // clears the weakest item's UPPER bound
    assert(got(1L)._5 > got(3L)._6,
      s"skill gap not separated: ${got(1L)} vs ${got(3L)}")
    // at-least-once: a re-delivered batch leaves everything unchanged
    // (ids dedup before both the censuses and the draws)
    val re = EvalOps.bradleyTerryCi(
        (outcomes ++ outcomes).toDF("oid", "w", "l"),
        "w", "l", "oid", iters = 3, b = 12, frac = 0.5, salt = "bt")
      .orderBy("item")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5),
        if (r.isNullAt(6)) -1L else r.getLong(6)))).toMap
    assert(re == got)
    // guards
    intercept[IllegalArgumentException] {
      EvalOps.bradleyTerryCi(outcomes.toDF("oid", "w", "l"), "w", "l",
        "oid", b = 5)
    }
  }

  test("bradleyTerryCiBy: per-group boards equal standalone runs; per-group ids never collapse across groups") {
    def series(a: Long, b2: Long, wa: Int, n: Int, base: Long) =
      (0 until n).map(i =>
        (base + i, if (i < wa) a else b2, if (i < wa) b2 else a))
    // group X: 1 > 2; group Y: an unrelated board 5 > 6 — with the
    // SAME oid range as X (a per-group id convention): dedup must be
    // (group, id), draws id-only
    val gx = series(1L, 2L, 21, 30, 1000L).map(t => ("x", t._1, t._2, t._3))
    val gy = series(5L, 6L, 8, 30, 1000L).map(t => ("y", t._1, t._2, t._3))
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) -1L else r.getLong(6),
        if (r.isNullAt(7)) -1L else r.getLong(7)))).toMap
    val both = snap(EvalOps.bradleyTerryCiBy(
      (gx ++ gy).toDF("g", "oid", "w", "l"), "g", "w", "l", "oid",
      iters = 3, b = 12, frac = 0.5, salt = "bt"))
    assert(both.keySet == Set(("x", 1L), ("x", 2L), ("y", 5L), ("y", 6L)),
      both.keySet.toString)
    // each group's board is bit-identical to running it alone — no
    // census or rank leakage across groups, and the shared oid range
    // collapsed nothing
    for ((g, rows) <- Seq(("x", gx), ("y", gy))) {
      val alone = snap(EvalOps.bradleyTerryCiBy(
        rows.toDF("g", "oid", "w", "l"), "g", "w", "l", "oid",
        iters = 3, b = 12, frac = 0.5, salt = "bt"))
      assert(both.filter(_._1._1 == g) == alone,
        s"group $g diverges from its standalone board")
    }
    // and the scalar form IS the By form on one constant group
    val scalar = EvalOps.bradleyTerryCi(
        gx.map(t => (t._2, t._3, t._4)).toDF("oid", "w", "l"),
        "w", "l", "oid", iters = 3, b = 12, frac = 0.5, salt = "bt")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(scalar == both.collect {
      case (("x", m), v) => m -> v._3 }.toMap)
  }

  test("bootstrapMetricCi: JVM draw-for-draw replay, coverage on a known-variance fixture") {
    // 1000 items at a planted 70% EM rate; frac-0.5 subsample
    // replicates have SE ≈ √(0.21/500) ≈ 2.05%, so the 5–95
    // nearest-rank band must straddle the point estimate and sit in a
    // generous sanity band (≈ ±1.6σ each side → width ~4–9%)
    val items = (0L until 1000L).map(i =>
      (i, if ((i * 13) % 10 < 7) 1000000L else 0L))
    val got = EvalOps.bootstrapMetricCi(items.toDF("id", "v"), "id", "v",
        b = 60, frac = 0.5)
      .as[(Long, Long, Long, Long, Long)].collect().head
    val (nItems, nReps, point, lo, hi) = got
    assert(nItems == 1000L && nReps == 60L)
    assert(point == items.map(_._2).sum / 1000L)
    assert(lo <= point && point <= hi, s"CI [$lo, $hi] must cover $point")
    assert(hi - lo >= 10000L && hi - lo <= 160000L,
      s"5–95 width ${hi - lo} outside the known-variance sanity band")
    // JVM replay: every draw, every replicate mean, both bounds
    def draw(b: Int, id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"boot:$b:$id".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
    val thr = graft.operators.DatasetOps.thr(0.5)
    val means = (0 until 60).flatMap { b =>
      val mem = items.filter(it => draw(b, it._1) < thr)
      if (mem.isEmpty) None else Some(mem.map(_._2).sum / mem.size)
    }
    assert(means.size == 60)
    def bound(pct: Int): Long = {
      val r = (pct * means.size + 99) / 100
      means.filter(m => means.count(_ <= m) >= r).min
    }
    assert((lo, hi) == ((bound(5), bound(95))),
      s"bounds ($lo, $hi) != JVM replay (${bound(5)}, ${bound(95)})")
    // determinism under relayout
    val re = EvalOps.bootstrapMetricCi(
        items.toDF("id", "v").repartition(17), "id", "v", b = 60,
        frac = 0.5)
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(re == got)
  }

  test("pairedBootstrapCi: A≡B straddles zero, planted uniform improvement excludes it, JVM replay") {
    // identical systems: every per-item delta is 0, so every replicate
    // mean is 0 — the interval is exactly [0, 0] and no replicate has
    // a strictly positive mean
    val base = (0L until 600L).map(i =>
      (i, if ((i * 13) % 10 < 7) 1000000L else 0L))
    val eq = EvalOps.pairedBootstrapCi(
        base.map { case (i, v) => (i, v, v) }.toDF("id", "a", "b"),
        "id", "a", "b", b = 40)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(eq == ((600L, 40L, 0L, 0L, 0L, 0L)), eq.toString)
    // planted uniform improvement: A = B + 100000 on EVERY item — the
    // delta is constant, so each replicate mean is exactly 100000, the
    // CI collapses to [100000, 100000] (excludes 0), and A wins every
    // replicate
    val up = EvalOps.pairedBootstrapCi(
        base.map { case (i, v) => (i, v + 100000L, v) }
          .toDF("id", "a", "b"),
        "id", "a", "b", b = 40)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(up == ((600L, 40L, 100000L, 100000L, 100000L, 1000000L)),
      up.toString)
    // correlated noisy systems: JVM draw-for-draw replay of the delta
    // means, both bounds, and the strict-positive win census
    val ab = base.map { case (i, v) =>
      (i, v, if ((i * 7) % 10 < 6) 1000000L else 0L) }
    val got = EvalOps.pairedBootstrapCi(ab.toDF("id", "a", "b"),
        "id", "a", "b", b = 60)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    def draw(b: Int, id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"boot:$b:$id".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
    val thr = graft.operators.DatasetOps.thr(0.5)
    val deltas = ab.map { case (i, a, b2) => (i, a - b2) }
    val means = (0 until 60).flatMap { b =>
      val mem = deltas.filter(it => draw(b, it._1) < thr)
      if (mem.isEmpty) None
      // JVM / truncates toward zero on negative sums, like Spark div
      else Some(mem.map(_._2).sum / mem.size)
    }
    assert(means.size == 60)
    def bound(pct: Int): Long = {
      val r = (pct * means.size + 99) / 100
      means.filter(m => means.count(_ <= m) >= r).min
    }
    val wantPoint = deltas.map(_._2).sum / deltas.size
    val wantWins = means.count(_ > 0) * 1000000L / means.size
    assert(got == ((600L, 60L, wantPoint, bound(5), bound(95),
      wantWins)), s"$got vs JVM replay")
    // determinism under relayout
    val re = EvalOps.pairedBootstrapCi(
        ab.toDF("id", "a", "b").repartition(17), "id", "a", "b", b = 60)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(re == got)
    // the PAIRING is what the operator buys: on these correlated
    // systems the paired interval is strictly tighter than the two
    // marginal intervals' difference-width
    val aCi = EvalOps.bootstrapMetricCi(
        ab.map(t => (t._1, t._2)).toDF("id", "v"), "id", "v", b = 60)
      .as[(Long, Long, Long, Long, Long)].collect().head
    val bCi = EvalOps.bootstrapMetricCi(
        ab.map(t => (t._1, t._3)).toDF("id", "v"), "id", "v", b = 60)
      .as[(Long, Long, Long, Long, Long)].collect().head
    val unpairedWidth = (aCi._5 - aCi._4) + (bCi._5 - bCi._4)
    assert(got._5 - got._4 < unpairedWidth,
      s"paired width ${got._5 - got._4} not tighter than marginal " +
        s"$unpairedWidth")
  }

  test("pairedBootstrapCiBy: per-group verdicts, group-independent draws") {
    // two groups with opposite planted signs; draws depend on the item
    // id alone, so each group's replicate membership is the same as it
    // would be standalone
    val rows = (0L until 400L).map { i =>
      val g = if (i % 2 == 0) "g_up" else "g_down"
      val b = if ((i * 13) % 10 < 5) 1000000L else 0L
      val a = if (g == "g_up") b + 200000L else b - 200000L
      (g, i, a, b)
    }
    val got = EvalOps.pairedBootstrapCiBy(
        rows.toDF("g", "id", "a", "b"), "g", "id", "a", "b", b = 30)
      .orderBy("g")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got.map(_._1) == Seq("g_down", "g_up"))
    val down = got.head; val up = got(1)
    assert(down._4 == -200000L && down._5 == -200000L &&
      down._6 == -200000L && down._7 == 0L, down.toString)
    assert(up._4 == 200000L && up._5 == 200000L &&
      up._6 == 200000L && up._7 == 1000000L, up.toString)
    // guards
    intercept[IllegalArgumentException] {
      EvalOps.pairedBootstrapCi(rows.toDF("g", "id", "a", "b"),
        "id", "a", "b", b = 5)
    }
    intercept[IllegalArgumentException] {
      EvalOps.pairedBootstrapCi(rows.toDF("g", "id", "a", "b"),
        "id", "a", "b", frac = 1.0)
    }
    // ADVICE r15: an outer-joined per-item table carries NULL ppm on
    // unpaired items — their NULL deltas would be excluded from every
    // sum yet still counted in n_items and each replicate mean,
    // silently biasing the delta toward zero. Loud refusal instead.
    val holey = rows.map { case (g, i, a, b) =>
      (g, i, if (i % 7 == 0) None else Some(a), Some(b))
    }
    val e = intercept[IllegalArgumentException] {
      EvalOps.pairedBootstrapCi(holey.toDF("g", "id", "a", "b"),
        "id", "a", "b")
    }
    assert(e.getMessage.contains("NULL"), e.getMessage)
  }

  test("bradleyTerryCensus: summed counts replay the per-game trajectory bit for bit; corrupt census refuses") {
    // the compacted-state contract: the MM arithmetic only ever
    // consumes n_ij and W_i, so a census built by grouping the game
    // rows must land the IDENTICAL integer trajectory
    val games = Seq(
      (1L, 2L), (1L, 2L), (1L, 2L), (2L, 1L),
      (2L, 3L), (3L, 1L), (10L, 11L), (10L, 11L), (11L, 10L))
      .toDF("w", "l")
    val plain = EvalOps.bradleyTerry(games, "w", "l", iters = 4)
      .as[(Long, Long, Long, Long)].collect().toSet
    val census = games.groupBy($"w", $"l")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val viaCensus = EvalOps.bradleyTerryCensus(census, "w", "l", "n",
        iters = 4)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaCensus == plain,
      s"census board diverged:\n$viaCensus\nvs\n$plain")
    // a zero-count (or NULL) census row is corruption, not data
    val e = intercept[IllegalArgumentException] {
      EvalOps.bradleyTerryCensus(
        census.union(Seq((7L, 8L, 0L)).toDF("w", "l", "n")),
        "w", "l", "n")
    }
    assert(e.getMessage.contains("non-positive"), e.getMessage)
    // a NULL count refuses too, even on a row that plays no game
    val nul = intercept[IllegalArgumentException] {
      EvalOps.bradleyTerryCensus(
        census.union(Seq((7L, 7L, None: Option[Long])).toDF("w", "l", "n")),
        "w", "l", "n")
    }
    assert(nul.getMessage.contains("NULL"), nul.getMessage)
    // and the message counts every corrupt row, self-duels included
    val two = intercept[IllegalArgumentException] {
      EvalOps.bradleyTerryCensus(
        census.union(Seq((7L, 8L, 0L), (9L, 9L, -1L)).toDF("w", "l", "n")),
        "w", "l", "n")
    }
    assert(two.getMessage.contains("2 census rows"), two.getMessage)
  }

  test("bradleyTerry: a NULL winner or loser voids its row; string items rate like their long codes") {
    val outcomes = Seq.fill(3)((1L, 2L)) ++ Seq.fill(2)((2L, 3L)) ++
      Seq((3L, 1L)) ++ Seq.fill(2)((1L, 4L))
    val name = Map(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d")
    // the named side of a half-NULL row gets no game from it, and an
    // item seen only beside a NULL ("e") never reaches the board
    val holey = outcomes.map(o => (Option(name(o._1)), Option(name(o._2)))) ++
      Seq((Some("a"), None), (None, Some("d")), (None, None), (Some("e"), None))
    val got = EvalOps.bradleyTerry(holey.toDF("w", "l"), "w", "l", iters = 4)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val want = referenceBt(outcomes, 4, 1000000L)
      .map { case (k, v) => name(k) -> v }
    assert(got == want, s"\ngot:  $got\nwant: $want")
  }

  test("bradleyTerry: item and group types without JVM-equal keys are refused, naming the column and its type") {
    import org.apache.spark.sql.functions.{array, struct}
    val longs = Seq((1L, 2L, "x", 1L)).toDF("win_id", "lose_id", "grp", "oid")
    def refused(what: String)(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains(what), e.getMessage)
    }
    refused("`lose_id` has type double") {
      EvalOps.bradleyTerry(longs.withColumn("lose_id", $"lose_id".cast("double")),
        "win_id", "lose_id") }
    refused("`win_id` has type binary") {
      EvalOps.bradleyTerryCensus(longs.withColumn("win_id", $"win_id".cast("string")
        .cast("binary")), "win_id", "lose_id", "oid") }
    refused("`win_id` has type array<bigint>") {
      EvalOps.bradleyTerryCi(longs.withColumn("win_id", array($"win_id")),
        "win_id", "lose_id", "oid") }
    refused("`grp` has type struct<grp:string>") {
      EvalOps.bradleyTerryCiBy(longs.withColumn("grp", struct($"grp")),
        "grp", "win_id", "lose_id", "oid") }
  }

  test("bradleyTerry: a duel census above the driver row bound is refused, naming the operator") {
    val census = Seq((1L, 2L), (2L, 3L)).toDF("w", "l")
    val e = intercept[IllegalArgumentException] {
      EvalOps.collectBounded(census, "bradleyTerry", bound = 1) }
    assert(e.getMessage.contains("bradleyTerry: the duel census") &&
      e.getMessage.contains("more than 1 rows"), e.getMessage)
    assert(EvalOps.collectBounded(census, "bradleyTerry", bound = 2).length == 2)
    assert(EvalOps.BtCensusRowBound >= 49 * 13, "q356's 13 slices of 7 models")
  }

  test("bradleyTerry: the jobs one board fires do not grow with iters") {
    val df = (Seq.fill(3)((1L, 2L)) ++ Seq.fill(2)((2L, 3L)) ++ Seq((3L, 1L)))
      .toDF("w", "l")
    val sc = spark.sparkContext
    def jobs(iters: Int): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      org.apache.spark.ListenerDrain(sc) // earlier suites' events first
      sc.addSparkListener(listener)
      try {
        EvalOps.bradleyTerry(df, "w", "l", iters = iters).collect()
        org.apache.spark.ListenerDrain(sc)
      } finally sc.removeSparkListener(listener)
      n.get
    }
    val (one, twenty) = (jobs(1), jobs(20))
    assert(one == twenty, s"iters = 1 fired $one jobs, iters = 20 fired $twenty")
  }

  test("majorityVote: majority, tie-break, agreement, heap plan") {
    val rows = Seq(
      // p1: x×3, y×2 → x wins, agreement 600000
      ("p1", "x"), ("p1", "x"), ("p1", "x"), ("p1", "y"), ("p1", "y"),
      // p2: tie 2–2 → lexicographically smaller answer wins
      ("p2", "bb"), ("p2", "aa"), ("p2", "bb"), ("p2", "aa"),
      // p3: unanimous
      ("p3", "z"), ("p3", "z"))
      .toDF("p", "ans")
    val mv = EvalOps.majorityVote(rows, "p", "ans")
    val got = mv.select($"p", $"majority_answer", $"votes",
        $"agreement_ppm", $"n_samples")
      .as[(String, String, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      ("p1", "x", 3L, 600000L, 5L),
      ("p2", "aa", 2L, 500000L, 4L),
      ("p3", "z", 2L, 1000000L, 2L)), got.toSeq.toString)
    val plan = mv.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroupFinal"),
      "majority rank must heap-rewrite")
    assert(!plan.contains("Window"), "no per-problem Window")
    // layout invariance
    val re = EvalOps.majorityVote(rows.toDF("p", "ans").repartition(5),
        "p", "ans")
      .select($"p", $"majority_answer", $"votes", $"agreement_ppm",
        $"n_samples")
      .as[(String, String, Long, Long, Long)].collect().sortBy(_._1)
    assert(re.toSeq == got.toSeq)
  }
}
