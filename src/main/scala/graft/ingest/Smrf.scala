package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuilder
import graft.functions.Canon.round
import graft.raster.HaloTile

/** One non-noise point shipped to tile (tc, tr): its home tile, or a
  * neighbour tile whose halo holds its cell. */
private[ingest] case class TilePt(tc: Int, tr: Int, x: Double, y: Double, z: Double)

/** Morphological ground re-classification — the engine analog of the
  * reference's `filters.smrf` PDAL stage (differencing_functions.py:
  * 1672–1676: assign Classification = 0 → smrf → keep class 2), i.e.
  * the Simple Morphological Filter of Pingel, Clarke & McBride 2013.
  *
  * SMRF is a raster morphology over the per-cell MINIMUM surface of 1 m
  * cells. The single-window forms ([[groundPoints]], [[reclassify]]) run
  * it as one halo-tile kernel:
  *
  *   1. noise classes (7, 18) are dropped, mirroring the pipeline's
  *      preceding range filter; input classifications are otherwise
  *      IGNORED (the `assign 0` stage),
  *   2. each point is routed ([[HaloTile.route]]) to its home
  *      [[TileCells]]×[[TileCells]] tile and to every neighbour tile
  *      whose [[HaloCells]]-cell halo holds its cell — the only shuffle,
  *   3. per tile, a dense local pass builds the min-z surface, ERODES it
  *      (min over each existing cell's 3×3 neighbourhood) and DILATES the
  *      eroded surface (max over 3×3) — together an OPENING that removes
  *      above-ground bumps narrower than the window while following the
  *      terrain — and classifies each home point as ground (class 2) iff
  *      z − opened(cell) ≤ THRESHOLD.
  *
  * Erode and dilate read EXISTING cells only (sparse-grid semantics,
  * shared with the DuckDB oracle [[reclassifySql]]); min and max are
  * order-free, so the kernel is bit-identical to the oracle. The points
  * are consumed once: nothing is persisted or joined back.
  *
  * [[reclassifyMultiWindow]] (round 6) runs PDAL's full schedule —
  * min-inpaint, growing windows, slope-scaled thresholds, object-cell
  * mask — as cell-keyed offset-explode aggregates (its window-5 halo and
  * bbox-wide inpaint do not fit a small tile), and reduces to the
  * single-window form at window=1/slope=0/no-inpaint (property-tested).
  */
object Smrf {

  val Threshold = 0.5 // PDAL filters.smrf default elevation threshold (m)

  /** Tile edge of the single-window kernel, in cells. */
  val TileCells = 32
  /** Halo of the single-window kernel, in cells: the 3×3 erode reads cell
    * minima at ±1, the 3×3 dilate of the eroded surface at ±2. */
  val HaloCells = 2

  // Spark's double order: NaN sorts above every number
  private def sMin(a: Double, b: Double): Double = if (b < a || a.isNaN) b else a
  private def sMax(a: Double, b: Double): Double = if (b > a || b.isNaN) b else a

  /** The dense single-window pass over one tile: the min surface, erode
    * and dilate over the halo-extended box, and the tile's home points. */
  private final class TileOpening(tc: Int, tr: Int, it: Iterator[TilePt]) {
    private val T = TileCells
    private val H = HaloCells
    private val E = T + 2 * H // edge of the halo-extended box
    private val c0 = tc * T - H
    private val r0 = tr * T - H
    private val has = new Array[Boolean](E * E)
    private val zmin = new Array[Double](E * E)
    private val xs = new ArrayBuilder.ofDouble
    private val ys = new ArrayBuilder.ofDouble
    private val zs = new ArrayBuilder.ofDouble
    private val cells = new ArrayBuilder.ofInt
    it.foreach { p =>
      val lc = math.floor(p.x).toInt - c0
      val lr = math.floor(p.y).toInt - r0
      val i = lr * E + lc
      zmin(i) = if (has(i)) sMin(zmin(i), p.z) else p.z
      has(i) = true
      if (lc >= H && lc < H + T && lr >= H && lr < H + T) {
        xs += p.x; ys += p.y; zs += p.z; cells += i
      }
    }

    /** Min or max of `v` over the existing 3×3 neighbours of every
      * existing cell within `reach` of the home box. */
    private def pass(v: Array[Double], reach: Int, doMin: Boolean): Array[Double] = {
      val out = new Array[Double](E * E)
      var lr = H - reach
      while (lr < H + T + reach) {
        var lc = H - reach
        while (lc < H + T + reach) {
          val i = lr * E + lc
          if (has(i)) {
            var acc = v(i)
            var dr = -1
            while (dr <= 1) {
              var dc = -1
              while (dc <= 1) {
                val n = i + dr * E + dc
                if (has(n)) acc = if (doMin) sMin(acc, v(n)) else sMax(acc, v(n))
                dc += 1
              }
              dr += 1
            }
            out(i) = acc
          }
          lc += 1
        }
        lr += 1
      }
      out
    }

    private val opened = pass(pass(zmin, 1, doMin = true), 0, doMin = false)
    private val hx = xs.result(); private val hy = ys.result()
    private val hz = zs.result(); private val hcell = cells.result()
    private def ground(k: Int): Boolean = hz(k) - opened(hcell(k)) <= Threshold

    /** The home points within [[Threshold]] of the opened surface. */
    def groundPoints: Iterator[(Double, Double, Double)] =
      hz.indices.iterator.filter(ground).map(k => (hx(k), hy(k), hz(k)))

    /** Per home cell: (col, row, n_points, n_ground, zmin, opened_z). */
    def summary: Iterator[(Int, Int, Long, Long, Double, Double)] = {
      val n = new Array[Long](E * E)
      val g = new Array[Long](E * E)
      hcell.indices.foreach { k =>
        n(hcell(k)) += 1
        if (ground(k)) g(hcell(k)) += 1
      }
      n.indices.iterator.filter(n(_) > 0).map(i =>
        (c0 + i % E, r0 + i / E, n(i), g(i), zmin(i), opened(i)))
    }
  }

  /** Non-noise points grouped by halo tile. */
  private def tiles(pts: DataFrame) = {
    import pts.sparkSession.implicits._
    HaloTile.route(pts.filter(!col("classification").isin(7, 18)).select("x", "y", "z"),
        floor(col("x")).cast("int"), floor(col("y")).cast("int"), TileCells, HaloCells)
      .groupBy("tc", "tr").as[(Int, Int), TilePt]
  }

  /** Per-cell reclassification summary: (col, row, n_points, n_ground,
    * zmin, opened_z). Gate-compact (one row per cell) while still pinning
    * every point's ground/object decision through n_ground. */
  def reclassify(pts: DataFrame): DataFrame = {
    import pts.sparkSession.implicits._
    tiles(pts).flatMapGroups { (k: (Int, Int), it: Iterator[TilePt]) =>
      new TileOpening(k._1, k._2, it).summary }
      .toDF("col", "row", "n_points", "n_ground", "zmin", "opened_z")
      .select(col("col"), col("row"), col("n_points"), col("n_ground"),
        round(col("zmin"), 6).as("zmin"), round(col("opened_z"), 6).as("opened_z"))
  }

  /** Per-POINT ground selection — the composable form of [[reclassify]]
    * for pipelines that need the surviving points themselves (LAS bytes →
    * SMRF → DEM grid, the reference's differencing_functions.py:1672–1676
    * keep-class-2 step): the (x, y, z) rows within Threshold of the
    * opened surface, from the same kernel. */
  def groundPoints(pts: DataFrame): DataFrame = {
    import pts.sparkSession.implicits._
    tiles(pts).flatMapGroups { (k: (Int, Int), it: Iterator[TilePt]) =>
      new TileOpening(k._1, k._2, it).groundPoints }
      .toDF("x", "y", "z")
  }

  // ---- multi-window schedule (round 6) ---------------------------------
  // PDAL filters.smrf defaults (Pingel, Clarke & McBride 2013 §3): the
  // opening iterates over GROWING windows to `window` meters, the
  // elevation threshold scales with the slope parameter, and empty cells
  // are inpainted before the schedule runs. Fixture parameters below; the
  // reference's PDAL defaults are window=18, slope=0.15, scalar=1.25,
  // threshold=0.5, cell=1 (i_smrf_multiwindow runs window=5 to keep the
  // gate's stage count proportionate — every extra meter is one more
  // erode+dilate pair of the identical plan shape).
  val Slope = 0.15
  val Scalar = 1.25
  val WindowMeters = 5
  val Cell = 1.0
  /** Radii at or above this use the SEPARABLE (row-then-column) opening
    * passes — identical min/max semantics, 2·(2k+1)× instead of (2k+1)²×
    * shuffle volume, one extra stage per pass. */
  val SepRadius = 4

  /** Slope-scaled elevation threshold for window radius k (meters):
    * base + scalar·slope·k·cell. */
  def et(k: Int, dh0: Double = Threshold, slope: Double = Slope,
         scalar: Double = Scalar, cell: Double = Cell): Double =
    dh0 + scalar * slope * k * cell

  private val offsets = for (dc <- -1 to 1; dr <- -1 to 1) yield (dc, dr)

  /** One ring of min-inpaint: every bbox-clipped 3×3 neighbor of the
    * current domain gets the MIN of its existing neighbors; existing
    * cells keep their value. Iterated k times this closes holes up to k
    * cells from data — the nearest-neighbor inpaint PDAL applies to the
    * minimum surface before opening it. */
  private def inpaintStep(cells: DataFrame, bb: DataFrame): DataFrame = {
    // the (0,0) offset carries an "own" marker, so ONE explode-aggregate
    // yields both the cell's original value (min over the single own row)
    // and the neighborhood min — the input is consumed exactly once.
    // (A join-back formulation consumes its input twice; chained over k
    // inpaint rings + 2k morphology passes that recomputes the lazy
    // prefix 2^stages times — measured 34 s vs ~2 s at sf0.1.)
    val moved = cells.select(
      explode(array(offsets.map { case (dc, dr) =>
        struct((col("c") + dc).as("c"), (col("r") + dr).as("r"),
          col("v").as("v"), lit(dc == 0 && dr == 0).as("own"))
      }: _*)).as("t"))
      .select(col("t.c").as("c"), col("t.r").as("r"), col("t.v").as("v"),
        col("t.own").as("own"))
    moved.groupBy("c", "r")
      .agg(min(when(col("own"), col("v"))).as("ov"), min(col("v")).as("mv"))
      .join(broadcast(bb))
      .filter(col("c").between(col("cmin"), col("cmax")) &&
        col("r").between(col("rmin"), col("rmax")))
      .select(col("c"), col("r"), coalesce(col("ov"), col("mv")).as("v"))
  }

  /** Full windowed SMRF schedule: min surface → `inpaintIters` rings of
    * min-inpaint → for k = 1..windowMeters: opening of the PREVIOUS
    * opened surface with a RADIUS-k square element (a fixed-size opening
    * would be idempotent and never remove structures wider than 3
    * cells), flagging cells whose drop exceeds [[et]](k) as OBJECT
    * (progressive opening, Pingel §3); a point is ground iff its cell
    * was never flagged and z − finalSurface ≤ dh0. Each radius-k erode/
    * dilate below [[SepRadius]] is ONE (2k+1)² offset-explode aggregate —
    * the Chebyshev-ball min/max over existing cells, exactly the
    * BETWEEN-k join the oracle runs; at or above it the pass runs the
    * SEPARABLE row-then-column factorization (2·(2k+1)× shuffle volume,
    * one extra stage), property-tested equal cell-for-cell. The split
    * matters because PDAL's real default is window=18: a square element
    * there ships 37² = 1369× the cell table per pass — a scale-killer —
    * vs 74× separable. Measured on the local fixture the two forms are
    * within noise (sf0.1: 5.3 vs 6.0 s; sf1: 5.75 vs 6.18 s — both
    * stage-latency-bound), so the fixture cost of the scale-safe shape
    * is ~0.5 s and it is kept on. With
    * windowMeters=1, slope=0, inpaintIters=0 the decision rule reduces
    * per point to [[reclassify]] (property-tested in SmrfSpec): the k=1
    * flag marks exactly the cells where every point already fails the
    * z − opened ≤ dh0 test.
    *
    * Scale shape: every stage stays a cell-keyed grid aggregate (cells ≪
    * points); the schedule multiplies the STAGE COUNT, never the row
    * width, and the two point-table touches (min surface, final
    * classify) are the only point-sized scans. */
  def reclassifyMultiWindow(pts: DataFrame,
      windowMeters: Int = WindowMeters, slope: Double = Slope,
      dh0: Double = Threshold, scalar: Double = Scalar,
      inpaintIters: Int = -1, sepRadius: Int = SepRadius): DataFrame = {
    val inpIters = if (inpaintIters < 0) windowMeters else inpaintIters
    val clean = graft.functions.CacheRegistry.share(
      pts.filter(!col("classification").isin(7, 18))
        .select(floor(col("x")).cast("int").as("c"),
          floor(col("y")).cast("int").as("r"), col("z")))
    val cells = graft.functions.CacheRegistry.share(
      clean.groupBy("c", "r").agg(min("z").as("v")))
    val bb = cells.agg(min("c").as("cmin"), max("c").as("cmax"),
      min("r").as("rmin"), max("r").as("rmax"))
    var surf = (1 to inpIters).foldLeft(cells: DataFrame)((s, _) => inpaintStep(s, bb))
    // radius-k pass in ONE offset-explode aggregate over (2k+1)² offsets;
    // the own marker replaces a join-back (targets kept iff they exist in
    // the input — the domain is fixed after inpaint), so the input is
    // consumed once and the stage chain stays linear. The offsets come
    // from two chained sequence() explodes, NOT a (2k+1)²-struct array
    // literal: at radius 5 that array is 484 expressions, which blows the
    // 64 KB codegen method limit and costs seconds of compilation per
    // stage (measured: the whole query was ~6.5 s at ANY data size —
    // pure fixed overhead)
    // r14: each pass CARRIES the pre-opening surface value (`sv`)
    // through its own-marker row — exactly one (0,0)-offset (resp.
    // dc=0 / dr=0) contribution reaches each kept target, so
    // min(when(own, sv)) reproduces surf(c, r) at the dilate output and
    // the per-window flag branch becomes a FILTER on the checkpointed
    // opened surface instead of a surf ⋈ opened join (one join stage
    // per window removed; the flag predicate and row set are
    // identical). `carry` is false on the first (erode) pass — its sv
    // source IS v — and true on the second, which threads the erode's
    // sv through.
    def pass(s: DataFrame, radius: Int, doMin: Boolean,
             carry: Boolean): DataFrame = {
      // Residual fixed cost of this query (~4-7 s at ANY fixture size) is
      // ~20 sequential shuffle-stage round trips — the price of an
      // iterative morphology on a tiny local fixture, amortized to noise
      // at real data sizes (measured: radius-as-broadcast-column codegen
      // sharing and eager-vs-lazy checkpointing both moved nothing)
      def agg1(c: Column) = if (doMin) min(c) else max(c)
      val svIn = if (carry) col("sv") else col("v")
      if (radius < sepRadius) {
        val moved = s
          .select(col("c"), col("r"), col("v"), svIn.as("sv"),
            explode(sequence(lit(-radius), lit(radius))).as("dc"))
          .select((col("c") + col("dc")).as("c"), col("r"), col("v"),
            col("sv"), col("dc"),
            explode(sequence(lit(-radius), lit(radius))).as("dr"))
          .select(col("c"), (col("r") + col("dr")).as("r"), col("v"),
            col("sv"), (col("dc") === 0 && col("dr") === 0).as("own"))
        moved.groupBy("c", "r")
          .agg(agg1(col("v")).as("v"), max(col("own")).as("keep"),
            min(when(col("own"), col("sv"))).as("sv"))
          .filter(col("keep"))
          .select("c", "r", "v", "sv")
      } else {
        // SEPARABLE form for large radii: a square-element min/max
        // factors into a row pass then a column pass, so the shuffle
        // carries 2·(2k+1)·|cells| rows instead of (2k+1)²·|cells| —
        // at radius 5 that is 22× vs 121×, the difference between a
        // morphology that scales and one that doesn't at 100 TB. Costs
        // one extra stage per pass, so small radii keep the one-shot
        // form (9–49× explode is cheaper than a second round trip).
        // Domain restriction threads through: a row-pass target is a
        // real cell iff its dc=0 source exists (inS), and a final
        // target is kept iff its dr=0 intermediate was a real cell —
        // that same unique dc=0/dr=0 row carries sv.
        val rowPass = s
          .select(col("c"), col("r"), col("v"), svIn.as("sv"),
            explode(sequence(lit(-radius), lit(radius))).as("dc"))
          .select((col("c") + col("dc")).as("c"), col("r"), col("v"),
            col("sv"), (col("dc") === 0).as("own"))
          .groupBy("c", "r")
          .agg(agg1(col("v")).as("v"), max(col("own")).as("inS"),
            min(when(col("own"), col("sv"))).as("sv"))
        rowPass
          .select(col("c"), col("r"), col("v"), col("sv"), col("inS"),
            explode(sequence(lit(-radius), lit(radius))).as("dr"))
          .select(col("c"), (col("r") + col("dr")).as("r"), col("v"),
            col("sv"), (col("dr") === 0 && col("inS")).as("own"))
          .groupBy("c", "r")
          .agg(agg1(col("v")).as("v"), max(col("own")).as("keep"),
            min(when(col("own"), col("sv"))).as("sv"))
          .filter(col("keep"))
          .select("c", "r", "v", "sv")
      }
    }
    var flags: DataFrame = null
    for (k <- 1 to windowMeters) {
      // eagerly checkpoint EACH stage: every opened surface is consumed
      // twice (next erode + its flag branch), so without sharing the
      // lazy prefix re-derives per consumer (measured 34 s). A/B at
      // sf0.1: eager localCheckpoint runs 4.8–6.4 s cold-to-warm vs
      // 6.6–17.6 s for lazy shared persists — lineage truncation also
      // shrinks the plan the final job must schedule
      val opened = pass(pass(surf, k, doMin = true, carry = false),
          k, doMin = false, carry = true)
        .localCheckpoint(true)
      val thresh = et(k, dh0, slope, scalar)
      val newFlags = opened
        .filter(col("sv") - col("v") > thresh)
        .select("c", "r")
      flags = if (flags == null) newFlags else flags.unionAll(newFlags)
      surf = opened.select("c", "r", "v")
    }
    val objMask = flags.distinct().withColumn("is_obj", lit(1))
    clean.join(surf.select(col("c"), col("r"), col("v").as("oz")), Seq("c", "r"))
      .join(objMask, Seq("c", "r"), "left_outer")
      .groupBy("c", "r")
      .agg(count(lit(1)).as("n_points"),
        sum(when(col("z") - col("oz") <= dh0 && col("is_obj").isNull, 1L)
          .otherwise(0L)).as("n_ground"),
        round(min("z"), 6).as("zmin"),
        round(min("oz"), 6).as("opened_z"))
      .select(col("c").as("col"), col("r").as("row"), col("n_points"),
        col("n_ground"), col("zmin"), col("opened_z"))
  }

  /** Oracle twin of [[reclassifyMultiWindow]] — the same inpaint rings,
    * progressive opening, slope-scaled flags, and classify, as chained
    * BETWEEN-join CTEs. Threshold literals are Scala-computed doubles
    * embedded via `toString` (shortest round-trip form, so DuckDB parses
    * the identical IEEE value). */
  def reclassifyMultiWindowSql(ptsCte: String,
      windowMeters: Int = WindowMeters, slope: Double = Slope,
      dh0: Double = Threshold, scalar: Double = Scalar,
      inpaintIters: Int = -1): String = {
    val inpIters = if (inpaintIters < 0) windowMeters else inpaintIters
    val sb = new StringBuilder
    sb.append(
      s"""WITH pc AS MATERIALIZED (SELECT CAST(floor(x) AS INT) AS c,
                             CAST(floor(y) AS INT) AS r, z
                      FROM ($ptsCte) WHERE classification NOT IN (7, 18)),
          offs(dc, dr) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)),
          d0 AS MATERIALIZED (SELECT c, r, min(z) AS v FROM pc GROUP BY 1, 2),
          bb AS (SELECT min(c) AS cmin, max(c) AS cmax,
                        min(r) AS rmin, max(r) AS rmax FROM d0)""")
    for (k <- 1 to inpIters) {
      sb.append(
        s""",
          d$k AS MATERIALIZED (
            SELECT x.c, x.r, coalesce(p.v, x.mv) AS v
            FROM (SELECT t.c, t.r, min(s.v) AS mv
                  FROM (SELECT DISTINCT d.c + o.dc AS c, d.r + o.dr AS r
                        FROM d${k - 1} d CROSS JOIN offs o CROSS JOIN bb
                        WHERE d.c + o.dc BETWEEN bb.cmin AND bb.cmax
                          AND d.r + o.dr BETWEEN bb.rmin AND bb.rmax) t
                  JOIN d${k - 1} s ON s.c BETWEEN t.c - 1 AND t.c + 1
                                  AND s.r BETWEEN t.r - 1 AND t.r + 1
                  GROUP BY 1, 2) x
            LEFT JOIN d${k - 1} p ON p.c = x.c AND p.r = x.r)""")
    }
    sb.append(s""", s0 AS MATERIALIZED (SELECT c, r, v FROM d$inpIters)""")
    // stage k: radius-k erode + dilate as single BETWEEN-k joins — the
    // same Chebyshev-ball aggregates the Spark side runs in one pass
    def onePass(out: String, in: String, agg: String, k: Int): String =
      s""",
          $out AS MATERIALIZED (SELECT t.c, t.r, $agg(n.v) AS v
                   FROM $in t JOIN $in n
                     ON n.c BETWEEN t.c - $k AND t.c + $k
                    AND n.r BETWEEN t.r - $k AND t.r + $k
                   GROUP BY 1, 2)"""
    for (k <- 1 to windowMeters) {
      val thresh = et(k, dh0, slope, scalar).toString
      sb.append(onePass(s"e$k", s"s${k - 1}", "min", k))
      sb.append(onePass(s"s$k", s"e$k", "max", k))
      sb.append(
        s""",
          fl$k AS (SELECT t.c, t.r FROM s${k - 1} t
                   JOIN s$k o ON o.c = t.c AND o.r = t.r
                   WHERE t.v - o.v > $thresh)""")
    }
    val flagUnion = (1 to windowMeters).map(k => s"SELECT c, r FROM fl$k")
      .mkString(" UNION ALL ")
    sb.append(
      s""",
          obj AS (SELECT DISTINCT c, r FROM ($flagUnion))
          SELECT p.c AS col, p.r AS "row", count(*) AS n_points,
                 CAST(sum(CASE WHEN p.z - s.v <= $dh0 AND obj.c IS NULL
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_ground,
                 round(min(p.z), 6) AS zmin,
                 round(min(s.v), 6) AS opened_z
          FROM pc p JOIN s$windowMeters s ON s.c = p.c AND s.r = p.r
          LEFT JOIN obj ON obj.c = p.c AND obj.r = p.r
          GROUP BY 1, 2""")
    sb.toString
  }

  /** DuckDB oracle: BETWEEN-range neighbor joins express the same sparse
    * 3×3 morphology (the offset-explode form above is its equi-join
    * re-shape; min/max are order-free, so both engines agree exactly). */
  def reclassifySql(ptsCte: String): String =
    s"""WITH pc AS (SELECT CAST(floor(x) AS INT) AS c,
                           CAST(floor(y) AS INT) AS r, z
                    FROM ($ptsCte) WHERE classification NOT IN (7, 18)),
        cells AS (SELECT c, r, min(z) AS zmin FROM pc GROUP BY 1, 2),
        er AS (SELECT t.c, t.r, min(n.zmin) AS ez
               FROM cells t JOIN cells n
                 ON n.c BETWEEN t.c - 1 AND t.c + 1
                AND n.r BETWEEN t.r - 1 AND t.r + 1
               GROUP BY 1, 2),
        op AS (SELECT t.c, t.r, max(n.ez) AS oz
               FROM er t JOIN er n
                 ON n.c BETWEEN t.c - 1 AND t.c + 1
                AND n.r BETWEEN t.r - 1 AND t.r + 1
               GROUP BY 1, 2)
        SELECT p.c AS col, p.r AS "row", count(*) AS n_points,
               CAST(sum(CASE WHEN p.z - o.oz <= $Threshold
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_ground,
               round(min(p.z), 6) AS zmin,
               round(min(o.oz), 6) AS opened_z
        FROM pc p JOIN op o ON o.c = p.c AND o.r = p.r
        GROUP BY 1, 2"""
}
