package graft.api

import graft.functions.CacheRegistry.Shareable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SphericalModel
import graft.fit.VariogramFit
import graft.fit.VariogramFit.Bin
import graft.geom.Geom
import graft.raster.{GridMeta, PixelGrid}
import graft.rng.Rand
import graft.vario.Vario

/** High-level facade mirroring the reference's analysis workflow
  * (notebook cells 60–86): difference two aligned rasters, estimate and
  * remove vertical bias over stable ground, characterize spatially
  * correlated error with multi-run empirical variograms + a fitted nested
  * spherical model, and propagate correlated + uncorrelated uncertainty to
  * a per-polygon total. A user of the reference maps:
  *
  *  - `TopoDifferencer.save_difference_raster` → [[ErrorAnalysis.difference]]
  *  - notebook cell 74 median bias + bootstrap   → [[biasOverStable]]
  *  - `RasterDataHandler.sample_raster` + Numba kernel + `compute_matheron`
  *    + `calculate_mean_variogram` → [[empiricalVariogram]]
  *  - `fit_best_model` (TRF + AIC)  → [[fitModel]]
  *  - `RegionalUncertaintyEstimator` / `ApplyUncertainty` → [[uncertainty]]
  *
  * Everything table-sized stays distributed: the variogram reaches the
  * driver as ≤(runs×bins) rows, and each uncertainty report as one
  * count/RMS/extent aggregate. The Monte-Carlo propagation then runs on
  * the driver, bounded by `nPairs` × draws, never by the raster.
  */
class ErrorAnalysis(spark: SparkSession, meta: GridMeta = GridMeta()) {

  /** Δz pixel table from two aligned pixel tables (inner join ⇒ NaN
    * propagation by absence). */
  def difference(a: DataFrame, b: DataFrame): DataFrame =
    PixelGrid.withXY(PixelGrid.difference(a, b), meta)
      .withColumnRenamed("dz", "value")

  /** Median vertical bias over the stable polygon + its bootstrap
    * uncertainty (1000×-style resample; variography_uncertainty.py:289–316).
    * Returns (bias, biasUncertainty). */
  def biasOverStable(dz: DataFrame, stableWkt: String,
                     nBoot: Int = 200, subSize: Int = 500,
                     seed: Long = 42L): (Double, Double) = {
    val verts = Geom.polyLit(Geom.wktToPoints(stableWkt))
    val stable = dz.filter(Geom.pointInPolygon(col("x"), col("y"), verts))
      .select(col("value")).persistShared()
    // clear failure over a degenerate polygon: percentile of an empty
    // relation is NULL and getDouble would throw ROW_VALUE_IS_NULL
    val n = stable.count()
    require(n > 0, s"stable polygon contains no pixels: $stableWkt")
    val bias = stable.agg(percentile(col("value"), lit(0.5))).head().getDouble(0)
    val idx = stable.withColumn("idx",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("value"))))
    val draws = spark.range(nBoot.toLong * subSize)
      .select((col("id") / subSize).cast("int").as("iter"),
        (graft.rng.Rand.mix(col("id"), seed) % n + 1).as("idx"))
    val unc = draws.join(idx, "idx")
      .groupBy("iter").agg(percentile(col("value"), lit(0.5)).as("med"))
      .agg(stddev_pop(col("med"))).head().getDouble(0)
    stable.unpersist()
    (bias, unc)
  }

  def removeBias(dz: DataFrame, bias: Double): DataFrame =
    dz.withColumn("value", col("value") - lit(bias))

  /** Robust dispersion of Δz inside a polygon:
    * NMAD = 1.4826 · median(|v − median(v)|) — the outlier-insensitive
    * σ-equivalent standard in DEM differencing practice (beside the
    * reference's classical std/RMS surfaces). Two exact interpolated
    * order statistics; nothing table-sized reaches the driver. */
  def nmad(dz: DataFrame, wkt: String): Double = {
    val verts = Geom.polyLit(Geom.wktToPoints(wkt))
    val in = dz.filter(Geom.pointInPolygon(col("x"), col("y"), verts))
      .select(col("value")).persistShared()
    try {
      require(!in.isEmpty, s"polygon contains no pixels: $wkt")
      val med = in.agg(percentile(col("value"), lit(0.5))).head().getDouble(0)
      1.4826 * in.select(abs(col("value") - lit(med)).as("a"))
        .agg(percentile(col("a"), lit(0.5))).head().getDouble(0)
    } finally { in.unpersist(); () }
  }

  /** Multi-run empirical variogram over the (debiased) Δz pixels:
    * seeded sample → neighbor-cell band join → Matheron bins → cross-run
    * reduction. Returns the small (bin-level) DataFrame. */
  def empiricalVariogram(dz: DataFrame, nRuns: Int = 5, sampleSize: Int = 800,
                         maxLag: Double = 60.0, binWidth: Double = 6.0)
      : DataFrame = {
    val pts = dz.select(
      (col("row").cast("long") * meta.width + col("col")).as("k"),
      col("x"), col("y"), col("value").as("v"))
    val sample = Vario.multiRunSample(pts, nRuns, sampleSize)
    Vario.crossRunReduce(
      Vario.matheron(Vario.bandPairs(sample, maxLag), binWidth))
  }

  /** Collect the cross-run variogram and fit the nested spherical model
    * search (driver-side Breeze; AIC argmin). */
  def fitModel(crossRun: DataFrame, binWidth: Double): VariogramFit.FitResult =
    VariogramFit.fit(VariogramFit.binsFromCrossRun(crossRun, binWidth))

  /** Per-polygon uncertainty report:
    * uncorrelated = RMS/√N over polygon pixels (:1544–1552);
    * correlated  = Monte-Carlo mean covariance over seeded point pairs in
    *               the polygon bbox (:1238–1274);
    * total       = quadrature (:1554–1573). */
  def uncertainty(dz: DataFrame, polygons: Seq[(String, String)],
                  model: SphericalModel, nPairs: Int = 20000,
                  seed: Long = 42L): DataFrame =
    polygonReports(dz, polygons, nPairs, seed) { (pairs, _) =>
      ErrorAnalysis.corrSigmas(pairs, Seq(model)).head._1
    }

  /** Per-cell σ(x,y) map from the (debiased) Δz pixels: RMS of value over
    * `cell`-sized squares — the data-driven analog of the reference
    * raster handler's `sigma2_map` (variography_uncertainty.py:1345–1355;
    * its nearest-neighbour lookup becomes a cell-key lookup here).
    * One hash aggregate over the pixel table; the map is per-tile-sized
    * (≤ (extent/cell)² rows). */
  def sigmaMap(dz: DataFrame, cell: Double): DataFrame =
    dz.groupBy(
        floor(col("x") / cell).cast("long").as("gx"),
        floor(col("y") / cell).cast("long").as("gy"))
      .agg(sqrt(avg(col("value") * col("value"))).as("sigma"))

  /** Heteroscedastic per-polygon uncertainty: the correlated term becomes
    * E[ρ(‖X−Y‖)·σ(X)·σ(Y)] with ρ(h)=clip(1−γ(h)/σ²_tot, −1, 1)
    * (estimate_monte_carlo with sigma_func,
    * variography_uncertainty.py:1263–1274) — the chain the reference's
    * workflow implies: dh/dt-WLS weights → per-pixel σ map → MC
    * propagation. Same accepted pairs as [[uncertainty]], so a constant
    * σ map = √σ²_tot reproduces its correlated term. The σ map (one row
    * per `(gx, gy)` cell) is collected to the driver, and each endpoint
    * looks up its cell's σ, falling back to the polygon RMS for cells
    * the map doesn't cover or holds null (the nearest-neighbour analog
    * of :1350–1353). */
  def uncertaintyHetero(dz: DataFrame, polygons: Seq[(String, String)],
                        model: SphericalModel, sigma: DataFrame, cell: Double,
                        nPairs: Int = 20000, seed: Long = 42L): DataFrame = {
    val rows = sigma.select(col("gx").cast("long"), col("gy").cast("long"),
      col("sigma").cast("double")).collect()
    val sig = rows.collect { case r if !r.isNullAt(2) =>
      (r.getLong(0), r.getLong(1)) -> r.getDouble(2) }.toMap
    require(rows.map(r => (r.get(0), r.get(1))).distinct.length == rows.length,
      "the sigma map has more than one row for a (gx, gy) cell")
    def cellOf(x: Double, y: Double) =
      (math.floor(x / cell).toLong, math.floor(y / cell).toLong)
    polygonReports(dz, polygons, nPairs, seed) { (pairs, rms) =>
      ErrorAnalysis.sigma(pairs.map { case p @ (x1, y1, x2, y2) =>
        val rho = math.max(-1.0, math.min(1.0,
          1.0 - model.gammaTotal(ErrorAnalysis.dist(p)) / model.totalSill))
        rho * sig.getOrElse(cellOf(x1, y1), rms) * sig.getOrElse(cellOf(x2, y2), rms)
      }.sum / pairs.length)
    }
  }

  /** The per-polygon report of [[uncertainty]] and [[uncertaintyHetero]]:
    * pixel count and RMS from one aggregate, then `corr` of the polygon's
    * accepted pairs (and its RMS) as the correlated term. */
  private def polygonReports(dz: DataFrame, polygons: Seq[(String, String)],
                             nPairs: Int, seed: Long)
                            (corr: (Array[ErrorAnalysis.Pair], Double) => Double)
      : DataFrame = {
    import spark.implicits._
    polygons.map { case (name, wkt) =>
      val pts = Geom.wktToPoints(wkt)
      val s = ErrorAnalysis.dzStats(
        dz.filter(Geom.pointInPolygon(col("x"), col("y"), Geom.polyLit(pts))),
        s"polygon $name contains no dz pixels: $wkt")
      val uncorr = s.rms / math.sqrt(s.n.toDouble)
      val c = corr(ErrorAnalysis.pairsIn(s"polygon $name", pts, nPairs, seed), s.rms)
      UncertaintyReport(name, s.n, bias = Double.NaN, s.rms,
        uncorrelated = uncorr, correlated = c,
        total = math.sqrt(uncorr * uncorr + c * c))
    }.toDF()
  }

  /** Reference-parity uncertainty block: every attribute the reference's
    * `RegionalUncertaintyEstimator` stores and `print_results` prints
    * (variography_uncertainty.py:1147–1166, 1575–1661), populated with
    * the same estimator semantics:
    *
    *  - polygon-scope triples (per-component AND total correlated) are
    *    bootstrap 16/50/84 percentiles: each parameter draw is pushed
    *    through ONE fixed accepted-pair set inside the polygon
    *    (`_bootstrap_correlated_polygon`, :1451–1533 — note the central
    *    value is the bootstrap p50, which the reference lets OVERWRITE
    *    the point estimate);
    *  - raster-scope triples are parameter-bound propagation: the point
    *    fit and the per-parameter 16/84 vectors (`sills_min/max`,
    *    `ranges_min/max`, `min/max_nugget`) each evaluated over pairs
    *    drawn in the valid-data bbox (`calc_mean_random_correlated_raster`
    *    with the default `level_of_detail="bbox"`, :1420–1449), each
    *    variant using its OWN total sill (`sigma2_min/max`, :1124–1127);
    *  - per-component γ_i keeps only component i's sill+range plus the
    *    nugget (`arrange_params`, :1058–1081), while σ²_tot stays the
    *    full draw's total — so σ_i measures the correlation left if only
    *    component i described the structure;
    *  - uncorrelated is RMS/√N over ALL valid raster pixels
    *    (`calc_mean_random_uncorrelated`, :1544–1552), not polygon
    *    pixels; totals are quadrature per variant (:1554–1573).
    *
    * One aggregate over Δz (count, RMS, extents) is the only Spark work.
    * Both pair sets are drawn and every draw and bound vector is
    * evaluated over them on the driver, as the reference does with
    * NumPy: the cost is set by `nPairs` × draws, never by the raster. */
  def uncertaintyFull(dz: DataFrame, polygonName: String, polygonWkt: String,
                      fit: VariogramFit.FitResult,
                      paramDraws: Array[Array[Double]],
                      nPairs: Int = 20000, seed: Long = 42L)
      : UncertaintyReportFull = {
    require(paramDraws.nonEmpty, "uncertaintyFull needs bootstrap draws")
    val k = fit.nComponents
    val ng = fit.hasNugget
    def model(p: Array[Double]): SphericalModel =
      SphericalModel(p.take(k).toSeq, p.slice(k, 2 * k).toSeq, if (ng) p(2 * k) else 0.0)

    // whole-raster uncorrelated term + extents (one aggregate)
    val s = ErrorAnalysis.dzStats(dz, "uncertaintyFull: the dz frame has no valid pixels")
    val uncorr = s.rms / math.sqrt(s.n.toDouble)

    val pts = Geom.wktToPoints(polygonWkt)
    // shoelace area of the (closed) polygon ring — reference polygon.area
    val areaPoly = math.abs(
      (pts :+ pts.head).sliding(2).map { w =>
        w(0)._1 * w(1)._2 - w(1)._1 * w(0)._2
      }.sum) / 2.0
    val areaBbox = (s.maxX - s.minX) * (s.maxY - s.minY)
    val areaDetailed = s.n.toDouble * math.abs(meta.dx * meta.dy)

    val polyPairs = ErrorAnalysis.pairsIn(s"polygon $polygonName", pts, nPairs, seed)
    val bboxPts = Seq((s.minX, s.minY), (s.maxX, s.minY), (s.maxX, s.maxY), (s.minX, s.maxY))
    val rasterPairs = ErrorAnalysis.pairsIn(s"the raster bbox of polygon $polygonName",
      bboxPts, nPairs, seed)

    // ---- polygon scope: bootstrap 16/50/84 over the draw set ----------
    val polyByDraw = ErrorAnalysis.corrSigmas(polyPairs, paramDraws.map(model))
    import VariogramFit.percentile
    def band(xs: IndexedSeq[Double]): Triple = {
      val s = xs.sorted
      Triple(percentile(s, 0.16), percentile(s, 0.50), percentile(s, 0.84))
    }
    val corrTotPoly = band(polyByDraw.map(_._1))
    val corrCompPoly = (0 until k).map(i => band(polyByDraw.map(_._2(i))))

    // ---- raster scope: point fit + per-parameter 16/84 bound vectors --
    val nParams = 2 * k + (if (ng) 1 else 0)
    def paramPctl(q: Double): Array[Double] =
      (0 until nParams).map { j =>
        percentile(paramDraws.map(_(j)).sorted, q)
      }.toArray
    val pointP = (fit.model.sills ++ fit.model.ranges ++
      (if (ng) Seq(fit.model.nugget) else Nil)).toArray
    val rasterByVar = ErrorAnalysis.corrSigmas(rasterPairs,
      Seq(pointP, paramPctl(0.16), paramPctl(0.84)).map(model))
    def vTriple(f: Int => Double) = Triple(f(1), f(0), f(2))
    val corrTotRaster = vTriple(v => rasterByVar(v)._1)
    val corrCompRaster = (0 until k).map(i => vTriple(v => rasterByVar(v)._2(i)))

    def quad(t: Triple) = Triple(
      math.sqrt(uncorr * uncorr + t.min * t.min),
      math.sqrt(uncorr * uncorr + t.central * t.central),
      math.sqrt(uncorr * uncorr + t.max * t.max))

    UncertaintyReportFull(
      polygon = polygonName, nPixels = s.n, rms = s.rms,
      areaPolygon = areaPoly, areaRasterBbox = areaBbox,
      areaRasterDetailed = areaDetailed,
      uncorrelated = uncorr,
      corrComponentsPolygon = corrCompPoly, corrTotalPolygon = corrTotPoly,
      corrComponentsRaster = corrCompRaster, corrTotalRaster = corrTotRaster,
      totalPolygon = quad(corrTotPoly), totalRaster = quad(corrTotRaster))
  }
}

object ErrorAnalysis {
  /** One Monte-Carlo pair: (x1, y1, x2, y2). */
  type Pair = (Double, Double, Double, Double)

  /** THE seeded MC pair generator behind [[ErrorAnalysis.uncertainty]],
    * [[ErrorAnalysis.uncertaintyHetero]] and [[ErrorAnalysis.uncertaintyFull]]
    * (whose σ_corr bootstrap band it feeds), run on the driver:
    * `3·nPairs` bbox-uniform candidate pairs from the counter RNG
    * ([[Rand.mixLong]], salts seed+1..seed+4, scaled as `u01` is), both
    * endpoints accepted by the even–odd test [[Geom.inPolygon]], the
    * first `nPairs` accepted candidate ids kept in id order. One
    * generator, so the band and the central estimate measure the SAME
    * pairs by construction. May return fewer than `nPairs` pairs, or
    * none for a sliver polygon. */
  def acceptedPairs(pts: Seq[(Double, Double)], nPairs: Int, seed: Long): Array[Pair] = {
    val xs = pts.map(_._1).toArray
    val ys = pts.map(_._2).toArray
    val (minX, maxX) = (xs.min, xs.max)
    val (minY, maxY) = (ys.min, ys.max)
    def u(id: Long, salt: Long) = Rand.mixLong(id, seed + salt).toDouble / Rand.M.toDouble
    (0L until nPairs * 3L).iterator // rejection headroom
      .map(id => (u(id, 1) * (maxX - minX) + minX, u(id, 2) * (maxY - minY) + minY,
        u(id, 3) * (maxX - minX) + minX, u(id, 4) * (maxY - minY) + minY))
      .filter { case (x1, y1, x2, y2) =>
        Geom.inPolygon(x1, y1, xs, ys) && Geom.inPolygon(x2, y2, xs, ys) }
      .take(nPairs).toArray
  }

  /** [[acceptedPairs]] for a named region, which must accept one pair. */
  private def pairsIn(what: String, pts: Seq[(Double, Double)], nPairs: Int,
                      seed: Long): Array[Pair] = {
    val pairs = acceptedPairs(pts, nPairs, seed)
    require(pairs.nonEmpty, s"$what accepts 0 of ${nPairs * 3L} candidate pairs " +
      "(a sliver polygon, or too few nPairs)")
    pairs
  }

  private def dist(p: Pair): Double =
    math.sqrt(math.pow(p._3 - p._1, 2) + math.pow(p._4 - p._2, 2))

  /** A correlated σ from a mean covariance, clipped at 0. */
  private def sigma(meanCov: Double): Double = math.sqrt(math.max(meanCov, 0.0))

  /** The driver loop: for each model, the σ of its mean covariance over
    * the pairs, total E[σ²_tot − γ(h)] first, then per component i
    * E[σ²_tot − γ_i(h)], where γ_i keeps component i and the nugget while
    * σ²_tot stays the model's own total sill (`arrange_params`,
    * variography_uncertainty.py:1058–1081). */
  private def corrSigmas(pairs: Array[Pair], models: Seq[SphericalModel])
      : IndexedSeq[(Double, IndexedSeq[Double])] = {
    val h = pairs.map(dist)
    models.toIndexedSeq.map { m =>
      def sig(g: SphericalModel) = sigma(h.map(m.totalSill - g.gammaTotal(_)).sum / h.length)
      (sig(m), m.sills.indices.map(i =>
        sig(SphericalModel(Seq(m.sills(i)), Seq(m.ranges(i)), m.nugget))))
    }
  }

  /** Count, RMS and extents of Δz, the one aggregate each report runs. */
  private case class DzStats(n: Long, rms: Double,
                             minX: Double, maxX: Double, minY: Double, maxY: Double)

  /** [[DzStats]] of `frame`, which must hold a pixel (`empty` says whose). */
  private def dzStats(frame: DataFrame, empty: => String): DzStats = {
    val r = frame.agg(count(lit(1)), sqrt(avg(col("value") * col("value"))),
      min("x"), max("x"), min("y"), max("y")).head()
    require(r.getLong(0) > 0, empty)
    DzStats(r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
      r.getDouble(4), r.getDouble(5))
  }
}

/** (min, central, max) triple — the reference's `_triple` print shape. */
case class Triple(min: Double, central: Double, max: Double)

/** Full result block mirroring the reference's stored attributes
  * (variography_uncertainty.py:1147–1166). Field ↔ attribute map:
  * corrComponentsPolygon(i) ↔ mean_random_correlated_{i+1}_{min,,max}_polygon;
  * corrTotalPolygon ↔ total_mean_correlated_uncertainty_{min,,max}_polygon;
  * same pair for the _raster scope; totalPolygon/totalRaster ↔
  * total_mean_uncertainty_{min,,max}_{polygon,raster}; uncorrelated ↔
  * mean_random_uncorrelated; areaPolygon ↔ self.area; areaRasterBbox ↔
  * raster bbox.area; areaRasterDetailed ↔ detailed_area. */
case class UncertaintyReportFull(
    polygon: String, nPixels: Long, rms: Double,
    areaPolygon: Double, areaRasterBbox: Double, areaRasterDetailed: Double,
    uncorrelated: Double,
    corrComponentsPolygon: Seq[Triple], corrTotalPolygon: Triple,
    corrComponentsRaster: Seq[Triple], corrTotalRaster: Triple,
    totalPolygon: Triple, totalRaster: Triple)

/** The reference's ~30-attribute result block reduced to its load-bearing
  * fields (RegionalUncertaintyEstimator storage,
  * variography_uncertainty.py:1147–1166). */
case class UncertaintyReport(
    polygon: String, nPixels: Long, bias: Double, rms: Double,
    uncorrelated: Double, correlated: Double, total: Double)
