package graft.api

import graft.functions.CacheRegistry.Shareable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Canon.round
import graft.functions.SphericalModel
import graft.fit.VariogramFit
import graft.fit.VariogramFit.Bin
import graft.geom.Geom
import graft.raster.{GridMeta, PixelGrid}
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
  * Everything table-sized stays distributed; only the ≤(runs×bins)
  * variogram and scalar statistics reach the driver.
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
                  seed: Long = 42L): DataFrame = {
    import spark.implicits._
    val rows = polygons.map { case (name, wkt) =>
      val pts = Geom.wktToPoints(wkt)
      val verts = Geom.polyLit(pts)
      val inPoly = dz.filter(Geom.pointInPolygon(col("x"), col("y"), verts))
      val (n, rms) = {
        val r = inPoly.agg(count(lit(1)), sqrt(avg(col("value") * col("value"))))
          .head()
        (r.getLong(0), if (r.isNullAt(1)) Double.NaN else r.getDouble(1))
      }
      val uncorr = rms / math.sqrt(n.toDouble)
      val mc = ErrorAnalysis.acceptedPairs(spark, pts, nPairs, seed)
        .select(sqrt(pow(col("x2") - col("x1"), 2) + pow(col("y2") - col("y1"), 2)).as("h"))
      val meanCov = mc.agg(avg(model.cov(col("h")))).head().getDouble(0)
      val corr = math.sqrt(math.max(meanCov, 0.0))
      UncertaintyReport(name, n, bias = Double.NaN, rms,
        uncorrelated = uncorr, correlated = corr,
        total = math.sqrt(uncorr * uncorr + corr * corr))
    }
    rows.toDF()
  }

  /** Per-cell σ(x,y) map from the (debiased) Δz pixels: RMS of value over
    * `cell`-sized squares — the data-driven analog of the reference
    * raster handler's `sigma2_map` (variography_uncertainty.py:1345–1355;
    * its nearest-neighbour lookup becomes a cell-key broadcast join here).
    * One hash aggregate over the pixel table; the map is per-tile-sized
    * (≤ (extent/cell)² rows), a broadcast dim at any raster scale. */
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
    * propagation. Same seeded rejection pair machinery as [[uncertainty]]
    * (identical salts, so a constant σ map = √σ²_tot reproduces its
    * correlated term exactly); each endpoint resolves σ via a broadcast
    * join on its `cell`-key, falling back to the polygon RMS for cells
    * the map doesn't cover (the nearest-neighbour analog of :1350–1353).
    */
  def uncertaintyHetero(dz: DataFrame, polygons: Seq[(String, String)],
                        model: SphericalModel, sigma: DataFrame, cell: Double,
                        nPairs: Int = 20000, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    val sigmaB = sigma.persistShared()
    val rows = polygons.map { case (name, wkt) =>
      val pts = Geom.wktToPoints(wkt)
      val verts = Geom.polyLit(pts)
      val inPoly = dz.filter(Geom.pointInPolygon(col("x"), col("y"), verts))
      val (n, rms) = {
        val r = inPoly.agg(count(lit(1)), sqrt(avg(col("value") * col("value"))))
          .head()
        (r.getLong(0), if (r.isNullAt(1)) Double.NaN else r.getDouble(1))
      }
      val uncorr = rms / math.sqrt(n.toDouble)
      val mc = ErrorAnalysis.acceptedPairs(spark, pts, nPairs, seed)
      val g1 = sigmaB.select(col("gx").as("gx1"), col("gy").as("gy1"),
        col("sigma").as("sig1"))
      val g2 = sigmaB.select(col("gx").as("gx2"), col("gy").as("gy2"),
        col("sigma").as("sig2"))
      val rho = greatest(lit(-1.0), least(lit(1.0), model.rho(
        sqrt(pow(col("x2") - col("x1"), 2) + pow(col("y2") - col("y1"), 2)))))
      val meanRhoSS = mc
        .withColumn("gx1", floor(col("x1") / cell).cast("long"))
        .withColumn("gy1", floor(col("y1") / cell).cast("long"))
        .withColumn("gx2", floor(col("x2") / cell).cast("long"))
        .withColumn("gy2", floor(col("y2") / cell).cast("long"))
        .join(broadcast(g1), Seq("gx1", "gy1"), "left")
        .join(broadcast(g2), Seq("gx2", "gy2"), "left")
        .select((rho * coalesce(col("sig1"), lit(rms)) *
          coalesce(col("sig2"), lit(rms))).as("t"))
        .agg(avg(col("t"))).head().getDouble(0)
      val corr = math.sqrt(math.max(meanRhoSS, 0.0))
      UncertaintyReport(name, n, bias = Double.NaN, rms,
        uncorrelated = uncorr, correlated = corr,
        total = math.sqrt(uncorr * uncorr + corr * corr))
    }
    sigmaB.unpersist()
    rows.toDF()
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
    * Everything pair×draw-sized stays distributed (one crossJoin +
    * grouped aggregate per scope); only ≤nBoot per-draw means reach the
    * driver for the percentile step. */
  def uncertaintyFull(dz: DataFrame, polygonName: String, polygonWkt: String,
                      fit: VariogramFit.FitResult,
                      paramDraws: Array[Array[Double]],
                      nPairs: Int = 20000, seed: Long = 42L)
      : UncertaintyReportFull = {
    require(paramDraws.nonEmpty, "uncertaintyFull needs bootstrap draws")
    val k = fit.nComponents
    val ng = fit.hasNugget
    def split(p: Array[Double]): (Seq[Double], Seq[Double], Double) =
      (p.take(k).toSeq, p.slice(k, 2 * k).toSeq, if (ng) p(2 * k) else 0.0)

    // whole-raster uncorrelated term + extents (one aggregate)
    val ext = dz.agg(count(lit(1)), sqrt(avg(col("value") * col("value"))),
      min("x"), max("x"), min("y"), max("y")).head()
    val nValid = ext.getLong(0)
    // clear failure over an empty Δz frame: the aggregates are NULL and
    // getDouble would throw ROW_VALUE_IS_NULL
    require(nValid > 0, "uncertaintyFull: the dz frame has no valid pixels")
    val rms = ext.getDouble(1)
    val (minX, maxX, minY, maxY) =
      (ext.getDouble(2), ext.getDouble(3), ext.getDouble(4), ext.getDouble(5))
    val uncorr = rms / math.sqrt(nValid.toDouble)

    val pts = Geom.wktToPoints(polygonWkt)
    // shoelace area of the (closed) polygon ring — reference polygon.area
    val areaPoly = math.abs(
      (pts :+ pts.head).sliding(2).map { w =>
        w(0)._1 * w(1)._2 - w(1)._1 * w(0)._2
      }.sum) / 2.0
    val areaBbox = (maxX - minX) * (maxY - minY)
    val areaDetailed = nValid.toDouble * math.abs(meta.dx * meta.dy)

    val hOf = sqrt(pow(col("x2") - col("x1"), 2) +
      pow(col("y2") - col("y1"), 2)).as("h")
    val polyPairs = ErrorAnalysis.acceptedPairs(spark, pts, nPairs, seed)
      .select(hOf)
    val bboxPts = Seq((minX, minY), (maxX, minY), (maxX, maxY), (minX, maxY))
    val rasterPairs = ErrorAnalysis.acceptedPairs(spark, bboxPts, nPairs, seed)
      .select(hOf)

    // per-draw (σ_tot, σ_1..σ_k) over a fixed pair set — one crossJoin +
    // one grouped aggregate, draws broadcast
    def propagate(pairs: DataFrame, draws: Seq[(Int, Seq[Double], Seq[Double], Double)])
        : Map[Int, (Double, Seq[Double])] = {
      import spark.implicits._
      val dd = broadcast(draws.toDF("draw", "sills", "ranges", "nugget")
        .withColumn("s2tot",
          expr("aggregate(sills, CAST(0.0 AS DOUBLE), (a, x) -> a + x)") +
            col("nugget")))
      def sph(i: Int): Column = {
        val c = col("sills")(i); val a = col("ranges")(i); val h = col("h")
        when(h < a, c * (lit(1.5) * h / a - lit(0.5) * pow(h / a, 3)))
          .otherwise(c)
      }
      val gamTot = (0 until k).map(sph).reduce(_ + _) + col("nugget")
      val cols = (col("s2tot") - gamTot).as("c_tot") +:
        (0 until k).map(i => (col("s2tot") - (sph(i) + col("nugget"))).as(s"c_$i"))
      val aggCols = avg("c_tot").as("m_tot") +:
        (0 until k).map(i => avg(s"c_$i").as(s"m_$i"))
      pairs.crossJoin(dd)
        .select(col("draw") +: cols: _*)
        .groupBy("draw").agg(aggCols.head, aggCols.tail: _*)
        .collect().map { r =>
          def sig(x: Double) = math.sqrt(math.max(x, 0.0))
          r.getAs[Int]("draw") ->
            (sig(r.getAs[Double]("m_tot")),
              (0 until k).map(i => sig(r.getAs[Double](s"m_$i"))))
        }.toMap
    }

    // ---- polygon scope: bootstrap 16/50/84 over the draw set ----------
    val drawRows = paramDraws.toIndexedSeq.zipWithIndex.map { case (p, i) =>
      val (s, r, n) = split(p); (i, s, r, n)
    }
    val polyByDraw = propagate(polyPairs, drawRows)
    def pctl(sorted: IndexedSeq[Double], q: Double): Double = {
      val pos = q * (sorted.length - 1)
      val lo = pos.toInt; val hi = math.ceil(pos).toInt
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
    def band(xs: IndexedSeq[Double]): Triple = {
      val s = xs.sorted
      Triple(pctl(s, 0.16), pctl(s, 0.50), pctl(s, 0.84))
    }
    val drawIds = drawRows.map(_._1)
    val corrTotPoly = band(drawIds.map(polyByDraw(_)._1))
    val corrCompPoly = (0 until k).map(i => band(drawIds.map(polyByDraw(_)._2(i))))

    // ---- raster scope: point fit + per-parameter 16/84 bound vectors --
    val nParams = 2 * k + (if (ng) 1 else 0)
    def paramPctl(q: Double): Array[Double] =
      (0 until nParams).map { j =>
        pctl(paramDraws.map(_(j)).sorted.toIndexedSeq, q)
      }.toArray
    val pointP = (fit.model.sills ++ fit.model.ranges ++
      (if (ng) Seq(fit.model.nugget) else Nil)).toArray
    val variants = Seq(0 -> pointP, 1 -> paramPctl(0.16), 2 -> paramPctl(0.84))
    val rasterByVar = propagate(rasterPairs, variants.map { case (i, p) =>
      val (s, r, n) = split(p); (i, s, r, n)
    })
    def vTriple(f: Int => Double) = Triple(f(1), f(0), f(2))
    val corrTotRaster = vTriple(v => rasterByVar(v)._1)
    val corrCompRaster = (0 until k).map(i => vTriple(v => rasterByVar(v)._2(i)))

    def quad(t: Triple) = Triple(
      math.sqrt(uncorr * uncorr + t.min * t.min),
      math.sqrt(uncorr * uncorr + t.central * t.central),
      math.sqrt(uncorr * uncorr + t.max * t.max))

    UncertaintyReportFull(
      polygon = polygonName, nPixels = nValid, rms = rms,
      areaPolygon = areaPoly, areaRasterBbox = areaBbox,
      areaRasterDetailed = areaDetailed,
      uncorrelated = uncorr,
      corrComponentsPolygon = corrCompPoly, corrTotalPolygon = corrTotPoly,
      corrComponentsRaster = corrCompRaster, corrTotalRaster = corrTotRaster,
      totalPolygon = quad(corrTotPoly), totalRaster = quad(corrTotRaster))
  }
}

object ErrorAnalysis {
  /** THE seeded MC pair generator shared by [[ErrorAnalysis.uncertainty]],
    * [[ErrorAnalysis.uncertaintyHetero]] and [[ErrorAnalysis.uncertaintyFull]]
    * (whose σ_corr bootstrap band it feeds): `3·nPairs` bbox-uniform
    * candidate pairs from the counter RNG (salts seed+1..seed+4), both
    * endpoints accepted inside the polygon, the first `nPairs` accepted
    * draw ids kept. Factored out (ADVICE r13) so no caller can re-encode
    * the seed/headroom/boundary semantics by hand and drift — the band
    * and the central estimate measure the SAME pairs by construction.
    * Returns (x1, y1, x2, y2). */
  def acceptedPairs(spark: SparkSession, pts: Seq[(Double, Double)],
                    nPairs: Int, seed: Long): DataFrame = {
    val verts = Geom.polyLit(pts)
    val (minX, maxX) = (pts.map(_._1).min, pts.map(_._1).max)
    val (minY, maxY) = (pts.map(_._2).min, pts.map(_._2).max)
    val u = (salt: Long) => graft.rng.Rand.u01(col("id"), seed + salt)
    spark.range(nPairs * 3L) // rejection headroom
      .select(col("id"),
        (u(1) * (maxX - minX) + minX).as("x1"), (u(2) * (maxY - minY) + minY).as("y1"),
        (u(3) * (maxX - minX) + minX).as("x2"), (u(4) * (maxY - minY) + minY).as("y2"))
      .filter(Geom.pointInPolygon(col("x1"), col("y1"), verts) &&
              Geom.pointInPolygon(col("x2"), col("y2"), verts))
      .orderBy("id").limit(nPairs) // deterministic accepted-pair set
      .drop("id")
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
