package graft

import org.apache.spark.sql.functions._
import graft.api.{ErrorAnalysis, Triple}
import graft.fit.VariogramFit
import graft.functions.SphericalModel
import graft.raster.GridMeta

/** Reference-parity uncertainty block (UncertaintyReportFull /
  * ErrorAnalysis.uncertaintyFull — variography_uncertainty.py:1147–1166,
  * 1420–1533): structural invariants at k=2 components + nugget, the
  * degenerate-draw collapse, and the generator-reuse coupling with
  * ErrorAnalysis.uncertainty that ADVICE r13 asked to make structural. */
class UncertaintyFullSpec extends SparkSuite {

  private val meta = GridMeta(width = 64, height = 64)
  private lazy val ea = new ErrorAnalysis(spark, meta)

  /** 64×64 deterministic pixel field with x/y/value columns. */
  private lazy val dz = spark.range(64L * 64)
    .select((col("id") % 64).cast("double").as("x"),
      (col("id") / 64).cast("long").cast("double").as("y"),
      (graft.rng.Rand.u01(col("id"), 7L) - 0.5).as("value"))

  private val model =
    SphericalModel(sills = Seq(0.04, 0.02), ranges = Seq(9.0, 30.0), nugget = 0.005)
  private val fit = VariogramFit.FitResult(model, rss = 0.0, aic = 0.0,
    nComponents = 2, hasNugget = true)
  private val pointP =
    (model.sills ++ model.ranges ++ Seq(model.nugget)).toArray
  private val polyWkt = "POLYGON ((8 8, 56 8, 56 56, 8 56))"

  /** Deterministic jittered draws around the point fit. */
  private def draws(n: Int): Array[Array[Double]] =
    (0 until n).map { i =>
      pointP.zipWithIndex.map { case (p, j) =>
        // mixLong lands in [0, 2^31) — scale to (-1, 1)
        val u = graft.rng.Rand.mixLong(i * 16 + j, 99L).toDouble /
          math.pow(2, 30) - 1.0
        p * (1.0 + 0.1 * u)
      }
    }.toArray

  test("k=2 shape, component domination, quadrature, band ordering") {
    val full = ea.uncertaintyFull(dz, "poly", polyWkt, fit, draws(64),
      nPairs = 2000, seed = 42L)
    assert(full.corrComponentsPolygon.length == 2)
    assert(full.corrComponentsRaster.length == 2)
    def ordered(t: Triple): Boolean = t.min <= t.central && t.central <= t.max
    (full.corrComponentsPolygon ++ full.corrComponentsRaster ++
      Seq(full.corrTotalPolygon, full.totalPolygon, full.totalRaster))
      .foreach(t => assert(ordered(t), s"unordered triple $t"))
    // γ_i ≤ γ_tot pointwise ⇒ σ_i ≥ σ_tot in every variant of each scope
    full.corrComponentsPolygon.foreach { t =>
      assert(t.central >= full.corrTotalPolygon.central - 1e-12)
      assert(t.min >= full.corrTotalPolygon.min - 1e-12)
      assert(t.max >= full.corrTotalPolygon.max - 1e-12)
    }
    full.corrComponentsRaster.foreach { t =>
      assert(t.central >= full.corrTotalRaster.central - 1e-12)
    }
    // quadrature identity per variant (:1554–1573)
    def q(c: Double) = math.sqrt(full.uncorrelated * full.uncorrelated + c * c)
    assert(math.abs(full.totalPolygon.central -
      q(full.corrTotalPolygon.central)) < 1e-12)
    assert(math.abs(full.totalRaster.min - q(full.corrTotalRaster.min)) < 1e-12)
    // areas: shoelace rectangle + detailed = nValid pixels at unit cell
    assert(math.abs(full.areaPolygon - 48.0 * 48.0) < 1e-9)
    assert(full.areaRasterDetailed == 64.0 * 64.0)
    assert(full.nPixels == 64L * 64)
  }

  test("identical draws collapse every band to its central value") {
    val same = Array.fill(16)(pointP.clone())
    val full = ea.uncertaintyFull(dz, "poly", polyWkt, fit, same,
      nPairs = 2000, seed = 42L)
    (full.corrComponentsPolygon :+ full.corrTotalPolygon).foreach { t =>
      assert(t.min == t.central && t.central == t.max, s"band not collapsed: $t")
    }
    // with p16 = p84 = point params the raster variants coincide too
    val rt = full.corrTotalRaster
    assert(math.abs(rt.min - rt.central) < 1e-12 &&
      math.abs(rt.max - rt.central) < 1e-12)
  }

  test("generator reuse: bootstrap central matches ea.uncertainty's pairs") {
    // ea.uncertainty's correlated term = sqrt(mean cov) over acceptedPairs;
    // pushing the POINT fit through uncertaintyFull's polygon scope (one
    // degenerate draw) must reproduce it exactly — same pairs, same γ —
    // which is the structural coupling ADVICE r13 asked for (a band that
    // rebuilds the pair set by hand keeps the salts aligned only by a
    // comment).
    val rep = ea.uncertainty(dz, Seq("poly" -> polyWkt), model,
      nPairs = 2000, seed = 42L).head()
    val full = ea.uncertaintyFull(dz, "poly", polyWkt, fit,
      Array(pointP), nPairs = 2000, seed = 42L)
    assert(math.abs(rep.getAs[Double]("correlated") -
      full.corrTotalPolygon.central) < 1e-12)
  }

  test("hetero: a constant sigma map of sqrt(total sill) reproduces uncertainty") {
    // E[ρ·σX·σY] with σ ≡ √σ²_tot is algebraically E[σ²_tot − γ(h)], the
    // homoscedastic correlated term, over the same accepted pairs
    // (estimate_monte_carlo with sigma_func=None ≡ constant σ)
    val cell = 8.0
    val rep = ea.uncertainty(dz, Seq("poly" -> polyWkt), model,
      nPairs = 2000, seed = 42L).head()
    val nCells = 64 / cell.toInt + 1
    val constSig = spark.range(nCells.toLong * nCells).select(
      (col("id") % nCells).as("gx"), (col("id") / nCells).cast("long").as("gy"),
      lit(math.sqrt(model.totalSill)).as("sigma"))
    val hetero = ea.uncertaintyHetero(dz, Seq("poly" -> polyWkt), model,
      constSig, cell, nPairs = 2000, seed = 42L).head()
    assert(math.abs(hetero.getAs[Double]("correlated") -
      rep.getAs[Double]("correlated")) < 1e-6)
    assert(hetero.getAs[Long]("nPixels") == rep.getAs[Long]("nPixels"))
    assert(hetero.getAs[Double]("uncorrelated") == rep.getAs[Double]("uncorrelated"))

    // the data-driven map: one RMS per 8×8 cell, and |ρ| ≤ 1 bounds the
    // heteroscedastic term by the largest cell σ
    val sig = ea.sigmaMap(dz, cell)
    val st = sig.agg(count(lit(1)), max("sigma")).head()
    assert(st.getLong(0) == 64L)
    val fromMap = ea.uncertaintyHetero(dz, Seq("poly" -> polyWkt), model,
      sig, cell, nPairs = 2000, seed = 42L).head().getAs[Double]("correlated")
    assert(fromMap >= 0.0 && fromMap <= st.getDouble(1) + 1e-9, s"corr $fromMap")
  }

  test("an empty dz frame fails with a clear message, not a null-row error") {
    val empty = dz.filter(col("x") < 0)
    val e = intercept[IllegalArgumentException] {
      ea.uncertaintyFull(empty, "poly", polyWkt, fit, draws(4), nPairs = 100)
    }
    assert(e.getMessage.contains("no valid pixels"), e.getMessage)
  }
}
