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

  /** Every number of the three entry points at one (seed, polygon): the
    * 30 numeric fields of `UncertaintyReportFull` (counts, RMS, areas,
    * uncorrelated, then the eight triples as min/central/max), followed
    * by `uncertainty`'s correlated term and `uncertaintyHetero`'s for the
    * constant √σ²_tot map and for the data-driven `sigmaMap`. */
  private def numbers(wkt: String, seed: Long): Seq[Double] = {
    val cell = 8.0
    val nCells = 64 / cell.toInt + 1
    val constSig = spark.range(nCells.toLong * nCells).select(
      (col("id") % nCells).as("gx"), (col("id") / nCells).cast("long").as("gy"),
      lit(math.sqrt(model.totalSill)).as("sigma"))
    val full = ea.uncertaintyFull(dz, "p", wkt, fit, draws(64),
      nPairs = 2000, seed = seed)
    def corr(df: org.apache.spark.sql.DataFrame) = df.head().getAs[Double]("correlated")
    val triples = full.corrComponentsPolygon ++ Seq(full.corrTotalPolygon) ++
      full.corrComponentsRaster ++
      Seq(full.corrTotalRaster, full.totalPolygon, full.totalRaster)
    Seq(full.nPixels.toDouble, full.rms, full.areaPolygon, full.areaRasterBbox,
      full.areaRasterDetailed, full.uncorrelated) ++
      triples.flatMap(t => Seq(t.min, t.central, t.max)) ++
      Seq(corr(ea.uncertainty(dz, Seq("p" -> wkt), model, nPairs = 2000, seed = seed)),
        corr(ea.uncertaintyHetero(dz, Seq("p" -> wkt), model, constSig, cell,
          nPairs = 2000, seed = seed)),
        corr(ea.uncertaintyHetero(dz, Seq("p" -> wkt), model, ea.sigmaMap(dz, cell),
          cell, nPairs = 2000, seed = seed)))
  }

  /** L-shaped: a point's ray crosses the ring up to four times. */
  private val concaveWkt = "POLYGON ((8 8, 56 8, 56 30, 30 30, 30 56, 8 56))"

  /** Captured from the Spark cross-join form of the propagation; the driver
    * loop may differ only in summation order and `pow` rounding. */
  private val pinned: Map[(String, Long), Seq[Double]] = Map(
    ("square", 42L) -> Seq(
      4096.0000000000000, 0.28729551838455447, 2304.0000000000000, 3969.0000000000000,
      4096.0000000000000, 0.0044889924747586640, 0.13981553577194110, 0.14431772812001128,
      0.14930574396010193, 0.20145567765108582, 0.20970464641619868, 0.21468426271042484,
      0.063705831526092080, 0.066510720359597490, 0.070732771412168480, 0.13868762909373406,
      0.14351134553474532, 0.14857206109295157, 0.19846175182798664, 0.20569317465694850,
      0.21243094261451315, 0.048933368159480370, 0.053899799606734806, 0.058622880551556830,
      0.063863792745727750, 0.066662035493907740, 0.070875073228071640, 0.049138839759091660,
      0.054086407267303390, 0.058794499552258630, 0.067253702132536060, 0.067253702132536080,
      0.075862336915267590),
    ("square", 7L) -> Seq(
      4096.0000000000000, 0.28729551838455447, 2304.0000000000000, 3969.0000000000000,
      4096.0000000000000, 0.0044889924747586640, 0.13928791458133244, 0.14373091690518083,
      0.14875314023414263, 0.20085373396724980, 0.20910454139008236, 0.21406362389563052,
      0.060548754045987780, 0.063381393831538750, 0.067391557748507800, 0.13832249137919925,
      0.14309326846366358, 0.14810062042437575, 0.19804430949762770, 0.20523964693173047,
      0.21193413988483972, 0.046128182956816650, 0.050980350648799855, 0.055551353048108966,
      0.060714929547517074, 0.063540161610331600, 0.067540899529166050, 0.046346092783922900,
      0.051177604532774174, 0.055732431123306336, 0.064075032189207780, 0.064075032189207780,
      0.072192057676439910),
    ("concave", 42L) -> Seq(
      4096.0000000000000, 0.28729551838455447, 1628.0000000000000, 3969.0000000000000,
      4096.0000000000000, 0.0044889924747586640, 0.14066721706683190, 0.14528301107635010,
      0.15022116639662228, 0.20289695166111604, 0.21117267059010397, 0.21612138387067753,
      0.070162646328970240, 0.072795671835527500, 0.077115053183135790, 0.13868762909373406,
      0.14351134553474532, 0.14857206109295157, 0.19846175182798664, 0.20569317465694850,
      0.21243094261451315, 0.048933368159480370, 0.053899799606734806, 0.058622880551556830,
      0.070306102105881260, 0.072933948826484450, 0.077245598456328240, 0.049138839759091660,
      0.054086407267303390, 0.058794499552258630, 0.073618563802556300, 0.073618563802556300,
      0.083157070123060160),
    ("concave", 7L) -> Seq(
      4096.0000000000000, 0.28729551838455447, 1628.0000000000000, 3969.0000000000000,
      4096.0000000000000, 0.0044889924747586640, 0.13999452302789028, 0.14456582040385730,
      0.14956858476204563, 0.20243893843154798, 0.21070537417834612, 0.21566155559795752,
      0.067227224002496260, 0.070012831391247810, 0.074317208923159600, 0.13832249137919925,
      0.14309326846366358, 0.14810062042437575, 0.19804430949762770, 0.20523964693173047,
      0.21193413988483972, 0.046128182956816650, 0.050980350648799855, 0.055551353048108966,
      0.067376930031875520, 0.070156593509503680, 0.074452660097319500, 0.046346092783922900,
      0.051177604532774174, 0.055732431123306336, 0.070817786433229460, 0.070817786433229470,
      0.079896694360314370))

  test("every uncertainty number is pinned (square and concave polygon, two seeds)") {
    val got = for (name <- Seq("square", "concave"); seed <- Seq(42L, 7L)) yield {
      val wkt = if (name == "square") polyWkt else concaveWkt
      (name, seed) -> numbers(wkt, seed)
    }
    val dump = got.map { case ((n, s), v) =>
      s"""    ("$n", ${s}L) -> Seq(${v.map(d => f"$d%.17g").mkString(", ")})"""
    }.mkString(",\n")
    got.foreach { case (key, v) =>
      val want = pinned.getOrElse(key, fail(s"no pin for $key; captured:\n$dump"))
      assert(v.length == want.length, key)
      v.zip(want).zipWithIndex.foreach { case ((a, b), i) =>
        assert(math.abs(a - b) <= 1e-9 * math.abs(b), s"$key number $i: $a vs pinned $b")
      }
    }
  }

  test("a polygon with no dz pixels fails naming the polygon, not a NaN row") {
    val far = "POLYGON ((100 100, 120 100, 120 120, 100 120))"
    val sig = ea.sigmaMap(dz, 8.0)
    val calls = Seq[() => Any](
      () => ea.uncertainty(dz, Seq("far" -> far), model, nPairs = 100),
      () => ea.uncertaintyHetero(dz, Seq("far" -> far), model, sig, 8.0, nPairs = 100))
    calls.foreach { call =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("polygon far") &&
        e.getMessage.contains("no dz pixels"), e.getMessage)
    }
  }

  test("a sigma map with two rows for one cell fails, not one picked silently") {
    val sig = ea.sigmaMap(dz, 8.0)
    val twice = sig.union(sig.filter(col("gx") === 0 && col("gy") === 0))
    val e = intercept[IllegalArgumentException](
      ea.uncertaintyHetero(dz, Seq("poly" -> polyWkt), model, twice, 8.0, nPairs = 100))
    assert(e.getMessage.contains("more than one row for a (gx, gy) cell"), e.getMessage)
  }

  test("a sliver polygon that accepts no pair fails naming it and the candidates") {
    // a 1e-4-wide diagonal band through the pixels (k, k): it holds
    // pixels, but a bbox-uniform endpoint lands in it with p ≈ 2e-6
    val sliver = "POLYGON ((8 7.99995, 56 55.99995, 56 56.00005, 8 8.00005))"
    val sig = ea.sigmaMap(dz, 8.0)
    val calls = Seq[() => Any](
      () => ea.uncertainty(dz, Seq("sliver" -> sliver), model, nPairs = 100),
      () => ea.uncertaintyHetero(dz, Seq("sliver" -> sliver), model, sig, 8.0,
        nPairs = 100),
      () => ea.uncertaintyFull(dz, "sliver", sliver, fit, draws(4), nPairs = 100))
    calls.foreach { call =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("polygon sliver") &&
        e.getMessage.contains("0 of 300 candidate pairs"), e.getMessage)
    }
  }

  test("an empty dz frame fails with a clear message, not a null-row error") {
    val empty = dz.filter(col("x") < 0)
    val e = intercept[IllegalArgumentException] {
      ea.uncertaintyFull(empty, "poly", polyWkt, fit, draws(4), nPairs = 100)
    }
    assert(e.getMessage.contains("no valid pixels"), e.getMessage)
  }
}
