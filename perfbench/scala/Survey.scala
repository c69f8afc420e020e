package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.ErrorAnalysis
import graft.fit.VariogramFit
import graft.raster.{Coreg, GridMeta, Layout}
import graft.rng.Rand

/** Synthetic survey inputs shared by the two report workloads.
  *
  * A correlated field is white noise smoothed by a separable box moving
  * average of half-width `r` (two passes, linear in `r`); its variogram
  * plateaus near range 2r + 1. Terrain is a seeded analytic surface for
  * DEM pairs and a smoothed field for point-cloud pairs, where the
  * co-registration step needs gradients both surveys share. */
object Fields {
  def box(spark: SparkSession, w: Int, r: Int, salt: Long, amp: Double): DataFrame = {
    val offs = array((-r to r).map(lit(_)): _*)
    def pass(df: DataFrame, horiz: Boolean): DataFrame = {
      val sh = df.select(col("col"), col("row"), col("value"), explode(offs).as("o"))
      val moved =
        if (horiz) sh.select((col("col") + col("o")).as("col"), col("row"), col("value"))
        else sh.select(col("col"), (col("row") + col("o")).as("row"), col("value"))
      moved.filter(col("col") >= 0 && col("col") < w && col("row") >= 0 && col("row") < w)
        .groupBy("col", "row").agg(avg("value").as("value"))
    }
    val noise = spark.range(w.toLong * w).select(
      (col("id") % w).cast("int").as("col"), (col("id") / w).cast("int").as("row"),
      (Rand.gaussian(col("id"), salt) * amp).as("value"))
    pass(pass(noise, horiz = true), horiz = false)
  }

  /** Smooth ridge-and-valley terrain with seeded wavelengths and phases. */
  def terrain(spark: SparkSession, w: Int, rng: java.util.SplittableRandom): DataFrame = {
    val (lx, ly) = (40.0 + 40.0 * rng.nextDouble(), 30.0 + 30.0 * rng.nextDouble())
    val (px, py) = (2 * math.Pi * rng.nextDouble(), 2 * math.Pi * rng.nextDouble())
    spark.range(w.toLong * w).select(
      (col("id") % w).cast("int").as("col"), (col("id") / w).cast("int").as("row"))
      .withColumn("value", lit(120.0) +
        sin(col("col") * (2 * math.Pi / lx) + px) * 6.0 +
        cos(col("row") * (2 * math.Pi / ly) + py) * 4.0 + col("col") * 0.02)
  }

  def rect(x0: Double, y0: Double, x1: Double, y1: Double): String =
    s"POLYGON (($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1))"

  def stableWkt(w: Int): String = rect(2.1, 2.1, 0.98 * w, 0.47 * w)
  def foiWkt(w: Int): String = rect(0.1 * w, 0.55 * w, 0.85 * w, 0.95 * w)
}

/** Checks shared by both report workloads (the recovery criteria of the
  * reference workflow): injected bias, fitted range, total sill, the
  * σ_corr bootstrap band and the quadrature identity. */
object ReportChecks {
  def apply(bias: Double, trueBias: Double, best: VariogramFit.FitResult, r: Int,
            fieldVar: Double, central: Double,
            full: graft.api.UncertaintyReportFull): Seq[(String, Boolean)] = {
    // main range: the range of the component carrying the largest partial sill
    val mainRange = best.model.ranges(best.model.sills.indexOf(best.model.sills.max))
    val totalSill = best.model.sills.sum + best.model.nugget
    val ct = full.corrTotalPolygon
    val quad = math.sqrt(full.uncorrelated * full.uncorrelated + ct.central * ct.central)
    val checks = Seq(
      "bias" -> (math.abs(bias - trueBias) < 0.05),
      "range" -> (mainRange > r && mainRange < 8.0 * r),
      "sill" -> (totalSill > 0.4 * fieldVar && totalSill < 2.5 * fieldVar),
      "sigma_corr_band" -> (central >= 0.8 * ct.min && central <= 1.2 * ct.max),
      "quadrature" -> (math.abs(quad - full.totalPolygon.central) < 1e-12))
    if (checks.exists(!_._2))
      System.err.println(f"perfbench: report bias=$bias%.4f (injected $trueBias%.4f) " +
        f"range=$mainRange%.2f (r=$r) sill=$totalSill%.3e var=$fieldVar%.3e " +
        f"corr=$central%.5f band=[${ct.min}%.5f, ${ct.max}%.5f] model=${best.model}")
    checks
  }
}

/** Sizes of the DEM-pair report: `nRuns` variogram realizations of
  * `sampleSize` samples each, bins of `binW` up to `maxLag`, an `nBoot`-fit parametric bootstrap and
  * `nPairs` Monte-Carlo pairs, over a pool of `pool` DEM pairs whose
  * change field has correlation half-width `r` and noise amplitude `amp`. */
final case class DemSize(w: Int, r: Int, binW: Double, maxLag: Double, nRuns: Int,
                         sampleSize: Int, nBoot: Int, nPairs: Int, pool: Int, amp: Double)

/** `survey_dem`: one uncertainty report per op on a pool of DEM pairs
  * written to parquet in set-up. */
final class SurveyDem(spark: SparkSession, tr: Tracer, seed: Long, work: File,
                      size: DemSize, biasOffset: Double) extends Workload {
  private final class Member(val dir: File, val bias: Double, val fieldVar: Double)
  private val rng = new java.util.SplittableRandom(Seeds.derive(seed, "survey_dem"))
  private val members = scala.collection.mutable.ArrayBuffer.empty[Member]
  private val ea = new ErrorAnalysis(spark, GridMeta(width = size.w, height = size.w))

  def setupReps: Int = size.pool

  def setup(i: Int): Unit = {
    val dir = new File(work, s"dem_$i")
    val bias = 0.2 + 0.3 * rng.nextDouble()
    val salt = 1 + rng.nextInt(1 << 30).toLong
    val terrain = Fields.terrain(spark, size.w, rng).persist()
    val change = Fields.box(spark, size.w, size.r, salt, size.amp)
    terrain.write.mode("overwrite").parquet(s"$dir/a")
    terrain.join(change.withColumnRenamed("value", "c"), Seq("col", "row"))
      .select(col("col"), col("row"), (col("value") + col("c") + bias).as("value"))
      .write.mode("overwrite").parquet(s"$dir/b")
    terrain.unpersist()
    val a = spark.read.parquet(s"$dir/a")
    val b = spark.read.parquet(s"$dir/b")
    val fieldVar = a.join(b.withColumnRenamed("value", "vb"), Seq("col", "row"))
      .agg(var_pop(col("vb") - col("value"))).head().getDouble(0)
    members += new Member(dir, bias, fieldVar)
  }

  def op(i: Int): OpResult = {
    val m = members(rng.nextInt(members.size))
    val fitSeed = rng.nextInt(1 << 30).toLong
    val forced = new Forced(tr)
    val a = spark.read.parquet(s"${m.dir}/a")
    val b = spark.read.parquet(s"${m.dir}/b")
    val dz = tr.span("raster") { forced(ea.difference(a, b)) }
    val (bias, _) = tr.span("api") { ea.biasOverStable(dz, Fields.stableWkt(size.w), seed = fitSeed) }
    val debiased = tr.span("api") { forced(ea.removeBias(dz, bias)) }
    val cross = tr.span("vario") {
      forced(ea.empiricalVariogram(debiased, nRuns = size.nRuns, sampleSize = size.sampleSize,
        maxLag = size.maxLag, binWidth = size.binW))
    }
    val (best, fits) = tr.span("fit") {
      val best = ea.fitModel(cross, size.binW)
      val bins = VariogramFit.binsFromCrossRun(cross, size.binW)
      val sigmas = bins.map(1.0 / _.weight)
      VariogramFit.bootstrap(spark, bins, sigmas, best, nBoot = size.nBoot, seed = fitSeed)
      (best, VariogramFit.bootstrapFits(spark, bins, sigmas, best, nBoot = size.nBoot,
        seed = fitSeed))
    }
    val foi = Fields.foiWkt(size.w)
    val rep = tr.span("uncert") {
      ea.uncertainty(debiased, Seq("foi" -> foi), best.model, nPairs = size.nPairs,
        seed = fitSeed).collect().head
    }
    val full = tr.span("uncert") {
      ea.uncertaintyFull(debiased, "foi", foi, best, fits, nPairs = size.nPairs, seed = fitSeed)
    }
    val central = rep.getAs[Double]("correlated")
    OpResult("report", full.nPixels, () => {
      val checks = ReportChecks(bias, m.bias + biasOffset, best, size.r, m.fieldVar, central, full)
      val counts = if (!tr.on) Map.empty[String, Double]
        else Counts.report(cross, size.nRuns, 30 + 2 * size.nBoot, full.nPixels) ++
          Counts.mcPairs(spark, foi, size.nPairs, fitSeed, fits.length)
      forced.release()
      (checks, counts)
    })
  }
}

/** Sizes of the point-cloud report (`ScaleE2E --from-las` composition). */
final case class LasSize(w: Int, rTerrain: Int, r: Int, pool: Int, nRuns: Int,
                         sampleSize: Int, binW: Double, maxLag: Double, nBoot: Int,
                         nPairs: Int) {
  require(w % 8 == 0, s"survey width must be divisible by 8, got $w")
}

/** `survey_las`: one report per op that starts from point clouds written
  * as mixed LAS 1.2 / LAS 1.4 / native-LAZ14 tiles in set-up. Survey B
  * images survey A's terrain plus a smoothed change field, carries a
  * vertical bias and an (x, y) georeferencing shift. */
final class SurveyLas(spark: SparkSession, tr: Tracer, seed: Long, work: File,
                      size: LasSize, biasOffset: Double) extends Workload {
  private final class Member(val a: File, val b: File, val bias: Double, val sx: Double,
                              val sy: Double)
  private val rng = new java.util.SplittableRandom(Seeds.derive(seed, "survey_las"))
  private val members = scala.collection.mutable.ArrayBuffer.empty[Member]
  private val w = size.w
  private val ea = new ErrorAnalysis(spark, GridMeta(width = w, height = w))
  private var opDirs = 0

  def setupReps: Int = size.pool

  def setup(i: Int): Unit = {
    val bias = 0.2 + 0.3 * rng.nextDouble()
    def shift(): Double = (if (rng.nextBoolean()) 1 else -1) * (0.15 + 0.2 * rng.nextDouble())
    val (sx, sy) = (shift(), shift())
    val (saltT, saltC, saltA, saltB) = (1L + rng.nextInt(1 << 30), 1L + rng.nextInt(1 << 30),
      1L + rng.nextInt(1 << 30), 1L + rng.nextInt(1 << 30))
    val terrain = Fields.box(spark, w, size.rTerrain, saltT, 3.0).persist()
    val change = Fields.box(spark, w, size.r, saltC, 0.6)
    val truthB = terrain.join(change.withColumnRenamed("value", "c"), Seq("col", "row"))
      .select(col("col"), col("row"), (col("value") + col("c")).as("value"))
    val a = new File(work, s"las_${i}_a")
    val b = new File(work, s"las_${i}_b")
    writeSurvey(terrain, a, saltA, 0.0, 0.0, 0.0)
    writeSurvey(truthB, b, saltB, bias, sx, sy)
    terrain.unpersist()
    members += new Member(a, b, bias, sx, sy)
  }

  /** Two jittered returns per cell: 73% ground (with 5 mm sensor noise),
    * 25% canopy 3–8 m up, 2% class-7 low noise; written through the DSv2
    * LAS sink (LAS 1.2 and 1.4 tiles) plus one native-LAZ14 strip. */
  private def writeSurvey(truth: DataFrame, dir: File, salt: Long, bias: Double,
                          xs: Double, ys: Double): Unit = {
    val k = 2
    val id = col("cell") * k + col("j")
    truth.select((col("col").cast("long") * w + col("row")).as("cell"), col("col"),
        col("row"), col("value"))
      .select(col("*"), explode(array((0 until k).map(lit(_)): _*)).as("j"))
      .select(
        (col("col") + 0.05 + Rand.u01(id, salt + 11) * 0.9 + xs).as("x"),
        (col("row") + 0.05 + Rand.u01(id, salt + 12) * 0.9 + ys).as("y"),
        (col("value") + bias + Rand.gaussian(id, salt + 13) * 0.005).as("gz"),
        Rand.u01(id, salt + 14).as("u"), id.cast("double").as("gps_time"))
      .select(col("x"), col("y"),
        when(col("u") < 0.25, col("gz") + 3.0 + col("u") * 20.0)
          .when(col("u") >= 0.98, col("gz") - 5.0 - (col("u") - 0.98) * 200.0)
          .otherwise(col("gz")).as("z"),
        when(col("u") >= 0.98, lit(7)).otherwise(lit(1)).as("classification"),
        col("gps_time"))
      .repartition(4)
      .write.format("graft.sources.LasSource").mode("append").save(dir.getAbsolutePath)
    val strip = truth.filter(col("row") === 0).orderBy("col").collect().map { r =>
      val c = r.getAs[Int]("col")
      graft.ingest.Las.P6(c + 0.5 + xs, 0.5 + ys, r.getAs[Double]("value") + bias,
        intensity = 100, returnNo = 1, nReturns = 1, channel = 0, classification = 1,
        scanAngle = 0, sourceId = 1, gpsTime = 1e7 + c)
    }
    java.nio.file.Files.write(new File(dir, "strip.laz").toPath,
      graft.ingest.Laz14.encode(strip))
  }

  private def readSurvey(dir: File): DataFrame =
    spark.read.format("graft.sources.LasSource").load(dir.getAbsolutePath)
      .filter(col("x") >= 0.0 && col("x") < w.toDouble && col("y") >= 0.0 &&
        col("y") < w.toDouble)

  /** DEM → 8×8 Z-ordered float64 GeoTIFF mosaic through the TiffSource
    * sink, read back through its scan. */
  private def mosaic(dem: DataFrame, dir: File): DataFrame = {
    val t = w / 8
    val cells = dem.select((col("col") % t).cast("int").as("col"),
      (col("row") % t).cast("int").as("row"), col("value"),
      (floor(col("col") / t) * t).cast("double").as("origin_x"),
      (floor(col("row") / t) * t).cast("double").as("origin_y"))
    cells.repartition(8, col("origin_x"), col("origin_y"))
      .sortWithinPartitions(Layout.zOrder((col("origin_x") / t).cast("long"),
        (col("origin_y") / t).cast("long")))
      .write.format("graft.sources.TiffSource")
      .option("width", t.toString).option("height", t.toString)
      .option("sortedByOrigin", "true").mode("append").save(dir.getAbsolutePath)
    spark.read.format("graft.sources.TiffSource").load(dir.getAbsolutePath)
      .select(floor(col("x")).cast("int").as("col"), floor(col("y")).cast("int").as("row"),
        col("value"))
  }

  def op(i: Int): OpResult = {
    val m = members(rng.nextInt(members.size))
    val fitSeed = rng.nextInt(1 << 30).toLong
    val forced = new Forced(tr)
    val opDir = new File(work, s"op_$opDirs"); opDirs += 1
    val decoded0 = graft.sources.LasSource.decodedPoints.get()
    val (backA, backB) = tr.span("sources") { (forced(readSurvey(m.a)), forced(readSurvey(m.b))) }
    val (groundA, groundB) = tr.span("ingest") {
      (forced(graft.ingest.Smrf.groundPoints(backA)), forced(graft.ingest.Smrf.groundPoints(backB)))
    }
    def grid(g: DataFrame) = g.groupBy(floor(col("x")).cast("int").as("col"),
      floor(col("y")).cast("int").as("row")).agg(avg(col("z")).as("value"))
    val (gridA, gridB) = tr.span("raster") { (forced(grid(groundA)), forced(grid(groundB))) }
    val (demA, demB) = tr.span("sources") {
      (mosaic(gridA, new File(opDir, "a")).persist(), mosaic(gridB, new File(opDir, "b")).persist())
    }
    forced.keep(demA, demB)
    val (fit, bCorr) = tr.span("raster") {
      val fit = Coreg.fit(demA, ea.difference(demA, demB))
      (fit, Coreg.applyShift(demB, fit.dx, fit.dy).persist())
    }
    forced.keep(bCorr)
    val dz = tr.span("raster") { ea.difference(demA, bCorr).persist() }
    forced.keep(dz)
    val (bias, _) = tr.span("api") {
      ea.biasOverStable(dz, Fields.stableWkt(w), nBoot = 50, seed = fitSeed)
    }
    val debiased = tr.span("api") { forced(ea.removeBias(dz, bias)) }
    val cross = tr.span("vario") {
      forced(ea.empiricalVariogram(debiased, nRuns = size.nRuns, sampleSize = size.sampleSize,
        maxLag = size.maxLag, binWidth = size.binW))
    }
    val (best, fits) = tr.span("fit") {
      val bins = VariogramFit.binsFromCrossRun(cross, size.binW)
      val best = LightFit(bins, fitSeed)
      (best, VariogramFit.bootstrapFits(spark, bins, bins.map(1.0 / _.weight), best,
        nBoot = size.nBoot, seed = fitSeed))
    }
    val foi = Fields.foiWkt(w)
    val rep = tr.span("uncert") {
      ea.uncertainty(debiased, Seq("foi" -> foi), best.model, nPairs = size.nPairs,
        seed = fitSeed).collect().head
    }
    val full = tr.span("uncert") {
      ea.uncertaintyFull(debiased, "foi", foi, best, fits, nPairs = size.nPairs, seed = fitSeed)
    }
    val central = rep.getAs[Double]("correlated")
    val decoded = graft.sources.LasSource.decodedPoints.get() - decoded0
    OpResult("report", full.nPixels, () => {
      // verification reads, outside the op's latency: residual shift after
      // applyShift, DEM coverage, and a stable-polygon bbox read of B's
      // mosaic that must decode only the tiles the extent predicts
      val rfit = Coreg.fit(demA, ea.difference(demA, bCorr))
      val nCells = demA.count()
      val tiles0 = graft.sources.TiffSource.decodedTiles.get()
      val stableCells = spark.read.format("graft.sources.TiffSource")
        .load(new File(opDir, "b").getAbsolutePath)
        .filter(col("x") >= 2.1 && col("x") <= 0.98 * w && col("y") >= 2.1 &&
          col("y") <= 0.47 * w).count()
      val decodedTiles = graft.sources.TiffSource.decodedTiles.get() - tiles0
      val predictedTiles = 8 * (math.floor(0.47 * w / (w / 8)).toInt + 1)
      val fieldVar = debiased.agg(var_pop(col("value"))).head().getDouble(0)
      val checks = ReportChecks(bias, m.bias + biasOffset, best, size.r, fieldVar, central,
        full) ++ Seq(
        "coreg_shift" -> (math.abs(fit.dx + m.sx) < 0.12 && math.abs(fit.dy + m.sy) < 0.12),
        "coreg_residual" -> (math.abs(rfit.dx) < 0.05 && math.abs(rfit.dy) < 0.05),
        "zorder_tiles" -> (decodedTiles == predictedTiles && stableCells > 0),
        "dem_coverage" -> (nCells.toDouble / (w.toLong * w) >= 0.80))
      val counts = if (!tr.on) Map.empty[String, Double] else {
        val rows = backA.count() + backB.count()
        val ground = groundA.count() + groundB.count()
        Map(
          "sources.las_decoded_points" -> decoded.toDouble,
          "sources.las_keep_ratio" -> rows.toDouble / math.max(decoded, 1L),
          "sources.tiff_decoded_tiles" -> decodedTiles.toDouble,
          "sources.tiff_prune_ratio" -> (1.0 - decodedTiles / 64.0),
          "sources.bytes_written_mb" -> Files.bytesUnder(opDir) / 1048576.0,
          "ingest.ground_ratio" -> ground.toDouble / math.max(rows, 1L)) ++
          Counts.report(cross, size.nRuns, LightFit.fits + size.nBoot, full.nPixels) ++
          Counts.mcPairs(spark, foi, size.nPairs, fitSeed, fits.length)
      }
      forced.release()
      Files.delete(opDir)
      (checks, counts)
    })
  }
}

/** The light fit of `survey_las`: `VariogramFit.fit`'s search (± nugget,
  * five jittered guesses each, AIC argmin) restricted to one spherical
  * component, the structure the change field is generated with. The full
  * 1–3-component search (`ErrorAnalysis.fitModel`, run by `survey_dem`)
  * can keep an extra component whose range lies far beyond the max lag
  * (see the README's known engine issue); one component cannot. */
object LightFit {
  val fits: Int = 10
  def apply(bins: Seq[VariogramFit.Bin], seed: Long): VariogramFit.FitResult =
    (for (ng <- Seq(false, true); g <- 0 until fits / 2) yield {
      val (p, rss) = VariogramFit.lm(bins, 1, ng, VariogramFit.initialGuess(bins, 1, ng, g, seed))
      val aic = 2.0 * p.length + bins.length * math.log(math.max(rss / bins.length, 1e-300))
      VariogramFit.FitResult(graft.functions.SphericalModel(Seq(p(0)), Seq(p(1)),
        if (ng) p(2) else 0.0), rss, aic, 1, ng)
    }).minBy(_.aic)
}

/** Layer-boundary materialisation for the traced run: `apply` persists
  * and counts a frame so its work lands in the span that built it; off,
  * it returns the lazy frame unchanged. Frames kept either way are
  * released after the op's checks. */
final class Forced(tr: Tracer) {
  private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  def apply(df: DataFrame): DataFrame =
    if (!tr.on) df else { val p = df.persist(); p.count(); held += p; p }
  def keep(dfs: DataFrame*): Unit = held ++= dfs
  def release(): Unit = { held.foreach(_.unpersist()); held.clear() }
}

/** Work counts of one report, read off its own outputs. */
object Counts {
  /** Δz rows, binned variogram pairs (Σ mean pairs per bin × runs) and
    * Levenberg–Marquardt fits (model search plus every bootstrap refit). */
  def report(cross: DataFrame, nRuns: Int, lmFits: Int, dzRows: Long): Map[String, Double] =
    Map("raster.diff_rows" -> dzRows.toDouble,
      "vario.pairs" -> cross.agg(sum("mean_n")).head().getDouble(0) * nRuns,
      "fit.lm_fits" -> lmFits.toDouble)

  /** Accepted Monte-Carlo pairs, their share of the 3·nPairs candidates,
    * and the rows of the per-draw cross join in `uncertaintyFull`. */
  def mcPairs(spark: SparkSession, wkt: String, nPairs: Int, seed: Long,
              nDraws: Int): Map[String, Double] = {
    val pts = graft.geom.Geom.wktToPoints(wkt)
    val verts = graft.geom.Geom.polyLit(pts)
    val (minX, maxX) = (pts.map(_._1).min, pts.map(_._1).max)
    val (minY, maxY) = (pts.map(_._2).min, pts.map(_._2).max)
    val u = (s: Long) => Rand.u01(col("id"), seed + s)
    val accepted = spark.range(nPairs * 3L)
      .select((u(1) * (maxX - minX) + minX).as("x1"), (u(2) * (maxY - minY) + minY).as("y1"),
        (u(3) * (maxX - minX) + minX).as("x2"), (u(4) * (maxY - minY) + minY).as("y2"))
      .filter(graft.geom.Geom.pointInPolygon(col("x1"), col("y1"), verts) &&
        graft.geom.Geom.pointInPolygon(col("x2"), col("y2"), verts))
      .count()
    val kept = math.min(accepted, nPairs.toLong)
    Map("uncert.mc_pairs" -> kept.toDouble,
      "uncert.accept_ratio" -> accepted.toDouble / (3.0 * nPairs),
      "uncert.crossjoin_rows" -> (kept * nDraws + nPairs * 3L).toDouble)
  }
}
