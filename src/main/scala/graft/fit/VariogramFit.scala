package graft.fit

import breeze.linalg.{DenseMatrix, DenseVector, pinv}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.functions.SphericalModel
import graft.rng.{Rand => CRand}

/** Driver-side weighted nested-spherical variogram fitting — the Spark
  * re-expression of the reference's `scipy.optimize.curve_fit` (TRF) search
  * (variography_uncertainty.py:651–659, 731–844): 6 model configs (1–3
  * spherical components × ±nugget) × 5 jittered initial guesses, weighted
  * least squares via Levenberg–Marquardt, best config by AIC (:833–844).
  *
  * Design per SURVEY.md §2.11/§7.3: the empirical variogram is tiny
  * (≤ runs×bins rows), so fitting is DRIVER-side Breeze on the collected
  * table — nothing grid-sized ever reaches the driver. The 500-draw
  * parametric bootstrap fans out as a Spark job over fit tasks
  * (`Dataset[Long].mapPartitions`), mirroring :609–666, 877–923.
  *
  * Randomness is the engine's counter RNG, so fits are bit-reproducible
  * run-to-run (seed discipline, notebook cell 8). Fit OUTPUTS are declared
  * non-oracle (SciPy-iterate parity is impossible; SURVEY.md §7.4 item 4)
  * — they are validated by cross-validation + property tests instead.
  */
object VariogramFit {

  case class Bin(lag: Double, gamma: Double, weight: Double)
  case class FitResult(model: SphericalModel, rss: Double, aic: Double,
                       nComponents: Int, hasNugget: Boolean)

  /** γ(h) for parameter vector [C1..Ck, a1..ak, nugget?] (nugget LAST —
    * the reference's load-bearing convention, variography_uncertainty.py:
    * 597–607). */
  def gammaOf(p: DenseVector[Double], k: Int, nugget: Boolean)(h: Double): Double = {
    var g = if (nugget) p(2 * k) else 0.0
    var i = 0
    while (i < k) {
      val c = p(i); val a = p(k + i)
      g += (if (h < a) c * (1.5 * h / a - 0.5 * math.pow(h / a, 3)) else c)
      i += 1
    }
    g
  }

  /** Weighted Levenberg–Marquardt over the spherical parameterization.
    * Parameters are kept positive by optimizing their absolute value. */
  def lm(bins: Seq[Bin], k: Int, nugget: Boolean, init: DenseVector[Double],
         maxIter: Int = 200): (DenseVector[Double], Double) = {
    val n = bins.length
    val np = init.length
    var p = init.copy
    def residuals(p: DenseVector[Double]): DenseVector[Double] = {
      val pa = p.map(math.abs)
      DenseVector(bins.map(b =>
        (gammaOf(pa, k, nugget)(b.lag) - b.gamma) * b.weight).toArray)
    }
    def rss(p: DenseVector[Double]): Double = {
      val r = residuals(p); r dot r
    }
    var lambda = 1e-3
    var cur = rss(p)
    var iter = 0
    while (iter < maxIter && lambda < 1e10) {
      // numeric Jacobian
      val j = DenseMatrix.zeros[Double](n, np)
      val r0 = residuals(p)
      var c = 0
      while (c < np) {
        val dp = math.max(1e-8, math.abs(p(c)) * 1e-6)
        val p2 = p.copy; p2(c) += dp
        val r2 = residuals(p2)
        j(::, c) := (r2 - r0) / dp
        c += 1
      }
      val jtj = j.t * j
      val g = j.t * r0
      var improved = false
      var tries = 0
      while (!improved && tries < 20) {
        val damped = jtj + DenseMatrix.eye[Double](np) * lambda
        val step = try pinv(damped) * g catch { case _: Exception => DenseVector.zeros[Double](np) }
        val pNew = p - step
        val rssNew = rss(pNew)
        if (rssNew < cur) {
          p = pNew; cur = rssNew; lambda = math.max(lambda / 3.0, 1e-12); improved = true
        } else { lambda *= 3.0; tries += 1 }
      }
      if (!improved) iter = maxIter else iter += 1
    }
    (p.map(math.abs), cur)
  }

  /** Jittered initial guess g-th for config (k, nugget) — ±50% jitter via
    * the counter RNG (variography_uncertainty.py:806–810). */
  def initialGuess(bins: Seq[Bin], k: Int, nugget: Boolean, guess: Int,
                   seed: Long): DenseVector[Double] = {
    val sill0 = bins.map(_.gamma).max
    val range0 = bins.map(_.lag).max / 2.0
    val np = 2 * k + (if (nugget) 1 else 0)
    val v = DenseVector.zeros[Double](np)
    def jitter(ctr: Long): Double = {
      val u = (CRand.mixLong(ctr, seed) % 1000000L).toDouble / 1000000.0
      0.5 + u // in [0.5, 1.5)
    }
    var i = 0
    while (i < k) {
      v(i) = sill0 / k * jitter(guess * 31L + i)
      v(k + i) = range0 * (i + 1) / k * jitter(guess * 31L + 7 + i)
      i += 1
    }
    if (nugget) v(2 * k) = sill0 * 0.1 * jitter(guess * 31L + 19)
    v
  }

  /** Full model search: k ∈ {1,2,3} × nugget ∈ {yes,no} × 5 guesses,
    * argmin AIC = 2·np + n·ln(RSS/n) (variography_uncertainty.py:833).
    *
    * Only candidates whose every range stays within 2× the largest bin
    * lag are eligible — with the reference's maxLag = ½ diagonal, that
    * bound is the raster diagonal. Past the data a spherical component is
    * linear in h and only its sill/range ratio is identified, so bins
    * that rise slightly past their plateau otherwise win the AIC with a
    * component at thousands of times the max lag and a sill many times
    * the field variance. If no candidate is eligible, the plain argmin
    * stands. */
  def fit(bins: Seq[Bin], seed: Long = 42L, nGuesses: Int = 5): FitResult = {
    require(bins.nonEmpty, "empty variogram")
    val configs = for (k <- 1 to 3; ng <- Seq(false, true)) yield (k, ng)
    val results = for {
      (k, ng) <- configs
      g <- 0 until nGuesses
    } yield {
      val (p, rss) = lm(bins, k, ng, initialGuess(bins, k, ng, g, seed))
      val np = p.length
      val n = bins.length
      val aic = 2.0 * np + n * math.log(math.max(rss / n, 1e-300))
      val sills = (0 until k).map(p(_))
      val ranges = (0 until k).map(i => p(k + i))
      FitResult(SphericalModel(sills, ranges, if (ng) p(2 * k) else 0.0),
        rss, aic, k, ng)
    }
    val maxRange = 2.0 * bins.map(_.lag).max
    val eligible = results.filter(_.model.ranges.forall(_ <= maxRange))
    (if (eligible.nonEmpty) eligible else results).minBy(_.aic)
  }

  /** Parametric bootstrap: `nBoot` synthetic variograms (γ ± N(0, σ_bin))
    * re-fitted in parallel via mapPartitions over a Dataset of draw ids —
    * the fan-out of variography_uncertainty.py:609–666. Returns per-param
    * 16/50/84 percentiles for the WINNING config. */
  /** Raw bootstrap parameter draws (nBoot rows × param vector) — the
    * propagation input when a σ-LEVEL band is wanted instead of
    * per-parameter bands (the reference re-estimates σ_corr per draw,
    * `_bootstrap_correlated_polygon`, variography_uncertainty.py:
    * 1450–1516). Param order: sills, ranges, [nugget]. */
  def bootstrapFits(spark: SparkSession, bins: Seq[Bin], sigmas: Seq[Double],
                    best: FitResult, nBoot: Int = 100, seed: Long = 42L)
      : Array[Array[Double]] = {
    import spark.implicits._
    val k = best.nComponents; val ng = best.hasNugget
    val binArr = bins.toArray; val sigArr = sigmas.toArray
    spark.range(nBoot).as[Long].mapPartitions { it =>
      it.map { b =>
        val jittered = binArr.zip(sigArr).zipWithIndex.map { case ((bin, s), i) =>
          val z = gaussian(b * 1000L + i, seed)
          bin.copy(gamma = math.max(bin.gamma + z * s, 0.0))
        }
        val (p, _) = lm(jittered.toIndexedSeq, k, ng,
          initialGuess(jittered.toIndexedSeq, k, ng, (b % 5).toInt, seed))
        p.toArray
      }
    }.collect()
  }

  def bootstrap(spark: SparkSession, bins: Seq[Bin], sigmas: Seq[Double],
                best: FitResult, nBoot: Int = 100, seed: Long = 42L)
      : Map[String, (Double, Double, Double)] = {
    val k = best.nComponents; val ng = best.hasNugget
    val fits = bootstrapFits(spark, bins, sigmas, best, nBoot, seed)
    val np = fits.head.length
    (0 until np).map { i =>
      val vals = fits.map(_(i)).sorted
      def pct(q: Double): Double = {
        val pos = q * (vals.length - 1)
        val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
        vals(lo) + (vals(hi) - vals(lo)) * (pos - lo)
      }
      paramName(i, k, ng) -> ((pct(0.16), pct(0.5), pct(0.84)))
    }.toMap
  }

  private def paramName(i: Int, k: Int, ng: Boolean): String =
    if (i < k) s"sill${i + 1}"
    else if (i < 2 * k) s"range${i - k + 1}"
    else "nugget"

  /** Deterministic standard normal from the counter RNG (Box–Muller). */
  def gaussian(ctr: Long, seed: Long): Double = {
    val u1 = (CRand.mixLong(ctr, seed).toDouble + 1.0) / (CRand.M.toDouble + 1.0)
    val u2 = (CRand.mixLong(ctr, seed + 7777).toDouble) / CRand.M.toDouble
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** 5-fold CV of the winning config: RMSE/MAE/ME/MSE on held-out bins
    * (variography_uncertainty.py:679–729). */
  def crossValidate(bins: Seq[Bin], best: FitResult, seed: Long = 42L)
      : Map[String, Double] = {
    val folds = bins.zipWithIndex.groupBy { case (_, i) =>
      (CRand.mixLong(i.toLong, seed) % 5).toInt
    }.values.map(_.map(_._1)).toSeq
    val errs = folds.flatMap { test =>
      val train = bins.filterNot(test.contains)
      if (train.size < 4) Nil
      else {
        val (p, _) = lm(train, best.nComponents, best.hasNugget,
          initialGuess(train, best.nComponents, best.hasNugget, 0, seed))
        test.map(b => gammaOf(p, best.nComponents, best.hasNugget)(b.lag) - b.gamma)
      }
    }
    val n = errs.size.toDouble
    val mse = errs.map(e => e * e).sum / n
    Map("rmse" -> math.sqrt(mse), "mae" -> errs.map(math.abs).sum / n,
      "me" -> errs.sum / n, "mse" -> mse)
  }

  /** Collect a (run, bin, lag, gamma, std) cross-run table into fit bins
    * (weights 1/σ as in curve_fit's `sigma=` weighting).
    *
    * Degenerate-bin guard: a boundary sliver bin observed with a handful
    * of pairs can draw a near-zero cross-run std by chance (measured:
    * the point-cloud survey at W=768, bin at exactly maxLag with mean_n=15 and
    * std 2e-6 vs healthy-bin stds ~3e-4) — 1/σ then hands one
    * meaningless bin ~100× every other bin's weight and the optimizer
    * trades all the healthy bins away to chase it (fitted range 1e5,
    * sill 800× the field variance). Each σ is floored at the Matheron
    * estimator's own sampling deviation, σ ≥ γ·√(2/n) (Var[γ̂] ≈ 2γ²/n
    * for a Gaussian field): a 15-pair bin cannot claim more credibility
    * than 15 pairs carry, while for healthy thousand-pair bins the floor
    * sits at or below their observed cross-run std and the curve_fit
    * `sigma=` semantics are unchanged. */
  def binsFromCrossRun(df: DataFrame, binWidth: Double): Seq[Bin] =
    df.collect().toIndexedSeq.map { (r: Row) =>
      val bin = r.getAs[Int]("bin")
      val gamma = r.getAs[Double]("mean_gamma")
      val n = math.max(r.getAs[Double]("mean_n"), 1.0)
      val floor = math.abs(gamma) * math.sqrt(2.0 / n)
      val std = math.max(math.max(r.getAs[Double]("std_gamma"), 1e-12), floor)
      Bin((bin + 0.5) * binWidth, gamma, 1.0 / std)
    }
}
