package graft.fit

import breeze.linalg.{DenseMatrix, DenseVector, pinv}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.functions.SphericalModel
import graft.rng.{Rand => CRand}

/** Driver-side weighted nested-spherical variogram fitting — the Spark
  * re-expression of the reference's bounded `scipy.optimize.curve_fit`
  * search (variography_uncertainty.py:651–659, 731–844): 6 model configs
  * (1–3 spherical components × ±nugget) × 5 jittered initial guesses,
  * weighted least squares, best config by AIC (:833–844). The reference
  * box-bounds a trust-region solver; here Levenberg–Marquardt runs on a
  * parameterization that cannot leave the box (see [[lm]]).
  *
  * Design per SURVEY.md §2.11/§7.3: the empirical variogram is tiny
  * (≤ runs×bins rows), so fitting is DRIVER-side Breeze on the collected
  * table — nothing grid-sized ever reaches the driver. The parametric
  * bootstrap (100 draws by default) fans out as a Spark job over fit
  * tasks (`Dataset[Long].mapPartitions`), mirroring :609–666, 877–923.
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

  /** Natural parameters [C1..Ck, a1..ak, nugget?] (nugget LAST — the
    * reference's load-bearing convention, variography_uncertainty.py:
    * 597–607) from the unconstrained θ that [[lm]] searches: sills and
    * nugget are |θ|, each range is 2·maxLag·sigmoid(θ). */
  private def natural(t: DenseVector[Double], k: Int, maxLag: Double): DenseVector[Double] =
    DenseVector.tabulate(t.length) { i =>
      if (i >= k && i < 2 * k) 2.0 * maxLag / (1.0 + math.exp(-t(i))) else math.abs(t(i))
    }

  /** Weighted residuals w·(γ(h) − γ̂) at θ and their analytic Jacobian
    * ∂r/∂θ: the spherical partials ∂γ/∂C = 1.5u − 0.5u³ and
    * ∂γ/∂a = 1.5·C·u·(u² − 1)/a for u = h/a < 1 (1 and 0 past the range),
    * ∂γ/∂nugget = 1, chained through [[natural]] (d|θ|/dθ = sign θ,
    * da/dθ = a·(1 − a/(2·maxLag))). */
  private[graft] def residuals(bins: Seq[Bin], k: Int, nugget: Boolean, maxLag: Double,
                               t: DenseVector[Double]): (DenseVector[Double], DenseMatrix[Double]) = {
    val p = natural(t, k, maxLag)
    def sign(x: Double) = if (x < 0) -1.0 else 1.0
    val r = DenseVector.zeros[Double](bins.length)
    val j = DenseMatrix.zeros[Double](bins.length, t.length)
    for ((b, row) <- bins.zipWithIndex) {
      var g = if (nugget) p(2 * k) else 0.0
      if (nugget) j(row, 2 * k) = b.weight * sign(t(2 * k))
      for (i <- 0 until k) {
        val c = p(i); val a = p(k + i); val u = b.lag / a
        val shape = if (u < 1.0) 1.5 * u - 0.5 * u * u * u else 1.0
        g += c * shape
        j(row, i) = b.weight * shape * sign(t(i))
        if (u < 1.0) j(row, k + i) = b.weight * 1.5 * c * u * (u * u - 1.0) * (1.0 - a / (2.0 * maxLag))
      }
      r(row) = b.weight * (g - b.gamma)
    }
    (r, j)
  }

  /** Weighted Levenberg–Marquardt in the θ of [[natural]] with the
    * analytic Jacobian: every model it returns has sills and nugget ≥ 0 and
    * each range in (0, 2·maxLag], maxLag the largest lag of `bins` (the
    * raster diagonal at the reference's maxLag = ½ diagonal). Unbounded,
    * bins rising past their plateau pull a range to thousands of max lags,
    * where only a component's sill/range ratio is identified. `init` and
    * the result are natural parameters, the latter with its weighted RSS. */
  def lm(bins: Seq[Bin], k: Int, nugget: Boolean, init: DenseVector[Double],
         maxIter: Int = 200): (DenseVector[Double], Double) = {
    val maxLag = bins.map(_.lag).max
    val np = init.length
    var t = DenseVector.tabulate(np) { i => // inverse of natural; ranges clamped into the domain
      val f = math.min(math.max(init(i) / (2.0 * maxLag), 1e-9), 1.0 - 1e-9)
      if (i >= k && i < 2 * k) math.log(f / (1.0 - f)) else init(i)
    }
    var (r, j) = residuals(bins, k, nugget, maxLag, t)
    var cur = r dot r
    var lambda = 1e-3; var iter = 0
    while (iter < maxIter && lambda < 1e10) {
      val jtj = j.t * j; val g = j.t * r
      var improved = false; var tries = 0
      while (!improved && tries < 20) {
        val damped = jtj + DenseMatrix.eye[Double](np) * lambda
        val step = try pinv(damped) * g catch { case _: Exception => DenseVector.zeros[Double](np) }
        val tNew = t - step
        val (rNew, jNew) = residuals(bins, k, nugget, maxLag, tNew)
        val rssNew = rNew dot rNew
        if (rssNew < cur) {
          t = tNew; r = rNew; j = jNew; cur = rssNew
          lambda = math.max(lambda / 3.0, 1e-12); improved = true
        } else { lambda *= 3.0; tries += 1 }
      }
      if (!improved) iter = maxIter else iter += 1
    }
    (natural(t, k, maxLag), cur)
  }

  private def modelOf(p: DenseVector[Double], k: Int, nugget: Boolean): SphericalModel =
    SphericalModel((0 until k).map(p(_)), (0 until k).map(i => p(k + i)),
      if (nugget) p(2 * k) else 0.0)

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
    * Every candidate is in the lag domain by construction of [[lm]]. */
  def fit(bins: Seq[Bin], seed: Long = 42L, nGuesses: Int = 5): FitResult = {
    require(bins.length >= 3, s"a variogram fit needs at least 3 bins, got ${bins.length}")
    val n = bins.length
    (for (k <- 1 to 3; ng <- Seq(false, true); g <- 0 until nGuesses) yield {
      val (p, rss) = lm(bins, k, ng, initialGuess(bins, k, ng, g, seed))
      val aic = 2.0 * p.length + n * math.log(math.max(rss / n, 1e-300))
      FitResult(modelOf(p, k, ng), rss, aic, k, ng)
    }).minBy(_.aic)
  }

  /** Raw bootstrap parameter draws (nBoot rows × param vector) — the
    * propagation input when a σ-LEVEL band is wanted instead of
    * per-parameter bands (the reference re-estimates σ_corr per draw,
    * `_bootstrap_correlated_polygon`, variography_uncertainty.py:
    * 1450–1516). Param order: sills, ranges, [nugget]. */
  def bootstrapFits(spark: SparkSession, bins: Seq[Bin], sigmas: Seq[Double],
                    best: FitResult, nBoot: Int = 100, seed: Long = 42L)
      : Array[Array[Double]] = {
    require(nBoot > 0, s"the bootstrap needs at least one draw, got nBoot = $nBoot")
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

  /** Parametric bootstrap: `nBoot` synthetic variograms (γ ± N(0, σ_bin))
    * re-fitted in parallel via mapPartitions over a Dataset of draw ids —
    * the fan-out of variography_uncertainty.py:609–666. Returns per-param
    * 16/50/84 percentiles for the WINNING config. */
  def bootstrap(spark: SparkSession, bins: Seq[Bin], sigmas: Seq[Double],
                best: FitResult, nBoot: Int = 100, seed: Long = 42L)
      : Map[String, (Double, Double, Double)] = {
    val k = best.nComponents; val ng = best.hasNugget
    val fits = bootstrapFits(spark, bins, sigmas, best, nBoot, seed)
    fits.head.indices.map { i =>
      val vals = fits.map(_(i)).sorted
      paramName(i, k, ng) ->
        ((percentile(vals, 0.16), percentile(vals, 0.5), percentile(vals, 0.84)))
    }.toMap
  }

  /** The `q`-quantile of ascending `sorted`, linearly interpolated
    * between the order statistics at `floor` and `ceil` of
    * `q * (n - 1)`. */
  def percentile(sorted: collection.IndexedSeq[Double], q: Double): Double = {
    val pos = q * (sorted.length - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
  }

  private def paramName(i: Int, k: Int, ng: Boolean): String =
    if (i < k) s"sill${i + 1}" else if (i < 2 * k) s"range${i - k + 1}" else "nugget"

  /** Deterministic standard normal from the counter RNG (Box–Muller). */
  def gaussian(ctr: Long, seed: Long): Double = {
    val u1 = (CRand.mixLong(ctr, seed).toDouble + 1.0) / (CRand.M.toDouble + 1.0)
    val u2 = (CRand.mixLong(ctr, seed + 7777).toDouble) / CRand.M.toDouble
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** The refits of 5-fold CV on the winning config: (held-out bins, model
    * fitted on the rest) for each fold that leaves ≥ 4 training bins. */
  def cvRefits(bins: Seq[Bin], best: FitResult, seed: Long = 42L)
      : Seq[(Seq[Bin], SphericalModel)] = {
    val k = best.nComponents; val ng = best.hasNugget
    bins.zipWithIndex.groupBy { case (_, i) => (CRand.mixLong(i.toLong, seed) % 5).toInt }
      .values.map(_.map(_._1)).toSeq.map(test => (test, bins.filterNot(test.contains)))
      .collect { case (test, train) if train.size >= 4 =>
        test -> modelOf(lm(train, k, ng, initialGuess(train, k, ng, 0, seed))._1, k, ng)
      }
  }

  /** 5-fold CV of the winning config: RMSE/MAE/ME/MSE on held-out bins
    * (variography_uncertainty.py:679–729). */
  def crossValidate(bins: Seq[Bin], best: FitResult, seed: Long = 42L)
      : Map[String, Double] = {
    val errs = cvRefits(bins, best, seed).flatMap { case (test, m) =>
      test.map(b => m.gammaTotal(b.lag) - b.gamma)
    }
    require(errs.nonEmpty,
      s"cross-validation needs a fold that leaves at least 4 training bins, got ${bins.length} bins")
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
