package graft

import breeze.linalg.{DenseVector, max => bmax}
import breeze.numerics.abs
import org.apache.spark.sql.functions._
import graft.fit.VariogramFit
import graft.fit.VariogramFit.Bin
import graft.functions.SphericalModel
import graft.rng.Rand
import graft.vario.Vario

class VarioFitSpec extends SparkSuite {
  import spark.implicits._

  test("band join finds exactly the brute-force pair set") {
    // 40 deterministic points in a 100×100 field, maxLag 30
    val pts = (0 until 40).map { i =>
      (0, i.toLong, (Rand.mixLong(i, 1) % 100).toDouble,
        (Rand.mixLong(i, 2) % 100).toDouble, 1.0)
    }.toDF("run", "k", "x", "y", "v")
    val banded = Vario.bandPairs(pts, 30.0).count()
    val rows = pts.collect().map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val brute = (for {
      a <- rows; b <- rows if a._1 < b._1
      d2 = (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3)
      if d2 <= 900.0
    } yield 1).size
    assert(banded == brute, s"banded $banded vs brute $brute")
  }

  test("matheron on iid noise is flat near the variance") {
    // iid values with var σ² ⇒ γ(h) ≈ σ² at all lags
    val pts = spark.range(500).select(
      lit(0).as("run"), col("id").as("k"),
      (Rand.mix(col("id"), 21) % 1000).cast("double").as("x"),
      (Rand.mix(col("id"), 22) % 1000).cast("double").as("y"),
      Rand.gaussian(col("id"), 23).as("v"))
    val gammas = Vario.matheron(Vario.bandPairs(pts, 400.0), 100.0)
      .select("gamma").as[Double].collect()
    assert(gammas.nonEmpty)
    gammas.foreach(g => assert(g > 0.6 && g < 1.6, s"gamma $g not ≈ 1"))
  }

  test("LM fit recovers a known spherical model") {
    val truth = SphericalModel(Seq(0.04), Seq(90.0), 0.005)
    val bins = (0 until 20).map { i =>
      val lag = (i + 0.5) * 15.0
      Bin(lag, truth.gammaTotal(lag), 1.0)
    }
    val best = VariogramFit.fit(bins, seed = 42L)
    val fitted = best.model
    val sill = fitted.sills.sum + fitted.nugget
    assert(math.abs(sill - 0.045) < 0.005, s"total sill ${sill}")
    // γ at the knee should match closely even if decomposition differs
    Seq(30.0, 60.0, 90.0, 150.0).foreach { h =>
      assert(math.abs(fitted.gammaTotal(h) - truth.gammaTotal(h)) < 0.003,
        s"gamma($h)")
    }
  }

  test("cross-validation errors are small for a clean model") {
    val truth = SphericalModel(Seq(0.04), Seq(90.0), 0.005)
    val bins = (0 until 20).map { i =>
      val lag = (i + 0.5) * 15.0; Bin(lag, truth.gammaTotal(lag), 1.0)
    }
    val best = VariogramFit.fit(bins)
    val cv = VariogramFit.crossValidate(bins, best)
    assert(cv("rmse") < 0.01, s"cv rmse ${cv("rmse")}")
  }

  test("bootstrap returns ordered percentile bands, reproducibly") {
    val truth = SphericalModel(Seq(0.04), Seq(90.0), 0.0)
    val bins = (0 until 15).map { i =>
      val lag = (i + 0.5) * 20.0; Bin(lag, truth.gammaTotal(lag), 1.0)
    }
    val best = VariogramFit.fit(bins)
    val b1 = VariogramFit.bootstrap(spark, bins, bins.map(_ => 0.002),
      best, nBoot = 20)
    val b2 = VariogramFit.bootstrap(spark, bins, bins.map(_ => 0.002),
      best, nBoot = 20)
    assert(b1 == b2, "bootstrap not deterministic")
    b1.values.foreach { case (p16, p50, p84) =>
      assert(p16 <= p50 && p50 <= p84)
    }
    // the point fit lies inside its own 16–84 band, per parameter
    val m = best.model
    val point = m.sills.zipWithIndex.map { case (c, i) => s"sill${i + 1}" -> c } ++
      m.ranges.zipWithIndex.map { case (a, i) => s"range${i + 1}" -> a } ++
      (if (best.hasNugget) Seq("nugget" -> m.nugget) else Nil)
    assert(b1.keySet == point.map(_._1).toSet)
    point.foreach { case (name, v) =>
      val (p16, _, p84) = b1(name)
      assert(v >= p16 && v <= p84, s"$name=$v outside [$p16, $p84]")
    }
  }

  test("fit keeps every range inside the lag domain when bins rise past the plateau") {
    // a plateau with a slight linear rise after it: an unbounded search
    // fits the rise with an extra component whose range runs far past
    // the largest lag (only its sill/range ratio is identified there)
    val truth = SphericalModel(Seq(1.0), Seq(15.0), 0.0)
    val bins = (0 until 24).map { i =>
      val lag = (i + 0.5) * 2.0
      Bin(lag, truth.gammaTotal(lag) + 0.004 * lag, 1.0)
    }
    val maxLag = bins.map(_.lag).max
    val best = VariogramFit.fit(bins)
    assert(best.model.ranges.forall(_ <= 2.0 * maxLag), s"out-of-domain fit $best")
    val main = best.model.ranges(best.model.sills.indexOf(best.model.sills.max))
    assert(main > 10.0 && main < 30.0, s"main range $main")
  }

  /** A noisy synthetic variogram at 2 m bins: a spherical truth (sill
    * 0.5–2, range 15–60 % of the max lag, nugget 0–10 % of the sill), a
    * slight linear rise past the plateau and per-bin Gaussian noise of
    * σ = 0.02–0.05, weighted 1/σ as `binsFromCrossRun` weights. */
  private def noisyVariogram(nBins: Int, seed: Long): (Seq[Bin], Seq[Double]) = {
    def u(i: Long) = (Rand.mixLong(i, seed) % 1000000L) / 1e6
    val maxLag = (nBins - 0.5) * 2.0
    val sill = 0.5 + 1.5 * u(1)
    val truth = SphericalModel(Seq(sill), Seq(maxLag * (0.15 + 0.45 * u(2))), 0.1 * sill * u(3))
    val rise = 0.002 + 0.006 * u(4)
    val sigmas = (0 until nBins).map(i => 0.02 + 0.03 * u(10L + i))
    val bins = (0 until nBins).map { i =>
      val lag = (i + 0.5) * 2.0
      val g = truth.gammaTotal(lag) + rise * math.max(lag - truth.ranges.head, 0.0) +
        sigmas(i) * VariogramFit.gaussian(100L + i, seed)
      Bin(lag, math.max(g, 0.0), 1.0 / sigmas(i))
    }
    (bins, sigmas)
  }

  test("fit, every bootstrap draw and every CV refit stay in the lag domain on noisy variograms") {
    val checked = for {
      nBins <- Seq(12, 24)
      seed <- 1L to 20L
    } yield {
      val (bins, sigmas) = noisyVariogram(nBins, seed)
      val maxLag = bins.map(_.lag).max
      val best = VariogramFit.fit(bins, seed)
      val k = best.nComponents; val ng = best.hasNugget
      val draws = VariogramFit.bootstrapFits(spark, bins, sigmas, best, nBoot = 20, seed = seed)
        .map(p => SphericalModel(p.take(k).toSeq, p.slice(k, 2 * k).toSeq, if (ng) p(2 * k) else 0.0))
      val refits = VariogramFit.cvRefits(bins, best, seed).map(_._2)
      val models = ("fit" -> best.model) +: (draws.map("bootstrap" -> _) ++ refits.map("cv" -> _))
      models.map { case (path, m) =>
        val inDomain = m.ranges.forall(a => a > 0.0 && a <= 2.0 * maxLag) &&
          (m.nugget +: m.sills).forall(_ >= 0.0)
        (path, inDomain, s"$path nBins=$nBins seed=$seed $m")
      }
    }
    val all = checked.flatten
    Seq("fit" -> 40, "bootstrap" -> 800, "cv" -> 40).foreach { case (path, atLeast) =>
      assert(all.count(_._1 == path) >= atLeast, s"too few $path models checked")
    }
    val out = all.filterNot(_._2)
    assert(out.isEmpty, s"${out.size} out-of-domain models:\n${out.map(_._3).take(10).mkString("\n")}")
  }

  test("the analytic Jacobian matches central finite differences") {
    val bins = (0 until 15).map { i =>
      Bin((i + 0.5) * 2.0, 0.1 * i, 0.5 + (Rand.mixLong(i, 5) % 1000) / 1000.0)
    }
    val maxLag = bins.map(_.lag).max
    var checked = 0
    for (k <- 1 to 3; ng <- Seq(false, true); pt <- 0 until 8) {
      def u(i: Int) = (Rand.mixLong(pt * 100L + i, 10L * k + (if (ng) 1 else 0)) % 1000000L) / 1e6
      val np = 2 * k + (if (ng) 1 else 0)
      // interior points: |θ| of sills and nugget in [0.2, 1.2] with either
      // sign, ranges between 12 % and 88 % of the bound
      val t = DenseVector.tabulate(np) { i =>
        if (i >= k && i < 2 * k) 4.0 * u(i) - 2.0
        else (0.2 + u(i)) * (if (u(i + 50) < 0.5) -1.0 else 1.0)
      }
      val ranges = (k until 2 * k).map(i => 2.0 * maxLag / (1.0 + math.exp(-t(i))))
      // the spherical model has a kink in h at each range: skip points
      // where a lag sits on one
      if (bins.forall(b => ranges.forall(a => math.abs(b.lag - a) > 1e-3))) {
        val (_, jac) = VariogramFit.residuals(bins, k, ng, maxLag, t)
        (0 until np).foreach { c =>
          val h = 1e-5
          val (up, _) = VariogramFit.residuals(bins, k, ng, maxLag, t + DenseVector.tabulate(np)(i => if (i == c) h else 0.0))
          val (dn, _) = VariogramFit.residuals(bins, k, ng, maxLag, t - DenseVector.tabulate(np)(i => if (i == c) h else 0.0))
          val fd = (up - dn) / (2.0 * h)
          val err = bmax(abs(jac(::, c) - fd))
          assert(err <= 1e-6 * bmax(abs(jac)), s"k=$k nugget=$ng point $pt column $c: |J - FD| = $err")
        }
        checked += 1
      }
    }
    assert(checked >= 40, s"only $checked interior points checked")
  }

  test("fit on a one- or two-bin variogram fails naming the bin count") {
    Seq(1, 2).foreach { n =>
      val bins = (0 until n).map(i => Bin((i + 0.5) * 2.0, 0.5 + i, 1.0))
      val e = intercept[IllegalArgumentException](VariogramFit.fit(bins))
      assert(e.getMessage.contains(s"at least 3 bins, got $n"), e.getMessage)
    }
  }

  test("cross-validation with no fold of 4 training bins fails instead of returning NaN") {
    // 4 bins: every fold holds out ≥ 1, so no fold trains on 4
    val truth = SphericalModel(Seq(1.0), Seq(5.0), 0.0)
    val bins = (0 until 4).map { i => val lag = (i + 0.5) * 2.0; Bin(lag, truth.gammaTotal(lag), 1.0) }
    val best = VariogramFit.fit(bins)
    val e = intercept[IllegalArgumentException](VariogramFit.crossValidate(bins, best))
    assert(e.getMessage.contains("at least 4 training bins, got 4 bins"), e.getMessage)
  }

  test("a bootstrap of zero draws fails with a named cause") {
    val truth = SphericalModel(Seq(1.0), Seq(10.0), 0.0)
    val bins = (0 until 10).map { i => val lag = (i + 0.5) * 2.0; Bin(lag, truth.gammaTotal(lag), 1.0) }
    val best = VariogramFit.fit(bins)
    val e = intercept[IllegalArgumentException](
      VariogramFit.bootstrap(spark, bins, bins.map(_ => 0.01), best, nBoot = 0))
    assert(e.getMessage.contains("nBoot = 0"), e.getMessage)
  }

  test("spherical gamma column expr matches scalar evaluation") {
    val m = SphericalModel(Seq(0.04, 0.02), Seq(90.0, 300.0), 0.005)
    val hs = Seq(0.0, 10.0, 89.9, 90.0, 250.0, 300.0, 1000.0)
    val fromCol = hs.toDF("h").select(m.gamma(col("h")).as("g"))
      .as[Double].collect().toSeq
    val scalar = hs.map(m.gammaTotal)
    fromCol.zip(scalar).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
  }
}
