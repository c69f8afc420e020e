package graft

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

  test("spherical gamma column expr matches scalar evaluation") {
    val m = SphericalModel(Seq(0.04, 0.02), Seq(90.0, 300.0), 0.005)
    val hs = Seq(0.0, 10.0, 89.9, 90.0, 250.0, 300.0, 1000.0)
    val fromCol = hs.toDF("h").select(m.gamma(col("h")).as("g"))
      .as[Double].collect().toSeq
    val scalar = hs.map(m.gammaTotal)
    fromCol.zip(scalar).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
  }
}
