package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnTrees
import graft.geo.Proj

class ProjSpec extends SparkSuite {
  import spark.implicits._

  test("easting at the central meridian is exactly E0; equator northing exactly 0") {
    for (lat <- Seq(-60.0, -10.0, 0.0, 33.3, 78.9)) {
      val (e, n) = Proj.forward(lat, -75.0, -75.0)
      assert(e == Proj.E0, s"lat $lat easting $e")
      if (lat == 0.0) assert(n == 0.0)
      if (lat > 0.0) assert(n > 0.0)
      if (lat < 0.0) assert(n < 0.0)
    }
  }

  test("central-meridian northing equals k0 × the numerically integrated meridian arc") {
    // SECOND METHOD: Simpson integration of the meridian curvature radius
    // M(φ) = a(1−e²)/(1−e²sin²φ)^{3/2} — pins the rectifying radius and
    // the whole ξ series to < 1 mm over a quarter meridian
    val e2 = Proj.FLAT * (2.0 - Proj.FLAT)
    def m(phi: Double): Double =
      Proj.A_AXIS * (1.0 - e2) /
        math.pow(1.0 - e2 * math.sin(phi) * math.sin(phi), 1.5)
    for (latDeg <- Seq(15.0, 30.0, 45.0, 60.0, 75.0, 84.0)) {
      val phi = math.toRadians(latDeg)
      val steps = 20000
      val h = phi / steps
      var s = m(0.0) + m(phi)
      for (i <- 1 until steps)
        s += (if (i % 2 == 1) 4.0 else 2.0) * m(i * h)
      val arc = s * h / 3.0
      val (_, nn) = Proj.forward(latDeg, -75.0, -75.0)
      assert(math.abs(nn - Proj.K0 * arc) < 1e-3,
        s"lat $latDeg: northing $nn vs k0·arc ${Proj.K0 * arc}")
    }
  }

  test("forward∘inverse closes to < 1e-9 degrees across the zone") {
    val rng = new scala.util.Random(42)
    for (_ <- 1 to 300) {
      val lat = rng.nextDouble() * 168.0 - 84.0
      val lon0 = (rng.nextInt(60) * 6 - 180 + 3).toDouble
      val lon = lon0 + rng.nextDouble() * 6.0 - 3.0
      val (e, n) = Proj.forward(lat, lon, lon0)
      val (lat2, lon2) = Proj.inverse(e, n, lon0)
      assert(math.abs(lat2 - lat) < 1e-9 && math.abs(lon2 - lon) < 1e-9,
        s"($lat, $lon) → ($e, $n) → ($lat2, $lon2)")
    }
  }

  test("projection is symmetric about the central meridian") {
    for (lat <- Seq(-45.0, 10.0, 60.0); d <- Seq(0.5, 1.5, 2.9)) {
      val (eE, nE) = Proj.forward(lat, -75.0 + d, -75.0)
      val (eW, nW) = Proj.forward(lat, -75.0 - d, -75.0)
      assert(math.abs((eE - Proj.E0) + (eW - Proj.E0)) < 1e-6,
        s"easting asymmetry at $lat±$d")
      assert(math.abs(nE - nW) < 1e-6, s"northing asymmetry at $lat±$d")
    }
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  test("Column path is bit-identical to the scalar path") {
    // four points in zone 18 (lon0 = −75°), then a seeded sample across zones
    val rng = new scala.util.Random(20261019L)
    val pts = Seq((12.345, -74.1), (-33.9, -77.7), (71.2, -72.25), (0.0, -75.0)) ++
      Seq.fill(500)((rng.nextDouble() * 168.0 - 84.0, rng.nextDouble() * 360.0 - 180.0))
    val lon0 = Proj.centralMeridianCol(col("lon"))
    val (e, n) = Proj.forwardCols(col("lat"), col("lon"), lon0)
    val (lat2, lon2) = Proj.inverseCols(e, n, lon0)
    val got = pts.toDF("lat", "lon").select(e, n, lat2, lon2).collect()
    for (((lat, lon), row) <- pts.zip(got)) {
      val z = Proj.centralMeridian(lon)
      val (se, sn) = Proj.forward(lat, lon, z)
      val (sla, slo) = Proj.inverse(se, sn, z)
      for ((want, i) <- Seq(se, sn, sla, slo).zipWithIndex)
        assert(bits(row.getDouble(i)) == bits(want), s"output $i at ($lat, $lon), lon0 $z")
    }
  }

  test("inverse chained onto forward in one projection is a small tree") {
    // each Column is one node per output, so chaining does not copy the
    // forward series into every use by the inverse
    val (e, n) = Proj.forwardCols(col("lat"), col("lon"), col("lon0"))
    val (lat2, lon2) = Proj.inverseCols(e, n, col("lon0"))
    val built = Seq(lat2, lon2).map(ColumnTrees.nodes(_, 1000)).sum
    assert(built < 1000, s"$built nodes as built")
    val rng = new scala.util.Random(42)
    val pts = Seq.fill(300) {
      val lon0 = (rng.nextInt(60) * 6 - 180 + 3).toDouble
      (rng.nextDouble() * 168.0 - 84.0, lon0 + rng.nextDouble() * 6.0 - 3.0, lon0)
    }
    val rt = pts.toDF("lat", "lon", "lon0")
      .select(col("lat"), col("lon"), lat2.as("lat2"), lon2.as("lon2"))
    val analyzed = rt.queryExecution.analyzed.expressions
      .map(_.collect { case x => x }.size).sum
    assert(analyzed < 1000, s"$analyzed nodes after analysis")
    rt.collect().foreach { r =>
      assert(math.abs(r.getDouble(2) - r.getDouble(0)) < 1e-9 &&
        math.abs(r.getDouble(3) - r.getDouble(1)) < 1e-9, s"round trip: $r")
    }
  }

  test("both poles project to the end of the meridian arc") {
    // atanh(sin φ) is ±∞ here: 1 − sin φ = 0 at +90° and log's argument
    // is 0 at −90°, and the series must still reach ±π/2
    val pts = for (lat <- Seq(90.0, -90.0); lon <- Seq(-75.0, -73.5, -77.9)) yield (lat, lon)
    val (e, n) = Proj.forwardCols(col("lat"), col("lon"), lit(-75.0))
    val got = pts.toDF("lat", "lon").select(e, n).collect()
    val arcEnd = Proj.K0 * Proj.RectA * math.Pi / 2.0
    for (((lat, lon), r) <- pts.zip(got)) {
      assert(math.abs(r.getDouble(0) - Proj.E0) < 1e-3, s"easting at ($lat, $lon): $r")
      assert(math.abs(r.getDouble(1) - math.signum(lat) * arcEnd) < 1e-3,
        s"northing at ($lat, $lon): $r")
    }
  }

  test("known geometry: one degree of longitude at the equator ≈ 111.32 km scaled by k0") {
    val (e1, _) = Proj.forward(0.0, -74.0, -75.0)
    // a·1° = 111319.49 m of arc; TM easting at the equator for small dλ is
    // k0·a·atanh(sin dλ) ≈ k0·111321.4 m — allow the small TM stretch
    val d = e1 - Proj.E0
    assert(d > Proj.K0 * 111000.0 && d < Proj.K0 * 111600.0, s"got $d")
  }
}
