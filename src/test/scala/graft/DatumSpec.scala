package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnTrees
import org.apache.spark.sql.types.DoubleType
import graft.geo.{Datum, DatumShift, Proj}

class DatumSpec extends SparkSuite {
  import spark.implicits._

  private def one(lat: Double, lon: Double, h: Double,
                  f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column,
                      org.apache.spark.sql.Column) =>
                    (org.apache.spark.sql.Column, org.apache.spark.sql.Column,
                     org.apache.spark.sql.Column)): (Double, Double, Double) = {
    val (a, b, c) = f(col("lat"), col("lon"), col("h"))
    val r = Seq((lat, lon, h)).toDF("lat", "lon", "h")
      .select(a.as("a"), b.as("b"), c.as("c")).head()
    (r.getDouble(0), r.getDouble(1), r.getDouble(2))
  }

  test("geodetic → geocentric → geodetic round-trips to sub-µm") {
    for ((lat, lon, h) <- Seq((51.5, -0.1, 45.0), (-33.86, 151.21, 10.0),
        (0.0, 0.0, 0.0), (89.0, 179.0, 8000.0), (-89.0, -179.0, -100.0))) {
      val (la, lo, hh) = one(lat, lon, h, (p, l, e) => {
        val (x, y, z) = Datum.toGeocentric(p, l, e, Datum.Wgs84)
        Datum.toGeodetic(x, y, z, Datum.Wgs84)
      })
      assert(math.abs(la - lat) < 1e-11, s"lat $lat -> $la")
      assert(math.abs(lo - lon) < 1e-11, s"lon $lon -> $lo")
      assert(math.abs(hh - h) < 1e-6, s"h $h -> $hh")
    }
  }

  test("known geocentric values: equator and pole") {
    // equator, prime meridian, h=0: X = a exactly
    val (x, y, z) = one(0.0, 0.0, 0.0,
      (p, l, e) => Datum.toGeocentric(p, l, e, Datum.Wgs84))
    assert(math.abs(x - 6378137.0) < 1e-6 && math.abs(y) < 1e-9 &&
      math.abs(z) < 1e-9)
    // north pole: Z = b = a(1-f)
    val (_, _, zp) = one(90.0, 0.0, 0.0,
      (p, l, e) => Datum.toGeocentric(p, l, e, Datum.Wgs84))
    assert(math.abs(zp - 6378137.0 * (1.0 - 1.0 / 298.257223563)) < 1e-6)
  }

  test("Helmert forward then inverse params round-trips within ~1 cm") {
    val p = Datum.Osgb36ToWgs84
    for ((lat, lon, h) <- Seq((51.5, -0.1, 45.0), (57.0, -5.0, 1200.0))) {
      val (la, lo, hh) = one(lat, lon, h, (pp, ll, ee) => {
        val (f1, f2, f3) = Datum.transform(pp, ll, ee,
          Datum.Airy1830, p, Datum.Wgs84)
        Datum.transform(f1, f2, f3, Datum.Wgs84, p.inverse, Datum.Airy1830)
      })
      // negated-parameter inverse is the standard approximation: its
      // second-order error is dominated by the scale×translation and
      // rotation×translation cross terms (s·|T| ≈ 2.05e-5 × 560 m ≈ 12 mm
      // in h; rz·tx ≈ 4.1e-6 rad × 446 m ≈ 2 mm ≈ 3e-8 deg in lat/lon) —
      // well under the query's 1e-6 deg rt_ok tripwire
      assert(math.abs(la - lat) < 1e-7 && math.abs(lo - lon) < 1e-7,
        s"($lat,$lon) -> ($la,$lo)")
      assert(math.abs(hh - h) < 0.05, s"h $h -> $hh")
    }
  }

  test("OSGB36→WGS84 matches the pinned longdouble artifact on spot keys") {
    // independent second method: tools/helmert_expected.parquet was
    // produced by numpy longdouble (gen_helmert_expected.py); the engine
    // chain must land on the same canonically-rounded values
    val exp = spark.read.parquet("tools/helmert_expected.parquet")
      .filter(col("c_custkey") < 50)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val pts = spark.range(50).select(col("id").as("k"),
      (graft.rng.Rand.u01(col("id"), 61) * 10.0 + 50.0).as("lat"),
      (graft.rng.Rand.u01(col("id"), 62) * 10.0 - 8.0).as("lon"),
      (graft.rng.Rand.u01(col("id"), 63) * 1000.0).as("h"))
    val (la, lo, hh) = Datum.transform(col("lat"), col("lon"), col("h"),
      Datum.Airy1830, Datum.Osgb36ToWgs84, Datum.Wgs84)
    val got = pts.select(col("k"),
        graft.functions.Canon.round(la, 8).as("la"),
        graft.functions.Canon.round(lo, 8).as("lo"),
        graft.functions.Canon.round(hh, 3).as("hh"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got == exp)
  }

  test("Helmert14: at refEpoch the zero-param set is the identity") {
    val p = Datum.Itrf2014ToGda2020
    val df = Seq((-27.5, 153.0, 40.0, 2020.0)).toDF("lat", "lon", "h", "epoch")
    val (la, lo, hh) = Datum.transform14(col("lat"), col("lon"), col("h"),
      col("epoch"), Datum.Grs80, p, Datum.Grs80)
    val r = df.select(la.as("a"), lo.as("b"), hh.as("c")).head()
    assert(math.abs(r.getDouble(0) - -27.5) < 1e-11)
    assert(math.abs(r.getDouble(1) - 153.0) < 1e-11)
    assert(math.abs(r.getDouble(2) - 40.0) < 1e-6)
  }

  test("Helmert14: epoch propagation magnitude and inverse round-trip") {
    val p = Datum.Itrf2014ToGda2020
    // 2015 -> 2020 is 5 years of ~1.5 mas/yr plate rotation: expect a
    // horizontal shift of a few decimetres, doubling over double the span
    def shiftAt(epoch: Double): Double = {
      val df = Seq((-27.5, 153.0, 40.0, epoch)).toDF("lat", "lon", "h", "epoch")
      val (la, lo, _) = Datum.transform14(col("lat"), col("lon"), col("h"),
        col("epoch"), Datum.Grs80, p, Datum.Grs80)
      val r = df.select(la.as("a"), lo.as("b")).head()
      val dLat = (r.getDouble(0) + 27.5) * 111320.0
      val dLon = (r.getDouble(1) - 153.0) * 111320.0 * math.cos(math.toRadians(27.5))
      math.hypot(dLat, dLon)
    }
    val s5 = shiftAt(2015.0)
    val s10 = shiftAt(2010.0)
    assert(s5 > 0.2 && s5 < 0.6, s"5-year shift $s5 m")
    assert(math.abs(s10 / s5 - 2.0) < 1e-3, s"linear in Δepoch: $s10 vs $s5")
    // inverse at the same epoch round-trips
    for (epoch <- Seq(2010.0, 2017.25, 2024.9375)) {
      val df = Seq((-44.0, 112.0, 0.0, epoch), (-10.0, 154.0, 950.0, epoch))
        .toDF("lat", "lon", "h", "epoch")
      val (la, lo, hh) = Datum.transform14(col("lat"), col("lon"), col("h"),
        col("epoch"), Datum.Grs80, p, Datum.Grs80)
      val fwd = df.select(col("lat"), col("lon"), col("epoch"),
        la.as("glat"), lo.as("glon"), hh.as("gh"))
      val (bla, blo, _) = Datum.transform14(col("glat"), col("glon"), col("gh"),
        col("epoch"), Datum.Grs80, p.inverse, Datum.Grs80)
      fwd.select((abs(bla - col("lat")) + abs(blo - col("lon"))).as("err"))
        .collect().foreach(r => assert(r.getDouble(0) < 1e-9, s"rt at $epoch"))
    }
  }

  test("ITRF2014→GDA2020 matches the pinned longdouble artifact on spot keys") {
    val exp = spark.read.parquet("tools/helmert14_expected.parquet")
      .filter(col("c_custkey") < 50)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val pts = spark.range(50).select(col("id").as("k"),
      (-(graft.rng.Rand.u01(col("id"), 71) * 34.0 + 10.0)).as("lat"),
      (graft.rng.Rand.u01(col("id"), 72) * 42.0 + 112.0).as("lon"),
      (graft.rng.Rand.u01(col("id"), 73) * 1000.0).as("h"),
      (floor(graft.rng.Rand.u01(col("id"), 74) * 160.0) / 16.0 + 2015.0).as("epoch"))
    val (la, lo, hh) = Datum.transform14(col("lat"), col("lon"), col("h"),
      col("epoch"), Datum.Grs80, Datum.Itrf2014ToGda2020, Datum.Grs80)
    val got = pts.select(col("k"), col("epoch"),
        graft.functions.Canon.round(la, 8).as("la"),
        graft.functions.Canon.round(lo, 8).as("lo"),
        graft.functions.Canon.round(hh, 3).as("hh"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got == exp)
  }

  test("forward then inverse shift chained in one projection is a small tree") {
    // spelled as Column arithmetic, one shift copied each shared subterm
    // per use (~12 k nodes) and a chained second shift ~7.8 M: the
    // analyzer never finished resolving it and exhausted the heap
    val p = Datum.Osgb36ToWgs84
    val (f1, f2, f3) = Datum.transform(col("lat"), col("lon"), col("h"),
      Datum.Airy1830, p, Datum.Wgs84)
    val q = Datum.Itrf2014ToGda2020
    val (g1, g2, g3) = Datum.transform14(col("lat"), col("lon"), col("h"),
      col("epoch"), Datum.Grs80, q, Datum.Grs80)
    val chains = Seq(
      "transform" -> Datum.transform(f1, f2, f3, Datum.Wgs84, p.inverse, Datum.Airy1830),
      "transform14" -> Datum.transform14(g1, g2, g3, col("epoch"), Datum.Grs80,
        q.inverse, Datum.Grs80))
    val df = Seq((-27.5, 153.0, 40.0, 2010.0), (-10.0, 154.0, 950.0, 2024.9375))
      .toDF("lat", "lon", "h", "epoch")
    for ((name, (a, b, c)) <- chains) {
      val built = Seq(a, b, c).map(ColumnTrees.nodes(_, 1000)).sum
      assert(built < 1000, s"$name: $built nodes as built")
      val rt = df.select(col("lat"), col("lon"), a.as("a"), b.as("b"), c.as("c"))
      val analyzed = rt.queryExecution.analyzed.expressions
        .map(_.collect { case e => e }.size).sum
      assert(analyzed < 1000, s"$name: $analyzed nodes after analysis")
      rt.collect().foreach { r =>
        assert(math.abs(r.getDouble(2) - r.getDouble(0)) < 1e-7 &&
          math.abs(r.getDouble(3) - r.getDouble(1)) < 1e-7, s"$name round trip: $r")
      }
    }
  }

  test("DatumShift: interpreted eval equals codegen; a null input gives null") {
    val in = (0 until 4).map(BoundReference(_, DoubleType, nullable = true))
    val chains = Seq(
      Seq(Datum.Geocentric(Datum.Airy1830), Datum.Shift7(Datum.Osgb36ToWgs84),
        Datum.Geodetic(Datum.Wgs84)),
      Seq(Datum.Geocentric(Datum.Grs80), Datum.Shift14(Datum.Itrf2014ToGda2020),
        Datum.Geodetic(Datum.Grs80)),
      Seq(Datum.Geocentric(Datum.Wgs84), Datum.Geodetic(Datum.Wgs84)),
      Seq(Proj.Forward, Proj.Inverse))
    val pts = Seq((51.5, -0.1, 45.0, 2010.0), (-33.86, 151.21, 10.0, 2017.25),
      (0.0, 0.0, 0.0, 2020.0), (89.0, 179.0, 8000.0, 2024.9375),
      (-89.0, -179.0, -100.0, 2015.0), (90.0, -180.0, 0.0, 2020.0))
    for (steps <- chains) {
      val kids = if (steps.exists(_.isInstanceOf[Datum.Shift14])) in else in.take(3)
      val es = (0 until 3).map(DatumShift(kids, steps, _))
      val gen = GenerateUnsafeProjection.generate(es)
      for ((a, b, c, t) <- pts) {
        val row = InternalRow(a, b, c, t)
        val out = gen(row)
        es.zipWithIndex.foreach { case (e, i) =>
          assert(e.eval(row) == out.getDouble(i), s"$steps coord $i at $row")
        }
      }
      for (k <- kids.indices) {
        val row = InternalRow.fromSeq(Seq[Any](51.5, -0.1, 45.0, 2010.0).updated(k, null))
        val out = gen(row)
        es.zipWithIndex.foreach { case (e, i) =>
          assert(e.eval(row) == null && out.isNullAt(i), s"$steps coord $i, null input $k")
        }
      }
    }
    val nulls = Seq[(Option[Double], Double, Double)]((None, 1.0, 2.0), (Some(51.5), -0.1, 45.0))
      .toDF("lat", "lon", "h")
    val (la, _, _) = Datum.transform(col("lat"), col("lon"), col("h"),
      Datum.Airy1830, Datum.Osgb36ToWgs84, Datum.Wgs84)
    val got = nulls.select(la).as[Option[Double]].collect()
    assert(got(0).isEmpty && got(1).isDefined)
  }
}
