package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.ErrorAnalysis
import graft.geom.Geom

/** The Spark spelling of the Monte-Carlo pair generator: `3·nPairs`
  * candidates from the counter RNG as Columns, both endpoints filtered by
  * the `PointInPolygon` node, the first `nPairs` ids kept. It is the
  * oracle for the driver generator, and the same `CounterMix` +
  * `PointInPolygon` stage the catalog's `u_mc_*` draws compile to. */
object AcceptedPairsOracle {
  def frame(spark: SparkSession, pts: Seq[(Double, Double)],
            nPairs: Int, seed: Long): DataFrame = {
    val verts = Geom.polyLit(pts)
    val (minX, maxX) = (pts.map(_._1).min, pts.map(_._1).max)
    val (minY, maxY) = (pts.map(_._2).min, pts.map(_._2).max)
    val u = (salt: Long) => graft.rng.Rand.u01(col("id"), seed + salt)
    spark.range(nPairs * 3L)
      .select(col("id"),
        (u(1) * (maxX - minX) + minX).as("x1"), (u(2) * (maxY - minY) + minY).as("y1"),
        (u(3) * (maxX - minX) + minX).as("x2"), (u(4) * (maxY - minY) + minY).as("y2"))
      .filter(Geom.pointInPolygon(col("x1"), col("y1"), verts) &&
              Geom.pointInPolygon(col("x2"), col("y2"), verts))
      .orderBy("id").limit(nPairs)
      .drop("id")
  }
}

class AcceptedPairsSpec extends SparkSuite {

  private val polygons = Seq(
    "square" -> Seq((8.0, 8.0), (56.0, 8.0), (56.0, 56.0), (8.0, 56.0)),
    // L-shaped: a ray from a point crosses the ring up to four times
    "concave" -> Seq((8.0, 8.0), (56.0, 8.0), (56.0, 30.0), (30.0, 30.0),
      (30.0, 56.0), (8.0, 56.0)),
    // a thin tilted band: most candidates miss it
    "sliver" -> Seq((0.0, 0.0), (100.0, 40.0), (100.0, 43.0), (0.0, 3.0)),
    // a triangle keeps about a quarter of the candidates: fewer than nPairs
    "triangle" -> Seq((-3.5, 2.25), (17.0, 2.25), (-3.5, 19.75)))

  private def bits(p: (Double, Double, Double, Double)): Seq[Long] =
    Seq(p._1, p._2, p._3, p._4).map(java.lang.Double.doubleToRawLongBits)

  test("the driver generator returns the Spark spelling's pairs, bit for bit, in order") {
    val nPairs = 1500
    for ((name, pts) <- polygons; seed <- Seq(42L, 7L, 123456789L)) {
      val oracle = AcceptedPairsOracle.frame(spark, pts, nPairs, seed).collect()
        .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      val driver = ErrorAnalysis.acceptedPairs(pts, nPairs, seed)
      assert(oracle.nonEmpty, s"$name/$seed")
      assert(driver.length == oracle.length, s"$name/$seed: ${driver.length} vs ${oracle.length}")
      driver.zip(oracle).zipWithIndex.foreach { case ((d, o), i) =>
        assert(bits(d) == bits(o), s"$name/$seed pair $i: $d vs $o")
      }
      if (name == "square") assert(driver.length == nPairs)
      if (name == "triangle") assert(driver.length < nPairs, s"$seed: ${driver.length}")
    }
  }

  test("the scalar even-odd test agrees with the PointInPolygon node, compiled and interpreted") {
    // a half-unit lattice over the concave ring's bbox and beyond: its
    // vertices and edges lie on the lattice
    val ring = polygons.toMap.apply("concave")
    val xs = ring.map(_._1).toArray
    val ys = ring.map(_._2).toArray
    def coord(k: Long) = k.toDouble * 0.5 - 2.0
    def coordCol(k: Column) = k.cast("double") * 0.5 - 2.0
    val df = spark.range(128L * 128).select(Geom.pointInPolygon(
      coordCol(col("id") % 128), coordCol((col("id") / 128).cast("long")), Geom.polyLit(ring)))
    val expect = (0L until 128L * 128).map(id =>
      Geom.inPolygon(coord(id % 128), coord(id / 128), xs, ys))
    for (interpreted <- Seq(false, true)) {
      if (interpreted) {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      }
      try assert(df.collect().map(_.getBoolean(0)).toSeq == expect, s"interpreted=$interpreted")
      finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    assert(expect.count(identity) > 1000 && expect.count(!_) > 1000)
  }
}
