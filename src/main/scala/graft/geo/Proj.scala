package graft.geo

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Transverse-Mercator (UTM) projection math on the WGS84 ellipsoid —
  * the coordinate transform the reference delegates to PROJ
  * (`differencing_functions.py:1181–1202, 2239–2277`), reimplemented from
  * the published Krüger series (the same 6th-order-in-n expansion
  * GeographicLib/PROJ evaluate; accuracy ≈ nanometers inside a zone).
  *
  * The series is written once, as scalar [[forward]]/[[inverse]].
  * [[forwardCols]]/[[inverseCols]] run it as [[Forward]]/[[Inverse]]
  * steps of the [[DatumShift]] node, inside whole-stage codegen with no
  * UDF. The scalar path keeps the operation order and the semantics of
  * the Spark-function Column form `r_utm_project` was first gated with —
  * `StrictMath.log` as Spark's `log`, and `atan2(y + 0.0, x + 0.0)` as
  * Spark's `atan2` — so the node reproduces that form bit for bit.
  * ProjSpec pins the math by SECOND METHOD: the northing at the central
  * meridian must equal k0 × the meridian arc integrated numerically,
  * round trips must close to ~1e-10 rad, and the poles project to the
  * meridian arc's end.
  * The query surface (`r_utm_project`) is additionally hash-gated against
  * `tools/utm_expected.parquet`, a pinned artifact produced by a THIRD
  * independent evaluation (numpy 80-bit longdouble, tools/
  * gen_utm_expected.py) — a live transcendental chain cannot hash-match
  * a foreign engine at the ulp level, but a mm-rounded pinned table can.
  */
object Proj {

  // WGS84
  val A_AXIS = 6378137.0
  val FLAT = 1.0 / 298.257223563
  val K0 = 0.9996
  val E0 = 500000.0

  private val n = FLAT / (2.0 - FLAT)
  private val n2 = n * n
  private val n3 = n2 * n
  private val n4 = n2 * n2
  private val n5 = n4 * n
  private val n6 = n4 * n2
  /** Rectifying radius. */
  val RectA: Double =
    A_AXIS / (1.0 + n) * (1.0 + n2 / 4.0 + n4 / 64.0 + n6 / 256.0)
  private val ecc = math.sqrt(FLAT * (2.0 - FLAT))

  /** Krüger forward coefficients α₁..α₆ (Karney 2011, eq. 35). */
  val alpha: Array[Double] = Array(
    n / 2.0 - 2.0 * n2 / 3.0 + 5.0 * n3 / 16.0 + 41.0 * n4 / 180.0 -
      127.0 * n5 / 288.0 + 7891.0 * n6 / 37800.0,
    13.0 * n2 / 48.0 - 3.0 * n3 / 5.0 + 557.0 * n4 / 1440.0 +
      281.0 * n5 / 630.0 - 1983433.0 * n6 / 1935360.0,
    61.0 * n3 / 240.0 - 103.0 * n4 / 140.0 + 15061.0 * n5 / 26880.0 +
      167603.0 * n6 / 181440.0,
    49561.0 * n4 / 161280.0 - 179.0 * n5 / 168.0 + 6601661.0 * n6 / 7257600.0,
    34729.0 * n5 / 80640.0 - 3418889.0 * n6 / 1995840.0,
    212378941.0 * n6 / 319334400.0)

  /** Krüger inverse coefficients β₁..β₆ (Karney 2011, eq. 36). */
  val beta: Array[Double] = Array(
    n / 2.0 - 2.0 * n2 / 3.0 + 37.0 * n3 / 96.0 - n4 / 360.0 -
      81.0 * n5 / 512.0 + 96199.0 * n6 / 604800.0,
    n2 / 48.0 + n3 / 15.0 - 437.0 * n4 / 1440.0 + 46.0 * n5 / 105.0 -
      1118711.0 * n6 / 3870720.0,
    17.0 * n3 / 480.0 - 37.0 * n4 / 840.0 - 209.0 * n5 / 4480.0 +
      5569.0 * n6 / 90720.0,
    4397.0 * n4 / 161280.0 - 11.0 * n5 / 504.0 - 830251.0 * n6 / 7257600.0,
    4583.0 * n5 / 161280.0 - 108847.0 * n6 / 3991680.0,
    20648693.0 * n6 / 638668800.0)

  /** Conformal→geodetic latitude series c₁..c₆ (φ = χ + Σ cⱼ sin 2jχ). */
  val chiToPhi: Array[Double] = Array(
    2.0 * n - 2.0 * n2 / 3.0 - 2.0 * n3 + 116.0 * n4 / 45.0 +
      26.0 * n5 / 45.0 - 2854.0 * n6 / 675.0,
    7.0 * n2 / 3.0 - 8.0 * n3 / 5.0 - 227.0 * n4 / 45.0 +
      2704.0 * n5 / 315.0 + 2323.0 * n6 / 945.0,
    56.0 * n3 / 15.0 - 136.0 * n4 / 35.0 - 1262.0 * n5 / 105.0 +
      73814.0 * n6 / 2835.0,
    4279.0 * n4 / 630.0 - 332.0 * n5 / 35.0 - 399572.0 * n6 / 14175.0,
    4174.0 * n5 / 315.0 - 144838.0 * n6 / 6237.0,
    601676.0 * n6 / 22275.0)

  /** UTM zone (1–60) of a longitude: floor((lon+180)/6)+1, clamped. */
  def zone(lonDeg: Double): Int =
    math.min(60, math.max(1, (math.floor((lonDeg + 180.0) / 6.0) + 1).toInt))

  /** UTM central meridian (degrees) for a longitude. */
  def centralMeridian(lonDeg: Double): Double = (zone(lonDeg) - 1) * 6.0 - 180.0 + 3.0

  /** Scalar forward: (latDeg, lonDeg) → (easting, northing) for the zone
    * with central meridian `lon0Deg`; northing is the northern-hemisphere
    * convention (negative south of the equator unless the caller adds the
    * 10,000,000 m southern false northing). */
  def forward(latDeg: Double, lonDeg: Double, lon0Deg: Double): (Double, Double) = {
    val phi = math.toRadians(latDeg)
    val dLam = math.toRadians(lonDeg - lon0Deg)
    val sinPhi = math.sin(phi)
    val t = math.sinh(atanh(sinPhi) - ecc * atanh(ecc * sinPhi))
    val xiP = math.atan2(t + 0.0, math.cos(dLam) + 0.0)
    val etaP = asinh(math.sin(dLam) / math.sqrt(t * t + math.cos(dLam) * math.cos(dLam)))
    var xi = xiP
    var eta = etaP
    for (j <- 1 to 6) {
      xi += alpha(j - 1) * math.sin(2.0 * j * xiP) * math.cosh(2.0 * j * etaP)
      eta += alpha(j - 1) * math.cos(2.0 * j * xiP) * math.sinh(2.0 * j * etaP)
    }
    (E0 + K0 * RectA * eta, K0 * RectA * xi)
  }

  /** Scalar inverse of [[forward]]. */
  def inverse(easting: Double, northing: Double, lon0Deg: Double): (Double, Double) = {
    val xi = northing / (K0 * RectA)
    val eta = (easting - E0) / (K0 * RectA)
    var xiP = xi
    var etaP = eta
    for (j <- 1 to 6) {
      xiP -= beta(j - 1) * math.sin(2.0 * j * xi) * math.cosh(2.0 * j * eta)
      etaP -= beta(j - 1) * math.cos(2.0 * j * xi) * math.sinh(2.0 * j * eta)
    }
    val dLam = math.atan2(math.sinh(etaP) + 0.0, math.cos(xiP) + 0.0)
    val chi = math.atan2(math.sin(xiP) + 0.0,
      math.sqrt(math.sinh(etaP) * math.sinh(etaP) + math.cos(xiP) * math.cos(xiP)) + 0.0)
    var phi = chi
    for (j <- 1 to 6) phi += chiToPhi(j - 1) * math.sin(2.0 * j * chi)
    (math.toDegrees(phi), lon0Deg + math.toDegrees(dLam))
  }

  private def atanh(x: Double): Double = 0.5 * StrictMath.log((1.0 + x) / (1.0 - x))
  private def asinh(x: Double): Double = StrictMath.log(x + math.sqrt(x * x + 1.0))

  /** (lat, lon, lon0) → (easting, northing, lon0): [[forward]] as a step. */
  case object Forward extends Step {
    def apply(v: Array[Double], epoch: Double): Unit = {
      val (e, n) = forward(v(0), v(1), v(2)); v(0) = e; v(1) = n
    }
  }

  /** (easting, northing, lon0) → (lat, lon, lon0): [[inverse]] as a step. */
  case object Inverse extends Step {
    def apply(v: Array[Double], epoch: Double): Unit = {
      val (lat, lon) = inverse(v(0), v(1), v(2)); v(0) = lat; v(1) = lon
    }
  }

  /** Column [[forward]], one [[DatumShift]] node per output. `lon0Deg`
    * may itself be a Column (per-row zones). Returns (easting, northing). */
  def forwardCols(latDeg: Column, lonDeg: Column, lon0Deg: Column): (Column, Column) = {
    val (e, n, _) = DatumShift.chain(Seq(latDeg, lonDeg, lon0Deg), Forward)
    (e, n)
  }

  /** Column [[inverse]]. Returns (latDeg, lonDeg). */
  def inverseCols(easting: Column, northing: Column, lon0Deg: Column): (Column, Column) = {
    val (lat, lon, _) = DatumShift.chain(Seq(easting, northing, lon0Deg), Inverse)
    (lat, lon)
  }

  /** Per-row UTM zone central meridian as a Column (degrees). */
  def centralMeridianCol(lonDeg: Column): Column = {
    val zone = least(lit(60.0), greatest(lit(1.0),
      floor((lonDeg + lit(180.0)) / lit(6.0)) + lit(1.0)))
    (zone - lit(1.0)) * lit(6.0) - lit(180.0) + lit(3.0)
  }
}
