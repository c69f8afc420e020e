package graft.geo

import org.apache.spark.sql.Column
import DatumShift.chain

/** Geodetic datum transformation math — the engine analog of the
  * reference's epoch-aware BOUNDCRS / PROJ datum path
  * (differencing_functions.py:2066–2093), which SURVEY §2.2 left a
  * pass-through concern until round 8. No UDFs, no native PROJ: the
  * classic geodesy chain (all public formulae)
  *
  *   geodetic → geocentric (ellipsoid closed form)
  *   7-parameter Helmert, position-vector convention (EPSG method 1033)
  *   geocentric → geodetic (Bowring 1976 non-iterative inverse)
  *
  * Each step is written once, as a scalar function on doubles
  * ([[Step]]), and a chain of steps runs as native [[DatumShift]]
  * Catalyst nodes, one per output coordinate, inside whole-stage codegen.
  *
  * Like the UTM gate, the oracle for the full transform is a PINNED
  * artifact computed by an independent numpy-longdouble evaluation
  * (tools/gen_helmert_expected.py) — a foreign engine cannot hash-match
  * a transcendental chain at the ulp level, and the canonical rounding
  * of both sides agrees unless the engine drifts beyond its ~1e-9
  * accuracy budget (DatumSpec pins round trips and magnitudes). The
  * steps keep the operation order of the Column form the artifacts were
  * gated against, including Spark's `atan2(y + 0.0, x + 0.0)`.
  */
object Datum {

  /** (semi-major axis a [m], inverse flattening 1/f). */
  type Ellipsoid = (Double, Double)
  val Wgs84: Ellipsoid = (6378137.0, 298.257223563)
  val Grs80: Ellipsoid = (6378137.0, 298.257222101)
  val Airy1830: Ellipsoid = (6377563.396, 299.3249646)
  val Intl1924: Ellipsoid = (6378388.0, 297.0)

  private val Sec2Rad = math.Pi / (180.0 * 3600.0)

  /** 7 Helmert parameters: translations [m], rotations [arc-sec],
    * scale [ppm] — position-vector sign convention. */
  final case class Helmert(tx: Double, ty: Double, tz: Double,
                           rxSec: Double, rySec: Double, rzSec: Double,
                           sPpm: Double) {
    def inverse: Helmert = Helmert(-tx, -ty, -tz, -rxSec, -rySec, -rzSec, -sPpm)
  }

  /** The published OSGB36 → WGS84 set (OSGN guidance note 7; the
    * textbook full-7-parameter example). */
  val Osgb36ToWgs84: Helmert =
    Helmert(446.448, -125.157, 542.060, 0.1502, 0.2470, 0.8421, -20.4894)

  /** 14-parameter TIME-DEPENDENT Helmert (EPSG method 1053,
    * "time-dependent position vector"): the 7 parameters at `refEpoch`
    * plus their per-year rates. This is the reference's epoch-aware
    * BOUNDCRS path (`+epoch=` decimal years / FRAME_EPOCH,
    * differencing_functions.py:1901–1927, 2066–2093) — what ties two
    * surveys observed in a dynamic frame (ITRF) to a plate-fixed datum
    * at their own observation epochs. Rates: translations [m/yr],
    * rotations [arc-sec/yr], scale [ppm/yr]. */
  final case class Helmert14(tx: Double, ty: Double, tz: Double,
                             rxSec: Double, rySec: Double, rzSec: Double,
                             sPpm: Double,
                             dtx: Double, dty: Double, dtz: Double,
                             drxSec: Double, drySec: Double, drzSec: Double,
                             dsPpm: Double, refEpoch: Double) {
    def inverse: Helmert14 = Helmert14(-tx, -ty, -tz, -rxSec, -rySec, -rzSec,
      -sPpm, -dtx, -dty, -dtz, -drxSec, -drySec, -drzSec, -dsPpm, refEpoch)
    /** Materialize the 7 parameters at a SCALAR epoch (decimal years). */
    def at(epoch: Double): Helmert = {
      val dt = epoch - refEpoch
      Helmert(tx + dtx * dt, ty + dty * dt, tz + dtz * dt,
        rxSec + drxSec * dt, rySec + drySec * dt, rzSec + drzSec * dt,
        sPpm + dsPpm * dt)
    }
  }

  /** The EPSG-published ITRF2014 → GDA2020 time-dependent position-
    * vector set (EPSG:8048; GDA2020 Technical Manual): all seven
    * parameters zero at epoch 2020.0, rotation rates = the Australian
    * plate motion. The canonical published example of method 1053. */
  val Itrf2014ToGda2020: Helmert14 = Helmert14(
    0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
    0.0, 0.0, 0.0, 1.50379e-3, 1.18346e-3, 1.20716e-3, 0.0, 2020.0)

  /** Geodetic (degrees, metres) → geocentric XYZ on `ell`. */
  final case class Geocentric(ell: Ellipsoid) extends Step {
    private val (a, invF) = ell
    private val e2 = { val f = 1.0 / invF; f * (2.0 - f) }
    def apply(v: Array[Double], epoch: Double): Unit = {
      val phi = math.toRadians(v(0))
      val lam = math.toRadians(v(1))
      val h = v(2)
      val sinp = math.sin(phi)
      val cosp = math.cos(phi)
      val nu = a / math.sqrt(1.0 - e2 * sinp * sinp)
      v(0) = (nu + h) * cosp * math.cos(lam)
      v(1) = (nu + h) * cosp * math.sin(lam)
      v(2) = (nu * (1.0 - e2) + h) * sinp
    }
  }

  /** Position-vector Helmert on geocentric coordinates:
    * X' = T + s·(I + R)·X with s = 1 + ppm·1e-6 and the small-angle
    * rotation matrix [[1, −rz, ry], [rz, 1, −rx], [−ry, rx, 1]]
    * (rotations in radians). */
  private def helmert(v: Array[Double], tx: Double, ty: Double, tz: Double,
                      rx: Double, ry: Double, rz: Double, s: Double): Unit = {
    val x = v(0); val y = v(1); val z = v(2)
    v(0) = tx + s * (x - rz * y + ry * z)
    v(1) = ty + s * (rz * x + y - rx * z)
    v(2) = tz + s * (-ry * x + rx * y + z)
  }

  /** The 7-parameter Helmert `p`. */
  final case class Shift7(p: Helmert) extends Step {
    private val rx = p.rxSec * Sec2Rad
    private val ry = p.rySec * Sec2Rad
    private val rz = p.rzSec * Sec2Rad
    private val s = 1.0 + p.sPpm * 1e-6
    def apply(v: Array[Double], epoch: Double): Unit =
      helmert(v, p.tx, p.ty, p.tz, rx, ry, rz, s)
  }

  /** The 14-parameter Helmert `p` materialized at the row's epoch:
    * p0 + rate·Δt, Δt = epoch − refEpoch, rotations as (rate·Δt)·sec2rad.
    * NOTE: the pinned-artifact generator multiplies (rate·sec2rad)·Δt —
    * the match at the artifact's 8-dp rounding rests on the generator's
    * longdouble headroom absorbing f64 reorder differences (the same
    * tolerance argument as the helmert_expected pattern), not on
    * verbatim op-order mirroring. */
  final case class Shift14(p: Helmert14) extends Step {
    def apply(v: Array[Double], epoch: Double): Unit = {
      val dt = epoch - p.refEpoch
      helmert(v, p.tx + p.dtx * dt, p.ty + p.dty * dt, p.tz + p.dtz * dt,
        (p.rxSec + p.drxSec * dt) * Sec2Rad,
        (p.rySec + p.drySec * dt) * Sec2Rad,
        (p.rzSec + p.drzSec * dt) * Sec2Rad,
        1.0 + (p.sPpm + p.dsPpm * dt) * 1e-6)
    }
  }

  /** Geocentric XYZ → geodetic (degrees, metres) on `ell` via Bowring's
    * non-iterative inverse (1976) — sub-µm for |h| < 10 km. `atan2`
    * adds 0.0 to both arguments, as Spark's does, so −0.0 reads as 0.0. */
  final case class Geodetic(ell: Ellipsoid) extends Step {
    private val (a, invF) = ell
    private val f = 1.0 / invF
    private val e2 = f * (2.0 - f)
    private val b = a * (1.0 - f)
    private val ep2b = e2 / (1.0 - e2) * b
    private val e2a = e2 * a
    def apply(v: Array[Double], epoch: Double): Unit = {
      val x = v(0); val y = v(1); val z = v(2)
      val p = math.sqrt(x * x + y * y)
      val theta = math.atan2(z * a + 0.0, p * b + 0.0)
      val st = math.sin(theta)
      val ct = math.cos(theta)
      val phi = math.atan2(z + ep2b * st * st * st + 0.0,
        p - e2a * ct * ct * ct + 0.0)
      val sinp = math.sin(phi)
      val nu = a / math.sqrt(1.0 - e2 * sinp * sinp)
      v(0) = math.toDegrees(phi)
      v(1) = math.toDegrees(math.atan2(y + 0.0, x + 0.0))
      v(2) = p / math.cos(phi) - nu
    }
  }

  /** Geodetic (degrees, metres) → geocentric XYZ on `ell`. */
  def toGeocentric(lat: Column, lon: Column, h: Column,
                   ell: Ellipsoid): (Column, Column, Column) =
    chain(Seq(lat, lon, h), Geocentric(ell))

  /** Geocentric XYZ → geodetic (degrees, metres) on `ell`. */
  def toGeodetic(x: Column, y: Column, z: Column,
                 ell: Ellipsoid): (Column, Column, Column) =
    chain(Seq(x, y, z), Geodetic(ell))

  /** Full datum shift: geodetic on `src` ellipsoid → Helmert `p` →
    * geodetic on `dst` ellipsoid. */
  def transform(lat: Column, lon: Column, h: Column,
                src: Ellipsoid, p: Helmert, dst: Ellipsoid)
      : (Column, Column, Column) =
    chain(Seq(lat, lon, h), Geocentric(src), Shift7(p), Geodetic(dst))

  /** Full time-dependent datum shift with a PER-ROW epoch column:
    * geodetic on `src` → 14-parameter Helmert materialized at each
    * row's epoch → geodetic on `dst`. */
  def transform14(lat: Column, lon: Column, h: Column, epoch: Column,
                  src: Ellipsoid, p: Helmert14, dst: Ellipsoid)
      : (Column, Column, Column) =
    chain(Seq(lat, lon, h, epoch), Geocentric(src), Shift14(p), Geodetic(dst))
}
