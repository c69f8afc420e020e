package graft.geo

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

/** CRS / vertical-datum naming (SURVEY.md §2.2 reprojection row, §7.5):
  * geoid-model key normalization + lookup, exactly the shape of the
  * reference's `_GEOID_MAP` dispatch (differencing_functions.py:2143–2237),
  * compound-CRS strings and the UTM EPSG code of a centroid. This object
  * only names CRSs; the coordinate math the reference delegates to PROJ
  * lives in [[Proj]] (UTM) and [[Datum]]/[[DatumShift]] (Helmert shifts).
  */
object Crs {

  /** Geoid model key → canonical grid name (reference `_GEOID_MAP`
    * normalization: lowercase, punctuation stripped, :2218–2237). */
  val geoidMap: Map[String, String] = Map(
    "geoid12a" -> "us_noaa_g2012ba0.tif",
    "geoid12b" -> "us_noaa_g2012ba0.tif",
    "geoid18" -> "us_noaa_g2018u0.tif",
    "geoid99" -> "us_noaa_g1999u01.tif",
    "geoid03" -> "us_noaa_geoid03_conus.tif",
    "geoid06" -> "us_noaa_geoid06_ak.tif",
    "geoid09" -> "us_noaa_geoid09_conus.tif",
    "egm96" -> "us_nga_egm96_15.tif",
    "egm2008" -> "us_nga_egm08_25.tif")

  def normalizeGeoidKey(raw: String): String =
    raw.toLowerCase.replaceAll("[^a-z0-9]", "")

  def lookupGeoid(raw: String): Option[String] =
    geoidMap.get(normalizeGeoidKey(raw))

  /** Broadcast form for executor-side closures over catalog tables. */
  def broadcastGeoids(spark: SparkSession): Broadcast[Map[String, String]] =
    spark.sparkContext.broadcast(geoidMap)

  /** Compound CRS naming with the frame epoch appended as PROJ `+epoch=`
    * decimal year (differencing_functions.py:1901–1927). */
  def compoundCrs(horizontalEpsg: String, verticalEpsg: Option[String],
                  epochDecimalYear: Option[Double]): String = {
    val base = verticalEpsg match {
      case Some(v) => s"EPSG:$horizontalEpsg+$v"
      case None => s"EPSG:$horizontalEpsg"
    }
    epochDecimalYear match {
      case Some(e) => f"$base @$e%.3f"
      case None => base
    }
  }

  /** UTM zone from a lon/lat centroid (differencing_functions.py:
    * 1614–1622): zone = floor((lon+180)/6)+1, EPSG 326xx north / 327xx
    * south. */
  def utmEpsgFor(lon: Double, lat: Double): String = {
    val zone = Proj.zone(lon)
    if (lat >= 0) f"326$zone%02d" else f"327$zone%02d"
  }
}
