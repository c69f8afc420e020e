package graft.raster

import graft.functions.CacheRegistry.Shareable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Canon.round
import graft.Tables
import graft.rng.Rand

/** Grid metadata sidecar — mirrors the reference's raster profile
  * (affine geotransform + CRS + nodata, differencing_functions.py:50–146).
  * Cell-center coords: x = originX + (col+0.5)·dx, y = originY − (row+0.5)·dy.
  */
case class GridMeta(
    originX: Double = 0.0,
    originY: Double = 0.0,
    dx: Double = 1.0,
    dy: Double = 1.0,
    width: Int = 128,
    height: Int = 128,
    crs: String = "EPSG:32611",
    nodata: Double = -9999.0) {
  require(width > 0 && height > 0, s"grid size ${width}x$height must be positive")
}

/** The engine's raster data model: a *pixel table*
  * `DataFrame[col:int, row:int, value:double]` holding only VALID pixels
  * (nodata normalized to row absence, mirroring `arr[valid]` at
  * variography_uncertainty.py:110–114). A dense 100-TB raster is just a big
  * pixel table partitioned by coarse (col,row) blocks; every op below is a
  * join/agg on those keys, so co-partitioned layouts make them shuffle-free.
  *
  * For the oracle gate the test grids are derived deterministically from
  * `lineitem` — each (orderkey,linenumber) record lands on a hashed cell of a
  * 128×128 grid; the cell value is the mean extendedprice/1000 of its
  * records. Odd/even linenumbers form two overlapping-but-different rasters
  * (holes where no record landed), exactly the aligned-pair-with-nodata
  * shape of the reference (`RasterPair._align`, differencing_functions.py:
  * 168–188). The identical derivation is emitted as DuckDB SQL.
  */
object PixelGrid {
  val W = 128
  val N = W.toLong * W

  /** Hashed cell key for one lineitem record. */
  private def recKey: Column = col("l_orderkey") * 8 + col("l_linenumber")

  /** side 0 = raster A (even linenumber), 1 = raster B (odd).
    * Cell position comes from HIGH bits of the hash (`h/128`, `h/16384`):
    * a mod-2^31 LCG's low bit is parity-locked to the key, and the key's
    * parity equals the linenumber's — low-bit addressing would make the
    * two rasters land on disjoint cells. */
  def grid(spark: SparkSession, dir: String, side: Int): DataFrame = {
    val h = Rand.mix(recKey, 7)
    Tables.lineitem(spark, dir)
      .filter(col("l_linenumber") % 2 === side)
      .select(
        ((h / 128).cast("long") % W).cast("int").as("col"),
        ((h / 16384).cast("long") % W).cast("int").as("row"),
        // prices carry two decimals: sum exact integer CENTS so the
        // cell mean is ONE division of identical operands in any
        // engine and any order — avg(double) is an order-dependent
        // float sum whose ulp noise lands the canonical 6-dp round on
        // boundary cells once enough records share a cell (first seen
        // at sf1's ~180 records/cell: ~1% of cells flipped between
        // Spark's and DuckDB's summation order)
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
      .groupBy("col", "row")
      .agg(round(sum("cents").cast("double") /
        (count(lit(1)) * 100000L).cast("double"), 6).as("value"))
      // persist: (1) downstream predicates on col/row/x/y otherwise get
      // PUSHED BELOW this aggregate by substituting the grouping
      // expressions — re-evaluating the (deep) hash tree per input row
      // with no cross-conjunct CSE; against the cache they evaluate on
      // materialized columns. (2) identical grid plans across queries in
      // one session share the cache entry (CacheManager canonical match),
      // exactly how a shared 100-TB base table would be staged.
      .persistShared()
  }

  /** DuckDB CTE body equivalent to [[grid]] (same exact-cents mean). */
  def gridSql(side: Int): String = {
    val h = Rand.mixSql("l_orderkey*8 + l_linenumber", 7)
    s"""SELECT CAST((($h) // 128) % $W AS INT) AS col,
       CAST((($h) // 16384) % $W AS INT) AS "row",
       round(CAST(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS DOUBLE)
             / CAST(count(*) * 100000 AS DOUBLE), 6) AS value
       FROM lineitem WHERE l_linenumber % 2 = $side GROUP BY 1, 2"""
  }

  def withXY(px: DataFrame, meta: GridMeta = GridMeta()): DataFrame =
    px.withColumn("x", lit(meta.originX) + (col("col") + 0.5) * meta.dx)
      .withColumn("y", lit(meta.originY) + (col("row") + 0.5) * meta.dy)

  def xySql: String = "(col + 0.5) AS x, (\"row\" + 0.5) AS y"

  // ------------------------------------------------------------------
  // Core raster ops (SURVEY.md §2.3) — generic over any pixel tables.
  // ------------------------------------------------------------------

  /** Grid-aligned differencing: Δz = b − a, inner join reproduces the
    * reference's NaN propagation (missing on either side ⇒ no output row;
    * `difference_da`, differencing_functions.py:2473–2475). On co-partitioned
    * pixel tables this is a shuffle-free zipped join.
    */
  def difference(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b.withColumnRenamed("value", "vb"), Seq("col", "row"), "inner")
      .select(col("col"), col("row"), round(col("vb") - col("value"), 6).as("dz"))

  /** Combined nodata mask: cell masked iff missing on either side
    * (`combined_mask`, differencing_functions.py:2498–2552) — full-outer. */
  def combinedMask(a: DataFrame, b: DataFrame): DataFrame = {
    val aa = a.withColumnRenamed("value", "va")
    val bb = b.withColumnRenamed("value", "vb")
    aa.join(bb, Seq("col", "row"), "full_outer")
      .select(col("col"), col("row"),
        (col("va").isNull || col("vb").isNull).as("masked"))
  }

  /** Valid-overlap intersection of two rasters (INTERSECT semantics;
    * `_get_raster_overlap_poly`, differencing_functions.py:2024–2047). */
  def overlap(a: DataFrame, b: DataFrame): DataFrame =
    a.select("col", "row").join(b.select("col", "row"), Seq("col", "row"), "inner")

  /** Bilinear regrid of a source pixel table onto a coarser/offset target
    * grid (`reproject_match`, differencing_functions.py:111, 2102–2106).
    * Target cell center maps to a fractional source index; the ≤4 neighbor
    * source pixels are gathered by an equi-join after floor/ceil
    * quantization (SURVEY.md §2.3) — an equi-join, never a theta join, so it
    * scales as a normal co-partitioned join. Cells with any contributing
    * neighbor produce a weighted value over the present neighbors
    * (weights renormalized, matching GDAL's treatment of nodata neighbors).
    *
    * Here target = `factor`× coarser grid with same origin: target cell
    * (tc,tr) center in source fractional index space:
    * fx = (tc+0.5)*factor − 0.5.
    */
  def regridBilinear(src: DataFrame, factor: Int, targetW: Int): DataFrame = {
    val spark = src.sparkSession
    // the 4 (corner) contributions per target cell, via explode of 2×2
    val tgt = spark.range(targetW.toLong * targetW)
      .select((col("id") % targetW).cast("int").as("tc"),
              (col("id") / targetW).cast("int").as("tr"))
      .withColumn("fx", (col("tc") + 0.5) * factor - 0.5)
      .withColumn("fy", (col("tr") + 0.5) * factor - 0.5)
      .withColumn("dx", explode(array(lit(0), lit(1))))
      .withColumn("dy", explode(array(lit(0), lit(1))))
      .withColumn("scol", (floor(col("fx")) + col("dx")).cast("int"))
      .withColumn("srow", (floor(col("fy")) + col("dy")).cast("int"))
      .withColumn("w",
        (lit(1.0) - abs(col("fx") - col("scol"))) *
        (lit(1.0) - abs(col("fy") - col("srow"))))
    // pivot the ≤4 corners into columns so the weighted sum is evaluated in
    // one FIXED expression order — a plain sum() would accumulate in
    // engine-dependent row order and flip the canonical rounding at exact
    // decimal midpoints
    def cw(x: Int, y: Int) = (
      max(when(col("dx") === x && col("dy") === y, col("w") * col("value"))).as(s"c$x$y"),
      max(when(col("dx") === x && col("dy") === y, col("w"))).as(s"w$x$y"))
    val joined = tgt
      .join(src.withColumnRenamed("col", "scol").withColumnRenamed("row", "srow"),
        Seq("scol", "srow"), "inner")
    val piv = joined.groupBy(col("tc").as("col"), col("tr").as("row"))
      .agg(cw(0, 0)._1, cw(0, 0)._2, cw(0, 1)._1, cw(0, 1)._2,
           cw(1, 0)._1, cw(1, 0)._2, cw(1, 1)._1, cw(1, 1)._2)
    def z(c: String) = coalesce(col(c), lit(0.0))
    piv.select(col("col"), col("row"),
      round((z("c00") + z("c01") + z("c10") + z("c11")) /
            (z("w00") + z("w01") + z("w10") + z("w11")), 6).as("value"))
  }

  def regridBilinearSql(srcCte: String, factor: Int, targetW: Int): String = {
    def cw(x: Int, y: Int) =
      s"""max(CASE WHEN dx = $x AND dy = $y THEN w * value END) AS c$x$y,
          max(CASE WHEN dx = $x AND dy = $y THEN w END) AS w$x$y"""
    s"""WITH src AS ($srcCte),
    tgt AS (
      SELECT CAST(i % $targetW AS INT) AS tc, CAST(i // $targetW AS INT) AS tr,
             (CAST(i % $targetW AS INT) + 0.5) * $factor - 0.5 AS fx,
             (CAST(i // $targetW AS INT) + 0.5) * $factor - 0.5 AS fy
      FROM (SELECT unnest(range(${targetW.toLong * targetW})) AS i)),
    corners AS (
      SELECT tc, tr, dx, dy,
             CAST(floor(fx) + dx AS INT) AS scol, CAST(floor(fy) + dy AS INT) AS srow,
             (1.0 - abs(fx - (floor(fx) + dx))) * (1.0 - abs(fy - (floor(fy) + dy))) AS w
      FROM tgt, (SELECT unnest([0,1]) AS dx), (SELECT unnest([0,1]) AS dy)),
    piv AS (
      SELECT tc AS col, tr AS "row",
             ${cw(0, 0)}, ${cw(0, 1)}, ${cw(1, 0)}, ${cw(1, 1)}
      FROM corners JOIN src ON src.col = corners.scol AND src."row" = corners.srow
      GROUP BY 1, 2)
    SELECT col, "row",
           round((coalesce(c00, 0.0) + coalesce(c01, 0.0) + coalesce(c10, 0.0) + coalesce(c11, 0.0)) /
                 (coalesce(w00, 0.0) + coalesce(w01, 0.0) + coalesce(w10, 0.0) + coalesce(w11, 0.0)), 6) AS value
    FROM piv"""
  }
}
