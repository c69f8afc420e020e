package graft.raster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One halo-replicated pixel routed to tile (tc, tr). */
private[raster] case class TilePx(tc: Int, tr: Int, col: Int, row: Int, value: Double)

/** HALO-TILE physical strategy for 2-D gap-fill (`fill_no_data`,
  * differencing_functions.py:587–661) — same semantics as
  * [[Terrain.gapfillIdw]], different execution shape.
  *
  * The offset-explode form multiplies EVERY valid pixel by (2R+1)²−1
  * before the shuffle; fine for R=3, hopeless for a wide search radius at
  * 100 TB. Here each valid pixel is routed by [[HaloTile.route]] to its
  * home `tile`×`tile` tile plus any neighbor tile whose R-halo contains it
  * (only border pixels replicate), and a per-tile imperative kernel fills the
  * tile's missing cells from a dense local array. One shuffle on tile keys;
  * every task touches (tile+2R)² cells; tiles scale out embarrassingly.
  * This is the `mapPartitions`-kernel shape reserved for genuinely
  * per-partition imperative logic (the stencil radius search).
  *
  * Arithmetic is the same INTEGER-EXACT form as the join variant (value
  * quantized to 1e-6, weights L/d² with L = lcm of reachable d²), so the
  * result is bit-identical to [[Terrain.gapfillIdw]] and to the DuckDB
  * oracle regardless of traversal order.
  */
object TiledGapfill {

  /** IDW gap-fill of the `w`×`w` grid's missing cells within Chebyshev
    * radius `maxDist`, executed tile-wise with an R-halo. Requires
    * `maxDist <= tile` (checked by [[HaloTile.route]]). */
  def gapfillIdwTiled(px: DataFrame, w: Int, maxDist: Int, tile: Int): DataFrame = {
    val spark = px.sparkSession
    import spark.implicits._
    val T = tile
    val R = maxDist
    val nt = (w + T - 1) / T
    val L = Terrain.lcmScale(R)

    val tagged = HaloTile.route(px.select("col", "row", "value"), col("col"), col("row"), T, R)
      .filter(col("tc") >= 0 && col("tc") < nt && col("tr") >= 0 && col("tr") < nt)
      .select(col("tc"), col("tr"), col("col").cast("int"), col("row").cast("int"),
        col("value").cast("double"))
      .as[TilePx]

    tagged.groupByKey(p => (p.tc, p.tr)).flatMapGroups {
      (key: (Int, Int), it: Iterator[TilePx]) =>
        val (tc, tr) = key
        // dense local raster over the halo-extended tile box (grid-clipped)
        val c0 = math.max(tc * T - R, 0); val c1 = math.min((tc + 1) * T - 1 + R, w - 1)
        val r0 = math.max(tr * T - R, 0); val r1 = math.min((tr + 1) * T - 1 + R, w - 1)
        val wExt = c1 - c0 + 1
        val vals = new Array[Double](wExt * (r1 - r0 + 1))
        val has = new Array[Boolean](vals.length)
        it.foreach { p =>
          val i = (p.row - r0) * wExt + (p.col - c0)
          vals(i) = p.value
          has(i) = true
        }
        val hc1 = math.min((tc + 1) * T - 1, w - 1)
        val hr1 = math.min((tr + 1) * T - 1, w - 1)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)]
        var r = tr * T
        while (r <= hr1) {
          var c = tc * T
          while (c <= hc1) {
            if (!has((r - r0) * wExt + (c - c0))) {
              var sumVW = 0.0
              var sumW = 0.0
              var dr = -R
              while (dr <= R) {
                var dc = -R
                while (dc <= R) {
                  if (dr != 0 || dc != 0) {
                    val nc = c + dc; val nr = r + dr
                    if (nc >= c0 && nc <= c1 && nr >= r0 && nr <= r1) {
                      val ni = (nr - r0) * wExt + (nc - c0)
                      if (has(ni)) {
                        val wi = (L / (dc * dc + dr * dr)).toDouble
                        sumVW += math.floor(vals(ni) * 1e6 + 0.5) * wi
                        sumW += wi
                      }
                    }
                  }
                  dc += 1
                }
                dr += 1
              }
              if (sumW > 0)
                out += ((c, r, math.floor(sumVW / (sumW * 1e6) * 1e6 + 0.5) / 1e6))
            }
            c += 1
          }
          r += 1
        }
        out.iterator
    }.toDF("col", "row", "filled")
  }
}
