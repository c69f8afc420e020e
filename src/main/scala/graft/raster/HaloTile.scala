package graft.raster

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Routing for the halo-tile kernels ([[TiledGapfill]], `ingest.Smrf`):
  * the grid is cut into `tile`×`tile` tiles, and a kernel that reads a
  * `halo`-cell neighbourhood runs per tile over a dense local array of the
  * tile plus its halo. Each row goes to its home tile and to each of the
  * ≤8 neighbour tiles whose halo holds its cell — only border rows
  * replicate, so the pre-shuffle blowup is 1 + O(halo/tile), not the
  * (2·halo+1)² of an offset-explode.
  */
object HaloTile {

  /** `df`'s columns behind the tile key `tc`, `tr`: one row under the home
    * tile of cell (`c`, `r`) and one under each neighbour tile whose
    * `halo`-cell margin contains that cell. Tile coordinates floor-divide,
    * so negative cells route correctly. Requires `halo <= tile`, so the
    * ±1 neighbour tiles cover every halo. */
  def route(df: DataFrame, c: Column, r: Column, tile: Int, halo: Int): DataFrame = {
    require(halo <= tile, s"halo $halo must not exceed tile size $tile")
    // tile offsets −1/0/+1 along one axis whose halo-extended span holds v
    def span(v: String, t: String) = explode(sequence(
      when(col(v) - col(t) * tile < halo, -1).otherwise(0),
      when((col(t) + 1) * tile - 1 - col(v) < halo, 1).otherwise(0)))
    df.withColumn("_hc", c).withColumn("_hr", r)
      .withColumn("_tc", floor(col("_hc") / tile).cast("int"))
      .withColumn("_tr", floor(col("_hr") / tile).cast("int"))
      .withColumn("_dc", span("_hc", "_tc"))
      .withColumn("_dr", span("_hr", "_tr"))
      .select(((col("_tc") + col("_dc")).as("tc") +: (col("_tr") + col("_dr")).as("tr") +:
        df.columns.toSeq.map(col)): _*)
  }
}
