package graft.raster

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.types.{DataType, LongType}

/** Physical layout for pixel tables at scale (SURVEY.md §4 "Physical
  * layout decisions"): write rasters as bucketed+sorted tables on the
  * join key `(col, row)` so raster-vs-raster operations (differencing,
  * masking, overlap) plan WITHOUT a shuffle — both sides arrive
  * co-partitioned and sorted, and SortMergeJoin consumes them directly.
  *
  * At 100 TB this is the difference between re-shuffling the full raster
  * per pairwise operation and reading it join-ready: the expensive
  * exchange happens once at ingest. Bucket count scales with data volume
  * (buckets ≈ bytes / 128 MB); the same layout serves every downstream
  * grid op because they all key on (col, row).
  */
object Layout {

  /** Save a pixel table bucketed+sorted by (col, row). */
  def saveBucketed(px: DataFrame, table: String, buckets: Int = 8): Unit =
    px.write.mode("overwrite")
      .bucketBy(buckets, "col", "row")
      .sortBy("col", "row")
      .format("parquet")
      .saveAsTable(table)

  def load(spark: SparkSession, table: String): DataFrame = spark.table(table)

  /** Save partition-pruned + run-sorted + size-capped parquet: the
    * directory layout for an append-only 100-TB fact table. `partCol`
    * values become directories (partition pruning at the scan),
    * `sortCols` order rows inside every file (rowgroup min/max stats
    * make point/range reads skip pages), and `maxRecordsPerFile` caps
    * file size so compaction and task planning stay uniform. The
    * repartition on `partCol` gives one task per partition value —
    * without it every task writes every partition directory (tiny-file
    * explosion, the classic at-scale mistake this helper exists to
    * avoid). */
  def saveSorted(px: DataFrame, path: String, partCol: String,
      sortCols: Seq[String], maxRecordsPerFile: Long): Unit =
    px.repartition(org.apache.spark.sql.functions.col(partCol))
      .sortWithinPartitions(partCol +: sortCols map
        org.apache.spark.sql.functions.col: _*)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partCol)
      .parquet(path)

  /** True if the physical plan of `df` contains a shuffle exchange. */
  def hasShuffle(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning")

  /** Morton (Z-order) interleave of two non-negative 32-bit grid keys
    * into one 64-bit locality key — the standard bit-spread (each input
    * doubled in width through five mask-and-shift rounds, then the two
    * spreads interleaved), compiled as one [[ZOrder]] expression so the
    * key is whole-stage-codegen'd at the scan. Only the low 32 bits of
    * each (long-cast) key take part.
    *
    * WHY at 100 TB: a raster sorted row-major prunes file/rowgroup
    * min-max stats on ONE axis only — a bbox crop on the other axis
    * intersects EVERY file. Z-ordering makes file extents compact
    * squares in (col, row) space, so a 2-D bbox prunes on both axes at
    * once (the same layout decision Delta/Iceberg expose as Z-ORDER
    * clustering; the bbox crop is the reference's hottest spatial
    * predicate, differencing_functions.py:787–790). */
  def zOrder(c: Column, r: Column): Column =
    toCol(ZOrder(toExpr(c.cast("long")), toExpr(r.cast("long"))))

  /** Reference Morton interleave for the spec's cross-check. */
  private[graft] def zOrderRef(c: Int, r: Int): Long = {
    def spread(v: Long): Long = {
      var x = v & 0xFFFFFFFFL
      x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
      x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
      x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
      x = (x | (x << 2)) & 0x3333333333333333L
      x = (x | (x << 1)) & 0x5555555555555555L
      x
    }
    spread(c.toLong) | (spread(r.toLong) << 1)
  }

  /** Save a pixel table Z-ORDER clustered: range-partition on the Morton
    * key (one file per contiguous z-range → each file covers a compact
    * 2-D square, not a full-width stripe), sort within files so rowgroup
    * min-max stats prune inside files too. The z key is a derived write
    * order, not a schema change — it is dropped before writing. */
  def saveZOrdered(px: DataFrame, path: String, nFiles: Int = 16): Unit = {
    val keyed = px.withColumn("__z", zOrder(col("col"), col("row")))
    keyed.repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}

/** [[Layout.zOrder]] as one Catalyst expression over two `long` keys.
  * `eval` is [[Layout.zOrderRef]]; `doGenCode` emits the five
  * mask-and-shift rounds on one local per key. Native because each
  * round reads its input twice: as Column arithmetic one spread is a 32×
  * copy of its input subtree in the generated code. */
case class ZOrder(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "z_order"

  override protected def nullSafeEval(c: Any, r: Any): Any =
    Layout.zOrderRef(c.asInstanceOf[Long].toInt, r.asInstanceOf[Long].toInt)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def spread(v: String): (String, String) = {
      val x = ctx.freshName("x")
      val rounds = Seq((16, "0x0000FFFF0000FFFFL"), (8, "0x00FF00FF00FF00FFL"),
        (4, "0x0F0F0F0F0F0F0F0FL"), (2, "0x3333333333333333L"),
        (1, "0x5555555555555555L"))
        .map { case (sh, mask) => s"$x = ($x | ($x << $sh)) & $mask;" }
      ((s"long $x = $v & 0xFFFFFFFFL;" +: rounds).mkString("\n"), x)
    }
    nullSafeCodeGen(ctx, ev, (c, r) => {
      val (cCode, cx) = spread(c)
      val (rCode, rx) = spread(r)
      s"""
        $cCode
        $rCode
        ${ev.value} = $cx | ($rx << 1);
      """
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
