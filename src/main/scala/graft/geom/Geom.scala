package graft.geom

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Point-in-polygon, the reference's spatial predicate
  * (shapely `prepared.contains`, variography_uncertainty.py:1015, 1030;
  * rasterize-then-mask, stable_unstable_areas.py:598–614).
  *
  * A native Catalyst `Expression` with `doGenCode`: the even–odd
  * ray-casting loop is emitted directly into the generated stage, so the
  * predicate runs inside whole-stage codegen with no boxing or UDF call
  * overhead per row — the preference order of SURVEY.md §2.11. Boundary
  * semantics: a point exactly on an edge is implementation-defined (the
  * engine's polygons are chosen off the data lattice, SURVEY.md §7.4
  * item 3).
  */
case class PointInPolygon(x: Expression, y: Expression, verts: Expression)
    extends TernaryExpression {
  override def first: Expression = x
  override def second: Expression = y
  override def third: Expression = verts
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "point_in_polygon"

  override def nullSafeEval(xv: Any, yv: Any, vs: Any): Any = {
    val arr = vs.asInstanceOf[ArrayData]
    val v = Array.tabulate(arr.numElements())(arr.getStruct(_, 2))
    Geom.inPolygon(xv.asInstanceOf[Double], yv.asInstanceOf[Double],
      v.map(_.getDouble(0)), v.map(_.getDouble(1)))
  }

  /** The loop of [[Geom.inPolygon]], emitted over the vertex array. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (px, py, arr) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val vi = ctx.freshName("vi")
      val vj = ctx.freshName("vj")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val xj = ctx.freshName("xj")
      val yj = ctx.freshName("yj")
      s"""
        final int $n = $arr.numElements();
        boolean ${ev.value}_acc = false;
        int $j = $n - 1;
        for (int $i = 0; $i < $n; $i++) {
          org.apache.spark.sql.catalyst.InternalRow $vi = $arr.getStruct($i, 2);
          org.apache.spark.sql.catalyst.InternalRow $vj = $arr.getStruct($j, 2);
          double $xi = $vi.getDouble(0); double $yi = $vi.getDouble(1);
          double $xj = $vj.getDouble(0); double $yj = $vj.getDouble(1);
          if ((($yi > $py) != ($yj > $py)) &&
              $px < ($xj - $xi) * ($py - $yi) / ($yj - $yi) + $xi) {
            ${ev.value}_acc = !${ev.value}_acc;
          }
          $j = $i;
        }
        ${ev.value} = ${ev.value}_acc;
      """
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

object Geom {
  import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}

  /** The even–odd ray-casting test, driver-side: one definition for
    * [[PointInPolygon]]'s `eval` and the engine's driver loops. Vertex i
    * is (xs(i), ys(i)); the ring closes implicitly. */
  def inPolygon(px: Double, py: Double, xs: Array[Double], ys: Array[Double]): Boolean = {
    var inside = false
    var j = xs.length - 1
    for (i <- xs.indices) {
      if ((ys(i) > py) != (ys(j) > py) &&
          px < (xs(j) - xs(i)) * (py - ys(i)) / (ys(j) - ys(i)) + xs(i)) inside = !inside
      j = i
    }
    inside
  }

  /** `vertices` must be `array<struct<x:double,y:double>>`. */
  def pointInPolygon(x: Column, y: Column, vertices: Column): Column =
    toCol(PointInPolygon(toExpr(x), toExpr(y), toExpr(vertices)))

  /** Build a vertex-array literal column from (x, y) pairs. */
  def polyLit(pts: Seq[(Double, Double)]): Column =
    array(pts.map { case (px, py) =>
      struct(lit(px).as("x"), lit(py).as("y")) }: _*)

  /** Parse `POLYGON ((x y, x y, ...))` WKT (outer ring only) driver-side —
    * the boundary codec of SURVEY.md §1.1. */
  def wktToPoints(wkt: String): Seq[(Double, Double)] = {
    val inner = wkt.trim
      .stripPrefix("POLYGON").trim.stripPrefix("((").stripSuffix("))")
    inner.split(",").toIndexedSeq.map { p =>
      val Array(a, b) = p.trim.split("\\s+").map(_.toDouble)
      (a, b)
    }
  }

  def pointsToWkt(pts: Seq[(Double, Double)]): String =
    pts.map { case (a, b) => s"$a $b" }.mkString("POLYGON ((", ", ", "))")
}
