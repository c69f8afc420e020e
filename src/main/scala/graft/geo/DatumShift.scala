package graft.geo

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** One step of a coordinate chain: rewrites the coordinate triple `v` in
  * place (the row's epoch is read only by [[Datum.Shift14]]). The datum
  * steps live in [[Datum]], the UTM steps in [[Proj]]. */
trait Step extends Serializable {
  def apply(v: Array[Double], epoch: Double): Unit
}

/** Output coordinate `coord` (0, 1 or 2) of the coordinate chain `steps`
  * over the double inputs (a, b, c[, epoch]); null if any input is null.
  * This node is the `geo` package's one coordinate kernel: every datum
  * shift and UTM projection Column is one of these per output. Spelled
  * as Column arithmetic these formulae do not compose: the analyzer
  * copies each shared subterm out per use, so one Helmert shift held up
  * to 8,962 nodes per output and `r_utm_project` 11,283, and a second
  * transform over those Columns in one projection never finished
  * analysis. As a node, each input is read once.
  * `eval` and the generated code both call [[value]], so the interpreted
  * and compiled paths run the same scalar steps; the steps are bound by
  * reference, so every chain generates the same source. Each coordinate
  * runs the whole chain, so projecting all three runs it three times. */
case class DatumShift(children: Seq[Expression], steps: Seq[Step], coord: Int)
    extends Expression {
  require(children.length == 3 || children.length == 4, "datum chain takes (a, b, c[, epoch])")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "datum"
  override def sql: String =
    s"$prettyName(${children.map(_.sql).mkString(", ")})[$coord]"

  def value(a: Double, b: Double, c: Double, epoch: Double): Double = {
    val v = Array(a, b, c)
    steps.foreach(_(v, epoch))
    v(coord)
  }

  override def eval(row: InternalRow): Any = {
    val in = children.map(_.eval(row))
    if (in.contains(null)) null
    else {
      val d = in.map(_.asInstanceOf[Double])
      value(d(0), d(1), d(2), if (d.length == 4) d(3) else Double.NaN)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val in = children.map(_.genCode(ctx))
    val ref = ctx.addReferenceObj("datum", this)
    val args = (in.map(_.value.toString) ++ Seq("java.lang.Double.NaN")).take(4)
    val call = s"$ref.value(${args.mkString(", ")})"
    val inputs = in.map(_.code).reduce(_ + _)
    if (!nullable) ev.copy(code = code"""
      $inputs
      double ${ev.value} = $call;""", isNull = FalseLiteral)
    else ev.copy(code = code"""
      $inputs
      boolean ${ev.isNull} = ${in.map(_.isNull.toString).mkString(" || ")};
      double ${ev.value} = ${ev.isNull} ? 0.0 : $call;""")
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}

object DatumShift {
  /** The three output coordinates of `steps` run over (a, b, c[, epoch]),
    * each a [[DatumShift]] node; inputs are cast to double. */
  def chain(in: Seq[Column], steps: Step*): (Column, Column, Column) = {
    val kids = in.map(c => toExpr(c.cast("double")))
    def out(i: Int) = toCol(DatumShift(kids, steps, i))
    (out(0), out(1), out(2))
  }
}
