package org.apache.spark.sql.graft

import scala.util.control.Breaks.{break, breakable}
import org.apache.spark.sql.Column
import org.apache.spark.sql.classic.ExpressionColumnNode

/** Size of a Column's tree as built, before the analyzer sees it. Column
  * nodes share subterms by reference; the analyzer copies each one out
  * per use, so the count does too. A Catalyst expression embedded in the
  * Column counts node by node, where a Column it wraps counts as one
  * node (the analyzer expands it). The walk stops at `cap`, so a tree of
  * millions of nodes reads as `cap` at once instead of being converted. */
object ColumnTrees {
  def nodes(c: Column, cap: Long): Long = {
    var n = 0L
    def count(): Unit = { n += 1; if (n >= cap) break() }
    breakable(c.node.foreach {
      case e: ExpressionColumnNode => e.expression.foreach(_ => count())
      case _ => count()
    })
    n
  }
}
