package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
import org.apache.spark.sql.graft.ColumnBridge

/** Order-preserving long image of a double: `doubleToLongBits`, with
  * negative bit patterns folded so signed-long ordering equals numeric
  * ordering (both zeros map to 0). Codegen-native so a radix-histogram
  * pass stays inside whole-stage codegen. */
case class DoubleBitsFolded(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a DOUBLE input, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "double_bits_folded"

  override def nullSafeEval(input: Any): Any = {
    val b = java.lang.Double.doubleToLongBits(input.asInstanceOf[Double])
    if (b < 0) java.lang.Long.MIN_VALUE - b else b
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val b = ctx.freshName("bits")
      s"""
        long $b = java.lang.Double.doubleToLongBits($c);
        ${ev.value} = ($b < 0L) ? (java.lang.Long.MIN_VALUE - $b) : $b;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(newChild)
}

/** Distributed EXACT order statistics and interpolated quantiles (numpy
  * / quantile_cont semantics) by multi-pass radix selection over the
  * folded IEEE-754 bit pattern, instead of Spark's `Percentile` buffer
  * aggregate.
  *
  * `Percentile` materializes every value into a per-partition heap and
  * merges them on one thread — fine for grouped small data, hopeless for a
  * tail quantile of a 100-TB column. Radix selection resolves 16 bits per
  * pass with an aggregation-only histogram job: exactly 4 scans, no sort,
  * no row shuffle, a few-KB collect, at any depth of any relation size.
  * [[nthsByRadix]] is the single-column form, [[groupedNthsByRadix]] the
  * per-group form, [[quantilesByRadix]] the interpolating wrapper.
  */
object ExactQuantile {

  private def fromFoldedBits(l: Long): Double =
    java.lang.Double.longBitsToDouble(if (l < 0) java.lang.Long.MIN_VALUE - l else l)

  /** Exact order statistics by MULTI-PASS RADIX SELECTION: EXACTLY 4
    * histogram scans (16 bits of the folded IEEE-754 pattern per pass)
    * regardless of data size, value distribution, or how many statistics
    * are requested. Each pass is an aggregation-only job — map-side
    * combining into ≤65536 buckets per live prefix, no sort, no row
    * shuffle, a few-KB collect — where a TakeOrdered selection retains
    * k≈p·n rows per partition and a value-range bisection runs ≤64
    * sequential probe jobs.
    * Requires a known total row count `n` of non-null `c` values (the
    * caller usually has it from the same agg that produced min/max).
    *
    * `hist48` lets a caller that already grouped the data by the top-16-bit
    * prefix (`double_bits_folded(c) >> 48`) hand that histogram in — the
    * first of the 4 scans is skipped, fusing e.g. a moment aggregate and
    * pass 1 into one job (Zonal.descriptiveStats does this). */
  def nthsByRadix(df: DataFrame, c: String, n: Long, is: Seq[Long],
      hist48: Option[Array[(Long, Long)]] = None): Map[Long, Double] = {
    if (is.isEmpty) return Map.empty
    is.foreach(i => require(i >= 0 && i < n, s"order statistic $i out of range [0, $n)"))
    val v = col(c).cast("double")
    val bits = ColumnBridge.column(DoubleBitsFolded(ColumnBridge.expression(v)))
    val base = df.select(bits.as("b")).where(col("b").isNotNull)
    val step = 16
    var shift = 64
    // per target rank: (prefix = resolved bits >> shift, rank within prefix)
    var st: Map[Long, (Long, Long)] = is.distinct.map(i => i -> ((0L, i))).toMap
    while (shift > 0) {
      val newShift = shift - step
      val live = st.values.map(_._1).toSet.toSeq
      val filtered =
        if (shift >= 64) base
        else base.where(shiftright(col("b"), shift).isin(live: _*))
      val hist =
        if (shift >= 64 && hist48.isDefined) hist48.get
        else filtered
          .groupBy(shiftright(col("b"), newShift).as("k"))
          .agg(count(lit(1)).as("cnt"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
      val byPrefix: Map[Long, Array[(Long, Long)]] =
        if (shift >= 64) Map(0L -> hist.sortBy(_._1))
        else hist.groupBy(_._1 >> step).map { case (p, a) => p -> a.sortBy(_._1) }
      st = st.map { case (i, (p, lr)) =>
        val buckets = byPrefix(p)
        var rem = lr
        var idx = 0
        while (rem >= buckets(idx)._2) { rem -= buckets(idx)._2; idx += 1 }
        i -> ((buckets(idx)._1, rem))
      }
      shift = newShift
    }
    st.map { case (i, (p, _)) => i -> fromFoldedBits(p) }
  }

  /** Grouped [[nthsByRadix]]: exact order statistics PER GROUP in the
    * same 4 histogram scans TOTAL (every group's probes advance in
    * lockstep inside one aggregate per pass). This removes the
    * per-group window sort a grouped quantile otherwise needs — with
    * few, data-heavy groups (zonal stats over 3–4 zones of a 100-TB
    * table) a `PARTITION BY zone` window funnels each zone through one
    * task, while this stays aggregation-only at every size. Contract:
    * the GROUP COUNT must be driver-bounded (each pass collects
    * ≤ groups × live-prefix histograms); ranks are 0-based among each
    * group's non-null `c` values. */
  def groupedNthsByRadix(df: DataFrame, g: String, c: String,
      ranks: Map[String, Seq[Long]]): Map[String, Map[Long, Double]] =
    groupedNthsByRadixWithAll(df, g, c, ranks, Nil, None)._1

  /** [[groupedNthsByRadix]] plus an ALL pseudo-group (ranks over the
    * whole relation, ignoring `g`) walked in the SAME passes — the ALL
    * histogram is the per-group histogram summed across groups, so the
    * combined selection still costs 4 scans total (3 with `hist48`).
    *
    * `hist48` hands in pass 1 pre-grouped by (group, bits>>48) — the
    * caller usually produced it from a scan that also computed moments
    * (Zonal.descriptiveStats fuses both into one job). */
  def groupedNthsByRadixWithAll(df: DataFrame, g: String, c: String,
      ranks: Map[String, Seq[Long]], allRanks: Seq[Long],
      hist48: Option[Array[(String, Long, Long)]])
      : (Map[String, Map[Long, Double]], Map[Long, Double]) = {
    type K = Option[String] // Some(group) | None = the ALL pseudo-group
    val wanted: Map[K, Seq[Long]] =
      ranks.filter(_._2.nonEmpty).map { case (k, v) => (Some(k): K) -> v } ++
        (if (allRanks.nonEmpty) Map((None: K) -> allRanks)
         else Map.empty[K, Seq[Long]])
    if (wanted.isEmpty)
      return (ranks.map { case (k, _) => k -> Map.empty[Long, Double] }, Map.empty)
    val v = col(c).cast("double")
    val bits = ColumnBridge.column(DoubleBitsFolded(ColumnBridge.expression(v)))
    val base = df.select(col(g).as("g"), bits.as("b")).where(col("b").isNotNull)
    val step = 16
    var shift = 64
    var st: Map[(K, Long), (Long, Long)] =
      wanted.toSeq.flatMap { case (k, is) =>
        is.distinct.map(i => (k, i) -> ((0L, i)))
      }.toMap
    while (shift > 0) {
      val newShift = shift - step
      // (group, child-bucket, count) — for pass 1 optionally handed in
      val hist: Array[(String, Long, Long)] =
        if (shift >= 64 && hist48.isDefined) hist48.get
        else {
          val liveByKey = st.toSeq.groupBy(_._1._1)
            .map { case (k, es) => k -> es.map(_._2._1).distinct }
          val filtered =
            if (shift >= 64) base
            else {
              // a row passes if ITS group's walk needs its prefix, or
              // the ALL walk does (no group constraint on that side)
              val conds = liveByKey.toSeq.map {
                case (Some(gv), ps) =>
                  // <=> not ===: a null group value must keep matching its
                  // own walk (=== is never true against NULL, which would
                  // starve passes 2–4 of that group's histogram rows)
                  (col("g") <=> lit(gv)) && shiftright(col("b"), shift).isin(ps: _*)
                case (None, ps) => shiftright(col("b"), shift).isin(ps: _*)
              }
              base.where(conds.reduce(_ || _))
            }
          filtered
            .groupBy(col("g"), shiftright(col("b"), newShift).as("k"))
            .agg(count(lit(1)).as("cnt"))
            .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        }
      def parent(k: Long): Long = if (shift >= 64) 0L else k >> step
      val perGroup: Map[(K, Long), Array[(Long, Long)]] =
        hist.groupBy(t => (Some(t._1): K, parent(t._2)))
          .map { case (k, a) => k -> a.map(t => (t._2, t._3)).sortBy(_._1) }
      // ALL buckets: per-group counts summed across groups, key order
      val allBuckets: Map[(K, Long), Array[(Long, Long)]] =
        if (!wanted.contains(None)) Map.empty
        else hist.groupBy(t => parent(t._2)).map { case (p, a) =>
          ((None: K, p),
            a.groupBy(_._2).map { case (k, rs) => (k, rs.map(_._3).sum) }
              .toArray.sortBy(_._1))
        }
      val buckets = perGroup ++ allBuckets
      st = st.map { case ((k, i), (p, lr)) =>
        val bs = buckets((k, p))
        var rem = lr
        var idx = 0
        while (rem >= bs(idx)._2) { rem -= bs(idx)._2; idx += 1 }
        (k, i) -> ((bs(idx)._1, rem))
      }
      shift = newShift
    }
    val zs = st.toSeq.collect { case ((Some(gv), i), (p, _)) => (gv, i, p) }
      .groupBy(_._1).map { case (gv, es) =>
        gv -> es.map(e => e._2 -> fromFoldedBits(e._3)).toMap
      }
    val all = st.toSeq.collect { case ((None, i), (p, _)) =>
      i -> fromFoldedBits(p) }.toMap
    (zs, all)
  }

  /** Interpolated quantiles for several p at once via [[nthsByRadix]] —
    * one count + exactly 4 histogram scans, independent of |ps|. */
  def quantilesByRadix(df: DataFrame, c: String, ps: Seq[Double]): Map[Double, Double] = {
    val n = df.where(col(c).isNotNull).count()
    require(n > 0, "quantile of empty relation")
    val targets = ps.map { p =>
      val pos = p * (n - 1)
      (p, math.floor(pos).toLong, math.ceil(pos).toLong, pos - math.floor(pos))
    }
    val nths = nthsByRadix(df, c, n,
      targets.flatMap { case (_, lo, hi, _) => Seq(lo, hi) }.distinct)
    targets.map { case (p, lo, hi, frac) =>
      val vLo = nths(lo)
      val vHi = nths(hi)
      p -> (vLo + (vHi - vLo) * frac)
    }.toMap
  }
}
