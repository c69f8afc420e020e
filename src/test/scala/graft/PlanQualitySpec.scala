package graft

import scala.util.Try
import org.apache.spark.sql.DataFrame
import graft.queries.{QueriesExt, QueriesExt2, QueriesAnn}

/** Physical-plan assertions for the round-2 operators: correctness tests
  * prove the VALUES; these prove the PLAN is the one that survives a 100×
  * scale-up — small sides broadcast, rank-limits push down, generators
  * stay map-side. Each assertion names the scale property it guards.
  */
class PlanQualitySpec extends SparkSuite {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def run(qs: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame],
                  name: String): String = plan(qs(name)(spark, sf001))

  /** Every catalog query built once at sf0.001, for the catalog-wide walks. */
  private lazy val catalog: Seq[(String, Try[DataFrame])] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> Try(fn(spark, sf001))
    }

  test("x_tfidf: document frequencies broadcast back onto tf (no sort-merge)") {
    val p = run(QueriesExt.queries, "x_tfidf")
    assert(p.contains("BroadcastHashJoin"),
      s"df-side join should broadcast:\n$p")
  }

  test("o_range_join: probe intervals broadcast; events never shuffle for the join") {
    val p = run(QueriesExt.queries, "o_range_join")
    assert(p.contains("BroadcastHashJoin"),
      s"probe side should broadcast:\n$p")
  }

  test("w_topk_group: rank-limit pushes below the final sort (WindowGroupLimit)") {
    val p = run(QueriesExt.queries, "w_topk_group")
    assert(p.contains("WindowGroupLimit"),
      s"row_number<=k should plan a WindowGroupLimit partial prune:\n$p")
  }

  test("a_unpivot: stack() is a map-side generator — exactly one exchange (the agg)") {
    val p = run(QueriesExt2.queries, "a_unpivot")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(p.contains("Generate"), s"expected generator:\n$p")
    assert(exchanges <= 2, // partial→final agg exchange only (AQE may add one read)
      s"unpivot should not shuffle row data before aggregating ($exchanges exchanges):\n$p")
  }

  test("n_pq_adc: code table joins LUT via broadcast (LUT is O(queries·M·K))") {
    val p = run(QueriesAnn.queries, "n_pq_adc")
    assert(p.contains("BroadcastHashJoin"),
      s"LUT should broadcast:\n$p")
  }

  test("s_filter_project: predicate and projection reach the parquet scan") {
    val p = run(graft.queries.QueriesCore.queries, "s_filter_project")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      s"filters should push into the scan:\n$p")
  }

  test("s_percentile_clip: no rank-selection limit in the plan (bisection path)") {
    // the clip quantiles come from value-range bisection (scan+count probes),
    // so the final plan must not retain a TakeOrdered with k ≈ p·n rows
    val p = run(graft.queries.QueriesCore.queries, "s_percentile_clip")
    assert(!p.contains("TakeOrderedAndProject"),
      s"clip quantiles must not plan a data-sized TakeOrdered:\n$p")
  }

  test("bounded-window discipline: every unpartitioned WindowExec sits above an aggregate or limit") {
    // a Window with no PARTITION BY funnels its whole input through one
    // reducer — acceptable ONLY above an aggregate/limit whose output is
    // provably bounded (score bins, top-k, scalar totals). Walk every
    // query's physical plan so a future unbounded one cannot hide.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, LocalLimitExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def flatten(p: SparkPlan): Seq[SparkPlan] =
      p +: (p match {
        case a: AdaptiveSparkPlanExec => flatten(a.inputPlan)
        case o => (o.children ++ o.subqueries).flatMap(flatten)
      })
    def bounded(p: SparkPlan): Boolean = flatten(p).exists {
      case _: BaseAggregateExec | _: GlobalLimitExec | _: LocalLimitExec |
          _: TakeOrderedAndProjectExec | _: CollectLimitExec => true
      case _ => false
    }
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, df) <- catalog) {
      try flatten(df.get.queryExecution.executedPlan).foreach {
        case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) =>
          offenders += s"$name: Window ${w.windowExpression.mkString(",").take(100)}"
        case _ => ()
      } catch {
        case e: Throwable => offenders += s"$name: plan build failed: ${e.getMessage}"
      }
    }
    assert(offenders.isEmpty,
      s"unbounded whole-table windows (or unplannable queries):\n${offenders.mkString("\n")}")
  }

  test("plan-size census: every catalog query's optimized plan stays under 2,000 nodes") {
    // plan nodes plus expression nodes, subqueries included. A formula
    // spelled as Column arithmetic copies each shared subterm per use, so
    // its tree grows with every reuse and a second such formula chained
    // onto it can stall analysis; the largest query today is ~1,100 nodes
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    def nodes(p: LogicalPlan): Int = p.collectWithSubqueries { case n =>
      1 + n.expressions.map(_.collect { case e => e }.size).sum
    }.sum
    val sizes = catalog.map { case (name, df) =>
      name -> Try(nodes(df.get.queryExecution.optimizedPlan)).toEither
    }
    val failed = sizes.collect { case (name, Left(e)) => s"$name: ${e.getMessage}" }
    val over = sizes.collect { case (name, Right(n)) if n >= 2000 => s"$name: $n nodes" }
    assert(failed.isEmpty, s"unplannable queries:\n${failed.mkString("\n")}")
    assert(over.isEmpty, s"optimized plans of 2,000 nodes or more:\n${over.mkString("\n")}")
  }

  test("binned range join degrades to a partitioned equi-join when nothing broadcasts") {
    // o_range_join's bin decomposition is what makes a range join
    // shuffle-partitionable: with broadcast disabled (the both-sides-huge
    // case), the same query must still plan an EQUI join on the bin key —
    // never a BroadcastNestedLoopJoin or CartesianProduct, which is what
    // a naive t0 <= ts < t1 range predicate alone would produce.
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ev = Tables.events(spark, sf001).select("event_id", "ts", "value")
      val probes = ev.filter(col("event_id") % 997 === 0)
        .select(col("event_id").as("probe_id"), col("ts").as("t0"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("t1"))
        .withColumn("bkt", explode(sequence(
          expr("unix_micros(t0) div 3600000000"),
          expr("unix_micros(t1) div 3600000000"))))
      val eb = ev.withColumn("bkt", expr("unix_micros(ts) div 3600000000"))
      val j = eb.join(probes, "bkt")
        .filter(col("ts") >= col("t0") && col("ts") < col("t1"))
        .groupBy("probe_id").agg(count(lit(1)).as("n"))
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"binned range join must not plan a pair-space join:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a partitioned equi-join on the bin key:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed co-located join + same-key agg: ZERO exchanges end to end") {
    // The 100-TB repeated-join shape: pre-bucketing both fact tables on
    // the join key makes every later join/aggregate on that key
    // exchange-free — the scan's HashPartitioning(bucket cols) satisfies
    // the join AND the same-key aggregate. Broadcast is disabled so the
    // test proves co-location, not small-side luck.
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.orders(spark, sf001).select("o_orderkey", "o_custkey")
        .write.mode("overwrite").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("pq_orders_b")
      Tables.lineitem(spark, sf001).select("l_orderkey", "l_quantity")
        .write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("pq_lineitem_b")
      val j = spark.table("pq_lineitem_b")
        .join(spark.table("pq_orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey").agg(sum("l_quantity").as("qty"))
      val p = j.queryExecution.executedPlan.toString
      val exchanges = "Exchange".r.findAllIn(p).length
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      assert(exchanges == 0,
        s"bucketed join+agg should be exchange-free ($exchanges found):\n$p")
      // and it still computes the right thing
      val viaBuckets = j.agg(count(lit(1)), sum("qty")).head()
      val direct = Tables.lineitem(spark, sf001)
        .join(Tables.orders(spark, sf001),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey").agg(sum("l_quantity").as("qty"))
        .agg(count(lit(1)), sum("qty")).head()
      assert(viaBuckets == direct)
    } finally {
      spark.sql("DROP TABLE IF EXISTS pq_orders_b")
      spark.sql("DROP TABLE IF EXISTS pq_lineitem_b")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("acceptedPairs: one compact generated stage, identical source for every seed") {
    // the counter RNG is one native node with its salt bound by
    // reference: spelled as Column arithmetic each draw copied its subtree
    // 8×, Filter (no CSE) and the bbox prefilter copied the draws again
    // (678 KB of Java), and per-seed salt literals forced a recompile.
    // The engine now draws these pairs on the driver; the stage is kept
    // as the generator's test oracle, the shape of the u_mc_* draws
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ graft.plans.PipBboxPrefilter
    try {
      val pts = Seq((8.0, 8.0), (56.0, 8.0), (56.0, 56.0), (8.0, 56.0))
      def stages(seed: Long): Seq[String] = codegenStringSeq(
        AcceptedPairsOracle.frame(spark, pts, 5000, seed)
          .queryExecution.executedPlan).map(_._2)
      val a = stages(1L)
      assert(a.nonEmpty, "acceptedPairs should run whole-stage codegen")
      a.foreach(c => assert(c.length < 64 * 1024,
        s"generated stage is ${c.length / 1024} KB"))
      assert(stages(2L) == a, "seed changed the generated source")
    } finally spark.experimental.extraOptimizations = prev
  }

  test("uncertaintyFull launches only the jobs of its Δz aggregate") {
    // the pairs, the bootstrap draws and the bound vectors are evaluated
    // on the driver; the raster-sized work is one count/RMS/extent pass
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.JobCounter
    val dz = spark.range(64L * 64)
      .select((col("id") % 64).cast("double").as("x"),
        (col("id") / 64).cast("long").cast("double").as("y"),
        (graft.rng.Rand.u01(col("id"), 7L) - 0.5).as("value"))
    val model = graft.functions.SphericalModel(Seq(0.04, 0.02), Seq(9.0, 30.0), 0.005)
    val fit = graft.fit.VariogramFit.FitResult(model, rss = 0.0, aic = 0.0,
      nComponents = 2, hasNugget = true)
    val p = (model.sills ++ model.ranges :+ model.nugget).toArray
    val draws = Array.tabulate(8)(i => p.map(_ * (1.0 + 0.01 * i)))
    val ea = new graft.api.ErrorAnalysis(spark, graft.raster.GridMeta(width = 64, height = 64))
    def full(): Unit = ea.uncertaintyFull(dz, "poly", "POLYGON ((8 8, 56 8, 56 56, 8 56))",
      fit, draws, nPairs = 2000, seed = 42L)
    full() // warm: first-use setup must not be counted
    val aggJobs = JobCounter.jobs(spark.sparkContext) {
      dz.agg(count(lit(1)), sqrt(avg(col("value") * col("value"))),
        min("x"), max("x"), min("y"), max("y")).head()
    }
    val fullJobs = JobCounter.jobs(spark.sparkContext)(full())
    assert(aggJobs >= 1)
    assert(fullJobs == aggJobs,
      s"uncertaintyFull ran $fullJobs jobs; its Δz aggregate alone runs $aggJobs")
  }

  test("job census: a warm rerun of each ranked query launches only its own jobs") {
    // the most frequent query_mix queries, with the jobs a warm rerun
    // (build + noop write) launches once each table is resolved per
    // session; a per-read schema-inference job adds one per table read
    import org.apache.spark.sql.graft.JobCounter
    val bounds = Seq("m_kappa" -> 2, "w_rank_funcs" -> 2, "w_lag_lead" -> 2,
      "x_dedup_containment" -> 3, "o_pick_index" -> 1, "r_hypso_bands" -> 3)
    def once(name: String): Unit =
      graft.SparkEntry.queries(name)(spark, sf001).write.format("noop").mode("overwrite").save()
    val counts = bounds.map { case (name, _) =>
      once(name)
      name -> JobCounter.jobs(spark.sparkContext)(once(name))
    }
    val over = counts.zip(bounds).collect { case ((name, n), (_, b)) if n > b =>
      s"$name: $n jobs (bound $b)" }
    assert(over.isEmpty, s"warm reruns over their job bound:\n${over.mkString("\n")}" +
      s"\nall: ${counts.mkString(", ")}")
  }

  test("Smrf.groundPoints: one shuffle exchange, no cache, nothing registered") {
    // the halo-tile kernel routes each point to its tiles in one exchange
    // and consumes it once; the aggregate-and-join form persisted the
    // points and shuffled per morphology stage
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case o => (o.children ++ o.subqueries).flatMap(nodes)
    })
    val pts = (0 until 3000).map { i =>
      val k = graft.rng.Rand.mixLong(i.toLong, 77)
      ((k % 90) - 45 + 0.5, ((k / 90) % 90) - 45 + 0.5, (k / 8100 % 100) / 10.0,
        if (k % 13 == 0) 7 else 1)
    }.toDF("x", "y", "z", "classification")
    val registered = graft.functions.CacheRegistry.registered
    val g = graft.ingest.Smrf.groundPoints(pts)
    assert(g.collect().nonEmpty)
    assert(graft.functions.CacheRegistry.registered == registered,
      "groundPoints registered a shared frame")
    val all = nodes(g.queryExecution.executedPlan)
    val exchanges = all.count(_.isInstanceOf[ShuffleExchangeLike])
    assert(exchanges == 1, s"expected one shuffle, found $exchanges:\n${all.head}")
    assert(!all.exists(_.isInstanceOf[InMemoryTableScanExec]) &&
      !g.queryExecution.withCachedData.toString.contains("InMemoryRelation"),
      s"groundPoints must not read a cache:\n${all.head}")
  }
}
