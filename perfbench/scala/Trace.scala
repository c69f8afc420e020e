package perfbench

import scala.collection.mutable
import org.apache.spark.{PerfbenchBridge, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around the benchmark's calls into each engine layer.
  *
  * Off (the untraced run) `span` only evaluates its body. On, every span
  * sets a Spark job group named after its id, and [[Tracer.Listener]]
  * attributes jobs, stages and task metrics to that group. Spans stay in
  * memory and are summarised once, at the end of the run. A layer's self
  * time is its wall time minus the time its child spans cover; its driver
  * time is the self time that none of its own Spark jobs cover (planning,
  * code generation and driver-side compute). */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val sc = spark.sparkContext

  final class Span(val id: Int, val layer: String, val parent: Span) {
    val t0Ns: Long = System.nanoTime()
    val t0Ms: Long = System.currentTimeMillis()
    var t1Ns = 0L
    var t1Ms = 0L
    var childNs = 0L
    def group: String = s"perfbench-span-$id"
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current: Span = null
  val listener = new Listener

  if (on) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(listener.queries)
  }

  def span[T](layer: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size, layer, current)
      spans += s
      current = s
      sc.setJobGroup(s.group, layer, interruptOnCancel = false)
      try body
      finally {
        s.t1Ns = System.nanoTime()
        s.t1Ms = System.currentTimeMillis()
        if (s.parent != null) s.parent.childNs += s.t1Ns - s.t0Ns
        current = s.parent
        if (current == null) sc.clearJobGroup()
        else sc.setJobGroup(current.group, current.layer, interruptOnCancel = false)
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (on) PerfbenchBridge.drainListenerBus(sc)

  /** Per-layer sums: wall_s, self_s, calls, driver_s, task_cpu_s,
    * fetch_wait_s, shuffle_write_mb, spill_mb. */
  def layerMetrics(layers: Seq[String]): Map[String, Double] = {
    drain()
    val byLayer = spans.groupBy(_.layer)
    layers.flatMap { l =>
      val ss = byLayer.getOrElse(l, mutable.ArrayBuffer.empty[Span])
      val wall = ss.map(s => (s.t1Ns - s.t0Ns) / 1e9).sum
      val self = ss.map(s => (s.t1Ns - s.t0Ns - s.childNs) / 1e9).sum
      val aggs = ss.map(s => listener.agg(s.group))
      val driver = ss.zip(aggs).map { case (s, a) =>
        val self = (s.t1Ns - s.t0Ns - s.childNs) / 1e9
        math.max(0.0, self - Tracer.covered(a.jobs.toSeq, s.t0Ms, s.t1Ms) / 1e3)
      }.sum
      Seq(
        s"$l.wall_s" -> wall, s"$l.self_s" -> self, s"$l.calls" -> ss.size.toDouble,
        s"$l.driver_s" -> driver,
        s"$l.task_cpu_s" -> aggs.map(_.cpuNs).sum / 1e9,
        s"$l.fetch_wait_s" -> aggs.map(_.fetchWaitMs).sum / 1e3,
        s"$l.shuffle_write_mb" -> aggs.map(_.shuffleWriteBytes).sum / 1048576.0,
        s"$l.spill_mb" -> aggs.map(_.spillBytes).sum / 1048576.0)
    }.toMap
  }

  /** Job and task totals over every group, spans or not. */
  def engineCounts: Map[String, Double] = {
    drain()
    val all = listener.allAggs
    Map(
      "spark.jobs" -> listener.jobCount.toDouble,
      "spark.tasks" -> all.map(_.tasks).sum.toDouble,
      "spark.failed_tasks" -> all.map(_.failedTasks).sum.toDouble,
      "catalyst.analysis_s" -> listener.phaseMs("analysis") / 1e3,
      "catalyst.optimizer_s" -> listener.phaseMs("optimization") / 1e3,
      "catalyst.planning_s" -> listener.phaseMs("planning") / 1e3)
  }

  /** Attributes Spark jobs, stages and tasks to the job group that
    * started them, and sums Catalyst phase times per executed query. */
  final class Listener extends SparkListener {
    final class Agg {
      var cpuNs = 0L
      var fetchWaitMs = 0L
      var shuffleWriteBytes = 0L
      var spillBytes = 0L
      var tasks = 0L
      var failedTasks = 0L
      val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
    }
    private val aggs = mutable.Map.empty[String, Agg]
    private val stageGroup = mutable.Map.empty[Int, String]
    private val jobStart = mutable.Map.empty[Int, (String, Long)]
    private val phases = mutable.Map.empty[String, Long].withDefaultValue(0L)
    private var jobs = 0L
    private var inMemoryScans = 0L

    def agg(group: String): Agg = synchronized(aggs.getOrElseUpdate(group, new Agg))
    def allAggs: Seq[Agg] = synchronized(aggs.values.toSeq)
    def jobCount: Long = synchronized(jobs)
    def phaseMs(phase: String): Long = synchronized(phases(phase))
    /** Executed queries so far whose physical plan reads a cached relation. */
    def cachedScans: Long = synchronized(inMemoryScans)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
      jobStart(e.jobId) = (g, e.time)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (g, t0) => agg(g).jobs += ((t0, e.time)) }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = agg(stageGroup.getOrElse(e.stageId, ""))
      a.tasks += 1
      if (e.reason != Success) a.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
      }
    }

    val queries: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        Listener.this.synchronized {
          qe.tracker.phases.foreach { case (k, v) => phases(k) += v.durationMs }
          // AQE keeps the final plan behind AdaptiveSparkPlanExec; its
          // string form names every cached scan of the plan that ran
          if (qe.executedPlan.toString.contains("InMemoryTableScan")) inMemoryScans += 1
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
  }
}

object Tracer {
  /** Milliseconds of [t0, t1] covered by the union of `intervals`. */
  def covered(intervals: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}
