package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One closed-loop workload: `setup` prepares input `i` (run `setupReps`
  * times), `op` runs one request and returns the checks to run on it
  * outside the timed latency. */
trait Workload {
  def setupReps: Int
  /** Ops run even when the window is already used up. */
  def minOps: Int = 2
  def setup(i: Int): Unit
  def op(i: Int): OpResult
  /** Kinds that fail a check made after the timed loop. */
  def postCheck(kinds: Seq[String]): Set[String] = Set.empty
  /** Counts gathered over the whole run (traced run only). */
  def runCounters: Map[String, Double] = Map.empty
}

/** `check` returns (named pass/fail checks, per-op counts for the trace). */
final case class OpResult(kind: String, pixels: Long,
                          check: () => (Seq[(String, Boolean)], Map[String, Double]))

object Seeds {
  /** Independent stream per workload from the run's seed. */
  def derive(seed: Long, stream: String): Long =
    new java.util.SplittableRandom(seed ^ (stream.hashCode.toLong << 32)).nextLong()
}

object Files {
  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(bytesUnder).sum
    else f.length()
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(delete)
    f.delete()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

object Stats {
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Entry point for one run of one workload; prints one result line.
  *
  *   perfbench.Main --workload survey_dem|survey_las|query_mix --seed N
  *     --seconds S --trace 0|1 --out DIR --data DIR --manifest FILE
  *     [--smoke] [--corrupt]
  *   perfbench.Main --build-manifest DUMP_DIR --data DIR --manifest FILE --out DIR
  */
object Main {
  val Layers = Seq("sources", "ingest", "raster", "api", "vario", "fit", "uncert", "queries")
  /** Per-report counts; 0 on workloads that do not touch the layer. */
  val ReportCounts = Seq("sources.las_decoded_points", "sources.las_keep_ratio",
    "sources.tiff_decoded_tiles", "sources.tiff_prune_ratio", "sources.bytes_written_mb",
    "ingest.ground_ratio", "raster.diff_rows", "vario.pairs", "fit.lm_fits",
    "uncert.mc_pairs", "uncert.accept_ratio", "uncert.crossjoin_rows")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap ++ args.filter(a => a == "--smoke" || a == "--corrupt").map(_.drop(2) -> "1")
    val out = new File(opt("out")).getAbsoluteFile
    val dataDir = new File(opt("data")).getAbsolutePath
    val manifestFile = new File(opt("manifest"))
    val smoke = opt.contains("smoke")
    val corrupt = opt.contains("corrupt")
    val trace = opt.getOrElse("trace", "0") == "1"
    val seed = opt.getOrElse("seed", "1").toLong
    val seconds = opt.getOrElse("seconds", "10").toDouble
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val work = new File(out, "work")
    Files.delete(work)
    work.mkdirs()

    val t0 = System.nanoTime()
    val spark = graft.Sessions.local(cpus)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    opt.get("build-manifest") match {
      case Some(dump) =>
        QueryMix.buildManifest(spark, dataDir, manifestFile, new File(dump))
      case None =>
        val workload = opt("workload")
        val tr = new Tracer(spark, trace)
        val biasOffset = if (corrupt) 1.0 else 0.0
        val wl: Workload = workload match {
          case "survey_dem" => new SurveyDem(spark, tr, seed, work,
            if (smoke) DemSize(w = 96, r = 3, binW = 1.0, maxLag = 28.0, nRuns = 4,
              sampleSize = 1000, nBoot = 20, nPairs = 2000, pool = 1, amp = 0.6)
            else DemSize(w = 128, r = 3, binW = 1.0, maxLag = 28.0, nRuns = 30,
              sampleSize = 1000, nBoot = 100, nPairs = 5000, pool = 2, amp = 0.6), biasOffset)
          case "survey_las" => new SurveyLas(spark, tr, seed, work,
            if (smoke) LasSize(w = 128, rTerrain = 6, r = 5, pool = 1, nRuns = 4, sampleSize = 2000,
              binW = 2.0, maxLag = 48.0, nBoot = 20, nPairs = 2000)
            else LasSize(w = 256, rTerrain = 6, r = 5, pool = 2, nRuns = 4, sampleSize = 4000,
              binW = 2.0, maxLag = 48.0, nBoot = 50, nPairs = 5000), biasOffset)
          case "query_mix" =>
            val m = QueryMix.readManifest(manifestFile)
            new QueryMix(spark, tr, seed, dataDir,
              if (corrupt) m.map { case (k, _) => k -> "corrupt" } else m, skew = 2.0,
              block = 32)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        val result = run(spark, tr, wl, workload, if (smoke) 0.0 else seconds, sessionS)
        println("PERFBENCH_RESULT " + result)
    }
    graft.functions.CacheRegistry.releaseAll()
    spark.stop()
    Files.delete(work)
  }

  private final case class Done(kind: String, latency: Double, ok: Boolean, pixels: Long,
                                failedChecks: Seq[String])

  /** Set-up repetitions, then ops until their summed latency reaches
    * `seconds` (at least `wl.minOps` ops, one when `seconds` is 0). */
  private def run(spark: SparkSession, tr: Tracer, wl: Workload, name: String,
                  seconds: Double, sessionS: Double): String = {
    val setupTimes = (0 until wl.setupReps).map { i =>
      val t = System.nanoTime(); wl.setup(i); (System.nanoTime() - t) / 1e9
    }
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val gc0 = gc.map(_.getCollectionTime).sum
    val cg = org.apache.spark.metrics.source.CodegenMetrics
    val (compiles0, compileNs0) = (cg.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
    val source0 = cg.METRIC_SOURCE_CODE_SIZE.getCount
    val ticks0 = RunRecord.cpuTicks()
    val done = scala.collection.mutable.ArrayBuffer.empty[Done]
    val counts = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    var cacheHits = 0
    var registeredMax = 0
    var storageMbMax = 0.0
    var busy = 0.0
    val minOps = if (seconds <= 0) 1 else wl.minOps
    while (done.size < minOps || busy < seconds) {
      val scans0 = tr.listener.cachedScans
      val t = System.nanoTime()
      val r = try Right(wl.op(done.size)) catch { case e: Throwable => Left(e) }
      val lat = (System.nanoTime() - t) / 1e9
      busy += lat
      registeredMax = math.max(registeredMax, graft.functions.CacheRegistry.registered)
      storageMbMax = math.max(storageMbMax, spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / 1048576.0)
      r match {
        case Right(res) =>
          val (checks, c) = try res.check() catch {
            case e: Throwable => (Seq(s"check raised $e" -> false), Map.empty[String, Double])
          }
          val bad = checks.filterNot(_._2).map(_._1)
          done += Done(res.kind, lat, bad.isEmpty, res.pixels, bad)
          counts += c
        case Left(e) =>
          System.err.println(s"perfbench: op ${done.size} failed: $e")
          done += Done("error", lat, ok = false, 0L, Seq(e.toString))
      }
      if (tr.on) {
        tr.drain()
        if (tr.listener.cachedScans > scans0) cacheHits += 1
      }
    }
    val stealPct = RunRecord.stealPct(ticks0)
    val badKinds = wl.postCheck(done.map(_.kind).toSeq)
    val ops = done.map(d => if (badKinds(d.kind)) d.copy(ok = false,
      failedChecks = d.failedChecks :+ "manifest") else d).toSeq
    val failed = ops.count(!_.ok)

    // cold: the first op of each kind; warm: ops whose kind already ran
    val firstIdx = ops.zipWithIndex.groupBy(_._1.kind).values.map(_.map(_._2).min).toSet
    val cold = ops.zipWithIndex.filter(x => firstIdx(x._2)).map(_._1.latency)
    val warm = ops.zipWithIndex.filterNot(x => firstIdx(x._2)).map(_._1.latency)
    val warmOrAll = if (warm.nonEmpty) warm else ops.map(_.latency)
    val rssMb = RunRecord.peakRssMb()
    val endToEnd = Seq(
      ("setup_s", sessionS + Stats.median(setupTimes), "s"),
      ("cold_op_s", Stats.median(cold), "s"),
      ("op_p50_s", Stats.median(warmOrAll), "s"),
      ("op_p90_s", Stats.quantile(warmOrAll, 0.9), "s"),
      ("ops_per_s", ops.size / busy, "1/s"),
      ("peak_rss_mb", rssMb, "MB"))

    val perLayer: Seq[(String, Double, String)] = if (!tr.on) Nil else {
      val layer = tr.layerMetrics(Layers)
      val perOp = (ReportCounts ++ counts.flatMap(_.keys)).distinct.map { k =>
        val xs = counts.flatMap(_.get(k)).toSeq
        k -> (if (xs.isEmpty) 0.0 else Stats.median(xs)) }.toMap
      val engine = tr.engineCounts
      val cgCount = cg.METRIC_COMPILATION_TIME.getCount - compiles0
      val srcCount = cg.METRIC_SOURCE_CODE_SIZE.getCount - source0
      val reportS = ops.filter(_.ok).map(_.latency).sum
      val derived = Map(
        "codegen.compiles" -> cgCount.toDouble,
        "codegen.compile_s" -> (org.apache.spark.sql.catalyst.expressions.codegen
          .CodeGenerator.compileTime - compileNs0) / 1e9,
        "codegen.source_kb" ->
          srcCount * cg.METRIC_SOURCE_CODE_SIZE.getSnapshot.getMean / 1024.0,
        "cache.registered_max" -> registeredMax.toDouble,
        "cache.storage_mb_max" -> storageMbMax,
        "cache.hit_ratio" -> cacheHits.toDouble / ops.size,
        "jvm.gc_s" -> (gc.map(_.getCollectionTime).sum - gc0) / 1e3,
        "report.pixels_per_s" ->
          (if (reportS > 0) ops.filter(_.ok).map(_.pixels).sum / reportS else 0.0),
        "vario.pairs_per_s" -> (if (layer("vario.wall_s") > 0)
          perOp.getOrElse("vario.pairs", 0.0) * ops.size / layer("vario.wall_s") else 0.0),
        "trace.op_p50_s" -> Stats.median(warmOrAll))
      val families = QueryMix.families.map(f => s"queries.$f.wall_s" -> 0.0).toMap
      (layer ++ engine ++ perOp ++ families ++ wl.runCounters ++ derived).toSeq.sortBy(_._1)
        .map { case (k, v) => (k, v, Units.of(k)) }
    }

    val metrics = (if (tr.on) perLayer else endToEnd).map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }
    val failedChecks = ops.flatMap(_.failedChecks).groupBy(identity).view
      .mapValues(_.size).toSeq.sortBy(_._1)
    val record = RunRecord.fields(spark) ++ Seq(
      "workload" -> Json.str(name),
      "session_start_s" -> Json.num(sessionS),
      "setup_reps_s" -> setupTimes.map(Json.num).mkString("[", ", ", "]"),
      "warm_ops" -> warm.size.toString, "cold_ops" -> cold.size.toString,
      "measured_s" -> Json.num(busy),
      "ops" -> ops.map(o => Json.obj(Seq("kind" -> Json.str(o.kind),
        "latency_s" -> Json.num(o.latency), "ok" -> o.ok.toString))).mkString("[", ", ", "]"),
      "fail_frac" -> Json.num(failed.toDouble / ops.size),
      "steal_pct" -> Json.num(stealPct),
      "failed_checks" -> Json.obj(failedChecks.map { case (k, n) => k -> n.toString }),
      "kinds" -> Json.obj(ops.groupBy(_.kind).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> v.size.toString }),
      "end_to_end" -> Json.obj(endToEnd.map { case (k, v, _) => k -> Json.num(v) }))
    Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> ops.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics),
      "record" -> Json.obj(record)))
  }
}

object Units {
  def of(metric: String): String = metric match {
    case m if m.endsWith(".calls") || m == "codegen.compiles" => "count"
    case m if m.endsWith("pixels_per_s") => "px/s"
    case m if m.endsWith("_per_s") => "1/s"
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_mb") || m.endsWith("_mb_max") => "MB"
    case m if m.endsWith("_kb") => "KB"
    case m if m.endsWith("ratio") => "ratio"
    case _ => "count"
  }
}

/** What the run ran on: processors, steal over the measured window,
  * heap, JDK and Spark versions. */
object RunRecord {
  /** (total, steal) ticks of /proc/stat's aggregate cpu line; only the
    * first 8 fields count, guest time is already inside user. */
  def cpuTicks(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        Some((f.take(8).sum, if (f.length > 7) f(7) else 0L))
      } finally src.close()
    } catch { case _: Throwable => None }

  def stealPct(from: Option[(Long, Long)]): Double = (for {
    (t0, s0) <- from; (t1, s1) <- cpuTicks(); if t1 > t0
  } yield 100.0 * (s1 - s0) / (t1 - t0)).getOrElse(Double.NaN)

  /** VmHWM of this JVM in MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
      finally src.close()
    } catch { case _: Throwable => Double.NaN }

  def fields(spark: SparkSession): Seq[(String, String)] = Seq(
    "nproc" -> Runtime.getRuntime.availableProcessors().toString,
    "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
    "jdk" -> Json.str(System.getProperty("java.version")),
    "spark" -> Json.str(spark.version),
    "master" -> Json.str(spark.sparkContext.master))
}
