package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.{SparkEntry, Tables}

/** `query_mix`: a Zipf-skewed sequence over the `SparkEntry.queries`
  * catalog, one query per op to a `noop` sink, in one long-lived session
  * with no cache release between ops. The popularity ranking is fixed (a
  * hash of the query name). The sequence is drawn in blocks of `block` ops
  * in which the query at rank k appears round(block · p_k) times for the
  * Zipf(`skew`) probability p_k, shuffled by the seed: every seed runs the
  * same mix in a different order, so the few multi-second first runs of
  * tail queries do not decide a 20 s window. The first block opens with
  * one run of each of its queries in rank order (the cold pass), so every
  * seed pays the same first runs in the same order and the seed shuffles
  * the warm ops. Each distinct query's output is checked against the
  * manifest after the timed loop. */
final class QueryMix(spark: SparkSession, tr: Tracer, seed: Long, dataDir: String,
                     manifest: Map[String, String], skew: Double, block: Int)
    extends Workload {
  private val ranked = SparkEntry.queries.toSeq.sortBy { case (n, _) => QueryMix.rank(n) }
  private val counts = {
    val w = ranked.indices.map(k => math.pow(k + 1.0, -skew))
    w.map(x => math.round(block * x / w.sum).toInt)
  }
  private val rng = new java.util.SplittableRandom(Seeds.derive(seed, "query_mix"))
  private val pending = scala.collection.mutable.Queue.empty[Int]
  private var blocks = 0
  private val familyWall = scala.collection.mutable.Map.empty[String, Double]
    .withDefaultValue(0.0)

  def setupReps: Int = 3

  /** Table warm-up: footer reads and scans of every table, and one
    * generated aggregation over every column of the largest, so the window
    * starts with the planner and codegen paths compiled, as in a service
    * that has already served queries. */
  def setup(i: Int): Unit = {
    QueryMix.tables.foreach(t => Tables.t(spark, dataDir, t).count())
    Tables.t(spark, dataDir, "lineitem").describe().collect()
  }

  def op(i: Int): OpResult = {
    if (pending.isEmpty) {
      val cold = if (blocks == 0) counts.indices.filter(counts(_) > 0) else Nil
      val ks = counts.zipWithIndex.flatMap { case (n, k) =>
        Seq.fill(if (cold.contains(k)) n - 1 else n)(k) }.toArray
      for (j <- ks.indices.reverse) {
        val r = rng.nextInt(j + 1)
        val t = ks(j); ks(j) = ks(r); ks(r) = t
      }
      pending ++= cold ++= ks
      blocks += 1
    }
    val (name, fn) = ranked(pending.dequeue())
    val t0 = System.nanoTime()
    tr.span("queries") { fn(spark, dataDir).write.format("noop").mode("overwrite").save() }
    familyWall(QueryMix.family(name)) += (System.nanoTime() - t0) / 1e9
    OpResult(name, 0L, () => (Nil, Map.empty))
  }

  /** Kinds whose output hash differs from the manifest (or has no entry). */
  override def postCheck(kinds: Seq[String]): Set[String] =
    kinds.distinct.filter { name =>
      val got =
        try QueryMix.hash(SparkEntry.queries(name)(spark, dataDir))
        catch { case e: Throwable => s"error: $e" }
      !manifest.get(name).contains(got)
    }.toSet

  override def runCounters: Map[String, Double] =
    QueryMix.families.map(f => s"queries.$f.wall_s" -> familyWall(f)).toMap
}

object QueryMix {
  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def family(name: String): String = name.takeWhile(_ != '_')
  def families: Seq[String] = SparkEntry.queries.keys.map(family).toSeq.distinct.sorted
  def rank(name: String): Int = MurmurHash3.stringHash(name, 0x5eed)

  /** Order-insensitive hash of a query result: row count, a hash of the
    * name-sorted schema, and the wrapping sum of per-row hashes. Doubles
    * are rounded to 9 decimals, the tolerance of the DuckDB comparison. */
  def hash(df: DataFrame): String = {
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val header = fields.map { case (f, _) => s"${f.name}:${f.dataType.simpleString}" }
      .mkString(",")
    var sum = 0L
    var n = 0L
    df.collect().foreach { r =>
      sum += h64(fields.map { case (_, i) => canon(r.get(i)) }.mkString("|"))
      n += 1
    }
    f"$n:${h64(header)}%016x:$sum%016x"
  }

  private def h64(s: String): Long =
    (MurmurHash3.stringHash(s, 1).toLong << 32) | (MurmurHash3.stringHash(s, 2) & 0xffffffffL)

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else new java.math.BigDecimal(d).setScale(9, java.math.RoundingMode.HALF_EVEN)
      .stripTrailingZeros.toPlainString

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => num(b.doubleValue)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case other => other.toString
  }

  /** Manifest: one `"name": "hash"` line per query. */
  def readManifest(f: File): Map[String, String] =
    "\"([A-Za-z0-9_]+)\"\\s*:\\s*\"([^\"]*)\"".r
      .findAllMatchIn(new String(Files.readAllBytes(f.toPath), UTF_8))
      .map(m => m.group(1) -> m.group(2)).toMap

  /** Hash every query into `manifest`, and dump each result as parquet
    * with `oracle_sql.json` into `dumpDir`, the layout `tools/compare.py`
    * checks against DuckDB. */
  def buildManifest(spark: SparkSession, dataDir: String, manifest: File, dumpDir: File): Unit = {
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val h = hash(fn(spark, dataDir))
      fn(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/$name")
      s"""  "$name": "$h""""
    }
    Files.write(manifest.toPath, lines.mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8))
    val oracle = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",\n", "}")
    Files.write(new File(dumpDir, "oracle_sql.json").toPath, oracle.getBytes(UTF_8))
  }
}
