package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.JobCounter
import org.apache.spark.sql.types.TimestampType

/** `Tables` resolves each table once per session: a second read of an
  * unchanged file runs no Spark job, a rewritten file is read with its new
  * schema, and every read is a fresh relation with its own attribute IDs. */
class TablesSpec extends SparkSuite {

  /** A single-file parquet table at `dir/name.parquet`, the corpus layout,
    * holding `rows` × `cols` longs. */
  private def writeTable(dir: Path, name: String, rows: Int, cols: Seq[String]): Unit = {
    val staged = Files.createTempDirectory("graft-tables-stage")
    spark.range(rows).select(cols.map(c => (col("id") * 7).as(c)): _*).coalesce(1)
      .write.mode("overwrite").parquet(staged.resolve("out").toString)
    val part = Files.list(staged.resolve("out")).filter(_.toString.endsWith(".parquet"))
      .findFirst().get
    Files.copy(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second read of the same file launches no Spark job") {
    val dir = Files.createTempDirectory("graft-tables")
    writeTable(dir, "t", 100, Seq("a", "b"))
    val first = JobCounter.jobs(spark.sparkContext)(Tables.t(spark, dir.toString, "t"))
    val second = JobCounter.jobs(spark.sparkContext)(Tables.t(spark, dir.toString, "t"))
    assert(first >= 1, "the first read should infer the schema with a job")
    assert(second == 0, s"the second read launched $second jobs")
    assert(Tables.t(spark, dir.toString, "t").count() == 100)
  }

  test("a file rewritten with a new schema is read with that schema") {
    val dir = Files.createTempDirectory("graft-tables")
    writeTable(dir, "t", 100, Seq("a", "b"))
    assert(Tables.t(spark, dir.toString, "t").columns.toSeq == Seq("a", "b"))
    val before = Files.getLastModifiedTime(dir.resolve("t.parquet"))
    Thread.sleep(20) // a later modification time even on a coarse clock
    writeTable(dir, "t", 50, Seq("x", "y", "z"))
    assert(Files.getLastModifiedTime(dir.resolve("t.parquet")) != before)
    val df = Tables.t(spark, dir.toString, "t")
    assert(df.columns.toSeq == Seq("x", "y", "z"))
    assert(df.count() == 50)
  }

  test("two reads of one table carry disjoint attribute IDs; the self-join is exact") {
    val a = Tables.nation(spark, sf001)
    val b = Tables.nation(spark, sf001)
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty, "two reads share attribute IDs")
    // sessions set failAmbiguousSelfJoin=false: shared IDs would make the
    // condition a tautology (25 × 25 rows) instead of failing
    def pairs(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
      x.join(y, x("n_regionkey") === y("n_regionkey"))
        .select(x("n_nationkey"), y("n_nationkey")).collect()
        .map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    val uncached = pairs(spark.read.parquet(s"$sf001/nation.parquet"),
      spark.read.parquet(s"$sf001/nation.parquet"))
    assert(uncached.length == 125)
    assert(pairs(a, b) == uncached)
  }

  test("events' ts stays TimestampType on every read") {
    Seq.fill(2)(Tables.events(spark, sf001)).foreach { ev =>
      assert(ev.schema("ts").dataType == TimestampType)
    }
  }
}
