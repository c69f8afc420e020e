package graft

import org.apache.spark.sql.functions._
import graft.raster.{Layout, PixelGrid, ZOrder}

/** Proves the ARCHITECTURE.md layout claim at the plan level: bucketed
  * pixel tables make the differencing join shuffle-free. */
class LayoutSpec extends SparkSuite {

  test("bucketed rasters difference without a shuffle exchange") {
    val a = PixelGrid.grid(spark, sf001, 0)
    val b = PixelGrid.grid(spark, sf001, 1)
    // unbucketed: the join must exchange both sides
    val plain = PixelGrid.difference(a, b)
    assert(Layout.hasShuffle(plain), "expected shuffle on unbucketed join")

    // clean any stale table locations from previous JVMs (fresh in-memory
    // catalog + surviving warehouse dir → LOCATION_ALREADY_EXISTS)
    Seq("px_a_test", "px_b_test").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    Layout.saveBucketed(a, "px_a_test")
    Layout.saveBucketed(b, "px_b_test")
    val ab = Layout.load(spark, "px_a_test")
    val bb = Layout.load(spark, "px_b_test")
    val bucketed = PixelGrid.difference(ab, bb)
    assert(!Layout.hasShuffle(bucketed),
      s"bucketed join still shuffles:\n${bucketed.queryExecution.executedPlan}")
    // and the results agree
    assert(bucketed.count() == plain.count())
    val s1 = plain.agg(sum(abs(col("dz")))).head().getDouble(0)
    val s2 = bucketed.agg(sum(abs(col("dz")))).head().getDouble(0)
    assert(math.abs(s1 - s2) < 1e-6)
  }

  test("sorted write: partition dirs, in-file sort order, file size cap") {
    val out = java.nio.file.Files.createTempDirectory("layout_sorted").toString
    val ev = spark.read.parquet(s"$sf001/events.parquet")
      .select(col("event_type"), col("event_id"), col("user_id"))
    Layout.saveSorted(ev, out, "event_type", Seq("event_id"), 100L)
    // partition pruning layout: one directory per event_type value
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("event_type=")).sorted
    assert(dirs.length == 5, dirs.mkString(","))
    // file cap: no parquet file holds more than maxRecordsPerFile rows;
    // in-file order: event_id is non-decreasing within every file
    val withFile = spark.read.parquet(out)
      .select(col("event_id"), input_file_name().as("f"))
      .collect().map(r => (r.getString(1), r.getLong(0)))
    val byFile = withFile.groupBy(_._1)
    assert(byFile.size >= 10, s"expected ≥2 capped files per partition, got ${byFile.size}")
    for ((f, rows) <- byFile) {
      assert(rows.length <= 100, s"$f has ${rows.length} rows > cap")
      val ids = rows.map(_._2) // parquet preserves write order within a file
      assert(ids.sameElements(ids.sorted), s"$f not sorted by event_id")
    }
    // nothing lost
    assert(withFile.length == ev.count())
  }

  test("zOrder column matches the reference Morton interleave") {
    import spark.implicits._
    val pairs = (0 until 2000).map { i =>
      val k = graft.rng.Rand.mixLong(i.toLong, 909)
      ((k % 100000).toInt, ((k / 100000) % 100000).toInt)
    }
    val got = pairs.toDF("col", "row")
      .select(col("col"), col("row"),
        Layout.zOrder(col("col"), col("row")).as("z"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    pairs.foreach { case (c, r) =>
      assert(got((c, r)) == Layout.zOrderRef(c, r), s"($c, $r)") }
    // z-order property: interleave is monotone in each key holding the
    // other fixed (locality requires order preservation per axis)
    assert(Layout.zOrderRef(5, 9) < Layout.zOrderRef(6, 9))
    assert(Layout.zOrderRef(5, 9) < Layout.zOrderRef(5, 10))
  }

  test("ZOrder: interpreted eval equals codegen and the Column formula") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.LongType
    import spark.implicits._
    // the Column-arithmetic spelling the native node replaced
    def columnZ(c: Column, r: Column): Column = {
      def spread(v: Column): Column =
        Seq((16, 0x0000FFFF0000FFFFL), (8, 0x00FF00FF00FF00FFL),
            (4, 0x0F0F0F0F0F0F0F0FL), (2, 0x3333333333333333L),
            (1, 0x5555555555555555L))
          .foldLeft(v.cast("long").bitwiseAND(lit(0xFFFFFFFFL))) {
            case (x, (sh, mask)) =>
              x.bitwiseOR(shiftleft(x, sh)).bitwiseAND(lit(mask))
          }
      spread(c).bitwiseOR(shiftleft(spread(r), 1))
    }
    val keys = Seq(0L, 1L, 5L, 9L, 65535L, 65536L, Int.MaxValue.toLong,
      0xFFFFFFFFL, (1L << 40) + 7, -1L, -123456L)
    val pairs = for (c <- keys; r <- keys) yield (c, r)
    val e = ZOrder(BoundReference(0, LongType, nullable = true),
      BoundReference(1, LongType, nullable = true))
    val gen = GenerateUnsafeProjection.generate(Seq(e))
    pairs.foreach { case (c, r) =>
      val want = Layout.zOrderRef(c.toInt, r.toInt)
      assert(e.eval(InternalRow(c, r)) == want, s"eval ($c, $r)")
      assert(gen(InternalRow(c, r)).getLong(0) == want, s"codegen ($c, $r)")
    }
    assert(e.eval(InternalRow(null, 3L)) == null)
    assert(gen(InternalRow(3L, null)).isNullAt(0))
    val mismatches = pairs.toDF("c", "r")
      .filter(Layout.zOrder(col("c"), col("r")) =!= columnZ(col("c"), col("r")))
      .count()
    assert(mismatches == 0)
  }

  test("z-ordered layout prunes a bbox on BOTH axes; row-major stripes cannot") {
    import spark.implicits._
    val W = 128
    val px = (0 until W * W).map(i => (i % W, i / W, (i * 31 % 97).toDouble))
      .toDF("col", "row", "value")
    val zDir = java.nio.file.Files.createTempDirectory("layout_z").toString
    val sDir = java.nio.file.Files.createTempDirectory("layout_s").toString
    Layout.saveZOrdered(px, zDir, nFiles = 16)
    // row-major comparison layout: same file count, sorted by (row, col)
    px.repartitionByRange(16, col("row"), col("col"))
      .sortWithinPartitions(col("row"), col("col"))
      .write.mode("overwrite").parquet(sDir)
    // per-file extents, as min-max stats pruning would see them
    def extents(dir: String): Array[(Int, Int, Int, Int)] =
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map { f =>
          val r = spark.read.parquet(f.getAbsolutePath)
            .agg(min("col"), max("col"), min("row"), max("row")).head()
          (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
        }
    // a column-strip bbox: col ∈ [32, 48), ALL rows — the axis a
    // row-major sort cannot prune
    def hits(es: Array[(Int, Int, Int, Int)]): Int =
      es.count { case (c0, c1, r0, r1) =>
        c1 >= 32 && c0 < 48 && r1 >= 0 && r0 < W }
    val (zf, sf) = (extents(zDir), extents(sDir))
    assert(zf.length == 16 && sf.length == 16)
    val (zHits, sHits) = (hits(zf), hits(sf))
    // every row-major stripe spans the full col range → all 16 intersect;
    // z-order files are compact squares → at most half intersect
    assert(sHits == 16, s"row-major layout pruned unexpectedly: $sHits")
    assert(zHits <= 8, s"z-order should prune the col strip, hit $zHits/16")
    // both layouts return identical query results
    def q(dir: String) = spark.read.parquet(dir)
      .filter(col("col") >= 32 && col("col") < 48)
      .agg(sum("value"), count(lit(1))).head()
    assert(q(zDir) == q(sDir))
  }
}
