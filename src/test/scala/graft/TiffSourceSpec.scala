package graft

import org.apache.spark.sql.functions._
import graft.ingest.GeoTiff
import graft.raster.GridMeta

class TiffSourceSpec extends SparkSuite {
  import spark.implicits._

  /** Two 8x6 tiles side by side in world space: tile a at origin (0, 0),
    * tile b at (100, 0) — distinct extents so bbox pruning is testable. */
  private def stage(): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("tiff_dsv2_spec").toFile
    def tile(name: String, ox: Double, bias: Double): Unit = {
      val m = GridMeta(originX = ox, originY = 0.0, dx = 1.0, dy = 1.0,
        width = 8, height = 6, nodata = -9999.0)
      val rows = Array.tabulate(6, 8)((r, c) =>
        if (r == 2 && c == 3) -9999.0 else bias + r * 8 + c)
      java.nio.file.Files.write(new java.io.File(dir, name).toPath,
        GeoTiff.encode(m, rows))
    }
    tile("a.tif", 0.0, 0.0)
    tile("b.tif", 100.0, 1000.0)
    dir
  }

  test("mosaic reads as one table; nodata dropped; world coordinates per tile") {
    val dir = stage()
    val df = spark.read.format("graft.sources.TiffSource")
      .load(dir.getAbsolutePath)
    assert(df.schema.fieldNames.toSeq ==
      Seq("tile_id", "col", "row", "x", "y", "value"))
    val rows = df.collect()
    assert(rows.length == 2 * (48 - 1), "one nodata cell dropped per tile")
    // world x offsets by tile origin: tile 1 (b.tif) starts at x = 100.5
    val xs = rows.filter(_.getAs[Int]("tile_id") == 1).map(_.getAs[Double]("x"))
    assert(xs.min == 100.5 && xs.max == 107.5)
    // values round-trip bit-exactly (f64 TIFF)
    val v = rows.filter(r => r.getAs[Int]("tile_id") == 0 &&
      r.getAs[Int]("col") == 7 && r.getAs[Int]("row") == 5)
    assert(v.head.getAs[Double]("value") == 47.0)
  }

  test("bbox pushdown prunes whole tiles from the HEADER (no pixel decode)") {
    val dir = stage()
    def q() = spark.read.format("graft.sources.TiffSource")
      .load(dir.getAbsolutePath)
      .filter(col("x") >= 100.0 && col("x") <= 110.0)
    graft.sources.TiffSource.decodedTiles.set(0L)
    val n = q().count()
    assert(n == 47, s"expected tile b's 47 valid cells, got $n")
    assert(graft.sources.TiffSource.decodedTiles.get() == 1L,
      "tile a must be pruned from its header extent, not decoded")
    // and the residual keeps correctness even where nothing prunes
    graft.sources.TiffSource.decodedTiles.set(0L)
    val all = spark.read.format("graft.sources.TiffSource")
      .load(dir.getAbsolutePath).count()
    assert(all == 94 && graft.sources.TiffSource.decodedTiles.get() == 2L)
  }

  test("value/col/row pushdown filters inside the decode loop") {
    val dir = stage()
    val df = spark.read.format("graft.sources.TiffSource")
      .load(dir.getAbsolutePath)
      .filter(col("value") >= 1000.0 && col("col") < 2 && col("row") === 0)
    val got = df.select("value").collect().map(_.getDouble(0)).sorted
    assert(got.toSeq == Seq(1000.0, 1001.0))
  }

  test("write connector stages one tile per partition and round-trips") {
    val dir = java.nio.file.Files.createTempDirectory("tiff_dsv2_w").toFile
    val px = (for (r <- 0 until 5; c <- 0 until 7 if (r + c) % 9 != 0)
      yield (c, r, (r * 7 + c) / 4.0)).toDF("col", "row", "value")
    px.coalesce(1).write.format("graft.sources.TiffSource")
      .option("width", "7").option("height", "5")
      .option("originX", "50.0").option("nodata", "-1.0")
      .mode("append").save(dir.getAbsolutePath)
    val back = spark.read.format("graft.sources.TiffSource")
      .load(dir.getAbsolutePath)
    val got = back.select("col", "row", "value").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).sorted.toSeq
    val exp = (for (r <- 0 until 5; c <- 0 until 7 if (r + c) % 9 != 0)
      yield (c, r, (r * 7 + c) / 4.0)).sorted
    assert(got == exp)
    // a cell outside the declared tile rejects at write time
    intercept[Exception] {
      Seq((9, 0, 1.0)).toDF("col", "row", "value")
        .coalesce(1).write.format("graft.sources.TiffSource")
        .option("width", "7").option("height", "5")
        .mode("append").save(dir.getAbsolutePath)
    }
  }

  test("column pruning reaches the scan") {
    val dir = stage()
    val df = spark.read.format("graft.sources.TiffSource")
      .load(dir.getAbsolutePath).select("value")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<value:double>") ||
      df.schema.fieldNames.toSeq == Seq("value"))
    assert(df.agg(sum("value")).head().getDouble(0) > 0)
  }

  test("distributed mosaic write: per-tile origins via (col,row,value,origin_x,origin_y)") {
    val dir = java.nio.file.Files.createTempDirectory("tiff_dsv2_mosaic").toFile
    // two 4x3 tiles of one world mosaic, repartitioned by tile
    val cells = (for {
      t <- 0 until 2; r <- 0 until 3; c <- 0 until 4
    } yield (c, r, (t * 100 + r * 4 + c).toDouble, t * 4.0, 0.0))
      .toDF("col", "row", "value", "origin_x", "origin_y")
    cells.repartition(2, col("origin_x"))
      .write.format("graft.sources.TiffSource")
      .option("width", "4").option("height", "3")
      .mode("append").save(dir.getAbsolutePath)
    val back = spark.read.format("graft.sources.TiffSource")
      .load(dir.getAbsolutePath)
    assert(back.count() == 24)
    // world x is continuous across the mosaic: tile 0 covers [0.5, 3.5],
    // tile 1 [4.5, 7.5]
    val xs = back.select("x").collect().map(_.getDouble(0)).distinct.sorted
    assert(xs.toSeq == (0 until 8).map(_ + 0.5))
    // values land in the right world cells
    val at65 = back.filter(col("x") === 6.5 && col("y") === 1.5)
      .select("value").head().getDouble(0)
    assert(at65 == 106.0, s"got $at65")
    // multiple origins inside ONE partition still write one atomic file
    // per tile — hash repartitioning legitimately collides tiles into a
    // task (the dynamic-partition-write shape)
    val dir2 = java.nio.file.Files.createTempDirectory("tiff_dsv2_mosaic1").toFile
    cells.coalesce(1).write.format("graft.sources.TiffSource")
      .option("width", "4").option("height", "3")
      .mode("append").save(dir2.getAbsolutePath)
    val files2 = dir2.listFiles().count(_.getName.endsWith(".tif"))
    assert(files2 == 2, s"expected one file per tile from one task, got $files2")
    val back2 = spark.read.format("graft.sources.TiffSource")
      .load(dir2.getAbsolutePath)
    assert(back2.count() == 24)
    assert(back2.select("x").collect().map(_.getDouble(0)).distinct.sorted.toSeq ==
      (0 until 8).map(_ + 0.5))
  }

  test("sortedByOrigin: origin-clustered rows flush one tile at a time") {
    val dir = java.nio.file.Files.createTempDirectory("tiff_dsv2_sorted").toFile
    val cells = (for {
      t <- 0 until 3; r <- 0 until 3; c <- 0 until 4
    } yield (c, r, (t * 100 + r * 4 + c).toDouble, t * 4.0, 0.0))
      .toDF("col", "row", "value", "origin_x", "origin_y")
    // the 100-TB convention: cells clustered by origin inside the task
    cells.coalesce(1)
      .sortWithinPartitions("origin_x", "origin_y")
      .write.format("graft.sources.TiffSource")
      .option("width", "4").option("height", "3")
      .option("sortedByOrigin", "true")
      .mode("append").save(dir.getAbsolutePath)
    val files = dir.listFiles().count(_.getName.endsWith(".tif"))
    assert(files == 3, s"expected one flushed file per origin, got $files")
    val back = spark.read.format("graft.sources.TiffSource")
      .load(dir.getAbsolutePath)
    assert(back.count() == 36)
    assert(back.select("x").collect().map(_.getDouble(0)).distinct.sorted.toSeq ==
      (0 until 12).map(_ + 0.5))
    val at95 = back.filter(col("x") === 9.5 && col("y") === 2.5)
      .select("value").head().getDouble(0)
    assert(at95 == 209.0, s"got $at95")
  }

  test("sortedByOrigin: an origin revisited after flush fails loudly and aborts cleanly") {
    val dir = java.nio.file.Files.createTempDirectory("tiff_dsv2_revisit").toFile
    // origin A, then B, then A again — the broken-clustering shape
    val rows = Seq(
      (0, 0, 1.0, 0.0, 0.0), (1, 0, 2.0, 0.0, 0.0),
      (0, 0, 3.0, 4.0, 0.0),
      (2, 0, 4.0, 0.0, 0.0))
      .toDF("col", "row", "value", "origin_x", "origin_y")
    val e = intercept[Exception] {
      rows.coalesce(1).write.format("graft.sources.TiffSource")
        .option("width", "4").option("height", "1")
        .option("sortedByOrigin", "true")
        .mode("append").save(dir.getAbsolutePath)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("revisited")),
      s"expected the clustering-contract message, got: ${messages(e)}")
    // the aborted task left neither committed tiles nor staged tmps
    val leftover = dir.listFiles().map(_.getName).toSeq
    assert(leftover.isEmpty, s"aborted write left $leftover")
  }

  test("append jobs get job-unique filenames: no cross-job tile clobber") {
    val dir = java.nio.file.Files.createTempDirectory("tiff_dsv2_append").toFile
    def job(bias: Double): Unit =
      (for (c <- 0 until 3) yield (c, 0, bias + c))
        .toDF("col", "row", "value")
        .coalesce(1).write.format("graft.sources.TiffSource")
        .option("width", "3").option("height", "1")
        .mode("append").save(dir.getAbsolutePath)
    job(10.0)
    job(20.0)
    val files = dir.listFiles().count(_.getName.endsWith(".tif"))
    assert(files == 2, s"second append job must not clobber the first, got $files files")
    val vals = spark.read.format("graft.sources.TiffSource")
      .load(dir.getAbsolutePath)
      .select("value").collect().map(_.getDouble(0)).sorted.toSeq
    assert(vals == Seq(10.0, 11.0, 12.0, 20.0, 21.0, 22.0))
  }

  test("unsorted fallback fails loudly at maxOpenTiles instead of buffering unbounded grids") {
    val dir = java.nio.file.Files.createTempDirectory("tiff_dsv2_maxopen").toFile
    // five origins landing in ONE task with a bound of four: the fifth
    // open grid must fail the write with the sortedByOrigin pointer,
    // not buffer toward executor OOM
    val cells = (for { t <- 0 until 5; c <- 0 until 2 }
      yield (c, 0, t * 10.0 + c, t * 2.0, 0.0))
      .toDF("col", "row", "value", "origin_x", "origin_y")
    val e = intercept[Exception] {
      cells.coalesce(1).write.format("graft.sources.TiffSource")
        .option("width", "2").option("height", "1")
        .option("maxOpenTiles", "4")
        .mode("append").save(dir.getAbsolutePath)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("sortedByOrigin")),
      s"expected the open-tile-bound message, got: ${messages(e)}")
    assert(dir.listFiles().isEmpty, "failed write must leave no files")
    // at the bound (4 origins, maxOpenTiles=4) the same shape succeeds
    val dir2 = java.nio.file.Files.createTempDirectory("tiff_dsv2_maxopen2").toFile
    cells.filter(col("origin_x") < 8.0)
      .coalesce(1).write.format("graft.sources.TiffSource")
      .option("width", "2").option("height", "1")
      .option("maxOpenTiles", "4")
      .mode("append").save(dir2.getAbsolutePath)
    assert(dir2.listFiles().count(_.getName.endsWith(".tif")) == 4)
  }

  test("job-level abort rolls back tiles already COMMITTED by earlier tasks") {
    val dir = java.nio.file.Files.createTempDirectory("tiff_dsv2_jobabort").toFile
    val dirPath = dir.getAbsolutePath
    // two tasks: the good tile's task commits immediately; the bad task
    // WAITS until the good task's committed .tif is visible in the
    // destination (explicit synchronization — a fixed sleep raced on
    // loaded machines), then hits the cell-bounds require — the JOB
    // fails after a PARTIAL commit, and TiffBatchWrite.abort must
    // delete the committed tile
    val slowBad = Seq(
      (0, 0, 1.0, 0.0, 0.0), (1, 0, 2.0, 0.0, 0.0), // good tile, origin 0
      (9, 0, 3.0, 4.0, 0.0))                        // col 9 > width: fails
      .toDS()
      .repartition(2, col("_4"))
      .mapPartitions { it =>
        val rows = it.toVector
        if (rows.exists(_._1 > 3)) {
          def committed(): Boolean =
            Option(new java.io.File(dirPath).listFiles())
              .getOrElse(Array.empty[java.io.File])
              .exists(_.getName.endsWith(".tif"))
          val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
          while (!committed() && System.nanoTime() < deadline)
            Thread.sleep(25)
        }
        rows.iterator
      }
      .toDF("col", "row", "value", "origin_x", "origin_y")
    val e = intercept[Exception] {
      slowBad.write.format("graft.sources.TiffSource")
        .option("width", "4").option("height", "1")
        .mode("append").save(dir.getAbsolutePath)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("outside")),
      s"expected the cell-bounds message, got: ${messages(e)}")
    val leftover = dir.listFiles().map(_.getName).toSeq
    assert(leftover.isEmpty,
      s"job abort must delete the partially-committed mosaic, left $leftover")
  }

  test("LZW z-ordered mosaic: bbox read decodes only the intersecting tiles") {
    val dir = java.nio.file.Files.createTempDirectory("tiff_dsv2_zlzw").toFile
    // 4x4 tiles of 8x8 cells, written LZW with z-order clustering
    val T = 8
    val cells = (for {
      tr <- 0 until 4; tc <- 0 until 4; r <- 0 until T; c <- 0 until T
    } yield (c, r, (tr * 1000 + tc * 100 + r * T + c).toDouble,
      tc * T.toDouble, tr * T.toDouble))
      .toDF("col", "row", "value", "origin_x", "origin_y")
    val z = graft.raster.Layout.zOrder(
      (col("origin_x") / T).cast("long"), (col("origin_y") / T).cast("long"))
    cells.repartition(2, col("origin_x"), col("origin_y"))
      .sortWithinPartitions(z)
      .write.format("graft.sources.TiffSource")
      .option("width", T.toString).option("height", T.toString)
      .option("compression", "lzw").option("blockSize", "16")
      .option("sortedByOrigin", "true")
      .mode("append").save(dir.getAbsolutePath)
    assert(dir.listFiles().count(_.getName.endsWith(".tif")) == 16)
    // bbox over the middle 2x2 tile square: 4 of 16 tiles decode
    graft.sources.TiffSource.decodedTiles.set(0L)
    val got = spark.read.format("graft.sources.TiffSource")
      .load(dir.getAbsolutePath)
      .filter(col("x") > 8.0 && col("x") < 24.0 &&
        col("y") > 8.0 && col("y") < 24.0)
      .count()
    assert(got == 16L * 16L, s"expected the 16x16 bbox cells, got $got")
    assert(graft.sources.TiffSource.decodedTiles.get() == 4L,
      "header-extent pruning must decode only the 4 intersecting tiles")
  }

  test("bad blockSize and overviews fail on the driver, naming the option") {
    val px = Seq((0, 0, 1.0), (1, 1, 2.0)).toDF("col", "row", "value")
    for ((k, v) <- Seq("blockSize" -> "-16", "blockSize" -> "20",
                       "overviews" -> "4,2", "overviews" -> "1")) {
      val dir = java.nio.file.Files.createTempDirectory("tiff_dsv2_opts").toFile
      val e = intercept[IllegalArgumentException] {
        px.coalesce(1).write.format("graft.sources.TiffSource")
          .option("width", "4").option("height", "4").option(k, v)
          .mode("append").save(dir.getAbsolutePath)
      }
      assert(e.getMessage.contains(k), s"$k=$v: ${e.getMessage}")
      val written = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      assert(written.isEmpty, s"$k=$v wrote ${written.map(_.getName).toSeq}")
    }
  }

  test("overview pyramid round-trips through the connector level option") {
    val dir = java.nio.file.Files.createTempDirectory("tiff_dsv2_ovr").toFile
    // 8x8 tile of exact binary fractions -> exact block means
    val px = (for (r <- 0 until 8; c <- 0 until 8)
      yield (c, r, (r * 8 + c) / 4.0)).toDF("col", "row", "value")
    px.coalesce(1).write.format("graft.sources.TiffSource")
      .option("width", "8").option("height", "8")
      .option("overviews", "2,4")
      .mode("append").save(dir.getAbsolutePath)
    def lv(l: Int) = spark.read.format("graft.sources.TiffSource")
      .option("level", l.toString).load(dir.getAbsolutePath)
    assert(lv(0).count() == 64 && lv(1).count() == 16 && lv(2).count() == 4)
    // level-1 cell (0,0) = mean of the full-res 2x2 block {0, .25, 2, 2.25}/4
    val v1 = lv(1).filter(col("col") === 0 && col("row") === 0)
      .select("value").head().getDouble(0)
    assert(v1 == (0.0 + 0.25 + 2.0 + 2.25) / 4, s"got $v1")
    // overview world coordinates scale with the level's cell size
    val x1 = lv(1).select("x").collect().map(_.getDouble(0)).distinct.sorted
    assert(x1.toSeq == Seq(1.0, 3.0, 5.0, 7.0))
    // level past the chain rejects loudly
    intercept[Exception](lv(3).collect())
  }

  test("resolution option picks the coarsest satisfying level, per file") {
    val dir = java.nio.file.Files.createTempDirectory("tiff_dsv2_lod").toFile
    // pyramided 8x8 tile at origin 0 + UNPYRAMIDED 8x8 tile at origin 100:
    // a mixed mosaic must degrade per FILE, not per query
    val px = (for (r <- 0 until 8; c <- 0 until 8)
      yield (c, r, (r * 8 + c) / 4.0)).toDF("col", "row", "value")
    px.coalesce(1).write.format("graft.sources.TiffSource")
      .option("width", "8").option("height", "8")
      .option("overviews", "2,4")
      .mode("append").save(dir.getAbsolutePath)
    val m = GridMeta(originX = 100.0, width = 8, height = 8, nodata = -9999.0)
    java.nio.file.Files.write(new java.io.File(dir, "z_flat.tif").toPath,
      GeoTiff.encode(m, Array.tabulate(8, 8)((r, c) => (r * 8 + c) / 4.0)))
    def rd(res: Double) = spark.read.format("graft.sources.TiffSource")
      .option("resolution", res.toString).load(dir.getAbsolutePath)
    // R=4.5: pyramided tile reads its 4x page (4 cells), flat tile has
    // only base resolution and contributes all 64
    assert(rd(4.5).groupBy("tile_id").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap == Map(0 -> 4L, 1 -> 64L))
    // R=2.5: coarsest satisfying page is the 2x one
    assert(rd(2.5).filter(col("tile_id") === 0).count() == 16)
    // R finer than base degrades to level 0 everywhere
    assert(rd(0.5).count() == 128)
    // fixed level and resolution contradict each other
    intercept[Exception](spark.read.format("graft.sources.TiffSource")
      .option("level", "1").option("resolution", "2.0")
      .load(dir.getAbsolutePath).collect())
    // header pruning composes with LOD: a bbox over the pyramided tile
    // only decodes that tile, at its selected page
    graft.sources.TiffSource.decodedTiles.set(0L)
    assert(rd(4.5).filter(col("x") < 50.0).count() == 4)
    assert(graft.sources.TiffSource.decodedTiles.get() == 1L)
    // level selection is CACHED per (file, mtime, size, resolution): a
    // repeat query over the same mosaic re-walks zero headers
    graft.sources.TiffSource.levelWalks.set(0L)
    assert(rd(4.5).count() == 68)
    val coldWalks = graft.sources.TiffSource.levelWalks.get()
    assert(coldWalks <= 2, s"first read walks each file at most once, got $coldWalks")
    graft.sources.TiffSource.levelWalks.set(0L)
    assert(rd(4.5).count() == 68)
    assert(graft.sources.TiffSource.levelWalks.get() == 0L,
      "repeat read must hit the level cache")
  }

  test("streaming read picks up new .tif tile deliveries per micro-batch") {
    val dir = java.nio.file.Files.createTempDirectory("tiff_dsv2_s").toFile
    def deliver(name: String, ox: Double, v: Double): Unit = {
      val m = GridMeta(originX = ox, width = 2, height = 1, nodata = -9999.0)
      java.nio.file.Files.write(new java.io.File(dir, name).toPath,
        GeoTiff.encode(m, Array(Array(v, v + 1))))
    }
    deliver("t_0001.tif", 0.0, 10.0)
    val q = spark.readStream.format("graft.sources.TiffSource")
      .load(dir.getAbsolutePath)
      .writeStream.outputMode("append")
      .format("memory").queryName("tiff_stream_test").start()
    try {
      q.processAllAvailable()
      assert(spark.table("tiff_stream_test").count() == 2)
      deliver("t_0002.tif", 100.0, 20.0)
      q.processAllAvailable()
      val vals = spark.table("tiff_stream_test").collect()
        .map(_.getAs[Double]("value")).sorted.toSeq
      assert(vals == Seq(10.0, 11.0, 20.0, 21.0))
    } finally q.stop()
  }

  test("junk bytes and empty dirs reject loudly") {
    val empty = java.nio.file.Files.createTempDirectory("tiff_dsv2_e").toFile
    intercept[Exception] {
      spark.read.format("graft.sources.TiffSource")
        .load(empty.getAbsolutePath).collect()
    }
    val junk = java.nio.file.Files.createTempDirectory("tiff_dsv2_j").toFile
    java.nio.file.Files.write(new java.io.File(junk, "x.tif").toPath,
      "II but not a tiff".getBytes)
    intercept[Exception] {
      spark.read.format("graft.sources.TiffSource")
        .load(junk.getAbsolutePath).collect()
    }
  }
}
