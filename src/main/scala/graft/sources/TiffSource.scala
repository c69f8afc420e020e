package graft.sources

import java.util.{Map => JMap}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.ingest.GeoTiff
import graft.raster.GridMeta

/** DataSource V2 connector for GeoTIFF raster mosaics —
  * `spark.read.format("graft.sources.TiffSource").load(dir)` — the
  * raster twin of [[LasSource]] over the [[graft.ingest.GeoTiff]] byte
  * codec (the reference opens rasters through rioxarray/GDAL,
  * differencing_functions.py:69–79; here the mosaic IS a table).
  *
  * Table model: one row per VALID pixel (nodata dropped at decode, the
  * engine's pixel-table convention) with
  * `(tile_id, col, row, x, y, value)` — `tile_id` is the file's index
  * in name-sorted order, `col`/`row` are file-local grid indices, and
  * `x`/`y` are WORLD cell centers (`origin + (idx + 0.5) · d`) so a
  * bbox predicate means the same thing across every tile of a mosaic.
  *
  * Scale shape: ONE InputPartition per file — an N-tile mosaic fans out
  * to N independent decoders. Pushdown reaches two levels:
  *  - FILE level: x/y range predicates are tested against the tile's
  *    extent from a HEADER-ONLY parse ([[GeoTiff.meta]]) — a pruned
  *    tile never decompresses a single chunk (on object storage this is
  *    a range-read of the header bytes; the spec asserts pruned tiles
  *    via [[TiffSource.decodedTiles]]);
  *  - PIXEL level: x/y/col/row/value ranges filter inside the emit loop
  *    before row materialization.
  * All pushed filters stay in the residual — pushdown is a work
  * optimization, never a correctness dependency.
  *
  * The write path stages every tile as one complete .tif (float64,
  * Compression=1): cells buffer into a dense grid (`width`/`height`/
  * `nodata`/`originX`/`originY`/`dx`/`dy` write options; absent cells
  * become nodata), encode to a staged tmp, and ATOMICALLY rename into
  * place at task commit — a failed task leaves neither torn tiles nor
  * tmp litter (abort deletes the staging). Filenames carry the write's
  * queryId, so append jobs never clobber earlier jobs' tiles while
  * task retries stay idempotent. With `sortedByOrigin=true` (rows
  * clustered by origin upstream) task memory is ONE open tile no
  * matter how many tiles hash into the task — see [[TiffWriterFactory]].
  */
object TiffSource {
  val Schema: StructType = StructType(Seq(
    StructField("tile_id", IntegerType, nullable = false),
    StructField("col", IntegerType, nullable = false),
    StructField("row", IntegerType, nullable = false),
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  /** Tiles whose PIXELS were actually decoded in this JVM — the
    * test-observable proof that header-extent pruning skips decode
    * work (reset in specs; nothing in production reads it). */
  val decodedTiles = new AtomicLong(0L)

  /** Per-file LOD selection cache: (path, mtime, size, resolution) →
    * chosen level. A mosaic read visits each file once per query, but a
    * multi-query session (or a re-planned AQE stage) re-walks the same
    * headers — the walk is header-only yet still O(levels) byte-parses
    * per file. Keyed on mtime+size so a rewritten tile re-selects.
    * Entries are a few dozen bytes; the cap only guards a pathological
    * many-files session (clearing merely re-derives on demand). */
  private[sources] val levelCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long, Double), Integer]()
  private[sources] val LevelCacheCap = 65536

  /** LOD header walks actually performed (cache misses) — test-observable
    * twin of [[decodedTiles]] for the level-selection cache. */
  val levelWalks = new AtomicLong(0L)

  private[graft] final case class Pushed(
      xMin: Double, xMax: Double, yMin: Double, yMax: Double,
      vMin: Double, vMax: Double,
      colMin: Int, colMax: Int, rowMin: Int, rowMax: Int) {
    def passX(v: Double): Boolean = v >= xMin && v <= xMax
    def passY(v: Double): Boolean = v >= yMin && v <= yMax
    def passV(v: Double): Boolean = v >= vMin && v <= vMax
    def passCol(v: Int): Boolean = v >= colMin && v <= colMax
    def passRow(v: Int): Boolean = v >= rowMin && v <= rowMax
    /** Can any cell center of a `meta`-shaped tile pass the x/y and
      * col/row ranges? dy may be negative (north-up rasters), so the
      * extent takes min/max of the first and last cell centers. */
    def intersects(meta: GridMeta): Boolean = {
      val x0 = meta.originX + 0.5 * meta.dx
      val x1 = meta.originX + (meta.width - 0.5) * meta.dx
      val y0 = meta.originY + 0.5 * meta.dy
      val y1 = meta.originY + (meta.height - 0.5) * meta.dy
      math.max(math.min(x0, x1), xMin) <= math.min(math.max(x0, x1), xMax) &&
      math.max(math.min(y0, y1), yMin) <= math.min(math.max(y0, y1), yMax) &&
      math.max(0, colMin) <= math.min(meta.width - 1, colMax) &&
      math.max(0, rowMin) <= math.min(meta.height - 1, rowMax)
    }
  }

  private[graft] val NoFilter = Pushed(
    Double.NegativeInfinity, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.PositiveInfinity,
    Int.MinValue, Int.MaxValue, Int.MinValue, Int.MaxValue)

  /** Range filters on x/y/value (double) and col/row (int) compile into
    * the decode loop; strict inequalities widen to inclusive bounds —
    * legal because every pushed filter stays in the residual. */
  private[sources] def compile(filters: Array[Filter]): (Pushed, Array[Filter]) = {
    var p = NoFilter
    val accepted = scala.collection.mutable.ArrayBuffer.empty[Filter]
    def num(v: Any): Option[Double] = v match {
      case d: Double => Some(d)
      case f: Float => Some(f.toDouble)
      case i: Int => Some(i.toDouble)
      case l: Long => Some(l.toDouble)
      case _ => None
    }
    def range(c: String, lo: Double, hi: Double): Boolean = c match {
      case "x" => p = p.copy(xMin = math.max(p.xMin, lo), xMax = math.min(p.xMax, hi)); true
      case "y" => p = p.copy(yMin = math.max(p.yMin, lo), yMax = math.min(p.yMax, hi)); true
      case "value" => p = p.copy(vMin = math.max(p.vMin, lo), vMax = math.min(p.vMax, hi)); true
      case "col" =>
        p = p.copy(colMin = math.max(p.colMin, math.ceil(lo).toInt),
          colMax = math.min(p.colMax, math.floor(hi).toInt)); true
      case "row" =>
        p = p.copy(rowMin = math.max(p.rowMin, math.ceil(lo).toInt),
          rowMax = math.min(p.rowMax, math.floor(hi).toInt)); true
      case _ => false
    }
    filters.foreach {
      case f @ GreaterThan(c, v) if num(v).exists(d => range(c, d, Double.PositiveInfinity)) =>
        accepted += f
      case f @ GreaterThanOrEqual(c, v) if num(v).exists(d => range(c, d, Double.PositiveInfinity)) =>
        accepted += f
      case f @ LessThan(c, v) if num(v).exists(d => range(c, Double.NegativeInfinity, d)) =>
        accepted += f
      case f @ LessThanOrEqual(c, v) if num(v).exists(d => range(c, Double.NegativeInfinity, d)) =>
        accepted += f
      case _ => ()
    }
    (p, accepted.toArray)
  }
}

class TiffSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TiffSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new TiffTable(properties.get("path"))
}

private[sources] class TiffTable(path: String)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"tiff($path)"
  override def schema(): StructType = TiffSource.Schema
  // ACCEPT_ANY_SCHEMA: the WRITE schema (col, row, value) is narrower
  // than the read schema (tile_id/x/y are derived at read); the
  // WriteBuilder validates it explicitly instead of Spark's by-name
  // output resolution against the read schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.MICRO_BATCH_READ,
      TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // `level=k` reads a FIXED overview level; `resolution=R` picks, PER
    // FILE, the coarsest level whose pixel size still satisfies R (the
    // LOD lever: a coarse query reads the 1/16-resolution IFD, and a
    // mixed mosaic where some tiles lack pyramids degrades per tile,
    // not per query). Mutually exclusive — a fixed level contradicts
    // per-file selection.
    val level = Option(options.get("level")).map(_.toInt)
    val resolution = Option(options.get("resolution")).map(_.toDouble)
    require(level.isEmpty || resolution.isEmpty,
      "tiff read options `level` and `resolution` are mutually exclusive")
    resolution.foreach(r => require(r > 0, s"resolution must be > 0, got $r"))
    new TiffScanBuilder(Option(path).getOrElse(options.get("path")),
      level.getOrElse(0), resolution.getOrElse(Double.NaN))
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val p = Option(path).getOrElse(info.options.get("path"))
    require(p != null, "tiff sink needs a save path")
    // two write shapes: (col, row, value) places every tile at the
    // option origin; (col, row, value, origin_x, origin_y) is the
    // DISTRIBUTED MOSAIC form — each task stamps its own world
    // placement (constant within the partition), so `repartition(tile)`
    // writes N independently-placed tiles in one job
    val names = info.schema().fieldNames.toSeq
    require(names == Seq("col", "row", "value") ||
      names == Seq("col", "row", "value", "origin_x", "origin_y"),
      s"tiff sink needs columns col, row, value[, origin_x, origin_y], got ${names.mkString(", ")}")
    val opts = info.options
    def d(k: String, dflt: Double) =
      Option(opts.get(k)).map(_.toDouble).getOrElse(dflt)
    val meta = GridMeta(
      originX = d("originX", 0.0), originY = d("originY", 0.0),
      dx = d("dx", 1.0), dy = d("dy", 1.0),
      width = Option(opts.get("width")).map(_.toInt).getOrElse(
        throw new IllegalArgumentException("tiff sink needs a width option")),
      height = Option(opts.get("height")).map(_.toInt).getOrElse(
        throw new IllegalArgumentException("tiff sink needs a height option")),
      nodata = d("nodata", -9999.0))
    val perTileOrigin = names.length == 5
    // Job-unique filename token (the write's queryId): a second
    // mode("append") job into the same mosaic directory gets fresh
    // part names instead of silently clobbering an earlier job's
    // tiles, while task RETRIES within one job keep the same name and
    // stay idempotent via REPLACE_EXISTING.
    val token = Option(info.queryId()).getOrElse("")
      .replaceAll("[^0-9a-zA-Z]", "").takeRight(12)
    val sortedByOrigin =
      Option(opts.get("sortedByOrigin")).exists(_.toBoolean)
    // bound on the unsorted fallback's per-task open grids: each open
    // tile is a dense width×height Double grid, so an unbounded
    // LinkedHashMap OOMs silently when a wide mosaic hashes many
    // origins into one task — fail LOUDLY at the bound instead and
    // point at the fix (sortedByOrigin, the one-open-tile mode)
    val maxOpenTiles =
      Option(opts.get("maxOpenTiles")).map(_.toInt).getOrElse(64)
    require(maxOpenTiles >= 1, "maxOpenTiles must be >= 1")
    // chunk compression + layout: `compression` = none|lzw|deflate
    // (GDAL COMPRESS=LZW/DEFLATE, differencing_functions.py:696–705),
    // `blockSize` switches strips → square TIFF tiles of that size,
    // `overviews` = comma-separated downsample factors ("2,4") for a
    // COPY_SRC_OVERVIEWS-style IFD pyramid in every written tile
    val compression =
      Option(opts.get("compression")).getOrElse("none").toLowerCase
    require(Set("none", "lzw", "deflate").contains(compression),
      s"unsupported tiff compression '$compression' (none|lzw|deflate)")
    val blockSize = Option(opts.get("blockSize")).map(_.toInt).getOrElse(0)
    require(blockSize == 0 || (blockSize > 0 && blockSize % 16 == 0),
      s"tiff blockSize must be 0 (strips) or a positive multiple of 16, got $blockSize")
    val overviews: Seq[Int] =
      Option(opts.get("overviews")).map(_.split(",").toSeq.map(_.trim.toInt))
        .getOrElse(Nil)
    require(overviews.forall(_ > 1) && overviews == overviews.sorted &&
      overviews.distinct == overviews,
      s"tiff overviews must be distinct ascending factors > 1, got '${opts.get("overviews")}'")
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new TiffBatchWrite(p, meta, perTileOrigin, token, sortedByOrigin,
            compression, blockSize, overviews, maxOpenTiles)
      }
    }
  }
}

private[sources] class TiffBatchWrite(path: String, meta: GridMeta,
    perTileOrigin: Boolean, token: String, sortedByOrigin: Boolean,
    compression: String, blockSize: Int, overviews: Seq[Int],
    maxOpenTiles: Int)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    new java.io.File(path).mkdirs()
    new TiffWriterFactory(path, meta, perTileOrigin, token, sortedByOrigin,
      compression, blockSize, overviews, maxOpenTiles)
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  /** Job-level rollback: delete every file this JOB wrote — both staged
    * tmps from un-aborted tasks and tiles already COMMITTED by tasks
    * that finished before the job failed. Filenames carry the
    * job-unique `token`, so a retry job's (fresh-token) files and any
    * pre-existing mosaic content are untouchable by construction; a
    * re-run then recreates the deleted tiles idempotently. Without
    * this, a job failing between task commits left a PARTIAL mosaic in
    * the destination (consistent-on-retry, but litter if never
    * retried). */
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new java.io.File(path)
    val prefix = s"part_${token}_"
    val mine = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter { f =>
        val n = f.getName
        n.startsWith(prefix) || (n.startsWith("." + prefix) && n.endsWith(".tmp"))
      }
    mine.foreach(f => java.nio.file.Files.deleteIfExists(f.toPath))
  }
}

/** Mosaic tile writer. Two memory regimes:
  *  - `sortedByOrigin=true` (the 100-TB convention —
  *    `repartition(origin).sortWithinPartitions(origin)` upstream):
  *    rows arrive clustered by origin, so the task holds ONE open
  *    dense grid and flushes it to a staged tmp file the moment the
  *    origin changes — task memory is one tile regardless of how many
  *    tiles hash into the task (the dynamic-partition-writer shape).
  *    An origin revisited after its flush fails loudly: silent
  *    nodata-merging would mask the broken clustering contract.
  *  - default (unsorted fallback): one dense grid PER ORIGIN seen by
  *    the task (`repartition(key)` HASH-partitions, so distinct tiles
  *    legitimately collide); task memory = tiles-this-task × tile
  *    size, acceptable at probe scale but NOT the shape to run at
  *    fan-out — bounded by `maxOpenTiles` (default 64): the 65th open
  *    grid fails the task loudly with the sortedByOrigin pointer
  *    instead of letting a wide mosaic OOM the executor silently.
  * Either way every tile is staged as `.…tmp` during the task and only
  * renamed (atomic, REPLACE_EXISTING for retry idempotence) at task
  * commit — `abort()` deletes the staged tmps, so a failed task leaves
  * neither torn tiles nor litter. */
private[sources] class TiffWriterFactory(path: String, meta: GridMeta,
    perTileOrigin: Boolean, token: String, sortedByOrigin: Boolean,
    compression: String, blockSize: Int, overviews: Seq[Int],
    maxOpenTiles: Int)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      import java.nio.file.{Files, Path, StandardCopyOption}
      private val block: Option[(Int, Int)] =
        if (blockSize > 0) Some((blockSize, blockSize)) else None
      private def encodeTile(m: GridMeta, rows: Array[Array[Double]]): Array[Byte] =
        if (overviews.nonEmpty) {
          val (tag, codec) = compression match {
            case "lzw" => (5, graft.ingest.Lzw.encode _)
            case "deflate" => (8, graft.ingest.Zlib.deflate _)
            case _ => (1, identity[Array[Byte]] _)
          }
          GeoTiff.encodeOverviews(m, rows, 64, block, overviews, tag, codec)
        } else compression match {
          case "lzw" => GeoTiff.encodeLzw(m, rows, 64, block)
          case "deflate" => GeoTiff.encodeDeflate(m, rows, 64, block)
          case _ => GeoTiff.encode(m, rows, 64, block)
        }
      private val tiles =
        scala.collection.mutable.LinkedHashMap.empty[(Double, Double), Array[Array[Double]]]
      private var curKey: (Double, Double) = null
      private var curGrid: Array[Array[Double]] = null
      private val flushedKeys = scala.collection.mutable.HashSet.empty[(Double, Double)]
      private val staged = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)]
      private var k = 0
      private def newGrid(): Array[Array[Double]] =
        Array.fill(meta.height)(Array.fill(meta.width)(meta.nodata))
      /** Encode one tile into a staged tmp; the final rename happens at
        * task commit. Deletes its own tmp if the encode throws. */
      private def stage(ox: Double, oy: Double, rows: Array[Array[Double]]): Unit = {
        val tmp = new java.io.File(path,
          f".part_${token}_$partitionId%05d_$k%04d.tif.$taskId%d.tmp").toPath
        val fin = new java.io.File(path,
          f"part_${token}_$partitionId%05d_$k%04d.tif").toPath
        try Files.write(tmp,
          encodeTile(meta.copy(originX = ox, originY = oy), rows))
        catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
        staged += ((tmp, fin))
        k += 1
      }
      override def write(r: InternalRow): Unit = {
        val c = r.getInt(0); val rr = r.getInt(1)
        require(c >= 0 && c < meta.width && rr >= 0 && rr < meta.height,
          s"cell ($c, $rr) outside the ${meta.width}x${meta.height} tile")
        val key =
          if (perTileOrigin) (r.getDouble(3), r.getDouble(4))
          else (meta.originX, meta.originY)
        if (sortedByOrigin) {
          if (curKey == null || key != curKey) {
            if (curKey != null) {
              stage(curKey._1, curKey._2, curGrid)
              flushedKeys += curKey
            }
            require(!flushedKeys.contains(key),
              s"origin $key revisited after its tile was flushed — " +
                "sortedByOrigin requires rows clustered by origin " +
                "(repartition + sortWithinPartitions on origin_x, origin_y)")
            curKey = key
            curGrid = newGrid()
          }
          curGrid(rr)(c) = r.getDouble(2)
        } else {
          if (!tiles.contains(key))
            require(tiles.size < maxOpenTiles,
              s"task holds $maxOpenTiles open ${meta.width}x${meta.height} " +
                "tile grids and a new origin arrived — the unsorted mosaic " +
                "path buffers one dense grid per origin per task and would " +
                "exhaust executor memory. Cluster rows by tile (repartition " +
                "+ sortWithinPartitions on origin_x, origin_y) and set " +
                "sortedByOrigin=true (one open tile per task), or raise " +
                "maxOpenTiles explicitly if the memory budget allows.")
          tiles.getOrElseUpdate(key, newGrid())(rr)(c) = r.getDouble(2)
        }
      }
      override def commit(): WriterCommitMessage = {
        if (curKey != null) { stage(curKey._1, curKey._2, curGrid); curKey = null; curGrid = null }
        tiles.foreach { case ((ox, oy), rows) => stage(ox, oy, rows) }
        tiles.clear()
        staged.foreach { case (tmp, fin) =>
          Files.move(tmp, fin,
            StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        }
        staged.clear()
        new WriterCommitMessage {}
      }
      override def abort(): Unit = {
        staged.foreach { case (tmp, _) => Files.deleteIfExists(tmp) }
        staged.clear()
      }
      override def close(): Unit = ()
    }
}

private[sources] class TiffScanBuilder(path: String, level: Int,
    resolution: Double)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = TiffSource.Schema
  private var pushed: Array[Filter] = Array.empty
  private var compiled: TiffSource.Pushed = TiffSource.NoFilter
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (p, accepted) = TiffSource.compile(filters)
    compiled = p
    pushed = accepted
    // every filter stays in the residual: the connector's evaluation is
    // a decode-work optimization, Spark remains the source of truth
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan =
    new TiffScan(path, required, compiled, level, resolution)
}

private[sources] class TiffScan(path: String, required: StructType,
    pushed: TiffSource.Pushed, level: Int, resolution: Double)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"graft tiff mosaic $path"
  override def planInputPartitions(): Array[InputPartition] = {
    val root = new java.io.File(path)
    val files =
      if (root.isFile) Array(root)
      else {
        require(root.isDirectory, s"no such path: $path")
        root.listFiles().filter(_.getName.endsWith(".tif")).sortBy(_.getName)
      }
    require(files.nonEmpty, s"no .tif files under $path")
    files.zipWithIndex.map { case (f, i) =>
      TiffInputPartition(f.getAbsolutePath, i): InputPartition
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new TiffReaderFactory(required.fieldNames, pushed, level, resolution)
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new TiffMicroBatchStream(path, required.fieldNames, pushed, level,
      resolution)
}

/** Streaming half over a GROWING directory of .tif tile deliveries —
  * the [[LasMicroBatchStream]] discipline verbatim: name-sorted count
  * offset carrying the LAST PROCESSED FILENAME, so a rename/delete of
  * an already-processed tile fails loudly instead of silently
  * reprocessing (append-only staged-delivery convention). Reuses
  * [[LasOffset]] — the offset semantics are format-agnostic. */
private[graft] class TiffMicroBatchStream(path: String, fields: Array[String],
    pushed: TiffSource.Pushed, level: Int, resolution: Double)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset
  private def files: Array[String] = {
    val root = new java.io.File(path)
    if (root.isFile) Array(root.getAbsolutePath)
    else if (!root.isDirectory) Array.empty
    else root.listFiles().filter(_.getName.endsWith(".tif"))
      .map(_.getAbsolutePath).sorted
  }
  private def lastName(fs: Array[String], n: Int): String =
    if (n <= 0 || n > fs.length) "" else new java.io.File(fs(n - 1)).getName
  override def initialOffset(): Offset = LasOffset(0, "")
  override def latestOffset(): Offset = {
    val fs = files
    LasOffset(fs.length, lastName(fs, fs.length))
  }
  override def deserializeOffset(json: String): Offset = LasOffset.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val fs = files
    val so = start.asInstanceOf[LasOffset]
    val s = so.n
    val e = math.min(end.asInstanceOf[LasOffset].n, fs.length)
    if (so.last.nonEmpty && s >= 1) {
      val now = lastName(fs, math.min(s, fs.length))
      require(s <= fs.length && now == so.last,
        s"TIFF stream directory mutated under the append-only convention: " +
          s"offset $s expected last processed file '${so.last}' but " +
          s"directory now has '${if (s > fs.length) "<missing>" else now}'")
    }
    fs.slice(s, e).zipWithIndex.map { case (f, i) =>
      TiffInputPartition(f, s + i): InputPartition
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new TiffReaderFactory(fields, pushed, level, resolution)
}

private[sources] case class TiffInputPartition(file: String, tileId: Int)
    extends InputPartition

private[sources] class TiffReaderFactory(fields: Array[String],
    pushed: TiffSource.Pushed, level: Int, resolution: Double)
    extends PartitionReaderFactory {

  /** The coarsest overview level of THIS file whose pixel size still
    * satisfies the requested resolution (|dx| and |dy| ≤ R), walking
    * header-only metas up the IFD chain. ALL levels (≤ 64, the same
    * hostile-chain bound as GeoTiff.levelCount) are scanned and the one
    * with the largest satisfying pixel size wins — a legal
    * NON-monotone pyramid (levels not sorted coarse-to-fine) still
    * selects the cheapest admissible read, where a first-failure walk
    * would stop early at a finer level. Level 0 is always admissible:
    * when the request is finer than the base resolution the file can do
    * no better than full res. Selection is per file (a mixed mosaic —
    * some tiles pyramided, some not — degrades tile-by-tile) and cached
    * per (file, mtime, size, resolution) so repeat queries over the
    * same mosaic skip the header re-walk.
    *
    * CACHE-KEY INVARIANT: `resolution` is the ONLY read option that
    * influences level choice today (`level` and `resolution` are
    * mutually exclusive — TiffScanBuilder rejects both, spec-asserted —
    * and an explicit `level` bypasses this method entirely). Any future
    * read option that affects which level is admissible MUST be added
    * to the key, or repeat reads serve a stale level. Known accepted
    * staleness: a file rewritten IN PLACE within mtime granularity with
    * the same byte length serves the old level — mosaic tiles are
    * written once via the staged-atomic protocol (new names per job),
    * so in-place rewrites don't occur on the supported write path. */
  private def selectLevel(file: String, bytes: Array[Byte]): Int = {
    if (resolution.isNaN) level
    else {
      val f = new java.io.File(file)
      val key = (file, f.lastModified(), bytes.length.toLong, resolution)
      val cached = TiffSource.levelCache.get(key)
      if (cached != null) cached.intValue()
      else {
        TiffSource.levelWalks.incrementAndGet()
        val m0 = GeoTiff.meta(bytes)
        var best = 0
        var bestPx = math.max(math.abs(m0.dx), math.abs(m0.dy))
        var k = 1
        var done = false
        while (!done && k <= 64) {
          val m =
            try Some(GeoTiff.metaLevel(bytes, k))
            catch { case e: IllegalArgumentException
              if Option(e.getMessage).exists(_.contains("no overview level")) => None }
          m match {
            case Some(mk) =>
              val px = math.max(math.abs(mk.dx), math.abs(mk.dy))
              if (math.abs(mk.dx) <= resolution &&
                  math.abs(mk.dy) <= resolution && px > bestPx) {
                best = k; bestPx = px
              }
              k += 1
            case None => done = true
          }
        }
        // at the cap, evict ONE arbitrary entry instead of clearing the
        // whole map — a clear() forced every concurrently-open file into
        // a thundering header re-walk
        if (TiffSource.levelCache.size() >= TiffSource.LevelCacheCap) {
          val it = TiffSource.levelCache.keySet().iterator()
          if (it.hasNext) { it.next(); it.remove() }
        }
        TiffSource.levelCache.put(key, Integer.valueOf(best))
        best
      }
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[TiffInputPartition]
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p.file))
    // header-only parse FIRST: a tile whose extent misses the pushed
    // bbox is pruned without decompressing any pixel chunk
    val meta = GeoTiff.meta(bytes)
    if (!pushed.intersects(meta)) {
      new PartitionReader[InternalRow] {
        override def next(): Boolean = false
        override def get(): InternalRow =
          throw new IllegalStateException("empty pruned tile")
        override def close(): Unit = ()
      }
    } else {
      TiffSource.decodedTiles.incrementAndGet()
      // level-0 extent pruning above stays valid for any level: every
      // IFD of a pyramid covers the same world extent
      val lvl = selectLevel(p.file, bytes)
      val (m, rows) =
        if (lvl == 0) GeoTiff.decode(bytes)
        else GeoTiff.decodeLevel(bytes, lvl)
      new PartitionReader[InternalRow] {
        private var r = 0
        private var c = -1
        private var cx, cy, cv = 0.0
        // column ordinals resolved ONCE: the emit loop fills a reused
        // GenericInternalRow through an int switch instead of a
        // per-row IndexedSeq allocation + per-field string matches
        // (Spark copies the row into its unsafe projection, so reuse
        // is safe — the standard DSv2 row-reader shape)
        private val codes: Array[Int] = fields.map {
          case "tile_id" => 0
          case "col" => 1
          case "row" => 2
          case "x" => 3
          case "y" => 4
          case "value" => 5
        }
        private val row =
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(codes.length)
        override def next(): Boolean = {
          while (r < m.height) {
            c += 1
            if (c >= m.width) { c = 0; r += 1 }
            if (r < m.height) {
              val v = rows(r)(c)
              if (v != m.nodata && pushed.passV(v) &&
                pushed.passCol(c) && pushed.passRow(r)) {
                cx = m.originX + (c + 0.5) * m.dx
                cy = m.originY + (r + 0.5) * m.dy
                if (pushed.passX(cx) && pushed.passY(cy)) { cv = v; return true }
              }
            }
          }
          false
        }
        override def get(): InternalRow = {
          var i = 0
          while (i < codes.length) {
            codes(i) match {
              case 0 => row.setInt(i, p.tileId)
              case 1 => row.setInt(i, c)
              case 2 => row.setInt(i, r)
              case 3 => row.setDouble(i, cx)
              case 4 => row.setDouble(i, cy)
              case 5 => row.setDouble(i, cv)
            }
            i += 1
          }
          row
        }
        override def close(): Unit = ()
      }
    }
  }
}
