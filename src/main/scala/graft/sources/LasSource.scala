package graft.sources

import java.util.{Map => JMap}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 connector for LAS/LAZ point clouds —
  * `spark.read.format("graft.sources.LasSource").load(dir)` — the
  * idiomatic Spark front door for the byte codecs in [[graft.ingest.Las]]
  * / [[graft.ingest.Laz]] / [[graft.ingest.Laz14]] (the reference's PDAL
  * `readers.las`, differencing_functions.py:782–786, re-expressed as a
  * connector instead of a pipeline stage).
  *
  * Scale shape: ONE InputPartition per file, so a 100-TB delivery of N
  * files fans out to N independent readers with no driver-side byte
  * handling. Version × compression dispatch per FILE from the header
  * bytes: LAS 1.2/1.3 fmt 0/1, LAS 1.4 fmt 6, LAZ (POINT10+GPSTIME11),
  * and native LAZ (POINT14 layered) all read as one table.
  *
  * Pushdown reaches the DECODE LOOP, not just the materialized rows:
  *  - Column pruning ([[SupportsPushDownRequiredColumns]]): for raw LAS
  *    the reader only reads the required byte offsets per record; for
  *    layered LAZ14 it maps the projection onto the codec's layer mask,
  *    so pruned layers' bytes are never even arithmetic-decoded.
  *  - Filter pushdown ([[SupportsPushDownFilters]]): classification
  *    equality/IN and x/y/z range predicates (the reference's hottest
  *    scan predicates — ground-class selection and bbox crop, SURVEY
  *    §2.2) evaluate inside the decode loop; for a class-only filter on
  *    raw LAS the classification byte is read FIRST and failing records
  *    skip their coordinate reads entirely. All pushed filters are also
  *    left in the residual, so Spark re-applies them — pushdown is a
  *    work optimization, never a correctness dependency.
  *
  * The write path streams: rows append straight to a temp file through
  * [[graft.ingest.Las.StreamWriter12]]/[[Las.StreamWriter14]] (O(1)
  * task memory, header back-patched at the end) and the temp file
  * ATOMICALLY renames into place at commit, deleting on abort — a
  * failed or speculatively-retried task can never leave a torn
  * `part_*.las`.
  */
object LasSource {
  val Schema: StructType = StructType(Seq(
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false),
    StructField("z", DoubleType, nullable = false),
    StructField("classification", IntegerType, nullable = false),
    StructField("gps_time", DoubleType, nullable = false)))

  /** Total points fully materialized by readers in this JVM — a
    * test-observable measure that pushdown skips decode work (reset in
    * specs; no production behavior depends on it). Readers count into a
    * plain local and flush here once in close(), so the hot decode loop
    * never touches a shared cache line. */
  val decodedPoints = new AtomicLong(0L)

  /** Compiled pushed-down predicate: classification membership + per-axis
    * closed-open bounds, evaluated inside the decode loop. */
  private[graft] final case class Pushed(
      cls: Option[Set[Int]],
      xMin: Double, xMax: Double,
      yMin: Double, yMax: Double,
      zMin: Double, zMax: Double,
      tMin: Double, tMax: Double) {
    def needsCoords: Boolean =
      xMin > Double.NegativeInfinity || xMax < Double.PositiveInfinity ||
      yMin > Double.NegativeInfinity || yMax < Double.PositiveInfinity
    def passCls(c: Int): Boolean = cls.forall(_.contains(c))
    def passX(v: Double): Boolean = v >= xMin && v <= xMax
    def passY(v: Double): Boolean = v >= yMin && v <= yMax
    def passZ(v: Double): Boolean = v >= zMin && v <= zMax
    def passT(v: Double): Boolean = v >= tMin && v <= tMax
    def filtersZ: Boolean = zMin > Double.NegativeInfinity || zMax < Double.PositiveInfinity
    def filtersT: Boolean = tMin > Double.NegativeInfinity || tMax < Double.PositiveInfinity
  }

  private[graft] val NoFilter = Pushed(None,
    Double.NegativeInfinity, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.PositiveInfinity)

  /** Which source Filters this connector can evaluate in the decode
    * loop. Strict inequalities are widened to inclusive bounds — legal
    * because every pushed filter stays in the residual. */
  private[sources] def compile(filters: Array[Filter]): (Pushed, Array[Filter]) = {
    var p = NoFilter
    val accepted = scala.collection.mutable.ArrayBuffer.empty[Filter]
    def range(col: String, lo: Double, hi: Double): Boolean = col match {
      case "x" => p = p.copy(xMin = math.max(p.xMin, lo), xMax = math.min(p.xMax, hi)); true
      case "y" => p = p.copy(yMin = math.max(p.yMin, lo), yMax = math.min(p.yMax, hi)); true
      case "z" => p = p.copy(zMin = math.max(p.zMin, lo), zMax = math.min(p.zMax, hi)); true
      case "gps_time" => p = p.copy(tMin = math.max(p.tMin, lo), tMax = math.min(p.tMax, hi)); true
      case _ => false
    }
    def num(v: Any): Option[Double] = v match {
      case d: Double => Some(d)
      case f: Float => Some(f.toDouble)
      case i: Int => Some(i.toDouble)
      case l: Long => Some(l.toDouble)
      case _ => None
    }
    filters.foreach {
      case f @ EqualTo("classification", v: Int) =>
        p = p.copy(cls = Some(p.cls.getOrElse(Set(v)).intersect(Set(v))))
        accepted += f
      case f @ In("classification", vs) if vs.forall(_.isInstanceOf[Int]) =>
        val s = vs.map(_.asInstanceOf[Int]).toSet
        p = p.copy(cls = Some(p.cls.map(_.intersect(s)).getOrElse(s)))
        accepted += f
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

class LasSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LasSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new LasTable(properties.get("path"))
}

private[sources] class LasTable(path: String)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"las($path)"
  override def schema(): StructType = LasSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LasScanBuilder(Option(path).getOrElse(options.get("path")))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val p = Option(path).getOrElse(info.options.get("path"))
    require(p != null, "las sink needs a save path")
    require(info.schema().fieldNames.toSeq == LasSource.Schema.fieldNames.toSeq,
      s"las sink needs columns ${LasSource.Schema.fieldNames.mkString(", ")}, " +
        s"got ${info.schema().fieldNames.mkString(", ")}")
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new LasBatchWrite(p)
      }
    }
  }
}

/** Per-partition .las files — the write twin of the one-partition-per-
  * file read: each executor task STREAMS its rows into one complete
  * container (even task ids as LAS 1.2 fmt 1, odd as LAS 1.4 fmt 6, so
  * a written directory exercises both vintages deterministically),
  * appending records as they arrive and back-patching the header at
  * commit — O(1) memory regardless of partition size. */
private[sources] class LasBatchWrite(path: String) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    new java.io.File(path).mkdirs()
    new LasWriterFactory(path)
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private[sources] class LasWriterFactory(path: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}
      private val tmp = new java.io.File(path,
        f".part_$partitionId%05d.las.$taskId%d.tmp").toPath
      private val ch = Files.newByteChannel(tmp,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE,
        StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.READ)
      private val w12 =
        if (partitionId % 2 == 0) new graft.ingest.Las.StreamWriter12(ch) else null
      private val w14 =
        if (partitionId % 2 == 0) null else new graft.ingest.Las.StreamWriter14(ch)
      override def write(r: InternalRow): Unit = {
        if (w12 != null)
          w12.add(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getInt(3),
            r.getDouble(4))
        else
          w14.add(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getInt(3),
            r.getDouble(4))
      }
      override def commit(): WriterCommitMessage = {
        if (w12 != null) w12.finish() else w14.finish()
        ch.close()
        Files.move(tmp,
          new java.io.File(path, f"part_$partitionId%05d.las").toPath,
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        new WriterCommitMessage {}
      }
      override def abort(): Unit = { ch.close(); Files.deleteIfExists(tmp) }
      override def close(): Unit = ()
    }
}

private[sources] class LasScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = LasSource.Schema
  private var pushed: Array[Filter] = Array.empty
  private var compiled: LasSource.Pushed = LasSource.NoFilter
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (p, accepted) = LasSource.compile(filters)
    compiled = p
    pushed = accepted
    // every filter stays in the residual: the connector's evaluation is
    // a decode-work optimization, Spark remains the source of truth
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = new LasScan(path, required, compiled)
}

private[sources] class LasScan(path: String, required: StructType,
    pushed: LasSource.Pushed) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"las($path) PushedLasFilters: cls=${pushed.cls.getOrElse("*")}"
  override def planInputPartitions(): Array[InputPartition] = {
    require(path != null, "las source needs a load path")
    val root = new java.io.File(path)
    val files =
      if (root.isFile) Array(root)
      else {
        require(root.isDirectory, s"no such path: $path")
        root.listFiles().filter(f => f.getName.endsWith(".las") ||
          f.getName.endsWith(".laz")).sortBy(_.getName)
      }
    require(files.nonEmpty, s"no .las/.laz files under $path")
    files.map(f => LasInputPartition(f.getAbsolutePath): InputPartition)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new LasReaderFactory(required.fieldNames, pushed)
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new LasMicroBatchStream(path, required.fieldNames, pushed)
}

/** Streaming half of the connector: `spark.readStream.format(...)` over
  * a GROWING directory of .las/.laz deliveries. The offset is the count
  * of name-sorted files already processed, so each micro-batch plans one
  * InputPartition per NEW file — the Structured Streaming twin of the
  * batch fan-out. Files are assumed to arrive with lexicographically
  * increasing names (the staged-delivery convention; `part_00001.las` …),
  * exactly like the built-in FileStreamSource's archive pattern. */
private[graft] class LasMicroBatchStream(path: String, fields: Array[String],
    pushed: LasSource.Pushed)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset
  private def files: Array[String] = {
    val root = new java.io.File(path)
    if (root.isFile) Array(root.getAbsolutePath)
    else if (!root.isDirectory) Array.empty
    else root.listFiles().filter(f => f.getName.endsWith(".las") ||
        f.getName.endsWith(".laz"))
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
    // append-only guard: the recovered offset carries the NAME of the
    // last file counted, so a rename/delete of an already-processed
    // delivery fails loudly here instead of silently reprocessing or
    // skipping (the name-sorted count alone cannot tell the difference)
    if (so.last.nonEmpty && s >= 1) {
      val now = lastName(fs, math.min(s, fs.length))
      require(s <= fs.length && now == so.last,
        s"LAS stream directory mutated under the append-only convention: " +
          s"offset $s expected last processed file '${so.last}' but " +
          s"directory now has '${if (s > fs.length) "<missing>" else now}'")
    }
    fs.slice(s, e).map(f => LasInputPartition(f): InputPartition)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new LasReaderFactory(fields, pushed)
}

private[graft] case class LasOffset(n: Int, last: String)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    s"""{"n":$n,"last":"${LasOffset.esc(last)}"}"""
}

private[graft] object LasOffset {
  private[sources] def esc(s: String): String =
    s.flatMap { case '\\' => "\\\\"; case '"' => "\\\""; case c => c.toString }
  /** Accepts both the current `{"n":N,"last":"..."}` form and the legacy
    * bare-count form (checkpoints written before the filename guard). */
  def parse(json: String): LasOffset = {
    val t = json.trim
    if (t.nonEmpty && t.length <= 9 && t.forall(_.isDigit)) LasOffset(t.toInt, "")
    else {
      val m = """\{"n":(\d{1,9}),"last":"(.*)"\}""".r
      t match {
        case m(n, raw) =>
          val un = raw.replace("\\\"", "\"").replace("\\\\", "\\")
          LasOffset(n.toInt, un)
        case _ => throw new IllegalArgumentException(s"malformed las offset '$json'")
      }
    }
  }
}

private[sources] case class LasInputPartition(file: String) extends InputPartition

/** One reader per file. Raw LAS containers decode record-at-a-time
  * straight out of the mapped byte array — only the REQUIRED byte
  * offsets are read, the classification byte is tested before any
  * coordinate read when a class filter is pushed, and nothing is
  * buffered beyond the current row. Compressed containers decode
  * through their chunk codecs (LAZ14 with the pruned layer mask) and
  * filter per point before materialization. */
private[sources] class LasReaderFactory(fields: Array[String],
    pushed: LasSource.Pushed) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[LasInputPartition].file
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file))
    // version x compression dispatch; the codecs' header checks reject
    // what they cannot read, and the file's name is added to the fault
    val v14 = graft.ingest.LasContainer.isV14(bytes)
    try {
      if (graft.ingest.LasContainer.isCompressed(bytes)) compressedReader(bytes, v14)
      else rawReader(bytes, graft.ingest.LasContainer.raw(bytes, v14))
    } catch {
      case e: IllegalArgumentException =>
        throw new IllegalArgumentException(s"$file: ${e.getMessage}", e)
    }
  }

  private val needX = fields.contains("x") || pushed.xMin > Double.NegativeInfinity ||
    pushed.xMax < Double.PositiveInfinity
  private val needY = fields.contains("y") || pushed.yMin > Double.NegativeInfinity ||
    pushed.yMax < Double.PositiveInfinity
  private val needZ = fields.contains("z") || pushed.filtersZ
  private val needCls = fields.contains("classification") || pushed.cls.isDefined
  private val needT = fields.contains("gps_time") || pushed.filtersT

  // column ordinals resolved ONCE per factory: both reader paths fill a
  // reused GenericInternalRow through an int switch instead of a
  // per-row IndexedSeq allocation + per-field string matches (Spark
  // copies the row into its unsafe projection, so reuse is safe)
  private val fieldCodes: Array[Int] = fields.map {
    case "x" => 0
    case "y" => 1
    case "z" => 2
    case "classification" => 3
    case "gps_time" => 4
  }

  /** Raw LAS 1.2 fmt 0/1 or 1.4 fmt 6: per-record offset reads. */
  private def rawReader(bytes: Array[Byte], h: graft.ingest.LasContainer.Header)
      : PartitionReader[InternalRow] = {
    val b = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val n = h.n; val dataOff = h.dataOff; val recLen = h.recLen
    val sx = h.sx; val sy = h.sy; val sz = h.sz
    val ox = h.ox; val oy = h.oy; val oz = h.oz
    val clsOff = h.clsAt
    val hasT = h.fmt != 0
    val tOff = h.timeAt
    new PartitionReader[InternalRow] {
      private var i = -1
      private var cx, cy, cz, ct = 0.0
      private var ccls = 0
      private var decoded = 0L
      override def next(): Boolean = {
        while ({ i += 1; i < n }) {
          val p = dataOff + i.toLong * recLen
          val pi = p.toInt
          // classification first: a failing class skips every other read
          if (needCls) {
            ccls = bytes(pi + clsOff) & 0xff
            if (!pushed.passCls(ccls)) { /* skip */ }
            else if (readCoords(pi)) return true
          } else if (readCoords(pi)) return true
        }
        false
      }
      private def readCoords(pi: Int): Boolean = {
        if (needX) { cx = b.getInt(pi) * sx + ox; if (!pushed.passX(cx)) return false }
        if (needY) { cy = b.getInt(pi + 4) * sy + oy; if (!pushed.passY(cy)) return false }
        if (needZ) { cz = b.getInt(pi + 8) * sz + oz; if (!pushed.passZ(cz)) return false }
        if (needT) { ct = if (hasT) b.getDouble(pi + tOff) else 0.0
          if (!pushed.passT(ct)) return false }
        decoded += 1
        true
      }
      private val row =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(fieldCodes.length)
      override def get(): InternalRow = {
        var j = 0
        while (j < fieldCodes.length) {
          fieldCodes(j) match {
            case 0 => row.setDouble(j, cx)
            case 1 => row.setDouble(j, cy)
            case 2 => row.setDouble(j, cz)
            case 3 => row.setInt(j, ccls)
            case 4 => row.setDouble(j, ct)
          }
          j += 1
        }
        row
      }
      override def close(): Unit = LasSource.decodedPoints.addAndGet(decoded)
    }
  }

  /** LAZ containers: POINT10/GPSTIME11 (1.2) or POINT14 layered (1.4,
    * with the projection mapped onto the codec's layer mask). */
  private def compressedReader(bytes: Array[Byte], v14: Boolean)
      : PartitionReader[InternalRow] = {
    val pts: Array[(Double, Double, Double, Int, Double)] =
      if (v14) {
        var mask = 0
        if (needZ) mask |= graft.ingest.Laz14.NeedZ
        if (needCls) mask |= graft.ingest.Laz14.NeedClass
        if (needT) mask |= graft.ingest.Laz14.NeedGps
        val l = graft.ingest.Laz14.layout(bytes)
        (0 until l.numChunks).iterator.flatMap(c =>
          graft.ingest.Laz14.decodeChunk(bytes, l, c, mask))
          .map(p => (p.x, p.y, p.z, p.classification, p.gpsTime)).toArray
      } else graft.ingest.Laz.decodeTimed(bytes)
    new PartitionReader[InternalRow] {
      private var i = -1
      private var decoded = 0L
      override def next(): Boolean = {
        while ({ i += 1; i < pts.length }) {
          val p = pts(i)
          if (pushed.passCls(p._4) && pushed.passX(p._1) && pushed.passY(p._2) &&
            pushed.passZ(p._3) && pushed.passT(p._5)) {
            decoded += 1
            return true
          }
        }
        false
      }
      private val row =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(fieldCodes.length)
      override def get(): InternalRow = {
        val p = pts(i)
        var j = 0
        while (j < fieldCodes.length) {
          fieldCodes(j) match {
            case 0 => row.setDouble(j, p._1)
            case 1 => row.setDouble(j, p._2)
            case 2 => row.setDouble(j, p._3)
            case 3 => row.setInt(j, p._4)
            case 4 => row.setDouble(j, p._5)
          }
          j += 1
        }
        row
      }
      override def close(): Unit = LasSource.decodedPoints.addAndGet(decoded)
    }
  }
}
